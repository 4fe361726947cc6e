#!/usr/bin/env python
"""Fingerprint every registry query and regenerate PLANS.md.

A query's fingerprint is two sets:

- the physical operators of its executed plan, AQE Final and Initial
  sections alike (``plans.inspect.operator_set``);
- the engine functions it calls: every function in ``operators/``,
  ``functions/``, ``sources/`` or ``streaming/`` that runs in this
  process while ``q.fn`` builds the DataFrame, recorded with
  ``sys.setprofile``.

Each query runs once at sf0.01 through ``oracle_harness.run_query``.
Queries with equal fingerprints form one group; groups are numbered in
registration order, the order of ``load_registry()``.
PLANS.md gets one line per query (group, operators, engine calls) and the
full formatted plan of each headline query (``perfbench.headline.QUERIES``).

Usage, from the repo root so that Python workers can import the package:
python tools/dump_plans.py
"""

from __future__ import annotations

import dataclasses
import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kinesis_sample_spark.plans.inspect import operator_set  # noqa: E402
from kinesis_sample_spark.queries import Query, load_registry  # noqa: E402
from kinesis_sample_spark.session import get_spark, release_checkpoints  # noqa: E402
from perfbench.headline import QUERIES as HEADLINE  # noqa: E402
from tests.oracle_harness import run_query  # noqa: E402

SF = "/root/testdata/sf0.01"
OUT = os.path.join(ROOT, "PLANS.md")
PKG = os.path.join(ROOT, "kinesis_sample_spark")
ENGINE_DIRS = tuple(
    os.path.join(PKG, d) + os.sep for d in ("operators", "functions", "sources", "streaming")
)


@dataclasses.dataclass(frozen=True)
class Fingerprint:
    operators: frozenset[str]
    engine_calls: frozenset[str]


def fingerprint(q: Query, spark) -> tuple[Fingerprint, str]:
    """Run ``q`` once; return its fingerprint and its executed plan."""
    calls: set[str] = set()

    def profile(frame, event, _arg):
        code = frame.f_code
        if (
            event == "call"
            and code.co_filename.startswith(ENGINE_DIRS)
            and not code.co_name.startswith("<")  # module bodies, lambdas, comprehensions
        ):
            module = frame.f_globals["__name__"].removeprefix("kinesis_sample_spark.")
            calls.add(f"{module}.{code.co_qualname}")

    def traced(spark, sf_dir):
        sys.setprofile(profile)
        try:
            return q.fn(spark, sf_dir)
        finally:
            sys.setprofile(None)

    try:
        run = run_query(dataclasses.replace(q, fn=traced), spark, SF)
    finally:
        release_checkpoints(spark)
    return Fingerprint(operator_set(run.plan), frozenset(calls)), run.plan


def main() -> None:
    spark = get_spark("plans")
    registry = load_registry()
    prints: dict[str, Fingerprint] = {}
    plans: dict[str, str] = {}
    for name, q in registry.items():
        prints[name], plan = fingerprint(q, spark)
        if name in HEADLINE:
            plans[name] = plan
        print(f"fingerprinted {name}", flush=True)

    groups: dict[Fingerprint, int] = {}
    for fp in prints.values():
        groups.setdefault(fp, len(groups) + 1)
    sizes = Counter(groups[fp] for fp in prints.values())
    summary = (
        f"{len(prints)} queries, {len(groups)} distinct fingerprints "
        f"({len({fp.operators for fp in prints.values()})} distinct operator sets); "
        f"{sum(n > 1 for n in sizes.values())} groups hold more than one query, "
        f"{sum(n - 1 for n in sizes.values())} queries share their group's fingerprint "
        f"with an earlier query"
    )
    lines = [
        "# PLANS — query fingerprints and headline plans (sf0.01)",
        "",
        "Generated by `tools/dump_plans.py`. A fingerprint is the operator set",
        "of the executed plan (AQE final and initial) plus the engine functions",
        "(`operators/`, `functions/`, `sources/`, `streaming/`) the query calls",
        "while it builds its DataFrame. Equal fingerprints share a group,",
        "numbered in registration order.",
        "",
        summary + ".",
        "",
        "| query | group | operators | engine calls |",
        "|---|---|---|---|",
    ]
    for name, fp in prints.items():
        ops = ", ".join(sorted(fp.operators))
        calls = ", ".join(sorted(fp.engine_calls)) or "—"
        lines.append(f"| {name} | {groups[fp]} | {ops} | {calls} |")
    lines += ["", "## Headline plans", ""]
    for name in HEADLINE:
        lines += [f"### {name}", "", "```", plans[name].strip(), "```", ""]
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(summary)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
