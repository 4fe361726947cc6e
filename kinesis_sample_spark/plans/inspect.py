"""Helpers over the formatted physical plan string.

String-matching on ``explain("formatted")`` output is deliberately the
mechanism: it is the same surface a human tunes against, it needs no
private APIs, and it survives Spark upgrades better than JVM-object
spelunking. Each predicate documents the scale property it guards.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


#: one node of the plan tree: optional ``:-``/``+-`` rails, the ``*``
#: whole-stage-codegen mark, the node name, then its ``(id)``. Some nodes
#: append more: AQE stages ``, Statistics(...)``, reused ones ``, Reuses
#: ...``, cached scans `` (columnarIn=..., columnarOut=...)``.
_TREE_NODE = re.compile(r"^[\s:|+-]*(?:\*\s+)?([A-Za-z].*?)\s+\(\d+\)(?:[\s,].*)?$")


def operator_set(plan: str) -> frozenset[str]:
    """Physical operator names in the tree(s) of a formatted plan string.

    Reads the main tree (an AQE plan's Final and Initial sections alike)
    and each subquery tree. Each tree ends at its first blank line, so the
    ``(n) Name`` detail section below it never contributes. Join nodes
    keep their join type (``BroadcastHashJoin LeftSemi``). Names are made
    stable across runs, so that two runs of one query give one set: the
    build side, which AQE picks from runtime statistics, is dropped, as
    are expression ids (``ExistenceJoin(exists#12)``); scans keep only
    ``Scan <format>`` or ``BatchScan <source>``, without table or path.
    """
    ops: set[str] = set()
    in_tree = True
    for line in plan.splitlines():
        if not line.strip():
            in_tree = False
        elif line.startswith("Subquery:"):
            in_tree = True
        elif in_tree and (m := _TREE_NODE.match(line)):
            name = re.sub(r"#\d+| Build(?:Left|Right)$", "", " ".join(m.group(1).split()))
            if name.startswith(("Scan ", "BatchScan ")):
                name = " ".join(name.split()[:2])
            ops.add(name)
    return frozenset(ops)


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters the parquet scan applies row-group-level ("PushedFilters").
    Empty where you expected predicates ⇒ the scan reads everything and
    filters later — a full-corpus read at 100 TB."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """ReadSchema column lists per scan — column pruning check: a scan
    reading 16 columns for a 3-column query ships 5× the bytes."""
    plan = formatted_plan(df)
    cols: list[list[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.append([c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()])
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    """True when at least one join is broadcast (no shuffle of the big
    side). Dimension-table joins must be broadcast at any scale."""
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when the aggregation has a map-side partial phase — the
    difference between shuffling (groups) and shuffling (all rows)."""
    plan = formatted_plan(df)
    return bool(re.search(r"HashAggregate.*\n.*(?:\n.*)*?Exchange", plan)) and (
        "partial_" in plan or "Partial" in plan
    )


def exchange_count(df: DataFrame) -> int:
    """Number of *shuffle* exchanges (broadcast exchanges excluded — they
    move only the small side). Not a target in itself, but a plan that
    doubles its exchanges after a refactor deserves a look.

    Formatted plans print shuffle nodes as ``+- Exchange (n)`` in the tree
    (the partitioning spec only appears in the detail section), so count
    tree nodes, not 'Exchange hashpartitioning' substrings — the latter
    never match and silently report 0."""
    plan = formatted_plan(df)
    return len(re.findall(r"[+:]- Exchange \(", plan))
