"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). ``tests/test_oracle_parity.py``
runs the same comparison over every registered query.

Implementation lives in ``kinesis_sample_spark/``; this file only adapts
the registry, in registration order, to this ``entry`` /
``queries`` / ``oracle_sql`` contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver may load this file from any cwd — make the package importable
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from kinesis_sample_spark.queries import load_registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _assert_observability_live(spark: SparkSession) -> None:
    """A17 smoke: every ``entry`` call re-proves the observed-metrics
    surface (``df.observe`` partials in the query's per-batch progress,
    summed by ``streaming.observe.observed_totals``) that q186 checks in
    full against its oracle. A tiny 2-file replay with one observed count
    must report totals equal to the fixture's true row count; any break
    in that seam raises here with its own message instead of surfacing
    downstream."""
    import shutil

    from pyspark.sql import functions as F

    from kinesis_sample_spark.catalog import load_table
    from kinesis_sample_spark.scratch import scratch_dir
    from kinesis_sample_spark.sources.files import (
        replay_events_stream,
        write_stream_fixture,
    )
    from kinesis_sample_spark.streaming.observe import observed_totals
    from kinesis_sample_spark.streaming.pipeline import drain_available_now

    base = scratch_dir(prefix="kss_entry_a17_")
    metric = "entry_a17"
    try:
        events_dir = write_stream_fixture(spark, SMOKE_SF_DIR, base, n_files=2)
        expected = load_table(spark, SMOKE_SF_DIR, "events").count()
        q = drain_available_now(
            replay_events_stream(spark, events_dir, files_per_trigger=2)
            .observe(metric, F.count(F.lit(1)).alias("n_records"))
            .writeStream.format("noop"),
            timeout_s=120,
            what="entry A17 smoke: replay",
        )
        # ADVICE r08: exact equality, matching q186's check, not just
        # "enough rows" — a batch counted twice must fail too.
        got = observed_totals(q, metric).get("n_records", 0)
        if got != expected:
            raise RuntimeError(
                f"entry A17 smoke: observed {got} rows, expected exactly "
                f"{expected} — dropped or duplicated observed metrics"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001, after
    an observability smoke (A17) that rides every ``entry`` call.

    ADVICE r08: a smoke failure is an observability-infra problem, not a
    flagship-query problem — re-raise it with an unambiguous prefix so the
    evidence trail never mis-attributes it to q01_pricing_summary."""
    reg = load_registry()
    try:
        _assert_observability_live(spark)
    except Exception as exc:  # noqa: BLE001 — annotate, then propagate
        raise RuntimeError(
            "A17 OBSERVABILITY SMOKE FAILED (infra, not the flagship "
            f"q01_pricing_summary query): {exc}"
        ) from exc
    return reg["q01_pricing_summary"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in load_registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query."""
    return {name: q.oracle for name, q in load_registry().items()}
