#!/usr/bin/env python
"""Produce a CORRECTNESS-style JSON report locally: run every registry
query against its DuckDB oracle at the given SF and print one JSON line
per query plus a summary — the repo's reproducible stand-in for the
driver's t2 gate.

Usage: python tools/correctness_report.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_sample_spark.queries import load_registry
from kinesis_sample_spark.session import get_spark, release_checkpoints
from tests.oracle_harness import compare, duck_connection, run_query


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("correctness-report")
    con = duck_connection(sf_dir)
    registry = load_registry()

    results = {}
    for name, q in sorted(registry.items()):
        # Long-lived-session hygiene between queries: SQL cache AND
        # persist/localCheckpoint RDD blocks (clearCache alone leaves the
        # latter pinned; r10's q152 47 s mid-sweep outlier). The shared
        # helper owns the rationale — see session.release_checkpoints.
        release_checkpoints(spark)
        cmp = compare(run_query(q, spark, sf_dir), con, q.oracle)
        results[name] = {
            "rows": cmp.spark_rows,
            "oracle_rows": cmp.oracle_rows,
            "columns_match": cmp.columns_match,
            "hash_match": cmp.hash_match,
            "ok": cmp.ok,
        }
    summary = {
        "sf_dir": sf_dir,
        "total": len(registry),
        "oracle_passed": sum(r["ok"] for r in results.values()),
        "all_ok": all(r["ok"] for r in results.values()),
    }
    print(json.dumps({"summary": summary, "queries": results}, indent=1))


if __name__ == "__main__":
    main()
