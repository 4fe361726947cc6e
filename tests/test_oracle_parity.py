"""Every registered query, run once at sf0.01, passes every per-query gate.

This is a local replica of the driver's t2 correctness gate, plus the
checks that need the same execution. One run of each query
(``oracle_harness.check_query``, shared through the ``registry_check``
fixture) feeds, in order:

1. the plan gate: no ``CartesianProduct`` — the classic accidental
   O(n²). (BroadcastNestedLoop against a broadcast-hinted tiny side is
   acceptable; CartesianProduct is not.)
2. the oracle hash compare against DuckDB;
3. a non-degenerate oracle: a 0-row result passes the hash gate
   trivially (empty == empty), so every oracle must return rows;
4. the persist lifecycle: ``release_checkpoints`` leaves no persistent
   RDD blocks and an empty SQL cache, whatever the query persisted or
   checkpointed — the long-lived-session hygiene call really reclaims
   everything the engine pins.

``tests/test_latency_budget.py`` times the same run against its budget.
"""

from __future__ import annotations

import pytest

from kinesis_sample_spark.queries import load_registry

REGISTRY = load_registry()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_parity(name, registry_check):
    c = registry_check(name)
    assert "CartesianProduct" not in c.plan, f"{name} plans a cartesian product"
    cmp = c.cmp
    assert cmp.ok, (
        f"{name}: rows {cmp.spark_rows} vs {cmp.oracle_rows}, "
        f"cols_match={cmp.columns_match} ({cmp.spark_cols} vs {cmp.oracle_cols}), "
        f"hash_match={cmp.hash_match} {cmp.detail} "
        f"dtype_flags={list(cmp.dtype_flags)}"
    )
    assert cmp.oracle_rows > 0, f"{name}: degenerate 0-row oracle"
    assert not c.leaked, f"blocks survived release_checkpoints: {list(c.leaked)}"
    assert c.cache_empty
