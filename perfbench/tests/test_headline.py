"""batch_headline's checks agree with the repository's oracle harness."""

import importlib.util
import os
import sys

from perfbench import headline

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _oracle_harness():
    spec = importlib.util.spec_from_file_location(
        "oracle_harness", os.path.join(ROOT, "tests", "oracle_harness.py")
    )
    module = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("oracle_harness", module)  # its dataclass looks itself up
    spec.loader.exec_module(module)
    return module


def test_value_hash_matches_the_oracle_harness():
    rows = [(1, 2.5, None, "x", True), (1, 2.5, None, "x", True), (2, float("nan"), 3, "y", False)]
    cols = ["b", "a", "c", "e", "d"]
    assert headline.value_hash(rows, cols) == _oracle_harness().value_hash(rows, cols)
    # multiplicity-sensitive and order-insensitive
    assert headline.value_hash(rows[::-1], cols) == headline.value_hash(rows, cols)
    assert headline.value_hash(rows[1:], cols) != headline.value_hash(rows, cols)


def test_pinned_queries_are_registered_with_oracles():
    from kinesis_sample_spark.queries import load_registry

    registry = load_registry()
    assert len(headline.QUERIES) == 10
    assert all(registry[name].oracle for name in headline.QUERIES)


def test_fastest_pass_takes_each_query_at_its_best():
    from perfbench.workload import Pass

    passes = [
        Pass(seconds=6.0, records=7, latencies_ms=[1000.0, 3000.0, 6000.0], units_ms=[1000.0, 2000.0, 3000.0]),
        Pass(seconds=6.0, records=7, latencies_ms=[3000.0, 4000.0, 6000.0], units_ms=[3000.0, 1000.0, 2000.0]),
    ]
    best = headline.fastest_pass(passes)
    assert best.units_ms == [1000.0, 1000.0, 2000.0]
    # every query is due at pass start: latency is the finish time
    assert best.latencies_ms == [1000.0, 2000.0, 4000.0]
    assert best.seconds == 4.0 and best.records == 7
