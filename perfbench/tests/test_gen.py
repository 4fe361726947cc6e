"""The seeded generators: same seed, same records; the knobs do what they
say."""

import os
import re
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, tables

PAYLOAD = re.compile(rb"testData-\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d\.\d{3}")
SPEC = gen.EnvelopeSpec(
    n_files=6,
    records_per_file=500,
    n_keys=300,
    zipf_s=1.2,
    poison_share=0.05,
    file_span_ms=500,
    late_share=0.1,
    late_ms=4000,
    very_late_share=0.05,
    very_late_ms=100_000,
    very_late_from_file=3,
)


def test_same_seed_gives_identical_records():
    a, b = gen.to_table(gen.generate(SPEC, 7), 7), gen.to_table(gen.generate(SPEC, 7), 7)
    assert a.equals(b)
    assert not a.equals(gen.to_table(gen.generate(SPEC, 8), 8))


def test_written_files_are_identical_across_writes(tmp_path):
    env = gen.generate(SPEC, 3)
    first = gen.write_files(env, 3, str(tmp_path / "a"))
    second = gen.write_files(gen.generate(SPEC, 3), 3, str(tmp_path / "b"))
    for x, y in zip(first, second):
        assert pq.read_table(x).equals(pq.read_table(y))


def test_knobs_shape_the_records():
    env = gen.generate(SPEC, 11)
    n = SPEC.n_records
    assert env.key.min() >= 0 and env.key.max() < SPEC.n_keys
    counts = np.bincount(env.key, minlength=SPEC.n_keys)
    assert counts.max() > 10 * np.median(counts[counts > 0])  # skewed
    assert 0.02 < env.poison.mean() < 0.08
    assert not (env.very_late & env.poison).any()
    assert (env.file_of[env.very_late] >= SPEC.very_late_from_file).all()
    on_time_start = gen.EPOCH_MS + env.file_of.astype(np.int64) * SPEC.file_span_ms
    behind = on_time_start - env.event_ms
    # slightly late events stay inside the 4 s bound, very late ones are far out
    assert behind[~env.very_late].max() < SPEC.late_ms
    assert (behind[env.very_late] > SPEC.very_late_ms - SPEC.file_span_ms).all()
    assert len(env.key) == n


def test_payloads_follow_the_producer_format():
    env = gen.generate(SPEC, 5)
    table = gen.to_table(env, 5)
    data = table.column("data").to_pylist()
    seq = np.array(table.column("sequenceNumber").to_pylist(), dtype=np.int64)
    poison = env.poison[seq]
    good = [d for d, p in zip(data, poison) if not p]
    assert all(PAYLOAD.fullmatch(d) for d in good)
    for d in (d for d, p in zip(data, poison) if p):
        with pytest.raises(ValueError):  # the engine's parse fails on it too
            datetime.strptime(d[len("testData-") :].decode(), "%Y-%m-%dT%H:%M:%S.%f")
    assert all(d.decode("utf-8") for d in data)  # poison is valid UTF-8 too
    # rows of a file are out of event-time order
    first_file = env.event_ms[seq[: SPEC.records_per_file]]
    assert (np.diff(first_file) < 0).any()


def test_batch_tables_are_seeded():
    a, b = tables.generate_tables(0.001, 4), tables.generate_tables(0.001, 4)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(tables.generate_tables(0.001, 5)["lineitem"])


def test_cache_builds_once_and_stays_bounded(tmp_path):
    builds = []

    def build(path):
        builds.append(path)
        os.makedirs(path)

    first = gen.cached(str(tmp_path), "a", build, keep=2)
    assert gen.cached(str(tmp_path), "a", build, keep=2) == first
    assert builds == [first]
    for name in ("b", "c"):
        gen.cached(str(tmp_path), name, build, keep=2)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["b", "c"]
