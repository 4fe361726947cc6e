"""Seeded, deterministic envelope generator.

The engine only ever sees the parquet files written here: records in the
engine's envelope shape (``data`` = ``testData-<ISO millis>`` bytes,
``partitionKey``, ``sequenceNumber``, ``shardId``,
``approximateArrivalTimestamp``). Everything is vectorised with NumPy so a
few hundred thousand records take well under a second; the same
``(spec, seed)`` always yields byte-identical records.

Knobs (``EnvelopeSpec``): key cardinality and Zipf skew, poison share,
out-of-order shuffling inside a file, and two kinds of late events for
watermark tests — *slightly late* ones (always inside the watermark delay,
so always accepted) and *very late* ones (so far behind the stream's event
time that the watermark has certainly passed them).
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: event time of record 0 (ms since epoch): 2024-01-01T00:00:00Z
EPOCH_MS = 1_704_067_200_000
N_SHARDS = 2

#: how each poison record is broken; every one is valid UTF-8 that fails
#: the engine's try_to_timestamp parse, so it must land in the DLQ
_POISON_KINDS = (
    b"testData-not-a-timestamp",
    b"testData-2024-13-45T99:99:99.999",
    b"testData-2024-01-01 00:00:00",
    b"testData-",
)

ARROW_SCHEMA = pa.schema(
    [
        pa.field("data", pa.binary(), nullable=False),
        pa.field("partitionKey", pa.string(), nullable=False),
        pa.field("sequenceNumber", pa.string(), nullable=False),
        pa.field("shardId", pa.string(), nullable=False),
        pa.field("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC"), nullable=False),
    ]
)


@dataclasses.dataclass(frozen=True)
class EnvelopeSpec:
    n_files: int
    records_per_file: int
    n_keys: int
    zipf_s: float = 1.1  # 0 = uniform keys
    poison_share: float = 0.0
    #: event time advanced per file; records of file i fall in
    #: [i * file_span_ms, (i + 1) * file_span_ms)
    file_span_ms: int = 1000
    #: share of records moved back in event time by less than ``late_ms``
    late_share: float = 0.0
    late_ms: int = 0
    #: share of records moved back by ``very_late_ms``; only files with index
    #: >= ``very_late_from_file`` carry them
    very_late_share: float = 0.0
    very_late_ms: int = 0
    very_late_from_file: int = 0

    @property
    def n_records(self) -> int:
        return self.n_files * self.records_per_file


@dataclasses.dataclass
class Envelopes:
    """Generated records plus the ground truth the checks need."""

    spec: EnvelopeSpec
    key: np.ndarray  # int64 key id per record
    event_ms: np.ndarray  # int64 event time per record (ms)
    poison: np.ndarray  # bool
    very_late: np.ndarray  # bool
    file_of: np.ndarray  # int32 file index per record


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    if s <= 0:
        return rng.integers(0, n_keys, size=n, dtype=np.int64)
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    cdf = np.cumsum(p)
    cdf /= cdf[-1]
    rank = np.searchsorted(cdf, rng.random(n), side="right")
    rank = np.minimum(rank, n_keys - 1)
    # hot keys land on scattered ids, not on 0, 1, 2, ...
    return rng.permutation(n_keys).astype(np.int64)[rank]


def generate(spec: EnvelopeSpec, seed: int) -> Envelopes:
    rng = np.random.default_rng(seed)
    n, per = spec.n_records, spec.records_per_file
    file_of = np.repeat(np.arange(spec.n_files, dtype=np.int32), per)
    key = _zipf_keys(rng, n, spec.n_keys, spec.zipf_s)
    offset = rng.integers(0, spec.file_span_ms, size=n, dtype=np.int64)
    event_ms = EPOCH_MS + file_of.astype(np.int64) * spec.file_span_ms + offset
    poison = rng.random(n) < spec.poison_share
    late = rng.random(n) < spec.late_share
    if spec.late_ms:
        event_ms[late] -= rng.integers(1, spec.late_ms, size=int(late.sum()), dtype=np.int64)
    very_late = (rng.random(n) < spec.very_late_share) & (file_of >= spec.very_late_from_file) & ~poison
    event_ms[very_late] -= spec.very_late_ms
    return Envelopes(spec, key, event_ms, poison, very_late, file_of)


def _payloads(env: Envelopes, rng: np.random.Generator) -> pa.Array:
    iso = np.datetime_as_string(env.event_ms.astype("datetime64[ms]"), unit="ms")
    data = pc.binary_join_element_wise("testData-", pa.array(iso), "").cast(pa.binary())
    n_poison = int(env.poison.sum())
    if not n_poison:
        return data
    kinds = pa.array(_POISON_KINDS, type=pa.binary())
    broken = kinds.take(pa.array(rng.integers(0, len(kinds), size=n_poison)))
    return pc.replace_with_mask(data, pa.array(env.poison), broken)


def _prefixed(prefix: str, values: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(prefix, pa.array(values).cast(pa.string()), "")


def to_table(env: Envelopes, seed: int) -> pa.Table:
    """All records as one Arrow table in file order; within each file the
    rows are shuffled, so event time is out of order inside a file."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    per = env.spec.records_per_file
    order = (
        np.argsort(rng.random((env.spec.n_files, per)), axis=1)
        + np.arange(env.spec.n_files)[:, None] * per
    ).ravel()
    arrival_us = (env.event_ms + rng.integers(0, 50, size=env.spec.n_records)) * 1000
    table = pa.table(
        {
            "data": _payloads(env, rng),
            "partitionKey": _prefixed("partitionKey-", env.key),
            "sequenceNumber": pa.array(np.arange(env.spec.n_records)).cast(pa.string()),
            "shardId": _prefixed("shardId-00000000000", env.key % N_SHARDS),
            "approximateArrivalTimestamp": pa.array(arrival_us, type=pa.timestamp("us", tz="UTC")),
        },
        schema=ARROW_SCHEMA,
    )
    return table.take(pa.array(order))


def file_name(i: int) -> str:
    return f"part-{i:05d}.parquet"


def write_files(env: Envelopes, seed: int, out_dir: str) -> list[str]:
    """Write one parquet file per spec file; returns the paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    table = to_table(env, seed)
    per = env.spec.records_per_file
    paths = []
    for i in range(env.spec.n_files):
        path = os.path.join(out_dir, file_name(i))
        pq.write_table(table.slice(i * per, per), path)
        paths.append(path)
    return paths


def cached(cache_root: str, name: str, build, keep: int = 6) -> str:
    """Directory ``name`` under ``cache_root``, filled by ``build(path)`` on
    first use. The ``keep`` most recently used entries survive; older ones
    are removed so the cache stays bounded."""
    path = os.path.join(cache_root, name)
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        build(path)
        open(done, "w").close()
    os.utime(done)
    entries = sorted(
        (e for e in os.scandir(cache_root) if os.path.exists(os.path.join(e.path, "_DONE"))),
        key=lambda e: os.path.getmtime(os.path.join(e.path, "_DONE")),
        reverse=True,
    )
    for stale in entries[keep:]:
        shutil.rmtree(stale.path, ignore_errors=True)
    return path


def cached_backlog(env: Envelopes, seed: int, cache_root: str, tag: str) -> str:
    """The written files for ``(tag, spec, seed)``, from the cache."""
    digest = hashlib.sha1(repr(env.spec).encode()).hexdigest()[:12]
    return cached(cache_root, f"{tag}-{digest}-seed{seed}", lambda path: write_files(env, seed, path))


def copy_backlog(src: str, dst: str) -> None:
    """Fresh per-run copy of a cached backlog (data files only)."""
    os.makedirs(dst, exist_ok=True)
    for name in sorted(os.listdir(src)):
        if name.endswith(".parquet"):
            shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
