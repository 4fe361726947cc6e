"""Metric math shared by the workloads: percentiles, the open-loop latency
rule, the checkpoint source-log reader and the failure tally."""

from __future__ import annotations

import json
import math
import os
import numpy as np

#: percentiles the tail rule may pick from, highest last
TAIL_CANDIDATES = (50.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' definition)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples beyond it, or None when even the median is unsupported."""
    best = None
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            best = p
    return best


def summarize(values) -> dict:
    """The tail percentile the sample count supports, its value, and the
    count."""
    xs = list(values)
    tail = tail_percentile(len(xs))
    return {
        "n": len(xs),
        "tail_p": tail,
        "tail": percentile(xs, tail) if tail is not None else None,
    }


def latencies_from_due(due: dict, done: dict) -> list[float]:
    """Per-item latency in ms, each measured from when the item was *due*
    (its scheduled send time), not from when it was actually sent — so a
    stall that delays the generator still counts against every item queued
    behind it. ``due`` and ``done`` map item -> seconds on one clock; an
    item with no completion is missing and raises."""
    missing = sorted(set(due) - set(done))
    if missing:
        raise KeyError(f"{len(missing)} items never completed, e.g. {missing[:3]}")
    return [(done[k] - due[k]) * 1000.0 for k in sorted(due)]


def read_source_log(checkpoint: str, source: int = 0) -> dict[str, int]:
    """File name -> batch id, from the file source's metadata log under
    ``<checkpoint>/sources/<source>/``. Each log file is a version line
    followed by one JSON entry per file; ``N.compact`` files repeat the
    entries of earlier batches, each still tagged with its own batchId."""
    log_dir = os.path.join(checkpoint, "sources", str(source))
    mapping: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                entry = json.loads(line)
                mapping[os.path.basename(entry["path"])] = int(entry["batchId"])
    return mapping


def read_commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> wall-clock time its commit log entry was written."""
    commit_dir = os.path.join(checkpoint, "commits")
    return {
        int(name): os.stat(os.path.join(commit_dir, name)).st_mtime
        for name in os.listdir(commit_dir)
        if name.isdigit()
    }


def file_done_times(checkpoint: str) -> dict[str, float]:
    """File name -> commit time of the micro-batch that consumed it."""
    batch_of = read_source_log(checkpoint)
    commits = read_commit_times(checkpoint)
    return {f: commits[b] for f, b in batch_of.items() if b in commits}


def final_counts(key, batch_id, count, n_keys: int) -> np.ndarray:
    """The last running count emitted per key id (0 for a key never
    emitted), from update-mode output rows: for each key, the row of the
    highest batch id wins."""
    key, batch_id, count = (np.asarray(a, dtype=np.int64) for a in (key, batch_id, count))
    final = np.zeros(n_keys, dtype=np.int64)
    if key.size:
        order = np.lexsort((batch_id, key))
        key, count = key[order], count[order]
        last = np.r_[key[1:] != key[:-1], True]
        final[key[last]] = count[last]
    return final


def count_failures(expected, final) -> int:
    """Keys whose final count differs from the generator's: a record lost
    or duplicated anywhere leaves its key's count wrong, so it is one
    failure; a key emitted that the input never had is one too."""
    return int(np.count_nonzero(np.asarray(final) != np.asarray(expected)))


class Tally:
    """Attempted and failed operations; ``error_rate`` = failed / attempted."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def add(self, attempted: int, failed: int, note: str = "") -> None:
        self.attempted += attempted
        self.failed += failed
        if failed and note:
            self.notes.append(note)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
