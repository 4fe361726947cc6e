"""Process-scoped scratch directories.

Several queries materialize fixtures or sinks on local disk (streaming
replay sources, format round-trips, signature stores). Each call used a
bare ``tempfile.mkdtemp``, which leaks one directory per invocation —
harmless once, but a full-registry parity or latency sweep runs every
query, so repeated sweeps accumulated hundreds of ``/tmp/kss_*`` dirs
(round-5 ADVICE flagged the q185 instance; round 6 generalizes the fix).

``scratch_dir`` hands out a mkdtemp like before but registers it for
removal at interpreter exit — safe for DataFrames that lazily read from
the directory, because the driver has collected everything by then.
Queries that can clean up eagerly (q185/q186) still do; this is the
backstop for the ones whose results stay lazy.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """mkdtemp + register for atexit removal."""
    d = tempfile.mkdtemp(prefix=prefix)
    _DIRS.append(d)
    return d


def scratch_footprint() -> tuple[int, int]:
    """(live directory count, total bytes) across every scratch dir this
    process has handed out. Diagnostic for long-lived sweeps: in round
    14, live/producer-source queries drifted ~1.6-2.6× mid-sweep
    with zero code changes, and the two candidate explanations — JVM
    state vs accumulated on-disk scratch (checkpoints, replay fixtures)
    — are distinguishable only if the sweep artifact records the scratch
    footprint entering each query."""
    n, total = 0, 0
    for d in _DIRS:
        if not os.path.isdir(d):
            continue
        n += 1
        for root, _dirs, files in os.walk(d):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:  # file vanished mid-walk (stream cleanup)
                    pass
    return n, total


@atexit.register
def _cleanup() -> None:  # pragma: no cover — exercised at interpreter exit
    for d in _DIRS:
        shutil.rmtree(d, ignore_errors=True)
