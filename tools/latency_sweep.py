#!/usr/bin/env python
"""Full-registry latency sweep: run EVERY registry query at the given SF
through a noop sink, one timed attempt each, and append one JSON line
per query to the output file.

Where perfbench/run.py answers "how fast are the ten headline queries",
this answers "does anything in the registry fall off a cliff at sf0.1" —
the long-tail scale check. Resumable: already-recorded queries are
skipped, so an interrupted sweep continues where it stopped.

Usage: python tools/latency_sweep.py [sf_dir] [out_jsonl]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_sample_spark.queries import load_registry
from kinesis_sample_spark.scratch import scratch_footprint
from kinesis_sample_spark.session import get_spark, release_checkpoints


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/latency_sweep.jsonl"
    done: set[str] = set()
    if os.path.exists(out):
        with open(out) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue  # truncated trailing line from a killed run
                # skip only records timed at THIS sf_dir — resuming against
                # a different scale factor must re-time everything, not mix
                # SFs in one artifact (round-5 ADVICE). Legacy records
                # without the field don't count as done: assuming they
                # match would silently skip the whole sweep when resuming
                # an old default-path artifact at a new SF.
                if rec.get("sec") is not None and rec.get("sf_dir") == sf_dir:
                    done.add(rec["query"])  # errored queries retry on resume

    spark = get_spark("latency-sweep")
    registry = load_registry()
    todo = [n for n in registry if n not in done]
    print(f"sweep {len(todo)} queries (skipping {len(done)} done) at {sf_dir}")
    for n in todo:
        # Long-lived-session hygiene between queries (costs ~ms; per-query
        # timings below are unaffected): SQL cache AND persist/
        # localCheckpoint RDD blocks — clearCache alone leaves the latter
        # pinned (r10's q152 47 s mid-sweep outlier). Rationale lives on
        # the shared helper, session.release_checkpoints.
        release_checkpoints(spark)
        # In round 13, q241 was the one query with a >3× mid-sweep
        # vs solo gap. Record the persistent-RDD block count entering each
        # query so a recurrence is diagnosable from the artifact alone: a
        # nonzero count here means release_checkpoints missed something;
        # zero means the gap is JVM-state (GC/JIT/code-cache), not blocks.
        rdds_before = len(spark.sparkContext._jsc.getPersistentRDDs())
        # In round 14, the shared-283 drift concentrated in live/
        # producer-source queries (q160 2.6×, q82/q164/q184 ~1.6×, code
        # untouched). Record the two JVM/disk-state candidates entering
        # each query so the "state drift" diagnosis closes with data:
        # leftover active streaming queries (should always be 0 between
        # queries) and the accumulated scratch footprint (replay fixtures
        # + checkpoints from every live query already swept).
        streams_before = len(spark.streams.active)
        scratch_dirs, scratch_bytes = scratch_footprint()
        t0 = time.perf_counter()
        try:
            registry[n].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            rec = {"query": n, "sec": round(time.perf_counter() - t0, 3), "sf_dir": sf_dir}
        except Exception as e:  # record, keep sweeping
            rec = {"query": n, "sec": None, "err": str(e)[:200], "sf_dir": sf_dir}
        if rdds_before:
            rec["rdd_blocks_before"] = rdds_before
        if streams_before:
            rec["active_streams_before"] = streams_before
        rec["scratch_dirs_before"] = scratch_dirs
        rec["scratch_mb_before"] = round(scratch_bytes / 1e6, 1)
        with open(out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(rec, flush=True)


if __name__ == "__main__":
    main()
