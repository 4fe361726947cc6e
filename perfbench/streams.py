"""The open-loop streaming workload and the probes its traced runs add: a
closed-loop keyed-state backlog drain and isolated decode/DLQ-split
passes. Each drives the engine's public streaming functions over envelope
parquet files written by ``perfbench.gen``."""

from __future__ import annotations

import json
import os
import shutil
import time
from statistics import median

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen, metrics
from perfbench.workload import Pass, Workload

# ---------------------------------------------------------------------------
# progress-derived layer metrics (trace runs only)
# ---------------------------------------------------------------------------


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _dur(progress: list[dict], key: str) -> list[float]:
    return [p["durationMs"][key] for p in progress if key in p.get("durationMs", {})]


def _state(progress: list[dict], key: str) -> list[float]:
    return [p["stateOperators"][0][key] for p in progress if p.get("stateOperators")]


def _p50(xs) -> float | None:
    return median(xs) if xs else None


def progress_layers(progress: list[dict], prefix: str) -> dict:
    """Per-layer figures from Spark's StreamingQueryProgress of one query."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {
        "sources.files.latest_offset_ms_p50": _p50(_dur(progress, "latestOffset")),
        "sources.files.get_batch_ms_p50": _p50(_dur(data, "getBatch")),
        f"{prefix}.add_batch_ms_p50": _p50(_dur(data, "addBatch")),
        f"{prefix}.query_planning_ms_p50": _p50(_dur(data, "queryPlanning")),
        f"{prefix}.wal_commit_ms_p50": _p50(_dur(data, "walCommit")),
        f"{prefix}.commit_offsets_ms_p50": _p50(_dur(data, "commitOffsets")),
        f"{prefix}.batches": len(data),
    }
    if any(p.get("stateOperators") for p in progress):
        out.update(
            {
                f"{prefix}.state_rows_total": _state(progress, "numRowsTotal")[-1],
                f"{prefix}.state_memory_bytes": max(_state(progress, "memoryUsedBytes")),
                f"{prefix}.state_commit_ms_p50": _p50(_state(data, "commitTimeMs")),
                f"{prefix}.state_update_ms_p50": _p50(_state(data, "allUpdatesTimeMs")),
                f"{prefix}.rows_dropped_by_watermark": sum(_state(progress, "numRowsDroppedByWatermark")),
            }
        )
    return out


def _unit_and_planning(progress: list[dict]) -> tuple[list[float], list[float]]:
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    return _dur(data, "triggerExecution"), _dur(data, "queryPlanning")


def _parquet_files(root: str) -> int:
    """Data files the sinks under ``root`` hold (the checkpoint excluded)."""
    return sum(
        1
        for d, _, files in os.walk(root)
        if "checkpoint" not in d
        for f in files
        if f.endswith(".parquet")
    )


def _key_ids(values) -> np.ndarray:
    return pc.cast(pc.utf8_slice_codeunits(values, len("partitionKey-")), "int64").to_numpy()


class KeyedStateProbe:
    """Closed loop, measured in traced runs: a backlog of Zipf-keyed
    records, all due at once, is drained with ``availableNow`` through
    ``stateful_key_counts`` (the state store and the Arrow exchange with
    Python workers, bypassing envelope decode and the DLQ).

    Sizing, measured on a 4-core VM: a drain costs about 1.4 s to start,
    1.2 s per micro-batch and 1 ms per key a micro-batch touches (one
    Python call into the state function each). The backlog's 24 000
    records, in three micro-batches, cover about 4 500 of the 20 000 Zipf
    keys, so per-key state work is about half of a drain."""

    layer = "streaming.stateful"
    spec = gen.EnvelopeSpec(n_files=6, records_per_file=4_000, n_keys=20_000, zipf_s=1.1)
    files_per_trigger = 2
    #: backlog files the warm-up drains: one micro-batch runs every
    #: code path of a drain
    warmup_files = 2

    def __init__(self, seed: int, run_dir: str, cache_dir: str) -> None:
        self.run_dir = run_dir
        self.env = gen.generate(self.spec, seed)
        cached = gen.cached_backlog(self.env, seed, cache_dir, "keyed_state")
        self.input = os.path.join(run_dir, "input")
        gen.copy_backlog(cached, self.input)
        self.files = sorted(f for f in os.listdir(self.input) if f.endswith(".parquet"))
        self.warm_input = os.path.join(run_dir, "warmup-input")
        os.makedirs(self.warm_input)
        for f in self.files[: self.warmup_files]:
            shutil.copyfile(os.path.join(self.input, f), os.path.join(self.warm_input, f))

    def measure(self, spark, tally: metrics.Tally) -> dict:
        """One unmeasured warm-up drain, then one traced drain whose output
        is checked into ``tally``; returns the drain's layer figures."""
        self._start(spark, self.warm_input, os.path.join(self.run_dir, "warmup")).awaitTermination()
        out = os.path.join(self.run_dir, "drain")
        t0 = time.perf_counter()
        query = self._start(spark, self.input, out)
        query.awaitTermination()
        wall = time.perf_counter() - t0
        self.check(out, tally)
        layers = progress_layers(_progress(query), self.layer)
        batches = max(1, layers[f"{self.layer}.batches"])
        layers[f"{self.layer}.drain_records_per_s"] = self.spec.n_records / wall
        layers[f"{self.layer}.files_per_batch"] = len(self.files) / batches
        layers[f"{self.layer}.sink_files_per_batch"] = _parquet_files(out) / batches
        return {k: v for k, v in layers.items() if k.startswith(self.layer)}

    def _start(self, spark, input_dir: str, out: str):
        from pyspark.sql import functions as F

        from kinesis_sample_spark.streaming.envelope import ENVELOPE_SCHEMA
        from kinesis_sample_spark.streaming.stateful import stateful_key_counts

        sink = os.path.join(out, "counts")

        def write(batch_df, batch_id: int) -> None:
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

        reader = spark.readStream.schema(ENVELOPE_SCHEMA).option("maxFilesPerTrigger", self.files_per_trigger)
        return (
            stateful_key_counts(reader.parquet(input_dir))
            .writeStream.outputMode("update")
            .foreachBatch(write)
            .option("checkpointLocation", os.path.join(out, "checkpoint"))
            .trigger(availableNow=True)
            .start()
        )

    def check(self, out: str, tally: metrics.Tally) -> None:
        """The last emitted running count per key equals the generator's
        count for that key; a missing, extra or wrong key is a failure."""
        expected = np.bincount(self.env.key, minlength=self.spec.n_keys)
        t = pq.read_table(os.path.join(out, "counts"), columns=["partitionKey", "n_records", "batch_id"])
        final = metrics.final_counts(
            _key_ids(t.column("partitionKey")),
            t.column("batch_id").to_numpy(),
            t.column("n_records").to_numpy(),
            self.spec.n_keys,
        )
        wrong = metrics.count_failures(expected, final)
        tally.add(int(np.count_nonzero(expected)), wrong, f"{out}: wrong final key counts")


def envelope_probes(spark, input_dir: str, env: gen.Envelopes) -> dict:
    """Isolated batch probes over a backlog: decode_envelope alone and
    decode + split_dlq, each executed through the noop sink."""
    from pyspark.sql import functions as F

    from kinesis_sample_spark.streaming.dlq import split_dlq
    from kinesis_sample_spark.streaming.envelope import ENVELOPE_SCHEMA, decode_envelope

    src = spark.read.schema(ENVELOPE_SCHEMA).parquet(input_dir)
    n = env.spec.n_records

    def rate(df) -> float:
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return n / (time.perf_counter() - t0)

    decoded = decode_envelope(src)
    good, dlq = split_dlq(decoded, "event_ts")
    rate(decoded)  # first touch of the files, unmeasured
    out = {
        "streaming.envelope.decode_records_per_s": rate(decoded),
        "streaming.dlq.split_records_per_s": rate(good.unionByName(dlq, allowMissingColumns=True)),
    }
    n_dlq = dlq.select(F.count("*")).first()[0]
    out["streaming.dlq.poison_ratio"] = n_dlq / n
    out["streaming.dlq.poison_base_records"] = n
    return out


class LiveWindows(Workload):
    """Open loop: a generator thread publishes one file every
    ``1 / FILES_PER_S`` seconds on a fixed schedule, whatever the engine
    does; the query is ``streaming_window_counts`` in update mode."""

    name = "live_windows"
    layer = "streaming.pipeline"
    #: 2 500 records/s offered in 10 files/s, well below the engine's
    #: capacity on 4 cores: at 20 files/s a slow stretch of the host made
    #: batches outrun the schedule in some runs, and those runs' latency
    #: was twice the others'
    FILES_PER_S = 10
    RECORDS_PER_FILE = 250
    #: files published before measuring starts: a new query's first
    #: micro-batches are slow, and the backlog they leave would otherwise
    #: dominate a short run's latencies
    LEAD_IN_FILES = 20
    #: files whose latency is measured in a pass: 100 samples are the
    #: fewest that leave 10 beyond the p90 the workload reports
    MEASURED_FILES = 100
    WINDOW, WATERMARK = "10 seconds", "5 seconds"
    #: each file advances event time by half a second; slightly late
    #: events stay inside the 5 s delay, very late ones are 200 files (20 s
    #: of wall time) behind, so only a stall that long could let one in
    SPEC = dict(
        records_per_file=RECORDS_PER_FILE,
        n_keys=500,
        zipf_s=1.2,
        poison_share=0.01,
        file_span_ms=500,
        late_share=0.05,
        late_ms=4000,
        very_late_share=0.01,
        very_late_ms=100_000,
    )

    def prepare(self, seed: int, run_dir: str, cache_dir: str) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.runs: list[tuple[str, gen.Envelopes]] = []
        self.cache_dir = cache_dir
        warm = gen.generate(gen.EnvelopeSpec(n_files=40, **self.SPEC), seed + 1)
        self.warm_input = os.path.join(run_dir, "warmup-input")
        gen.copy_backlog(gen.cached_backlog(warm, seed + 1, cache_dir, self.name + "-warm"), self.warm_input)

    def _query(self, spark, input_dir: str, out: str, files_per_trigger: int | None = None):
        from pyspark.sql import functions as F

        from kinesis_sample_spark.streaming.envelope import ENVELOPE_SCHEMA
        from kinesis_sample_spark.streaming.pipeline import streaming_window_counts

        sink = os.path.join(out, "windows")

        def write(batch_df, batch_id: int) -> None:
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

        reader = spark.readStream.schema(ENVELOPE_SCHEMA)
        if files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", files_per_trigger)
        env = reader.parquet(input_dir)
        return (
            streaming_window_counts(env, window=self.WINDOW, watermark=self.WATERMARK)
            .writeStream.outputMode("update")
            .foreachBatch(write)
            .option("checkpointLocation", os.path.join(out, "checkpoint"))
        )

    def warmup(self, spark) -> None:
        """Ten small micro-batches over a short backlog, so the query's
        code is generated, compiled and run often before measuring."""
        out = os.path.join(self.run_dir, "warmup")
        query = self._query(spark, self.warm_input, out, files_per_trigger=4)
        query.trigger(availableNow=True).start().awaitTermination()

    def run_pass(self, spark, i: int, trace: bool, seconds: float) -> Pass:
        lead = self.LEAD_IN_FILES
        n_files = lead + max(self.MEASURED_FILES, int(round(seconds * self.FILES_PER_S)))
        spec = gen.EnvelopeSpec(n_files=n_files, very_late_from_file=int(n_files * 0.8), **self.SPEC)
        seed = self.seed * 1000 + i
        env = gen.generate(spec, seed)
        staged = os.path.join(self.run_dir, f"staged-{i}")
        gen.write_files(env, seed, staged)
        out = os.path.join(self.run_dir, f"live-{i}")
        watch = os.path.join(out, "input")
        os.makedirs(watch)
        self.runs.append((out, env))

        query = self._query(spark, watch, out).start()
        try:
            _wait_idle(query)
            schedule = Schedule(staged, watch, n_files, 1.0 / self.FILES_PER_S)
            schedule.run()
            query.processAllAvailable()
        finally:
            query.stop()
        done = metrics.file_done_times(os.path.join(out, "checkpoint"))
        measured = {f: schedule.due[f] for f in schedule.names[lead:]}
        lat = metrics.latencies_from_due(measured, done)
        span = max(done[f] for f in measured) - min(measured.values())
        p = Pass(seconds=span, records=len(measured) * self.RECORDS_PER_FILE, latencies_ms=lat)
        p.lag_ms = [(schedule.created[f] - schedule.due[f]) * 1000.0 for f in schedule.due]
        if trace:
            progress = _progress(query)
            p.units_ms, p.planning_ms = _unit_and_planning(progress)
            p.group = str(query.runId)
            p.layers = progress_layers(progress, self.layer)
            p.layers["sources.files.backlog_files_max"] = _backlog_max(progress, schedule, out)
            p.layers["bench.generator_lag_ms_p95"] = metrics.percentile(p.lag_ms, 95)
        return p

    def check(self, tally: metrics.Tally) -> None:
        """Final window counts equal a reference count over the events the
        watermark accepts (all but poison and very-late records)."""
        step = 10_000
        for out, env in self.runs:
            keep = ~env.poison & ~env.very_late
            ref_w = env.event_ms[keep] - env.event_ms[keep] % step
            ref = _cell_counts(ref_w * 1000, env.key[keep])
            cols = ["w_start", "partitionKey", "n_records", "batch_id"]
            t = pq.read_table(os.path.join(out, "windows"), columns=cols)
            w = t.column("w_start").to_numpy().astype("datetime64[us]").astype(np.int64)
            key = _key_ids(t.column("partitionKey"))
            order = np.lexsort((t.column("batch_id").to_numpy(), key, w))
            w, key, n = w[order], key[order], t.column("n_records").to_numpy()[order]
            last = np.r_[(w[1:] != w[:-1]) | (key[1:] != key[:-1]), True]
            got = dict(zip(zip(w[last].tolist(), key[last].tolist()), n[last].tolist()))
            extra = len(set(got) - set(ref))
            wrong = sum(1 for c, v in ref.items() if got.get(c) != v) + extra
            tally.add(len(ref) + extra, wrong, f"{out}: wrong, missing or extra window counts")

    def trace_probes(self, spark, tally: metrics.Tally) -> dict:
        out = self.split_probe(spark)
        keyed = KeyedStateProbe(self.seed, os.path.join(self.run_dir, "keyed"), self.cache_dir)
        out.update(keyed.measure(spark, tally))
        return out

    def split_probe(self, spark) -> dict:
        """Decode and DLQ-split rates over the last pass's input."""
        out, env = self.runs[-1]
        return envelope_probes(spark, os.path.join(out, "input"), env)


def _cell_counts(w_us: np.ndarray, key: np.ndarray) -> dict:
    cells, counts = np.unique(np.stack([w_us, key]), axis=1, return_counts=True)
    return {(int(a), int(b)): int(c) for (a, b), c in zip(cells.T, counts)}


def _wait_idle(query, timeout_s: float = 60.0) -> None:
    """Wait until the query has started and polls an empty source."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        status = query.status
        if not status["isTriggerActive"] and "Waiting" in status["message"]:
            return
        time.sleep(0.02)
    raise TimeoutError(f"query never went idle: {query.status}")


def _backlog_max(progress: list[dict], schedule: "Schedule", out: str) -> int:
    """Most files published but not yet consumed when a batch started."""
    from datetime import datetime

    batch_of = metrics.read_source_log(os.path.join(out, "checkpoint"))
    worst = 0
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        created = sum(1 for t in schedule.created.values() if t <= start)
        consumed = sum(1 for b in batch_of.values() if b < p["batchId"])
        worst = max(worst, created - consumed)
    return worst


class Schedule:
    """The open-loop generator: moves pre-written files into the watched
    directory, file i at ``t0 + i * interval``, whatever the engine is doing
    (its micro-batches run on their own threads). The rename is atomic, so
    the engine never sees a partial file. ``due`` and ``created`` are
    wall-clock seconds."""

    def __init__(self, staged: str, watch: str, n_files: int, interval: float) -> None:
        self.staged, self.watch = staged, watch
        self.names = [gen.file_name(i) for i in range(n_files)]
        self.interval = interval
        self.due: dict[str, float] = {}
        self.created: dict[str, float] = {}

    def run(self) -> None:
        t0_mono, t0_wall = time.monotonic(), time.time()
        for i, name in enumerate(self.names):
            delay = t0_mono + i * self.interval - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            os.rename(os.path.join(self.staged, name), os.path.join(self.watch, name))
            self.created[name] = time.time()
            self.due[name] = t0_wall + i * self.interval
        shutil.rmtree(self.staged, ignore_errors=True)
