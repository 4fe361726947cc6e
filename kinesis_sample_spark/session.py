"""SparkSession factory.

One place to own the engine-wide physical-execution posture:

- Sized to the host it runs on, read when ``get_spark`` is called:
  ``local[N]`` with N = the cores this process may use
  (``os.sched_getaffinity``), and a driver heap of a quarter of physical
  memory, at least 1 GiB and at most 4 GiB. ``SPARK_GRAFT_CPUS`` (or the
  ``cpus=`` argument) and ``SPARK_DRIVER_MEMORY`` override either.
- AQE on (runtime join re-planning, partition coalescing, skew-join
  splitting) — at 100 TB the static plan is always wrong somewhere.
- ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster this is overridden per-deploy (rule of thumb: 2-3× total
  executor cores, with AQE coalescing down).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (DuckDB TIMESTAMP is UTC-naive).
- Arrow on for every pandas-UDF exchange.
- Streaming checkpoints (offset, commit and file-source logs, state-store
  deltas) written through ``FileSystem.create`` + rename. Spark's default
  FileContext manager starts shell processes per write when no native
  libhadoop is loaded (a pip-installed PySpark ships none); that was most
  of a live trigger's fixed cost. A cluster keeps its store's default (HDFS) or an object-store
  manager.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _driver_memory() -> str:
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    default = f"{max(1024, min(4096, physical_mb // 4))}m"
    return os.environ.get("SPARK_DRIVER_MEMORY") or default


def get_spark(app_name: str = "kinesis_sample_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[N] for tests; the same config block is what we would ship as
    spark-defaults on a cluster (minus master/memory).
    """
    cpus = cpus or _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- planner / AQE ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE (r17, measured and REVERTED): do NOT enable
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # session-wide. It lets AQE re-coalesce the BUILD of every cached
        # plan, which serializes expensive cached compute onto the few
        # coalesced partitions — interleaved fresh-JVM A/B at sf0.1:
        # q60's persisted pandas-UDF projection 9.2 s -> 38 s, q157's
        # cogroup 3.3 s -> 22 s with the conf on. The cached-partitioning
        # problem it would have solved (a tiny cached aggregate pinning
        # shuffle.partitions near-empty tasks per consumer job) is fixed
        # point-wise where the relation is provably small (q341's
        # range-bounded histogram) instead of globally.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- shuffle sizing (local; cluster deploys override) ---
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # --- oracle-compatible semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- python exchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- local-mode memory; harmless on a cluster ---
        .config("spark.driver.memory", _driver_memory())
        # Throughput collector for the single local JVM: G1 (the JVM
        # default) interleaves concurrent cycles with the executor
        # threads and stalls whichever query they land on — measured
        # A/B on the frozen bench set: G1 8.99-10.98 s total with
        # per-query spikes up to +60%, ParallelGC 7.86-8.03 s with a
        # flat tail. Batch analytics wants max throughput, not pause
        # bounds, so ParallelGC is the right local default; a cluster
        # deploy sets its own executor JVM opts.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        # reliable checkpoints (checkpoint_df) are deleted once their RDD
        # is garbage-collected, so a long-lived session does not
        # accumulate one per iteration in the checkpoint dir
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # --- streaming checkpoints (local; cluster deploys override) ---
        # Every micro-batch writes its offset log, commit log, file-source
        # log and state-store deltas. With no native libhadoop loaded,
        # Spark's default FileContext manager starts shell processes
        # (chmod, ls) per atomic write: one createAtomic + close measured
        # 37-40 ms on a warm JVM, against 10-12 ms through FileSystem.create
        # + rename (4 cores). In a traced live_windows run the trigger p50
        # fell from 624 to 433 ms, and the commit of 4 state partitions
        # from 347 to 13 ms. Checkpoint checksums and .crc files stay on.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.ui.enabled", "false")
        # managed tables (bucketing) land in tmp, never in the repo; static
        # conf — must be set before the session exists
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "kinesis_sample_spark_warehouse"),
            ),
        )
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long and lift to micros in the catalog
        # (kinesis_sample_spark.catalog.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_checkpoints(spark: SparkSession) -> int:
    """Free every persistent RDD block in the session — ``persist()``ed
    relations AND ``localCheckpoint()`` materializations — plus the SQL
    cache, returning the number of RDDs released.

    ``spark.catalog.clearCache()`` alone is NOT enough for a long-lived
    session: it drops SQL-cache entries but leaves RDD blocks pinned in
    the BlockManager. Iterative operators (connected-components pointer
    jumping, incremental MinHash stores) localCheckpoint per round, and
    multi-consumer queries persist shared subtrees (q230's bounded
    baskets); across hundreds of queries in one session those blocks
    accumulate and squeeze execution memory — measured: a 6 s query
    degraded to 47 s mid-sweep, fully recovered after this release.

    Call BETWEEN logical jobs in any long-lived session (the evidence
    sweep tools call it between every query) — not while a plan you
    still intend to execute holds a live localCheckpoint: ordinary
    persisted relations recompute from lineage on next use (worst case
    is lost caching), but a localCheckpoint *truncates* lineage, so its
    plan cannot be re-executed once the blocks are gone.

    Mechanics: ``clearCache()`` covers ``DataFrame.persist`` (those
    entries live in the SQL CacheManager); the explicit RDD loop covers
    what it misses — ``localCheckpoint`` materializations and raw-RDD
    persists. The return value counts only the latter."""
    spark.catalog.clearCache()
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist()
    return len(rdds)


def checkpoint_df(df, eager: bool = True):
    """Lineage-truncating checkpoint with a cluster-safe escape hatch.

    Default: ``localCheckpoint`` — blocks live on the executors,
    non-replicated. That is the right local-mode trade (no
    checkpoint-dir I/O) but on a real cluster an executor loss makes the
    truncated lineage unrecoverable and FAILS the job mid-iteration.
    Setting ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` switches every
    iterative operator routed through this helper (connected components,
    q301's incremental graph) to reliable ``checkpoint()`` against
    ``SPARK_GRAFT_CHECKPOINT_DIR`` (or ``<tmp>/kss_checkpoints``), which
    survives executor loss at the cost of writing the intermediate to
    storage. The env var is read only while the context has no
    checkpoint dir: once one is set (here or by the caller) it is used
    as is. Spark deletes each checkpoint once its RDD is unreachable
    (``cleanCheckpoints`` in ``get_spark``). Laziness is preserved in
    both modes: callers that rely on the next action materializing the
    checkpoint (one Spark job per round, not two) get the same behavior
    on the reliable path."""
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "") not in ("", "0", "false"):
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(
                os.environ.get(
                    "SPARK_GRAFT_CHECKPOINT_DIR",
                    os.path.join(tempfile.gettempdir(), "kss_checkpoints"),
                )
            )
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
