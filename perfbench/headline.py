"""batch_headline: the ten headline registry queries over seeded tables,
every result checked against the query's DuckDB oracle."""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import shutil
import time
import traceback

from perfbench import gen, metrics, tables
from perfbench.workload import Pass, Workload

#: pinned here rather than read from the registry's ``bench`` flags, so a
#: change to those flags cannot silently change what this workload measures
QUERIES = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q14_top_orders_per_customer",
    "q23_tumbling_window",
    "q27_asof_purchase_view",
    "q31_minhash_lsh",
    "q34_cosine_topk",
    "q36_embedding_neardup",
    "q92_waiting_suppliers",
)
SCALE = 0.1
#: the warm-up pass runs over its own, smaller tables
WARM_SCALE = 0.01


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, colnames) -> str:
    """Order-insensitive, multiplicity-sensitive hash of a result: the
    same value hash as ``tests/oracle_harness.py`` (columns sorted by name,
    md5 per row, rows combined by addition mod 2^128)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    acc = 0
    for row in rows:
        token = "|".join(_norm_cell(row[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.md5(token.encode()).digest(), "big")) % (1 << 128)
    return f"{acc:032x}"


def fastest_pass(passes: list[Pass]) -> Pass:
    """One pass made of each query's fastest run over ``passes``: a query
    is timed at its best of the run, as a shared host only ever slows a
    run down. Its latencies are the finish times of the queries run back to
    back at those times; every query is due at pass start."""
    units = [min(times) for times in zip(*(p.units_ms for p in passes))]
    latencies = list(itertools.accumulate(units))
    return Pass(seconds=latencies[-1] / 1000.0, records=passes[0].records, latencies_ms=latencies, units_ms=units)


class BatchHeadline(Workload):
    name = "batch_headline"
    #: suite_s times each query at its best of this many passes
    min_passes = 2

    def prepare(self, seed: int, run_dir: str, cache_dir: str) -> None:
        import json

        import pyarrow.parquet as pq

        from kinesis_sample_spark.catalog import TABLES, table_path
        from kinesis_sample_spark.queries import load_registry

        registry = load_registry()
        self.queries = {n: registry[n] for n in QUERIES}
        oracles = hashlib.sha1("\n".join(q.oracle for q in self.queries.values()).encode()).hexdigest()[:12]

        def build(path: str) -> None:
            tables.write_tables(SCALE, seed, path)
            with open(os.path.join(path, "oracle.json"), "w", encoding="utf-8") as f:
                json.dump(self._oracle_hashes(path), f)

        cached = gen.cached(cache_dir, f"{self.name}-sf{SCALE}-seed{seed}-{oracles}", build)
        with open(os.path.join(cached, "oracle.json"), encoding="utf-8") as f:
            self.expected = {name: (n, cols, h) for name, (n, cols, h) in json.load(f).items()}
        self.sf_dir = os.path.join(run_dir, "tables")
        shutil.copytree(cached, self.sf_dir)
        self.warm_dir = os.path.join(run_dir, "warmup-tables")
        tables.write_tables(WARM_SCALE, seed + 1, self.warm_dir)
        # the pass's input size: rows of every table the suite can read
        self.rows_in = sum(pq.ParquetFile(table_path(self.sf_dir, t)).metadata.num_rows for t in TABLES)
        self.results: list[tuple[str, tuple[list, list] | None]] = []

    def _oracle_hashes(self, sf_dir: str) -> dict[str, tuple[int, list[str], str]]:
        """Row count, columns and value hash of each oracle, from DuckDB."""
        import duckdb

        from kinesis_sample_spark.catalog import TABLES, table_path

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
            out = {}
            for name, q in self.queries.items():
                cur = con.execute(q.oracle)
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
                out[name] = (len(rows), sorted(cols), value_hash(rows, cols))
            return out
        finally:
            con.close()

    def warmup(self, spark) -> None:
        """One unmeasured pass over tables a tenth of the measured scale:
        it generates and compiles the same code as a measured pass, and the
        first measured pass after it ran no slower than after a warm-up at
        full scale, which took twice as long. The measured tables are
        loaded first, so the catalog's relation cache is filled once."""
        from kinesis_sample_spark.catalog import load_tables
        from kinesis_sample_spark.session import release_checkpoints

        load_tables(spark, self.sf_dir)
        for q in self.queries.values():
            release_checkpoints(spark)
            q.fn(spark, self.warm_dir).collect()

    def reduce(self, passes: list[Pass]) -> list[Pass]:
        return [fastest_pass(passes)]

    def run_pass(self, spark, i: int, trace: bool, seconds: float) -> Pass:
        from kinesis_sample_spark.session import release_checkpoints

        group = f"perfbench-pass-{i}"
        spark.sparkContext.setJobGroup(group, group)
        units, planning, latencies, layers = [], [], [], {}
        t0 = time.perf_counter()
        for name, q in self.queries.items():
            # the engine's hygiene between queries of a long-lived session:
            # relations a query persists (q36's) or checkpoints would
            # otherwise be served from memory to later passes, and pile up
            release_checkpoints(spark)
            start = time.perf_counter()
            try:
                df = q.fn(spark, self.sf_dir)
                if trace:
                    df._jdf.queryExecution().executedPlan()
                    planning.append((time.perf_counter() - start) * 1000.0)
                result = ([tuple(r) for r in df.collect()], list(df.columns))
            except Exception:  # noqa: BLE001 — a failed query is a checked failure
                traceback.print_exc()
                result = None
            end = time.perf_counter()
            units.append((end - start) * 1000.0)
            latencies.append((end - t0) * 1000.0)  # every query is due at pass start
            self.results.append((name, result))
            if trace:
                module = q.fn.__module__.rsplit(".", 1)[-1]
                layers[f"queries.{module}.{name}_s"] = end - start
        wall = time.perf_counter() - t0
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        p = Pass(seconds=wall, records=self.rows_in, latencies_ms=latencies, units_ms=units, planning_ms=planning)
        p.group, p.layers = group, layers
        return p

    def check(self, tally: metrics.Tally) -> None:
        """Each query result must match its oracle's row count, column
        names and value hash."""
        for name, result in self.results:
            n, ocols, h = self.expected[name]
            ok = result is not None
            if ok:
                rows, cols = result
                ok = len(rows) == n and sorted(cols) == ocols and value_hash(rows, cols) == h
            tally.add(1, 0 if ok else 1, f"{name}: failed or differs from its DuckDB oracle")

    def trace_probes(self, spark, tally: metrics.Tally) -> dict:
        """Cold relation build for every table of a fresh directory path
        (the catalog caches relations per directory)."""
        from kinesis_sample_spark.catalog import TABLES, load_table

        probe_dir = self.sf_dir.rstrip("/") + "-catalog-probe"
        shutil.copytree(self.sf_dir, probe_dir)
        t0 = time.perf_counter()
        for t in TABLES:
            load_table(spark, probe_dir, t)
        return {"catalog.load_table_ms": (time.perf_counter() - t0) * 1000.0 / len(TABLES)}
