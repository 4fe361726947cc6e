"""Local replica of the driver's DuckDB-oracle comparison.

Mimics the contract in ``__spark_entry__.py``: run the Spark query and the
oracle SQL on the same parquet tables, compare row count, column names, and
an order-insensitive value hash. Used by tests/test_oracle_parity.py so
mismatches surface before the driver's round check does.

``run_query`` executes a registry query once and records everything the
per-query checks read (rows, wall time, executed plan), so one execution
serves the parity, latency and plan checks alike. ``check_query`` runs
it, compares it with the oracle and releases what it persisted, keeping
only the small ``Checked`` record those checks assert on.
"""

from __future__ import annotations

import hashlib
import math
import time
from dataclasses import dataclass

import duckdb
from pyspark.sql import DataFrame, SparkSession

from kinesis_sample_spark.catalog import TABLES, table_path
from kinesis_sample_spark.plans.inspect import formatted_plan
from kinesis_sample_spark.queries import Query
from kinesis_sample_spark.session import release_checkpoints


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    return con


@dataclass
class Run:
    """One execution of a registry query."""

    name: str
    df: DataFrame
    rows: list[tuple]
    seconds: float  # from calling the query until collect() returns
    plan: str  # formatted plan after execution (AQE final and initial)


def run_query(q: Query, spark: SparkSession, sf_dir: str) -> Run:
    t0 = time.perf_counter()
    df = q.fn(spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    seconds = time.perf_counter() - t0
    return Run(q.name, df, rows, seconds, formatted_plan(df))


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr round-trips doubles exactly; bit-identical floats → same token
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    """Order-insensitive: hash each row (columns sorted by name), combine by
    addition mod 2^128. Addition (unlike XOR) is multiplicity-sensitive: two
    results with equal counts but different duplicated rows ({A,A,B,B} vs
    {C,C,D,D}) no longer collide, so duplicate-row bugs can't cancel out."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    acc = 0
    for row in rows:
        token = "|".join(_norm_cell(row[i]) for i in order)
        acc = (acc + int.from_bytes(hashlib.md5(token.encode()).digest()[:16], "big")) % (1 << 128)
    return f"{acc:032x}"


@dataclass
class Comparison:
    name: str
    spark_rows: int
    oracle_rows: int
    columns_match: bool
    hash_match: bool
    spark_cols: list[str]
    oracle_cols: list[str]
    detail: str = ""
    dtype_flags: tuple[str, ...] = ()

    @property
    def ok(self) -> bool:
        return (
            self.spark_rows == self.oracle_rows
            and self.columns_match
            and self.hash_match
            and not self.dtype_flags
        )


# ---------------------------------------------------------------------------
# Pandas-canonicalizer dtype gate.
#
# The driver compares results AFTER converting both sides to pandas, so a
# value-identical pair can still hash-mismatch when the two frames land in
# different dtype families (the r01 q51 / r02 q40+q50 failures: DuckDB
# HUGEINT → float64 "5.0" vs Spark int64 "5"). The local fetchall() path
# above is blind to that, so this gate compares dtype KINDS the way the
# driver will see them: Spark's from its schema, DuckDB's from a LIMIT-0
# pandas frame (dtype conversion without row promotion). Only pairs proven
# green across rounds 1-3 are allowed — notably Spark DateType reaches
# pandas as object(datetime.date) while DuckDB DATE arrives datetime64,
# an UNPROVEN pair, so date-typed outputs are rejected outright (surface
# them as midnight timestamps instead; see q166/q167).
# ---------------------------------------------------------------------------
def _spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "f"
    if isinstance(dt, T.BooleanType):
        return "b"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "M"
    if isinstance(dt, T.DateType):
        return "date!"  # never matches — unproven under the driver
    if isinstance(dt, T.DecimalType):
        return "decimal!"  # surface as double via sql_double instead
    return "O"


def dtype_flags(spark_df, con, sql) -> tuple[str, ...] | None:
    """Returns the mismatching (column, kind) pairs, () when the gate ran
    clean, or ``None`` when the oracle can't be wrapped as a subquery
    (e.g. pipe-syntax dialect) so the gate could not run at all — the
    caller records that skip visibly in ``Comparison.detail`` rather than
    letting a silently-disabled gate look like a clean pass."""
    try:
        odt = con.execute(
            f"SELECT * FROM ({sql.rstrip().rstrip(';')}) LIMIT 0"
        ).df().dtypes
    except duckdb.Error:
        return None  # non-wrappable dialect — caller marks the skip
    # duplicate oracle projection labels can't reach here as duplicates:
    # duckdb's .df() renames them ('a', 'a_1', ...), so odt[name] is
    # always a scalar dtype, the renamed column fails the membership
    # test below, and compare()'s cols_match reports the name mismatch
    flags = []
    for field in spark_df.schema.fields:
        if field.name not in odt.index:
            continue  # column mismatch is reported separately
        sk, ok_ = _spark_kind(field.dataType), odt[field.name].kind
        if sk != ok_:
            flags.append(f"{field.name}: spark={sk} oracle={ok_}")
    return tuple(flags)


def compare(run: Run, con, sql) -> Comparison:
    s_rows = run.rows
    s_cols = list(run.df.columns)
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    cols_match = sorted(s_cols) == sorted(o_cols)
    h_s = value_hash(s_rows, s_cols)
    h_o = value_hash(o_rows, o_cols)
    detail = ""
    if not h_s == h_o and s_rows and o_rows:
        # sample first differing row for debug (sorted projections)
        order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        order_o = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
        proj_s = sorted("|".join(_norm_cell(r[i]) for i in order_s) for r in s_rows)
        proj_o = sorted("|".join(_norm_cell(r[i]) for i in order_o) for r in o_rows)
        for a, b in zip(proj_s, proj_o):
            if a != b:
                detail = f"spark={a!r} oracle={b!r}"
                break
        else:
            detail = f"len spark={len(proj_s)} oracle={len(proj_o)}"
    flags = dtype_flags(run.df, con, sql)
    if flags is None:
        detail = (detail + " dtype_gate=skipped(non-wrappable oracle)").strip()
        flags = ()
    return Comparison(
        name=run.name,
        spark_rows=len(s_rows),
        oracle_rows=len(o_rows),
        columns_match=cols_match,
        hash_match=h_s == h_o,
        spark_cols=s_cols,
        oracle_cols=o_cols,
        detail=detail,
        dtype_flags=flags,
    )


@dataclass(frozen=True)
class Checked:
    """One execution of a registry query, reduced to what the per-query
    gates assert on (no DataFrame, no rows), so a test session can keep
    one for every query."""

    name: str
    seconds: float
    plan: str
    cmp: Comparison
    leaked: tuple  # persistent RDD ids left after release_checkpoints
    cache_empty: bool  # SQL cache manager empty after release_checkpoints


def check_query(q: Query, spark: SparkSession, sf_dir: str, con) -> Checked:
    """Run ``q`` once, compare it with its oracle, then release everything
    it persisted or checkpointed and record what survived the release."""
    try:
        run = run_query(q, spark, sf_dir)
        cmp = compare(run, con, q.oracle)
    finally:
        release_checkpoints(spark)
    leaked = tuple(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    cache_empty = spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return Checked(q.name, run.seconds, run.plan, cmp, leaked, cache_empty)
