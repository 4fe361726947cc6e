"""Seeded generator for the batch fixture tables the headline queries read.

Same table names, column names and types as the engine's catalog expects
(``kinesis_sample_spark.catalog.TABLES``), with value shapes matching the
engine's reference fixtures: 2-decimal money, discounts in hundredths,
midnight dates, a TPC-H-like key graph, an hourly-bucketable ``events``
stream, word-soup ``documents`` with planted near-duplicate pairs and
64-dimensional ``embeddings``. ``scale`` 0.1 gives 600 000 lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_D1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_D2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a the data spark stream batch table query join group sort hash scan "
    "filter agg window key value row column part order customer line "
    "vector fast slow big small merge"
).split()
PART_WORDS = ("large", "small", "hot", "blue", "red", "ring", "bolt", "nut", "gear")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), size=n)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 80, size=n)
    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)]) for k in lengths]
    # planted near-duplicates: a long document copied with one word
    # changed — jaccard well above the 0.8 threshold of the dedup queries
    n_dups = max(1, n // 200)
    for j in range(n_dups):
        src, dst = 2 * j, n - 1 - 2 * j
        toks = texts[src].split() + list(words[rng.integers(0, len(words), size=40)])
        texts[src] = " ".join(toks)
        toks = list(toks)
        toks[-1] = "planted"
        texts[dst] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def generate_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(20_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS, pa.string())}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    pw = np.array(PART_WORDS, dtype=object)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                pw[rng.integers(0, 4, size=n_part)] + " " + pw[rng.integers(4, len(pw), size=n_part)],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)], pa.string()),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }
    )
    o_days = rng.integers(0, 2404, size=n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(_D1995 + o_days * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    l_order = rng.integers(0, n_ord, size=n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 100_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(_D1995 + (o_days[l_order] + rng.integers(1, 122, size=n_li)) * _DAY_US),
        }
    )
    ev_us = np.sort(_D2024 + rng.integers(0, 30 * _DAY_US, size=n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_us),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), size=n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(_money(rng, 0.0, 500.0, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)], pa.string()),
        }
    )
    t["documents"] = _documents(rng, n_doc)
    emb = (rng.standard_normal((n_emb, 64)) * 0.12).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, size=n_emb), pa.int32()),
        }
    )
    return t


def write_tables(scale: float, seed: int, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate_tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
