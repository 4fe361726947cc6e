"""Similarity search over ``embeddings`` — north-star LLM-pipeline surface.

Three operators:
- brute-force cosine top-k (the exactness baseline; broadcast query set)
- LSH-bucketed approximate NN (random-hyperplane signs; deterministic
  planes shared with the oracle as literals)
- embedding near-duplicate pairs (banded hyperplane-LSH blocking)

All dot products via functions.vectors: the JVM-side ``dot`` fold, or its
numpy mirror ``numpy_dot`` inside q36's Arrow kernels; both are
bit-identical to the DuckDB oracle. At 100 TB: the query set broadcasts;
candidate generation for ANN is an equi-join on bucket id, and q36 scores
each LSH bucket as one local all-pairs block; nothing collects to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.functions.numeric import sql_double
from kinesis_sample_spark.functions.vectors import (
    cosine,
    dot,
    hyperplanes,
    numpy_dot,
    plane_lit,
    sql_cosine,
    sql_dot,
    sql_plane_lit,
)
from kinesis_sample_spark.queries import query

N_QUERIES = 5  # fixed query set: vec_id < 5
TOP_K = 5
N_PLANES = 8
DIM = 64
_PLANES = hyperplanes(N_PLANES, DIM)

_SQL_COS = sql_cosine("q.embedding", "c.embedding")


# ---------------------------------------------------------------------------
# q34 — brute-force cosine top-k.
# ---------------------------------------------------------------------------
@query(
    "q34_cosine_topk",
    oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_SQL_COS} AS cos_sim
    FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
) t
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
""",
)
def q34_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN baseline: broadcast the (tiny) query set against the
    corpus, score per row, keep top-k per query via window rank with a
    deterministic tie-break. Scale: corpus never shuffles until the final
    (n_queries × k)-row rank stage; the scoring is a map-only stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# q35 — LSH-bucketed approximate NN.
# ---------------------------------------------------------------------------
def _sql_bucket(vec: str) -> str:
    terms = [
        f"(CASE WHEN {sql_dot(vec, sql_plane_lit(_PLANES[j]))} > 0"
        f" THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(N_PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


@query(
    "q35_lsh_ann",
    oracle=f"""
WITH b AS (
    SELECT vec_id, embedding, {_sql_bucket('embedding')} AS bucket FROM embeddings
),
q AS (SELECT * FROM b WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_SQL_COS} AS cos_sim
    FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
) t
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
""",
)
def q35_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: 8 random-hyperplane sign bits → 256 buckets; search
    only the query's bucket. The planes are Python-computed md5-derived
    literals, identical in plan and oracle by construction. Scale: bucket
    assignment is map-only; the candidate join is an equi-join on bucket —
    the classic IVF/LSH trade (recall vs candidate count) tuned by
    N_PLANES."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucket = None
    for j in range(N_PLANES):
        term = F.when(
            dot(F.col("embedding"), plane_lit(_PLANES[j])) > 0,
            F.shiftleft(F.lit(1).cast("bigint"), j),
        ).otherwise(F.lit(0).cast("bigint"))
        bucket = term if bucket is None else bucket + term
    b = emb.select("vec_id", "embedding", bucket.alias("bucket"))
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(b, (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# q36 — embedding near-duplicate pairs (banded-LSH blocked).
# ---------------------------------------------------------------------------
_NEARDUP_BANDS = ((0, 4), (4, 8))  # two bands of 4 hyperplanes each
_NEARDUP_MIN_COS = 0.35


def _sql_band_bucket(vec: str, lo: int, hi: int) -> str:
    terms = [
        f"(CASE WHEN {sql_dot(vec, sql_plane_lit(_PLANES[j]))} > 0"
        f" THEN (CAST(1 AS BIGINT) << {j - lo}) ELSE 0 END)"
        for j in range(lo, hi)
    ]
    return "(" + " + ".join(terms) + ")"


def _neardup_buckets(batches):
    """mapInArrow stage of q36: each vector's two band buckets, and the
    vector once per band as ``(vec_id, embedding, b1, band, bucket)``.

    A null embedding, or one with a null element, is dropped: its dot
    products are null, so it is never in an emitted pair. A set sign bit
    is ``dot > 0`` in Spark's order, where NaN sorts above every value."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    planes = np.asarray(_PLANES)
    for batch in batches:
        batch = batch.filter(pc.is_valid(batch.column("embedding")))
        emb = batch.column("embedding")
        if len(emb) == 0:
            continue
        lengths = pc.list_value_length(emb).to_numpy(zero_copy_only=False)
        if (lengths != DIM).any():
            raise ValueError(f"q36: ragged embedding dims, expected {DIM}")
        flat = emb.flatten()
        whole = ~flat.is_null().to_numpy(zero_copy_only=False).reshape(-1, DIM).any(axis=1)
        x = flat.to_numpy(zero_copy_only=False).reshape(-1, DIM)[whole]
        emb = emb.filter(pa.array(whole))
        ids = batch.column("vec_id").filter(pa.array(whole))
        proj = numpy_dot(x, planes)
        bits = (proj > 0) | np.isnan(proj)
        b1, b2 = (
            (bits[:, lo:hi].astype(np.int64) << np.arange(hi - lo)).sum(axis=1)
            for lo, hi in _NEARDUP_BANDS
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.concat_arrays([ids, ids]),
                pa.concat_arrays([emb, emb]),
                pa.array(np.concatenate([b1, b1])),
                pa.array(np.repeat(np.array([1, 2], np.int32), len(ids))),
                pa.array(np.concatenate([b1, b2])),
            ],
            names=["vec_id", "embedding", "b1", "band", "bucket"],
        )


def _neardup_pairs(table):
    """applyInArrow stage of q36: one (band, bucket) group's pairs with
    ``vec_a < vec_b`` and cosine >= 0.35 (NaN kept, as Spark orders it
    above every value). Band 2 keeps only pairs whose b1 differs, so a
    pair that collides in both bands is emitted once.

    The group's Gram matrix comes from :func:`numpy_dot`; the norms are
    the square roots of its diagonal, so each cosine is
    ``dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))`` exactly as the
    oracle folds it. A zero-norm vector raises, as the former join plan's
    ANSI divide did: that plan scored each vector against itself before
    it checked ``vec_a < vec_b``."""
    import numpy as np
    import pyarrow as pa

    ids = table.column("vec_id").to_numpy()
    flat = table.column("embedding").combine_chunks().flatten()
    x = flat.to_numpy(zero_copy_only=False).reshape(-1, DIM)
    gram = numpy_dot(x, x)
    norm = np.sqrt(np.diagonal(gram))
    if (norm == 0).any():
        raise ZeroDivisionError("[DIVIDE_BY_ZERO] q36: zero-norm embedding")
    a, b = np.nonzero(np.less.outer(ids, ids))
    if table.column("band")[0].as_py() == 2:
        b1 = table.column("b1").to_numpy()
        differ = b1[a] != b1[b]
        a, b = a[differ], b[differ]
    cos = (gram / np.multiply.outer(norm, norm))[a, b]
    keep = (cos >= _NEARDUP_MIN_COS) | np.isnan(cos)
    return pa.table(
        [pa.array(ids[a][keep], pa.int64()), pa.array(ids[b][keep], pa.int64()), pa.array(cos[keep])],
        names=["vec_a", "vec_b", "cos_sim"],
    )


@query(
    "q36_embedding_neardup",
    oracle=f"""
WITH e AS (
    SELECT vec_id, embedding,
           {_sql_band_bucket('embedding', *_NEARDUP_BANDS[0])} AS b1,
           {_sql_band_bucket('embedding', *_NEARDUP_BANDS[1])} AS b2
    FROM embeddings
),
cand AS (
    SELECT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
    FROM e a JOIN e b ON a.b1 = b.b1 AND a.vec_id < b.vec_id
    UNION ALL
    SELECT a.vec_id, b.vec_id, a.embedding, b.embedding
    FROM e a JOIN e b ON a.b2 = b.b2 AND a.b1 <> b.b1 AND a.vec_id < b.vec_id
)
SELECT va AS vec_a, vb AS vec_b, {sql_cosine('ea', 'eb')} AS cos_sim
FROM cand
WHERE {sql_cosine('ea', 'eb')} >= {_NEARDUP_MIN_COS}
ORDER BY vec_a, vec_b
""",
)
def q36_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, banded-LSH blocked: two bands
    of 4 random-hyperplane sign bits each; a pair is a candidate if it
    collides in EITHER band (the classic MinHash-banding OR-construction,
    applied to hyperplane LSH), then exact cosine >= 0.35 verifies.

    Two Arrow kernels, no join: a ``mapInArrow`` pass scans the vectors
    once, computes both band buckets and emits each vector once per band;
    a ``groupBy(band, bucket).applyInArrow`` pass scores each bucket as
    one all-pairs Gram matrix. Scoring pair by pair through ``zip_with``
    and ``aggregate`` cost some 20 µs per 64-dim dot, as Spark runs
    those lambdas per element without codegen (9.3 s at sf0.1 on 4
    cores, against 0.9 s for the kernels). Every dot product is
    :func:`numpy_dot`'s sequential fold, never BLAS, so the cosines stay
    bit-identical to the oracle's ``list_dot_product``.

    Scale: one shuffle on (band, bucket). Each group holds O(bucket²)
    doubles, so at 100x data you add planes per band to keep expected
    bucket occupancy, and so group memory, constant. The terminal sort
    gathers the pairs into one partition; at 100 TB the pairs land
    partitioned and the sort is dropped."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    banded = emb.mapInArrow(
        _neardup_buckets,
        "vec_id bigint, embedding array<float>, b1 bigint, band int, bucket bigint",
    )
    pairs = banded.groupBy("band", "bucket").applyInArrow(
        _neardup_pairs, "vec_a bigint, vec_b bigint, cos_sim double"
    )
    # one sorted partition rather than orderBy: a range partitioner
    # samples its input in a job of its own, which would run the grouped
    # kernel twice (1.35 -> 0.87 s at sf0.1 on 4 cores)
    return pairs.repartition(1).sortWithinPartitions("vec_a", "vec_b")


# ---------------------------------------------------------------------------
# q37 — IVF ANN: data-derived centroids (label means), nearest-cell probe.
# ---------------------------------------------------------------------------
_IVF_TOPK = 3


@query(
    "q37_ivf_ann",
    oracle=f"""
WITH exploded AS (
    SELECT vec_id, label, unnest(embedding)::DOUBLE AS val,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
dims AS (
    SELECT label AS c_label, pos,
           CAST(CAST(SUM(CAST(round(val, 9) AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) / COUNT(val) AS mean
    FROM exploded GROUP BY label, pos
),
centroids AS (
    SELECT c_label, list(mean ORDER BY pos) AS cvec FROM dims GROUP BY c_label
),
assigned AS (
    SELECT vec_id, embedding, c_label AS cell FROM (
        SELECT e.vec_id, e.embedding, c.c_label,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {sql_cosine('e.embedding', 'c.cvec')} DESC, c.c_label) AS rn
        FROM embeddings e CROSS JOIN centroids c
    ) WHERE rn = 1
),
q AS (SELECT * FROM assigned WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
    FROM q JOIN assigned c ON c.cell = q.cell AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
) WHERE rank <= {_IVF_TOPK}
ORDER BY query_id, rank
""",
)
def q37_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF in two real stages: (1) build the coarse index — per-cell
    centroids as exact-decimal per-dimension means (here cells seed from
    the label column; swap in k-means iterations for unlabeled corpora —
    each iteration is this same assign+average pass); (2) probe — assign
    every vector (and query) to its nearest centroid by cosine and search
    only that cell. Scale: centroids are tiny and broadcast; the index
    build is one shuffle keyed (cell, dim); search cost drops by the cell
    fan-out (nprobe/ncells)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "val"))
    dims = (
        exploded.groupBy(F.col("label").alias("c_label"), "pos")
        .agg(
            (
                # explicit round-half-away before the decimal cast — same
                # engine-independent quantization pin as operators/kmeans.py
                F.sum(F.round(F.col("val").cast("double"), 9).cast("decimal(18,9)")).cast("double")
                / F.count("val")
            ).alias("mean")
        )
    )
    centroids = dims.groupBy("c_label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))), lambda s: s.getField("mean")
        ).alias("cvec")
    )
    ranked = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(
                    cosine(F.col("embedding"), F.col("cvec")).desc(), F.col("c_label")
                )
            ),
        )
    )
    assigned = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", F.col("c_label").alias("cell")
    ).persist()  # reused as both query and corpus side of the probe
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("cell").alias("q_cell"),
    )
    scored = (
        F.broadcast(q)
        .join(
            assigned,
            (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# q38 — k-means IVF ANN (unlabeled corpora) with an UNROLLED-ITERATION oracle.
# ---------------------------------------------------------------------------
_KM_K = 8
_KM_ITER = 3


def _sql_kmeans_oracle(k: int = _KM_K, n_iter: int = _KM_ITER) -> str:
    """Generate the DuckDB oracle for q38 by unrolling the deterministic
    Lloyd iterations: operators/kmeans.py accumulates per-(cluster, dim)
    means in DECIMAL(18,9) and breaks assignment ties toward the lowest
    cluster id, so every centroid double is bit-identical under any
    parallelism — which makes each iteration one more CTE block instead
    of "not expressible in SQL". Seeds = k smallest md5(vec_id) (the
    'spread' init); squared distances use the same sequential fold both
    engines share for dot products; the VARCHAR round-trip on the decimal
    mean matches Spark's correctly-rounded decimal→double cast."""
    md5 = "(('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT)"

    def sqdist(e: str, c: str) -> str:
        diff = f"list_transform(range(1, {DIM + 1}), i -> CAST({e}[i] AS DOUBLE) - {c}[i])"
        return f"list_dot_product({diff}, {diff})"

    ctes = [
        (
            "exploded AS (\n"
            "  SELECT vec_id, unnest(embedding)::DOUBLE AS val,\n"
            "         generate_subscripts(embedding, 1) AS pos\n"
            "  FROM embeddings)"
        ),
        (
            "c0 AS (\n"
            f"  SELECT (row_number() OVER (ORDER BY {md5}, vec_id)) - 1 AS cluster,\n"
            "         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec\n"
            f"  FROM embeddings ORDER BY {md5}, vec_id LIMIT {k})"
        ),
    ]
    for i in range(1, n_iter + 1):
        prev = f"c{i - 1}"
        ctes.append(
            f"a{i} AS (\n"
            "  SELECT e.vec_id, c.cluster,\n"
            "         row_number() OVER (PARTITION BY e.vec_id\n"
            f"                            ORDER BY {sqdist('e.embedding', 'c.vec')}, c.cluster) AS rn\n"
            f"  FROM embeddings e CROSS JOIN {prev} c)"
        )
        ctes.append(
            f"m{i} AS (\n"
            "  SELECT a.cluster, x.pos,\n"
            "         CAST(CAST(SUM(CAST(round(x.val, 9) AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE)\n"
            "           / COUNT(x.val) AS mean\n"
            f"  FROM (SELECT vec_id, cluster FROM a{i} WHERE rn = 1) a\n"
            "  JOIN exploded x ON x.vec_id = a.vec_id\n"
            "  GROUP BY a.cluster, x.pos)"
        )
        ctes.append(
            f"c{i} AS (\n"
            "  SELECT p.cluster, coalesce(n.vec, p.vec) AS vec\n"
            f"  FROM {prev} p LEFT JOIN (SELECT cluster, list(mean ORDER BY pos) AS vec\n"
            f"                            FROM m{i} GROUP BY cluster) n USING (cluster))"
        )
    final_c = f"c{n_iter}"
    ctes.append(
        "af AS (\n"
        "  SELECT e.vec_id, c.cluster,\n"
        "         row_number() OVER (PARTITION BY e.vec_id\n"
        f"                            ORDER BY {sqdist('e.embedding', 'c.vec')}, c.cluster) AS rn\n"
        f"  FROM embeddings e CROSS JOIN {final_c} c)"
    )
    ctes.append(
        "cells AS (\n"
        "  SELECT e.vec_id, e.embedding, a.cluster\n"
        "  FROM embeddings e JOIN (SELECT vec_id, cluster FROM af WHERE rn = 1) a USING (vec_id))"
    )
    ctes.append(
        f"qs AS (SELECT vec_id AS query_id, embedding AS q_emb, cluster AS q_cell\n"
        f"       FROM cells WHERE vec_id < {N_QUERIES})"
    )
    ctes.append(
        "scored AS (\n"
        "  SELECT qs.query_id, c.vec_id AS neighbor_id,\n"
        f"         {sql_cosine('qs.q_emb', 'c.embedding')} AS cos_sim\n"
        "  FROM qs JOIN cells c ON c.cluster = qs.q_cell AND c.vec_id <> qs.query_id)"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT query_id, neighbor_id, cos_sim, rank FROM (\n"
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id\n"
        "                               ORDER BY cos_sim DESC, neighbor_id) AS rank\n"
        "  FROM scored)\n"
        f"WHERE rank <= {_IVF_TOPK}\n"
        "ORDER BY query_id, rank"
    )


@query("q38_kmeans_ivf_ann", oracle=_sql_kmeans_oracle())
def q38_kmeans_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unlabeled-corpus version of q37: build the coarse quantizer with
    operators.kmeans (deterministic Lloyd iterations, hash-spread seed
    sample; verified against a NumPy reference in tests/test_kmeans.py),
    then probe the query's cell. The oracle UNROLLS the 3 Lloyd
    iterations into chained SQL CTEs — possible because the fit is
    bit-deterministic (decimal-exact means, lowest-id tie-breaks,
    engine-shared distance folds) — so the full iterative index build,
    not just the probe, sits under the value-hash gate."""
    from kinesis_sample_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    _, assigned = kmeans_fit(emb, k=8, n_iter=3, init="spread")
    cells = emb.join(assigned, "vec_id").persist()
    q = cells.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("cluster").alias("q_cell"),
    )
    scored = (
        F.broadcast(q)
        .join(cells, (F.col("cluster") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# q83 — time-series similarity: hour-of-day activity profiles, cosine top-k.
# ---------------------------------------------------------------------------
_HOURS = 24
_TS_TOPK = 3
_SQL_PROFILE = ", ".join(
    f"CAST(SUM(CASE WHEN CAST(hour(ts) AS INTEGER) = {h} THEN 1 ELSE 0 END) AS DOUBLE)"
    for h in range(_HOURS)
)


@query(
    "q83_timeseries_similarity",
    oracle=f"""
WITH profiles AS (
    SELECT user_id, [{_SQL_PROFILE}] AS profile
    FROM events GROUP BY user_id
),
q AS (SELECT * FROM profiles WHERE user_id < 10),
scored AS (
    SELECT q.user_id AS query_user, c.user_id AS other_user,
           {sql_cosine('q.profile', 'c.profile')} AS cos_sim
    FROM q JOIN profiles c ON c.user_id <> q.user_id
)
SELECT query_user, other_user, cos_sim, rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_user
                                 ORDER BY cos_sim DESC, other_user) AS rank
    FROM scored
) WHERE rank <= {_TS_TOPK}
ORDER BY query_user, rank
""",
)
def q83_timeseries_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the streaming-data classic): compress
    each user's event stream into an hour-of-day activity vector, then
    cosine top-k across users — behavioral nearest neighbors. Scale: the
    profile build is one aggregation (24 conditional sums, map-side
    partial); profiles are tiny regardless of event volume, so the
    similarity stage is the same broadcast-scored shape as q34."""
    ev = load_table(spark, sf_dir, "events")
    profile_cols = [
        F.sum(F.when(F.hour("ts") == h, 1).otherwise(0)).cast("double").alias(f"h{h}")
        for h in range(_HOURS)
    ]
    profiles = (
        ev.groupBy("user_id")
        .agg(*profile_cols)
        .select("user_id", F.array(*[F.col(f"h{h}") for h in range(_HOURS)]).alias("profile"))
    )
    q = profiles.filter(F.col("user_id") < 10).select(
        F.col("user_id").alias("query_user"), F.col("profile").alias("q_profile")
    )
    scored = (
        F.broadcast(q)
        .join(profiles, F.col("user_id") != F.col("query_user"))
        .select(
            "query_user",
            F.col("user_id").alias("other_user"),
            cosine(F.col("q_profile"), F.col("profile")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_user").orderBy(F.col("cos_sim").desc(), F.col("other_user"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TS_TOPK)
        .select("query_user", "other_user", "cos_sim", "rank")
        .orderBy("query_user", "rank")
    )


# ---------------------------------------------------------------------------
# q129 — contrastive pair mining (positives + hard negatives).
# ---------------------------------------------------------------------------
_N_HARD_NEG = 3


@query(
    "q129_hard_negative_mining",
    oracle=f"""
WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           c.vec_id AS neighbor_id, c.label AS neighbor_label,
           CASE WHEN c.label = q.label THEN 'pos' ELSE 'neg' END AS kind,
           {_SQL_COS} AS cos_sim
    FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, kind
                                 ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, query_label, kind, rank, neighbor_id, neighbor_label, cos_sim
FROM ranked
WHERE (kind = 'pos' AND rank = 1) OR (kind = 'neg' AND rank <= {_N_HARD_NEG})
ORDER BY query_id, kind, rank
""",
)
def q129_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data mining: per query, the closest
    *same-label* vector (the positive) and the {3} closest *different-
    label* vectors (hard negatives — near misses are what make the loss
    informative; random negatives are trivially separable). Same plan
    shape as q34 — broadcast query set, map-side scoring, window rank on
    the tiny scored relation — so the corpus side never shuffles. At
    production scale the same query swaps its scoring stage for q35/q37's
    bucketed candidates; the mining logic (label split + per-kind rank)
    is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("query_label"),
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            F.when(F.col("label") == F.col("query_label"), "pos")
            .otherwise("neg")
            .alias("kind"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id", "kind").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return (
        ranked.filter(
            ((F.col("kind") == "pos") & (F.col("rank") == 1))
            | ((F.col("kind") == "neg") & (F.col("rank") <= _N_HARD_NEG))
        )
        .select(
            "query_id", "query_label", "kind", "rank",
            "neighbor_id", "neighbor_label", "cos_sim",
        )
        .orderBy("query_id", "kind", "rank")
    )


# ---------------------------------------------------------------------------
# q142 — int8 embedding quantization with reconstruction-error audit.
# ---------------------------------------------------------------------------
_ONES = [1.0] * DIM


@query(
    "q142_int8_quantization",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
m AS (
  SELECT vec_id, label, v,
         list_min(v) AS vmin, list_max(v) AS vmax,
         (list_max(v) - list_min(v)) / 255.0 AS scale
  FROM e
),
err AS (
  SELECT vec_id, label, vmin, vmax,
         list_transform(v, x -> abs(x - (vmin +
             (CASE WHEN scale = 0 THEN 0
                   ELSE least(floor((x - vmin) / scale), 255) END) * scale)))
           AS errs
  FROM m
)
SELECT vec_id, label, vmin, vmax,
       list_max(errs) AS max_err,
       {sql_dot("errs", sql_plane_lit(_ONES))} AS l1_err
FROM err
ORDER BY vec_id
""",
)
def q142_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector min/max int8 quantization — the compression step that
    makes billion-vector ANN affordable (4× smaller than float32, and
    q121's integer-centroid trick needs quantized components anyway) —
    with the reconstruction-error audit emitted in-band: max and L1
    error per vector. Everything is per-row array arithmetic in exact
    IEEE doubles (floor/least/abs; the L1 fold reuses the dot-product
    machinery with a ones-vector so accumulation is sequential on both
    engines). No shuffle at all: at 100 TB this is a map-only rewrite
    of the embedding column."""
    # Stage vmin/vmax/scale as materialized columns BEFORE the
    # per-element lambda references them: inlining array_min/array_max
    # into the transform() body re-evaluates an O(dim) reduction per
    # ELEMENT (O(dim^2) per row) and balloons the codegen tree —
    # measured 4.2 s steady at sf0.1 inlined vs 0.5 s staged, outputs
    # bit-identical (same arithmetic, evaluated once per row).
    emb = load_table(spark, sf_dir, "embeddings")
    staged = (
        emb.select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .select(
            "vec_id",
            "label",
            "v",
            F.array_min("v").alias("vmin"),
            F.array_max("v").alias("vmax"),
        )
        .withColumn("scale", (F.col("vmax") - F.col("vmin")) / F.lit(255.0))
    )
    vmin, scale = F.col("vmin"), F.col("scale")
    dq = lambda x: vmin + F.when(scale == 0, F.lit(0)).otherwise(
        F.least(F.floor((x - vmin) / scale), F.lit(255))
    ) * scale
    errs = F.transform("v", lambda x: F.abs(x - dq(x)))
    return (
        staged.select(
            "vec_id",
            "label",
            "vmin",
            "vmax",
            F.array_max(errs).alias("max_err"),
            dot(errs, plane_lit(_ONES)).alias("l1_err"),
        )
        # persist before the global sort: the per-element quantize/
        # dequantize/error expression tree is wide enough that the
        # range-partitioner's sampling re-execution doubles a map-only
        # query's cost
        .persist()
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q158 — SemDeDup-style semantic dedup (centroid-band keep-one selection).
# ---------------------------------------------------------------------------
_SEM_BANDS = 50  # 0.02-wide cosine-to-centroid bands


@query(
    "q158_semantic_dedup",
    oracle=f"""
WITH exploded AS (
    SELECT vec_id, label, unnest(embedding)::DOUBLE AS val,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
dims AS (
    SELECT label AS c_label, pos,
           CAST(CAST(SUM(CAST(round(val, 9) AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) / COUNT(val) AS mean
    FROM exploded GROUP BY label, pos
),
centroids AS (
    SELECT c_label, list(mean ORDER BY pos) AS cvec FROM dims GROUP BY c_label
),
scored AS (
    SELECT e.vec_id, e.label,
           {sql_cosine('e.embedding', 'c.cvec')} AS cos_c
    FROM embeddings e JOIN centroids c ON c.c_label = e.label
),
banded AS (
    SELECT vec_id, label, cos_c,
           CAST(FLOOR(cos_c * {_SEM_BANDS}) AS BIGINT) AS band
    FROM scored
)
SELECT vec_id, label, band,
       round(cos_c, 6) AS cos_r,
       min(vec_id) OVER (PARTITION BY label, band) AS keeper_id,
       vec_id = min(vec_id) OVER (PARTITION BY label, band) AS keep
FROM banded
ORDER BY vec_id
""",
)
def q158_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., 2023) made linear: cluster the corpus
    (labels stand in for the k-means cells — q38 supplies the unlabeled
    path), score every vector's cosine to its OWN cluster centroid, band
    the similarity axis into 1/{_SEM_BANDS}-wide bins, and keep exactly
    one representative (min vec_id) per (cluster, band). The original
    within-cluster pairwise-cosine prune is O(cell²); banding the
    one-dimensional centroid-similarity instead is one map pass plus a
    tiny window — the trade SemDeDup itself motivates (vectors nearly
    equidistant from the centroid are the duplicate suspects). Centroid
    build reuses q37's exact-decimal per-dimension means, so every double
    here is bit-identical across engines; band edges are floors of those
    identical doubles, never a float-tolerance judgment call.

    Scale: one (cell, dim) exchange for centroids (partial agg first), a
    broadcast of O(cells·dim) centroids, a map-only scoring pass, and a
    window over (cell, band) — no pairwise joins anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    )
    dims = exploded.groupBy(F.col("label").alias("c_label"), "pos").agg(
        (
            # same engine-independent quantization pin as operators/kmeans.py
            F.sum(F.round(F.col("val").cast("double"), 9).cast("decimal(18,9)")).cast("double")
            / F.count("val")
        ).alias("mean")
    )
    centroids = dims.groupBy("c_label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))),
            lambda s: s.getField("mean"),
        ).alias("cvec")
    )
    scored = emb.join(
        F.broadcast(centroids), F.col("c_label") == F.col("label")
    ).select(
        "vec_id",
        "label",
        cosine(F.col("embedding"), F.col("cvec")).alias("cos_c"),
    )
    banded = scored.withColumn(
        "band", F.floor(F.col("cos_c") * _SEM_BANDS).cast("bigint")
    )
    w = W.partitionBy("label", "band")
    return (
        banded.select(
            "vec_id",
            "label",
            "band",
            F.round("cos_c", 6).alias("cos_r"),
            F.min("vec_id").over(w).alias("keeper_id"),
            (F.col("vec_id") == F.min("vec_id").over(w)).alias("keep"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q189 — Matryoshka-truncation ANN recall audit.
# ---------------------------------------------------------------------------
_MRL_DIMS = 16  # truncated prefix length (full embeddings are 64-dim)
_MRL_TOPK = 5


@query(
    "q189_matryoshka_recall",
    oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {sql_cosine('q.embedding', 'e.embedding')} DESC, e.vec_id
         ) AS rnk_full,
         ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {sql_cosine(f'list_slice(q.embedding, 1, {_MRL_DIMS})', f'list_slice(e.embedding, 1, {_MRL_DIMS})')} DESC, e.vec_id
         ) AS rnk_trunc
  FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
)
SELECT f.query_id,
       CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(COUNT(t.neighbor_id) AS DOUBLE) / {_MRL_TOPK} AS recall_at_{_MRL_TOPK}
FROM (SELECT query_id, neighbor_id FROM scored WHERE rnk_full <= {_MRL_TOPK}) f
LEFT JOIN (SELECT query_id, neighbor_id FROM scored WHERE rnk_trunc <= {_MRL_TOPK}) t
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY f.query_id
ORDER BY f.query_id
""",
)
def q189_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation audit (Kusupati et al. 2022): how much
    of the exact cosine top-k survives truncating embeddings to their
    first 16 dimensions — the storage/compute trade modern embedding
    models are trained to support (prefix dims carry the coarse
    semantics; cosine is scale-invariant so no re-normalization is
    needed). Returns per-query |top-k(full) ∩ top-k(truncated)| and the
    recall ratio; a pipeline would threshold this audit before swapping
    the truncated index in for a 4x footprint cut.

    Determinism: both rankings use the repo's sequential-fold cosine
    (bit-identical across engines), ties broken by neighbor id; both
    row_number windows ride the SAME pair relation, so Spark computes
    the two rankings in one shuffle over query_id. Scale: the query set
    is broadcast (q34's brute-force pattern — the audit runs over a
    sampled query set, not the corpus square); the per-query state is
    top-k-bounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(F.col("q_emb"), F.col("embedding")).alias("cos_full"),
            cosine(
                F.slice(F.col("q_emb"), 1, _MRL_DIMS),
                F.slice(F.col("embedding"), 1, _MRL_DIMS),
            ).alias("cos_trunc"),
        )
    )
    w_full = W.partitionBy("query_id").orderBy(F.col("cos_full").desc(), "neighbor_id")
    w_trunc = W.partitionBy("query_id").orderBy(
        F.col("cos_trunc").desc(), "neighbor_id"
    )
    ranked = pairs.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(w_full).alias("rnk_full"),
        F.row_number().over(w_trunc).alias("rnk_trunc"),
    )
    f = ranked.filter(F.col("rnk_full") <= _MRL_TOPK).select(
        "query_id", "neighbor_id"
    )
    t = ranked.filter(F.col("rnk_trunc") <= _MRL_TOPK).select(
        F.col("query_id").alias("t_qid"), F.col("neighbor_id").alias("t_nid")
    )
    joined = f.join(
        t,
        (F.col("t_qid") == F.col("query_id")) & (F.col("t_nid") == F.col("neighbor_id")),
        "left",
    )
    return (
        joined.groupBy("query_id")
        .agg(F.count("t_nid").alias("n_overlap"))
        .select(
            "query_id",
            "n_overlap",
            (F.col("n_overlap").cast("double") / _MRL_TOPK).alias(
                f"recall_at_{_MRL_TOPK}"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q219 — per-dimension variance screening of the embedding matrix.
# ---------------------------------------------------------------------------
_VAR_TOPK = 10


@query(
    "q219_dimension_variance",
    oracle=f"""
WITH exploded AS (
    SELECT unnest(embedding)::DOUBLE AS val,
           generate_subscripts(embedding, 1) AS dim
    FROM embeddings
),
mom AS (
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(round(val, 9) AS DECIMAL(18,9))) AS s,
           SUM(CAST(round(val * val, 9) AS DECIMAL(18,9))) AS ssq
    FROM exploded GROUP BY dim
),
vars AS (
    SELECT dim, n,
           ({sql_double('ssq')} - {sql_double('s')} * {sql_double('s')} / n) / n
             AS variance
    FROM mom
)
SELECT dim, n, variance FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY variance DESC, dim) AS rk FROM vars
) t WHERE rk <= {_VAR_TOPK}
ORDER BY variance DESC, dim
""",
)
def q219_dimension_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance screening of the embedding matrix — the
    feature-selection / whitening-diagnostic pass (dead dimensions have
    ~zero variance; rogue unnormalized ones dominate distances): top-10
    highest-variance dimensions by the population formula (ssq - s^2/n)
    / n. First and second moments are quantized round(.,9) -> DECIMAL
    (the q37/kmeans centroid pin) so both sums are exact in any
    partition order; the variance expression is three fixed-order double
    ops on VARCHAR-path values.

    Scale: posexplode emits 64 rows per vector into a 64-group
    aggregate — pure map-side combine, constant final state; the top-k
    runs on 64 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(F.posexplode("embedding").alias("pos", "val")).select(
        (F.col("pos") + 1).alias("dim"), F.col("val").cast("double").alias("val")
    )
    mom = exploded.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("val"), 9).cast("decimal(18,9)")).alias("s"),
        F.sum(F.round(F.col("val") * F.col("val"), 9).cast("decimal(18,9)")).alias(
            "ssq"
        ),
    )
    s_d = F.col("s").cast("double")
    variance = (F.col("ssq").cast("double") - s_d * s_d / F.col("n")) / F.col("n")
    ranked = mom.select("dim", "n", variance.alias("variance")).withColumn(
        "rk", F.row_number().over(W.orderBy(F.col("variance").desc(), "dim"))
    )
    return (
        ranked.filter(F.col("rk") <= _VAR_TOPK)
        .select("dim", "n", "variance")
        .orderBy(F.col("variance").desc(), "dim")
    )


# ---------------------------------------------------------------------------
# q303 — mutual k-nearest-neighbor pairs (reciprocal top-k).
# ---------------------------------------------------------------------------
_MUTUAL_K = 5


@query(
    "q303_mutual_topk_pairs",
    oracle=f"""
WITH scored AS (
    SELECT q.vec_id AS src, c.vec_id AS dst, {_SQL_COS} AS cos_sim
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
),
topk AS (
    SELECT src, dst, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY cos_sim DESC, dst) AS rank
    FROM scored
    QUALIFY rank <= {_MUTUAL_K}
)
SELECT a.src AS vec_a, a.dst AS vec_b, a.cos_sim,
       a.rank AS rank_ab, b.rank AS rank_ba
FROM topk a
JOIN topk b ON b.src = a.dst AND b.dst = a.src
WHERE a.src < a.dst
ORDER BY vec_a, vec_b
""",
)
def q303_mutual_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal k-NN: pairs where EACH vector is in the other's cosine
    top-5 — the mutual-kNN graph whose edges are the standard seeds
    for density-based clustering and near-dup verification (one-way
    top-k is noisy near hubs; mutuality filters hub edges out). Output
    carries both ranks, so the asymmetry of the relation stays visible.

    Unlike q34 (a fixed 5-query set against the corpus), every vector is
    a query here: corpus × corpus scoring, per-source top-k via window
    rank with the deterministic tiebreak, then a self-join on the
    reversed pair to keep mutual edges. cos_sim is the q34 fold —
    bit-identical doubles in both engines.

    Scale: brute-force corpus² scoring is the EXACTNESS baseline, viable
    to ~10^5 vectors (broadcast one side, map-only score, one shuffle of
    n·k survivors into the rank). At 100 TB the same mutuality test runs
    over q35/q37's LSH/IVF candidate pairs instead — the reciprocal join
    (this query's second half) is unchanged, only candidate generation
    swaps, which is exactly how the operator is factored."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Stage each vector's norm ONCE (n rows) instead of re-folding the two
    # self-dots inside every one of the n² pair rows — same doubles, 3×
    # less HOF work (the q142 stage-don't-inline rule applied to joins).
    # Repartition: the fixture is one file, and a broadcast join is
    # map-only, so without this the whole n² scoring runs in ONE task.
    normed = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    corpus = normed.select(
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        normed.select(
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .join(F.broadcast(corpus), F.col("dst") != F.col("src"))
        .select(
            "src",
            "dst",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst"))
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= _MUTUAL_K
    )
    rev = topk.select(
        F.col("src").alias("dst"),
        F.col("dst").alias("src"),
        F.col("rank").alias("rank_ba"),
    )
    return (
        topk.join(rev, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("vec_a"),
            F.col("dst").alias("vec_b"),
            "cos_sim",
            F.col("rank").alias("rank_ab"),
            "rank_ba",
        )
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# q310 — grid-density clustering over embedding dims (DBSCAN-style).
# ---------------------------------------------------------------------------
_GRID = 8
_MINPTS = 8


@query(
    "q310_grid_density_clusters",
    oracle=f"""
WITH RECURSIVE pts AS (
    SELECT CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y
    FROM embeddings
),
bounds AS (
    SELECT MIN(x) AS mnx, (MAX(x) - MIN(x)) / {_GRID}.0 AS wx,
           MIN(y) AS mny, (MAX(y) - MIN(y)) / {_GRID}.0 AS wy
    FROM pts
),
cells AS (
    SELECT CAST(CASE WHEN b.wx = 0 THEN 0
                     ELSE LEAST(FLOOR((x - b.mnx) / b.wx), {_GRID - 1}) END
                AS BIGINT) AS cx,
           CAST(CASE WHEN b.wy = 0 THEN 0
                     ELSE LEAST(FLOOR((y - b.mny) / b.wy), {_GRID - 1}) END
                AS BIGINT) AS cy
    FROM pts, bounds b
),
dense AS (
    SELECT cx, cy, cx * {_GRID} + cy AS cell_id,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM cells GROUP BY 1, 2
    HAVING COUNT(*) >= {_MINPTS}
),
edges AS (
    SELECT a.cell_id AS ca, b.cell_id AS cb
    FROM dense a JOIN dense b
      ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
     AND a.cell_id < b.cell_id
),
bidir AS (
    SELECT ca AS a, cb AS b FROM edges
    UNION ALL SELECT cb, ca FROM edges
),
reach(node, lbl) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM bidir) n
    UNION
    SELECT e.b, r.lbl FROM bidir e JOIN reach r ON e.a = r.node
),
lbl AS (SELECT node, MIN(lbl) AS cluster FROM reach GROUP BY node),
labeled AS (
    SELECT d.*, COALESCE(l.cluster, d.cell_id) AS cluster
    FROM dense d LEFT JOIN lbl l ON l.node = d.cell_id
)
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(n) AS BIGINT) AS n_points,
       CAST(MIN(cx) AS BIGINT) AS min_cx, CAST(MAX(cx) AS BIGINT) AS max_cx,
       CAST(MIN(cy) AS BIGINT) AS min_cy, CAST(MAX(cy) AS BIGINT) AS max_cy
FROM labeled
GROUP BY cluster
ORDER BY cluster
""",
)
def q310_grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering the distributable way (the GriDBSCAN /
    cell-based DBSCAN family): embed points onto a fixed 8×8 grid
    over two embedding dimensions (global min/max pass → exact double
    bin math, q159's recipe), keep cells with >= 8 points (the density
    threshold), and connect 8-adjacent dense cells into clusters with
    the engine's CC operator. k-means (q38) needs k up front and
    struggles with non-convex shapes; grid-density discovers cluster
    COUNT and shape, and its cost is bounded by the GRID, not the corpus
    — the property that makes density clustering feasible at 100 TB
    (cell counting is one map-side-combined aggregate; the adjacency
    graph has at most 64 cell nodes regardless of data size).

    Isolated dense cells are their own single-cell cluster (the
    COALESCE over CC labels — CC only sees edged nodes); the oracle runs
    the same pipeline with a recursive-CTE closure over the same
    bounded cell graph.

    Output per cluster: cell count, point count, and the grid bounding
    box a downstream ANN search would use as its candidate region."""
    emb = load_table(spark, sf_dir, "embeddings")
    from kinesis_sample_spark.operators.components import connected_components

    pts = emb.select(
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    bounds = pts.agg(
        F.min("x").alias("mnx"),
        ((F.max("x") - F.min("x")) / F.lit(float(_GRID))).alias("wx"),
        F.min("y").alias("mny"),
        ((F.max("y") - F.min("y")) / F.lit(float(_GRID))).alias("wy"),
    )

    def _cell(v, mn, w):
        return (
            F.when(F.col(w) == 0, F.lit(0))
            .otherwise(
                F.least(
                    F.floor((F.col(v) - F.col(mn)) / F.col(w)),
                    F.lit(_GRID - 1),
                )
            )
            .cast("bigint")
        )

    cells = pts.crossJoin(F.broadcast(bounds)).select(
        _cell("x", "mnx", "wx").alias("cx"), _cell("y", "mny", "wy").alias("cy")
    )
    dense = (
        cells.groupBy("cx", "cy")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= _MINPTS)
        .withColumn("cell_id", F.col("cx") * _GRID + F.col("cy"))
        .localCheckpoint(eager=True)  # feeds the self-join AND the CC loop
    )
    a = dense.alias("a")
    b = dense.alias("b")
    edges = a.join(
        b,
        (F.abs(F.col("a.cx") - F.col("b.cx")) <= 1)
        & (F.abs(F.col("a.cy") - F.col("b.cy")) <= 1)
        & (F.col("a.cell_id") < F.col("b.cell_id")),
    ).select(F.col("a.cell_id").alias("ca"), F.col("b.cell_id").alias("cb"))
    cc = connected_components(edges, "ca", "cb")
    labeled = dense.join(
        cc.select(F.col("node").alias("cell_id"), "component"), "cell_id", "left"
    ).withColumn("cluster", F.coalesce("component", F.col("cell_id")))
    return (
        labeled.groupBy("cluster")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("n").alias("n_points"),
            F.min("cx").alias("min_cx"),
            F.max("cx").alias("max_cx"),
            F.min("cy").alias("min_cy"),
            F.max("cy").alias("max_cy"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# q334 — int8 scalar quantization audit via mapInArrow (round 15).
# ---------------------------------------------------------------------------
_QSCALE = 1_000_000  # float -> int64 micro-units (round-half-up, both engines)


def _quant_batches(it):
    """Arrow-native int8 symmetric quantization: per-vector amax scale,
    integer round-half-up, exact integer reconstruction-error numerator.
    Vectorized numpy over each Arrow RecordBatch — no pandas conversion
    anywhere on the path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in it:
        ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
        emb = batch.column("embedding")
        lengths = pc.list_value_length(emb).to_numpy(zero_copy_only=False)
        lengths = lengths.astype(np.int64)
        if len(ids) == 0:
            # zero-row RecordBatch: a legitimate (if rare) Arrow stream
            # shape, not a fixture violation — emit nothing and move on
            continue
        if (lengths <= 0).any():
            # fixture contract: non-empty vectors; fail loudly, not NaN
            raise ValueError("q334: empty embedding vector in batch")
        flat = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        xi = np.floor(flat * _QSCALE + 0.5).astype(np.int64)
        starts = np.zeros(len(lengths), dtype=np.int64)
        np.cumsum(lengths[:-1], out=starts[1:])
        absxi = np.abs(xi)
        amax = np.maximum.reduceat(absxi, starts)
        keep = amax > 0  # all-zero vectors can't be amax-scaled
        amax_rep = np.repeat(amax, lengths)
        # all-zero vectors are dropped below (keep mask); clamp their
        # denominator to 1 so the vectorized divide never sees a zero
        den = np.maximum(amax_rep, 1)
        # q = round_half_up(127*xi/amax), sign split so // stays on
        # non-negative operands (floor == trunc on both engines)
        q = np.sign(xi) * ((254 * absxi + den) // (2 * den))
        err = np.abs(127 * xi - q * amax_rep)
        out = pa.RecordBatch.from_arrays(
            [
                pa.array(ids[keep], pa.int64()),
                pa.array(lengths[keep], pa.int64()),
                pa.array(amax[keep], pa.int64()),
                pa.array(np.add.reduceat(err, starts)[keep], pa.int64()),
                pa.array(np.maximum.reduceat(np.abs(q), starts)[keep], pa.int64()),
            ],
            names=["vec_id", "n_dims", "amax_u", "sum_err_num", "max_abs_q"],
        )
        yield out


@query(
    "q334_int8_quantization_audit",
    oracle=f"""
WITH i AS (
  SELECT vec_id,
         CAST(floor(CAST(x AS DOUBLE) * {_QSCALE} + 0.5) AS BIGINT) AS xi
  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
),
a AS (
  SELECT vec_id, max(abs(xi)) AS amax_u, CAST(count(*) AS BIGINT) AS n_dims
  FROM i GROUP BY vec_id
),
q AS (
  SELECT i.vec_id, a.amax_u, a.n_dims, xi,
         CAST(sign(xi) AS BIGINT)
           * ((254 * abs(xi) + a.amax_u) // (2 * a.amax_u)) AS qv
  FROM i JOIN a USING (vec_id)
  WHERE a.amax_u > 0
)
SELECT vec_id,
       any_value(n_dims) AS n_dims,
       any_value(amax_u) AS amax_u,
       CAST(sum(abs(127 * xi - qv * amax_u)) AS BIGINT) AS sum_err_num,
       max(abs(qv)) AS max_abs_q
FROM q GROUP BY vec_id ORDER BY vec_id
""",
)
def q334_int8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric (amax) quantization of the embedding column — the
    vector-compression step a 100 TB ANN index actually ships (4× smaller
    vectors, SIMD int8 dot products) — audited exactly: per vector, the
    micro-unit amax scale, the integer reconstruction-error numerator
    sum|127*x - q*amax| (the cross-multiplied form of sum|x - q*amax/127|,
    so no division ever happens), and max|q| (== 127 whenever amax > 0:
    the argmax element must hit the top code exactly — a clamping or
    off-by-one in the rounding shows up here first).

    vs q142 (stated up front): q142 audits the ASYMMETRIC min/max affine
    code entirely JVM-side (transform/aggregate HOFs, double arithmetic)
    — its point is the higher-order-function plan. q334 exists for the
    opposite corner: the SYMMETRIC amax code ANN engines use for int8
    dot products, integer-exact end-to-end, through an engine surface
    the registry had never exercised. Same pipeline stage, different
    code family, different arithmetic contract, different surface.

    ENGINE SURFACE (new in round 15): ``mapInArrow`` — the Arrow-native
    map UDF, previously unexercised (the registry's Python surfaces are
    pandas UDFs / applyInPandas / UDTF). The batch iterator yields
    ``pyarrow.RecordBatch`` directly: no pandas materialization, numpy
    ``reduceat`` over the flattened list offsets does all per-vector
    folds, and the output batch is built column-at-a-time. For wide
    binary/array columns (embeddings, image tensors) this is the fast
    Python path — pandas would copy every list into a Python object.

    Determinism: float32 -> float64 widening is exact on both engines;
    x*1e6+0.5 / floor is one identically-ordered double expression; all
    arithmetic after that is int64 (round-half-up via the sign-split
    (254|x|+amax) div (2*amax), non-negative operands so floor == trunc
    on both engines — the q329 integer-rounding recipe). Error bound
    test: per element |127*xi - q*amax| <= amax/2 + amax/2 ... <= amax
    (rounding error <= half a code step), pinned in
    tests/test_round15_ops.py.

    Scale: one narrow map over the vectors (no shuffle until the
    deterministic-output sort, which a production run drops); per-batch
    memory is O(batch * dim) int64. Cites reference behavior A12
    (decode/projection) as the nearest family: a typed columnar decode
    stage."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = emb.mapInArrow(
        _quant_batches,
        "vec_id bigint, n_dims bigint, amax_u bigint, "
        "sum_err_num bigint, max_abs_q bigint",
    )
    return out.orderBy("vec_id")


# ---------------------------------------------------------------------------
# q335 — per-label medoid selection via applyInArrow (round 15).
# ---------------------------------------------------------------------------
def _medoid_group(table):
    """One label's members as a pyarrow.Table -> its exact medoid row.

    Integer-exact Gram identity instead of the O(n^2 d) pairwise matrix:
    cost_i = sum_j ||xi-xj||^2 = n*||xi||^2 + S - 2*(xi . total), with
    S = sum_j ||xj||^2 and total = sum_j xj — O(n*d) per group, and the
    same three aggregates a DISTRIBUTED medoid pass would compute when a
    label no longer fits one task. Everything int64 with headroom
    asserts; ties on cost break to the smallest vec_id."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = table.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
    emb = table.column("embedding")
    lengths = pc.list_value_length(emb).to_numpy(zero_copy_only=False)
    if len(set(lengths.tolist())) != 1:
        raise ValueError("q335: ragged embedding dims within a label")
    d = int(lengths[0])
    # table.column() yields a ChunkedArray; combine before the ListArray
    # flatten (ChunkedArray.flatten() means struct-flatten, not list)
    emb_arr = emb.combine_chunks()
    flat = emb_arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    xi = np.floor(flat * _QSCALE + 0.5).astype(np.int64).reshape(len(ids), d)
    n = len(ids)
    # int64 headroom, checked in PYTHON ints BEFORE any int64 arithmetic
    # can wrap: with m = max|xi|+1, every intermediate below (norms,
    # S, dots, and the cost n*norm + S - 2*dots) is bounded by
    # 4*n*d*m^2 (Cauchy-Schwarz bounds |dots| by n*d*m^2). A group too
    # hot for int64 raises loudly — mirroring the oracle, whose HUGEINT
    # sum errors on its final BIGINT cast rather than wrapping.
    m = int(np.floor(np.abs(flat).max() * _QSCALE + 0.5)) + 1
    if 4 * n * d * m * m >= 2**63:
        raise ValueError("q335: int64 headroom exceeded for this group")
    norms = (xi * xi).sum(axis=1)
    s_all = int(norms.sum())
    total = xi.sum(axis=0)
    dots = xi @ total  # numpy int64 matmul is exact (no float BLAS path)
    costs = n * norms + s_all - 2 * dots
    best = np.lexsort((ids, costs))[0]
    label = table.column("label")[0].as_py()
    return pa.Table.from_arrays(
        [
            pa.array([int(label)], pa.int32()),
            pa.array([n], pa.int64()),
            pa.array([int(ids[best])], pa.int64()),
            pa.array([int(costs[best])], pa.int64()),
        ],
        names=["label", "n_members", "medoid_id", "medoid_cost"],
    )


#: exact integer dot for the oracle (sql_dot casts to DOUBLE, which loses
#: exactness above 2^53 — these dots reach ~1e18; list_sum on BIGINT
#: accumulates in HUGEINT, so the whole pipeline is overflow-safe)
_SQL_INT_DOT = (
    "list_sum(list_transform(list_zip(a.xi, b.xi), x -> x[1] * x[2]))"
)


@query(
    "q335_label_medoids",
    oracle=f"""
WITH i AS (
  SELECT vec_id, label,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * {_QSCALE} + 0.5) AS BIGINT)) AS xi
  FROM embeddings
),
n AS (
  SELECT vec_id, label, xi,
         list_sum(list_transform(xi, v -> v * v)) AS nrm
  FROM i
),
cost AS (
  SELECT a.label, a.vec_id,
         CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(a.nrm + b.nrm - 2 * {_SQL_INT_DOT}) AS BIGINT) AS cost
  FROM n a JOIN n b USING (label)
  GROUP BY a.label, a.vec_id
),
r AS (
  SELECT label, vec_id, n_members, cost,
         row_number() OVER (PARTITION BY label ORDER BY cost, vec_id) AS rk
  FROM cost
)
SELECT label, n_members, vec_id AS medoid_id, cost AS medoid_cost
FROM r WHERE rk = 1 ORDER BY label
""",
)
def q335_label_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label MEDOID — the actual member minimizing the summed squared
    distance to its label-mates (k-medoids' representative-selection
    step; unlike q121's centroids, a medoid is an existing vector, robust
    to outliers, and directly usable as an exemplar for retrieval or
    curriculum seeding). Exact: vectors land in int64 micro-units (the
    q334 scale), the cost is the integer Gram identity
    n*||xi||^2 + S - 2*(xi . total) (self term 0, mirrored by the
    oracle's self-inclusive pairwise sum), argmin ties break to the
    smallest vec_id on both engines. The oracle's pairwise dot uses a
    BIGINT list_zip fold because list_dot_product casts to DOUBLE and
    these dots exceed 2^53.

    ENGINE SURFACE (new in round 15): ``applyInArrow`` — the GROUPED
    Arrow UDF (q334 covers the map-side mapInArrow; every other grouped
    Python surface here is pandas-based). Each label arrives as one
    pyarrow.Table; numpy does the O(n*d) fold without a pandas
    conversion.

    Scale: one shuffle on label, O(n*d) per group via the Gram identity
    (NOT the O(n^2*d) pairwise matrix), 4-column one-row-per-label
    output. A label too large for one task decomposes into the same
    three aggregates (norms, their sum, the component total) as
    distributed groupBy reductions followed by a map-side argmin — the
    identity is the distributed plan; the in-group form exists to
    exercise the grouped-Arrow surface."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = emb.groupBy("label").applyInArrow(
        _medoid_group,
        "label int, n_members bigint, medoid_id bigint, medoid_cost bigint",
    )
    return out.orderBy("label")
