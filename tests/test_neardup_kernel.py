"""Edge cases of q36's two Arrow kernels (``_neardup_buckets`` and
``_neardup_pairs`` in ``queries/similarity.py``).

Each case is a tiny ``embeddings.parquet`` built from the LSH hyperplanes
themselves, so its buckets are known. The expected outputs are what the
former join plan of q36 (zip_with/aggregate dot products, two band
self-joins) returned on the same files; the kernels return the same rows
and raise where that plan raised. One deliberate difference: a vector of
the wrong width raises ``ValueError`` here, where the join plan bucketed
it by null dot products and paired it with vectors of its own width.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kinesis_sample_spark.queries import load_registry
from kinesis_sample_spark.queries.similarity import (
    _PLANES,
    DIM,
    _neardup_buckets,
    _neardup_pairs,
)

NEARDUP = load_registry()["q36_embedding_neardup"].fn

#: every plane's dot with UP is positive (buckets 15 and 15); every dot
#: with DOWN is negative (buckets 0 and 0)
UP = [sum(p[d] for p in _PLANES) for d in range(DIM)]
DOWN = [-x for x in UP]
ZERO = [0.0] * DIM


def _scaled(v, s):
    return [x * s for x in v]


def _with(v, k, x):
    out = list(v)
    out[k] = x
    return out


#: case -> (vectors by vec_id, None for a null embedding; expected rows)
CASES = {
    # NaN sets every sign bit (Spark orders NaN above every value), so 2
    # and 3 share UP's buckets, and a NaN cosine passes the >= 0.35 filter
    "nan": (
        [UP, _scaled(UP, 2.0), _with(UP, 0, math.nan), _with(UP, 5, math.nan), DOWN],
        [(0, 1, 1.0), (0, 2, math.nan), (0, 3, math.nan), (1, 2, math.nan), (1, 3, math.nan), (2, 3, math.nan)],
    ),
    # a null embedding or a null element gives null dots: never in a pair
    "nulls": (
        [UP, _scaled(UP, 2.0), None, _with(UP, 7, None), _scaled(UP, 3.0), DOWN],
        [(0, 1, 1.0), (0, 4, 0.9999999999999993), (1, 4, 0.9999999999999993)],
    ),
    # three vectors with pairwise distinct buckets in both bands
    "singletons": (
        [UP, DOWN, [a - b + c - d for a, b, c, d in zip(*(_PLANES[j] for j in (0, 1, 4, 5)))]],
        [],
    ),
    # 0-1 collide in both bands and are emitted once; 0-2 and 1-2 collide
    # only in band 2 (their first sign bit differs)
    "bands": (
        [UP, _scaled(UP, 2.0), [u - 2.0 * p for u, p in zip(UP, _PLANES[0])]],
        [(0, 1, 1.0), (0, 2, 0.7712843376633339), (1, 2, 0.7712843376633339)],
    ),
    "empty": ([], []),
}

#: a zero-norm vector raises, whether or not it shares a bucket (the join
#: plan divided by zero on the vector's pair with itself)
RAISING = {
    "zero_pair": [ZERO, DOWN],
    "zero_alone": [ZERO, UP, _with(DOWN, 3, None)],
}


def _write(tmp_path, case, vectors):
    table = pa.table(
        {
            "vec_id": pa.array(range(len(vectors)), pa.int64()),
            "embedding": pa.array(vectors, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vectors), pa.int32()),
        }
    )
    out = tmp_path / case
    out.mkdir()
    pq.write_table(table, out / "embeddings.parquet")
    return str(out)


@pytest.mark.parametrize("case", sorted(CASES))
def test_neardup_matches_join_plan(spark, tmp_path, case):
    vectors, expected = CASES[case]
    got = [tuple(r) for r in NEARDUP(spark, _write(tmp_path, case, vectors)).collect()]
    # NaN != NaN: compare cosines by repr
    assert [(a, b, repr(c)) for a, b, c in got] == [(a, b, repr(c)) for a, b, c in expected]


@pytest.mark.parametrize("case", sorted(RAISING))
def test_neardup_zero_norm_raises(spark, tmp_path, case):
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        NEARDUP(spark, _write(tmp_path, case, RAISING[case])).collect()


def test_neardup_kernel_edges():
    """An empty Arrow batch and a singleton group yield no pairs; a
    vector of the wrong width raises."""
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
    assert list(_neardup_buckets([pa.RecordBatch.from_pylist([], schema)])) == []
    (banded,) = _neardup_buckets([pa.RecordBatch.from_pylist([{"vec_id": 4, "embedding": UP}], schema)])
    assert banded.to_pydict()["bucket"] == [15, 15]
    pairs = _neardup_pairs(pa.Table.from_batches([banded.slice(0, 1)]))
    assert pairs.num_rows == 0
    assert pairs.schema.names == ["vec_a", "vec_b", "cos_sim"]
    ragged = pa.RecordBatch.from_pylist(
        [{"vec_id": 1, "embedding": UP}, {"vec_id": 2, "embedding": [1.0, 2.0, 3.0]}], schema
    )
    with pytest.raises(ValueError, match="ragged"):
        list(_neardup_buckets([ragged]))
