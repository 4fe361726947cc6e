"""Multimodal-column plumbing — north-star LLM-pipeline surface.

Images/audio/video are opaque ``binary`` columns plus a typed metadata
struct; decode / feature-extraction runs as Arrow-batched pandas UDFs via
``mapInPandas``. The real decoders (PIL / libav / librosa) are not in this
container, so the decode step is a clearly-marked deterministic stub — the
Spark-side plumbing (schema, batch iteration, partitioning, UDF signature)
is real and oracle-checked: the stub's features (byte length, additive
checksum, head bytes) are recomputable in SQL.

Scale: mapInPandas streams Arrow batches — constant memory per task, no
driver involvement; binary payloads never shuffle (features are extracted
before any wide operation).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_sample_spark.catalog import load_table
from kinesis_sample_spark.queries import query

try:  # capability probe — the stub self-upgrades when a decoder exists
    from PIL import Image

    HAVE_PIL = True
except ImportError:
    Image = None
    HAVE_PIL = False

FEATURE_SCHEMA = (
    "doc_id bigint, fmt string, width int, height int, "
    "byte_len int, checksum bigint, head_hex string"
)


def decode_media(data: bytes, fmt: str, strict: bool = True) -> dict:
    """Capability-gated decoder (an optional dependency is probed with an
    import-try, never required): byte-level features are always computed (deterministic, SQL-checkable —
    the q50 oracle path); for ``image/*`` payloads the function *also*
    decodes pixels when PIL is importable, and raises a clearly-marked
    ``NotImplementedError`` ONLY when no decoder exists in the
    environment — so dropping Pillow into the image upgrades the pipeline
    with zero code change.

    ``strict=False`` restores the pre-round-4 compatibility behavior for
    external callers: an image payload with no decoder present degrades
    to byte-only features instead of raising (the caller sees the missing
    ``px_*`` keys and can branch on that)."""
    feats = {
        "byte_len": len(data),
        "checksum": sum(data) % 997,
        "head_hex": data[:8].hex(),
    }
    if fmt.startswith("image/"):
        if not HAVE_PIL:
            if not strict:
                return feats
            raise NotImplementedError(
                "no image decoder in this environment (pip install pillow "
                "to enable real pixel decode); byte-level features remain "
                "available for non-image formats, or pass strict=False to "
                "degrade to byte-only features"
            )
        import io

        with Image.open(io.BytesIO(data)) as im:  # pragma: no cover — PIL absent in CI image
            feats.update(px_width=im.width, px_height=im.height, px_mode=im.mode)
    return feats


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = [decode_media(d, f) for d, f in zip(pdf["media"], pdf["fmt"])]
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "fmt": pdf["fmt"].values,
                "width": pdf["width"].values,
                "height": pdf["height"].values,
                "byte_len": [f["byte_len"] for f in feats],
                "checksum": [f["checksum"] for f in feats],
                "head_hex": [f["head_hex"] for f in feats],
            }
        )
        yield out


@query(
    "q50_media_features",
    oracle="""
SELECT doc_id,
       'fake/text' AS fmt,
       CAST(n_chars % 640 AS INTEGER) AS width,
       CAST(doc_id % 480 AS INTEGER) AS height,
       CAST(length(text) AS INTEGER) AS byte_len,
       CAST(list_aggregate(list_transform(range(1, length(text) + 1),
                                          i -> ascii(substring(text, i, 1))), 'sum')
            % 997 AS BIGINT) AS checksum,
       lower(to_hex(encode(substring(text, 1, 8)))) AS head_hex
FROM documents
ORDER BY doc_id
""",
)
def q50_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media ingestion pipeline: build the binary envelope (media bytes +
    typed metadata), then feature-extract through an Arrow-batched
    ``mapInPandas``. The oracle recomputes the stub features in SQL, so the
    whole UDF exchange (schema, batching, binary round trip) is
    value-checked — not just smoke-tested."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("media"),  # opaque bytes stand-in
        F.lit("fake/text").alias("fmt"),
        (F.col("n_chars") % 640).cast("int").alias("width"),
        (F.col("doc_id") % 480).cast("int").alias("height"),
    )
    return media.mapInPandas(_extract_features, FEATURE_SCHEMA).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q65 — scalar pandas UDF (Arrow-vectorized) with exact oracle parity.
# ---------------------------------------------------------------------------
def _make_vector_norm_udf():
    """L2 norm with explicit sequential accumulation — NumPy's sum uses
    pairwise summation whose float result differs from the oracle's
    sequential fold; the per-element loop keeps the UDF bit-identical to
    sqrt(list_dot_product(v,v)). (For throughput-first production use
    np.linalg.norm and drop oracle exactness.)

    Built lazily: decorating with a DDL return type at import time needs
    an active SparkSession, and query modules import session-free.
    """

    @F.pandas_udf("double")
    def _vector_norm(embs: pd.Series) -> pd.Series:
        import math

        out = []
        for v in embs:
            acc = 0.0
            for x in v:
                xd = float(x)
                acc += xd * xd
            out.append(math.sqrt(acc))
        return pd.Series(out)

    return _vector_norm


@query(
    "q65_pandas_vector_norm",
    oracle="""
SELECT vec_id, label,
       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
FROM embeddings
ORDER BY vec_id
""",
)
def q65_pandas_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-pandas-UDF path (Arrow batches, vectorized transport):
    per-row embedding norms, hash-matched against the SQL oracle — proving
    the Python exchange preserves values exactly, not just approximately."""
    from kinesis_sample_spark.catalog import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    vector_norm = _make_vector_norm_udf()
    return (
        emb.select("vec_id", "label", vector_norm("embedding").alias("norm"))
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# q133 — frame sampling: 1:N mapInPandas over binary "video" payloads.
# ---------------------------------------------------------------------------
_FRAME_BYTES = 16
_FRAME_STRIDE = 4  # keep every 4th frame
_MAX_FRAMES = 5  # per document

FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, n_frames bigint, checksum bigint"


def sample_frames(data: bytes) -> list[dict]:
    """Stub frame decoder: treat the payload as fixed-16-byte frames and
    keep every 4th, max 5 — the deterministic stand-in for "decode video,
    sample keyframes" (a real libav build would replace the slicing, not
    the pipeline). Emits byte-checksum features per kept frame."""
    n_frames = -(-len(data) // _FRAME_BYTES)
    out = []
    for i in list(range(0, n_frames, _FRAME_STRIDE))[:_MAX_FRAMES]:
        frame = data[i * _FRAME_BYTES : (i + 1) * _FRAME_BYTES]
        out.append({"frame_idx": i, "n_frames": n_frames, "checksum": sum(frame) % 997})
    return out


def _sample_frames_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for doc_id, data in zip(pdf["doc_id"], pdf["media"]):
            for f in sample_frames(data):
                rows.append((doc_id, f["frame_idx"], f["n_frames"], f["checksum"]))
        yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "n_frames", "checksum"])


@query(
    "q133_frame_sampling",
    oracle=f"""
WITH f AS (
  SELECT doc_id, text, length(text) AS L FROM documents
),
idx AS (
  SELECT doc_id, L,
         unnest(list_slice(range(0, CAST(ceil(L / {_FRAME_BYTES}.0) AS BIGINT),
                                 {_FRAME_STRIDE}), 1, {_MAX_FRAMES})) AS frame_idx,
         text
  FROM f
),
fr AS (
  SELECT doc_id, frame_idx,
         CAST(ceil(L / {_FRAME_BYTES}.0) AS BIGINT) AS n_frames,
         substring(text, frame_idx * {_FRAME_BYTES} + 1, {_FRAME_BYTES}) AS sub
  FROM idx
)
SELECT doc_id, frame_idx, n_frames,
       CAST(list_aggregate(list_transform(range(1, len(sub) + 1),
                                          i -> ascii(substring(sub, i, 1))), 'sum')
            % 997 AS BIGINT) AS checksum
FROM fr
ORDER BY doc_id, frame_idx
""",
)
def q133_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe sampling over binary media: unlike q50's 1:1 feature
    extraction, every input row fans out to N output rows inside the
    Arrow batch iterator — the mapInPandas shape video/audio pipelines
    actually need (decode once, emit per-frame/per-segment rows). The
    oracle slices the same frames out of the UTF-8 stand-in payload in
    SQL, so frame boundaries, stride sampling, and per-frame checksums
    are all value-gated. Scale: map-only until the final sort; payload
    bytes cross into Python once per row via Arrow, already partitioned."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select("doc_id", F.encode("text", "UTF-8").alias("media"))
    return media.mapInPandas(_sample_frames_batches, FRAME_SCHEMA).orderBy(
        "doc_id", "frame_idx"
    )
