"""Multimodal spans: opaque binary payloads + typed metadata, with the
decode / feature-extract / resize / frame-sample stages as whole-batch
mapInArrow kernels.

The input_hint's interleaved documents carry `media_ref` spans; this module
gives them a real Spark shape: a `media` table (binary payload + kind +
typed metadata struct), per-kind decode kernels, and a stats query. The
image/audio/video codec libraries are NOT in this container, so the byte-
level decode is STUBBED with a deterministic fake (documented below); the
Spark-side plumbing — binary columns through Arrow, per-kind dispatch,
batch-shaped kernels, metadata schema — is real and tested. Swap
`_fake_decode_*` for PIL/librosa/pyav calls (the guarded import shows
where) and nothing else changes.

Real-decoder status — CONTRACT-FINAL in this sandbox (ruled 2026-08-19,
round 4): wiring PIL behind the stub gate was attempted and is impossible
here — `import PIL` fails, no wheel exists on disk, pip is forbidden and
there is no network to fetch one. The gate below stays so a deployment
where PIL IS importable fails loudly instead of serving fabricated stats.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

try:  # real decoders, if ever present in the image
    import PIL.Image  # noqa: F401

    _HAVE_PIL = True
except Exception:  # noqa: BLE001
    _HAVE_PIL = False


MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), False),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.LongType(), True),  # image/video
        T.StructField("height", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),  # audio
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),  # video
        T.StructField("sampled_frames", T.ArrayType(T.LongType()), True),
    ]
)
_DECODED_ARROW = to_arrow_schema(DECODED_SCHEMA)


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Derive the media table from the documents corpus: one span per doc,
    kind round-robins by doc_id, payload = the doc's text bytes (stands in
    for the blob a media_ref would fetch; deterministic, so oracles can
    recompute every downstream stat from `length(text)`)."""
    kind = (
        F.when(F.pmod("doc_id", F.lit(3)) == 0, "image")
        .when(F.pmod("doc_id", F.lit(3)) == 1, "audio")
        .otherwise("video")
    )
    return documents.select(
        F.col("doc_id").cast("long"),
        F.concat(F.lit("ref://"), kind, F.lit("/"), F.col("doc_id")).alias(
            "media_ref"
        ),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )


def _fake_decode_image(payload: bytes):
    # STUB: deterministic stand-in for PIL.Image.open(io.BytesIO(payload))
    n = len(payload)
    return 16 + n % 240, 16 + (n * 7) % 240


def _fake_decode_audio(payload: bytes):
    # STUB: deterministic stand-in for an audio codec
    n = len(payload)
    return n * 4, 16000


def _fake_decode_video(payload: bytes):
    # STUB: deterministic stand-in for container demux + frame count probe
    n = len(payload)
    return 32 + n % 224, 32 + (n * 3) % 224, 1 + n % 30


def decode_media(media: DataFrame, frame_stride: int = 5) -> DataFrame:
    """Per-kind decode/probe as one Arrow-batched kernel. Video also
    frame-samples every `frame_stride`-th frame (the training-pipeline
    pattern: decode -> sample -> feature-extract)."""

    # Real codecs (PIL/librosa/pyav) are not wired up; the kernel emits
    # deterministic STUB decode output. A deployment where PIL IS importable
    # must not mistake fabricated widths/sample counts for real decodes:
    # require the explicit opt-in there (tests set it; codec-less containers
    # are unambiguous and run the stub silently).
    if _HAVE_PIL and os.environ.get("SPARK_GRAFT_MEDIA_FAKE") != "1":
        raise NotImplementedError(
            "real media codecs are importable here but decode_media only "
            "implements the deterministic stub — set SPARK_GRAFT_MEDIA_FAKE=1 "
            "to acknowledge stub output, or wire _fake_decode_* to the real "
            "decoders (geojson_vt_spark/sources/media.py)"
        )

    if frame_stride < 1:
        raise ValueError(f"frame_stride must be >= 1, got {frame_stride}")

    # every stub stat is a pure function of len(payload) and kind, so the
    # whole Arrow batch is processed with numpy column ops: per-kind boolean
    # masks + modular arithmetic on the length vector, and the video
    # frame-sample lists built on their offsets and values buffers. Real
    # codecs will be per-row by nature; the stub must not be.
    def kernel(batches):
        for batch in batches:
            n = pc.binary_length(batch.column("payload")).to_numpy().astype(np.int64)
            kind = batch.column("kind")
            is_img = pc.equal(kind, "image").to_numpy(zero_copy_only=False)
            is_aud = pc.equal(kind, "audio").to_numpy(zero_copy_only=False)
            is_vid = ~is_img & ~is_aud
            wh_mask = is_img | is_vid

            def masked(values, mask):
                return pa.array(values, pa.int64(), mask=~mask)

            n_frames = 1 + n % 30
            # video rows sample frames 0, stride, 2*stride, ... < n_frames
            k = np.where(is_vid, -(-n_frames // frame_stride), 0)
            off = np.zeros(len(n) + 1, np.int32)
            np.cumsum(k, out=off[1:])
            sampled = frame_stride * (np.arange(off[-1]) - np.repeat(off[:-1], k))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").cast(pa.int64()),
                    batch.column("media_ref"),
                    kind,
                    pa.array(n),
                    masked(np.where(is_img, 16 + n % 240, 32 + n % 224), wh_mask),
                    masked(np.where(is_img, 16 + (n * 7) % 240, 32 + (n * 3) % 224), wh_mask),
                    masked(n * 4, is_aud),
                    masked(np.full(len(n), 16000), is_aud),
                    masked(n_frames, is_vid),
                    pa.ListArray.from_arrays(
                        pa.array(off), pa.array(sampled, pa.int64()),
                        type=_DECODED_ARROW.field("sampled_frames").type,
                        mask=pa.array(~is_vid),
                    ),
                ],
                schema=_DECODED_ARROW,
            )

    return media.mapInArrow(kernel, DECODED_SCHEMA)


def q_media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind stats over the decoded media table. Every decoded field is a
    deterministic function of the payload length (== length(text)), so the
    DuckDB oracle recomputes the whole pipeline relationally."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    decoded = decode_media(media_from_documents(docs))
    return (
        decoded.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum(F.coalesce(F.col("width"), F.lit(0))).alias("sum_width"),
            F.sum(F.coalesce(F.col("n_samples"), F.lit(0))).alias("sum_samples"),
            F.sum(F.coalesce(F.size("sampled_frames"), F.lit(0))).cast("long").alias(
                "sum_sampled"
            ),
        )
    )


SQL_MEDIA_DECODE_STATS = """
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         strlen(text) AS n_bytes
  FROM documents
), decoded AS (
  SELECT kind, n_bytes,
         CASE WHEN kind = 'image' THEN 16 + n_bytes % 240
              WHEN kind = 'video' THEN 32 + n_bytes % 224 ELSE 0 END AS width,
         CASE WHEN kind = 'audio' THEN n_bytes * 4 ELSE 0 END AS n_samples,
         CASE WHEN kind = 'video'
              THEN CAST(CEIL((1 + n_bytes % 30) / 5.0) AS BIGINT) ELSE 0 END AS n_sampled
  FROM media
)
SELECT kind, COUNT(*) AS n_media,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(SUM(width) AS BIGINT) AS sum_width,
       CAST(SUM(n_samples) AS BIGINT) AS sum_samples,
       CAST(SUM(n_sampled) AS BIGINT) AS sum_sampled
FROM decoded GROUP BY kind
"""


QUERIES = {"media_decode_stats": q_media_decode_stats}
ORACLES = {"media_decode_stats": SQL_MEDIA_DECODE_STATS}
