"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, decoded/feature-extracted via Arrow-batched ``mapInPandas``.

The Spark-side design is real — schema, batching, partitioning, UDF
signatures — while the actual media decode is a STUB: the image/audio
libs are not in this container, so ``_decode_stub`` produces
deterministic fake metadata/features from the bytes themselves (and the
import-gated real path raises ``NotImplementedError``). Swapping the
stub for PIL/librosa/pyav is a one-function change; nothing in the plan
moves.

Scale notes: media blobs are the classic "wide row" hazard — the narrow
``mapInPandas`` keeps blobs inside one Arrow batch pass (no shuffle of
binary data); metadata-only outputs are what downstream joins touch.
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory
(20 MB blobs x 2048 default rows would OOM an executor — set it low for
real media).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_TYPES = ["image", "audio", "video"]

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)

_HAVE_PIL = False  # image libs absent in this container by design


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the opaque-binary media table from ``documents`` text
    bytes (deterministic; no external data). In production this is the
    Iceberg table with a binary column + object-store pointers."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("int").alias("n_bytes"),
    )


def _decode_real(media_type: str, payload: bytes) -> dict:
    raise NotImplementedError(
        "real media decode needs PIL/librosa/pyav — not in this container; "
        "the deterministic stub below carries the pipeline"
    )


def _decode_stub(media_type: str, payload: bytes) -> dict:
    """Deterministic fake decode: metadata derived from the bytes, so
    tests are stable and the Arrow plumbing is exercised end-to-end."""
    n = len(payload)
    h = hashlib.sha256(payload).hexdigest()
    seed = int(h[:8], 16)
    out: dict = {
        "sha256": h,
        "width": None,
        "height": None,
        "duration_s": None,
        "n_frames": None,
    }
    if media_type == "image":
        out["width"] = 64 + seed % 512
        out["height"] = 64 + (seed >> 9) % 512
    elif media_type == "audio":
        out["duration_s"] = round(0.5 + (seed % 10000) / 100.0, 2)
    else:  # video
        out["width"] = 320 + seed % 16 * 80
        out["height"] = 240 + (seed >> 4) % 16 * 60
        out["n_frames"] = 24 + seed % 1000
        out["duration_s"] = round(out["n_frames"] / 24.0, 4)
    # 8-dim "embedding": first 8 payload bytes scaled — stands in for a
    # real feature extractor; keeps the array<float> column shape honest
    feats = [round(b / 255.0, 6) for b in payload[:8]]
    feats += [0.0] * (8 - len(feats))
    out["features"] = feats
    return out


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in DECODED_SCHEMA.fields]
    decode = _decode_real if _HAVE_PIL else _decode_stub
    for pdf in batches:
        rows = []
        for media_id, media_type, payload, n_bytes in zip(
            pdf["media_id"], pdf["media_type"], pdf["payload"], pdf["n_bytes"]
        ):
            d = decode(media_type, bytes(payload))
            rows.append(
                {
                    "media_id": int(media_id),
                    "media_type": media_type,
                    "n_bytes": int(n_bytes),
                    **d,
                }
            )
        out = pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame({c: [] for c in cols})
        yield out


def decode_media(media: DataFrame) -> DataFrame:
    """The decode/feature-extract stage: narrow Arrow-batched map; blobs
    never cross a shuffle boundary."""
    return media.mapInPandas(_decode_batches, schema=DECODED_SCHEMA)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only contract query: per-type metadata aggregates after the
    stub decode (proves schema + batch shape + narrow plan)."""
    decoded = decode_media(media_table(spark, sf_dir))
    return decoded.groupBy("media_type").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("duration_s"), 4).alias("avg_duration_s"),
        F.round(F.avg("width"), 4).alias("avg_width"),
        F.countDistinct("sha256").alias("n_distinct"),
    )


RESIZE_W, RESIZE_H = 224, 224
FRAME_SAMPLE_N = 4


def resize_images(decoded: DataFrame, width: int = RESIZE_W, height: int = RESIZE_H) -> DataFrame:
    """Resize stage (images/videos only): a narrow Arrow-batched map
    emitting target dims + a letterbox scale factor. The pixel resample
    itself needs PIL (absent by design) — the stub computes the REAL
    geometry (aspect-preserving scale, letterbox padding) so the plan,
    schema, and batch shape match a production resize exactly; only the
    pixel buffer is omitted."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("src_width", T.IntegerType(), True),
            T.StructField("src_height", T.IntegerType(), True),
            T.StructField("dst_width", T.IntegerType(), False),
            T.StructField("dst_height", T.IntegerType(), False),
            T.StructField("scale", T.DoubleType(), True),
            T.StructField("pad_x", T.IntegerType(), True),
            T.StructField("pad_y", T.IntegerType(), True),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.media_type not in ("image", "video") or r.width is None:
                    continue
                scale = min(width / r.width, height / r.height)
                dw, dh = int(r.width * scale), int(r.height * scale)
                rows.append(
                    {
                        "media_id": int(r.media_id),
                        "media_type": r.media_type,
                        "src_width": int(r.width),
                        "src_height": int(r.height),
                        "dst_width": width,
                        "dst_height": height,
                        "scale": round(scale, 6),
                        "pad_x": (width - dw) // 2,
                        "pad_y": (height - dh) // 2,
                    }
                )
            cols = [f.name for f in out_schema.fields]
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame({c: [] for c in cols})

    return decoded.mapInPandas(gen, schema=out_schema)


def sample_frames(decoded: DataFrame, n_frames: int = FRAME_SAMPLE_N) -> DataFrame:
    """Frame-sampling stage (videos): uniformly pick ``n_frames`` frame
    indices across each video's n_frames span and emit one row per
    sampled frame with a deterministic per-frame feature (stub for the
    decoded frame tensor). Index formula: floor(i * total / n) for
    i in 0..n-1 — the arithmetic is real and oracle-checked; only the
    pixel decode is stubbed. Output explodes inside the Arrow batch, so
    blobs never cross a shuffle."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_no", T.IntegerType(), False),
            T.StructField("frame_index", T.IntegerType(), False),
            T.StructField("ts_s", T.DoubleType(), False),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if r.media_type != "video" or r.n_frames is None:
                    continue
                total = int(r.n_frames)
                k = min(n_frames, total)
                for i in range(k):
                    idx = (i * total) // n_frames
                    rows.append(
                        {
                            "media_id": int(r.media_id),
                            "frame_no": i,
                            "frame_index": idx,
                            "ts_s": round(idx / 24.0, 6),
                        }
                    )
            cols = [f.name for f in out_schema.fields]
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame({c: [] for c in cols})

    return decoded.mapInPandas(gen, schema=out_schema)


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked frame sampling: every video yields its uniformly
    sampled frame indices/timestamps."""
    frames = sample_frames(decode_media(media_table(spark, sf_dir)))
    return frames.select(
        "media_id",
        F.col("frame_no").cast("int").alias("frame_no"),
        F.col("frame_index").cast("int").alias("frame_index"),
        "ts_s",
    )


# The stub decode is pure deterministic arithmetic on sha256(payload),
# so the metadata aggregate has a REAL cross-engine oracle: DuckDB
# recomputes the identical seed/width/duration formulas from
# sha256(text) (payload := utf-8 bytes of text, so sha256 agrees).
# This upgrades multimodal from a rows-only check to a value-hashed
# one; only the (future) real codec path is unverifiable by SQL.
SQL_MULTIMODAL_META = """
    WITH m AS (
        SELECT doc_id AS media_id,
               ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
               octet_length(encode(text)) AS n_bytes,
               sha256(text) AS sha,
               CAST(('0x' || substr(sha256(text), 1, 8)) AS BIGINT) AS seed
        FROM documents
    ), d AS (
        SELECT media_id, media_type, n_bytes, sha,
               CASE media_type
                    WHEN 'audio' THEN round(0.5 + (seed % 10000) / 100.0, 2)
                    WHEN 'video' THEN round((24 + seed % 1000) / 24.0, 4)
               END AS duration_s,
               CASE media_type
                    WHEN 'image' THEN 64 + seed % 512
                    WHEN 'video' THEN 320 + (seed % 16) * 80
               END AS width
        FROM m
    )
    SELECT media_type,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           round(avg(duration_s), 4) AS avg_duration_s,
           round(avg(width), 4) AS avg_width,
           CAST(count(DISTINCT sha) AS BIGINT) AS n_distinct
    FROM d GROUP BY media_type
"""

# Frame sampling is the same deterministic arithmetic (n_frames from
# the sha256 seed, uniform index formula), so it is oracle-checked too.
SQL_MULTIMODAL_FRAMES = f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               CAST(('0x' || substr(sha256(text), 1, 8)) AS BIGINT) AS seed
        FROM documents WHERE doc_id % 3 + 1 = 3
    ), v AS (
        SELECT media_id, 24 + seed % 1000 AS total FROM m
    )
    SELECT media_id,
           CAST(i AS INT) AS frame_no,
           CAST((i * total) // {FRAME_SAMPLE_N} AS INT) AS frame_index,
           round(((i * total) // {FRAME_SAMPLE_N}) / 24.0, 6) AS ts_s
    FROM v, range({FRAME_SAMPLE_N}) t(i)
"""

AUDIO_SEG_WIN_S = 5.0  # fixed-window audio chunking width


def segment_audio(decoded: DataFrame, win_s: float = AUDIO_SEG_WIN_S) -> DataFrame:
    """Fixed-window audio segmentation plumbing: each audio row fans
    into ceil(duration/win) segments (media_id, seg_no, t0_s, t1_s),
    the last clipped to the duration — the schema/partitioning shape a
    real ASR/feature pass consumes (the decode itself stays the
    deterministic stub, like the image path). The fan-out is a bounded
    sequence explode (≤ duration/win rows per media, no shuffle);
    t0/t1 are exact products of the integer segment index, so the
    per-segment values are bit-identical cross-engine."""
    a = decoded.filter(F.col("media_type") == "audio")
    n_seg = F.greatest(
        F.ceil(F.col("duration_s") / F.lit(win_s)).cast("int"), F.lit(1)
    )
    return (
        a.select(
            "media_id",
            "duration_s",
            F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("seg_no"),
        )
        .select(
            "media_id",
            F.col("seg_no").cast("int").alias("seg_no"),
            F.round(F.col("seg_no") * F.lit(win_s), 2).alias("t0_s"),
            F.round(
                F.least(F.col("duration_s"), (F.col("seg_no") + 1) * F.lit(win_s)), 2
            ).alias("t1_s"),
        )
    )


def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked audio chunking: segments of every audio blob at
    AUDIO_SEG_WIN_S-second windows."""
    return segment_audio(decode_media(media_table(spark, sf_dir)))


SQL_AUDIO_SEGMENTS = f"""
    WITH m AS (
        SELECT doc_id AS media_id,
               ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
               CAST(('0x' || substr(sha256(text), 1, 8)) AS BIGINT) AS seed
        FROM documents
    ), a AS (
        SELECT media_id, round(0.5 + (seed % 10000) / 100.0, 2) AS duration_s
        FROM m WHERE media_type = 'audio'
    )
    SELECT media_id,
           CAST(seg_no AS INT) AS seg_no,
           round(seg_no * {AUDIO_SEG_WIN_S}, 2) AS t0_s,
           round(least(duration_s, (seg_no + 1) * {AUDIO_SEG_WIN_S}), 2) AS t1_s
    FROM (
        SELECT media_id, duration_s,
               unnest(range(0, greatest(CAST(ceil(duration_s / {AUDIO_SEG_WIN_S})
                                             AS INT), 1))) AS seg_no
        FROM a
    )
"""


# One entry per operator: name -> (query, DuckDB oracle SQL).
MULTIMODAL_OPS = {
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "multimodal_frames": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "audio_segments": (q_audio_segments, SQL_AUDIO_SEGMENTS),
}
MULTIMODAL_QUERIES = {n: q for n, (q, _) in MULTIMODAL_OPS.items()}
MULTIMODAL_ORACLES = {n: sql for n, (_, sql) in MULTIMODAL_OPS.items()}
