"""The Spark extraction pipeline (M1 in SURVEY.md §7).

Flow (north rule): read transcripts -> window over (conv_id, turn_idx)
for stable turn ordering -> explicit salted repartition -> one
``mapInArrow`` hot stage running the per-turn kernel (classify +
tokenize + layout + postprocess, all Arrow-batched, zero per-row
Python UDFs) -> parquet/metrics sinks.

Scale design notes
------------------
- The hot stage is a NARROW map over Arrow record batches, with both
  shuffles in front of it: the ordering window's exchange on conv_id,
  then the salted repartition that spreads million-turn conversations
  across tasks. Nothing shuffles behind the kernel.
- Salting is safe because extraction is per-turn; the ordering window
  is salt-agnostic (reference analogue: ordered merge + gap fill,
  src/pipeline.py:833-845).
- Cheap columns (payload_type could be computed in SQL) are NOT split
  out of the kernel: Catalyst cannot reorder filters through opaque
  UDFs (SURVEY.md §4), and splitting would serialize the batch twice.
  The kernel is one Arrow pass.
- The kernel stage runs one task per core (``defaultParallelism``),
  like every other Python map stage in dataops.py. Each Python task
  pays a fixed worker cost before its first row: measured on 4 cores,
  an identity ``mapInPandas`` over the same salted shuffle costs
  0.21-0.27 s per task against 6-9 ms for a JVM-only stage, most of it
  in PySpark's per-task ``setup_spark_files``, whose
  ``importlib.invalidate_caches()`` re-reads ``pyspark.zip`` once per
  cached zipimporter. More, smaller tasks only multiply that cost
  (a 12k-turn job: 16 kernel tasks 3.43 s, 4 tasks 1.92 s). Salting
  still spreads a heavy conversation over every task, and each task
  streams 2,048-row Arrow batches, so a bigger task does not hold more
  rows in memory.
"""

from __future__ import annotations

import os
from typing import Any, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .kernels.chunker import build_chunks_for_turn
from .kernels.extract import extract_turn
from .payload import synth_transcripts

DEFAULT_SALT_BUCKETS = 64

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

BLOCK_TYPE = T.StructType(
    [
        T.StructField("block_id", T.StringType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("bbox", T.ArrayType(T.DoubleType()), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType())), True),
        T.StructField(
            "lines",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("text", T.StringType(), False),
                        T.StructField("bbox", T.ArrayType(T.DoubleType()), False),
                    ]
                )
            ),
            True,
        ),
    ]
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("block_id", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("source", T.StringType(), False),
        T.StructField("payload_type", T.StringType(), False),
        T.StructField("is_fallback", T.BooleanType(), False),
        T.StructField("blocks", T.ArrayType(BLOCK_TYPE), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), False),
        T.StructField("n_blocks", T.IntegerType(), False),
        T.StructField("n_tables", T.IntegerType(), False),
        T.StructField("n_spans", T.IntegerType(), False),
        T.StructField("n_chars", T.IntegerType(), False),
    ]
)

EXTRACTED_WITH_SEQ_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields + [T.StructField("turn_seq", T.IntegerType(), False)]
)

# slim variant: the graft's per-turn contract (extracted_text + span
# offsets + counters) WITHOUT the nested blocks payload. Metric/bench
# consumers use this — the blocks structs are the dominant Arrow
# encode/decode cost, and chunking/export fuse into the kernel pass or
# request the full schema instead.
EXTRACTED_SLIM_SCHEMA = T.StructType(
    [f for f in EXTRACTED_WITH_SEQ_SCHEMA.fields if f.name != "blocks"]
)

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.StringType(), False),
        T.StructField("document_id", T.StringType(), False),
        T.StructField("source_file", T.StringType(), True),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("block_id", T.StringType(), False),
        T.StructField("block_type", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),
    ]
)
_CHUNK_ARROW_SCHEMA = to_arrow_schema(CHUNK_SCHEMA)


def get_spark(
    app_name: str = "pdf_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session tuned per the survey: AQE on, Arrow on, UTC, shuffle
    partitions ~ cores (not the 200 default)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
    # 16g, not bigger: huge G1 heaps turn repeat-run shuffles into
    # hundred-second GC storms (measured: 217s GC in a 48g heap's second
    # identical run); real clusters cap per-executor heaps the same way
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    # 32m G1 regions: shuffle rows / sort runs / Arrow-adjacent buffers
    # are multi-MB byte[]s — "humongous" at G1's default region size,
    # which bypasses young gen and caused 65s GC per 8M-turn job; with
    # 32m regions the same job spends 14s in GC and runs 40% faster
    java_opts = "-XX:G1HeapRegionSize=32m"
    # tmpfs shuffle dirs are OPT-IN (SPARK_GRAFT_LOCAL_DIR=/dev/shm/...):
    # /dev/shm is RAM-backed and capped at ~50% of memory, so a job whose
    # spill exceeds that fails with ENOSPC instead of spilling to disk.
    # Default stays /tmp (real disk); bench.py opts in because its
    # shuffle volume is known-small.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "") or "/tmp"
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = "/tmp"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode: every "executor" thread shares the driver JVM —
        # the 1g default heap GC-thrashes under 32 Arrow-batching tasks
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # UI off by default (headless); bench.py --decompose flips it
        # on to read per-stage metrics from the REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    # core confs (e.g. spark.io.compression.codec) must be set before
    # the JVM context exists — a hook for callers with special needs
    # (bench.py --stress uses zstd shuffle compression so the two
    # full-corpus exchanges of the 80M-turn leg fit local disk)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def synth_transcripts_df(
    spark: SparkSession,
    n_convs: int = 20,
    seed: int = 42,
    heavy_every: int = 50,
    heavy_factor: int = 40,
) -> DataFrame:
    """Deterministic seeded transcripts as a DataFrame (FIXTURES.md §1)."""
    rows = synth_transcripts(n_convs, seed, heavy_every, heavy_factor)
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def synth_transcripts_distributed(
    spark: SparkSession,
    n_convs: int,
    seed: int = 42,
    heavy_every: int = 50,
    heavy_factor: int = 40,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic synthesis for large corpora: conv ids
    fan out via ``spark.range``; each partition generates its convs'
    payloads inside an Arrow batch (same seeded blake2b generator as
    ``synth_transcripts``, so conv contents are identical regardless of
    which executor produces them)."""
    from .payload import _h, _pick_flavor, make_payload  # deterministic kernels

    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    roles = ["user", "assistant", "tool"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for c in pdf["id"]:
                c = int(c)
                n_turns = 3 + _h(seed, c, "len") % 18
                if heavy_every and c % heavy_every == heavy_every - 1:
                    n_turns *= heavy_factor
                for t in range(n_turns):
                    flavor = _pick_flavor(c, t, seed)
                    rows.append(
                        {
                            "conv_id": f"conv_{c:06d}",
                            "turn_idx": t,
                            "role": roles[t % 3],
                            "text": make_payload(flavor, _h(seed, c, t, "pay") % (2**31)),
                            "tool": "opaque"
                            if flavor == "opaque" and _h(seed, c, t) % 2 == 0
                            else "",
                            "ts": pd.Timestamp(
                                1_700_000_000 + (c % 3650) * 86_400 + t * 60, unit="s"
                            ),
                        }
                    )
            out = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
            out["turn_idx"] = out["turn_idx"].astype("int32")
            yield out

    return (
        spark.range(0, n_convs)
        .repartition(partitions)
        .mapInPandas(gen, schema=TRANSCRIPTS_SCHEMA)
    )


def transcripts_from_documents(spark: SparkSession, sf_dir: str, convs: int = 50) -> DataFrame:
    """Adapter for the driver-contract tables: wrap ``documents.parquet``
    rows into transcript shape (conv = doc_id mod ``convs``, payload =
    document text -> 'ocr' flavor). Lets every extraction query run on
    the provided read-only testdata without synthesizing files."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("conv_id").orderBy("doc_id")
    return (
        docs.select(
            F.concat(F.lit("conv_"), F.lpad((F.col("doc_id") % convs).cast("string"), 6, "0")).alias("conv_id"),
            F.col("doc_id"),
            F.col("text"),
        )
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .select(
            "conv_id",
            "turn_idx",
            F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")), (F.col("turn_idx") % 3) + 1).alias("role"),
            F.col("text"),
            F.lit("").alias("tool"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        )
    )


def _make_extract_batches(include_blocks: bool = True):
    """Build the mapInArrow kernel fn: one Arrow batch in, one out.
    All Python work happens here, vectorized per batch (no per-row
    Spark UDF calls). The output schema picks the emitted columns, so
    the slim variant drops ``blocks`` by itself. ``turn_seq``
    (precomputed by the ordering window) passes through; without it,
    the dense turn_idx+1 stands in (streaming microbatches)."""
    schema = EXTRACTED_WITH_SEQ_SCHEMA if include_blocks else EXTRACTED_SLIM_SCHEMA
    arrow_schema = to_arrow_schema(schema)

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = [c for c in ("conv_id", "turn_idx", "role", "text", "tool", "turn_seq")
                    if c in batch.schema.names]
            rows = []
            for row in batch.select(cols).to_pylist():
                res = extract_turn(row["text"], row["turn_idx"], row["tool"])
                blocks = res["blocks"]
                rows.append({
                    **row,
                    **res,
                    "n_blocks": len(blocks),
                    "n_tables": sum(1 for b in blocks if b["type"] == "table"),
                    "n_spans": len(res["spans"]),
                    "n_chars": len(res["extracted_text"]),
                    "turn_seq": row.get("turn_seq", row["turn_idx"] + 1),
                })
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return extract_batches, schema


# default full-schema kernel (streaming reuses this)
_extract_batches = _make_extract_batches(include_blocks=True)[0]


def extract_turns(
    transcripts: DataFrame,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    partitions: int | None = None,
    include_blocks: bool = True,
) -> DataFrame:
    """The hot path. Stable-order window FIRST on the narrow input
    (conv_id, turn_idx -> turn_seq), then the explicit salted
    repartition (north rule) so a single million-turn conversation
    spreads over ``salt_buckets`` shuffle keys, and so over every one of
    the ``partitions`` tasks (default: one per core), then ONE
    Arrow-batched kernel stage.

    Ordering the window before the kernel (instead of after) keeps the
    heavy nested ``blocks``/``spans`` structs out of every shuffle: the
    two exchanges move only the raw transcript rows. At 100 TB the
    post-kernel output is ~2x the input width — sorting it through a
    second shuffle was the old plan's dominant JVM cost (GC on nested
    Arrow rows); turn_seq is identical either way."""
    if partitions is None:
        # one task per core: every Python task pays a fixed worker cost
        # (0.2+ s, see the module notes) that extra tasks only repeat;
        # the salt still spreads a heavy conv over all of them
        partitions = transcripts.sparkSession.sparkContext.defaultParallelism
    order_w = Window.partitionBy("conv_id").orderBy("turn_idx")
    with_seq = transcripts.withColumn(
        "turn_seq", F.row_number().over(order_w).cast("int")
    )
    salted = with_seq.repartition(
        partitions, F.col("conv_id"), F.pmod(F.hash(F.col("turn_idx")), F.lit(salt_buckets))
    )
    fn, schema = _make_extract_batches(include_blocks)
    return salted.mapInArrow(fn, schema=schema)


def fill_turn_gaps(extracted: DataFrame) -> DataFrame:
    """R11 ordered merge with gap fill — reference: src/pipeline.py:841-845
    appends an empty Page for every missing page number. Spark version:
    left join against a generated turn spine per conversation."""
    spine = (
        extracted.groupBy("conv_id")
        .agg(F.max("turn_idx").alias("max_turn"))
        .select("conv_id", F.explode(F.sequence(F.lit(0), F.col("max_turn"))).alias("turn_idx"))
    )
    return (
        spine.join(extracted, ["conv_id", "turn_idx"], "left")
        .withColumn("extracted_text", F.coalesce("extracted_text", F.lit("")))
        .withColumn("is_gap", F.col("source").isNull())
        .withColumn("source", F.coalesce("source", F.lit("ocr")))
        .withColumn("n_blocks", F.coalesce("n_blocks", F.lit(0)))
    )


def _chunk_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        chunks: list[dict[str, Any]] = []
        for row in batch.to_pylist():
            chunks.extend(build_chunks_for_turn(row["conv_id"], row["turn_idx"], row["blocks"]))
        yield pa.RecordBatch.from_pylist(chunks, schema=_CHUNK_ARROW_SCHEMA)


def build_chunks(extracted: DataFrame) -> DataFrame:
    """K1 over the extracted table (M2). Narrow map — no shuffle; chunk
    explosion happens inside the Arrow batch."""
    return extracted.select("conv_id", "turn_idx", "blocks").mapInArrow(
        _chunk_batches, schema=CHUNK_SCHEMA
    )


def conversation_metrics(extracted: DataFrame) -> DataFrame:
    """R10 totals per conversation (reference: src/pipeline.py:301-309,
    847-855) + the graft's ocr_fallback_rate."""
    return extracted.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum("n_blocks").alias("total_blocks"),
        F.sum("n_tables").alias("total_tables"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_spans").alias("total_spans"),
        F.avg(F.col("is_fallback").cast("double")).alias("ocr_fallback_rate"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
    )


def run_metrics(extracted: DataFrame) -> DataFrame:
    """Global metrics row (turns parsed, spans emitted, fallback rate) —
    the FIXTURES.md §7 metrics table."""
    # coalesce: sum/avg over an EMPTY input are NULL, and a null-valued
    # metrics row breaks downstream createDataFrame/parquet consumers
    return extracted.agg(
        F.count("*").alias("turns_parsed"),
        F.countDistinct("conv_id").alias("conversations"),
        F.coalesce(F.sum("n_blocks"), F.lit(0)).alias("blocks_emitted"),
        F.coalesce(F.sum("n_spans"), F.lit(0)).alias("spans_emitted"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("chars_extracted"),
        F.coalesce(
            F.avg(F.col("is_fallback").cast("double")), F.lit(0.0)
        ).alias("ocr_fallback_rate"),
    )


def export_documents_json(extracted: DataFrame) -> DataFrame:
    """S3 JSON sink analogue (reference: save_to_json, src/pipeline.py:419-441
    via Document.model_dump, src/models/schemas.py:99-101): one JSON
    document per conversation, pages ordered by turn_idx. Built entirely
    from to_json/collect_list — the JSON rendering never leaves the JVM."""
    page = F.struct(
        F.col("turn_idx").alias("page"),
        F.col("source"),
        F.col("blocks"),
        F.col("extracted_text"),
        F.col("spans"),
    )
    pages = F.array_sort(
        F.collect_list(page)
    )  # struct sort: first field turn_idx drives order
    return (
        extracted.groupBy("conv_id")
        .agg(F.count("*").alias("total_pages"), pages.alias("pages"))
        .select(
            "conv_id",
            F.to_json(
                F.struct(
                    F.col("conv_id").alias("doc_id"),
                    F.col("total_pages"),
                    F.col("pages"),
                )
            ).alias("document_json"),
        )
    )


def export_text_overlay(
    extracted: DataFrame, page_w_pts: float = 612.0, page_h_pts: float = 792.0
) -> DataFrame:
    """S4 searchable-PDF sink analogue: the positioned invisible-text
    layer as a table, one row per overlay line.

    The reference overlays render-mode-3 text on the original PDF
    (src/exporters/searchable_pdf.py). Everything deterministic about
    that export is the OVERLAY GEOMETRY, reproduced here JVM-side with
    higher-order array functions (no Python UDF):
    - table blocks with ``rows``: one line per row, cells joined by
      " | " (empty cells dropped), blank rows skipped, distributed
      uniformly within the block bbox (searchable_pdf.py:180-222);
    - blocks with empty text are skipped (:56-59);
    - blocks with per-line data: one overlay line per (text, bbox)
      entry, blank text / malformed bbox skipped (:127-137);
    - otherwise text splits on newline, blank lines dropped, lines
      distributed uniformly within the block bbox (:140-176);
    - per line: zero/negative width or height in points is skipped and
      font_size = clamp(line_height_pts * 0.80, 4, 72) (:18-23,95-105).
    The actual PDF canvas write is renderer-bound (reportlab, not in
    this container) — the rendering consumes exactly this table.
    """
    W, H = F.lit(float(page_w_pts)), F.lit(float(page_h_pts))
    empty_lines = F.array().cast(
        "array<struct<text:string,bbox:array<double>>>"
    )

    def _distribute(texts, bbox):
        """Uniform vertical split of the block bbox over the texts."""
        n = F.size(texts)
        x1, y1 = F.element_at(bbox, 1), F.element_at(bbox, 2)
        x2, y2 = F.element_at(bbox, 3), F.element_at(bbox, 4)
        bh = y2 - y1
        dist = F.transform(
            texts,
            lambda t, i: F.struct(
                t.alias("text"),
                F.array(
                    x1,
                    y1 + i.cast("double") * bh / n.cast("double"),
                    x2,
                    y1 + (i.cast("double") + 1.0) * bh / n.cast("double"),
                ).alias("bbox"),
            ),
        )
        return F.when(n > 0, dist).otherwise(empty_lines)

    def _block_lines(b):
        row_texts = F.filter(
            F.transform(
                b["rows"],
                lambda r: F.concat_ws(
                    " | ", F.filter(r, lambda c: c.isNotNull() & (c != F.lit("")))
                ),
            ),
            lambda t: F.trim(t) != F.lit(""),
        )
        line_entries = F.filter(
            F.transform(
                b["lines"],
                lambda l: F.struct(l["text"].alias("text"), l["bbox"].alias("bbox")),
            ),
            lambda s: (F.trim(s["text"]) != F.lit("")) & (F.size(s["bbox"]) == 4),
        )
        fallback_texts = F.filter(
            F.split(b["text"], "\n"), lambda t: F.trim(t) != F.lit("")
        )
        return (
            F.when(b["rows"].isNotNull() & (F.size(b["rows"]) > 0),
                   _distribute(row_texts, b["bbox"]))
            .when(F.coalesce(b["text"], F.lit("")) == "", empty_lines)
            .when(b["lines"].isNotNull() & (F.size(b["lines"]) > 0), line_entries)
            .otherwise(_distribute(fallback_texts, b["bbox"]))
        )

    per_block = F.flatten(
        F.transform(
            "blocks",
            lambda b: F.transform(
                _block_lines(b),
                lambda s: F.struct(
                    b["block_id"].alias("block_id"),
                    s["text"].alias("text"),
                    s["bbox"].alias("bbox"),
                ),
            ),
        )
    )
    line = F.col("line")
    bb = line["bbox"]
    lw = (F.element_at(bb, 3) - F.element_at(bb, 1)) * W
    lh = (F.element_at(bb, 4) - F.element_at(bb, 2)) * H
    font = F.greatest(F.lit(4.0), F.least(lh * 0.80, F.lit(72.0)))
    return (
        extracted.select(
            "conv_id", "turn_idx", F.posexplode(per_block).alias("line_no", "line")
        )
        .filter((lw > 0) & (lh > 0))
        .select(
            "conv_id",
            "turn_idx",
            line["block_id"].alias("block_id"),
            F.col("line_no"),
            line["text"].alias("text"),
            bb.alias("bbox"),
            F.round(font, 6).alias("font_size_pts"),
        )
    )
