"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction job on sf0.001; ``queries`` /
``oracle_sql`` expose the operator surface (SURVEY.md §2) for the
sf0.01 DuckDB correctness gate. EVERY query carries an oracle, and the
registry is EXACTLY 50 keys in a fixed order (see GATE_ORDER) because
the driver gate evaluates only the first 50 — same-grain operators are
composed into suite keys (pdf_parser_spark/suites.py) so all of them
stay value-hash-checked.

Extraction kernels are not SQL-expressible, so their oracles are
kernel-generated goldens: scripts/make_goldens.py runs the
straight-line pure-Python kernel (no Spark) over the documents->
transcripts wrap and pins the per-turn and per-chunk tables to parquet
under tests/golden/ (at the driver's correctness sf, 0.01). The oracle
SQL inlines those goldens as VALUES at build time — fully
self-contained, no filesystem reads inside the gate SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark import registry
from pdf_parser_spark.pipeline import (
    build_chunks,
    conversation_metrics,
    extract_turns,
    fill_turn_gaps,
    transcripts_from_documents,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-conversation extraction metrics over transcripts
    wrapped from sf0.001 documents (per-turn kernel + salted
    repartition + stable ordering window)."""
    transcripts = transcripts_from_documents(spark, "/root/testdata/sf0.001", convs=25)
    extracted = extract_turns(transcripts, salt_buckets=16)
    return conversation_metrics(extracted).orderBy("conv_id")


# --- extraction-family queries (golden-parquet oracles; see above) ---


def _q_extracted_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn extraction output; extracted_text is carried as its md5
    so the self-contained VALUES oracle stays compact — the digest pins
    the exact bytes (north rule: per-turn text equality). Round 4: the
    SFT pair-assembly columns ride the same (conv, turn) grain — for
    assistant turns, the md5s of the bounded-context training pair and
    the context size (dataops.q_sft_pairs; '' / 0 elsewhere) — so the
    pair construction is value-hashed in the gate, not only
    member-pinned."""
    from pdf_parser_spark.dataops import q_sft_pairs

    extracted = extract_turns(transcripts_from_documents(spark, sf_dir), salt_buckets=16, include_blocks=False)
    sft = q_sft_pairs(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        F.md5("context").alias("sft_context_md5"),
        F.md5("response").alias("sft_response_md5"),
        F.col("n_context_turns").cast("long").alias("sft_context_turns"),
    )
    return (
        extracted.select(
            "conv_id", "turn_idx", "turn_seq", "role", "source", "payload_type",
            "is_fallback", "n_blocks", "n_spans", "n_chars",
            F.md5("extracted_text").alias("text_md5"),
        )
        .join(sft, ["conv_id", "turn_idx"], "left")
        .withColumn("sft_context_md5", F.coalesce(F.col("sft_context_md5"), F.lit("")))
        .withColumn("sft_response_md5", F.coalesce(F.col("sft_response_md5"), F.lit("")))
        .withColumn("sft_context_turns", F.coalesce(F.col("sft_context_turns"), F.lit(0)))
    )


def _q_extraction_conv_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation metrics + the gap-fill proof in one row: drop
    every turn_idx % 7 == 3, run fill_turn_gaps, and report how many
    rows the restored spine has and how many were gaps."""
    extracted = extract_turns(transcripts_from_documents(spark, sf_dir), salt_buckets=16, include_blocks=False)
    cm = conversation_metrics(extracted)
    holey = extracted.filter(F.col("turn_idx") % 7 != 3)
    gf = fill_turn_gaps(holey).groupBy("conv_id").agg(
        F.count("*").alias("n_turns_filled"),
        F.sum(F.col("is_gap").cast("long")).alias("n_gaps"),
    )
    return cm.join(gf, "conv_id")


def _q_extraction_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk output (K1-K5); chunk text as md5 (see turns)."""
    extracted = extract_turns(transcripts_from_documents(spark, sf_dir), salt_buckets=16)
    return build_chunks(extracted).select(
        "chunk_id", "document_id", "source_file", "page_number",
        "block_id", "block_type", "confidence",
        F.md5(F.col("text")).alias("text_md5"),
    )


_DIGEST_METRICS = [
    "turns_parsed", "conversations", "blocks_emitted",
    "spans_emitted", "chars_extracted", "fallback_turns",
]


def _q_extract_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hard extraction oracle, consolidated: corpus-level md5
    digests of (a) per-turn extracted text, (b) per-turn span offsets,
    (c) the S4 overlay rendering, (d) per-chunk text — each an md5
    over the SORTED per-item digest list, so one flipped byte anywhere
    flips the family digest — plus the S5 run-metric counters as
    metric:* rows. Collapsing per-item rows to one digest per family
    keeps the oracle self-contained (inline VALUES, no file reads in
    the gate SQL). collect_list here aggregates one short string per
    turn; at cluster scale the same digest is a two-level
    tree-aggregate (per-partition sorted digest, then a digest of
    digests) — the gate shape is the simple one because the item count
    at the gate sf is 500."""
    from pdf_parser_spark.pipeline import export_text_overlay

    extracted = extract_turns(
        transcripts_from_documents(spark, sf_dir), salt_buckets=16
    ).persist()

    def family(items_df, fam: str) -> DataFrame:
        return items_df.agg(
            F.count("*").cast("long").alias("n"),
            F.md5(F.concat_ws(";", F.array_sort(F.collect_list("item")))).alias(
                "digest"
            ),
        ).select(F.lit(fam).alias("family"), "n", "digest")

    turn_text = extracted.select(
        F.concat_ws(
            ":", "conv_id", F.col("turn_idx").cast("string"), F.md5("extracted_text")
        ).alias("item")
    )
    span_str = F.transform(
        "spans",
        lambda s: F.concat_ws(
            ":", s["block_id"], s["start"].cast("string"), s["end"].cast("string")
        ),
    )
    turn_spans = extracted.select(
        F.concat_ws(
            ":",
            "conv_id",
            F.col("turn_idx").cast("string"),
            F.md5(F.concat_ws(";", span_str)),
        ).alias("item")
    )
    ov = export_text_overlay(extracted)
    ov_turn = ov.groupBy("conv_id", "turn_idx").agg(
        F.count("*").alias("n_lines"),
        F.md5(
            F.concat_ws(
                ";",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "block_id", "text"))),
                    lambda s: F.concat_ws(
                        ":", s["block_id"], s["line_no"].cast("string"), s["text"]
                    ),
                ),
            )
        ).alias("ov_md5"),
    )
    overlay = (
        extracted.select("conv_id", "turn_idx")
        .join(ov_turn, ["conv_id", "turn_idx"], "left")
        .select(
            F.concat_ws(
                ":",
                "conv_id",
                F.col("turn_idx").cast("string"),
                F.coalesce(F.col("n_lines"), F.lit(0)).cast("string"),
                F.coalesce(F.col("ov_md5"), F.md5(F.lit(""))),
            ).alias("item")
        )
    )
    chunks = build_chunks(extracted).select(
        F.concat_ws(":", "chunk_id", F.md5("text")).alias("item")
    )
    agg = extracted.agg(
        F.count("*").cast("long").alias("turns_parsed"),
        F.countDistinct("conv_id").cast("long").alias("conversations"),
        F.coalesce(F.sum("n_blocks"), F.lit(0)).cast("long").alias("blocks_emitted"),
        F.coalesce(F.sum("n_spans"), F.lit(0)).cast("long").alias("spans_emitted"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("chars_extracted"),
        F.coalesce(F.sum(F.col("is_fallback").cast("long")), F.lit(0))
        .cast("long")
        .alias("fallback_turns"),
    )
    metrics = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"metric:{m}").alias("family"),
                        F.col(m).alias("n"),
                        F.lit("").alias("digest"),
                    )
                    for m in _DIGEST_METRICS
                ]
            )
        ).alias("s")
    ).select("s.*")
    result = (
        family(turn_text, "turn_text")
        .unionByName(family(turn_spans, "turn_spans"))
        .unionByName(family(overlay, "overlay"))
        .unionByName(family(chunks, "chunk_text"))
        .unionByName(metrics)
    )
    # The five consumers share `extracted` via the persist; the result
    # is tiny (one row per family/metric), so materialize it eagerly
    # and unpin the cached extraction — otherwise every gate/test
    # invocation leaks one full cached extract_turns output for the
    # session lifetime.
    rows = result.collect()
    extracted.unpersist()
    return spark.createDataFrame(rows, schema=result.schema)


_GOLDEN_DIR = "/root/repo/tests/golden"

_EXTRACTION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "extract_turns_docs": _q_extracted_turns,
    "extract_conv_metrics": _q_extraction_conv_metrics,
    "extract_chunks": _q_extraction_chunks,
    "extract_digests": _q_extract_digests,
}

# Extraction oracles are SELF-CONTAINED SQL: the kernel-generated
# golden parquet (pinned at the driver's correctness sf=0.01 by
# scripts/make_goldens.py — single-process, no Spark) is inlined as
# VALUES at oracle-build time, so the gate SQL needs no filesystem
# access at all. Ratios (ocr_fallback_rate) are inlined as exact
# integer numerator/denominator and divided IN SQL — IEEE division of
# identical ints is bit-identical across engines, while inlining a
# Python-formatted double would risk ulp drift.


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    return "'" + str(v).replace("'", "''") + "'"


def _values_sql(rows: list[tuple], cols: list[str], select: str | None = None) -> str:
    vals = ",\n".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    sel = select if select is not None else ", ".join(cols)
    return f"SELECT {sel} FROM (VALUES\n{vals}\n) AS t({', '.join(cols)})"


def _load_golden(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def _extraction_oracles() -> dict[str, str]:
    import hashlib

    turns = _load_golden(f"{_GOLDEN_DIR}/extract_md5_sf0.01.parquet")
    chunks = _load_golden(f"{_GOLDEN_DIR}/chunks_md5_sf0.01.parquet")

    # --- extract_turns_docs ---
    td_cols = [
        "conv_id", "turn_idx", "turn_seq", "role", "source", "payload_type",
        "is_fallback", "n_blocks", "n_spans", "n_chars", "text_md5",
    ]
    # the SFT pair columns (round 4) ride the same (conv, turn) grain:
    # the independently generated straight-line golden merges into the
    # one self-contained VALUES table ('' / 0 for non-pair turns)
    sft = {
        (r["conv_id"], r["turn_idx"]): r
        for r in _load_golden(f"{_GOLDEN_DIR}/sft_md5_sf0.01.parquet")
    }
    td_cols = td_cols + [
        "sft_context_md5", "sft_response_md5", "sft_context_turns",
    ]
    td_rows = []
    for r in turns:
        s = sft.get((r["conv_id"], r["turn_idx"]))
        td_rows.append(
            tuple(r[c] for c in td_cols[:-3])
            + (
                s["context_md5"] if s else "",
                s["response_md5"] if s else "",
                int(s["n_context_turns"]) if s else 0,
            )
        )
    sql_turns_docs = _values_sql(td_rows, td_cols)

    # --- extract_conv_metrics (+ gapfill) ---
    per_conv: dict[str, list[dict]] = {}
    for r in turns:
        per_conv.setdefault(r["conv_id"], []).append(r)
    cm_rows = []
    for conv, rs in per_conv.items():
        idxs = [r["turn_idx"] for r in rs]
        survivors = [i for i in idxs if i % 7 != 3]
        m = max(survivors)
        n_gaps = len([i for i in range(m + 1) if i % 7 == 3])
        cm_rows.append(
            (
                conv,
                len(rs),
                sum(r["n_blocks"] for r in rs),
                sum(r["n_tables"] for r in rs),
                sum(r["n_chars"] for r in rs),
                sum(r["n_spans"] for r in rs),
                sum(1 for r in rs if r["is_fallback"]),
                min(idxs),
                max(idxs),
                m + 1,
                n_gaps,
            )
        )
    cm_cols = [
        "conv_id", "n_turns", "total_blocks", "total_tables", "total_chars",
        "total_spans", "fallback_n", "first_turn", "last_turn",
        "n_turns_filled", "n_gaps",
    ]
    sql_conv_metrics = _values_sql(
        cm_rows,
        cm_cols,
        select=(
            "conv_id, CAST(n_turns AS BIGINT) AS n_turns, "
            "CAST(total_blocks AS BIGINT) AS total_blocks, "
            "CAST(total_tables AS BIGINT) AS total_tables, "
            "CAST(total_chars AS BIGINT) AS total_chars, "
            "CAST(total_spans AS BIGINT) AS total_spans, "
            "fallback_n * 1.0 / n_turns AS ocr_fallback_rate, "
            "first_turn, last_turn, "
            "CAST(n_turns_filled AS BIGINT) AS n_turns_filled, "
            "CAST(n_gaps AS BIGINT) AS n_gaps"
        ),
    )

    # --- extract_chunks ---
    ck_cols = [
        "chunk_id", "document_id", "source_file", "page_number",
        "block_id", "block_type", "confidence", "text_md5",
    ]
    ck_rows = [tuple(r[c] for c in ck_cols) for r in chunks]
    sql_chunks = _values_sql(ck_rows, ck_cols)

    # --- extract_digests ---
    def digest(items: list[str]) -> str:
        return hashlib.md5(";".join(sorted(items)).encode()).hexdigest()

    dg_rows = [
        (
            "turn_text",
            len(turns),
            digest([f"{r['conv_id']}:{r['turn_idx']}:{r['text_md5']}" for r in turns]),
        ),
        (
            "turn_spans",
            len(turns),
            digest([f"{r['conv_id']}:{r['turn_idx']}:{r['spans_md5']}" for r in turns]),
        ),
        (
            "overlay",
            len(turns),
            digest(
                [
                    f"{r['conv_id']}:{r['turn_idx']}:{r['n_overlay_lines']}:{r['overlay_md5']}"
                    for r in turns
                ]
            ),
        ),
        (
            "chunk_text",
            len(chunks),
            digest([f"{r['chunk_id']}:{r['text_md5']}" for r in chunks]),
        ),
        ("metric:turns_parsed", len(turns), ""),
        ("metric:conversations", len(per_conv), ""),
        ("metric:blocks_emitted", sum(r["n_blocks"] for r in turns), ""),
        ("metric:spans_emitted", sum(r["n_spans"] for r in turns), ""),
        ("metric:chars_extracted", sum(r["n_chars"] for r in turns), ""),
        ("metric:fallback_turns", sum(1 for r in turns if r["is_fallback"]), ""),
    ]
    sql_digests = _values_sql(
        dg_rows,
        ["family", "n", "digest"],
        select="family, CAST(n AS BIGINT) AS n, digest",
    )

    return {
        "extract_turns_docs": sql_turns_docs,
        "extract_conv_metrics": sql_conv_metrics,
        "extract_chunks": sql_chunks,
        "extract_digests": sql_digests,
    }


_EXTRACTION_ORACLE_CACHE: dict[str, str] | None = None


def _extraction_oracles_cached() -> dict[str, str]:
    global _EXTRACTION_ORACLE_CACHE
    if _EXTRACTION_ORACLE_CACHE is None:
        _EXTRACTION_ORACLE_CACHE = _extraction_oracles()
    return _EXTRACTION_ORACLE_CACHE


# The driver's correctness gate evaluates the FIRST 50 queries() keys
# in dict order (r01: 30/30 rows, r02: exactly the first 50 of 71), so
# the registry is an EXPLICIT ordered list of exactly 50 keys covering
# every operator — same-grain members are composed into suite keys
# (pdf_parser_spark/suites.py) with their oracles composed identically,
# and the north-rule extraction family leads. SURVEY.md §2 maps each
# operator to its gate key.
GATE_ORDER: list[str] = [
    # extraction family (north-rule core)
    "extract_turns_docs",
    "extract_conv_metrics",
    "extract_chunks",
    "extract_digests",
    # reference service-layer relational ops (R-series)
    "r1_dedup_hash",
    "r2_pagination_topk",
    "r3_count_by_status",
    "r4_status_filtered_list",
    "r5_oldest_queued",
    "r6_keyword_search",
    "r9_enrichment_join",
    "r10_totals_aggregate",
    # search (semantic incl. persisted-index path, BM25 + exact phrase)
    "semantic_search",
    "keyword_rank_suite",
    # dedup family
    "neardup_pairs_suite",
    "dup_clusters",
    "simhash_dedup",
    "ngram_jaccard_dup",
    "embedding_near_dup",
    "span_dedup",
    # ANN (exact baseline + recall contract over LSH/IVF)
    "ann_cosine_topk",
    "ann_accuracy",
    # text/corpus ops
    "text_metrics",
    "doc_fingerprints",
    "corpus_assembly",
    "corpus_filter",
    "contamination_check",
    "pii_scrub",
    "cms_heavy_hitters",
    "sequence_pack",
    # ML / multimodal
    "embedding_suite",
    "multimodal_suite",
    # events / windows / joins
    "events_asof_join",
    "events_range_join",
    "events_unpivot",
    "rollup_suite",
    "events_type_stats",
    "window_suite",
    "set_ops",
    "semi_join_suite",
    "scd2_suite",
    "salted_join",
    # TPC-H shapes
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q10",
    "tpch_q18",
    "tpch_q19",
    "tpch_scalars",
    "tpch_q4q12",
]

# unconditional (not `assert`): the driver contract depends on the
# 50-key shape, and `python -O` strips asserts
if len(GATE_ORDER) != 50:
    raise RuntimeError(
        f"gate holds {len(GATE_ORDER)} keys, must be exactly 50"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {**registry.QUERIES, **_EXTRACTION_QUERIES}
    return {k: base[k] for k in GATE_ORDER}


def oracle_sql() -> dict[str, str]:
    base = {**registry.ORACLES, **_extraction_oracles_cached()}
    return {k: base[k] for k in GATE_ORDER}
