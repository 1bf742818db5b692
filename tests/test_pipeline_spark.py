"""Spark pipeline tests: golden per-turn equality under shuffled input,
stable ordering, salting, metrics, chunks, gap fill.

The correctness gate (BASELINE.json north_rule): the distributed
pipeline must reproduce the pure-Python kernel output for EVERY turn,
with stable (conv_id, turn_idx) ordering, regardless of input row
order or partitioning.
"""

import json
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.kernels.extract import extract_turn
from pdf_parser_spark.payload import synth_transcripts
from pdf_parser_spark.pipeline import (
    build_chunks,
    conversation_metrics,
    extract_turns,
    fill_turn_gaps,
    run_metrics,
    synth_transcripts_df,
)

GOLDEN_PATH = pathlib.Path(__file__).parent / "golden" / "extracted_turns_20conv.json"


@pytest.fixture(scope="module")
def extracted(spark):
    df = synth_transcripts_df(spark, n_convs=20, seed=42)
    return extract_turns(df, salt_buckets=8).cache()


def kernel_golden(n_convs=20, seed=42):
    """Straight-line single-process reference run (the golden)."""
    rows = synth_transcripts(n_convs=n_convs, seed=seed)
    golden = {}
    for r in rows:
        res = extract_turn(r["text"], r["turn_idx"], r["tool"])
        golden[(r["conv_id"], r["turn_idx"])] = res
    return golden


class TestGoldenEquality:
    def test_per_turn_text_equality_100pct(self, extracted):
        golden = kernel_golden()
        got = {
            (r["conv_id"], r["turn_idx"]): r
            for r in extracted.select(
                "conv_id", "turn_idx", "extracted_text", "source", "payload_type", "spans"
            ).collect()
        }
        assert set(got) == set(golden)
        mismatches = [
            k
            for k in golden
            if got[k]["extracted_text"] != golden[k]["extracted_text"]
            or got[k]["source"] != golden[k]["source"]
        ]
        assert mismatches == [], f"{len(mismatches)} turns differ: {mismatches[:5]}"

    def test_spans_match_golden(self, extracted):
        golden = kernel_golden()
        for r in extracted.select("conv_id", "turn_idx", "spans").collect():
            want = golden[(r["conv_id"], r["turn_idx"])]["spans"]
            got = [{"block_id": s["block_id"], "start": s["start"], "end": s["end"]} for s in r["spans"]]
            assert got == want

    def test_blocks_roundtrip_schema(self, extracted):
        row = (
            extracted.filter(F.col("payload_type") == "pdf")
            .select("blocks")
            .first()
        )
        b = row["blocks"][0]
        assert b["block_id"] and b["type"] and len(b["bbox"]) == 4

    def test_pinned_golden_file(self, extracted):
        """Checked-in golden guards against silent kernel drift across rounds."""
        got = {
            f'{r["conv_id"]}:{r["turn_idx"]}': r["extracted_text"]
            for r in extracted.select("conv_id", "turn_idx", "extracted_text").collect()
        }
        if not GOLDEN_PATH.exists():
            # Regeneration is explicit-only: a silently-regenerated
            # golden would stop comparing anything if the file is ever
            # deleted or the path drifts.
            if os.environ.get("SPARK_GRAFT_REGEN_GOLDENS") == "1":
                GOLDEN_PATH.parent.mkdir(parents=True, exist_ok=True)
                GOLDEN_PATH.write_text(json.dumps(got, sort_keys=True, indent=1))
                pytest.skip("golden regenerated under SPARK_GRAFT_REGEN_GOLDENS=1")
            pytest.fail(
                f"golden missing at {GOLDEN_PATH}; run with "
                f"SPARK_GRAFT_REGEN_GOLDENS=1 to regenerate deliberately"
            )
        want = json.loads(GOLDEN_PATH.read_text())
        assert got == want


class TestOrderingAndSalt:
    def test_turn_seq_stable(self, extracted):
        rows = extracted.select("conv_id", "turn_idx", "turn_seq").collect()
        by_conv = {}
        for r in rows:
            by_conv.setdefault(r["conv_id"], []).append((r["turn_seq"], r["turn_idx"]))
        for conv, pairs in by_conv.items():
            pairs.sort()
            idxs = [t for _, t in pairs]
            assert idxs == sorted(idxs), conv
            assert [s for s, _ in pairs] == list(range(1, len(pairs) + 1)), conv

    def test_salting_spreads_heavy_conversation(self, spark):
        # the plan extract_turns executes: the kernel stage reads one
        # salted Exchange with one partition per core, and the heavy
        # conv (40x) reaches every kernel task
        df = synth_transcripts_df(spark, n_convs=50, seed=42, heavy_every=50, heavy_factor=40)
        n = spark.sparkContext.defaultParallelism
        parts = (
            extract_turns(df, include_blocks=False)
            .withColumn("pid", F.spark_partition_id())
            .filter(F.col("conv_id") == "conv_000049")
            .groupBy("pid")
            .count()
        )
        pids = {r["pid"] for r in parts.collect()}
        lines = parts._jdf.queryExecution().executedPlan().toString().splitlines()
        kernel = next(i for i, line in enumerate(lines) if "MapInArrow" in line)
        exchange = next(line for line in lines[kernel + 1 :] if "Exchange" in line)
        assert re.search(
            rf"hashpartitioning\(conv_id#\d+, pmod\(hash\(turn_idx#\d+, 42\), \d+\), {n}\)",
            exchange,
        ), exchange
        assert pids == set(range(n)), f"heavy conv in partitions {sorted(pids)} of {n}"

    def test_result_independent_of_input_order(self, spark):
        rows = synth_transcripts(n_convs=6, seed=7)
        df1 = spark.createDataFrame(
            [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"]) for r in rows],
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        df2 = spark.createDataFrame(
            [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"]) for r in reversed(rows)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        a = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in extract_turns(df1.withColumn("ts", F.current_timestamp()), 4).collect()
        }
        b = {
            (r["conv_id"], r["turn_idx"]): r["extracted_text"]
            for r in extract_turns(df2.withColumn("ts", F.current_timestamp()), 4).collect()
        }
        assert a == b


class TestMetrics:
    def test_run_metrics(self, extracted):
        m = run_metrics(extracted).first()
        assert m["turns_parsed"] == extracted.count()
        assert m["conversations"] == 20
        assert 0.0 <= m["ocr_fallback_rate"] <= 0.2
        assert m["spans_emitted"] > 0

    def test_conversation_metrics(self, extracted):
        cm = conversation_metrics(extracted)
        assert cm.count() == 20
        row = cm.filter(F.col("conv_id") == "conv_000000").first()
        assert row["n_turns"] == row["last_turn"] - row["first_turn"] + 1
        assert row["total_blocks"] >= row["total_spans"] - 1  # tables render too


class TestGapFill:
    def test_missing_turns_filled(self, spark):
        rows = [r for r in synth_transcripts(n_convs=3, seed=9) if r["turn_idx"] != 1]
        df = spark.createDataFrame(
            [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"]) for r in rows],
            "conv_id string, turn_idx int, role string, text string, tool string",
        ).withColumn("ts", F.current_timestamp())
        extracted = extract_turns(df, 4)
        filled = fill_turn_gaps(extracted)
        gaps = filled.filter(F.col("is_gap")).select("conv_id", "turn_idx").collect()
        assert all(g["turn_idx"] == 1 for g in gaps) and len(gaps) == 3
        assert all(
            g["extracted_text"] == ""
            for g in filled.filter(F.col("is_gap")).select("extracted_text").collect()
        )


class TestChunks:
    @pytest.mark.parametrize("stored", [False, True], ids=["in_memory", "parquet"])
    def test_chunks_match_kernel(self, spark, extracted, stored, tmp_path):
        # stored: the table runner.read_extracted serves, read back from parquet
        if stored:
            extracted.write.parquet(str(tmp_path / "extracted"))
            extracted = spark.read.parquet(str(tmp_path / "extracted"))
        chunks = build_chunks(extracted)
        got = {r["chunk_id"]: r["text"] for r in chunks.collect()}
        golden = kernel_golden()
        want = {}
        for (conv_id, turn_idx), res in golden.items():
            for c in __import__("pdf_parser_spark.kernels.chunker", fromlist=["x"]).build_chunks_for_turn(
                conv_id, turn_idx, res["blocks"]
            ):
                want[c["chunk_id"]] = c["text"]
        assert got == want
        assert len(got) > 50


def test_text_overlay_matches_python_oracle(spark):
    """export_text_overlay (S4 searchable-PDF analogue): the JVM
    higher-order-function geometry must equal the straight-line kernel
    reimplementation of the reference's overlay rules
    (kernels/overlay.py <- searchable_pdf.py:31-222)."""
    from pdf_parser_spark.kernels.overlay import overlay_lines
    from pdf_parser_spark.pipeline import export_text_overlay, extract_turns, synth_transcripts_df

    extracted = extract_turns(synth_transcripts_df(spark, n_convs=12))
    got = export_text_overlay(extracted).toPandas()

    expect = []
    covered = set()
    for r in extracted.select("conv_id", "turn_idx", "blocks").collect():
        blocks = [b.asDict(recursive=True) for b in r["blocks"]]
        for b in blocks:
            if b.get("rows"):
                covered.add("rows")
            elif b.get("lines"):
                covered.add("lines")
            else:
                covered.add("fallback")
        for ln in overlay_lines(blocks):
            expect.append(
                (r["conv_id"], r["turn_idx"], ln["block_id"], ln["line_no"],
                 ln["text"], tuple(round(v, 9) for v in ln["bbox"]),
                 round(ln["font_size_pts"], 6))
            )

    got_set = [
        (r.conv_id, r.turn_idx, r.block_id, r.line_no, r.text,
         tuple(round(v, 9) for v in r.bbox), round(r.font_size_pts, 6))
        for r in got.itertuples()
    ]
    assert len(got_set) > 0
    assert covered == {"rows", "lines", "fallback"}  # all three routes hit
    assert sorted(got_set) == sorted(expect)
