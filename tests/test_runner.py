"""Checkpoint/resume lineage tests (M4): kill mid-run, resume, same
output — the north rule's resumability requirement."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.pipeline import (
    EXTRACTED_WITH_SEQ_SCHEMA,
    extract_turns,
    run_metrics,
    synth_transcripts_df,
)
from pdf_parser_spark.runner import (
    completed_buckets,
    read_extracted,
    read_lineage,
    run_extraction,
)

N_BUCKETS = 4


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts_df(spark, n_convs=12).cache()


def _text_map(df):
    return {
        (r["conv_id"], r["turn_idx"]): r["extracted_text"]
        for r in df.select("conv_id", "turn_idx", "extracted_text").collect()
    }


def test_full_run_matches_direct_extraction(spark, transcripts, tmp_path):
    out = str(tmp_path / "full")
    summary = run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS)
    assert summary["buckets_processed"] == N_BUCKETS
    assert summary["turns_parsed"] == transcripts.count()
    direct = extract_turns(transcripts)
    assert _text_map(read_extracted(spark, out)) == _text_map(direct)
    # metrics table committed
    metrics = spark.read.parquet(os.path.join(out, "_metrics")).collect()[0]
    assert metrics["turns_parsed"] == summary["turns_parsed"]


def test_failure_then_resume_same_result(spark, transcripts, tmp_path):
    out = str(tmp_path / "resumed")
    ref_out = str(tmp_path / "reference")

    with pytest.raises(RuntimeError, match="bucket 2 failed"):
        run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS, fail_bucket=2)

    lin = read_lineage(spark, out)
    statuses = {r["bucket"]: r["status"] for r in lin.collect()}
    assert statuses[2] == "failed"
    assert completed_buckets(spark, out) == {0, 1}
    failed_row = lin.filter(F.col("status") == "failed").collect()[0]
    assert "injected failure" in failed_row["error_message"]

    # resume: only the remaining buckets run
    summary = run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS)
    assert summary["buckets_resumed_skip"] == 2
    assert summary["buckets_processed"] == 2

    run_extraction(spark, transcripts, ref_out, n_buckets=N_BUCKETS)
    assert _text_map(read_extracted(spark, out)) == _text_map(
        read_extracted(spark, ref_out)
    )
    # exactly one completed lineage row per bucket, none duplicated
    completed = read_lineage(spark, out).filter(F.col("status") == "completed")
    per_bucket = {r["bucket"] for r in completed.collect()}
    assert per_bucket == set(range(N_BUCKETS))
    assert completed.count() == N_BUCKETS


def test_resume_is_noop_when_complete(spark, transcripts, tmp_path):
    out = str(tmp_path / "noop")
    run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS)
    summary = run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS)
    assert summary["buckets_processed"] == 0
    assert summary["buckets_resumed_skip"] == N_BUCKETS
    assert summary["turns_parsed"] == transcripts.count()


def test_resume_with_different_n_buckets_fails_fast(spark, transcripts, tmp_path):
    """The conv->bucket mapping depends on n_buckets; resuming with a
    different value would silently duplicate/drop conversations — the
    manifest guard must reject it."""
    out = str(tmp_path / "relayout")
    run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS * 2)


def test_read_extracted_ignores_stale_bucket_dirs(spark, transcripts, tmp_path):
    """A leftover bucket dir beyond the manifest's range (old layout)
    must not merge into the result."""
    out = str(tmp_path / "stale")
    run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS)
    clean = _text_map(read_extracted(spark, out))
    # forge a stale dir from a hypothetical older, wider layout
    import shutil

    shutil.copytree(
        os.path.join(out, "bucket=0"), os.path.join(out, f"bucket={N_BUCKETS + 3}")
    )
    assert _text_map(read_extracted(spark, out)) == clean


def test_completed_buckets_on_fresh_dir_starts_no_job(spark, transcripts, tmp_path):
    """The resume probe reads lineage on the driver: it answers without
    a Spark job on a fresh out_dir (no lineage) and on a completed
    run's out_dir (one lineage file per bucket)."""
    out = str(tmp_path / "done")
    run_extraction(spark, transcripts, out, n_buckets=2)
    sc = spark.sparkContext
    group = "test_completed_buckets_no_job"
    sc.setJobGroup(group, "completed_buckets on a fresh and a completed out_dir")
    try:
        assert completed_buckets(spark, str(tmp_path / "fresh")) == set()
        assert completed_buckets(spark, out) == {0, 1}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_bookkeeping_starts_no_spark_io(spark, transcripts, tmp_path, monkeypatch):
    """A run's Spark I/O is the staged input and the bucket dirs: lineage
    and _metrics are written and read on the driver, and the counters
    come from the bucket writes themselves, so no bucket dir is read
    back. _metrics keeps the column order and types that dict-row
    inference gave it."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    written, read = [], []
    write_parquet, read_parquet = DataFrameWriter.parquet, DataFrameReader.parquet

    def spy_write(self, path, *args, **kwargs):
        written.append(os.path.basename(path))
        return write_parquet(self, path, *args, **kwargs)

    def spy_read(self, *paths, **kwargs):
        read.extend(os.path.basename(p) for p in paths)
        return read_parquet(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy_write)
    monkeypatch.setattr(DataFrameReader, "parquet", spy_read)
    out = str(tmp_path / "bookkeeping")
    run_extraction(spark, transcripts, out, n_buckets=2)
    monkeypatch.undo()
    assert written == ["_staged_input", "bucket=0", "bucket=1"]
    assert not [p for p in read if p.startswith("bucket=") or p in ("_lineage", "_metrics")], read
    metrics = spark.read.parquet(os.path.join(out, "_metrics"))
    assert [(f.name, f.dataType.simpleString()) for f in metrics.schema] == [
        ("blocks_emitted", "bigint"),
        ("chars_extracted", "bigint"),
        ("conversations", "bigint"),
        ("ocr_fallback_rate", "double"),
        ("spans_emitted", "bigint"),
        ("turns_parsed", "bigint"),
    ]


@pytest.fixture(scope="module")
def skewed(spark):
    """One heavy conversation (conv_000011, 10x turns) and one whose
    turn 0 is missing (conv_000000 starts at turn_idx 1)."""
    df = synth_transcripts_df(spark, n_convs=12, heavy_every=12, heavy_factor=10)
    gap = (F.col("conv_id") == "conv_000000") & (F.col("turn_idx") == 0)
    return df.filter(~gap).cache()


@pytest.mark.parametrize("resumed", [False, True], ids=["fresh", "fail_then_resume"])
def test_observed_counters_equal_output_counts(spark, skewed, tmp_path, resumed):
    """The counters observed during each bucket write equal count and
    countDistinct(conv_id) over the written bucket, and the _metrics row
    summed from them equals run_metrics over the output, the fallback
    rate included (compared with ==)."""
    out = str(tmp_path / "counters")
    if resumed:
        with pytest.raises(RuntimeError, match="bucket 2 failed"):
            run_extraction(spark, skewed, out, n_buckets=N_BUCKETS, fail_bucket=2)
    summary = run_extraction(spark, skewed, out, n_buckets=N_BUCKETS)
    assert summary["buckets_resumed_skip"] == (2 if resumed else 0)
    completed = read_lineage(spark, out).filter(F.col("status") == "completed").collect()
    assert sorted(r["bucket"] for r in completed) == list(range(N_BUCKETS))
    for r in completed:
        bucket_dir = os.path.join(out, f"bucket={r['bucket']}")
        got = (
            spark.read.schema(EXTRACTED_WITH_SEQ_SCHEMA).parquet(bucket_dir)
            .agg(F.count("*").alias("n"), F.countDistinct("conv_id").alias("c"))
            .first()
        )
        assert (r["n_turns"], r["n_convs"]) == (got["n"], got["c"]), r["bucket"]
    want = run_metrics(read_extracted(spark, out)).first().asDict()
    assert want["conversations"] == 12 and want["turns_parsed"] == skewed.count()
    got = spark.read.parquet(os.path.join(out, "_metrics")).first().asDict()
    assert got == want
    assert {k: summary[k] for k in want} == want


def test_resume_refuses_lineage_without_counters(spark, transcripts, tmp_path):
    """A completed lineage row from before the per-bucket counters cannot
    feed the run summary: resuming from it must fail fast, not re-read
    the output."""
    out = str(tmp_path / "old_lineage")
    lineage = tmp_path / "old_lineage" / "_lineage"
    lineage.mkdir(parents=True)
    old = pa.table(
        {
            "bucket": pa.array([0], pa.int32()),
            "status": ["completed"],
            "n_turns": pa.array([5], pa.int64()),
            "n_convs": pa.array([1], pa.int64()),
            "started_at": [1.0],
            "completed_at": [2.0],
            "error_message": pa.array([None], pa.string()),
        }
    )
    pq.write_table(old, str(lineage / "part-00000.snappy.parquet"))
    with pytest.raises(ValueError, match="use a fresh out_dir") as err:
        run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS)
    assert out in str(err.value)


def test_empty_input_run_completes(spark, tmp_path):
    """An all-empty input must produce a complete (all-zero) run, not an
    inference crash: empty staging/bucket dirs have no data files, so
    every read-back path needs an explicit schema."""
    from pdf_parser_spark.pipeline import TRANSCRIPTS_SCHEMA

    out = str(tmp_path / "empty")
    empty = spark.createDataFrame([], schema=TRANSCRIPTS_SCHEMA)
    summary = run_extraction(spark, empty, out, n_buckets=N_BUCKETS)
    assert summary["buckets_processed"] == N_BUCKETS
    assert summary["turns_parsed"] == 0
    assert read_extracted(spark, out).count() == 0


class TestIncremental:
    """Generational ingest: only new conversations are processed per
    invocation; a failed generation resumes; the union equals a direct
    run over the full input."""

    def test_generations_process_only_new_convs(self, spark, tmp_path):
        from pdf_parser_spark.runner import read_incremental, run_incremental

        out = str(tmp_path / "inc")
        first = synth_transcripts_df(spark, n_convs=8)
        s0 = run_incremental(spark, first, out, n_buckets=N_BUCKETS)
        assert s0["generation"] == 0 and s0["new_convs"] == 8

        # same input again: nothing new, nothing written
        s1 = run_incremental(spark, first, out, n_buckets=N_BUCKETS)
        assert s1["generation"] is None and s1["new_convs"] == 0

        # grown input: only the 4 appended conversations are processed
        grown = synth_transcripts_df(spark, n_convs=12)
        s2 = run_incremental(spark, grown, out, n_buckets=N_BUCKETS)
        assert s2["generation"] == 1 and s2["new_convs"] == 4
        gen1 = read_extracted(spark, os.path.join(out, "gen=1"))
        first_ids = {r["conv_id"] for r in first.select("conv_id").distinct().collect()}
        assert not first_ids & {r["conv_id"] for r in gen1.select("conv_id").distinct().collect()}

        # union over generations equals a direct run on the full input
        assert _text_map(read_incremental(spark, out)) == _text_map(extract_turns(grown))

    def test_failed_generation_resumes_not_duplicates(self, spark, tmp_path):
        from pdf_parser_spark.runner import read_incremental, run_incremental

        out = str(tmp_path / "inc_fail")
        base = synth_transcripts_df(spark, n_convs=8)
        run_incremental(spark, base, out, n_buckets=N_BUCKETS)
        grown = synth_transcripts_df(spark, n_convs=12)

        with pytest.raises(RuntimeError, match="failed"):
            run_incremental(spark, grown, out, n_buckets=N_BUCKETS, fail_bucket=2)

        # partial generation is not readable yet
        assert read_incremental(spark, out).count() == base.count()

        # re-invoking RESUMES generation 1 (no gen=2, no duplicates)
        s = run_incremental(spark, grown, out, n_buckets=N_BUCKETS)
        assert s["generation"] == 1 and s["new_convs"] == 4
        inc = read_incremental(spark, out)
        assert inc.count() == grown.count()
        assert inc.select("conv_id", "turn_idx").distinct().count() == grown.count()
        assert _text_map(inc) == _text_map(extract_turns(grown))


def test_compact_output_equal_rows_fewer_files(spark, transcripts, tmp_path):
    """Compaction rewrites the bucketed output into ceil(bytes/target)
    conv-clustered files with IDENTICAL rows; dropping the source
    bucket dirs after the manifest flip changes nothing for readers."""
    from pdf_parser_spark.runner import compact_output, run_extraction

    out = str(tmp_path / "compact_run")
    run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS)
    before_df = read_extracted(spark, out).collect()
    n_before, n_after = compact_output(spark, out)
    assert n_before > n_after == 1  # tiny run -> one target file
    after = read_extracted(spark, out)
    assert sorted(map(tuple, before_df)) == sorted(map(tuple, after.collect()))
    # the compacted copy survives source deletion (commit point passed)
    compact_output(spark, out, drop_source=True)
    assert not [d for d in os.listdir(out) if d.startswith("bucket=")]
    assert sorted(map(tuple, before_df)) == sorted(
        map(tuple, read_extracted(spark, out).collect())
    )
    # re-invocation after drop_source is a safe no-op: it must NOT
    # rebuild from the (now absent) sources and lose the only copy
    n3_before, n3_after = compact_output(spark, out, drop_source=True)
    assert n3_before == n3_after == n_after
    assert sorted(map(tuple, before_df)) == sorted(
        map(tuple, read_extracted(spark, out).collect())
    )


def test_compact_refuses_incomplete_run(spark, transcripts, tmp_path):
    """A partial run must not compact — the rewrite would freeze the
    gap as if it were the complete output."""
    from pdf_parser_spark.runner import compact_output, run_extraction

    out = str(tmp_path / "compact_partial")
    with pytest.raises(RuntimeError, match="failed"):
        run_extraction(spark, transcripts, out, n_buckets=N_BUCKETS, fail_bucket=2)
    with pytest.raises(ValueError, match="incomplete"):
        compact_output(spark, out)
