"""Structured Streaming surface tests: the batch kernel runs unchanged
in a microbatch, exactly-once via checkpoint, watermarked metrics."""

import os

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.pipeline import extract_turns, synth_transcripts_df
from pdf_parser_spark.streaming import (
    _with_ts,
    run_stream_to_parquet,
    stream_metrics,
    stream_transcripts,
)


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_in"))
    synth_transcripts_df(spark, n_convs=10).repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_stream_extract_matches_batch(spark, input_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = run_stream_to_parquet(spark, input_dir, out, ckpt)
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    batch = extract_turns(spark.read.parquet(input_dir))
    sm = {
        (r["conv_id"], r["turn_idx"]): r["extracted_text"]
        for r in streamed.collect()
    }
    bm = {
        (r["conv_id"], r["turn_idx"]): r["extracted_text"]
        for r in batch.collect()
    }
    assert sm == bm

    # exactly-once: re-running over the same checkpoint adds nothing
    q2 = run_stream_to_parquet(spark, input_dir, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(bm)


def test_with_ts_refuses_a_kernel_that_drops_rows():
    # ts rides along by position, so a kernel that is not 1 row in : 1
    # row out must fail loudly (also under python -O)
    batch = pa.RecordBatch.from_pydict({"turn_idx": [0, 1], "ts": pa.array([1, 2], pa.timestamp("us"))})

    def drop_one(batches):
        for b in batches:
            yield b.slice(1)

    with pytest.raises(RuntimeError, match="1 row in : 1 row out"):
        list(_with_ts(drop_one)(iter([batch])))


def test_stream_metrics_watermarked(spark, input_dir, tmp_path):
    out = str(tmp_path / "metrics_out")
    ckpt = str(tmp_path / "metrics_ckpt")
    m = stream_metrics(stream_transcripts(spark, input_dir))
    q = (
        m.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # append-mode windows only emit once the watermark passes them; the
    # synthetic corpus spans many days, so all but the trailing hour close
    assert got.count() > 0
    total_turns = got.agg(F.sum("turns_parsed")).collect()[0][0]
    assert total_turns <= spark.read.parquet(input_dir).count()
    assert got.filter(F.col("turns_parsed") <= 0).count() == 0


def test_stateful_conversation_tracking(spark, tmp_path):
    """applyInPandasWithState: state accumulates across microbatches
    (progress rows), and a quiet conversation times out into a
    completed=true row with state dropped. One continuous query: with
    pending processing-time timeouts, availableNow never terminates."""
    import time

    from pdf_parser_spark.pipeline import TRANSCRIPTS_SCHEMA
    from pdf_parser_spark.streaming import stream_conversation_state

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    all_rows = synth_transcripts_df(spark, n_convs=2).collect()
    conv0 = sorted(
        (r for r in all_rows if r["conv_id"] == "conv_000000"),
        key=lambda r: r["turn_idx"],
    )
    half = len(conv0) // 2
    QUIET_MS = 10_000
    # 2 state-store partitions: per-microbatch overhead scales with the
    # store count and this test ticks every second over 1 conv key
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, name))

    def rows_out(pred):
        try:
            return [r for r in spark.read.parquet(out).collect() if pred(r)]
        except Exception:  # sink dir not created yet
            return []

    def wait_for(pred, timeout_s=150):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            got = rows_out(pred)
            if got:
                return got
            time.sleep(2)
        return []

    write_batch(conv0[:half], "b1")
    write_batch(conv0[half:], "b2")
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        stream_conversation_state(stream, quiet_timeout_ms=QUIET_MS)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # state carry-over: a progress row reaches the full turn count
        full = wait_for(
            lambda r: r["conv_id"] == "conv_000000"
            and not r["completed"]
            and r["n_turns"] == len(conv0)
        )
        assert full, "state did not accumulate across microbatches"
        # quiet period passes -> timeout fires -> completed row, once
        done = wait_for(lambda r: r["conv_id"] == "conv_000000" and r["completed"])
        assert len(done) == 1
        assert done[0]["n_turns"] == len(conv0)
        assert done[0]["n_chars"] == sum(len(r["text"] or "") for r in conv0)
        assert done[0]["last_turn_idx"] == max(r["turn_idx"] for r in conv0)
    finally:
        q.stop()
        q.awaitTermination(60)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def test_stream_dedup_drops_replayed_files(spark, tmp_path):
    """The same input file ingested twice (at-least-once upstream) must
    yield each (conv_id, turn_idx) exactly once downstream."""
    from pdf_parser_spark.pipeline import TRANSCRIPTS_SCHEMA
    from pdf_parser_spark.streaming import stream_dedup_turns, stream_extract

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    rows = synth_transcripts_df(spark, n_convs=4).collect()
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA).coalesce(1)
    df.write.parquet(os.path.join(src, "b1"))
    df.write.parquet(os.path.join(src, "b1_replay"))  # exact duplicate batch

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # replay arrives as a separate microbatch
        .parquet(src + "/*")
    )
    q = (
        stream_extract(stream_dedup_turns(stream))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).select("conv_id", "turn_idx").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in got]
    assert len(keys) == len(set(keys)) == len(rows)


def test_stream_session_windows_match_batch(spark, tmp_path):
    """session_window sessionization: the streamed (watermarked,
    append-mode) result must be a subset of the batch session_window
    result with identical per-session aggregates, and must cover every
    session that closed before the final watermark."""
    from pdf_parser_spark.streaming import stream_session_stats

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # the testdata parquet stores TIMESTAMP_NTZ; watermarks require
    # event-time TIMESTAMP (with tz) -- cast once, on both paths
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    in_dir = str(tmp_path / "ev_in")
    events.repartition(4).write.mode("overwrite").parquet(in_dir)

    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
    )
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    q = (
        stream_session_stats(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(out).toPandas()
    assert len(streamed) > 0
    # batch mode: the same expression over the same input
    batch = stream_session_stats(events).toPandas()
    # multi-event sessions exist (the gap logic actually merges)
    assert (batch["n_events"] > 1).any()
    bkey = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.session_value)
        for r in batch.itertuples()
    }
    for r in streamed.itertuples():
        assert bkey[(r.user_id, r.session_start)] == (
            r.session_end,
            r.n_events,
            r.session_value,
        ), f"session mismatch for {r}"
    # nearly all sessions closed (corpus spans ~30 days vs 1h watermark)
    assert len(streamed) >= 0.9 * len(batch)


def _write_time_ordered_files(spark, df, order_col, in_dir, n_files=4):
    """Split ``df`` into ``n_files`` sequential event-time ranges and
    write them as separate single-file batches with strictly increasing
    mtimes, so the file stream source (ordered by mtime, then path)
    replays them IN event-time order — the in-order-stream premise the
    funnel contract documents."""
    import time

    pdf = df.toPandas().sort_values(order_col, kind="mergesort").reset_index(drop=True)
    chunk = (len(pdf) + n_files - 1) // n_files
    now = time.time()
    for i in range(n_files):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        if not len(part):
            continue
        d = os.path.join(in_dir, f"b{i}")
        spark.createDataFrame(part, schema=df.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        for f in os.listdir(d):
            p = os.path.join(d, f)
            os.utime(p, (now + i, now + i))


def test_stream_funnel_matches_batch(spark, tmp_path):
    """Per-user funnel state accumulated across ts-ordered microbatches
    must end at exactly the batch q_funnel_stages row for every user:
    same stage_reached, same (nullable) stage timestamps. State is 3
    longs per user; progress rows are monotone in stage, so the final
    row per user is the max-stage one."""
    from pdf_parser_spark.queries import q_funnel_stages
    from pdf_parser_spark.streaming import stream_funnel_state

    us = F.expr(
        "CAST(timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " AS LONG)"
    )
    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_type", "ts"
    )
    # every corpus user converts fully at sf0.001 — add partial funnels
    # so stages 1/2, the no-view exclusion, and the click-BEFORE-view
    # rule are all exercised: -1 click only (out), -2 view only (1),
    # -3 view+click (2), -4 click at t<view then view (1)
    t = lambda s: f"TIMESTAMP_NTZ '2024-01-01 00:00:{s:02d}'"  # noqa: E731
    extra = spark.sql(
        "SELECT * FROM VALUES "
        f"(-1L, 'click',    {t(5)}), "
        f"(-2L, 'view',     {t(5)}), "
        f"(-3L, 'view',     {t(5)}), (-3L, 'click', {t(7)}), "
        f"(-4L, 'click',    {t(3)}), (-4L, 'view',  {t(5)}) "
        "AS v(user_id, event_type, ts)"
    )
    # batch ground truth reads events.parquet from a dir — write the
    # augmented corpus as its own sf_dir
    sf_dir = str(tmp_path / "fun_sf")
    base.unionByName(extra).write.parquet(os.path.join(sf_dir, "events.parquet"))
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "user_id", "event_type", us.alias("ts_us")
    )
    in_dir = str(tmp_path / "fun_in")
    os.makedirs(in_dir, exist_ok=True)
    _write_time_ordered_files(spark, ev, "ts_us", in_dir)

    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    out = str(tmp_path / "fun_out")
    ckpt = str(tmp_path / "fun_ckpt")
    q = (
        stream_funnel_state(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = spark.read.parquet(out).toPandas()
    # progress rows are monotone per user (t_* never change once set),
    # so the final state is the unique max-stage row
    final = streamed.sort_values(["user_id", "stage_reached"]).groupby(
        "user_id", as_index=False
    ).last()

    batch = q_funnel_stages(spark, sf_dir).toPandas()
    assert len(final) == len(batch) > 0
    got = {
        int(r.user_id): (
            int(r.stage_reached),
            None if pd.isna(r.t_view) else int(r.t_view),
            None if pd.isna(r.t_click) else int(r.t_click),
            None if pd.isna(r.t_purchase) else int(r.t_purchase),
        )
        for r in final.itertuples()
    }
    to_us = lambda v: None if pd.isna(v) else int(  # noqa: E731
        (v - pd.Timestamp("1970-01-01")).value // 1000
    )
    want = {
        int(r.user_id): (
            int(r.stage_reached),
            to_us(r.t_view),
            to_us(r.t_click),
            to_us(r.t_purchase),
        )
        for r in batch.itertuples()
    }
    assert got == want
    # all three stages are exercised, the click-only user is absent,
    # and the click-before-view user stalls at stage 1
    assert {s for s, *_ in want.values()} == {1, 2, 3}
    assert -1 not in want and want[-4][0] == 1 and want[-3][0] == 2


def test_stream_hist_cells_match_batch(spark, tmp_path):
    """Streaming histogram cells (complete mode, state capped at
    |types| x HIST_BINS) over the same bounds must equal the batch
    cells EXACTLY (integer counts, shared binning expression), and the
    quantile read-back over the streamed cells must equal the batch
    q_hist_quantiles output row for row."""
    from pdf_parser_spark.dataops import (
        HIST_BINS,
        _hist_quantiles_from,
        hist_bounds,
        q_hist_quantiles,
    )
    from pdf_parser_spark.streaming import stream_hist_cells

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    bounds = hist_bounds(ev).localCheckpoint(eager=True)

    in_dir = str(tmp_path / "hist_in")
    ev.repartition(4).write.mode("overwrite").parquet(in_dir)
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        stream_hist_cells(src, bounds)
        .writeStream.format("memory")
        .queryName("hist_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed_cells = spark.table("hist_cells").localCheckpoint(eager=True)
    sc = {(r["event_type"], r["bin"]): r["cnt"] for r in streamed_cells.collect()}
    bc = {
        (r["event_type"], r["bin"]): r["cnt"]
        for r in stream_hist_cells(ev, bounds).collect()
    }
    assert sc == bc and len(bc) > 0
    assert max(b for _, b in sc) < HIST_BINS and min(b for _, b in sc) >= 0

    key = ["event_type"]
    got = (
        _hist_quantiles_from(streamed_cells, bounds)
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    want = (
        q_hist_quantiles(spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values(key)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_cms_matches_batch_sketch(spark, input_dir, tmp_path):
    """The streaming CMS cells (complete mode, state capped at
    DEPTH x WIDTH rows) must equal the batch sketch over the same
    data — the merge-by-sum property makes microbatch accumulation
    exact, not approximate, at the cell level."""
    from pdf_parser_spark.streaming import stream_cms_cells, stream_transcripts

    q = (
        stream_cms_cells(stream_transcripts(spark, input_dir))
        .writeStream.format("memory")
        .queryName("cms_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["r"], r["b"]): r["cnt"]
        for r in spark.sql("SELECT * FROM cms_cells").collect()
    }
    batch = {
        (r["r"], r["b"]): r["cnt"]
        for r in stream_cms_cells(spark.read.parquet(input_dir)).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_sft_pairs_match_batch(spark, tmp_path):
    """SFT pair assembly streamed over turn-ordered microbatches must
    emit EXACTLY the batch q_sft_pairs rows for the same corpus —
    same pairs, same contexts, byte-for-byte — with state bounded at
    <=4 rendered turns per conversation. The corpus is split into 4
    sequential turn_idx ranges so every conversation's context window
    crosses at least one microbatch boundary."""
    from pdf_parser_spark.dataops import q_sft_pairs
    from pdf_parser_spark.pipeline import transcripts_from_documents
    from pdf_parser_spark.streaming import stream_sft_pairs

    sf_dir = "/root/testdata/sf0.001"
    t = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    in_dir = str(tmp_path / "sft_in")
    os.makedirs(in_dir, exist_ok=True)
    _write_time_ordered_files(spark, t, "turn_idx", in_dir)

    src = (
        spark.readStream.schema(t.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    out = str(tmp_path / "sft_out")
    ckpt = str(tmp_path / "sft_ckpt")
    q = (
        stream_sft_pairs(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    cols = ["conv_id", "turn_idx", "context", "response",
            "n_context_turns", "n_context_chars"]
    streamed = (
        spark.read.parquet(out)
        .toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    batch = (
        q_sft_pairs(spark, sf_dir)
        .toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(streamed) == len(batch) > 0
    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)


def test_stream_sft_pairs_resume_from_checkpoint(spark, tmp_path):
    """Stateful-operator recovery: run the SFT stream over the first
    half of the corpus, STOP, then run a fresh query with the SAME
    checkpoint over the full input — the second run must restore the
    per-conversation context state from the state store (not reprocess
    or drop turns) and the union of outputs must equal the batch
    result exactly. This is the restart path a production streaming
    job takes after a deploy or crash."""
    from pdf_parser_spark.dataops import q_sft_pairs
    from pdf_parser_spark.pipeline import transcripts_from_documents
    from pdf_parser_spark.streaming import stream_sft_pairs

    sf_dir = "/root/testdata/sf0.001"
    t = transcripts_from_documents(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    in_dir = str(tmp_path / "sftr_in")
    os.makedirs(in_dir, exist_ok=True)
    _write_time_ordered_files(spark, t, "turn_idx", in_dir)
    batches = sorted(os.listdir(in_dir))
    assert len(batches) == 4
    # stage only the first two batch dirs, run to completion, stop
    live = str(tmp_path / "sftr_live")
    os.makedirs(live, exist_ok=True)
    for b in batches[:2]:
        os.rename(os.path.join(in_dir, b), os.path.join(live, b))
    out = str(tmp_path / "sftr_out")
    ckpt = str(tmp_path / "sftr_ckpt")

    def run_once():
        src = (
            spark.readStream.schema(t.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live + "/*")
        )
        q = (
            stream_sft_pairs(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    n_first = spark.read.parquet(out).count()
    # deliver the remaining input and restart from the same checkpoint
    for b in batches[2:]:
        os.rename(os.path.join(in_dir, b), os.path.join(live, b))
    run_once()

    cols = ["conv_id", "turn_idx", "context", "response",
            "n_context_turns", "n_context_chars"]
    streamed = (
        spark.read.parquet(out)
        .toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    batch = (
        q_sft_pairs(spark, sf_dir)
        .toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert 0 < n_first < len(batch)  # the restart actually resumed mid-corpus
    assert len(streamed) == len(batch)
    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)


def test_stream_neardup_matches_batch(spark, tmp_path):
    """Ingest-time LSH near-dup marks accumulated over an in-order doc
    stream must fold to exactly the batch q_neardup_first_writer
    verdict: arrival order == doc_id order, so stream first-arrival
    ownership == batch min(doc_id) ownership, bucket for bucket. Also
    locks that some docs are actually dropped (the corpus carries
    near-dups) and that state is band-bucket-keyed (one owner long per
    bucket), not doc-keyed."""
    from pdf_parser_spark.dataops import q_neardup_first_writer
    from pdf_parser_spark.streaming import (
        neardup_verdict_from_marks,
        stream_neardup_mark,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select(
            "doc_id",
            "text",
            # watermarks need TIMESTAMP (with tz), not NTZ; one second
            # per doc_id makes arrival order == doc_id order
            F.expr(
                "CAST(TIMESTAMP_NTZ '2024-01-01 00:00:00'"
                " + make_interval(0, 0, 0, 0, 0, 0, doc_id) AS TIMESTAMP)"
            ).alias("ts"),
        )
    )
    in_dir = str(tmp_path / "nd_in")
    os.makedirs(in_dir, exist_ok=True)
    _write_time_ordered_files(spark, docs, "ts", in_dir)

    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/*")
    )
    out = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")
    q = (
        stream_neardup_mark(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cols = ["doc_id", "n_buckets", "n_owned", "keep"]
    streamed = (
        neardup_verdict_from_marks(spark.read.parquet(out))
        .toPandas()[cols]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    batch_all = q_neardup_first_writer(spark, sf_dir).toPandas()
    batch = (
        batch_all[batch_all["n_buckets"] > 0][cols]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # every doc with buckets appears in the stream output, and a
    # bucketless doc (none at this SF, asserted) trivially keeps
    assert (batch_all["n_buckets"] > 0).all()
    assert len(streamed) == len(batch) > 0
    assert not batch["keep"].all()  # the corpus really has near-dups
    pd.testing.assert_frame_equal(streamed, batch, check_dtype=False)
