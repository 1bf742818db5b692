"""Structured Streaming surface: incremental extraction over an
arriving transcript table.

The reference's only stream is a Redis queue polled every 2 s
(services/worker/run.py:23-38); our batch engine models that as
checkpoint/resume (runner.py). This module adds the genuinely-streaming
variant for pipelines that tail an ingest table: ``readStream`` over
the parquet/Iceberg dir -> the SAME Arrow extraction kernel (stateless
``mapInArrow`` works unchanged on a streaming DataFrame) ->
``writeStream`` with exactly-once file sink + checkpoint.

Notes:
- The stable-ordering window (row_number over conv_id) is a batch-only
  construct; streaming output carries (conv_id, turn_idx) and ordering
  is restored by any downstream batch read (ORDER BY), as in
  pipeline.fill_turn_gaps.
- Watermarked event-time metrics (turns/fallbacks per hour) show the
  late-data story the reference lacks (SURVEY.md §2.9).
- ``trigger(availableNow=True)`` drains the backlog and stops — the
  incremental-batch mode a 100 TB backfill would use; remove it for a
  continuous tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import (
    EXTRACTED_WITH_SEQ_SCHEMA,
    TRANSCRIPTS_SCHEMA,
    _extract_batches,
)

# streaming has no global ordering window; turn_seq here is the
# kernel's provisional turn_idx+1 and is finalized by batch readers
_EXTRACTED_WITH_TS = T.StructType(
    EXTRACTED_WITH_SEQ_SCHEMA.fields + [T.StructField("ts", T.TimestampType(), True)]
)


def stream_transcripts(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)  # bound per-microbatch work
        .parquet(input_dir)
    )


def stream_extract(transcripts: DataFrame) -> DataFrame:
    """Same kernel as the batch hot path — stateless, so it runs
    unchanged inside a microbatch."""
    return transcripts.mapInArrow(_extract_batches, schema=EXTRACTED_WITH_SEQ_SCHEMA)


def stream_metrics(transcripts: DataFrame) -> DataFrame:
    """Watermarked per-hour extraction metrics (append-mode safe). The
    watermark is applied to the kernel's OUTPUT ts (an opaque UDF stage
    would otherwise drop watermark metadata)."""
    extracted = transcripts.mapInArrow(
        _with_ts(_extract_batches), schema=_EXTRACTED_WITH_TS
    )
    return (
        extracted.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("turns_parsed"),
            F.sum(F.col("is_fallback").cast("long")).alias("fallback_turns"),
            F.sum("n_chars").alias("chars_extracted"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "turns_parsed",
            "fallback_turns",
            "chars_extracted",
        )
    )


def _with_ts(inner):
    """Attach the input ``ts`` to the kernel output POSITIONALLY: the
    extraction kernel emits exactly one output row per input row in
    input order, so ts rides along by index. (A (conv_id, turn_idx)
    merge would fan out on duplicated keys — replayed/duplicated ingest
    files, exactly what streaming must tolerate — and double-count
    every metric downstream.)"""

    def gen(batches):
        for batch in batches:
            for out in inner(iter([batch])):
                if out.num_rows != batch.num_rows:
                    raise RuntimeError(
                        f"kernel must be 1 row in : 1 row out, got {out.num_rows} "
                        f"rows for {batch.num_rows}"
                    )
                yield out.append_column("ts", batch.column("ts"))

    return gen


def stream_dedup_turns(transcripts: DataFrame, within: str = "1 hour") -> DataFrame:
    """Streaming ingest dedup: duplicated/replayed input files (the
    failure mode streaming must tolerate — e.g. an at-least-once
    upstream) are dropped on the (conv_id, turn_idx, ts) key with
    bounded state via ``dropDuplicatesWithinWatermark``: the engine
    keeps each key only until the watermark passes ``within`` of its
    event time, so state can't grow with the corpus. Batch analogue:
    R1/S8 hash dedup (queries.q_dedup_hash); the reference's 409-on-
    duplicate upload check (services/ingest_api/app.py:171-215)."""
    return transcripts.withWatermark("ts", within).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def stream_session_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming sessionization via dynamic-gap session windows: the
    streaming analogue of queries.q_sessionize_events (lag+cumsum is a
    batch-only construct — no global per-key ordering exists on a
    stream). ``session_window`` keeps one [start, last+gap) window per
    active (user, session) in the state store, merges on overlap, and
    emits when the watermark passes the window end — bounded state,
    late rows folded in up to ``watermark``. Works on any
    (user_id, ts, value)-shaped stream; in batch mode the same
    expression computes the identical sessions (tested against it)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stream_conversation_state(
    transcripts: DataFrame, quiet_timeout_ms: int = 30 * 60 * 1000
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-
    conversation running aggregates with a quiet-period timeout.

    The reference's worker loop polls a queue and marks a job done when
    its pages stop arriving (services/worker/run.py:23-38 + status
    transitions, ingest_api/schemas.py:18-39). Streaming analogue:
    state per ``conv_id`` accumulates (n_turns, n_chars, last_turn_idx)
    across microbatches; every batch emits a progress row
    (completed=false), and when a conversation stays quiet for
    ``quiet_timeout_ms`` of processing time the state times out and a
    final completed=true row is emitted, state dropped.

    Scale: state lives in the state store partitioned by conv_id —
    exactly the salting-exempt key (state must see every turn of a
    conv); memory per key is 3 longs, so 10^9 live conversations fit
    in ~100 executors' state stores.

    Trigger note (measured): with pending processing-time timeouts the
    query does NOT self-terminate under ``trigger(availableNow=True)``
    — the engine keeps scheduling batches so the timeouts can fire.
    Run it with a continuous trigger (e.g.
    ``trigger(processingTime="1 second")``) and stop explicitly, as the
    test does.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("n_turns", T.LongType(), False),
            T.StructField("n_chars", T.LongType(), False),
            T.StructField("last_turn_idx", T.IntegerType(), False),
            T.StructField("completed", T.BooleanType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_turns", T.LongType(), False),
            T.StructField("n_chars", T.LongType(), False),
            T.StructField("last_turn_idx", T.IntegerType(), False),
        ]
    )

    def track(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            n_turns, n_chars, last_idx = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": [n_turns],
                    "n_chars": [n_chars],
                    "last_turn_idx": [last_idx],
                    "completed": [True],
                }
            )
            return
        n_turns, n_chars, last_idx = state.get if state.exists else (0, 0, -1)
        for pdf in pdfs:
            n_turns += len(pdf)
            n_chars += int(pdf["text"].str.len().fillna(0).sum())
            last_idx = max(last_idx, int(pdf["turn_idx"].max()))
        state.update((n_turns, n_chars, last_idx))
        state.setTimeoutDuration(quiet_timeout_ms)
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "n_turns": [n_turns],
                "n_chars": [n_chars],
                "last_turn_idx": [last_idx],
                "completed": [False],
            }
        )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def run_stream_to_parquet(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Launch the streaming extraction; returns the StreamingQuery.
    Exactly-once via the file-sink commit log + checkpoint — the
    streaming analogue of runner.py's bucket lineage."""
    extracted = stream_extract(stream_transcripts(spark, input_dir))
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_hist_cells(events: DataFrame, bounds: DataFrame) -> DataFrame:
    """Bounded-state streaming histogram: given a STATIC bounds table
    (event_type, vmin, width) — from a prior profiling pass or domain
    config; an open stream cannot know global min/max up front — bins
    each arriving event through the SAME expression as the batch
    sketch (dataops._hist_bin_col) and maintains per-(type, bin)
    counts. State is capped at |event types| x HIST_BINS cells forever
    (the streaming analogue of dataops.q_hist_quantiles' cell table),
    and because batch and stream share the binning expression and
    bounds, their cells merge by cell-wise sum. Run in update/complete
    mode; quantile read-back over the materialized cells is
    dataops._hist_quantiles_from — test_stream_hist_cells_match_batch
    pins streamed cells == batch cells AND streamed read-back ==
    q_hist_quantiles. The bounds side is broadcast (a stream-static
    join against a |types|-row dimension)."""
    from .dataops import _hist_bin_col

    binned = events.join(
        F.broadcast(bounds.select("event_type", "vmin", "width")), "event_type"
    ).withColumn("bin", _hist_bin_col(F.col("value"), F.col("vmin"), F.col("width")))
    return binned.groupBy("event_type", "bin").agg(F.count("*").alias("cnt"))


def stream_sft_pairs(transcripts: DataFrame) -> DataFrame:
    """Streaming twin of dataops.q_sft_pairs: per-conversation state is
    the last ≤SFT_CONTEXT_TURNS rendered "role: text" strings; every
    assistant turn with a non-empty context emits its (context,
    response) training pair as it arrives. The batch op's bounded ROWS
    frame becomes a bounded state list — ≤4 strings per live
    conversation regardless of conversation length or stream length,
    so a 10^12-turn stream holds state proportional to LIVE
    conversations only.

    In-order premise (same as stream_funnel_state): turns of a
    conversation arrive in turn_idx order across microbatches (the
    file source replays mtime-ordered batches; a production source
    with late turns would front a dropDuplicates/watermark reorder
    stage). test_stream_sft_pairs_match_batch pins streamed pairs ==
    batch q_sft_pairs on the replayed corpus."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .dataops import SFT_CONTEXT_TURNS

    out_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("context", T.StringType(), False),
            T.StructField("response", T.StringType(), False),
            T.StructField("n_context_turns", T.IntegerType(), False),
            T.StructField("n_context_chars", T.IntegerType(), False),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("ctx", T.ArrayType(T.StringType()), True)]
    )

    def pairs(key, pdfs, state: GroupState):
        (conv_id,) = key
        ctx = list(state.get[0]) if state.exists else []
        rows = []
        pdf = pd.concat(list(pdfs))
        pdf = pdf.sort_values("turn_idx", kind="mergesort")
        for r in pdf.itertuples():
            if r.role == "assistant" and ctx:
                joined = "\n".join(ctx)
                rows.append(
                    (conv_id, int(r.turn_idx), joined, r.text, len(ctx), len(joined))
                )
            ctx.append(f"{r.role}: {r.text}")
            if len(ctx) > SFT_CONTEXT_TURNS:
                ctx = ctx[-SFT_CONTEXT_TURNS:]
        state.update((ctx,))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "conv_id",
                    "turn_idx",
                    "context",
                    "response",
                    "n_context_turns",
                    "n_context_chars",
                ],
            )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        pairs,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_funnel_state(events: DataFrame) -> DataFrame:
    """Streaming funnel (view -> click -> purchase) via
    ``applyInPandasWithState``: per-user state is THREE epoch-micro
    longs — first view, first click strictly after it, first purchase
    strictly after that — bounded at 3 longs per user regardless of
    event volume (the streaming analogue of queries.q_funnel_stages'
    three min-aggregate shuffles).

    Correctness argument: a greedy left-to-right update over
    ts-ordered events computes exactly the batch semantics — the first
    view seen in ts order IS min(view ts); once it is set, the first
    click with ts strictly greater is min(click ts > t_view), and
    likewise for purchase (strict > makes same-timestamp interleavings
    order-independent). So on an IN-ORDER stream (microbatch
    boundaries respect event time — the log-tail / file-replay shape)
    the last progress row per user equals the batch funnel row;
    test_stream_funnel_matches_batch pins it. Out-of-order arrival
    would need a watermarked recompute, the same caveat the batch-only
    lag/cumsum sessionize documents.

    Emits one progress row per user per microbatch touching them
    (users with no view yet are out of the funnel by definition, as in
    batch). NoTimeout, so ``trigger(availableNow=True)`` terminates —
    unlike the processing-time-timeout conversation tracker.

    Input: (user_id long, event_type string, ts_us long). Output
    mirrors q_funnel_stages with nullable epoch-micro longs."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("stage_reached", T.LongType(), False),
            T.StructField("t_view", T.LongType(), True),
            T.StructField("t_click", T.LongType(), True),
            T.StructField("t_purchase", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("t_view", T.LongType(), False),
            T.StructField("t_click", T.LongType(), False),
            T.StructField("t_purchase", T.LongType(), False),
        ]
    )

    def track(key, pdfs, state: GroupState):
        (user_id,) = key
        tv, tc, tp = state.get if state.exists else (-1, -1, -1)
        for pdf in pdfs:
            pdf = pdf.sort_values("ts_us")
            for ts, et in zip(pdf["ts_us"].to_numpy(), pdf["event_type"].to_numpy()):
                ts = int(ts)
                if et == "view":
                    if tv < 0:
                        tv = ts
                elif et == "click":
                    if tv >= 0 and tc < 0 and ts > tv:
                        tc = ts
                elif et == "purchase":
                    if tc >= 0 and tp < 0 and ts > tc:
                        tp = ts
        state.update((tv, tc, tp))
        if tv < 0:
            return  # no view yet -> not in the funnel (batch drops these)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "stage_reached": [1 + int(tc >= 0) + int(tp >= 0)],
                "t_view": pd.array([tv], dtype="Int64"),
                "t_click": pd.array([tc if tc >= 0 else None], dtype="Int64"),
                "t_purchase": pd.array([tp if tp >= 0 else None], dtype="Int64"),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_neardup_mark(docs: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Ingest-time near-dup FILTER: per arriving doc, mark each of its
    MinHash LSH band buckets as owned (this doc was first into the
    bucket within the dedup horizon) or not. A doc whose buckets are
    all owned is kept; any unowned bucket means an earlier doc already
    claimed it -> near-dup, drop. Batch twin: dataops.
    q_neardup_first_writer ("band seen before" semantics — ownership
    is first-arrival, and a dropped doc still poisons its buckets);
    the stream==batch contract (test_stream_neardup_matches_batch)
    pins the verdicts equal on an in-order stream, where first
    arrival == min doc_id.

    State is ONE long (the owner) per band bucket active within
    ``horizon``, expired by EventTimeTimeout once the watermark passes
    horizon beyond the bucket's newest arrival — so state is bounded
    by the rolling ingest window, not the corpus (the global pass is
    the batch twin over the persisted band index, as everywhere else
    in the dedup family). The signature is computed statelessly in
    column expressions (same 16 md5 min-hashes and least||greatest
    band key as dataops._minhash_bands); the one divergence is the
    MAX_DF stop-shingle cap, which needs a corpus-wide df count no
    stream can know — below MAX_DF docs-per-shingle the two paths are
    identical, beyond it the stream conservatively over-groups (more
    collisions -> more drops, never fewer).

    Input: (doc_id long, text string, ts timestamp). Output one row
    per (doc, band): (doc_id, band, owned); fold to the per-doc
    verdict with ``neardup_verdict_from_marks`` on any batch read of
    the sink (the mark-at-ingest / apply-at-compaction split)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .dataops import N_BANDS, _shingles_col, _tokens_col

    horizon_ms = int(pd.Timedelta(horizon).total_seconds() * 1000)
    sh = _shingles_col(_tokens_col())

    # NB: the minhash index must be bound via a closure factory — a
    # two-argument lambda (`lambda s, i=i`) would make F.transform pass
    # the ARRAY INDEX as the second argument, silently replacing i
    def _minhash(i: int):
        return F.array_min(
            F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{i}|"), s)))
        )

    hashes = [_minhash(i) for i in range(2 * N_BANDS)]
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat(
                        F.least(hashes[2 * b], hashes[2 * b + 1]),
                        F.greatest(hashes[2 * b], hashes[2 * b + 1]),
                    )
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    rows = (
        docs.withWatermark("ts", horizon)
        .select("doc_id", "ts", F.explode(bands_arr).alias("bk"))
        .select("doc_id", "ts", "bk.band", "bk.bkey")
        .filter(F.col("bkey").isNotNull())  # too short to shingle -> no buckets
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("band", T.IntegerType(), False),
            T.StructField("owned", T.BooleanType(), False),
        ]
    )
    state_schema = T.StructType([T.StructField("owner", T.LongType(), False)])

    def mark(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        band, _bkey = key
        owner = state.get[0] if state.exists else None
        batch = pd.concat(list(pdfs)).sort_values(["ts", "doc_id"])
        if owner is None:
            owner = int(batch["doc_id"].iloc[0])
        state.update((owner,))
        # expire the bucket once the watermark passes horizon beyond
        # its newest arrival (max ts >= current watermark on any
        # non-timed-out invocation, so the timestamp is always valid)
        state.setTimeoutTimestamp(
            int(batch["ts"].max().value // 1_000_000) + horizon_ms
        )
        yield pd.DataFrame(
            {
                "doc_id": batch["doc_id"].astype("int64"),
                "band": int(band),
                "owned": batch["doc_id"].astype("int64") == owner,
            }
        )

    return rows.groupBy("band", "bkey").applyInPandasWithState(
        mark,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def neardup_verdict_from_marks(marks: DataFrame) -> DataFrame:
    """Per-doc keep/drop verdict from a batch read of the
    stream_neardup_mark sink: keep iff every bucket is owned (matches
    q_neardup_first_writer's columns on docs that have buckets)."""
    return (
        marks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.col("owned").cast("long")).alias("n_owned"),
        )
        .withColumn("keep", F.col("n_owned") == F.col("n_buckets"))
    )


def stream_cms_cells(transcripts: DataFrame) -> DataFrame:
    """Bounded-state streaming count-min sketch: CMS cells over the
    bigram stream of arriving turn text (same hash rows as the batch
    ``q_cms_heavy_hitters``, so batch and stream sketches merge by
    cell-wise sum). A streaming word/ngram count keeps O(vocabulary)
    state — unbounded on an open stream; this aggregation's state is
    capped at CMS_DEPTH x CMS_WIDTH rows TOTAL forever, while still
    answering frequency estimates one-sidedly (est >= true). Run it in
    update/complete mode; heavy-hitter candidates come from a separate
    sampled pass, as in the batch op's docstring."""
    from .dataops import CMS_DEPTH, _cms_bucket, _ngrams_col, _tokens_col

    grams = transcripts.select(F.explode(_ngrams_col(_tokens_col(), 2)).alias("gram"))
    buckets = F.array(*[_cms_bucket(i) for i in range(CMS_DEPTH)])
    return (
        grams.select(F.posexplode(buckets).alias("r", "b"))
        .groupBy("r", "b")
        .agg(F.count("*").alias("cnt"))
    )
