"""Resumable extraction runs: bucket-grained checkpoint + lineage
(M4 in SURVEY.md §7).

The reference's job lifecycle (queued -> processing -> uploaded/failed,
services/ingest_api/schemas.py:18-39 + worker loop run.py:23-38) maps
to snapshot-style checkpointing: work is split into ``n_buckets``
conv-hash buckets; each bucket is extracted and written atomically
(parquet dir per bucket), then a lineage row (bucket, status, counts,
timestamps, error) is appended. Resume = read lineage, skip completed
buckets, process the rest. Output and lineage are idempotent per
bucket (overwrite semantics), so a killed run resumes to the identical
result — the failure-injection test in tests/test_runner.py proves it.

At cluster scale each bucket is a large unit (e.g. 1024 buckets over
100 TB -> ~100 GB per commit) and the lineage table is the Iceberg
snapshot log; a real deployment would use MERGE INTO on an Iceberg
``lineage`` table instead of parquet appends — the control flow is the
same. Inside each bucket the extraction still salts on (conv_id,
turn_idx-hash) so a single million-turn conversation spreads across
tasks (pipeline.extract_turns).

The runner learns everything it records while it writes, with no
second Spark pass: each bucket's write carries a ``DataFrame.observe``
(``BUCKET_COUNTERS``) whose counters land in that bucket's lineage
row, and the run summary and ``_metrics`` are the sums of the
completed lineage rows. ``observe`` rejects distinct aggregates, so a
bucket's conversation count is the number of ``turn_seq = 1`` rows:
the ordering window gives every conversation exactly one first turn,
and a conversation never spans two buckets, so the per-bucket sums
equal the distinct count.

Lineage and ``_metrics`` are a few rows each, so the driver writes
and reads them with pyarrow and no Spark job: each lineage append is
one parquet file in ``_lineage/`` (written under a dot-prefixed name,
then renamed, so no reader sees a partial file), and ``_metrics`` is
committed like a Spark write (temp dir with ``_SUCCESS``, renamed into
place). ``read_lineage`` reads the same files through Spark. So a run's
only Spark I/O is the input staging and the bucket writes; a lineage
append through Spark cost 0.08-0.11 s cold on 4 cores even as an
Arrow-built frame.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
import traceback
import uuid
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .pipeline import EXTRACTED_WITH_SEQ_SCHEMA, extract_turns

log = logging.getLogger(__name__)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_convs", T.LongType(), False),
        T.StructField("started_at", T.DoubleType(), False),
        T.StructField("completed_at", T.DoubleType(), False),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("blocks_emitted", T.LongType(), False),
        T.StructField("spans_emitted", T.LongType(), False),
        T.StructField("chars_extracted", T.LongType(), False),
        T.StructField("fallback_turns", T.LongType(), False),
    ]
)

BUCKET_COUNTERS = (
    "n_turns", "n_convs", "blocks_emitted", "spans_emitted", "chars_extracted", "fallback_turns"
)


def _bucket_counters() -> list[Column]:
    """The BUCKET_COUNTERS, observed on each bucket's write. count(when)
    and coalesce keep an empty bucket at 0 instead of NULL."""
    first_turn = (F.col("turn_seq") == 1) & F.col("conv_id").isNotNull()
    return [
        F.count(F.lit(1)).alias("n_turns"),
        F.count(F.when(first_turn, 1)).alias("n_convs"),
        F.coalesce(F.sum("n_blocks"), F.lit(0)).alias("blocks_emitted"),
        F.coalesce(F.sum("n_spans"), F.lit(0)).alias("spans_emitted"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("chars_extracted"),
        F.count(F.when(F.col("is_fallback"), 1)).alias("fallback_turns"),
    ]


# the run_metrics columns, in name order: the layout _metrics has had
# since it was first written from dict rows
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("blocks_emitted", T.LongType(), False),
        T.StructField("chars_extracted", T.LongType(), False),
        T.StructField("conversations", T.LongType(), False),
        T.StructField("ocr_fallback_rate", T.DoubleType(), False),
        T.StructField("spans_emitted", T.LongType(), False),
        T.StructField("turns_parsed", T.LongType(), False),
    ]
)


def _local_frame(spark: SparkSession, rows: list[dict], schema: T.StructType) -> DataFrame:
    """Driver-side rows as a DataFrame that runs no Python task
    (``spark.createDataFrame(list)`` makes a pickled Python RDD, which
    starts Python tasks just to move rows). A pyarrow table rather than
    a pandas frame: PySpark sends an EMPTY pandas frame, or any pandas
    frame when Arrow is off in the session, down the pickled-RDD path,
    but a table always goes through Arrow."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


def _nullable_arrow_schema(schema: T.StructType) -> pa.Schema:
    """Arrow layout of a bookkeeping table. All columns nullable, as
    Spark writes them, so that a lineage file from before a column
    existed reads back with NULLs in it."""
    return pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)])


def _write_parquet(rows: list[dict], schema: T.StructType, path: str) -> None:
    """One parquet file, written under a dot-prefixed name (Spark and
    pyarrow readers skip those) and renamed into place."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(pa.Table.from_pylist(rows, schema=_nullable_arrow_schema(schema)), tmp)
    os.replace(tmp, path)


def with_bucket(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic work unit: conv-hash bucket. Whole conversations
    stay in one bucket so per-conv ordering/gap-fill never crosses a
    checkpoint boundary."""
    return transcripts.withColumn(
        "bucket", F.pmod(F.hash(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    )


def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_run_manifest.json")


def read_manifest(out_dir: str) -> dict | None:
    try:
        with open(_manifest_path(out_dir)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _write_manifest(out_dir: str, manifest: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))


def _check_manifest(out_dir: str, n_buckets: int) -> None:
    """Resume safety: the conv->bucket mapping is pmod(hash(conv_id),
    n_buckets) — resuming with a DIFFERENT n_buckets silently skips
    buckets whose membership changed and merges stale dirs from the old
    layout (duplicated/missing conversations, no error). Fail fast
    instead; a deliberate re-layout must use a fresh out_dir."""
    existing = read_manifest(out_dir)
    if existing is None:
        _write_manifest(out_dir, {"n_buckets": n_buckets, "version": 1})
    elif existing.get("n_buckets") != n_buckets:
        raise ValueError(
            f"resume with n_buckets={n_buckets} but {out_dir} was written "
            f"with n_buckets={existing.get('n_buckets')}; the conv->bucket "
            "mapping differs — use the original value or a fresh out_dir"
        )


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    path = _lineage_dir(out_dir)
    # exists-check first: spark.read on a missing path logs a noisy
    # WARN + FileNotFoundException stack (FileStreamSink metadata
    # probe) before the exception reaches the except arm below
    if not os.path.isdir(path):
        return _local_frame(spark, [], LINEAGE_SCHEMA)
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except Exception:
        return _local_frame(spark, [], LINEAGE_SCHEMA)


def _completed_lineage(out_dir: str) -> dict[int, dict]:
    """bucket -> its completed lineage row, read on the driver."""
    path = _lineage_dir(out_dir)
    if not os.path.isdir(path):
        return {}
    rows = pq.read_table(path, schema=_nullable_arrow_schema(LINEAGE_SCHEMA)).to_pylist()
    return {r["bucket"]: r for r in rows if r["status"] == "completed"}


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    return set(_completed_lineage(out_dir))


def _append_lineage(out_dir: str, row: dict) -> None:
    os.makedirs(_lineage_dir(out_dir), exist_ok=True)
    name = f"part-{row['bucket']:05d}-{uuid.uuid4().hex}.parquet"
    _write_parquet([row], LINEAGE_SCHEMA, os.path.join(_lineage_dir(out_dir), name))


def _write_metrics(out_dir: str, row: dict) -> None:
    """Commit ``_metrics`` the way a Spark write does: data file and
    ``_SUCCESS`` in a temp dir, renamed into place (``_gen_complete``
    keys on that ``_SUCCESS``)."""
    final = os.path.join(out_dir, "_metrics")
    tmp = os.path.join(out_dir, "._metrics.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write_parquet([row], METRICS_SCHEMA, os.path.join(tmp, "part-00000.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    salt_buckets: int = 16,
    fail_bucket: int | None = None,
    on_bucket_done: Callable[[int], None] | None = None,
) -> dict:
    """Run (or resume) the extraction job. Returns run summary dict.

    ``fail_bucket`` injects a failure after that bucket's lineage is
    checked but before its output commits — the test hook for
    kill-and-resume. Failed buckets get a 'failed' lineage row (the
    reference persists the traceback the same way,
    services/worker/ocr_worker.py:72-83) and the run raises.
    """
    _check_manifest(out_dir, n_buckets)
    completed = _completed_lineage(out_dir)
    stale = sorted(
        b for b, r in completed.items() if any(r[k] is None for k in BUCKET_COUNTERS)
    )
    if stale:
        raise ValueError(
            f"resume of {out_dir}: the completed lineage rows of buckets {stale} "
            "predate the per-bucket counters the run summary is built from — "
            "use a fresh out_dir"
        )
    done = set(completed)
    todo = [b for b in range(n_buckets) if b not in done]

    # ONE scan of the source: stage the bucketed input partitioned by
    # bucket, then each bucket job reads only its own pruned partition
    # dir (the old per-bucket filter re-scanned the full input
    # n_buckets times — at 100 TB that is n_buckets full-table scans).
    # Staging doubles input storage transiently (same cost class as a
    # shuffle) and is deleted on successful completion; on resume an
    # existing staged copy is reused, which also freezes the run's
    # input: resuming continues the ORIGINAL run even if the caller
    # passes a drifted DataFrame.
    staging = os.path.join(out_dir, "_staged_input")
    if todo:
        bucketed = with_bucket(transcripts, n_buckets)
        if not os.path.exists(os.path.join(staging, "_SUCCESS")):
            bucketed.write.mode("overwrite").partitionBy("bucket").parquet(staging)
        else:
            # Resume path: the run continues on the FROZEN staged copy;
            # the caller's (possibly corrected) DataFrame is ignored by
            # design so a resumed run is bit-identical to the original.
            # Fail loudly if the caller's schema drifted from the
            # staged one — that is a different input, not a resume —
            # and warn visibly either way so a silently-discarded fix
            # is at least diagnosable from the logs.
            # An all-empty input stages only _SUCCESS (no data files) —
            # schema inference would crash and there is nothing to
            # drift-check against, so the check only runs when the
            # staged copy has data.
            has_data = any(
                f.endswith(".parquet")
                for _, _, files in os.walk(staging)
                for f in files
            )
            if has_data:
                staged_schema = spark.read.parquet(staging).schema
                # name+type only: parquet read-back flips nullability
                want = sorted(
                    (f.name, f.dataType.simpleString()) for f in bucketed.schema.fields
                )
                got = sorted(
                    (f.name, f.dataType.simpleString()) for f in staged_schema.fields
                )
                if want != got:
                    raise ValueError(
                        f"run_extraction: resuming {out_dir} but the passed "
                        f"DataFrame's schema differs from the staged input "
                        f"(staged {got} vs passed {want}); delete {staging} "
                        f"to restart from the new input"
                    )
            log.warning(
                "resuming from frozen staged input at %s; the passed "
                "DataFrame is ignored (delete the staging dir to re-stage)",
                staging,
            )
        # explicit schema: an all-empty input stages only _SUCCESS (no
        # data files), and a schema-less read would fail to infer
        staged = spark.read.schema(bucketed.schema).parquet(staging)

    for b in todo:
        started = time.time()
        part = staged.filter(F.col("bucket") == b).drop("bucket")
        try:
            if fail_bucket is not None and b == fail_bucket:
                raise RuntimeError(f"injected failure at bucket {b}")
            # the lineage counters are observed during the write itself:
            # re-reading the written files (or re-aggregating the kernel
            # output) would be a second Spark pass per bucket. n_convs
            # counts turn_seq = 1 rows (see the module notes)
            observed = Observation()
            extracted = extract_turns(part, salt_buckets=salt_buckets).observe(
                observed, *_bucket_counters()
            )
            # atomic-ish commit: overwrite this bucket's dir, THEN the
            # lineage row. A crash between the two re-does the bucket on
            # resume — idempotent because overwrite replaces the dir.
            (
                extracted.sortWithinPartitions("conv_id", "turn_idx")
                .write.mode("overwrite")
                .parquet(os.path.join(out_dir, f"bucket={b}"))
            )
            row = {
                "bucket": b,
                "status": "completed",
                **{k: int(v) for k, v in observed.get.items()},
                "started_at": started,
                "completed_at": time.time(),
                "error_message": None,
            }
            _append_lineage(out_dir, row)
            completed[b] = row
            if on_bucket_done is not None:
                on_bucket_done(b)
        except Exception as exc:
            _append_lineage(
                out_dir,
                {
                    "bucket": b,
                    "status": "failed",
                    **dict.fromkeys(BUCKET_COUNTERS, 0),
                    "started_at": started,
                    "completed_at": time.time(),
                    "error_message": traceback.format_exc()[-2000:],
                },
            )
            raise RuntimeError(f"bucket {b} failed: {exc}") from exc

    # the run_metrics row, summed from every completed bucket's counters;
    # fallback / turns is the double avg(cast(is_fallback as double)) gives
    total = {k: sum(r[k] for r in completed.values()) for k in BUCKET_COUNTERS}
    metrics = {
        "turns_parsed": total["n_turns"],
        "conversations": total["n_convs"],
        "blocks_emitted": total["blocks_emitted"],
        "spans_emitted": total["spans_emitted"],
        "chars_extracted": total["chars_extracted"],
        "ocr_fallback_rate": (
            total["fallback_turns"] / total["n_turns"] if total["n_turns"] else 0.0
        ),
    }
    _write_metrics(out_dir, metrics)
    shutil.rmtree(staging, ignore_errors=True)  # run complete: drop the staged copy
    return {
        "buckets_total": n_buckets,
        "buckets_resumed_skip": len(done),
        "buckets_processed": len(todo),
        **metrics,
    }


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the committed output across bucket dirs — restricted to the
    manifest's bucket ids, so stale dirs from an older layout can never
    merge into the result. A compacted run (see compact_output) reads
    its single rewritten dir instead, iff the copy is complete."""
    manifest = read_manifest(out_dir)
    cdir = os.path.join(out_dir, COMPACT_DIR)
    if (
        manifest is not None
        and manifest.get("compacted")
        and os.path.exists(os.path.join(cdir, "_SUCCESS"))
    ):
        return spark.read.schema(EXTRACTED_WITH_SEQ_SCHEMA).parquet(cdir)
    if manifest is not None:
        wanted = {f"bucket={b}" for b in range(int(manifest["n_buckets"]))}
        names = [d for d in sorted(os.listdir(out_dir)) if d in wanted]
    else:  # pre-manifest output (round-1 layout): read everything
        names = [d for d in sorted(os.listdir(out_dir)) if d.startswith("bucket=")]
    # explicit schema: empty buckets write no data files, and a run over
    # an all-empty input must read back as an empty DF, not fail inference
    return spark.read.schema(EXTRACTED_WITH_SEQ_SCHEMA).parquet(
        *[os.path.join(out_dir, d) for d in names]
    )


COMPACT_DIR = "_compacted"
COMPACT_TARGET_BYTES = 128 << 20  # Iceberg's default write target


def _parquet_files(d: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(d):
        out.extend(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    return out


def compact_output(
    spark: SparkSession,
    out_dir: str,
    target_bytes: int = COMPACT_TARGET_BYTES,
    drop_source: bool = False,
) -> tuple[int, int]:
    """Small-files compaction of a completed run — the rewrite-data-
    files maintenance action a long-lived table needs: a 1024-bucket
    run leaves O(buckets x tasks) parquet files, and scan/open overhead
    eventually dominates reads. Rewrites the output as
    ceil(bytes / target_bytes) files hash-clustered on conv_id (so a
    conversation's turns co-locate for downstream per-conv reads).

    Crash-safe by ordering: the rewrite lands in a temp dir, is
    atomically renamed to ``_compacted`` only once its _SUCCESS
    exists, and only THEN does the manifest flip ``compacted`` —
    readers use the intact bucket dirs until the flip, and a
    half-written attempt is invisible to them. Re-invocation on an
    already-compacted run is a safe no-op rewrite-wise (the committed
    copy may be the ONLY copy once ``drop_source`` has run, so it is
    never rebuilt from source) but still honors ``drop_source`` for
    any bucket dirs that remain. Source bucket dirs are kept unless
    ``drop_source`` (the manifest flip, not the delete, is the commit
    point). Returns (files_before, files_after).
    """
    manifest = read_manifest(out_dir)
    if manifest is None:
        raise ValueError(f"no manifest at {out_dir}: not a completed run")
    cdir = os.path.join(out_dir, COMPACT_DIR)
    bucket_dirs = [
        os.path.join(out_dir, d)
        for d in sorted(os.listdir(out_dir))
        if d.startswith("bucket=")
    ]
    if manifest.get("compacted") and os.path.exists(
        os.path.join(cdir, "_SUCCESS")
    ):
        # Idempotent re-attempt: after drop_source the compacted copy
        # is the only data — rewriting it from (now empty) sources
        # would be silent data loss. Skip the rewrite entirely.
        if drop_source:
            for d in bucket_dirs:
                shutil.rmtree(d, ignore_errors=True)
        n = len(_parquet_files(cdir))
        return n, n
    done = completed_buckets(spark, out_dir)
    if len(done) < int(manifest["n_buckets"]):
        raise ValueError(
            f"run at {out_dir} is incomplete ({len(done)}/"
            f"{manifest['n_buckets']} buckets); compact only after the "
            "run commits — a partial rewrite would freeze the gap"
        )
    if not bucket_dirs:
        raise ValueError(
            f"run at {out_dir} has no bucket dirs and no committed "
            "compacted copy: nothing to compact from"
        )
    before = [f for d in bucket_dirs for f in _parquet_files(d)]
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(1, -(-total // target_bytes))
    tmp = cdir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # clear any aborted attempt
    df = spark.read.schema(EXTRACTED_WITH_SEQ_SCHEMA).parquet(*bucket_dirs)
    df.repartition(int(n_out), "conv_id").write.mode("overwrite").parquet(tmp)
    shutil.rmtree(cdir, ignore_errors=True)
    os.rename(tmp, cdir)
    manifest["compacted"] = True
    _write_manifest(out_dir, manifest)
    if drop_source:
        for d in bucket_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return len(before), len(_parquet_files(cdir))


def summarize(summary: dict) -> str:
    return json.dumps(summary, sort_keys=True)


# ---------------------------------------------------------------------------
# Incremental (generational) ingest: the batch-snapshot analogue of the
# reference's continuously-polling worker loop (services/worker/run.py:
# 23-38) + upload dedup (services/ingest_api/app.py:188-197). Each
# invocation processes only conversations not seen by any prior
# generation and commits them as a new ``gen=K`` sub-run; conversations
# are immutable once ingested (the reference's 409-on-duplicate-upload
# contract at conversation grain).
# ---------------------------------------------------------------------------


def _roster_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_conv_roster")


def _generations(out_dir: str) -> list[int]:
    try:
        names = os.listdir(out_dir)
    except OSError:
        return []
    return sorted(
        int(d.split("=", 1)[1]) for d in names if d.startswith("gen=")
    )


def _gen_complete(out_dir: str, g: int) -> bool:
    """A generation is complete when its final metrics table committed
    (run_extraction writes _metrics last, after every bucket)."""
    return os.path.exists(
        os.path.join(out_dir, f"gen={g}", "_metrics", "_SUCCESS")
    )


def run_incremental(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    salt_buckets: int = 16,
    fail_bucket: int | None = None,
) -> dict:
    """Process only NEW conversations and commit them as generation
    ``gen=K`` under ``out_dir``; repeated invocation over a growing
    input is the batch equivalent of the reference's worker poll loop.

    Mechanics (all O(new input) except one roster anti-join):
    - the conversation roster (``_conv_roster``: one row per ingested
      conv_id + its generation) is the dedup ledger; new work =
      ``transcripts LEFT ANTI JOIN roster ON conv_id``. The roster is
      one row per CONVERSATION, not per turn — at 10^12 turns it is a
      ~10^8-row two-column table, joined by shuffle (never broadcast:
      its size scales with corpus history).
    - each generation is a full run_extraction sub-run: bucketed,
      resumable, lineage-tracked, input frozen once staged. If the
      latest generation died mid-run, this call RESUMES it (the staged
      copy wins; the roster was not yet updated, so the anti-join
      reproduces the same new-set for any buckets not yet staged).
    - the roster row for a generation is appended only after the
      generation completes; a crash between completion and the roster
      append is healed on the next call by re-deriving the roster rows
      from the committed generation output (idempotent: dedup by
      conv_id keeps the first generation).
    - an invocation that finds no new conversations writes nothing and
      returns ``{"generation": None, "new_convs": 0}``.
    """
    os.makedirs(out_dir, exist_ok=True)
    gens = _generations(out_dir)

    # heal: any COMPLETE generation missing from the roster gets its
    # rows re-derived from its committed output
    have_roster = os.path.exists(os.path.join(_roster_dir(out_dir), "_SUCCESS"))
    rostered: set[int] = set()
    if have_roster:
        rostered = {
            r["generation"]
            for r in spark.read.parquet(_roster_dir(out_dir))
            .select("generation")
            .distinct()
            .collect()
        }
    for g in gens:
        if _gen_complete(out_dir, g) and g not in rostered:
            (
                read_extracted(spark, os.path.join(out_dir, f"gen={g}"))
                .select("conv_id")
                .distinct()
                .withColumn("generation", F.lit(g))
                .write.mode("append")
                .parquet(_roster_dir(out_dir))
            )
            have_roster = True

    new = transcripts
    if have_roster:
        roster = spark.read.parquet(_roster_dir(out_dir)).select("conv_id")
        new = transcripts.join(roster, "conv_id", "left_anti")

    # resume a half-finished latest generation instead of opening a new
    # one (otherwise its partial output would double-count against the
    # re-detected new-set in gen K+1)
    if gens and not _gen_complete(out_dir, gens[-1]):
        g = gens[-1]
    else:
        if new.limit(1).count() == 0:
            return {"generation": None, "new_convs": 0, "buckets_processed": 0}
        g = gens[-1] + 1 if gens else 0

    gen_dir = os.path.join(out_dir, f"gen={g}")
    summary = run_extraction(
        spark, new, gen_dir, n_buckets=n_buckets,
        salt_buckets=salt_buckets, fail_bucket=fail_bucket,
    )
    (
        read_extracted(spark, gen_dir)
        .select("conv_id")
        .distinct()
        .withColumn("generation", F.lit(g))
        .write.mode("append")
        .parquet(_roster_dir(out_dir))
    )
    # run_extraction's `conversations` is the distinct conv_id count
    # over this same gen_dir
    return {"generation": g, "new_convs": summary["conversations"], **summary}


def read_incremental(spark: SparkSession, out_dir: str) -> DataFrame:
    """Union of every COMPLETE generation's extracted output."""
    dirs = [
        os.path.join(out_dir, f"gen={g}")
        for g in _generations(out_dir)
        if _gen_complete(out_dir, g)
    ]
    if not dirs:
        return _local_frame(spark, [], EXTRACTED_WITH_SEQ_SCHEMA)
    out = read_extracted(spark, dirs[0])
    for d in dirs[1:]:
        out = out.unionByName(read_extracted(spark, d))
    return out
