#!/usr/bin/env python
"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "turns_per_sec": ..., ...}

The headline is the flagship extraction job (the north-rule hot path:
salted repartition -> Arrow kernel -> ordering window) measured as
turns/sec, plus the relational surface (TPC-H shapes, dedup, windows).
Each query is forced through Spark's noop sink so the measured time is
FULL plan execution of every output column (a count() lets Catalyst
prune unevaluated columns — see _time_query), never driver
materialization of wide rows. Training ops (k-means, BPE, unigram-LM)
are ordered before their consumers so each pays its own build within a
pass (memo caches are cleared between passes).

Scaling-efficiency evidence (north rule: >=0.8 between N and 4N
executors, sandbox analogue local[8] vs local[32]) is produced by
``python bench.py --scaling`` and recorded in BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pdf_parser_spark.pipeline import (
    extract_turns,
    get_spark,
    run_metrics,
    transcripts_from_documents,
)
from pdf_parser_spark.registry import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Bench opts in to tmpfs shuffle dirs (its shuffle volume is known to
# fit); the engine default is /tmp — see pipeline.get_spark.
if not os.environ.get("SPARK_GRAFT_LOCAL_DIR") and os.path.isdir("/dev/shm"):
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/dev/shm/spark-tmp"

# relational queries worth timing at sf0.1 (all of QUERIES is cheap
# enough; keep the list explicit so bench stays stable across rounds)
BENCH_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q14",
    "r1_dedup_hash",
    "r9_enrichment_join",
    "window_running_total",
    "sessionize_events",
    "funnel_stages",
    "events_asof_join",
    "events_range_join",
    "events_rollup",
    "kmv_distinct_users",
    "hist_quantiles",
    "minhash_near_dup",
    "neardup_first_writer",
    "dup_clusters",
    "simhash_dedup",
    "ngram_jaccard_dup",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_accuracy",
    "ann_int8_topk",
    "ann_int8_accuracy",
    "ann_ivf_int8_topk",
    "embedding_kmeans",
    "semantic_dedup",
    "training_shards",
    "semantic_search",
    "bpe_merges",
    "bpe_tokenize",
    "unigram_lm_vocab",
    "unigram_lm_tokenize",
    "unigram_logprob",
    "text_metrics",
    "doc_fingerprints",
    "corpus_assembly",
    "events_type_stats",
    "doc_fingerprint",
    "doc_winnow_fingerprint",
    "winnow_near_dup",
    "dedup_accuracy",
    "incremental_dedup",
    "token_count",
    "corpus_filter",
    "embedding_pca1",
    "text_quality",
    "lang_id",
    "contamination_check",
    "span_dedup",
    "events_pivot",
    "events_unpivot",
    "set_ops",
    "value_quantiles",
    "json_props_stats",
    "window_trailing",
    "anti_semi_join",
    "bloom_semi_join",
    "latest_per_key",
    "scd2_intervals",
    "tpch_q10",
    "events_tumbling",
    "text_repetition",
    "pii_scrub",
    "rollup_agg",
    "cube_agg",
    "tpch_q4",
    "tpch_q18",
    "train_test_split",
    "stratified_sample",
    "domain_cap",
    "ngram_topk",
    "cms_heavy_hitters",
    "weighted_sample",
    "bm25_search",
    "phrase_search",
    "hybrid_search",
    "tpch_q12",
    "tpch_q19",
    "sequence_pack",
    "salted_join",
    # round 4: the TPC-H completion set (full 22-query dash)
    "tpch_q2",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q11",
    "tpch_q13",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "lang_mixture",
    "sft_pairs",
    "hard_negatives",
    "hard_negatives_ann",
    "dup_spans",
    "dup_spans_sa",
    "dup_span_scrub",
    "incremental_dup_spans",
    "corpus_composition",
    "audio_segments",
    "quality_percentile",
    "snapshot_diff",
    "fuzzy_search",
    "lang_id_confusion",
    "collocations",
    "pack_utilization",
    "embedding_near_dup",
]


def _time_query(fn, spark, sf_dir: str) -> tuple[float, int]:
    """Time a query by writing it to Spark's `noop` sink — NOT by
    .count(). count() lets Catalyst prune every unevaluated column, so
    a pure narrow-map query (lang_id, text_quality, token_count, ...)
    "benchmarks" as a row count over the scan with ZERO expression
    work — the round-5 lang_id rewrite was invisible to the suite
    (0.28 s) while its consumers paid 67 s. The noop sink forces full
    evaluation of every output column JVM-side with no serialization
    or disk cost, the standard Spark benchmarking sink."""
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, -1


# min-of-N interleaved passes (like the scaling legs): the host shows
# ~2x CPU-noise swings, so a single-run suite cannot attribute a
# per-query regression to code vs noise. Interleaving (pass 1 of all
# queries, then pass 2, ...) decorrelates a noisy window from any one
# query; min is the standard noise-floor estimator.
BENCH_PASSES = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")))


def run_bench(spark, sf_dir: str) -> dict:
    timings: dict[str, float] = {}

    # headline: extraction hot path over every document at this sf.
    # Warm-up first (same methodology as run_scaling_leg): spin up the
    # JVM's first job, the Python workers, and the Arrow path on a
    # small slice so the measured number is steady-state pipeline
    # throughput, not process startup (~9s of a 12s cold run).
    transcripts = transcripts_from_documents(spark, sf_dir, convs=200)
    extract_turns(transcripts.limit(300), include_blocks=False).count()
    extract_sec = float("inf")
    turns = 0
    metrics_row: dict = {}

    from pdf_parser_spark.dataops import clear_memo_caches

    for _ in range(BENCH_PASSES):
        # The extraction headline is measured INSIDE the interleaved
        # pass loop, not as 3 back-to-back runs up front: the host's
        # CPU throughput swings ~2x over minutes, and three contiguous
        # runs all land in the same window (observed: 19.9s min-of-3
        # back-to-back vs 2.8s a few minutes later). Spreading the
        # passes across the whole suite decorrelates the noise the
        # same way it does for every other query.
        t0 = time.perf_counter()
        extracted = extract_turns(transcripts, include_blocks=False)
        metrics_row = run_metrics(extracted).collect()[0].asDict()
        extract_sec = min(extract_sec, time.perf_counter() - t0)

        # fresh memo caches per pass: min-of-N must measure the
        # operator, not a pass-2 cache hit on the shared pair table
        clear_memo_caches()
        for name in BENCH_QUERIES:
            fn = QUERIES.get(name)
            if fn is None:
                # hard error, not a silent skip (ADVICE r4: a silent
                # `continue` let `audio_segments` drop out of the suite
                # while the timed-or-folded guard still counted it)
                raise KeyError(f"BENCH_QUERIES name {name!r} not in bench.QUERIES")
            sec, _ = _time_query(fn, spark, sf_dir)
            if name not in timings or sec < timings[name]:
                timings[name] = sec
    timings["extract_turns"] = extract_sec
    turns = int(metrics_row["turns_parsed"])
    timings = {k: round(v, 3) for k, v in timings.items()}

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "total_bench_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "turns_parsed": turns,
        "turns_per_sec": round(turns / extract_sec, 1) if extract_sec > 0 else 0.0,
        "spans_emitted": int(metrics_row["spans_emitted"]),
        "cores": spark.sparkContext.defaultParallelism,
    }


# ---------------------------------------------------------------------------
# --decompose: per-stage attribution via the Spark UI REST API
# ---------------------------------------------------------------------------

# the 5 heaviest suite entries per the round-4 full run (text_metrics
# joined the set when it absorbed the BPE training pass); override
# with --decompose q1,q2,...
DECOMPOSE_QUERIES = [
    "dedup_accuracy",
    "minhash_near_dup",
    "winnow_near_dup",
    "text_metrics",
    "embedding_pca1",
]


def _rest_completed_stages(ui_base: str) -> list[dict]:
    """All completed stage attempts of the running app, via the UI REST
    API (api/v1/applications/{id}/stages). Numeric fields only — no
    string parsing of formatted UI durations."""
    import urllib.request

    with urllib.request.urlopen(f"{ui_base}/api/v1/applications", timeout=10) as r:
        app_id = json.load(r)[0]["id"]
    url = f"{ui_base}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def run_decompose(spark, sf_dir: str, names: list[str]) -> dict:
    """Attribute each query's executor time to scan / shuffle / JVM
    compute / non-JVM residue (Python workers + Arrow + IO wait), by
    diffing the completed-stage set around a single fresh run. The run
    goes to the noop sink like the main bench (``_time_query``), so
    Catalyst cannot prune the columns whose cost is being attributed.

    Units normalized to ms: executorRunTime / jvmGcTime /
    shuffleFetchWaitTime arrive in ms, executorCpuTime /
    shuffleWriteTime in ns. The "python+arrow residue" is
    run - jvmCpu - gc - fetchWait - shuffleWrite: in local mode the
    JVM cannot spend task wall time outside those buckets except in
    Python workers, Arrow (de)serialization, and IO waits — the
    decomposition the round-3 scaling narrative cited from one manual
    UI session, now reproducible from the committed harness."""
    ui_base = spark.sparkContext.uiWebUrl
    if not ui_base:
        raise RuntimeError("Spark UI disabled — run with SPARK_GRAFT_UI=true")
    from pdf_parser_spark.dataops import clear_memo_caches

    # warm the Python workers / Arrow path / codegen before measuring:
    # without this the FIRST query absorbs worker startup and its
    # python+arrow residue reads ~30 points too high (observed)
    _time_query(QUERIES[names[0]], spark, sf_dir)

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        clear_memo_caches()
        before = {
            (s["stageId"], s["attemptId"]) for s in _rest_completed_stages(ui_base)
        }
        wall, _ = _time_query(fn, spark, sf_dir)
        time.sleep(0.5)  # let the last stage land in the status store
        stages = [
            s
            for s in _rest_completed_stages(ui_base)
            if (s["stageId"], s["attemptId"]) not in before
        ]
        run = sum(s.get("executorRunTime", 0) for s in stages)
        cpu = sum(s.get("executorCpuTime", 0) for s in stages) / 1e6
        gc = sum(s.get("jvmGcTime", 0) for s in stages)
        fetch = sum(s.get("shuffleFetchWaitTime", 0) for s in stages)
        swrite = sum(s.get("shuffleWriteTime", 0) for s in stages) / 1e6
        scan_run = sum(
            s.get("executorRunTime", 0) for s in stages if s.get("inputBytes", 0) > 0
        )
        out[name] = {
            "wall_sec": round(wall, 3),
            "n_stages": len(stages),
            "executor_run_ms": int(run),
            "jvm_cpu_ms": int(cpu),
            "gc_ms": int(gc),
            "shuffle_fetch_wait_ms": int(fetch),
            "shuffle_write_ms": int(swrite),
            "python_arrow_residue_ms": int(max(0.0, run - cpu - gc - fetch - swrite)),
            "scan_stage_run_ms": int(scan_run),
            "input_mb": round(sum(s.get("inputBytes", 0) for s in stages) / 2**20, 1),
            "shuffle_read_mb": round(
                sum(s.get("shuffleReadBytes", 0) for s in stages) / 2**20, 1
            ),
            "shuffle_write_mb": round(
                sum(s.get("shuffleWriteBytes", 0) for s in stages) / 2**20, 1
            ),
        }
    return {"sf_dir": sf_dir, "cores": spark.sparkContext.defaultParallelism,
            "queries": out}


SCALING_CORPUS = os.environ.get("SPARK_GRAFT_SCALING_CORPUS", "/tmp/scale_corpus_8m.parquet")
SCALING_CONVS = int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "400000"))


def _ensure_corpus() -> None:
    """Deterministic synth corpus (seed 42, skewed conv lengths) written
    once; both parallelism levels read the identical parquet. Generation
    itself is distributed (mapInPandas over conv ids)."""
    if os.path.isdir(SCALING_CORPUS):
        return
    from pdf_parser_spark.pipeline import synth_transcripts_distributed

    spark = get_spark("bench_corpus", master="local[32]", shuffle_partitions=64)
    try:
        synth_transcripts_distributed(spark, n_convs=SCALING_CONVS, partitions=64).write.mode(
            "overwrite"
        ).parquet(SCALING_CORPUS)
    finally:
        spark.stop()


def run_scaling_leg(cores: int) -> dict:
    """One cluster-size leg: the full extraction pipeline (ordering
    window -> salted repartition -> Arrow kernel -> metrics) over the
    scaling corpus. Methodology: fresh process per leg, a tiny warm
    slice to spawn python workers/JIT the Arrow path, then ONE measured
    run. (Repeated identical runs inside one big-heap JVM measure G1
    old-gen churn, not the pipeline — observed 217s of GC in a second
    run that took 3s of GC the first time.)"""
    spark = get_spark(f"bench_scaling_{cores}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    try:
        transcripts = spark.read.parquet(SCALING_CORPUS)
        extract_turns(transcripts.limit(2000), include_blocks=False).count()  # warm
        t0 = time.perf_counter()
        extracted = extract_turns(transcripts, include_blocks=False)
        turns = int(run_metrics(extracted).collect()[0]["turns_parsed"])
        sec = time.perf_counter() - t0
        return {
            "cores": cores,
            "sec": round(sec, 3),
            "turns": turns,
            "turns_per_sec": round(turns / sec, 1),
            "turns_per_sec_per_core": round(turns / sec / cores, 2),
        }
    finally:
        spark.stop()


def run_scaling(sf_dir: str) -> dict:
    """North-rule scaling evidence: the identical extraction job at N=8
    and 4N=32 cores over the same parquet input; reports throughput at
    both + efficiency (target >=0.8).

    No real cluster exists in this sandbox, so cluster size is emulated
    by PHYSICAL core pinning: each leg runs in its own process under
    ``taskset -c 0-(N-1)``. Pinning matters — bare local[8] on a 32-core
    box silently uses ~16 cores (N JVM task threads + N python workers),
    inflating the small-cluster number and making scaling look broken.
    Pinned legs are the honest analogue of N- vs 4N-executor clusters
    (each executor's tasks and python workers share that executor's
    cores)."""
    import subprocess
    import sys

    _ensure_corpus()
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
    n_small, n_big = (
        int(x) for x in os.environ.get("SPARK_GRAFT_SCALING_CORES", "8,32").split(",")
    )
    runs: dict[int, list[dict]] = {n_small: [], n_big: []}
    # INTERLEAVED legs (8,32,8,32,...): this sandbox VM's CPU throughput
    # swings ~2x over tens of minutes (host contention), so back-to-back
    # pairs + min-of-K per leg is the only defensible estimator of the
    # pipeline's own scaling behaviour.
    for _ in range(repeats):
        for cores in (n_small, n_big):
            cmd = [
                "taskset", "-c", f"0-{cores - 1}",
                sys.executable, os.path.abspath(__file__), "--scaling-leg", str(cores),
            ]
            env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.abspath(__file__)))
            proc = subprocess.run(cmd, capture_output=True, text=True, env=env)
            lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if proc.returncode != 0 or not lines:
                raise RuntimeError(
                    f"scaling leg cores={cores} failed "
                    f"(rc={proc.returncode}): {proc.stderr[-2000:]}"
                )
            runs[cores].append(json.loads(lines[-1]))
    out = {}
    for cores in (n_small, n_big):
        best = min(runs[cores], key=lambda r: r["sec"])
        out[f"local[{cores}]"] = {
            **best,
            "all_runs_sec": [r["sec"] for r in runs[cores]],
        }
    tps_n = out[f"local[{n_small}]"]["turns_per_sec"]
    tps_4n = out[f"local[{n_big}]"]["turns_per_sec"]
    ideal = n_big / n_small
    out["scaling_efficiency"] = round((tps_4n / tps_n) / ideal, 3)
    return out


# ---------------------------------------------------------------------------
# Cluster-mode scaling: a REAL local standalone cluster (separate master,
# worker and executor JVMs, real shuffle between executors) — the faithful
# emulation of "N vs 4N executors" from the north rule. Each worker JVM is
# pinned to its own 4-core slice, so executor JVM + its python workers
# share exactly that worker's cores, like a real cluster node.
# ---------------------------------------------------------------------------

EXECUTOR_CORES = int(os.environ.get("SPARK_GRAFT_EXECUTOR_CORES", "4"))
MASTER_URL = "spark://127.0.0.1:7077"


def _spark_home() -> str:
    import pyspark

    return os.path.dirname(pyspark.__file__)


def _start_master(procs: list) -> None:
    import subprocess

    procs.append(
        subprocess.Popen(
            [os.path.join(_spark_home(), "bin", "spark-class"),
             "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", "7077", "--webui-port", "8080"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            env=dict(os.environ, SPARK_HOME=_spark_home()),
        )
    )
    time.sleep(8)


def _start_workers(procs: list, n_workers: int) -> None:
    import subprocess

    for w in range(n_workers):
        lo, hi = w * EXECUTOR_CORES, (w + 1) * EXECUTOR_CORES - 1
        procs.append(
            subprocess.Popen(
                ["taskset", "-c", f"{lo}-{hi}",
                 os.path.join(_spark_home(), "bin", "spark-class"),
                 "org.apache.spark.deploy.worker.Worker", MASTER_URL,
                 "--cores", str(EXECUTOR_CORES), "--memory", "6g",
                 "--webui-port", str(8100 + w)],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                env=dict(os.environ, SPARK_HOME=_spark_home(),
                         SPARK_WORKER_CORES=str(EXECUTOR_CORES),
                         SPARK_WORKER_MEMORY="6g"),
            )
        )
    time.sleep(10)


def _pyfiles_zip() -> str:
    import subprocess

    zip_path = "/tmp/pdf_parser_spark_pyfiles.zip"
    if not os.path.exists(zip_path):
        repo = os.path.dirname(os.path.abspath(__file__))
        subprocess.run(["zip", "-rq", zip_path, "pdf_parser_spark"], cwd=repo, check=True)
    return zip_path


def run_cluster_leg(n_workers: int) -> dict:
    """One cluster-size leg against the standalone master: n_workers
    executors x 4 cores. Assumes master+workers already running."""
    from pyspark.sql import SparkSession

    total_cores = n_workers * EXECUTOR_CORES
    spark = (
        SparkSession.builder.master(MASTER_URL)
        .appName(f"scaling_{n_workers}x{EXECUTOR_CORES}")
        .config("spark.executor.cores", str(EXECUTOR_CORES))
        .config("spark.executor.memory", "5g")
        .config("spark.cores.max", str(total_cores))
        .config("spark.submit.pyFiles", _pyfiles_zip())
        .config("spark.sql.shuffle.partitions", str(4 * total_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", "/dev/shm/spark-tmp")
        .config("spark.executor.extraJavaOptions", "-XX:G1HeapRegionSize=32m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        spark.sparkContext.addPyFile(_pyfiles_zip())
        transcripts = spark.read.parquet(SCALING_CORPUS)
        extract_turns(transcripts.limit(2000), include_blocks=False).count()  # warm
        t0 = time.perf_counter()
        extracted = extract_turns(
            transcripts, partitions=4 * total_cores, include_blocks=False
        )
        turns = int(run_metrics(extracted).collect()[0]["turns_parsed"])
        sec = time.perf_counter() - t0
        return {
            "workers": n_workers,
            "executor_cores": EXECUTOR_CORES,
            "total_cores": total_cores,
            "sec": round(sec, 3),
            "turns": turns,
            "turns_per_sec": round(turns / sec, 1),
            "turns_per_sec_per_core": round(turns / sec / total_cores, 2),
        }
    finally:
        spark.stop()


def run_scaling_cluster() -> dict:
    """The headline scaling evidence: the same job on a real (local)
    standalone cluster at N executors vs 4N executors, interleaved
    min-of-K to ride out host CPU variance. The pair is configurable
    via SPARK_GRAFT_CLUSTER_WORKERS="n,4n" (default "2,8"): the 2-vs-8
    pair engages all 32 host vCPUs on the big leg (measures the box's
    DRAM ceiling as much as the pipeline); a 1-vs-4 pair keeps both
    legs inside the host's linear range and isolates the pipeline's
    own scaling."""
    import subprocess

    _ensure_corpus()
    pair = tuple(
        int(x)
        for x in os.environ.get("SPARK_GRAFT_CLUSTER_WORKERS", "2,8").split(",")
    )
    if len(pair) != 2 or pair[0] >= pair[1]:
        raise ValueError(f"SPARK_GRAFT_CLUSTER_WORKERS must be 'n,m' with n<m, got {pair}")
    if max(pair) * EXECUTOR_CORES > (os.cpu_count() or 0):
        raise ValueError(
            f"{max(pair)} workers x {EXECUTOR_CORES} cores exceeds host "
            f"CPUs ({os.cpu_count()}) — taskset pinning would fail"
        )
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "3"))
    procs: list = []
    runs: dict[int, list[dict]] = {n: [] for n in pair}
    try:
        _start_master(procs)
        _start_workers(procs, max(pair))  # superset; legs select via spark.cores.max
        for _ in range(repeats):
            for n_workers in pair:
                cmd = [sys.executable, os.path.abspath(__file__),
                       "--cluster-leg", str(n_workers)]
                env = dict(os.environ,
                           PYTHONPATH=os.path.dirname(os.path.abspath(__file__)))
                proc = subprocess.run(cmd, capture_output=True, text=True, env=env)
                lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
                if lines:
                    runs[n_workers].append(json.loads(lines[-1]))
                else:  # surface the failure; don't silently thin the sample
                    print(
                        f"# cluster leg {n_workers} failed rc={proc.returncode}: "
                        f"{proc.stderr[-500:]}",
                        file=sys.stderr,
                    )
    finally:
        for p in procs:
            p.terminate()
        for p in procs:
            try:
                p.wait(timeout=10)
            except Exception:
                p.kill()
    out = {}
    for n_workers in pair:
        if not runs[n_workers]:
            raise RuntimeError(
                f"all cluster legs at {n_workers} workers failed; see stderr"
            )
        best = min(runs[n_workers], key=lambda r: r["sec"])
        out[f"{n_workers}x{EXECUTOR_CORES}"] = {
            **best, "all_runs_sec": [r["sec"] for r in runs[n_workers]],
        }
    tps_n = out[f"{pair[0]}x{EXECUTOR_CORES}"]["turns_per_sec"]
    tps_4n = out[f"{pair[1]}x{EXECUTOR_CORES}"]["turns_per_sec"]
    out["scaling_efficiency"] = round((tps_4n / tps_n) / (pair[1] / pair[0]), 3)
    return out


# ---------------------------------------------------------------------------
# Memory-bounded stress leg (VERDICT-r4 item 8): ~10x the headline input
# at the standard 16g heap, proving no stage accumulates unbounded state.
# ---------------------------------------------------------------------------

STRESS_CONVS = int(os.environ.get("SPARK_GRAFT_STRESS_CONVS", "3900000"))


def _proc_tree_rss_mb() -> float:
    """Sum RSS (MB) of this process and every descendant (the JVM and
    its Python workers) from /proc — no psutil in the sandbox. The comm
    field can contain spaces/parens, so fields are parsed from the LAST
    ')' of /proc/<pid>/stat."""
    import glob

    ppid: dict[int, int] = {}
    rss_pages: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
            pid = int(data.split(" ", 1)[0])
            rest = data[data.rindex(")") + 2 :].split()
            ppid[pid] = int(rest[1])  # field 4
            rss_pages[pid] = int(rest[21])  # field 24
        except (OSError, ValueError, IndexError):
            continue
    kids: dict[int, list[int]] = {}
    for pid, par in ppid.items():
        kids.setdefault(par, []).append(pid)
    total, stack, seen = 0, [os.getpid()], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        total += rss_pages.get(p, 0)
        stack.extend(kids.get(p, []))
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


def run_stress() -> dict:
    """~10x the headline input (default 3.9M convs ~= 80M turns),
    SYNTHESIZED STREAMINGLY: the corpus never exists on disk or whole
    in memory — spark.range conv ids fan out across 512 tasks, each
    task generates its convs' payloads in bounded Arrow batches
    (maxRecordsPerBatch=2048 ids ~= 42k turns per pandas frame) and
    feeds them straight into the ordering window -> salted repartition
    -> extraction kernel -> metrics fold.

    Records wall, turns/s, peak process-tree RSS (2s sampler), shuffle
    spill + write bytes from the REST API, and completion under the
    standard 16g heap with zero OOM — single-box evidence that every
    stage's state is bounded by partition, not by input size. Shuffle
    dirs are forced to real disk (/tmp): the ~2 full-corpus exchanges
    (window sort + salted repartition) are tens of GB, far past the
    RAM-backed /dev/shm cap the small-shuffle suite opts into."""
    import threading

    os.environ["SPARK_GRAFT_LOCAL_DIR"] = "/tmp/spark-stress"
    os.environ["SPARK_GRAFT_UI"] = "true"
    from pdf_parser_spark.pipeline import synth_transcripts_distributed

    spark = get_spark(
        "bench_stress",
        master="local[32]",
        shuffle_partitions=256,
        # zstd shuffle blocks: the templated payload text compresses
        # ~3x better than lz4, keeping the two full-corpus exchanges
        # (~75 GB under lz4, measured from the smoke ratio) well inside
        # local disk; same lever a real cluster pulls for text shuffles
        extra_conf={"spark.io.compression.codec": "zstd"},
    )
    peak = {"rss_mb": 0.0}
    stop = threading.Event()

    def sampler() -> None:
        while not stop.is_set():
            peak["rss_mb"] = max(peak["rss_mb"], _proc_tree_rss_mb())
            stop.wait(2.0)

    threading.Thread(target=sampler, daemon=True).start()
    try:
        # tiny warm pass (python workers + Arrow path), same methodology
        # as the scaling legs
        warm = synth_transcripts_distributed(spark, n_convs=2000, partitions=32)
        extract_turns(warm, include_blocks=False).count()
        t0 = time.perf_counter()
        transcripts = synth_transcripts_distributed(
            spark, n_convs=STRESS_CONVS, partitions=512
        )
        extracted = extract_turns(transcripts, include_blocks=False)
        row = run_metrics(extracted).collect()[0]
        sec = time.perf_counter() - t0
        turns = int(row["turns_parsed"])
        stages = _rest_completed_stages(spark.sparkContext.uiWebUrl)
        out = {
            "metric": "stress_turns_per_sec",
            "convs": STRESS_CONVS,
            "turns": turns,
            "sec": round(sec, 1),
            "turns_per_sec": round(turns / sec, 1),
            "peak_rss_mb": round(peak["rss_mb"], 1),
            "memory_bytes_spilled": sum(s.get("memoryBytesSpilled", 0) for s in stages),
            "disk_bytes_spilled": sum(s.get("diskBytesSpilled", 0) for s in stages),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "peak_execution_memory": max(
                (s.get("peakExecutionMemory", 0) for s in stages), default=0
            ),
            "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
            "oom": False,  # reaching this line means the job completed
        }
        return out
    finally:
        stop.set()
        spark.stop()


def main() -> None:
    if "--stress" in sys.argv:
        print(json.dumps(run_stress()))
        return
    if "--decompose" in sys.argv:
        i = sys.argv.index("--decompose")
        names = (
            sys.argv[i + 1].split(",")
            if len(sys.argv) > i + 1 and not sys.argv[i + 1].startswith("-")
            else DECOMPOSE_QUERIES
        )
        os.environ["SPARK_GRAFT_UI"] = "true"
        spark = get_spark("bench_decompose")
        try:
            print(json.dumps(run_decompose(spark, SF_DIR, names)))
        finally:
            spark.stop()
        return
    if "--cluster-leg" in sys.argv:
        n_workers = int(sys.argv[sys.argv.index("--cluster-leg") + 1])
        print(json.dumps(run_cluster_leg(n_workers)))
        return
    if "--scaling-cluster" in sys.argv:
        print(json.dumps(run_scaling_cluster()))
        return
    if "--scaling-leg" in sys.argv:
        cores = int(sys.argv[sys.argv.index("--scaling-leg") + 1])
        print(json.dumps(run_scaling_leg(cores)))
        return
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling(SF_DIR)))
        return
    spark = get_spark("bench")
    try:
        rec = run_bench(spark, SF_DIR)
        print(json.dumps(rec))
        # Second, SHORT summary line printed LAST (round-4 fix): the
        # driver keeps only a 2000-char tail of stdout, and the full
        # per-query dict (100+ entries) outgrew it in round 4, leaving
        # BENCH_r04.json with parsed=null. The final line carries the
        # headline keys plus the slowest-query subset and always fits
        # the tail window, so the per-round record stays parseable.
        slowest = sorted(rec["queries"].items(), key=lambda kv: -kv[1])[:25]
        summary = {
            k: rec[k]
            for k in (
                "metric",
                "value",
                "unit",
                "sf",
                "turns_parsed",
                "turns_per_sec",
                "spans_emitted",
                "cores",
            )
        }
        summary["n_queries"] = len(rec["queries"])
        # drop the least slow of the shown queries until the line fits
        while True:
            summary["queries"] = dict(slowest)
            summary["queries_shown"] = (
                f"{len(slowest)} slowest of n_queries; full dict on prior line"
            )
            line = json.dumps(summary)
            if len(line) < 1900:
                break
            if not slowest:
                raise RuntimeError(f"summary line too long ({len(line)} chars)")
            slowest.pop()
        print(line)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
