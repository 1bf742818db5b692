"""One measured benchmark run, executed in a fresh process by ``run.py``.

    python3 perfbench/workloads.py <config.json>

The config names the workload, seed, run length, trace flag and the path of
the result JSON this process writes. Every failure that can be caught here
(an exception in a timed operation, a digest or oracle mismatch) is counted
in the result; a crash or timeout of this process is counted by the parent.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import inputs  # noqa: E402
import spans as tracing  # noqa: E402

# one query from each of queries and joins (events_asof_join runs
# joins.asof_join), dataops and suites
OPS_QUERIES = ["events_asof_join", "dup_spans", "doc_fingerprints"]
# ops_suite's tables do not depend on --seed
OPS_SEED = 0

# sizes per workload; "smoke" is the tiny variant the benchmark's tests run
SIZES = {
    "extract_mixed": {"full": {"turns": 12_000}, "smoke": {"turns": 300}},
    "checkpoint_light": {"full": {"turns": 2_000, "buckets": 2}, "smoke": {"turns": 400, "buckets": 2}},
    "ops_suite": {"full": {"scale": 0.004}, "smoke": {"scale": 0.002}},
}
KERNEL_SAMPLE = 1500
SALT_BUCKETS = 16


class RssSampler(threading.Thread):
    """Peak resident set size of this process and all its descendants (the
    driver JVM and the Python workers it forks). The process tree is
    rebuilt from /proc every 2 s; the known members' RSS is read every
    200 ms, so sampling stays cheap next to the measured job."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue  # exited while listing
                children.setdefault(ppid, []).append(int(name))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass  # exited since the tree was built
        return 0

    def run(self) -> None:
        tick, pids = 0, []
        while not self._halt.is_set():
            if tick % 10 == 0:
                pids = self._descendants(os.getpid())
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in pids))
            tick += 1
            self._halt.wait(0.2)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# Session set-up
# ---------------------------------------------------------------------------


def start_session(cfg: dict, app: str):
    from pdf_parser_spark.pipeline import get_spark

    work = cfg["work_dir"]
    spark = get_spark(
        app,
        master=f"local[{cfg['cores']}]",
        shuffle_partitions=cfg["cores"],
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # same G1 region size as the engine; no JVM perf files outside
            # the work dir
            "spark.driver.extraJavaOptions": (
                f"-XX:G1HeapRegionSize=32m -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _pass_batches(batches):
    yield from batches


def warm_up(spark) -> None:
    """One tiny Arrow-batched Python map over one partition per core: spawns
    the Python workers and takes the Arrow path once. Importing the engine
    in the workers is left to the timed job, as in a fresh batch job."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(_pass_batches, "id long").collect()


# ---------------------------------------------------------------------------
# Output digest (mirrors inputs.item_digest)
# ---------------------------------------------------------------------------


def digest_row(extracted) -> dict:
    """The run_metrics columns plus an order-independent digest of every
    turn's output, in one aggregate."""
    from pyspark.sql import functions as F

    spans = F.concat_ws(
        ";",
        F.transform(
            "spans",
            lambda s: F.concat_ws(":", s["block_id"], s["start"].cast("string"), s["end"].cast("string")),
        ),
    )
    item = F.concat_ws(
        "|",
        "conv_id",
        F.col("turn_idx").cast("string"),
        F.col("turn_seq").cast("string"),
        "role",
        "payload_type",
        "source",
        F.col("is_fallback").cast("string"),
        F.col("n_blocks").cast("string"),
        F.md5("extracted_text"),
        spans,
    )
    h = F.conv(F.substring(F.md5(item), 1, 15), 16, 10).cast("long")
    row = extracted.agg(
        F.count("*").alias("turns_parsed"),
        F.countDistinct("conv_id").alias("conversations"),
        F.coalesce(F.sum("n_blocks"), F.lit(0)).alias("blocks_emitted"),
        F.coalesce(F.sum("n_spans"), F.lit(0)).alias("spans_emitted"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("chars_extracted"),
        F.coalesce(F.sum(F.col("is_fallback").cast("long")), F.lit(0)).alias("fallback_turns"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("digest_xor"),
        F.coalesce(F.sum(F.shiftright(h, 20)), F.lit(0)).alias("digest_sum"),
    ).collect()[0]
    return {k: int(v) for k, v in row.asDict().items()}


def compare_reference(got: dict, want: dict) -> str | None:
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    return None if not bad else f"output differs from the reference: {bad}"


def _normalize(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def compare_oracle(got, want) -> str | None:
    """The repo's Spark-vs-DuckDB rule: same columns, rows and numeric kind,
    values equal to 1e-9 after a column-name and row sort."""
    import pandas as pd

    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    for c in a.columns:
        if a[c].dtype.kind in "iuf" or b[c].dtype.kind in "iuf":
            if (a[c].dtype.kind == "f") != (b[c].dtype.kind == "f"):
                return f"{c}: dtype {a[c].dtype} vs {b[c].dtype}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9)
    except AssertionError as exc:
        return str(exc)[:500]
    return None


# ---------------------------------------------------------------------------
# Workloads: each returns a list of timed iterations
# {"wall_s", "ops", "errors", "groups", ...}
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, cfg: dict, tracer: tracing.Tracer):
        self.cfg, self.tracer = cfg, tracer
        self.spark = None
        self.peak_rss_mb = 0.0
        self.size = SIZES[cfg["workload"]]["smoke" if cfg["smoke"] else "full"]
        self.data: dict = {}
        self.items = 0
        self.iterations: list[dict] = []
        self.untimed: list[dict] = []  # checked operations outside the timed loop
        self.setup_s = 0.0
        self.per_layer: dict[str, float] = {}
        self.input_info: dict = {}

    def group(self, name: str) -> str:
        return f"perfbench-{self.tracer.run_id}-{name}"

    def set_up(self) -> None:
        """Launch the JVM, start the session and warm it up; ``setup_s`` is
        the time that takes."""
        with self.tracer.span("setup", "session"):
            t0 = time.perf_counter()
            self.spark = start_session(self.cfg, f"perfbench-{self.cfg['workload']}")
            self.tracer.sc = self.spark.sparkContext
            warm_up(self.spark)
            self.setup_s = time.perf_counter() - t0

    def loop(self, one_iteration) -> None:
        """Closed loop: one job at a time, until ``seconds`` of timed work.
        Peak RSS is sampled over the whole loop."""
        sampler = RssSampler()
        sampler.start()
        try:
            timed = 0.0
            while timed < self.cfg["seconds"] or not self.iterations:
                it = one_iteration(len(self.iterations))
                self.iterations.append(it)
                timed += it["wall_s"]
        finally:
            self.peak_rss_mb = sampler.stop()

    def prepare(self) -> None:
        """Generate (or load from the cache) this run's inputs and their
        references, before any Spark session exists."""
        seed, wl = self.cfg["seed"], self.cfg["workload"]
        t0 = time.perf_counter()
        with self.tracer.span("inputs", "inputs"):
            if wl == "ops_suite":
                self.data = self.ops_tables()
            else:
                spec = inputs.MIXED if wl == "extract_mixed" else inputs.LIGHT
                self.data = inputs.ensure_corpus(ROOT, spec, seed, self.size["turns"], self.cfg["cores"])
        self.input_info = {k: self.data[k] for k in ("checksum", "n_turns", "cached", "code_hash") if k in self.data}
        self.input_info["load_s"] = time.perf_counter() - t0
        if "reference" in self.data:
            # a reference built by other kernel code than the one measured
            # shows as two different hashes
            self.input_info["code_hash_now"] = inputs.code_hash(ROOT)
            self.input_info["reference_digest"] = self.data["reference"]["digest_xor"]
        if self.cfg.get("corrupt_reference") and "reference" in self.data:
            ref = self.data["reference"]
            self.data["reference"] = {**ref, "digest_xor": ref["digest_xor"] ^ 1}

    # --- extract_mixed ----------------------------------------------------

    def extract_mixed(self) -> None:
        from pdf_parser_spark.pipeline import extract_turns

        c = self.data

        def one(i: int) -> dict:
            g = self.group(f"extract-{i}")
            errors, t0 = [], time.perf_counter()
            try:
                with self.tracer.span(f"extract_job#{i}", "pipeline", job_group=g):
                    t0 = time.perf_counter()
                    src = self.spark.read.parquet(c["dir"])
                    got = digest_row(extract_turns(src, salt_buckets=SALT_BUCKETS, include_blocks=False))
                    wall = time.perf_counter() - t0
                with self.tracer.span(f"check#{i}", "check"):
                    err = compare_reference(got, c["reference"])
                if err:
                    errors.append(err)
            except Exception:
                wall = time.perf_counter() - t0
                errors.append(traceback.format_exc()[-2000:])
            return {"wall_s": wall, "ops": 1, "errors": errors, "groups": [g]}

        self.set_up()
        self.loop(one)
        self.items = c["n_turns"]
        if self.tracer.enabled:
            self.trace_pipeline(c, [it["groups"][0] for it in self.iterations])
            # the ops layer, which no benchmarked workload's timed job
            # touches: one checked pass, in the traced run only
            ops = self.ops_pass(self.ops_tables(), "trace")
            self.untimed.append(ops)
            self.ops_layers([ops])

    # --- checkpoint_light -------------------------------------------------

    def checkpoint_light(self) -> None:
        from pdf_parser_spark import runner

        c = self.data
        out_root = os.path.join(self.cfg["work_dir"], "out")

        def one(i: int) -> dict:
            out_dir = os.path.join(out_root, f"{self.tracer.run_id}-{i}")
            g_run, g_compact = self.group(f"run_extraction-{i}"), self.group(f"compact-{i}")
            errors, done, staged = [], {}, []

            def on_bucket_done(b: int) -> None:
                done[b] = time.time()
                if self.tracer.enabled and not staged:
                    staged.append(_dir_bytes(os.path.join(out_dir, "_staged_input")))

            t0 = time.perf_counter()
            it = {"ops": 2, "groups": [g_run, g_compact]}
            try:
                with self.tracer.span(f"run_extraction#{i}", "runner", job_group=g_run) as sp:
                    t0 = time.perf_counter()
                    summary = runner.run_extraction(
                        self.spark, self.spark.read.parquet(c["dir"]), out_dir,
                        n_buckets=self.size["buckets"], salt_buckets=SALT_BUCKETS,
                        on_bucket_done=on_bucket_done,
                    )
                    t_run = time.perf_counter() - t0
                with self.tracer.span(f"compact_output#{i}", "compact", job_group=g_compact):
                    t1 = time.perf_counter()
                    files_before, files_after = runner.compact_output(self.spark, out_dir)
                    wall = time.perf_counter() - t0
                    t_compact = time.perf_counter() - t1
                with self.tracer.span(f"check#{i}", "check", job_group=self.group(f"check-{i}")):
                    got = digest_row(runner.read_extracted(self.spark, out_dir))
                    err = compare_reference(got, c["reference"]) or (
                        None if summary["turns_parsed"] == c["n_turns"]
                        else f"run summary counts {summary['turns_parsed']} turns"
                    )
                if err:
                    errors.append(err)
                out_bytes = _dir_bytes(os.path.join(out_dir, runner.COMPACT_DIR))
                it.update({
                    "bucket_s": self._bucket_spans(out_dir, done, sp["id"]) if sp is not None else [],
                    "run_s": t_run, "compact_s": t_compact, "files_written": files_before,
                    "files_after": files_after, "out_bytes": out_bytes,
                    "staged_bytes": staged[0] if staged else 0,
                })
            except Exception:
                wall = time.perf_counter() - t0
                errors.append(traceback.format_exc()[-2000:])
            shutil.rmtree(out_dir, ignore_errors=True)
            return {**it, "wall_s": wall, "errors": errors}

        self.set_up()
        self.loop(one)
        self.items = c["n_turns"]
        ok = [it for it in self.iterations if not it["errors"]]
        if ok:
            self.per_layer["runner.out_bytes_per_turn"] = statistics.median(
                it["out_bytes"] for it in ok
            ) / c["n_turns"]
        if self.tracer.enabled:
            self.trace_pipeline(c, [it["groups"][0] for it in self.iterations])
            med = lambda k: statistics.median(it[k] for it in ok) if ok else 0.0  # noqa: E731
            buckets = [b for it in ok for b in it["bucket_s"]]
            self.per_layer.update({
                "runner.run_extraction_s": med("run_s"),
                "runner.compact_output_s": med("compact_s"),
                "runner.files_written": med("files_written"),
                "runner.files_after_compact": med("files_after"),
                "runner.staged_bytes": med("staged_bytes"),
                "runner.bucket_s.p50": statistics.median(buckets) if buckets else 0.0,
                "runner.bucket_s.max": max(buckets, default=0.0),
            })

    def _bucket_spans(self, out_dir: str, done: dict[int, float], parent: int) -> list[float]:
        """One child span per bucket, from its lineage start time to its
        ``on_bucket_done`` timestamp (wall clock, mapped onto the span
        clock). Returns the bucket durations."""
        from pdf_parser_spark import runner

        offset = time.perf_counter() - time.time()
        out = []
        for r in runner.read_lineage(self.spark, out_dir).collect():
            if r["status"] == "completed" and r["bucket"] in done:
                self.tracer.add_span(
                    f"bucket={r['bucket']}", "bucket",
                    r["started_at"] + offset, done[r["bucket"]] + offset, parent,
                )
                out.append(done[r["bucket"]] - r["started_at"])
        return out

    # --- ops_suite --------------------------------------------------------

    def ops_suite(self) -> None:
        tabs = self.data
        self.set_up()
        self.loop(lambda i: self.ops_pass(tabs, i))
        self.items = len(OPS_QUERIES)
        if self.tracer.enabled:
            self.ops_layers(self.iterations)

    def ops_tables(self) -> dict:
        scale = SIZES["ops_suite"]["smoke" if self.cfg["smoke"] else "full"]["scale"]
        return inputs.ensure_ops_tables(ROOT, OPS_SEED, scale, OPS_QUERIES)

    def ops_pass(self, tabs: dict, i) -> dict:
        """One pass over ``OPS_QUERIES`` after ``dataops.clear_memo_caches()``,
        each query collected and checked against its DuckDB oracle."""
        import pandas as pd

        from pdf_parser_spark import dataops, queries, search, suites

        registry = {**queries.QUERIES, **dataops.DATAOPS_QUERIES, **search.SEARCH_QUERIES, **suites.SUITE_QUERIES}
        errors, per_query, groups = [], {}, []
        dataops.clear_memo_caches()
        for name in OPS_QUERIES:
            g = self.group(f"ops-{i}-{name}")
            groups.append(g)
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"{name}#{i}", "ops", job_group=g):
                    t0 = time.perf_counter()
                    got = registry[name](self.spark, tabs["dir"]).toPandas()
                    per_query[name] = time.perf_counter() - t0
                with self.tracer.span(f"check {name}#{i}", "check"):
                    want = pd.read_parquet(os.path.join(tabs["oracle_dir"], f"{name}.parquet"))
                    if self.cfg.get("corrupt_reference") and name == OPS_QUERIES[0]:
                        want = want.rename(columns={want.columns[0]: "corrupted"})
                    err = compare_oracle(got, want)
                if err:
                    errors.append(f"{name}: {err}")
            except Exception:
                per_query[name] = time.perf_counter() - t0
                errors.append(f"{name}: {traceback.format_exc()[-2000:]}")
        return {"wall_s": sum(per_query.values()), "ops": len(OPS_QUERIES), "errors": errors,
                "groups": groups, "per_query": per_query}

    def ops_layers(self, passes: list[dict]) -> None:
        for name in OPS_QUERIES:
            self.per_layer[f"ops.{name}_s"] = statistics.median(p["per_query"][name] for p in passes)
        per_pass = [
            tracing.summarize_stages(tracing.stage_metrics(self.spark.sparkContext, p["groups"]))
            for p in passes
        ]
        for k in ("jvm_cpu_ms", "gc_ms", "shuffle_write_bytes", "python_residue_ms"):
            self.per_layer[f"ops.{k}"] = statistics.median(p[k] for p in per_pass)

    # --- per-layer numbers of the extraction job ----------------------------

    def trace_pipeline(self, c: dict, groups: list[str]) -> None:
        import kernelbench

        with self.tracer.span("probe", "probe", job_group=self.group("scan")):
            scans = []
            for _ in range(3):
                t0 = time.perf_counter()
                self.spark.read.parquet(c["dir"]).write.format("noop").mode("overwrite").save()
                scans.append(time.perf_counter() - t0)
            self.per_layer["pipeline.scan_s"] = statistics.median(scans)
            per_iter = []
            for g in groups:
                stages = tracing.stage_metrics(self.spark.sparkContext, [g])
                per_iter.append({
                    "map": tracing.summarize_stages([s for s in stages if s["kind"] == "python"]),
                    "exchange": tracing.summarize_stages([s for s in stages if s["kind"] == "exchange"]),
                    "all": tracing.summarize_stages(stages),
                })
        with self.tracer.span("kernelbench", "kernels"):
            kb = kernelbench.run(inputs.read_sample(c["dir"], KERNEL_SAMPLE))
        self.per_layer.update(kb)

        def med(part: str, key: str) -> float:
            return statistics.median(p[part][key] for p in per_iter)

        for key in ("stage_run_ms", "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "task_skew"):
            self.per_layer[f"pipeline.exchange.{key}"] = med("exchange", key)
        for key in ("stage_run_ms", "python_residue_ms", "task_skew"):
            self.per_layer[f"pipeline.map.{key}"] = med("map", key)
        self.per_layer["pipeline.gc_ms"] = med("all", "gc_ms")
        self.per_layer["pipeline.spill_bytes"] = med("all", "spill_bytes")
        kernel_ms = c["n_turns"] * kb["kernels.extract_turn.us_per_turn"] / 1000.0
        self.per_layer["pipeline.udf_overhead_ratio"] = med("map", "stage_run_ms") / kernel_ms


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n))
        for r, _, names in os.walk(d)
        for n in names
        if n.endswith(".parquet")
    )


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = tracing.Tracer(cfg["trace"])
    with tracer.span("run", "run"):
        run = Run(cfg, tracer)
        run.prepare()
        getattr(run, cfg["workload"])()
    spark = run.spark
    ok_iters = [it for it in run.iterations if not it["errors"]]
    walls = [it["wall_s"] for it in ok_iters] or [it["wall_s"] for it in run.iterations]
    wall = statistics.median(walls)
    checked = run.iterations + run.untimed
    attempted = sum(it["ops"] for it in checked)
    failed = sum(min(it["ops"], len(it["errors"])) for it in checked)
    errors = [e for it in checked for e in it["errors"]]
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "iterations": len(run.iterations),
        "wall_s_each": [it["wall_s"] for it in run.iterations],
        "input": run.input_info,
        "metrics": {
            "setup_s": run.setup_s,
            "wall_s": wall,
            # input turns per second; ops_suite counts queries instead
            "items_per_s": run.items / wall,
        },
        "env": {
            "cores": cfg["cores"],
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "pyspark": __import__("pyspark").__version__,
            "shuffle_dir": spark.sparkContext.getConf().get("spark.local.dir"),
        },
    }
    if cfg["trace"]:
        tracer_layers = tracer.self_times()
        run.per_layer.update({f"self_s.{k}": v for k, v in tracer_layers.items()})
        run.per_layer["run.peak_rss_mb"] = run.peak_rss_mb
        run.per_layer["trace.wall_s"] = wall
        run.per_layer["trace.bookkeeping_share"] = tracer.bookkeeping_s / sum(walls)
        tracer.dump(cfg["spans_path"])
        result["per_layer"] = run.per_layer
    spark.stop()
    with open(cfg["result_path"] + ".tmp", "w") as f:
        json.dump(result, f, sort_keys=True)
    os.replace(cfg["result_path"] + ".tmp", cfg["result_path"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
