"""Benchmark entry point for the pdf_parser_spark extraction engine.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Runs one measured run of a workload in a fresh child process
(``workloads.py``) on ``local[<cores>]``, checks its outputs against
references computed outside the timed region, and prints every metric by
name with its unit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the per-layer ones (a layer the workload does not exercise reports 0), and
the spans are written to ``.perfbench/spans/``.

Everything the run writes (input caches, Spark scratch space, outputs,
spans) stays under ``.perfbench/`` in the checkout. Exits 0 only when every
operation succeeded and every output matched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("extract_mixed", "checkpoint_light", "ops_suite")

def child_timeout_s(seconds: float) -> float:
    """Input generation, set-up and one timed iteration take 30-80 s on 4
    shared cores; the timed iterations after the first about ``seconds``.
    Leaves room for a run about twice as slow as the slowest seen."""
    return 150 + 4 * seconds


def driver_mem_mb() -> int:
    """A quarter of physical memory, capped at 4 GiB: the engine's 16g
    default does not fit small hosts, and local mode runs every task in this
    one JVM next to the Python workers."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(4096, total_kb // 1024 // 4)


def child_env(work_dir: str, cores: int) -> dict[str, str]:
    env = dict(os.environ)
    local = os.path.join(work_dir, "spark-local")
    for d in (local, os.path.join(work_dir, "tmp")):
        os.makedirs(d, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb()}m",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": os.path.join(work_dir, "tmp"),
        # Python workers import pdf_parser_spark from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "OMP_NUM_THREADS": "1",
        "PYTHONHASHSEED": "0",
    })
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the child's whole process group (JVM and Python workers
    included) and wait until every member has exited."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if proc.poll() is None:
                time.sleep(0.1)
                continue
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
    proc.wait()


def measure(args, cores: int) -> tuple[dict | None, str | None]:
    """Run the child; return (its result, or None, and why it failed)."""
    work_dir = os.path.join(ROOT, ".perfbench", "work")
    run_tag = f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}"
    os.makedirs(os.path.join(ROOT, ".perfbench", "runs"), exist_ok=True)
    os.makedirs(os.path.join(ROOT, ".perfbench", "spans"), exist_ok=True)
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "smoke": args.smoke,
        "corrupt_reference": args.corrupt_reference,
        "cores": cores,
        "work_dir": work_dir,
        "result_path": os.path.join(ROOT, ".perfbench", "runs", f"{run_tag}.json"),
        "spans_path": os.path.join(ROOT, ".perfbench", "spans", f"{run_tag}.json"),
    }
    cfg_path = cfg["result_path"][: -len(".json")] + ".cfg.json"
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "workloads.py"), cfg_path],
        cwd=ROOT,
        env=child_env(work_dir, cores),
        stdout=sys.stderr,  # keep stdout for the result
        start_new_session=True,
    )
    why, timeout = None, child_timeout_s(args.seconds)
    try:
        code = proc.wait(timeout=timeout)
        if code != 0:
            why = f"measured run exited with code {code}"
    except subprocess.TimeoutExpired:
        why = f"measured run timed out after {timeout:g} s"
    finally:
        stop_group(proc)
        shutil.rmtree(os.path.join(work_dir, "spark-local"), ignore_errors=True)
    if why is not None or not os.path.exists(cfg["result_path"]):
        return None, why or "measured run wrote no result"
    with open(cfg["result_path"]) as f:
        return json.load(f), None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    ap.add_argument(
        "--corrupt-reference", action="store_true",
        help="flip the reference result, to show that a wrong output is counted as failed",
    )
    args = ap.parse_args()
    # a terminated benchmark still stops its child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "pdf_parser_spark")) or not os.path.exists(spec_path):
        print(f"perfbench: no pdf_parser_spark package or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    cores = len(os.sched_getaffinity(0))

    result, why = measure(args, cores)
    if result is None:
        print(f"perfbench: {why}", file=sys.stderr)
        metrics = {} if args.trace else {"ok_share": {"value": 0.0, "unit": "ratio"}}
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": metrics}))
        return 1

    attempted, failed = result["attempted"], result["failed"]
    for err in result["errors"]:
        print(f"perfbench: failed operation: {err}", file=sys.stderr)
    values = dict(result["metrics"])
    values["ok_share"] = (attempted - failed) / attempted
    if args.trace:
        values = result["per_layer"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{result['iterations']} iterations, input {json.dumps(result['input'], sort_keys=True)}")
    print(f"env {json.dumps(result['env'], sort_keys=True)}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for name in sorted(set(values) - set(metrics)):  # numbers BENCHMARK.json does not list
        print(f"{name} = {values[name]:.6g}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
