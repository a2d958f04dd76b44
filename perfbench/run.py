"""Benchmark entry point.

    python3 perfbench/run.py --workload registry|football_weekly \
        --seed N --seconds S --trace 0|1

Runs one workload at local[<cores this process may use>] and prints, as
the last line of stdout, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the run also writes
a Spark event log and spans, and the metrics are the per-layer ones.
Everything the run writes stays under `perfbench/_work/`; see
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_ms": "ms",
    "query_p75_ms": "ms",
    "success_rate": "frac",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.build_ms": "ms",
    "plans.collect_ms": "ms",
    "plans.eager_jobs": "count",
    "plans.eager_run_ms": "ms",
    "spark.catalyst_analysis_ms": "ms",
    "spark.catalyst_optimizer_ms": "ms",
    "spark.catalyst_planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_mb": "MB",
    "spark.rows_read_per_row_returned": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.core_busy_frac": "frac",
    "pipeline.transform_s": "s",
    "pipeline.load_s": "s",
    "pipeline.load_input_mb": "MB",
    "sources.bytes_written_mb": "MB",
    "sources.rewrite_frac": "frac",
    "sources.live_files": "count",
    "sources.space_amp": "ratio",
}
WORKLOADS = ("registry", "football_weekly")


def _setup_env(run_dir: str) -> None:
    """Process environment shared by this process, the JVM and the
    Python workers: the engine on every worker's import path (workers
    do not inherit sys.path), local[cores], and all temporary files
    under `run_dir`."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = run_dir
    # every JVM the run starts (launcher and driver): temp files in
    # run_dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tempfile.tempdir = None
    sys.path[:0] = [REPO, BENCH_DIR]


def code_signature() -> str:
    """Digest of the engine's and the benchmark's sources: a run is
    compared only with runs of the same code."""
    from harness import ENGINE, source_digest

    return source_digest(ENGINE, BENCH_DIR)


def _untraced_e2e(history: str, workload: str, code: str) -> tuple[dict[str, float], int]:
    """Per-metric median of this checkout's earlier correct untraced
    runs of the same code, and how many there were."""
    runs = []
    try:
        with open(history) as fh:
            for line in fh:
                r = json.loads(line)
                if (r["workload"], r.get("code"), r["trace"], r["correct"]) == (workload, code, 0, True):
                    runs.append(r["metrics"])
    except FileNotFoundError:
        pass
    if not runs:
        return {}, 0
    return {k: sorted(m[k] for m in runs)[len(runs) // 2] for k in runs[0]}, len(runs)


def _trace_overhead(e2e: dict[str, float], base: dict[str, float], n: int) -> dict:
    """Traced minus untraced end-to-end numbers, absolute and as a
    share of the untraced median."""
    return {"untraced_runs": n, "metrics": {
        k: {"traced": v, "untraced": base[k], "diff": v - base[k],
            "frac": (v - base[k]) / base[k] if base[k] else None}
        for k, v in e2e.items() if k in base}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", choices=("football_weekly",),
                    help="build a workload's cached inputs and exit")
    args = ap.parse_args(argv)
    if not (args.workload or args.prepare):
        ap.error("--workload is required")

    work = os.path.join(BENCH_DIR, "_work")
    run_dir = os.path.join(work, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    os.chdir(work)
    try:
        _setup_env(run_dir)
        try:
            import pyspark  # noqa: F401
            import etl_football_analytics_pipeline_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: the engine is not importable from {REPO}: {exc}", file=sys.stderr)
            return 2
        import harness

        try:
            if args.prepare:
                import football_wl

                football_wl.build_inputs(run_dir)
                return 0
            return _run(args, run_dir, work)
        finally:
            harness.stop_jvm()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, work: str) -> int:
    import football_wl
    import harness
    import registry_wl

    wl = {"registry": registry_wl, "football_weekly": football_wl}[args.workload]
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    try:
        # outside the host readings and the memory sampler: building the
        # inputs is the benchmark's work, not the program's
        inputs = wl.ensure_prepared()
        host = {"loadavg_start": list(os.getloadavg()[:2])}
        steal0 = harness.steal_jiffies()
        t0 = time.perf_counter()
        rss = harness.RssSampler() if args.trace else contextlib.nullcontext()
        with rss:
            res = wl.run(inputs, args.seed, args.seconds, bool(args.trace), run_dir, event_dir)
    except Exception:  # noqa: BLE001 — report, print no result
        traceback.print_exc()
        return 1
    host.update(steal_jiffies=harness.steal_jiffies() - steal0,
                loadavg_end=list(os.getloadavg()[:2]), wall_s=time.perf_counter() - t0)

    e2e = dict(res["e2e"])
    e2e["success_rate"] = (res["attempted"] - res["failed"]) / res["attempted"]
    history = os.path.join(work, "runs.jsonl")
    code = code_signature()
    if args.trace:
        layers = dict(res["layers"])
        layers["session.peak_rss_mb"] = rss.peak / 1e6
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        base, n = _untraced_e2e(history, args.workload, code)
        if n:
            overhead = _trace_overhead(e2e, base, n)
            print(f"perfbench: trace overhead {json.dumps(overhead)}", file=sys.stderr)
        else:
            overhead = None
            print("perfbench: trace overhead unknown: no correct untraced run of this code "
                  "in this checkout yet (run --trace 0 first)", file=sys.stderr)
        res["tracer"].write(os.path.join(
            work, "traces", f"{args.workload}-seed{args.seed}-{time.time_ns()}.json"),
            overhead=overhead)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    for err in res["errors"][:20]:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    out = {"correct": res["failed"] == 0, "attempted": res["attempted"],
           "failed": res["failed"], "metrics": metrics}
    with open(history, "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "code": code, "seed": args.seed,
                             "trace": args.trace,
                             "correct": out["correct"], "metrics": e2e, "host": host,
                             "info": res["info"]}) + "\n")
    print(f"perfbench: host {json.dumps(host)} info {json.dumps(res['info'])}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
