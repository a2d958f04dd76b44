"""Shared measurement pieces: run directories, the Spark session, the
memory sampler, host-noise readings and the span tracer."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
ENGINE = os.path.join(REPO, "etl_football_analytics_pipeline_spark")
WORK = os.path.join(BENCH_DIR, "_work")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0 for an empty list,
    which only a run with no successful operation has."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def source_digest(*paths: str) -> str:
    """Digest of the Python sources in `paths` (files, or directories
    walked in sorted order, skipping `_`- and `.`-prefixed ones)."""
    h = hashlib.sha1()
    for path in paths:
        if os.path.isfile(path):
            files = [path]
        else:
            files = []
            for dirpath, dirs, names in os.walk(path):
                dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
                files += [os.path.join(dirpath, f) for f in sorted(names) if f.endswith(".py")]
        for f in files:
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# Host noise and memory
# ---------------------------------------------------------------------------


def steal_jiffies() -> int:
    """Cumulative CPU steal time of the host, in jiffies (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of `root` and all its descendants."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident memory of this process tree (driver Python,
    JVM, Python workers) every `period` seconds; `peak` is the largest
    sum seen."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_spark(run_dir: str, app: str, event_dir: str | None):
    """The engine's session (`session.get_spark`) at local[nproc], with
    every temporary path inside `run_dir` and, for a traced run, an
    uncompressed event log under `event_dir`."""
    from etl_football_analytics_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM pyspark launched and wait for it; its Python workers
    exit with it. Call after the session is stopped."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def warmup(spark) -> None:
    """Touch codegen and fork the Python workers once, as bench.py does."""

    def _noop(batches):
        import numpy  # noqa: F401 — preload in workers

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 1000, 1, n).mapInPandas(_noop, "id long").count()


def timed_read(tr: "Tracer", kind: str, name: str, group: str, build):
    """One read operation as a user makes it: `build()` returns the
    DataFrame (plan construction, including any eager jobs), then a
    driver-side collect. Jobs of each phase carry the job group
    `<group>|build` or `<group>|collect` in a traced run."""
    with tr.span(f"{kind}:{name}"):
        t0 = time.perf_counter()
        with tr.span(f"build:{name}", group=f"{group}|build"):
            df = build()
        t1 = time.perf_counter()
        with tr.span(f"collect:{name}", group=f"{group}|collect"):
            rows = df.collect()
        t2 = time.perf_counter()
    sample = {"group": group, "build_s": t1 - t0, "collect_s": t2 - t1, "rows": len(rows)}
    if tr.enabled:
        sample["catalyst"] = catalyst_ms(df)
    return df, rows, sample


def latencies_ms(samples: list[dict]) -> list[float]:
    return [1000.0 * (s["build_s"] + s["collect_s"]) for s in samples]


def read_layers(ev, samples: list[dict], session_s: float) -> dict[str, float]:
    """Per-layer metrics of the timed read operations (`timed_read`
    samples), as means per operation, from the folded event log."""
    from eventlog import GroupStats

    n = len(samples)
    build, ops = GroupStats(), GroupStats()
    for s in samples:
        for phase in ("build", "collect"):
            g = ev.groups.get(f"{s['group']}|{phase}")
            if g is not None:
                ops.add(g)
                if phase == "build":
                    build.add(g)
    return {
        "session.start_s": session_s,
        "plans.build_ms": 1000.0 * sum(s["build_s"] for s in samples) / n,
        "plans.collect_ms": 1000.0 * sum(s["collect_s"] for s in samples) / n,
        "plans.eager_jobs": build.jobs / n,
        "plans.eager_run_ms": build.job_ms / n,
        "spark.catalyst_analysis_ms": sum(s["catalyst"]["analysis"] for s in samples) / n,
        "spark.catalyst_optimizer_ms": sum(s["catalyst"]["optimization"] for s in samples) / n,
        "spark.catalyst_planning_ms": sum(s["catalyst"]["planning"] for s in samples) / n,
        "spark.jobs": ops.jobs / n,
        "spark.stages": ops.stages / n,
        "spark.tasks": ops.tasks / n,
        "spark.input_mb": ops.input_bytes / 1e6 / n,
        "spark.rows_read_per_row_returned": ops.input_records / max(sum(s["rows"] for s in samples), 1),
    }


def pass_layers(stats: list, walls: list[float]) -> dict[str, float]:
    """Executor metrics per pass (median over passes); `stats[i]` holds
    the jobs of pass i, which took `walls[i]` seconds."""
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    return {
        "spark.executor_run_s": median([g.run_ms / 1e3 for g in stats]),
        "spark.executor_cpu_s": median([g.cpu_ns / 1e9 for g in stats]),
        "spark.gc_s": median([g.gc_ms / 1e3 for g in stats]),
        "spark.shuffle_write_mb": median([g.shuffle_write_bytes / 1e6 for g in stats]),
        "spark.core_busy_frac": median(
            [g.run_ms / 1e3 / (w * cores) for g, w in zip(stats, walls)]
        ),
    }


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times of the DataFrame's last execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = float(ph.get().durationMs()) if ph.isDefined() else 0.0
    return out


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (id, name, start, end, parent). Disabled, every
    method is a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span; with `group`, jobs started inside it carry that
        Spark job group."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if (group and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield
        finally:
            if sc is not None:
                sc.setJobGroup("", "")
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by the span's children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            kind = s["name"].split(":", 1)[0]
            out[kind] = out.get(kind, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str, **extra) -> None:
        """Write the spans, each kind's self time and `extra` as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh)


# ---------------------------------------------------------------------------
# Files
# ---------------------------------------------------------------------------


def inode_sizes(root: str, suffix: str = ".parquet") -> dict[tuple[int, int], int]:
    """(dev, inode) → size of every data file under `root`; hard links
    of one file count once."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(suffix):
                st = os.stat(os.path.join(dirpath, f))
                out[(st.st_dev, st.st_ino)] = st.st_size
    return out
