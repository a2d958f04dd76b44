"""Small engine-wide helpers."""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Mapping
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame


def run_concurrently(spark, tasks: Mapping[str, Callable[[], object]]) -> dict[str, object]:
    """Run independent tasks (each submitting its own Spark
    jobs) in one thread per task and return {name: result} in input
    order.

    Each worker starts with the caller's job group and local
    properties (`inheritable_thread_target`, one copy per task — SQL
    executions write their id into the thread's properties, so tasks
    must not share one object) and with `spark` as its thread's
    active session, since getActiveSession() is thread-local. Every
    worker finishes before this returns; the first failure in input
    order is then re-raised."""
    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    jsession = SparkSession._get_j_spark_session_class(spark._jvm)

    def target(fn: Callable[[], object]) -> Callable[[], object]:
        @inheritable_thread_target(spark)
        def run() -> object:
            jsession.setActiveSession(spark._jsparkSession)
            return fn()

        return run

    with ThreadPoolExecutor(max(len(tasks), 1)) as pool:
        futures = {name: pool.submit(target(fn)) for name, fn in tasks.items()}
    return {name: f.result() for name, f in futures.items()}


def _hadoop_fs(path: str, spark=None):
    """(fs, Path-class) for the filesystem owning `path` — so the swap
    helpers below work on HDFS/S3 paths, not only the driver's local
    disk. Callers that HAVE a session must pass it: getActiveSession()
    is thread-local in PySpark, so resolving implicitly from a worker
    thread would silently fall back to the local-disk branch while the
    caller's own Hadoop FS sees the real paths — a split-brain that
    can delete the only copy of a relation. Engine threads satisfy the
    implicit lookup by running under `run_concurrently`, which makes
    the caller's session active in each worker. None (no session
    anywhere) falls back to os/shutil, which is correct there: without
    a session every path IS local."""
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path
    return hp(path).getFileSystem(spark._jsc.hadoopConfiguration()), hp


def recover_swapped_dir(path: str, spark=None) -> bool:
    """Crash recovery for the stage-and-rename swap pattern: a crash
    between its two renames leaves the live path ABSENT and the
    retired `.__old` copy holding the last complete table. Without
    recovery the next load sees no target and silently rebuilds from
    its delta alone — prior rows lost. Callers run this BEFORE probing
    the live path so the recovered table participates in the merge.
    Returns True if a recovery happened."""
    retired = path + ".__old"
    fsj = _hadoop_fs(path, spark)
    if fsj is None:
        if not os.path.isdir(path) and os.path.isdir(retired):
            os.rename(retired, path)
            return True
        return False
    fs, hp = fsj
    if not fs.exists(hp(path)) and fs.exists(hp(retired)):
        if not fs.rename(hp(retired), hp(path)):
            raise IOError(f"could not recover {retired} -> {path}")
        return True
    return False


def commit_staged_dir(path: str, tmp: str, spark=None) -> None:
    """Swap a fully-written staging directory into place:
    retire the live dir — first clearing any stale retired copy left
    by a crash after a previous swap (rename onto an existing
    non-empty directory fails or nests on every FS) — then rename
    stage → live and drop the retired copy. The inconsistency window
    is the two rename() calls, and `recover_swapped_dir` makes a
    crash inside that window lossless. Runs through the Hadoop FS API
    when a session is active, so the pattern holds for warehouse
    paths on HDFS/S3, not only local disk."""
    retired = path + ".__old"
    fsj = _hadoop_fs(path, spark)
    if fsj is None:
        if os.path.isdir(path):
            shutil.rmtree(retired, ignore_errors=True)
            os.rename(path, retired)
        os.rename(tmp, path)
        shutil.rmtree(retired, ignore_errors=True)
        return
    fs, hp = fsj
    if fs.exists(hp(path)):
        if fs.exists(hp(retired)):
            fs.delete(hp(retired), True)
        if not fs.rename(hp(path), hp(retired)):
            raise IOError(f"could not retire {path} -> {retired}")
    if not fs.rename(hp(tmp), hp(path)):
        if fs.exists(hp(retired)):  # put the old copy back: stay readable
            fs.rename(hp(retired), hp(path))
        raise IOError(f"could not swap {tmp} -> {path}")
    fs.delete(hp(retired), True)


def _clone_dir(spark, src: str, dst: str) -> None:
    """Materialize `dst` as a same-content twin of `src` (a directory
    tree or a single file) WITHOUT copying data where the filesystem
    allows it: local paths (bare or file://) hard-link every file
    (O(files) metadata ops — parquet files are immutable once
    committed, so two trees sharing inodes is safe, and deleting
    either tree merely unlinks); remote schemes fall back to Hadoop
    FileUtil.copy (no link primitive there). This is how
    manifest-preserving partition-local merges and `manifest_append`
    reuse untouched data across immutable tree versions."""

    def _local(p: str) -> str | None:
        if "://" not in p:
            return p
        if p.startswith("file://"):
            return p[len("file://"):] or "/"
        return None

    lsrc, ldst = _local(src), _local(dst)
    if lsrc is not None and ldst is not None:
        if os.path.isfile(lsrc):
            os.makedirs(os.path.dirname(ldst), exist_ok=True)
            os.link(lsrc, ldst)
            return
        for root, _dirs, files in os.walk(lsrc):
            rel = os.path.relpath(root, lsrc)
            out = ldst if rel == "." else os.path.join(ldst, rel)
            os.makedirs(out, exist_ok=True)
            for f in files:
                os.link(os.path.join(root, f), os.path.join(out, f))
        return
    fs, hp = _hadoop_fs(src, spark)
    conf = spark._jsc.hadoopConfiguration()
    futil = spark._jvm.org.apache.hadoop.fs.FileUtil
    if not futil.copy(fs, hp(src), fs, hp(dst), False, conf):
        raise IOError(f"could not clone {src!r} -> {dst!r}")


def orderable_columns(df: DataFrame, cols) -> list[str]:
    """The subset of `cols` whose types Spark can ORDER BY — map
    columns (and arrays/structs containing maps) are unorderable and
    would raise AnalysisException inside a sort-based dedup tiebreak
    (ADVICE r7: a batch carrying a map column crashed merge_sink where
    the previous code merged fine). Callers sort by this subset and
    fall back to an arbitrary-but-single survivor when it is empty."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def ok(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return True

    types = {f.name: f.dataType for f in df.schema.fields}
    return [c for c in cols if ok(types[c])]


# spread()'s small-input cutoff: frames whose Catalyst size estimate
# is at or below this are repartitioned to the target width without
# probing physical partitioning. Well above every bench-scale table,
# well below anything cluster-scale — a frame this small costs ~nothing
# to repartition even when it was already wide.
_SPREAD_SMALL_BYTES = 64 << 20


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least `min_partitions` (default: defaultParallelism)
    input partitions for a CPU-heavy downstream stage.

    Small single-file corpora arrive as ONE partition, serializing
    per-row kernels (interpreted higher-order functions, Arrow/numpy
    batches) onto one core. Repartitioning is a shuffle, so this is a
    no-op whenever the input is already at least that wide — at real
    scale inputs arrive in thousands of partitions and nothing moves.

    Probe order (r12, guide §1 — the old `df.rdd.getNumPartitions()`
    probe forced physical planning of the whole frame, ~0.05-0.2 s of
    driver time per call, several calls per registered suite):
    1. an explicit SHUFFLING repartition of >= target width (a prior
       spread) at the root OR under partitioning-preserving wrappers
       (Project/Filter/SubqueryAlias — r13: operators that spread
       their own input used to stack a second exchange whenever the
       caller passed an already-spread frame through a projection) →
       no-op; coalesce() (a Repartition node with shuffle=false) and
       narrower repartitions do NOT satisfy the request and fall
       through;
    2. Catalyst's metadata-only size estimate: small → repartition
       (cheap even if redundant);
    3. estimate large or unavailable (RDD-backed/kernel-derived plans
       report the sentinel) → the exact physical probe, as before.
       r13 (VERDICT r12 #5): a large estimate no longer early-returns
       — a GiB-scale single-file relation or a coalesced intermediate
       above the small cutoff must not keep a CPU-heavy stage narrow,
       so known-large frames pay the exact probe and are widened when
       actually narrow.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        qe = df._jdf.queryExecution()
        node = qe.logical()
        # walk through partitioning-preserving unary wrappers: a prior
        # spread's Repartition is still load-bearing under a Project
        # or Filter (narrow ops keep the width), so no second exchange.
        # Load-bearing means it actually SHUFFLED to >= target width:
        # coalesce() is also a Repartition node (shuffle=false), and a
        # narrower repartition must not satisfy a wider request — both
        # fall through to the estimate/probe path instead.
        for _ in range(16):
            root = node.getClass().getSimpleName()
            if root in ("Repartition", "RepartitionByExpression"):
                if bool(node.shuffle()) and int(node.numPartitions()) >= target:
                    return df
                break
            if root not in ("Project", "Filter", "SubqueryAlias"):
                break
            node = node.child()
    except Exception:  # noqa: BLE001 — any py4j/analysis hiccup → size checks below
        pass
    size = _size_estimate(df)
    if size is not None and size <= _SPREAD_SMALL_BYTES:
        return df.repartition(target)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _size_estimate(df: DataFrame) -> int | None:
    """Catalyst's metadata-only size estimate of `df` in bytes; None
    when there is none (RDD-backed and kernel-derived plans report a
    Long.MaxValue-scale sentinel) or the probe fails."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — any py4j/analysis hiccup → no estimate
        return None
    return size if size < (1 << 60) else None


def one_split_bytes(spark) -> int:
    """The smallest split a file scan cuts under this session's conf:
    min(spark.sql.files.maxPartitionBytes, spark.sql.files.openCostInBytes).
    Spark's split size is min(maxPartitionBytes, max(openCostInBytes,
    bytes per core)), so a file no longer than this is always read
    whole, by one task."""
    conf = spark._jsparkSession.sessionState().conf()
    return min(int(conf.filesMaxPartitionBytes()), int(conf.filesOpenCostInBytes()))


def coalesce_small(df: DataFrame) -> DataFrame:
    """`df.coalesce(1)` when its size estimate (`_size_estimate`) is at
    most one scan split (`one_split_bytes`), else `df` unchanged.

    Such a scan already runs as one task, but it reports an unknown
    partitioning, so every aggregate, sort, window or keyed join above
    it plans a shuffle exchange (and AQE runs each as one more job).
    Coalescing to one partition is narrow and reports SinglePartition,
    which satisfies every clustered and ordered distribution, so plans
    over small tables need no exchange. Frames above the threshold, or
    without an estimate, keep their file splits."""
    size = _size_estimate(df)
    if size is not None and size <= one_split_bytes(df.sparkSession):
        return df.coalesce(1)
    return df
