"""Surrogate-key assignment at fact scale (reference T6).

The reference assigns sequential ids with `np.arange(len)+1` after a
sort (`scr/Transform.py:116-119,351,372`) — driver-order semantics.
The direct Spark translation, `row_number()` over a global window, is
correct but funnels the whole table through ONE partition (WindowExec
warns about exactly this); fine for ≤million-row dimensions, fatal for
a 100 TB fact table.

`zip_with_index` removes the bottleneck: range-repartition by the
order key, number rows partition-locally, and add per-partition
offsets computed from a tiny count pass (the classic RDD zip-with-index
two-phase scheme, done with DataFrame ops so columns/pushdown are
preserved). No single-partition stage anywhere; the only driver data
is one long per partition.

Determinism contract: ids are always unique and dense (start..start+n-1).
When `order_by` is a TOTAL order (unique key tuple), the assignment is
bit-identical across runs and partitionings — range boundaries may
move (RangePartitioner samples), but a total order pins each row's
global rank regardless of which partition it lands in.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def zip_with_index(
    df: DataFrame,
    order_by: Sequence[str],
    id_col: str = "surrogate_id",
    start: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense sequential ids 1..n in `order_by` order, partition-parallel.

    Returns `df` with `id_col` prepended. Caches the repartitioned
    input for the duration of the two passes (count + number); callers
    writing the result immediately pay the scan once.
    """
    cols = [F.col(c) for c in order_by]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism

    # Numeric-leading-key fast path: buckets computed FROM VALUES
    # (min/max + fixed width) are deterministic across jobs, so no
    # materialization is needed to pin them — unlike repartitionByRange,
    # whose sampled boundaries force caching the whole table (a real
    # cost at 100 TB; the cache below is only the generic fallback).
    lead = order_by[0]
    lead_type = dict(df.dtypes).get(lead)
    if lead_type in ("tinyint", "smallint", "int", "bigint"):
        mn, mx = df.agg(F.min(lead), F.max(lead)).first()
        # the bucket expression computes (lead - mn) in Spark LONG
        # arithmetic — a key range past 2^62 would overflow it (ANSI:
        # job aborts; legacy: wrapped negatives collide with the -1
        # null sentinel and break the ordering contract), so extreme
        # ranges take the generic repartitionByRange path instead
        if mn is not None and (int(mx) - int(mn)) < (1 << 62):
            width = max(1, ((int(mx) - int(mn)) // parts) + 1)
            bucket = F.when(F.col(lead).isNull(), F.lit(-1)).otherwise(
                ((F.col(lead) - F.lit(int(mn))) / F.lit(width)).cast("long")
            )
            bucketed = df.withColumn("__pid", bucket)
            counts = {
                r["__pid"]: r["count"]
                for r in bucketed.groupBy("__pid").count().collect()
            }
            offsets: dict[int, int] = {}
            acc = start
            for pid in sorted(counts):
                offsets[pid] = acc
                acc += counts[pid]
            offset_map = F.create_map(
                *[lit for pid, off in offsets.items() for lit in (F.lit(pid), F.lit(off))]
            )
            # the window repartitions by the value bucket — evenly
            # sized by construction for dense keys; every bucket
            # numbers concurrently
            w = Window.partitionBy("__pid").orderBy(*[F.asc(c) for c in order_by])
            return bucketed.select(
                (F.row_number().over(w) - 1 + offset_map[F.col("__pid")])
                .cast("long")
                .alias(id_col),
                *[F.col(c) for c in df.columns],
            )

    ranged = (
        df.repartitionByRange(parts, *cols)
        .withColumn("__pid", F.spark_partition_id())
        # localCheckpoint: pins the partition ids both passes read (a
        # recompute could re-plan them) and releases its blocks on GC
        # instead of squatting in the CacheManager
        .localCheckpoint()
    )
    # pass 1: per-partition cardinalities → driver prefix sums (one
    # long per partition crosses the wire, nothing else)
    counts = {r["__pid"]: r["count"] for r in ranged.groupBy("__pid").count().collect()}
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_map = F.create_map(
        *[lit for pid, off in offsets.items() for lit in (F.lit(pid), F.lit(off))]
    )
    # pass 2: partition-local row_number + offset — the window's
    # partitionBy(__pid) matches the existing distribution, so no
    # further shuffle, and every partition numbers concurrently
    w = Window.partitionBy("__pid").orderBy(*[F.asc(c) for c in order_by])
    return ranged.select(
        (F.row_number().over(w) - 1 + offset_map[F.col("__pid")])
        .cast("long")
        .alias(id_col),
        *[c for c in df.columns],
    )
