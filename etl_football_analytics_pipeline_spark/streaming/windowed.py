"""Windowed / stateful streaming operators.

Every aggregation here is written against a plain DataFrame, so the
SAME function body serves both engines: applied to `load_table(...)`
it is a batch query (verified against a DuckDB oracle via the plan
registry), applied to `stream_events(...)` it is an incremental
Structured Streaming query (verified end-to-end in
tests/test_streaming.py with `trigger(availableNow=True)`). That
batch/stream plan unification is the Spark-idiomatic replacement for
the reference's hand-rolled incremental batch (`scr/Extract.py:
222-248`).

Scale notes: streaming state (windows, session state, dedup keys) is
partitioned by the grouping key across executors; watermarks bound
state size, so none of these operators accumulate unbounded state at
100 TB/day rates.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.cleaning import exact_scaled_sum, scaled_long
from ..operators.merge import merge_replace
from ..sources.registry import TABLES


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    watermark: str | None = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """`readStream` source over the events parquet.

    The driver ships `events.parquet` as a single file, so the file
    source points at the directory with a glob filter. `readStream`
    needs an explicit schema; to keep batch and stream bit-identical
    the on-disk `ts` type is probed from the parquet footer (the same
    probe sources.registry.load_table uses) and the stream applies the
    identical normalization branch: nanos files read as long +
    ns→µs conversion; µs files read as TIMESTAMP_NTZ and cast to
    TIMESTAMP (value-preserving under the UTC session timezone, and
    required — `withWatermark` rejects TIMESTAMP_NTZ event time).
    Batch and stream therefore see the same canonical `ts: timestamp`.
    """
    from ..sources.registry import _parquet_ts_unit

    path = f"{sf_dir}/events.parquet"
    nanos = _parquet_ts_unit(path, "ts") == "ns"
    if nanos:
        # stays set for the life of the stream — see load_table
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts_type: T.DataType = T.LongType()
    else:
        # declare what is physically on disk (UTC-unadjusted µs →
        # TIMESTAMP_NTZ), normalize after
        ts_type = spark.read.parquet(path).schema["ts"].dataType
    schema = T.StructType(
        [
            T.StructField(f.name, ts_type if f.name == "ts" else f.dataType)
            for f in TABLES["events"].fields
        ]
    )
    reader = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(sf_dir)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window count/sum per event_type — batch & stream.

    `window(ts, w).start` on a tumbling window ≡ `date_trunc` to the
    window width, which is how the DuckDB oracle states it.
    """
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact order-independent sum, double at the output
            # boundary; scaled-long accumulation (bit-identical to the
            # decimal form, streaming-incremental — two long sums per
            # window's state, see functions.cleaning.exact_scaled_sum)
            exact_scaled_sum(scaled_long("value"), 2).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


#: tier → (spark date_trunc unit) in coarsening order; date_trunc
#: semantics agree between Spark and DuckDB for all three (weeks start
#: Monday in both), which is what lets the oracle state the rollup
#: without epoch arithmetic.
ROLLUP_TIERS = ("hour", "day", "week")


def rollup_time(
    events: DataFrame,
    resolutions: tuple[str, ...] = ROLLUP_TIERS,
    ts: str = "ts",
    key: str = "event_type",
    materialize: bool = True,
) -> DataFrame:
    """Multi-resolution tumbling rollup — the hypertable
    continuous-aggregate pattern — in ONE scan of the raw events.

    Output: (resolution, bucket, {key}, n_events, total_value), one row
    per (tier, bucket, key). Only the FINEST tier touches the raw
    table; every coarser tier re-aggregates the previous tier's
    partials (counts and exact decimal sums are associative, so the
    hierarchy is lossless — asserted tier-vs-direct in
    tests/test_interval.py). At 100 TB that is the difference between
    one raw shuffle plus two partial-sized ones and three full raw
    shuffles; it is also exactly how a materialized rollup refreshes
    incrementally (each tier is a valid windowed streaming aggregate
    over the tier below).

    `materialize` persists the finest tier before fanning out —
    required for the one-raw-scan property because Catalyst does NOT
    share a common subtree across union branches (each tier would
    silently recompute from the raw scan; plan-asserted in
    tests/test_interval.py). In production the finest tier is a
    written rollup table; the persist models that here. The cached
    partials are tiny (one row per (finest bucket, key)).

    `resolutions` must be ordered finest → coarsest, each a
    `date_trunc` unit that is a refinement of the next (hour ⊂ day ⊂
    week).
    """
    finest = _finest_partials(events, resolutions[0], ts, key)
    if materialize:
        # eager localCheckpoint, not persist(): checkpoint blocks are
        # real copies the ContextCleaner frees when the frame is
        # garbage-collected, whereas a persist() with no unpersist
        # handle would pin CacheManager storage for the session's
        # lifetime (this function returns only the cascaded view, so
        # the caller CAN'T release a cache entry)
        finest = finest.localCheckpoint(eager=True)
    out = _cascade(finest, resolutions, key)
    return out.select(
        "resolution",
        "bucket",
        key,
        "n_events",
        F.col("__v").cast("double").alias("total_value"),
    )


def _finest_partials(events: DataFrame, resolution: str, ts: str, key: str) -> DataFrame:
    """Hourly-tier partials: (bucket, key, n_events, __v) — `__v` is
    the exact decimal sum kept INTERNAL so coarser tiers re-aggregate
    losslessly; the double cast happens only at the public output
    boundary. `__v` is NULL where the cell holds no non-null value
    (SQL SUM over nothing), and stays so up the tiers."""
    return events.groupBy(F.date_trunc(resolution, F.col(ts)).alias("bucket"), key).agg(
        F.count(F.lit(1)).alias("n_events"),
        # exact order-independent partial (see tumbling_agg)
        exact_scaled_sum(scaled_long("value"), 2).alias("__v"),
    )


def _cascade(finest: DataFrame, resolutions: tuple[str, ...], key: str) -> DataFrame:
    """Re-aggregate the finest-tier partials up the resolution ladder
    and union all tiers as (resolution, bucket, key, n_events, __v)."""
    tiers = [finest]
    for res in resolutions[1:]:
        tiers.append(
            tiers[-1]
            .groupBy(F.date_trunc(res, F.col("bucket")).alias("bucket"), key)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("__v").cast("decimal(18,2)").alias("__v"),
            )
        )
    out = None
    for res, tier in zip(resolutions, tiers):
        leg = tier.select(
            F.lit(res).alias("resolution"),
            "bucket",
            key,
            F.col("n_events").cast("long").alias("n_events"),
            "__v",
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def gapfill_time(
    buckets: DataFrame,
    time_col: str,
    keys: Sequence[str],
    step: str = "1 hour",
    zero_fill: Sequence[str] = (),
    locf_fill: Sequence[str] = (),
    interp_fill: Sequence[str] = (),
    bounds: tuple[str, str] | None = None,
) -> DataFrame:
    """Dense time-grid gap filling over a bucketed frame — the
    hypertable `time_bucket_gapfill` operator. Every key gets one row
    per `step` across [lo, hi]; buckets absent from the input are
    synthesized and filled per column policy:

    - `zero_fill`: missing → typed 0 (counts/sums of nothing);
    - `locf_fill`: missing → last observed value for the key
      (last-observation-carried-forward; leading gaps stay NULL);
    - `interp_fill`: interior gaps → linear interpolation between the
      neighboring observations (cast to double); leading/trailing
      gaps stay NULL. Because the grid is REGULAR, linear-in-time ≡
      linear-in-row-index, so the weights are pure long arithmetic —
      no timestamp subtraction (which would tangle with
      TIMESTAMP_NTZ interval semantics).

    `bounds` pins [lo, hi] explicitly ('YYYY-MM-DD HH:MM:SS'
    strings); default derives the GLOBAL min/max bucket with one
    scalar aggregate that stays in-plan (1-row frame broadcast-cross-
    joined into the grid — no driver collect).

    100 TB shape: the key list is a distinct on the (already
    aggregated) bucket frame, the grid is a per-key-row `sequence`
    explode (rows ∝ keys × grid length, never corpus-sized driver
    state), the left join hash-partitions on (keys, time), and every
    fill is a key-partitioned window — Catalyst computes all fills
    off ONE sort per key partition. Grid length is the caller's
    lever: a year of hours is 8.8k rows per key.
    """
    from pyspark.sql import Window

    keys = list(keys)
    if bounds is not None:
        bounds_df = buckets.sparkSession.range(1).select(
            F.lit(bounds[0]).cast(buckets.schema[time_col].dataType).alias("__lo"),
            F.lit(bounds[1]).cast(buckets.schema[time_col].dataType).alias("__hi"),
        )
    else:
        bounds_df = buckets.agg(
            F.min(time_col).alias("__lo"), F.max(time_col).alias("__hi")
        )
    grid = (
        buckets.select(*keys)
        .distinct()
        .crossJoin(F.broadcast(bounds_df))
        .select(
            *keys,
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"interval {step}"))
            ).alias(time_col),
        )
    )
    out = grid.join(buckets, keys + [time_col], "left")
    w = Window.partitionBy(*keys).orderBy(time_col)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    for c in zero_fill:
        out = out.withColumn(
            c, F.coalesce(F.col(c), F.lit(0).cast(out.schema[c].dataType))
        )
    for c in locf_fill:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(cum))
    if interp_fill:
        out = out.withColumn("__rn", F.row_number().over(w))
        prevw = w.rowsBetween(Window.unboundedPreceding, -1)
        nextw = w.rowsBetween(1, Window.unboundedFollowing)
        for c in interp_fill:
            val = F.col(c).cast("double")
            pv = F.last(val, ignorenulls=True).over(prevw)
            pr = F.last(
                F.when(val.isNotNull(), F.col("__rn")), ignorenulls=True
            ).over(prevw)
            nv = F.first(val, ignorenulls=True).over(nextw)
            nr = F.first(
                F.when(val.isNotNull(), F.col("__rn")), ignorenulls=True
            ).over(nextw)
            frac = (F.col("__rn") - pr).cast("double") / (nr - pr).cast("double")
            out = out.withColumn(c, F.coalesce(val, pv + (nv - pv) * frac))
        out = out.drop("__rn")
    return out


def sliding_agg(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window (hopping) count per event_type — each event lands
    in width/slide windows; Spark enumerates them, state is bounded by
    the watermark."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based session windows per user via the native
    `session_window` operator (the streaming-capable form of the
    lag/running-sum sessionization in plans.analytics._sessionize_lag_form).
    Session end = last event + gap, per Spark's definition — the oracle
    states `max(ts) + INTERVAL gap`."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_scaled_sum(scaled_long("value"), 2)
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def dedup_within_watermark(events: DataFrame, keys: Sequence[str] = ("event_id",)) -> DataFrame:
    """Keyed dedup over a stream: `dropDuplicatesWithinWatermark` on a
    streaming frame (keyed state, bounded by the event-time watermark),
    plain `dropDuplicates` in batch. The streaming form of the
    reference's raw-layer key dedup (`scr/Extract.py:285-299`).

    Contract caveat — this operator is deliberately WEAKER than the
    module's batch≡stream rule, because bounded state forces it: a
    duplicate arriving after the key's state was evicted (later than
    the watermark delay past the first occurrence) is emitted AGAIN in
    streaming, while the batch form dedups globally; and when
    duplicate rows differ in payload, batch keeps an arbitrary
    survivor while streaming keeps first-arrival. Size the watermark
    delay to the real duplicate horizon, or use merge_sink (keyed
    MERGE into a target) when the target itself must stay key-unique
    across the whole history."""
    if events.isStreaming:
        return events.dropDuplicatesWithinWatermark(list(keys))
    return events.dropDuplicates(list(keys))


def merge_sink(
    target_path: str,
    keys: Sequence[str],
    checkpoint_dir: str,
    spark: SparkSession | None = None,
    order_col: str | None = None,
    use_manifest: bool = False,
) -> Callable[[DataFrame, int], None]:
    """`foreachBatch` sink: keyed MERGE (new-wins) of each micro-batch
    into a parquet target — the reference's incremental upsert
    (`scr/Extract.py:262-303`) as a streaming sink. Replays of a batch
    after a failure re-merge the same keys, so the sink is idempotent
    (effectively exactly-once by key).

    Intra-batch duplicates (two updates of one entity in a single
    trigger) keep ONE survivor per key, because merge_replace passes
    duplicate source keys through by contract and the target must stay
    key-unique. WHICH survivor:

    - ``order_col`` given (an event-time / sequence column): the row
      with the HIGHEST value wins — "keep latest", what a multi-update
      trigger almost always means; NULL order values lose to any real
      one, and remaining orderable columns break exact ties
      deterministically.
    - ``order_col`` omitted: the lowest row by the ORDERABLE non-key
      columns' sort order (the insert_if_absent rule). LOUD CAVEAT
      (ADVICE r7): this is a stable arbitrary choice, not recency — a
      trigger carrying two updates of a key can deterministically keep
      the OLDER payload. Pass ``order_col`` whenever batches may carry
      multi-update keys.
    Unorderable columns (maps, or containers of maps) are excluded
    from the tiebreak rather than crashing the sort; a batch with NO
    orderable non-key columns falls back to an arbitrary single row
    per key.

    `checkpoint_dir` is the writer's checkpointLocation, accepted here
    so the call site reads as one unit; the sink's exactly-once comes
    from the idempotent re-merge, not from batch-id gating.

    ``use_manifest=True`` (r8) commits each batch through the
    manifest-pointer protocol (`operators.tombstones.replace_dir`)
    instead of the directory rename-swap: no renames anywhere, so the
    per-batch commit is atomic on object stores, where the rename-swap
    is a full-table COPY per micro-batch. The trade: consumers must
    read the target through `manifest.read_relation` (a plain
    `read.parquet(target)` sees no data once converted), which is why
    the rename-swap stays the default for existing local/HDFS sinks.

    Usage:
        q = (stream.writeStream.foreachBatch(merge_sink(path, keys, ckpt))
             .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    """
    keys = list(keys)
    if order_col is not None and order_col in keys:
        # constant within each key partition — the "keep latest" intent
        # is unsatisfiable and the survivor would be the arbitrary
        # tiebreak pick; refuse at sink construction (ADVICE r8)
        raise ValueError(
            f"merge_sink order_col {order_col!r} is a key column — it "
            "cannot order rows WITHIN a key; pass an event-time / "
            "sequence column instead"
        )

    def apply(batch: DataFrame, batch_id: int) -> None:
        s = spark or batch.sparkSession
        from pyspark.sql import Window

        from ..utils import (
            _hadoop_fs,
            commit_staged_dir,
            orderable_columns,
            recover_swapped_dir,
        )

        extra = [c for c in batch.columns if c not in keys]
        orderable = orderable_columns(batch, extra)
        if order_col is not None:
            if order_col not in batch.columns:
                raise ValueError(
                    f"merge_sink order_col {order_col!r} is not a batch "
                    f"column; have {batch.columns}"
                )
            ordering = [F.desc_nulls_last(order_col)] + [
                F.asc(c) for c in orderable if c != order_col
            ]
        else:
            ordering = [F.asc(c) for c in orderable]
        if ordering:
            w = Window.partitionBy(*keys).orderBy(*ordering)
            batch = (
                batch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            batch = batch.dropDuplicates(keys)
        recover_swapped_dir(target_path, s)
        # existence through the Hadoop FS (os.path.isdir is
        # always-false for an HDFS/S3 target — the swap would then
        # retire and DELETE the live table, keeping the batch alone)
        fs, hp = _hadoop_fs(target_path, s)
        if use_manifest:
            # manifest mode: resolve the live tree, merge against it,
            # commit the result as the next version — one zero-byte
            # marker create, object-store-atomic (see docstring)
            from ..manifest import resolved_dir
            from ..operators.tombstones import replace_dir

            root = resolved_dir(s, target_path)
            root_p = hp(root)
            exists = fs.exists(root_p) and any(
                not st.getPath().getName().startswith((".", "_"))
                for st in fs.listStatus(root_p)
            )
            merged = (
                merge_replace(s.read.parquet(root), batch, keys)
                if exists
                else batch
            )
            replace_dir(s, target_path, lambda p: merged.write.parquet(p))
            return
        # protocol guard (ADVICE r8): a target previously committed
        # through the manifest layout keeps its data under _-prefixed
        # children only — the rename-swap branch below would fail every
        # batch with Spark's opaque "Unable to infer schema", and a
        # batch that DID land would write root files the manifest
        # resolver never sees. Mirror versioned.py's protocol guard.
        if fs.exists(hp(f"{target_path.rstrip('/')}/{'_manifests'}")):
            raise IOError(
                f"merge_sink target {target_path!r} was committed "
                "through the manifest layout (_manifests/ exists) but "
                "the sink was built with use_manifest=False — pass "
                "use_manifest=True (readers use manifest.read_relation)"
            )
        if fs.exists(hp(target_path)):
            old = s.read.parquet(target_path)
            merged = merge_replace(old, batch, keys)
        else:
            merged = batch
        # stage the full merge to a sibling directory, then SWAP via
        # directory renames: the window where the target path does not
        # hold a complete consistent table shrinks to two rename()
        # calls, and a crash inside that window is recovered losslessly
        # by recover_swapped_dir on the next batch/restart (the
        # manifest mode above removes even that window; a table format
        # (Delta/Iceberg) slots in behind this same signature too —
        # documented SURVEY.md §7)
        tmp = target_path + ".__stage"
        merged.write.mode("overwrite").parquet(tmp)
        commit_staged_dir(target_path, tmp, s)
        s.catalog.refreshByPath(target_path)

    return apply

