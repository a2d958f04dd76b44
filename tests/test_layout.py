"""Physical layout: bucketed (hash-clustered) tables join and aggregate
with zero shuffle, dynamic partition pruning and runtime bloom filters
inject and keep results, the semi pre-filter reduces exactly, and the
bucketed-mirror tag stays a valid identifier."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# Bucketed (hash-clustered) tables: co-located joins with zero shuffle
# ---------------------------------------------------------------------------

def _executed_plan(df) -> str:
    df.count()
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_is_shuffle_free_and_identical(spark, tmp_path):
    """Two tables bucketed on the same key with the same bucket count
    join WITHOUT any ShuffleExchange (the write-time clustering is the
    one-time shuffle), and the result is identical to the plain
    shuffled join."""
    from etl_football_analytics_pipeline_spark.sources.bucketed import (
        cobucketed_join,
        write_bucketed,
    )

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, path=str(tmp_path / "bo"))
    write_bucketed(li, "b_lineitem", ["o_orderkey"], 8, path=str(tmp_path / "bl"))
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = cobucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
            plan = _executed_plan(j)
            assert "SortMergeJoin" in plan, plan
            assert "Exchange hashpartitioning" not in plan, plan
            assert "ShuffleExchange" not in plan, plan
            expected = orders.join(li, "o_orderkey")
            assert j.count() == expected.count()
            got = sorted(map(tuple, j.collect()))
            want = sorted(map(tuple, expected.collect()))
            assert got == want
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_agg_skips_exchange(spark, tmp_path):
    """A groupBy on the bucket key aggregates without re-shuffling:
    the bucketed scan already reports hash distribution on the key."""
    from etl_football_analytics_pipeline_spark.sources.bucketed import write_bucketed

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(li, "b_li_agg", ["l_orderkey"], 8, path=str(tmp_path / "bla"))
    try:
        agg = (
            spark.table("b_li_agg")
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = _executed_plan(agg)
        assert "Exchange hashpartitioning" not in plan, plan
        want = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
        assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, want.collect()))
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li_agg")


def test_registered_bucketed_leg_is_exchange_free(spark):
    """The driver-registered 'bucketed' part of j6_star_join_agg
    (plans.relational.bucketed_order_revenue) executes with ZERO
    Exchange operators: bucketed scan → SortMergeJoin → HashAggregate
    on the bucket key, the write-time-shuffle layout the 100 TB story
    rests on. Values are driver-checked against the shuffled oracle;
    this asserts the physical plan is actually the co-located one."""
    from etl_football_analytics_pipeline_spark.plans.relational import (
        bucketed_order_revenue,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_order_revenue(spark, SF)
        plan = _executed_plan(df)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "ShuffleExchange" not in plan, plan
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_registered_dpp_leg_prunes_partitions(spark):
    """The driver-registered 'dpp' part of j6_star_join_agg
    (plans.relational.dpp_priority_revenue): the filtered priority dim
    injects a dynamicpruning subquery into the partitioned fact scan,
    and only the surviving priorities' directories are read."""
    from etl_football_analytics_pipeline_spark.plans.relational import (
        dpp_priority_revenue,
    )

    import re

    df = dpp_priority_revenue(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the dynamicpruning expression must sit INSIDE the fact scan's
    # PartitionFilters clause — that is the position from which Spark
    # evaluates the dim subquery and skips unmatched partition
    # directories; an expression that drifted into a post-scan Filter
    # would still contain the token but not prune
    assert re.search(
        r"PartitionFilters: \[[^\]]*dynamicpruning", plan
    ), plan
    rows = {r.key: r.revenue for r in df.collect()}
    assert set(rows) == {"1-URGENT", "2-HIGH"}


def test_cobucketed_join_rejects_spec_mismatch(spark, tmp_path):
    """Mismatched bucket counts would silently reinstate the shuffle —
    the join helper refuses instead."""
    import pytest

    from etl_football_analytics_pipeline_spark.sources.bucketed import (
        cobucketed_join,
        write_bucketed,
    )

    df = spark.range(100).withColumnRenamed("id", "k")
    write_bucketed(df, "b_m1", ["k"], 4, path=str(tmp_path / "m1"))
    write_bucketed(df, "b_m2", ["k"], 8, path=str(tmp_path / "m2"))
    try:
        with pytest.raises(ValueError, match="bucket-count mismatch"):
            cobucketed_join(spark, "b_m1", "b_m2", ["k"])
    finally:
        spark.sql("DROP TABLE IF EXISTS b_m1")
        spark.sql("DROP TABLE IF EXISTS b_m2")


# ---------------------------------------------------------------------------
# Dynamic partition pruning and runtime bloom-filter join pruning
# ---------------------------------------------------------------------------

def test_dynamic_partition_pruning_injects_and_matches(spark, tmp_path):
    """A date-partitioned fact joined to a selectively-filtered dim
    gets the dim's surviving keys injected into the fact scan's
    partition filters (dynamicpruning expression in the plan) — the
    unmatched partition directories are never opened. Result equals
    the unpartitioned join."""
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    fact_path = str(tmp_path / "fact_by_prio")
    orders.write.partitionBy("o_orderpriority").parquet(fact_path)
    # dim side: exactly one surviving partition key after the filter
    dim = (
        orders.select("o_orderpriority").distinct()
        .filter(F.col("o_orderpriority").startswith("1"))
    )
    fact = spark.read.parquet(fact_path)
    q = fact.join(dim, "o_orderpriority").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    got = {r.o_orderpriority: r.n for r in q.collect()}
    want = {
        r.o_orderpriority: r.n
        for r in orders.join(dim, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) == 1


def test_runtime_bloom_filter_injects_and_matches(spark, tmp_path):
    """When the join key is NOT the partition key, enabling the
    runtime bloom filter pushes might_contain(bloom_filter_agg(dim
    keys)) into the fact scan for a selectively-filtered dim join.
    Thresholds are lowered to make injection observable at test scale
    (at the 100 TB target the production defaults trigger naturally);
    results are identical with and without the filter."""
    from etl_football_analytics_pipeline_spark.operators.prune import (
        enable_runtime_bloom,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = spark.read.parquet(f"{SF}/part.parquet").select("p_partkey", "p_brand")
    li_path, part_path = str(tmp_path / "li"), str(tmp_path / "part")
    li.write.parquet(li_path)
    part.write.parquet(part_path)
    fact = spark.read.parquet(li_path)
    one_brand = part.select("p_brand").first().p_brand
    dim = spark.read.parquet(part_path).filter(F.col("p_brand") == one_brand)

    # restore EVERY touched conf to its prior value — the spark
    # fixture is session-scoped, so leaked optimizer settings would
    # make later tests order-dependent
    touched = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    prev = {c: spark.conf.get(c, None) for c in touched}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    enable_runtime_bloom(spark, application_side_min_bytes=0)
    try:
        q = fact.join(dim, fact.l_partkey == dim.p_partkey)
        op = q._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in op, op
        assert "bloom_filter_agg" in op, op
        n = q.count()
    finally:
        for c, v in prev.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)
    want = li.join(part.filter(F.col("p_brand") == one_brand),
                   li.l_partkey == part.p_partkey).count()
    assert n == want


def test_semi_prefilter_exact_reduction(spark):
    """semi_prefilter reduces the fact side to joining keys only —
    exact (no false positives), rows unchanged, same result as
    filtering after the join."""
    from etl_football_analytics_pipeline_spark.operators.prune import semi_prefilter

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = spark.read.parquet(f"{SF}/part.parquet")
    dim = part.filter(F.col("p_size") <= 5).select("p_partkey")
    red = semi_prefilter(li, dim, [("l_partkey", "p_partkey")])
    assert red.columns == li.columns
    plan = _executed_plan(red)
    assert "LeftSemi" in plan, plan
    assert "Broadcast" in plan, plan
    want = li.join(dim, li.l_partkey == dim.p_partkey, "left_semi")
    assert sorted(map(tuple, red.collect())) == sorted(map(tuple, want.collect()))


def test_mirror_tag_is_an_identifier():
    """Mirror tags name catalog tables, so every character outside
    [A-Za-z0-9_] in the data path maps to `_`."""
    from etl_football_analytics_pipeline_spark.plans.relational import _mirror_tag

    tag = _mirror_tag("/data/sf-0.01 (copy)/v+1", "orders")
    assert tag == "data_sf_0_01__copy__v_1_0"
    assert _mirror_tag("/data/sf0.01/", "orders") == "data_sf0_01_0"


def test_bucketed_mirrors_from_a_dashed_path(spark, tmp_path):
    """j6_star_join_agg's bucketed leg builds its catalog tables from a
    data directory whose path contains `-`."""
    import os

    from etl_football_analytics_pipeline_spark.plans.relational import (
        bucketed_fact_mirrors,
    )

    sf = tmp_path / "sf-0.001"
    sf.mkdir()
    for t in ("orders", "lineitem"):
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", sf / f"{t}.parquet")
    tbl_o, tbl_l = bucketed_fact_mirrors(spark, str(sf))
    assert "-" not in tbl_o + tbl_l
    n_orders = spark.read.parquet(f"{sf}/orders.parquet").count()
    assert spark.table(tbl_o).count() == n_orders
    assert spark.table(tbl_l).count() > 0
