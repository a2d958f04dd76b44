"""Relational operator inventory as named queries (SURVEY.md §2.1-2.9).

Each query re-expresses one reference operator (cited per-function as
`scr/<file>:<lines>`) against the driver's TPC-H-ish synthetic tables,
as an idiomatic Catalyst-optimizable DataFrame plan, with a DuckDB
oracle proving value-level equivalence.

Scale notes that apply across the module:
- dimension lookups broadcast explicitly (`F.broadcast`) — at 100 TB the
  fact side never shuffles for these joins;
- aggregates over double columns are computed in DECIMAL (exact,
  order-independent → identical under any partitioning; see
  `functions.cleaning.dec`);
- every top-k carries a unique tiebreak column, so `TakeOrderedAndProject`
  is deterministic across engines and runs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import (
    dec,
    div0,
    encode_season,
    exact_scaled_sum,
    exact_scaled_sum_sql,
    normalize_str,
    scaled_long,
    scaled_long_sql,
    strip_tokens,
)
from ..operators.sketches import (
    CMS_D,
    CMS_W,
    misra_gries_point_from_summary,
    misra_gries_topk,
    phll_constants,
    portable_cms,
    portable_cms_point,
    portable_hll_distinct,
)

# literal point-query values for the sketch suite's portable-CMS part
# (l_suppkey % 100 domain — present at every SF); shared verbatim by
# the Spark leg and the oracle SQL
CMS_QUERIES = ["0", "7", "13", "42", "99"]
_CMS_QUERY_VALUES = ", ".join(f"('{q}')" for q in CMS_QUERIES)
_CMS_QUERY_IN = ", ".join(f"'{q}'" for q in CMS_QUERIES)
# Misra-Gries point queries over the l_quantity domain (integral 1..50
# doubles in the synthetic TPC-H-ish data — both engines' int cast is
# exact). Literal so the oracle mirrors them.
MG_QUERIES = ["1", "10", "25", "38", "50"]
_MG_QUERY_VALUES = ", ".join(f"('{q}')" for q in MG_QUERIES)
from ..sources.bucketed import write_bucketed
from ..sources.registry import load_table
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Scans / projections / filters (S1, P1-P7, F1-F6)
# ---------------------------------------------------------------------------


@query(
    "s1_scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_quantity < 10 AND l_shipdate >= TIMESTAMP '1995-01-01'
    """,
)
def s1_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + P1 + F5 + D1 — scan with filter/projection pushdown.

    Reference: `pd.read_csv` full-file parse then subset
    (`scr/Transform.py:74-77,84`). Here the filter and the 4-column
    projection reach the parquet reader (PushedFilters / ReadSchema in
    the physical plan) — at 100 TB this is the difference between
    reading 4 columns of a row-group subset and reading everything.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") < 10) & (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.col("l_shipdate").cast("date").alias("ship_date"),
        )
    )


@query(
    "p_projection_suite",
    oracle="""
    SELECT p_partkey AS part_id,
           p_name    AS part_name,
           CAST(CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS discounted_price,
           CAST(NULL AS BIGINT) AS placeholder
    FROM part
    WHERE p_size > 40
    """,
)
def p_projection_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P5/P6/P7 — subset projection, bulk rename, derived column,
    constant (NULL) column, dropped columns.

    Reference: final fact/dim projections + renames
    (`scr/Transform.py:84-85,125,165-173`), derived columns
    (`scr/ui.py:190,620`), constant `df['born'] = pd.NA`
    (`scr/Transform.py:104`), drops (`scr/Transform.py:446,649`).

    Output-boundary convention (applies to every money column in the
    registry): the arithmetic runs in DECIMAL (exact, order-
    independent), the FINAL column is cast to DOUBLE on both engines —
    decimal→double is correctly rounded in both Spark and DuckDB, so
    the doubles are bit-identical, while engine-native decimal values
    canonicalize differently under the driver's value hasher.
    """
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_size") > 40)
        .select(
            F.col("p_partkey").alias("part_id"),
            F.col("p_name").alias("part_name"),
            (dec("p_retailprice", 18, 2) * F.lit(0.9).cast("decimal(2,1)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("discounted_price"),
            F.lit(None).cast("long").alias("placeholder"),
        )
    )


@query(
    "f_filter_suite",
    oracle="""
    SELECT 'f1' AS part, event_id AS id, CAST(user_id AS VARCHAR) AS s1, event_type AS s2
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
    UNION ALL
    SELECT 'f2' AS part, doc_id AS id, lang AS s1, source AS s2
    FROM documents
    WHERE NOT (lang = 'lang' AND source = 'source')
    UNION ALL
    SELECT 'f4' AS part, c_custkey AS id, c_name AS s1, CAST(NULL AS VARCHAR) AS s2
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def f_filter_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F4 filter family as one driver-checkable suite (the driver
    samples at most ~50 registry entries, so the filter operators share
    one canonicalized union; each part is still its own Catalyst plan).

    - f1: F1/F3 multi-column not-null key filter (`dropna(subset=...)`,
      `scr/Transform.py:113,320,333`; arity filter `:286`);
    - f2: F2 embedded-header-row filter — drop rows whose values equal
      the column names (`scr/Transform.py:143-144,288-290,527-529`);
      the synthetic tables contain no such rows, the predicate shape is
      what's under test;
    - f4: F4 key-membership anti-filter (`~isin`,
      `scr/Extract.py:285-289`) as a left_anti join — Spark's native
      EXCEPT-by-key, a shuffled anti-join at scale.
    """
    ev = _t(spark, sf_dir, "events")
    f1 = (
        ev.na.drop(subset=["user_id", "event_type", "value"])
        .select(
            F.lit("f1").alias("part"),
            F.col("event_id").alias("id"),
            F.col("user_id").cast("string").alias("s1"),
            F.col("event_type").alias("s2"),
        )
    )
    docs = _t(spark, sf_dir, "documents")
    f2 = docs.filter(
        ~((F.col("lang") == F.lit("lang")) & (F.col("source") == F.lit("source")))
    ).select(
        F.lit("f2").alias("part"),
        F.col("doc_id").alias("id"),
        F.col("lang").alias("s1"),
        F.col("source").alias("s2"),
    )
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    f4 = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        F.lit("f4").alias("part"),
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
    )
    return f1.unionByName(f2).unionByName(f4)


# ---------------------------------------------------------------------------
# Joins (J1-J8)
# ---------------------------------------------------------------------------


@query(
    "j2_dim_lookup_left_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, s_name, s_nationkey
    FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
    WHERE l_quantity >= 49
    """,
)
def j2_dim_lookup_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2/J4/J5 — left equi-join dimension-key lookup
    (`scr/Transform.py:449-453,466-470,664-668`). The dim side is
    broadcast: no shuffle of the fact table, which is the only plan
    shape that survives a 100 TB fact side."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    sup = _t(spark, sf_dir, "supplier")
    return li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey, "left").select(
        "l_orderkey", "l_linenumber", "s_name", "s_nationkey"
    )


@query(
    "j3_self_join_two_roles",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           COUNT(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    GROUP BY cn.n_name, sn.n_name
    """,
)
def j3_self_join_two_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — the same dimension joined twice in two roles (reference:
    dim_team as team + opponent, `scr/Transform.py:456-463`,
    `scr/ui.py:284-285`). Spark expresses role separation with aliased
    plans; both nation joins broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    cn = nat.alias("cn")
    sn = nat.alias("sn")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(sn), sup.s_nationkey == F.col("sn.n_nationkey"))
        .groupBy(
            F.col("cn.n_name").alias("cust_nation"),
            F.col("sn.n_name").alias("supp_nation"),
        )
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
    )


def _mirror_tag(sf_dir: str, *tables: str) -> str:
    """Cache tag from the sf_dir plus EVERY participating source's
    mtime — regenerating any one source invalidates the mirror (a tag
    keyed on a single table would silently serve stale rows for the
    others). Every character outside `[A-Za-z0-9_]` maps to `_`: the
    tag names catalog tables, where e.g. a `-` in the data path is an
    INVALID_IDENTIFIER."""
    mtimes = "_".join(
        str(int(os.stat(p).st_mtime)) if os.path.exists(p) else "0"
        for t in tables
        for p in [os.path.join(sf_dir, f"{t}.parquet")]
    )
    return re.sub(r"[^A-Za-z0-9_]", "_", f"{sf_dir.strip('/')}_{mtimes}")


# e4-scaled revenue expression shared by the star/bucketed/bloom legs
# (SQL twin of scaled_long(price) * (100 - scaled_long(discount)))
_REVENUE_E4_SQL = (
    f"{scaled_long_sql('l_extendedprice')} * (100 - {scaled_long_sql('l_discount')})"
)


def bucketed_fact_mirrors(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(orders_table, lineitem_table): bucketed catalog mirrors of the
    two fact tables, hash-clustered into 8 buckets on the order key
    (sources.bucketed.write_bucketed — sorted buckets, so the
    co-located SortMergeJoin skips both its Exchanges AND its sorts).
    Built once per (sf_dir, source mtimes — BOTH facts participate in
    the tag, so regenerating either invalidates) into the per-user
    0700 tmp cache (sources.registry.user_cache_dir, ownership-
    verified root) — the pay-the-shuffle-at-write-time layout that at
    100 TB turns every orders⋈lineitem into a local merge.
    Column-pruned to the join/aggregate columns (a mirror is a
    layout, not a second copy of the warehouse)."""
    from ..sources.registry import user_cache_dir

    tag = _mirror_tag(sf_dir, "orders", "lineitem")
    root = user_cache_dir("bucketed", tag)
    tbl_o, tbl_l = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    if not spark.catalog.tableExists(tbl_o):
        write_bucketed(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            tbl_o, ["o_orderkey"], 8, path=os.path.join(root, "orders"),
        )
    if not spark.catalog.tableExists(tbl_l):
        write_bucketed(
            _t(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            tbl_l, ["l_orderkey"], 8, path=os.path.join(root, "lineitem"),
        )
    return tbl_o, tbl_l


def dpp_mirrors(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(fact_path, dim_path): a directory-partitioned mirror of orders
    (partitionBy(o_orderpriority) — each priority its own directory,
    the layout dynamic partition pruning prunes) plus a tiny priority
    dim (priority, pri_rank) whose rank column is MATERIALIZED, not
    derivable from the key — so a rank filter cannot be constant-
    folded into a static partition filter and Catalyst must inject the
    surviving keys at RUNTIME (`dynamicpruning#` subquery in the fact
    scan's PartitionFilters). Built once per (sf_dir, mtime) into the
    per-user 0700 tmp cache; cross-session reuse is gated on
    OWNERSHIP, not bare existence (sources.registry.owned_ready)."""
    from ..sources.registry import owned_ready, user_cache_dir

    root = user_cache_dir("dpp", _mirror_tag(sf_dir, "orders"))
    fact_path = os.path.join(root, "orders_by_priority")
    dim_path = os.path.join(root, "priority_dim")
    if not owned_ready(fact_path):
        _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.mode("overwrite").partitionBy("o_orderpriority").parquet(fact_path)
    if not owned_ready(dim_path):
        _t(spark, sf_dir, "orders").select("o_orderpriority").distinct().select(
            "o_orderpriority",
            F.substring("o_orderpriority", 1, 1).cast("int").alias("pri_rank"),
        ).coalesce(1).write.mode("overwrite").parquet(dim_path)
    return fact_path, dim_path


def dpp_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order revenue where the fact scan reads ONLY the
    partitions the filtered dim survives: dim filter pri_rank <= 2
    keeps two of five priorities, and dynamic partition pruning
    injects those keys into the partitioned fact scan at runtime —
    3/5 of the fact's directories are never opened (plan-asserted in
    tests/test_layout.py). Values match a plain filtered aggregate,
    which is exactly what the oracle computes."""
    from ..sources.registry import read_parquet_memo

    fact_path, dim_path = dpp_mirrors(spark, sf_dir)
    fact = read_parquet_memo(spark, fact_path)
    dim = read_parquet_memo(spark, dim_path).where("pri_rank <= 2")
    return (
        fact.join(F.broadcast(dim.select("o_orderpriority")), "o_orderpriority")
        .groupBy(F.col("o_orderpriority").alias("key"))
        .agg(
            F.expr(
                "CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
                "AS DECIMAL(18,2)) AS DOUBLE)"
            ).alias("revenue")
        )
    )


def bloom_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue where the fact scan is pruned by a RUNTIME
    BLOOM FILTER — the "don't scan it" lever for joins whose key is
    NOT the partition key (DPP can't help: lineitem has no brand
    directories). Catalyst builds bloom_filter_agg over the filtered
    dim's join keys and pushes might_contain(l_partkey) into the fact
    scan, dropping non-joining rows at the scan instead of carrying
    them through the join shuffle. Injection is ASSERTED here (the
    leg raises if the plan lost it), then the leg executes under the
    pinned confs via an eager localCheckpoint before they are
    restored — lazy execution after restore would silently lose the
    filter.

    Conf pinning mirrors tests/test_layout.py: the application-side
    threshold (10 GB default) exists so small scans don't pay bloom
    overhead, so it must be lowered to make injection observable at
    test scale — at the 100 TB target the production defaults trigger
    naturally and none of this pinning is needed. autoBroadcast is
    disabled because the bloom pays when the join is shuffled (a
    broadcast join already prunes at the probe side). Values match
    the plain filtered join-aggregate, which is exactly what the
    oracle computes."""
    from ..operators.prune import enable_runtime_bloom

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    dim = (
        _t(spark, sf_dir, "part")
        .select("p_partkey", "p_brand")
        .filter(F.col("p_brand").isin("Brand#12", "Brand#23"))
        # hash-build on the filtered dim instead of sorting both sides
        # (bloom injection is unaffected — measured ~2× on this leg)
        .hint("shuffle_hash")
    )
    touched = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    prev = {c: spark.conf.get(c, None) for c in touched}
    # the conf flips live INSIDE the try: a failure anywhere after the
    # first set (even in the second set) must still restore the session
    # — a leaked autoBroadcastJoinThreshold=-1 would silently slow
    # every later broadcast-eligible join in the session
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        enable_runtime_bloom(spark, application_side_min_bytes=0)
        q = (
            li.join(dim, li.l_partkey == dim.p_partkey)
            .groupBy(F.col("p_brand").alias("key"))
            .agg(
                F.expr(
                    f"CAST({exact_scaled_sum_sql(_REVENUE_E4_SQL, 4)} AS DOUBLE)"
                ).alias("revenue")
            )
        )
        op = q._jdf.queryExecution().optimizedPlan().toString()
        if "might_contain" not in op or "bloom_filter_agg" not in op:
            raise AssertionError(
                "runtime bloom filter was not injected into the fact scan:\n" + op
            )
        out = q.localCheckpoint(eager=True)
    finally:
        for c, v in prev.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)
    return out


def bucketed_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Exchange-FREE form of the fact⋈fact revenue rollup: both
    facts read from co-bucketed mirrors (same bucket count, same key),
    joined and aggregated ON the bucket key — Catalyst plans scan →
    SortMergeJoin → HashAggregate with ZERO ShuffleExchange operators
    end to end (asserted in tests/test_layout.py). The o_orderkey
    residue filter prunes rows without disturbing bucketing."""
    tbl_o, tbl_l = bucketed_fact_mirrors(spark, sf_dir)
    orders = spark.table(tbl_o).where("o_orderkey % 97 = 0")
    li = spark.table(tbl_l)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.expr(
                f"CAST({exact_scaled_sum_sql(_REVENUE_E4_SQL, 4)} AS DOUBLE)"
            ).alias("revenue")
        )
        .selectExpr("CAST(o_orderkey AS STRING) AS key", "revenue")
    )


@query(
    "j6_star_join_agg",
    oracle="""
    SELECT 'star' AS part, r_name AS key,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    UNION ALL
    SELECT 'bucketed' AS part, CAST(o_orderkey AS VARCHAR) AS key,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderkey % 97 = 0
    GROUP BY o_orderkey
    UNION ALL
    SELECT 'dpp' AS part, o_orderpriority AS key,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders
    WHERE o_orderpriority IN (
      SELECT o_orderpriority FROM (
        SELECT DISTINCT o_orderpriority,
               CAST(substring(o_orderpriority, 1, 1) AS INT) AS r
        FROM orders
      ) WHERE r <= 2
    )
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'bloom' AS part, p_brand AS key,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand IN ('Brand#12', 'Brand#23')
    GROUP BY p_brand
    """,
)
def j6_star_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — large-join + aggregate suite, two physical strategies:

    - part='star': multi-way star join (the dashboard's fact ⋈ dims
      pattern, `scr/ui.py:66-67,85-87,283-287`). lineitem⋈orders is
      the only large-large join (sort-merge / shuffled-hash at
      scale); the dims broadcast so the star adds no further
      shuffles;
    - part='bucketed': the SAME fact⋈fact join read from co-bucketed
      mirrors (bucketed_order_revenue) — per-order revenue with ZERO
      Exchange operators in the executed plan (the 100 TB layout
      lever: the co-location shuffle was paid once, at write time).
      Value-matched here against the oracle's shuffled computation,
      Exchange-freeness plan-asserted in tests/test_layout.py;
    - part='dpp': DYNAMIC partition pruning (dpp_priority_revenue) —
      a directory-partitioned orders mirror joined to a filtered
      priority dim whose filter column is materialized (not
      derivable from the key), so Catalyst must inject the surviving
      partition keys at runtime and 3/5 of the fact's directories are
      never opened (`dynamicpruning#` PartitionFilter, plan-asserted
      in tests/test_layout.py). The oracle computes the plain
      filtered aggregate;
    - part='bloom': RUNTIME BLOOM-FILTER join pruning
      (bloom_brand_revenue) — the join key (l_partkey) is NOT a
      partition key, so DPP cannot prune; instead Catalyst pushes
      might_contain(bloom_filter_agg(filtered dim keys)) into the
      fact scan. The injection is asserted INSIDE the leg (it raises
      if the plan lost it) and the leg executes eagerly under the
      pinned thresholds; the oracle computes the plain filtered
      join-aggregate.

    Revenue is accumulated via `exact_scaled_sum` (price and discount
    as e2 scaled longs, their product an e4 long): bit-identical to
    the decimal sum but the fact-table hot path stays long-typed in
    codegen — the decimal product's precision-38 agg buffer measured
    ~1.7× slower on exactly this plan."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    star = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("key"))
        .agg(
            F.expr(
                f"CAST({exact_scaled_sum_sql(_REVENUE_E4_SQL, 4)} AS DOUBLE)"
            ).alias("revenue")
        )
        .selectExpr("'star' AS part", "key", "revenue")
    )
    bucketed = bucketed_order_revenue(spark, sf_dir).selectExpr(
        "'bucketed' AS part", "key", "revenue"
    )
    dpp = dpp_priority_revenue(spark, sf_dir).selectExpr(
        "'dpp' AS part", "key", "revenue"
    )
    bloom = bloom_brand_revenue(spark, sf_dir).selectExpr(
        "'bloom' AS part", "key", "revenue"
    )
    return star.unionByName(bucketed).unionByName(dpp).unionByName(bloom)


@query(
    "j7_post_agg_join",
    oracle="""
    WITH ord AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total_spend
      FROM orders GROUP BY o_custkey
    ), bal AS (
      SELECT c_custkey, c_name, CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
      FROM customer
    )
    SELECT c_custkey, c_name, acctbal, n_orders, CAST(total_spend AS DOUBLE) AS total_spend
    FROM bal JOIN ord ON c_custkey = o_custkey
    WHERE n_orders >= 8
    """,
)
def j7_post_agg_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — join of two independently aggregated/derived inputs
    (offensive ⋈ defensive stats, `scr/ui.py:675-678`)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    ord_agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("decimal(18,2)").cast("double").alias("total_spend"),
    )
    bal = cust.select("c_custkey", "c_name", dec("c_acctbal").cast("double").alias("acctbal"))
    return (
        bal.join(ord_agg, bal.c_custkey == ord_agg.o_custkey)
        .filter(F.col("n_orders") >= 8)
        .select("c_custkey", "c_name", "acctbal", "n_orders", "total_spend")
    )


@query(
    "j8_a11_fk_audit",
    oracle="""
    WITH big_parts AS (SELECT p_partkey, p_brand FROM part WHERE p_size > 25)
    SELECT 'j8' AS part, p_brand AS label,
           COUNT(*) AS n1, CAST(NULL AS BIGINT) AS n2, CAST(NULL AS BIGINT) AS n3
    FROM lineitem JOIN big_parts ON l_partkey = p_partkey
    GROUP BY p_brand
    UNION ALL
    SELECT 'a11' AS part, 'audit' AS label,
           COUNT(*) AS n1,
           COUNT(p_partkey) AS n2,
           COUNT(*) - COUNT(p_partkey) AS n3
    FROM lineitem LEFT JOIN (SELECT p_partkey FROM big_parts) ON l_partkey = p_partkey
    """,
)
def j8_a11_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 + A11 — FK validation join plus the reference's
    inserted/skipped/total audit counts, as one suite.

    - j8: FK validation as left-join + null-filter → per-brand matched
      counts (`scr/Transform.py:634-645,671-683`);
    - a11: the total/matched/dropped audit
      (`scr/Load.py:291-302,351-363,443-455`) as ONE aggregate over the
      validation join instead of three separate count() actions.
    """
    li = _t(spark, sf_dir, "lineitem")
    parts = _t(spark, sf_dir, "part").filter(F.col("p_size") > 25).select("p_partkey", "p_brand")
    joined = li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey, "left")
    j8 = (
        joined.filter(F.col("p_partkey").isNotNull())
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n1"))
        .select(
            F.lit("j8").alias("part"),
            F.col("p_brand").alias("label"),
            "n1",
            F.lit(None).cast("long").alias("n2"),
            F.lit(None).cast("long").alias("n3"),
        )
    )
    a11 = joined.agg(
        F.count(F.lit(1)).alias("n1"),
        F.count("p_partkey").alias("n2"),
        (F.count(F.lit(1)) - F.count("p_partkey")).alias("n3"),
    ).select(F.lit("a11").alias("part"), F.lit("audit").alias("label"), "n1", "n2", "n3")
    return j8.unionByName(a11)


# ---------------------------------------------------------------------------
# Aggregations (A1-A11)
# ---------------------------------------------------------------------------


@query(
    "a1_grouped_sum_topk",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    GROUP BY c_custkey, c_name
    HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) > 0
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 10
    """,
)
def a1_grouped_sum_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + A6 + T1 + J6 — the flagship "top scorers" shape: grouped SUM
    over a star join, HAVING, ORDER BY DESC, LIMIT (`scr/ui.py:78-92`).
    Spark plans this as partial+final hash agg then
    TakeOrderedAndProject — no global sort is materialized. The
    c_custkey tiebreak makes top-k deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # scaled-long accumulation (see exact_scaled_sum): bit-identical to
    # the decimal sum, but the per-row path stays long-typed in codegen
    revenue_e4 = scaled_long("l_extendedprice") * (F.lit(100) - scaled_long("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(exact_scaled_sum(revenue_e4, 4).cast("double").alias("revenue"))
        .filter(F.col("revenue") > 0)
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
           CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 + A8 + N4 — multi-aggregate grouped summary (TPC-H Q1 shape;
    reference analog: grouped multi-SUM `scr/ui.py:178-188`, means
    `scr/ui.py:697-698`). Decimal sums are exact under any partitioning;
    the avg divides two exact values in double and rounds, so both
    engines agree."""
    li = _t(spark, sf_dir, "lineitem")
    # all three money sums accumulate as scaled longs (exact_scaled_sum)
    # — exact and order-independent like the decimal forms they state,
    # without the per-row decimal agg buffers
    disc_e4 = scaled_long("l_extendedprice") * (F.lit(100) - scaled_long("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_scaled_sum(scaled_long("l_quantity"), 2).cast("double").alias("sum_qty"),
            exact_scaled_sum(scaled_long("l_extendedprice"), 2)
            .cast("double")
            .alias("sum_base_price"),
            exact_scaled_sum(disc_e4, 4).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn(
            "avg_qty",
            F.round(F.col("sum_qty") / F.col("count_order"), 2),
        )
    )


@query(
    "a3_a8_global_aggs",
    oracle="""
    SELECT * FROM (
      SELECT COALESCE(COUNT(DISTINCT o_orderkey), 0) AS n_orders,
             CAST(CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
      FROM orders
      WHERE o_orderstatus = 'Z'
    ) CROSS JOIN (
      SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS mean_price,
             ROUND(CAST(SUM(CAST(c_acctbal   AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS mean_acctbal
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) CROSS JOIN (
      SELECT ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
             ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
      FROM orders
    )
    """,
)
def a3_a8_global_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 + N6 + A8 — global (no GROUP BY) aggregates, one suite row.

    - a3: COALESCE defaults over an empty-match predicate
      (`scr/ui.py:120-127`);
    - a8: global means over a join (`attack_defense[...].mean()`,
      `scr/ui.py:697-698`), stated as exact decimal SUM / COUNT with
      one double division on both engines (engine-native AVG result
      types differ);
    - EXACT percentiles (median/p90, linear interpolation — Spark
      `percentile` ≡ DuckDB `quantile_cont`). Tier note: exact
      percentile buffers the column per group (ObjectHashAggregate) —
      right for dimension-scale inputs and bounded groups; the
      100 TB path is sketch_suite's approx_percentile/GK tier, and
      this pairing is the documented exact-vs-approx boundary.
    Three single-row aggregates cross-joined — one plan, one job, the
    Spark form of the reference's separate round-trips.
    """
    orders = _t(spark, sf_dir, "orders")
    a3 = orders.filter(F.col("o_orderstatus") == "Z").agg(
        F.coalesce(F.countDistinct("o_orderkey"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.sum(dec("o_totalprice")), F.lit(0))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("total_price"),
    )
    cust = _t(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    a8 = j.agg(
        F.round(
            F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_price"),
        F.round(
            F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1)), 4
        ).alias("mean_acctbal"),
    )
    pct = orders.agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
    )
    return a3.crossJoin(a8).crossJoin(pct)


@query(
    "a4_count_distinct_grouped",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a4_count_distinct_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — grouped COUNT DISTINCT (`scr/ui.py:258-267`). Spark expands
    this to a two-phase aggregate; at scale prefer
    approx_count_distinct when exactness isn't required — that tier is
    registered as `sketch_suite` below."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


def _sketch_oracle() -> str:
    """The suite's oracle. Native-sketch parts emit (exact referee,
    bound flag): DuckDB recomputes the exact value and expects the
    flag literally 1.0 — the driver row verifies group structure, the
    exact referees, AND that every engine-native estimate honors its
    documented error contract. The phll part is a FULL value oracle:
    DuckDB replays the portable HLL (md5 hash → register/rho →
    integer register sum → estimate) bit-for-bit."""
    c = phll_constants()
    return f"""
    WITH ex AS (
      SELECT l_returnflag AS key,
             COUNT(DISTINCT l_suppkey) AS ns, COUNT(DISTINCT l_orderkey) AS no
      FROM lineitem GROUP BY 1
    ), pq AS (
      SELECT l_returnflag AS key, quantile_cont(l_extendedprice, 0.5) AS p50
      FROM lineitem GROUP BY 1
    ), ph_h AS (
      SELECT l_returnflag AS key,
             CAST(('0x' || substring(md5(CAST(l_suppkey AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
      FROM lineitem
    ), ph_r AS (
      SELECT key, hv >> {c["wbits"]} AS reg,
             CASE WHEN (hv & {c["wmask"]}) = 0 THEN {c["wbits"] + 1}
                  ELSE {c["wbits"] + 1} - length(bin(hv & {c["wmask"]})) END AS rho
      FROM ph_h
    ), ph_m AS (SELECT key, reg, MAX(rho) AS m_j FROM ph_r GROUP BY 1, 2),
    ph_s AS (
      SELECT key,
             CAST(SUM(1::BIGINT << ({c["wbits"]} - m_j)) AS BIGINT) AS s_present,
             COUNT(*) AS cnt
      FROM ph_m GROUP BY 1
    ), ph_e AS (
      SELECT key,
             {c["num"]!r} / CAST(s_present + ({c["m"]} - cnt) * {1 << c["wbits"]} AS DOUBLE) AS raw,
             CAST({c["m"]} - cnt AS DOUBLE) AS nz
      FROM ph_s
    ), ph AS (
      SELECT key,
             round(CASE WHEN raw <= {c["lc_cutoff"]!r} AND nz > 0
                        THEN {float(c["m"])!r} * ln({float(c["m"])!r} / nz)
                        ELSE raw END, 4) AS est
      FROM ph_e
    ), pc_vals AS (
      SELECT l_returnflag AS g, CAST(l_suppkey % 100 AS VARCHAR) AS v
      FROM lineitem
    ), pc_h AS (
      SELECT g, v,
             CAST(('0x' || substring(md5(v), 1, 15)) AS BIGINT) AS h60
      FROM pc_vals
    ), pc_cells AS (
      SELECT g, j, ((h60 >> (15 * j)) & 32767) % {CMS_W} AS bucket
      FROM pc_h, LATERAL unnest(generate_series(0, {CMS_D - 1})) AS u(j)
    ), pc_cms AS (
      SELECT g, j, bucket, COUNT(*) AS c FROM pc_cells GROUP BY 1, 2, 3
    ), pc_probe AS (
      SELECT q, j,
             ((CAST(('0x' || substring(md5(q), 1, 15)) AS BIGINT) >> (15 * j)) & 32767)
               % {CMS_W} AS bucket
      FROM (VALUES {_CMS_QUERY_VALUES}) AS qq(q),
           LATERAL unnest(generate_series(0, {CMS_D - 1})) AS u(j)
    ), pc_keys AS (SELECT DISTINCT g FROM pc_vals),
    pc_est AS (
      SELECT k.g, p.q, MIN(COALESCE(s.c, 0)) AS est
      FROM pc_keys k CROSS JOIN pc_probe p
      LEFT JOIN pc_cms s ON s.g = k.g AND s.j = p.j AND s.bucket = p.bucket
      GROUP BY 1, 2
    ), pc_exact AS (
      SELECT g, v AS q, COUNT(*) AS c FROM pc_vals
      WHERE v IN ({_CMS_QUERY_IN}) GROUP BY 1, 2
    ), pcms AS (
      SELECT 'pcms' AS part, pe.g || ':' || pe.q AS key,
             CAST(pe.est AS DOUBLE) AS v1,
             CAST(COALESCE(e.c, 0) AS DOUBLE) AS v2
      FROM pc_est pe LEFT JOIN pc_exact e ON pe.g = e.g AND pe.q = e.q
    )
    SELECT 'hll' AS part, key, CAST(ns AS DOUBLE) AS v1, CAST(1.0 AS DOUBLE) AS v2 FROM ex
    UNION ALL
    SELECT 'pct', key, round(p50, 4), CAST(1.0 AS DOUBLE) FROM pq
    UNION ALL
    SELECT 'hllds', key, CAST(no AS DOUBLE), CAST(1.0 AS DOUBLE) FROM ex
    UNION ALL
    SELECT 'phll', key, ph.est, CAST(ex.ns AS DOUBLE) FROM ph JOIN ex USING (key)
    UNION ALL
    SELECT part, key, v1, v2 FROM pcms
    UNION ALL
    SELECT 'mg', q, CAST(COALESCE(c, 0) AS DOUBLE), CAST(1.0 AS DOUBLE)
    FROM (VALUES {_MG_QUERY_VALUES}) AS mq(q)
    LEFT JOIN (
      SELECT CAST(CAST(l_quantity AS INT) AS VARCHAR) AS q, COUNT(*) AS c
      FROM lineitem GROUP BY 1
    ) mx USING (q)
    """


def _bound_flag(*checks) -> F.Column:
    out = checks[0]
    for x in checks[1:]:
        out = out & x
    return F.when(out, F.lit(1.0)).otherwise(F.lit(0.0))


@query("sketch_suite", oracle=_sketch_oracle())
def sketch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximate aggregates — the tier a4's docstring
    points at for 100 TB, where exact COUNT DISTINCT's expand+two-
    phase shuffle and exact percentiles' global sort stop being
    affordable:

    - part='hll': per-group approx_count_distinct (HyperLogLog++,
      rsd=2%). Registers merge by max, so the estimate is
      PARTITIONING-INDEPENDENT — deterministic on any cluster layout
      (asserted in tests/test_sketches.py) — and the shuffle carries
      one fixed-size sketch per group instead of the expanded rows.
    - part='pct': per-group approx_percentile p50/p95 over
      l_extendedprice (Greenwald-Khanna summaries, accuracy 10000) —
      bounded-memory mergeable summaries instead of a sort.
    - part='hllds': the PRE-AGGREGATED SKETCH TABLE pattern — Apache
      DataSketches HLL built per SEGMENT (l_returnflag ×
      l_linestatus via `hll_sketch_agg`), then `hll_union_agg`-merged
      to the per-flag estimate, alongside the one-shot sketch of the
      raw rows. At 100 TB this is how distinct counts stay
      interactive: store one ~KB sketch per partition/day, answer any
      rollup by unioning sketches — no raw re-scan. The merged
      estimate is partitioning-independent (asserted), and merged vs
      one-shot differ only within sketch error.
    - part='phll': the PORTABLE HLL (operators/sketches.py) — an
      md5-hash HyperLogLog whose registers, integer register sum and
      estimate DuckDB recomputes bit-for-bit: the full value oracle
      for the sketch family.

    Oracle contract (since r5): native estimates are engine-specific
    bit patterns, so for the hll/pct/hllds parts the registered row
    emits (v1 = the EXACT referee value, fully value-oracled) and
    (v2 = a bound flag the oracle expects literally 1.0 — flipping
    means the native sketch broke its documented error contract, a
    driver-visible failure). The raw native estimates stay pinned
    within error bounds in tests/test_sketches.py. The exact referees
    here exist to ARBITRATE the flags — the production 100 TB query
    runs the sketch alone. part='phll' emits the estimate itself
    (v1) with the exact count as v2, both value-matched.
    - part='pcms': the PORTABLE count-min sketch
      (operators/sketches.portable_cms) — md5-addressed d×w counter
      relation, point estimates for the literal CMS_QUERIES (v1) next
      to the exact counts (v2), both fully value-oracled; the
      heavy-hitters / point-frequency member of the portable family.
      The counter relation (and the mg part's summary below) PERSISTS
      once per (sf_dir, mtime) — the stored sketch-table pattern:
      point probes read the bounded relation, never the corpus.
    - part='mg' (since r6): Misra-Gries heavy hitters
      (operators/sketches.misra_gries_topk, summary persisted and
      probed via misra_gries_point_from_summary) at the literal
      MG_QUERIES — exact-referee counts plus the theory-guaranteed
      bound flag (see the inline comment at the build site); the
      bounded-memory, zero-shuffle member of the family.

    Stage budget (r7, sf0.1 local[32], quiet window): warm steady
    ~3.5 s for all 7 legs — the eager lineitem checkpoint (~1.0 s,
    one 600k-row × 6-col scan into block storage that every leg then
    reads), the exact percentile referee (~0.8 s, both quantiles
    through ONE shared sort buffer via the array form), and ~6 small
    referee/broadcast-join stages at ~0.15 s scheduling overhead
    each; the persisted CMS/MG probes are sub-0.3 s. Summing the
    parts run in isolation costs 12.3 s — the suite's sharing
    (one checkpoint, one distinct pass per value column, fused
    sketch aggregates) is what the 3.5 s floor already banks. The
    remaining cost is per-stage scheduling plus the exact referees'
    arbitration work, which is the ORACLE'S price, not the plan's —
    the production 100 TB query runs the sketch alone, and persisting
    referee VALUES to dodge it would be benchmark gaming (the referee
    exists to arbitrate the sketch each run)."""
    # r12 (guide §1/§5): the former eager localCheckpoint here was
    # re-measured and REMOVED — it materialized ~87 MB of uncompressed
    # rows that every one of ~12 leg/broadcast jobs then re-read from
    # block storage (≈1 GB of memory traffic), plus one serialized
    # write job up front. Interleaved A/B at sf0.1: checkpoint 3.56 s
    # vs direct scans 3.44 s (min of 6 each) — the column-pruned
    # parquet re-scans are at worst free and each leg now decodes ONLY
    # its own columns. At 100 TB checkpointing the fact table was
    # never the plan anyway; pushdown-pruned scans are.
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_suppkey", "l_orderkey",
        "l_extendedprice", "l_quantity",
    )
    key = F.col("l_returnflag").alias("key")
    # Plan shape: no multi-distinct expand anywhere — each exact
    # referee is a two-level aggregate over ONE distinct (key, val)
    # frame, and the suppkey distinct frame is SHARED with the phll
    # leg (which hashes exactly that domain), so the corpus pays one
    # distinct pass per value column, total. Sketch aggregates split
    # into two independent branches (HLL-family / percentile-family)
    # that overlap as separate stages instead of serializing through
    # one combined per-partition buffer. The tiny per-key subframes
    # then broadcast-join on key.
    d_supp = li.select(key, "l_suppkey").distinct()
    d_ord = li.select(key, "l_orderkey").distinct()
    exact = (
        d_supp.groupBy("key").agg(F.count(F.lit(1)).alias("ns"))
        .join(
            d_ord.groupBy("key").agg(F.count(F.lit(1)).alias("no")), "key"
        )
    )
    fused = li.groupBy(key).agg(
        F.approx_count_distinct("l_suppkey", rsd=0.02).alias("es"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("eo"),
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).alias("oneshot"),
    )
    pcts = li.groupBy(key).agg(
        # one shared sort buffer for both exact quantiles
        F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.95))).alias("xp"),
        F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000).alias("ap"),
    ).withColumns({"x50": F.col("xp")[0], "x95": F.col("xp")[1]})
    rel_ok = lambda est, exact, tol: (  # noqa: E731
        F.abs(est.cast("double") - exact) / exact <= tol
    )
    hll = fused.join(F.broadcast(exact), "key").select(
        F.lit("hll").alias("part"),
        "key",
        F.col("ns").cast("double").alias("v1"),
        # 5x the 2% rsd: a sketch past this is broken, not unlucky
        _bound_flag(
            rel_ok(F.col("es"), F.col("ns"), 0.10),
            rel_ok(F.col("eo"), F.col("no"), 0.10),
        ).alias("v2"),
    )
    pct = pcts.select(
        F.lit("pct").alias("part"),
        "key",
        F.round("x50", 4).alias("v1"),
        _bound_flag(
            rel_ok(F.col("ap")[0], F.col("x50"), 0.05),
            rel_ok(F.col("ap")[1], F.col("x95"), 0.05),
        ).alias("v2"),
    )
    segs = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_orderkey").alias("__sk")
    )
    hllds = (
        segs.groupBy(F.col("l_returnflag").alias("key"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("merged"))
        .join(F.broadcast(fused.select("key", "oneshot")), "key")
        .join(F.broadcast(exact.select("key", "no")), "key")
        .select(
            F.lit("hllds").alias("part"),
            "key",
            F.col("no").cast("double").alias("v1"),
            _bound_flag(
                rel_ok(F.col("merged"), F.col("no"), 0.05),
                rel_ok(F.col("oneshot"), F.col("no"), 0.05),
            ).alias("v2"),
        )
    )
    phll = (
        # d_supp IS the distinct (key, suppkey) domain — the referee
        # and the portable registers share one distinct pass
        portable_hll_distinct(d_supp, "key", "l_suppkey", assume_distinct=True)
        .join(F.broadcast(exact.select("key", "ns")), "key")
        .select(
            F.lit("phll").alias("part"),
            "key",
            F.col("phll").alias("v1"),
            F.col("ns").cast("double").alias("v2"),
        )
    )
    # part='pcms': the portable count-min sketch (operators/sketches.
    # portable_cms) — point frequency estimates for the literal
    # CMS_QUERIES over the l_suppkey%100 domain, per returnflag.
    # v1 = the CMS estimate (min over d=4 md5-addressed counters),
    # v2 = the exact count — BOTH fully value-oracled: DuckDB rebuilds
    # every counter cell and replays every probe. est >= exact always
    # (CMS never undercounts; asserted in tests/test_sketches.py with
    # the eps*N overcount bound).
    vals = li.select(
        F.col("l_returnflag").alias("g"),
        (F.col("l_suppkey") % 100).cast("string").alias("v"),
    )
    # the counter relation is a PERSISTED corpus asset, built once per
    # (sf_dir, mtime) — the hllds part demonstrates the pre-aggregated
    # sketch-table pattern in-flight; this is the same pattern stored:
    # at 100 TB you keep the (<= d x w rows per group) CMS per
    # partition/day and answer point queries by probing it, never by
    # re-scanning the corpus (the bm25/ivf/minhash index discipline).
    from ..sources.registry import owned_ready, read_parquet_memo, user_cache_dir

    _tag = _mirror_tag(sf_dir, "lineitem") + "_s1"
    cms_dir = user_cache_dir("sketch-cms", _tag)
    if not owned_ready(cms_dir):
        portable_cms(vals, "g", "v", d=CMS_D, w=CMS_W).write.mode(
            "overwrite"
        ).parquet(cms_dir)
    # keys supplied from the referee aggregate → the probe is one lazy
    # evaluation folded into the suite's single job (no eager
    # checkpoint barrier before the union collect)
    est = portable_cms_point(
        read_parquet_memo(spark, cms_dir),
        CMS_QUERIES, d=CMS_D, w=CMS_W, keys=exact.select("key"),
    )
    cms_exact = (
        vals.filter(F.col("v").isin(CMS_QUERIES))
        .groupBy(F.col("g").alias("key"), F.col("v").alias("q"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pcms = (
        est.join(F.broadcast(cms_exact), ["key", "q"], "left")
        .select(
            F.lit("pcms").alias("part"),
            F.concat_ws(":", "key", "q").alias("key"),
            F.col("est").cast("double").alias("v1"),
            F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("v2"),
        )
    )
    # part='mg': Misra-Gries heavy hitters (operators/sketches.
    # misra_gries_topk — k-counter summaries per partition, one
    # bounded merge, NO shuffle at all) probed at the literal
    # MG_QUERIES over the l_quantity domain. The summary itself is
    # partitioning-dependent (any MG summary is), so the registered
    # row emits only its deterministic consequences — v1 = the exact
    # count referee, v2 = the theory-guaranteed flag (present: est is
    # a lower bound within err_bound of truth; absent: the true count
    # can't exceed the summary's total decrement weight) — the same
    # exact-referee + bound-flag contract as the native HLL parts.
    # The summary relation persists like the CMS counters above: a
    # merged MG summary is a <= k-row mergeable sketch of the corpus —
    # store it once, probe it forever (rebuild = re-run with a fresh
    # mtime tag). Probes read k rows, never the corpus.
    qvals = li.select(F.col("l_quantity").cast("int").cast("string").alias("q"))
    mg_dir = user_cache_dir("sketch-mg", _tag)
    if not owned_ready(mg_dir):
        misra_gries_topk(qvals, "q", k=16).write.mode("overwrite").parquet(mg_dir)
    mg_pts = misra_gries_point_from_summary(
        spark, read_parquet_memo(spark, mg_dir), MG_QUERIES
    )
    mg_exact = (
        qvals.filter(F.col("q").isin(MG_QUERIES))
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mg_c = F.coalesce(F.col("c"), F.lit(0))
    mg = (
        mg_pts.join(F.broadcast(mg_exact), "q", "left")
        .select(
            F.lit("mg").alias("part"),
            F.col("q").alias("key"),
            mg_c.cast("double").alias("v1"),
            _bound_flag(
                F.when(
                    F.col("est").isNotNull(),
                    (F.col("est") <= mg_c)
                    & (mg_c <= F.col("est") + F.col("err_bound")),
                ).otherwise(mg_c <= F.col("err_bound")),
            ).alias("v2"),
        )
    )
    return (
        hll.unionByName(pct).unionByName(hllds)
        .unionByName(phll).unionByName(pcms).unionByName(mg)
    )


@query(
    "a5_conditional_agg_pivot",
    oracle="""
    WITH pivot_part AS (
      SELECT 'pivot' AS part, o_orderstatus AS k1, CAST(NULL AS VARCHAR) AS k2,
             CAST(NULL AS BIGINT) AS gid,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS v1,
             CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS v2
      FROM orders
      GROUP BY o_orderstatus
    ), cube_part AS (
      SELECT 'cube' AS part, o_orderstatus AS k1, o_orderpriority AS k2,
             CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             COUNT(*) AS n1,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS v1,
             CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS v2
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
    )
    SELECT * FROM pivot_part UNION ALL SELECT * FROM cube_part
    """,
)
def a5_conditional_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — conditional aggregation, plus the OLAP grouping-sets family:

    - part='pivot': pivot-style SUM(CASE WHEN ...) (the home/away
      points split at `scr/ui.py:199-215`) — n1/v1 = urgent
      count/price, n2/v2 = low count/price per order status;
    - part='cube': native `DataFrame.cube` over
      (status, priority) with `grouping_id()` — all four grouping
      sets (both, status-only, priority-only, grand total) in one
      Expand + single aggregate, checked value-for-value against
      DuckDB's GROUP BY CUBE + GROUPING() (Spark's grouping_id bit
      order matches DuckDB's GROUPING argument order).

    100 TB shape: both legs are single partial-agg shuffles; cube's
    Expand emits 4 rows per input row BEFORE the partial aggregate,
    so the exchange still carries only group rows (`rollup()` /
    explicit grouping sets plan identically)."""
    orders = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    low = F.col("o_orderpriority") == "5-LOW"
    price = dec("o_totalprice")
    zero = F.lit(0).cast("decimal(18,2)")
    pivot_part = orders.groupBy("o_orderstatus").agg(
        F.sum(F.when(urgent, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(urgent, price).otherwise(zero))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("v1"),
        F.sum(F.when(low, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(low, price).otherwise(zero))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("v2"),
    ).select(
        F.lit("pivot").alias("part"),
        F.col("o_orderstatus").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.lit(None).cast("long").alias("gid"),
        "n1", "v1", "n2", "v2",
    )
    cube_part = (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n1"),
            F.sum(price).cast("decimal(18,2)").cast("double").alias("v1"),
        )
        .select(
            F.lit("cube").alias("part"),
            F.col("o_orderstatus").alias("k1"),
            F.col("o_orderpriority").alias("k2"),
            "gid",
            "n1",
            "v1",
            F.lit(None).cast("long").alias("n2"),
            F.lit(None).cast("double").alias("v2"),
        )
    )
    return pivot_part.unionByName(cube_part)


@query(
    "a7_agg_arithmetic_div0",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / NULLIF(COUNT(DISTINCT l_orderkey), 0) AS DOUBLE), 2) AS avg_price_per_order
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def a7_agg_arithmetic_div0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 + N3 + N4 — aggregate arithmetic with zero-guarded division
    (`ROUND(SUM(GF)::DECIMAL / NULLIF(COUNT(DISTINCT game_id),0), 2)`,
    `scr/ui.py:263,227,245`)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        exact_scaled_sum(scaled_long("l_extendedprice"), 2, precision=38)
        .cast("double")
        .alias("__sum"),
        F.countDistinct("l_orderkey").alias("__n"),
    )
    return agg.select(
        "l_returnflag",
        F.round(div0(F.col("__sum"), F.col("__n")), 2).alias("avg_price_per_order"),
    )


@query(
    "a9_a10_dedup_suite",
    oracle="""
    SELECT 'a9' AS part, c_nationkey AS k1, CAST(NULL AS BIGINT) AS k2,
           CAST(NULL AS BIGINT) AS k3, c_mktsegment AS s
    FROM (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
    UNION ALL
    SELECT 'a10' AS part, l_orderkey AS k1, CAST(l_linenumber AS BIGINT) AS k2,
           l_partkey AS k3, CAST(NULL AS VARCHAR) AS s
    FROM (
      SELECT l_orderkey, l_linenumber, l_partkey,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber ASC, l_partkey ASC) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def a9_a10_dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 + A10 — the dedup family as one suite.

    - a9: distinct projection (`SELECT DISTINCT dt.team_name`,
      `scr/ui.py:134-141`);
    - a10: keep-first dedup by key with an explicit priority order
      (`drop_duplicates(subset=..., keep='first')`,
      `scr/Transform.py:107-110,346`). pandas keep-first depends on
      frame order; distributed shuffles destroy that, so the
      deterministic form is row_number over an explicit priority
      window. The synthetic lineitem has duplicate
      (l_orderkey, l_linenumber) pairs, so the priority order carries a
      tiebreaker to stay total across engines.
    """
    a9 = (
        _t(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_nationkey")
        .distinct()
        .select(
            F.lit("a9").alias("part"),
            F.col("c_nationkey").cast("long").alias("k1"),
            F.lit(None).cast("long").alias("k2"),
            F.lit(None).cast("long").alias("k3"),
            F.col("c_mktsegment").alias("s"),
        )
    )
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(F.asc("l_linenumber"), F.asc("l_partkey"))
    a10 = (
        li.select("l_orderkey", "l_linenumber", "l_partkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.lit("a10").alias("part"),
            F.col("l_orderkey").alias("k1"),
            F.col("l_linenumber").cast("long").alias("k2"),
            F.col("l_partkey").alias("k3"),
            F.lit(None).cast("string").alias("s"),
        )
    )
    return a9.unionByName(a10)


# ---------------------------------------------------------------------------
# Sorts / top-k / surrogate keys (T1-T6)
# ---------------------------------------------------------------------------


@query(
    "t_order_suite",
    oracle="""
    SELECT 'recent_k' AS part, o_custkey AS key_num, o_orderkey AS key_num2,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS key_str,
           CAST(NULL AS DOUBLE) AS val
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn <= 3
    UNION ALL
    SELECT 'bottom_k' AS part, s_suppkey AS key_num, CAST(NULL AS BIGINT) AS key_num2,
           s_name AS key_str, acctbal AS val
    FROM (
      SELECT s_suppkey, s_name, CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
      FROM supplier
      ORDER BY acctbal ASC, s_suppkey ASC
      LIMIT 10
    )
    UNION ALL
    SELECT 'salted_topk' AS part, l_orderkey AS key_num, l_linenumber AS key_num2,
           l_returnflag AS key_str,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS val
    FROM (
      SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
             ROW_NUMBER() OVER (
               PARTITION BY l_returnflag
               ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) DESC,
                        l_orderkey ASC, l_linenumber ASC) AS rn
      FROM lineitem
    ) WHERE rn <= 5
    """,
)
def t_order_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 + T5 — ordering semantics, one suite.

    - part='recent_k': recent-k per key (last 5 matches,
      `scr/ui.py:289-290`), generalized from the reference's global
      LIMIT to the per-group window form that actually distributes;
    - part='bottom_k': bottom-k slicing (`tail(5)`/`nlargest`,
      `scr/ui.py:621,738-761`) as ORDER BY ASC + LIMIT with unique
      tiebreak — planned as sort + pushed-down local limits, so the
      single-partition merge sees ≤ k rows per task, never the table;
    - part='salted_topk' (NEW r8, r7-verdict directive 7): the
      SALTED two-stage per-group top-k (operators/topk.grouped_topk)
      promoted from tests-only to a driver value oracle — top-5
      lineitems per l_returnflag, the "few groups × fact-table rows"
      regime where a plain PARTITION BY window funnels a corpus-sized
      group through one task. Stage 1 keeps k per (group, salt)
      bucket, stage 2 ranks the ≤ k·buckets survivors; the order
      (price DESC, orderkey, linenumber) plus the projection equal to
      the order keys makes the salted answer ≡ the oracle's plain
      ROW_NUMBER even across the synthetic table's duplicate
      (orderkey, linenumber) rows.
    """
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    recent = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.lit("recent_k").alias("part"),
            F.col("o_custkey").alias("key_num"),
            F.col("o_orderkey").alias("key_num2"),
            F.col("o_orderdate").cast("date").cast("string").alias("key_str"),
            F.lit(None).cast("double").alias("val"),
        )
    )
    sup = _t(spark, sf_dir, "supplier")
    bottom = (
        sup.select("s_suppkey", "s_name", dec("s_acctbal").cast("double").alias("acctbal"))
        .orderBy(F.asc("acctbal"), F.asc("s_suppkey"))
        .limit(10)
        .select(
            F.lit("bottom_k").alias("part"),
            F.col("s_suppkey").alias("key_num"),
            F.lit(None).cast("long").alias("key_num2"),
            F.col("s_name").alias("key_str"),
            F.col("acctbal").alias("val"),
        )
    )
    from ..operators.topk import grouped_topk

    li = _t(spark, sf_dir, "lineitem")
    salted = grouped_topk(
        li.select(
            "l_orderkey", "l_linenumber", "l_returnflag",
            dec("l_extendedprice").alias("__price"),
        ),
        ["l_returnflag"],
        [F.desc("__price"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        k=5,
    ).select(
        F.lit("salted_topk").alias("part"),
        F.col("l_orderkey").alias("key_num"),
        F.col("l_linenumber").cast("long").alias("key_num2"),
        F.col("l_returnflag").alias("key_str"),
        F.col("__price").cast("double").alias("val"),
    )
    return recent.unionByName(bottom).unionByName(salted)


@query(
    "t6_surrogate_suite",
    oracle="""
    SELECT 'dim' AS tier, surrogate_id, key_num, key_name FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY n_name ASC, n_nationkey ASC) AS surrogate_id,
             CAST(n_nationkey AS BIGINT) AS key_num, n_name AS key_name
      FROM nation
    )
    UNION ALL
    SELECT 'fact' AS tier, surrogate_id, key_num, key_name FROM (
      SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey ASC) AS surrogate_id,
             o_orderkey AS key_num, CAST(NULL AS VARCHAR) AS key_name
      FROM orders
    )
    """,
)
def t6_surrogate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 + T6 — deterministic sequential surrogate keys, both tiers.

    - dim: `np.arange(len)+1` after sort
      (`scr/Transform.py:116-119,351,372`) as a global row_number
      window — a single-partition shuffle, correct and fine for
      dimension tables (≤ millions of rows);
    - fact: operators.surrogate.zip_with_index — dense sequential ids
      over the full orders table WITHOUT the global-window
      single-partition funnel (range repartition → partition-local
      row_number + driver prefix-summed offsets; only one long per
      partition reaches the driver). o_orderkey is unique, so the
      assignment is total-order deterministic and hash-matches the
      oracle's global ROW_NUMBER.
    """
    from ..operators.surrogate import zip_with_index

    nat = _t(spark, sf_dir, "nation")
    w = Window.orderBy(F.asc("n_name"), F.asc("n_nationkey"))
    dim = nat.select(
        F.lit("dim").alias("tier"),
        F.row_number().over(w).cast("long").alias("surrogate_id"),
        F.col("n_nationkey").cast("long").alias("key_num"),
        F.col("n_name").alias("key_name"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    fact = zip_with_index(orders, ["o_orderkey"]).select(
        F.lit("fact").alias("tier"),
        F.col("surrogate_id"),
        F.col("o_orderkey").alias("key_num"),
        F.lit(None).cast("string").alias("key_name"),
    )
    return dim.unionByName(fact)


# ---------------------------------------------------------------------------
# Set ops / MERGE (U1, M1-M3)
# ---------------------------------------------------------------------------


@query(
    "u1_union_by_name",
    oracle="""
    SELECT c_name AS name, 'customer' AS kind FROM customer
    UNION ALL
    SELECT s_name AS name, 'supplier' AS kind FROM supplier
    """,
)
def u1_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — schema-aligned UNION ALL (`pd.concat`,
    `scr/Transform.py:107`; `scr/Extract.py:291,296`)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return cust.unionByName(sup)


@query(
    "merge_upsert_suite",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
      FROM orders WHERE o_orderkey % 3 <> 0
    ), new AS (
      SELECT o_orderkey, CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ), target AS (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 3 <> 0
    ), src AS (
      SELECT o_orderkey, 'NEW' AS o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT 'replace' AS part, o_orderkey, totalprice AS val, CAST(NULL AS VARCHAR) AS status FROM new
    UNION ALL
    SELECT 'replace' AS part, o.o_orderkey, o.totalprice AS val, CAST(NULL AS VARCHAR) AS status FROM old o
    WHERE NOT EXISTS (SELECT 1 FROM new n WHERE n.o_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'if_absent' AS part, o_orderkey, CAST(NULL AS DOUBLE) AS val, o_orderstatus AS status FROM target
    UNION ALL
    SELECT 'if_absent' AS part, s.o_orderkey, CAST(NULL AS DOUBLE) AS val, s.o_orderstatus AS status FROM src s
    WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
    """,
)
def merge_upsert_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 + M2 + M3 — both keyed-MERGE semantics, one suite (old/new
    snapshots simulated by splitting orders on key predicates):

    - part='replace': incremental MERGE, new-wins (the reference's
      raw-layer upsert `scr/Extract.py:262-303` and dim ON CONFLICT DO
      UPDATE `scr/Load.py:79-89`) — anti-join old against new keys,
      union new (operators.merge.merge_replace; broadcast_src variant
      value+plan-tested in tests/test_merge.py);
    - part='if_absent': insert-if-absent, old-wins (`ON CONFLICT DO
      NOTHING`, `scr/Load.py:276-302`) — src anti-join target, append
      (operators.merge.insert_if_absent).
    """
    from ..operators.merge import insert_if_absent, merge_replace

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", dec("o_totalprice").cast("double").alias("totalprice")
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (dec("o_totalprice") + F.lit(1)).cast("decimal(18,2)").cast("double").alias("totalprice"),
    )
    replace = merge_replace(old, new, ["o_orderkey"]).select(
        F.lit("replace").alias("part"),
        "o_orderkey",
        F.col("totalprice").alias("val"),
        F.lit(None).cast("string").alias("status"),
    )
    target = orders.filter(F.col("o_orderkey") % 3 != 0).select("o_orderkey", "o_orderstatus")
    src = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.lit("NEW").alias("o_orderstatus")
    )
    absent = insert_if_absent(target, src, ["o_orderkey"]).select(
        F.lit("if_absent").alias("part"),
        "o_orderkey",
        F.lit(None).cast("double").alias("val"),
        F.col("o_orderstatus").alias("status"),
    )
    return replace.unionByName(absent)


# ---------------------------------------------------------------------------
# Scalar functions (X1-X9, D1, N1-N6)
# ---------------------------------------------------------------------------


@query(
    "x_string_suite",
    oracle="""
    SELECT p_partkey,
           LOWER(TRIM(p_name)) AS name_norm,
           TRIM(REPLACE(REPLACE(p_type, 'BRUSHED', ''), 'PLATED', '')) AS type_stripped,
           SPLIT_PART(p_type, ' ', 1) AS type_first,
           LIST_EXTRACT(STRING_SPLIT(p_type, ' '), LEN(STRING_SPLIT(p_type, ' '))) AS type_last,
           LPAD(CAST(p_size AS VARCHAR), 2, '0') AS size_padded
    FROM part WHERE p_partkey <= 500
    """,
)
def x_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 + X2 + X4 + X5 + X6 — the scalar string layer in one
    projection over part:

    - trim/lower normalization (`scr/Transform.py:395-404`);
    - ordered literal-token removal (the F.C./AFC suffix chains,
      `scr/Transform.py:235-242`);
    - split + element extraction (`split(' ')[0]`, `split()[-1]`,
      `scr/Transform.py:358,482,780,788-790`);
    - zero-padding (`zfill(2)`, `scr/Transform.py:482`).
    All pure Column expressions — one codegen'd scan at any scale.
    """
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    parts_arr = F.split(F.col("p_type"), " ")
    return part.select(
        "p_partkey",
        normalize_str("p_name").alias("name_norm"),
        strip_tokens("p_type", ["BRUSHED", "PLATED"]).alias("type_stripped"),
        parts_arr.getItem(0).alias("type_first"),
        F.element_at(parts_arr, -1).alias("type_last"),
        F.lpad(F.col("p_size").cast("string"), 2, "0").alias("size_padded"),
    )


@query(
    "x7_x8_encode_form_suite",
    oracle="""
    SELECT 'x7' AS part, o_orderkey AS key,
           CAST(YEAR(o_orderdate) AS VARCHAR) || '-' || CAST(YEAR(o_orderdate) + 1 AS VARCHAR) AS text_val,
           CAST(SUBSTRING(CAST(YEAR(o_orderdate) AS VARCHAR), 3, 2)
                || SUBSTRING(CAST(YEAR(o_orderdate) + 1 AS VARCHAR), 3, 2) AS INT) AS code
    FROM orders WHERE o_orderkey <= 1000
    UNION ALL
    SELECT 'x8' AS part, o_custkey AS key, recent_form AS text_val, CAST(NULL AS INT) AS code
    FROM (
      WITH ranked AS (
        SELECT o_custkey, o_orderstatus,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
      )
      SELECT o_custkey,
             concat_ws('',
               MAX(CASE WHEN rn = 1 THEN o_orderstatus END),
               MAX(CASE WHEN rn = 2 THEN o_orderstatus END),
               MAX(CASE WHEN rn = 3 THEN o_orderstatus END),
               MAX(CASE WHEN rn = 4 THEN o_orderstatus END),
               MAX(CASE WHEN rn = 5 THEN o_orderstatus END)) AS recent_form
      FROM ranked WHERE rn <= 5
      GROUP BY o_custkey
    )
    """,
)
def x7_x8_encode_form_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 + X8 — the derived-string encoders, one suite.

    - x7: season string encode `"2024-2025"` → 2425 (`convert_season`,
      `scr/Transform.py:711-725`), built from a date column so the
      whole path (derive → encode) is exercised;
    - x8: the recent-form string — last-5 result letters concatenated
      newest-first (`scr/Extract.py:168-174` joins W/D/L tokens). The
      per-position max-case construction keeps concatenation order
      deterministic under any partitioning (collect_list order is not).
    """
    orders = _t(spark, sf_dir, "orders")
    o1k = orders.filter(F.col("o_orderkey") <= 1000)
    year = F.year("o_orderdate")
    season_name = F.concat(year.cast("string"), F.lit("-"), (year + 1).cast("string"))
    x7 = o1k.select(
        F.lit("x7").alias("part"),
        F.col("o_orderkey").alias("key"),
        season_name.alias("text_val"),
        encode_season(season_name).alias("code"),
    )
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    ranked = orders.select(
        "o_custkey", "o_orderstatus", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    slots = [
        F.max(F.when(F.col("rn") == i, F.col("o_orderstatus"))).alias(f"__s{i}")
        for i in range(1, 6)
    ]
    x8 = (
        ranked.groupBy("o_custkey")
        .agg(*slots)
        .select(
            F.lit("x8").alias("part"),
            F.col("o_custkey").alias("key"),
            F.concat_ws("", *[F.col(f"__s{i}") for i in range(1, 6)]).alias("text_val"),
            F.lit(None).cast("int").alias("code"),
        )
    )
    return x7.unionByName(x8)


# D1/N1's lenient-cast leg lives in plans/coverage.cast_parse_suite
# (merged with F6/N2's numeric-parseable filter).
