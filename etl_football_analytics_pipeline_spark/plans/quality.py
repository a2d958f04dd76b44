"""Registry entries for the warehouse-history and data-quality layers:
SCD Type-2 + snapshot CDC, declarative expectations, and blocked fuzzy
matching — every leg fully value-oracled (no RNG, no hash seeds the
oracle can't mirror).

These extend the reference's warehouse semantics the way production
deployments do: its dims are current-state-only (`scr/Load.py:79-89`
overwrites in place), its quality checks are implicit (malformed-row
drops + the FK audit), and its name canonicalization is a static
dictionary (`scr/Transform.py:137-176`). SCD2 adds history, the
expectations suite generalizes the checks, fuzzy matching finds the
name variants no dictionary anticipated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import dec
from ..operators.fuzzy import fuzzy_pairs
from ..operators.scd import scd2_build, scd2_lookup, table_diff
from ..sources.registry import load_table
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@query(
    "warehouse_history_suite",
    oracle="""
    WITH feed AS (
      SELECT o_custkey AS k, o_orderstatus AS attr, o_orderdate AS ts, o_orderkey AS tb
      FROM orders WHERE o_custkey <= 2000
    ), prev AS (
      SELECT k, attr, ts, tb,
             LAG(attr) OVER w AS pattr, LAG(ts) OVER w AS pts
      FROM feed WINDOW w AS (PARTITION BY k ORDER BY ts ASC, tb ASC)
    ), starts AS (
      SELECT * FROM prev WHERE pts IS NULL OR attr IS DISTINCT FROM pattr
    ), hist AS (
      SELECT k, attr, ts,
             LEAD(ts) OVER w2 AS eff_to,
             ROW_NUMBER() OVER w2 AS version
      FROM starts WINDOW w2 AS (PARTITION BY k ORDER BY ts ASC, tb ASC)
    ), old AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 3 <> 0
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS status,
             CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS DECIMAL(18,2)) AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 2 = 0
    ), diff AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN o.status IS DISTINCT FROM n.status
                       OR o.price IS DISTINCT FROM n.price THEN 'update' END AS change_type,
             o.status AS old_status, n.status AS new_status,
             o.price AS old_price, n.price AS new_price
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT 'scd2' AS part, k AS k1, CAST(version AS BIGINT) AS k2,
           attr AS s1, CAST(ts AS VARCHAR) AS s2, CAST(eff_to AS VARCHAR) AS s3,
           CASE WHEN eff_to IS NULL THEN 1.0 ELSE 0.0 END AS v1,
           CAST(NULL AS DOUBLE) AS v2
    FROM hist
    UNION ALL
    SELECT 'cdc' AS part, k AS k1, CAST(NULL AS BIGINT) AS k2,
           change_type AS s1, old_status AS s2, new_status AS s3,
           old_price AS v1, new_price AS v2
    FROM diff WHERE change_type IS NOT NULL
    UNION ALL
    SELECT 'lookup' AS part, o.tb AS k1, CAST(h.version AS BIGINT) AS k2,
           h.attr AS s1, CAST(NULL AS VARCHAR) AS s2, CAST(NULL AS VARCHAR) AS s3,
           CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2
    FROM feed o JOIN hist h ON h.k = o.k
     AND o.ts >= h.ts AND (h.eff_to IS NULL OR o.ts < h.eff_to)
    """,
)
def warehouse_history_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 + snapshot CDC (operators/scd.py), one suite.

    - part='scd2': full Type-2 history of each customer's order-status
      state over time (scd2_build: one key-partitioned window pass,
      consecutive no-op changes collapse, effective_from/to + version);
    - part='cdc': insert/update/delete change rows between two
      simulated warehouse snapshots of orders (table_diff: ONE
      full-outer hash join, null-safe compares, output bounded by the
      churn). The snapshots reuse the merge-suite convention of
      carving old/new from orders by key predicates;
    - part='lookup': POINT-IN-TIME enrichment (scd2_lookup) — every
      order joined to the status state valid at its own order date
      (half-open intervals; one hash equi-join, ≤1 match per fact by
      construction). The join the reference's current-state-only dims
      cannot express.
    """
    orders = _t(spark, sf_dir, "orders")
    feed = orders.filter(F.col("o_custkey") <= 2000).select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderstatus").alias("attr"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("tb"),
    )
    hist = scd2_build(feed, ["k"], ["attr"], "ts", "tb")
    scd2 = hist.select(
        F.lit("scd2").alias("part"),
        F.col("k").alias("k1"),
        F.col("version").cast("long").alias("k2"),
        F.col("attr").alias("s1"),
        F.col("effective_from").cast("string").alias("s2"),
        F.col("effective_to").cast("string").alias("s3"),
        F.when(F.col("is_current"), F.lit(1.0)).otherwise(F.lit(0.0)).alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    old = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        dec("o_totalprice").cast("double").alias("price"),
    )
    new = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        (
            dec("o_totalprice")
            + F.when(F.col("o_orderkey") % 7 == 0, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("decimal(18,2)")
        .cast("double")
        .alias("price"),
    )
    cdc = table_diff(old, new, ["o_orderkey"], ["status", "price"]).select(
        F.lit("cdc").alias("part"),
        F.col("o_orderkey").alias("k1"),
        F.lit(None).cast("long").alias("k2"),
        F.col("change_type").alias("s1"),
        F.col("old_status").alias("s2"),
        F.col("new_status").alias("s3"),
        F.col("old_price").alias("v1"),
        F.col("new_price").alias("v2"),
    )
    lookup = scd2_lookup(feed.select("k", "ts", "tb"), hist, ["k"], "ts").select(
        F.lit("lookup").alias("part"),
        F.col("tb").alias("k1"),
        F.col("version").cast("long").alias("k2"),
        F.col("attr").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.lit(None).cast("string").alias("s3"),
        F.lit(None).cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
    )
    return scd2.unionByName(cdc).unionByName(lookup)


# rule order matters: the quarantine leg joins violation names in
# DEFINITION order, and the oracle's concat_ws mirrors it
_DQ_RULES = (
    ("qty_le_25", "l_quantity <= 25"),
    ("discount_le_5pct", "l_discount <= 0.05"),
    ("flag_not_returned", "l_returnflag <> 'R'"),
    ("shipped_by_1997", "YEAR(l_shipdate) <= 1997"),
)


@query(
    "dq_expectations_suite",
    oracle=f"""
    WITH t AS (
      SELECT (NOT COALESCE({_DQ_RULES[0][1]}, FALSE)) AS v0,
             (NOT COALESCE({_DQ_RULES[1][1]}, FALSE)) AS v1x,
             (NOT COALESCE({_DQ_RULES[2][1]}, FALSE)) AS v2x,
             (NOT COALESCE({_DQ_RULES[3][1]}, FALSE)) AS v3x
      FROM lineitem
    ), rep AS (
      SELECT '{_DQ_RULES[0][0]}' AS rule, CAST(SUM(CASE WHEN v0 THEN 1 ELSE 0 END) AS BIGINT) AS nv, COUNT(*) AS nc FROM t
      UNION ALL
      SELECT '{_DQ_RULES[1][0]}', CAST(SUM(CASE WHEN v1x THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM t
      UNION ALL
      SELECT '{_DQ_RULES[2][0]}', CAST(SUM(CASE WHEN v2x THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM t
      UNION ALL
      SELECT '{_DQ_RULES[3][0]}', CAST(SUM(CASE WHEN v3x THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM t
    )
    SELECT 'report' AS part, rule AS s1, nv AS k1, nc AS k2,
           ROUND((nc - nv) / CAST(nc AS DOUBLE), 4) AS v1
    FROM rep
    UNION ALL
    SELECT 'quarantine' AS part, viol AS s1, COUNT(*) AS k1,
           CAST(NULL AS BIGINT) AS k2, CAST(NULL AS DOUBLE) AS v1
    FROM (
      SELECT concat_ws(',',
               CASE WHEN v0 THEN '{_DQ_RULES[0][0]}' END,
               CASE WHEN v1x THEN '{_DQ_RULES[1][0]}' END,
               CASE WHEN v2x THEN '{_DQ_RULES[2][0]}' END,
               CASE WHEN v3x THEN '{_DQ_RULES[3][0]}' END) AS viol
      FROM t
    ) WHERE viol <> '' GROUP BY viol
    UNION ALL
    SELECT 'profile' AS part,
           'l_orderkey' || '|' || CAST(MIN(l_orderkey) AS VARCHAR) || '|' || CAST(MAX(l_orderkey) AS VARCHAR) AS s1,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k1,
           COUNT(DISTINCT l_orderkey) AS k2, CAST(NULL AS DOUBLE) AS v1
    FROM lineitem
    UNION ALL
    SELECT 'profile',
           'l_linenumber' || '|' || CAST(MIN(l_linenumber) AS VARCHAR) || '|' || CAST(MAX(l_linenumber) AS VARCHAR),
           CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT l_linenumber), CAST(NULL AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'profile',
           'l_returnflag' || '|' || MIN(l_returnflag) || '|' || MAX(l_returnflag),
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT l_returnflag), CAST(NULL AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'profile',
           'l_shipdate' || '|' || CAST(MIN(l_shipdate) AS VARCHAR) || '|' || CAST(MAX(l_shipdate) AS VARCHAR),
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT l_shipdate), CAST(NULL AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'profile',
           'l_quantity' || '|' || CAST(MIN(l_quantity) AS VARCHAR) || '|' || CAST(MAX(l_quantity) AS VARCHAR),
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT l_quantity), CAST(NULL AS DOUBLE)
    FROM lineitem
    """,
)
def dq_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over lineitem
    (operators/expectations.py), one suite.

    - part='report': per-rule (violations, checked, pass_rate) — one
      map-side-combined global aggregate, every rule a SUM(CASE) slot;
    - part='quarantine': quarantined-row counts grouped by the exact
      violation set (the triage view) — violation names join in rule
      DEFINITION order on both engines.

    - part='profile': exact column profile — per column null count,
      exact distinct count, canonicalized min/max (the
      operators.expectations.profile_table statistics; fused here, see
      below, with equality to the operator composition pinned by
      tests/test_expectations.py).

    The rules deliberately include failing ones; a report full of
    100% pass rates would test nothing.

    Physical shape (r13, guide §1.2/§2.4 — remove passes before
    tuning anything else): ONE wide GLOBAL aggregate over a violation
    BITMASK projection covers report, quarantine, and the profile's
    null/min/max slots — per-rule violation counts are SUM(CASE) on
    the mask bits (bit i set ⟺ rule i violated, the exact
    `_violation_array` null-as-violation semantics, pinned
    row-identical to the operator composition by
    tests/test_expectations.py), per-combo quarantine counts are one
    COUNT(CASE mask = m) slot per non-empty subset m (≤ 2^|rules|−1
    slots; a combo's s1 string is a plan-time literal in rule
    DEFINITION order), and the column profile slots ride the same
    pass. The single result row unpivots through one literal
    struct-array explode, so all three parts consume ONE branch —
    per-branch column pruning (which re-specialized a shared lazy
    aggregate into three lineitem scans in r12, and which the r12
    eager localCheckpoint dodged at the cost of a separate
    build-time job that measured SLOWER than the four-pass form at
    this SF) never sees more than one consumer. The exact-distinct
    pass keeps its own explode shape (distinct machinery cannot fold
    into a global aggregate), so lineitem is scanned TWICE, both
    scans lazy branches of the one collect-time job — no eager
    plan-build action at all. Empty-input behavior now matches
    expect_report exactly (n_checked=0, NULL slots) — the r12 ADVICE
    divergence is gone."""
    li = _t(spark, sf_dir, "lineitem")
    names = [n for n, _ in _DQ_RULES]
    prof_cols = ["l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate", "l_quantity"]
    # everything below is string-expression form (r13, guide §1 — the
    # Column-API twin measured ~1.0 s of driver analysis per build);
    # value-equality to the operator composition stays pinned by
    # tests/test_expectations.py.
    # violation bitmask: bit i ⟺ rule i fails (NULL counts as a
    # violation — `NOT coalesce(pred, false)`, the _violation_array
    # contract; the predicate is never NULL so the mask is exact)
    mask = " + ".join(
        f"(CASE WHEN NOT COALESCE({sql}, false) THEN {1 << i} ELSE 0 END)"
        for i, (_, sql) in enumerate(_DQ_RULES)
    )
    tagged = li.selectExpr(f"{mask} AS __m", *prof_cols)
    # one COUNT slot (and one unpivot struct) per non-empty rule
    # subset: 2^n - 1 grows exponentially, so past 6 rules (63 slots)
    # group by the mask instead — GROUP BY __m, one row per combo that
    # occurs, its name built from the set bits
    assert len(names) <= 6, f"{len(names)} DQ rules need the grouped-by-combo form"
    # one global aggregate: report slots (sum → NULL on empty input,
    # matching expect_report), combo counts (count → 0, so empty
    # combos filter out), profile null/min/max slots (typed min/max,
    # string canonicalization after, exactly as profile_table)
    combos = list(range(1, 1 << len(names)))
    aggs = [
        f"SUM(CASE WHEN (__m & {1 << i}) != 0 THEN 1 ELSE 0 END) AS __v_{i}"
        for i in range(len(names))
    ]
    aggs.append("COUNT(1) AS __n")
    aggs += [f"COUNT(CASE WHEN __m = {m} THEN 1 END) AS __q_{m}" for m in combos]
    for i, c in enumerate(prof_cols):
        aggs += [
            f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS __nn_{i}",
            f"MIN({c}) AS __mn_{i}",
            f"MAX({c}) AS __mx_{i}",
        ]
    row = tagged.selectExpr(*aggs)
    # unpivot the one result row through a single literal struct-array
    # explode — report, quarantine, and profile rows all come out of
    # THIS one branch, so the aggregate has exactly one consumer
    entries = []
    for i, nm in enumerate(names):
        entries.append(
            f"struct('report' AS part, '{nm}' AS s1, __v_{i} AS k1, __n AS k2, "
            f"round((__n - __v_{i}) / CAST(__n AS double), 4) AS v1, "
            f"CAST(NULL AS int) AS __idx)"
        )
    for m in combos:
        # rule names never contain ',' — the combo string is exactly
        # array_join(violations, ',') in rule DEFINITION order
        s1 = ",".join(nm for i, nm in enumerate(names) if (m >> i) & 1)
        entries.append(
            f"struct('quarantine' AS part, '{s1}' AS s1, __q_{m} AS k1, "
            f"CAST(NULL AS bigint) AS k2, CAST(NULL AS double) AS v1, "
            f"CAST(NULL AS int) AS __idx)"
        )
    for i, c in enumerate(prof_cols):
        entries.append(
            f"struct('profile' AS part, "
            f"concat_ws('|', '{c}', COALESCE(CAST(__mn_{i} AS string), ''), "
            f"COALESCE(CAST(__mx_{i} AS string), '')) AS s1, "
            f"__nn_{i} AS k1, CAST(NULL AS bigint) AS k2, "
            f"CAST(NULL AS double) AS v1, {i} AS __idx)"
        )
    base = (
        row.selectExpr(f"explode(array({', '.join(entries)})) AS p")
        .selectExpr("p.*")
        .filter("part != 'quarantine' OR k1 > 0")
    )
    # exact distinct counts: profile_table's explode shape (map-side
    # partial dedup; the exchange carries distinct values, not rows)
    dstructs = ", ".join(
        f"struct({i} AS __idx, CAST({c} AS string) AS __v)"
        for i, c in enumerate(prof_cols)
    )
    distinct_counts = (
        li.selectExpr(f"explode(array({dstructs})) AS p")
        .selectExpr("p.*")
        .filter("__v IS NOT NULL")
        .groupBy("__idx", "__v")
        .agg(F.count(F.lit(1)).alias("__dc"))
        .groupBy("__idx")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    return base.join(F.broadcast(distinct_counts), "__idx", "left").selectExpr(
        "part",
        "s1",
        "k1",
        "CASE WHEN part = 'profile' THEN COALESCE(n_distinct, 0L) ELSE k2 END AS k2",
        "v1",
    )


@query(
    "fuzzy_match_dedup",
    oracle="""
    WITH n AS (
      SELECT s_suppkey AS id, LOWER(TRIM(s_name)) AS nm FROM supplier
    ), k AS (
      SELECT id, nm, 0 AS bi, SUBSTRING(nm, 13, 6) AS bk FROM n
      UNION ALL
      SELECT id, nm, 1 AS bi, SUBSTRING(nm, 10, 3) || SUBSTRING(nm, 16, 3) AS bk FROM n
      UNION ALL
      SELECT id, nm, 2 AS bi, SUBSTRING(nm, 10, 6) AS bk FROM n
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.nm AS name_a, b.nm AS name_b
      FROM k a JOIN k b ON a.bi = b.bi AND a.bk = b.bk AND a.id < b.id
      WHERE levenshtein(a.nm, b.nm) <= 1
    ), rt AS (
      SELECT id + 100000 AS rid,
             SUBSTRING(nm, 1, 11) || 'x' || SUBSTRING(nm, 13) AS rnm
      FROM n
    ), rk AS (
      SELECT rid, rnm, 0 AS bi, SUBSTRING(rnm, 13, 6) AS bk FROM rt
      UNION ALL
      SELECT rid, rnm, 1 AS bi, SUBSTRING(rnm, 10, 3) || SUBSTRING(rnm, 16, 3) AS bk FROM rt
      UNION ALL
      SELECT rid, rnm, 2 AS bi, SUBSTRING(rnm, 10, 6) AS bk FROM rt
    ), xmatch AS (
      SELECT DISTINCT l.id, r.rid, l.nm, r.rnm, levenshtein(l.nm, r.rnm) AS dist
      FROM k l JOIN rk r ON l.bi = r.bi AND l.bk = r.bk
      WHERE levenshtein(l.nm, r.rnm) <= 1
    ), best AS (
      SELECT id, rid, nm, rnm, dist,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY dist ASC, rid ASC) AS rn
      FROM xmatch
    )
    SELECT 'self' AS part, id_a, id_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
    FROM cand
    UNION ALL
    SELECT 'join' AS part, id AS id_a, rid AS id_b, nm AS name_a, rnm AS name_b,
           CAST(dist AS INTEGER) AS dist
    FROM best WHERE rn = 1
    """,
)
def fuzzy_match_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching over supplier names
    (operators/fuzzy.py + pigeonhole_blocks), one suite.

    - part='self': within-table pairs within Levenshtein 1
      (fuzzy_pairs). The name shape 'supplier#ddddddddd' is the
      degenerate regime for naive prefix blocking (every name shares
      the prefix), so the blocks are the 3-region pigeonhole over the
      9 varying digits: each key concatenates 2 of the 3 digit
      regions, so one substitution anywhere leaves a full key intact
      (TOTAL recall at distance 1) while key cardinality grows with
      the corpus and block sizes stay bounded;
    - part='join': cross-table RECORD LINKAGE (fuzzy_join,
      best_match_only) — every supplier linked to its closest name in
      a deterministically typo'd copy (digit 3 replaced by 'x'), ties
      broken by lowest right id; the systematic form of the
      reference's hand-maintained name dictionary.

    shuffle_hash candidate joins, exact verify before the cross-block
    dedup, nothing broadcast. Fully deterministic, hence the complete
    value oracle.
    """
    from ..operators.fuzzy import fuzzy_join, pigeonhole_blocks

    sup = _t(spark, sf_dir, "supplier")
    blocks = pigeonhole_blocks(10, 9)
    self_part = fuzzy_pairs(
        sup, "s_suppkey", "s_name", max_dist=1, blocks=blocks
    ).select(
        F.lit("self").alias("part"),
        "id_a",
        "id_b",
        "name_a",
        "name_b",
        F.col("dist").cast("int").alias("dist"),
    )
    typod = sup.select(
        (F.col("s_suppkey") + 100000).alias("rid"),
        F.concat(
            F.substring("s_name", 1, 11), F.lit("x"), F.substring("s_name", 13, 1 << 20)
        ).alias("rnm"),
    )
    join_part = fuzzy_join(
        sup, typod, "s_suppkey", "s_name", "rid", "rnm",
        max_dist=1, blocks=blocks, best_match_only=True,
    ).select(
        F.lit("join").alias("part"),
        F.col("left_id").alias("id_a"),
        F.col("right_id").alias("id_b"),
        F.col("left_name").alias("name_a"),
        F.col("right_name").alias("name_b"),
        F.col("dist").cast("int").alias("dist"),
    )
    return self_part.unionByName(join_part)
