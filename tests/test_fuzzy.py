"""Blocked fuzzy matching (operators/fuzzy.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_football_analytics_pipeline_spark.operators.fuzzy import (
    default_blocks,
    fuzzy_pairs,
)


def _names(spark):
    return spark.createDataFrame(
        [
            (1, "Manchester United"),
            (2, "Manchester Utd"),       # suffix edit, shares prefix
            (3, "manchester united "),   # normalizes to 1 → dist 0
            (4, "Mancester United"),     # interior typo, shares both blocks
            (5, "Liverpool"),
            (6, "Liverpol"),             # deletion, shares prefix
            (7, "XXiverpool"),           # head edits, shares suffix
        ],
        "id int, name string",
    )


def test_finds_expected_pairs(spark):
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_pairs(_names(spark), "id", "name", max_dist=3).collect()
    }
    assert got[(1, 3)] == 0  # normalization collapses case/trailing space
    assert got[(1, 4)] == 1
    assert got[(5, 6)] == 1
    assert got[(5, 7)] == 2  # caught by the SUFFIX block
    assert (1, 5) not in got and (1, 2) in got


def test_blocking_bounds_candidates(spark):
    # names sharing neither 4-prefix nor 4-suffix are never candidates,
    # even within max_dist — documented block-design recall
    df = spark.createDataFrame(
        [(1, "abcdWXYZ"), (2, "abXdWXeZ")], "id int, name string"
    )
    # dist('abcdwxyz','abxdwxez') = 2 ≤ max_dist, but prefix blocks
    # 'abcd' != 'abxd' and suffix blocks 'zyxw' != 'zexw' → never a
    # candidate: blocking recall is the contract, not a bug
    assert fuzzy_pairs(df, "id", "name", max_dist=3).count() == 0
    # a block design matching the invariant (here: chars 4..6 'dwx'
    # untouched in both) recovers the pair
    mid = [lambda c: F.substring(c, 4, 3)]
    got = fuzzy_pairs(df, "id", "name", max_dist=3, blocks=mid).collect()
    assert len(got) == 1 and got[0].dist == 2


def test_max_block_size_drops_hot_keys(spark):
    rows = [(i, f"same{i % 2}") for i in range(20)] + [(100, "uniq"), (101, "uniqX")]
    df = spark.createDataFrame(rows, "id int, name string")
    out = fuzzy_pairs(df, "id", "name", max_dist=2, max_block_size=5).collect()
    # the 'same*' keys blow the cap and are excluded; the uniq pair stays
    assert {(r.id_a, r.id_b) for r in out} == {(100, 101)}


def test_no_cartesian_and_shuffle_hash(spark, sf_dir):
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    plan = (
        fuzzy_pairs(sup, "s_suppkey", "s_name", max_dist=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "ShuffledHashJoin" in plan


def test_supplier_names_ground_truth(spark, sf_dir):
    """Supplier names are 'Supplier#NNNNNNNNN' — every pair differing
    in ≤1 digit positions is within dist 1 and shares the 4-prefix
    block, so recall here is total."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").limit(60)
    got = fuzzy_pairs(sup, "s_suppkey", "s_name", max_dist=1)
    names = {r.s_suppkey: r.s_name.lower().strip() for r in sup.collect()}
    import itertools

    def lev1(x, y):
        if x == y:
            return True
        if len(x) == len(y):
            return sum(a != b for a, b in zip(x, y)) <= 1
        return False  # equal-length ids here

    expect = {
        (a, b)
        for a, b in itertools.combinations(sorted(names), 2)
        if lev1(names[a], names[b])
    }
    assert {(r.id_a, r.id_b) for r in got.collect()} == expect


def test_pigeonhole_blocks_total_recall_dist1(spark):
    """Any single substitution in the varying span is caught: one of
    the three 2-region keys is shared verbatim."""
    from etl_football_analytics_pipeline_spark.operators.fuzzy import (
        pigeonhole_blocks,
    )

    # base name + one variant per digit position (9 variants)
    base = "entity#123456789"
    rows = [(0, base)] + [
        (p + 1, base[: 7 + p] + "x" + base[8 + p :]) for p in range(9)
    ]
    df = spark.createDataFrame(rows, "id int, name string")
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs(
            df, "id", "name", max_dist=1, blocks=pigeonhole_blocks(8, 9)
        ).collect()
    }
    # every variant pairs with the base
    assert {(0, i) for i in range(1, 10)} <= got


def test_pigeonhole_blocks_bound_block_sizes(spark):
    """On dense ids every pigeonhole key spans 6 of 9 digits, so block
    sizes stay bounded (~10^3) instead of one corpus-sized prefix
    block."""
    from etl_football_analytics_pipeline_spark.operators.fuzzy import (
        pigeonhole_blocks,
    )

    names = spark.range(5000).select(
        F.col("id").alias("nid"),
        F.format_string("Entity#%09d", F.col("id")).alias("nm"),
    )
    norm = F.lower(F.trim(F.col("nm")))
    for fn in pigeonhole_blocks(8, 9):
        biggest = (
            names.groupBy(fn(norm).alias("bk")).count().agg(F.max("count")).collect()[0][0]
        )
        assert biggest <= 1000


def test_fuzzy_join_links_sources(spark):
    from etl_football_analytics_pipeline_spark.operators.fuzzy import fuzzy_join

    api = spark.createDataFrame(
        [(1, "Manchester United"), (2, "Liverpool"), (3, "Arsenal")],
        "id int, name string",
    )
    scraped = spark.createDataFrame(
        [(10, "manchester unitedd"), (11, "Liverpol"), (12, "Chelsea"), (13, "LIVERPOOL ")],
        "sid int, sname string",
    )
    got = fuzzy_join(api, scraped, "id", "name", "sid", "sname", max_dist=2)
    pairs = {(r.left_id, r.right_id): r.dist for r in got.collect()}
    assert pairs[(1, 10)] == 1 and pairs[(2, 11)] == 1 and pairs[(2, 13)] == 0
    assert not any(l == 3 for l, _ in pairs)  # Chelsea ≠ Arsenal
    best = fuzzy_join(
        api, scraped, "id", "name", "sid", "sname", max_dist=2, best_match_only=True
    )
    bm = {r.left_id: (r.right_id, r.dist) for r in best.collect()}
    assert bm == {1: (10, 1), 2: (13, 0)}  # exact beats dist-1; one row per left


def test_fuzzy_join_no_broadcast_of_either_side(spark, sf_dir):
    from etl_football_analytics_pipeline_spark.operators.fuzzy import fuzzy_join

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    plan = (
        fuzzy_join(sup, cust, "s_suppkey", "s_name", "c_custkey", "c_name", max_dist=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_hot_key_salting_preserves_pair_set(spark):
    """r12 (guide §2.5): hot block keys get a deterministic salt +
    build-side replication so the verify join parallelizes. The pair
    set must be EXACTLY the unsalted one — pin salted vs effectively-
    unsalted (hot_block_min past the corpus size) on a corpus whose
    shared prefix makes one degenerate block."""
    from etl_football_analytics_pipeline_spark.operators.fuzzy import fuzzy_join

    rows = [(i, f"entity-{i:04d}") for i in range(300)]
    df = spark.createDataFrame(rows, "id int, name string")
    key = lambda r: (r.id_a, r.id_b)  # noqa: E731

    salted = fuzzy_pairs(df, "id", "name", max_dist=1, salt_k=8, hot_block_min=16)
    plain = fuzzy_pairs(df, "id", "name", max_dist=1, hot_block_min=10**9)
    assert sorted(salted.collect(), key=key) == sorted(plain.collect(), key=key)

    right = df.select((F.col("id") + 1000).alias("rid"), F.col("name").alias("rnm"))
    j_salt = fuzzy_join(
        df, right, "id", "name", "rid", "rnm",
        max_dist=1, salt_k=8, hot_block_min=16, best_match_only=True,
    )
    j_plain = fuzzy_join(
        df, right, "id", "name", "rid", "rnm",
        max_dist=1, hot_block_min=10**9, best_match_only=True,
    )
    jkey = lambda r: (r.left_id, r.right_id)  # noqa: E731
    assert sorted(j_salt.collect(), key=jkey) == sorted(j_plain.collect(), key=jkey)


def test_hot_key_predicate_flags_exactly_the_hot_keys(spark):
    """The literal hot-key test matches (__bidx, __bkey) pairs, not
    either column alone: key "a" is hot in block 0 only."""
    from etl_football_analytics_pipeline_spark.operators.fuzzy import _hot_pred

    keyed = spark.createDataFrame(
        [(0, "a")] * 4 + [(0, "b")] * 2 + [(1, "a")] + [(1, "c")] * 3,
        "__bidx int, __bkey string",
    )
    pred, fallback = _hot_pred([keyed], hot_block_min=3)
    assert fallback is None
    got = {(r["__bidx"], r["__bkey"]) for r in keyed.filter(pred).collect()}
    assert got == {(0, "a"), (1, "c")}
