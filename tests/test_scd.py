"""SCD Type-2 history + snapshot CDC (operators/scd.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_football_analytics_pipeline_spark.operators.scd import (
    scd2_build,
    table_diff,
)


def _ts(day: int) -> dt.datetime:
    return dt.datetime(2024, 1, day)


def _feed(spark):
    # key 1: A@1, A@2 (no-op, collapses), B@3, B@5 (no-op), A@7
    # key 2: X@2 only
    # key 3: null@1, Y@4  (null attr is a real state)
    rows = [
        (1, "A", _ts(1), 10),
        (1, "A", _ts(2), 11),
        (1, "B", _ts(3), 12),
        (1, "B", _ts(5), 13),
        (1, "A", _ts(7), 14),
        (2, "X", _ts(2), 15),
        (3, None, _ts(1), 16),
        (3, "Y", _ts(4), 17),
    ]
    return spark.createDataFrame(rows, "k int, attr string, ts timestamp, src_id int")


def test_scd2_build_collapses_and_orders(spark):
    hist = scd2_build(_feed(spark), ["k"], ["attr"], "ts", "src_id")
    got = {
        (r.k, r.version): (r.attr, r.effective_from, r.effective_to, r.is_current)
        for r in hist.collect()
    }
    assert got[(1, 1)] == ("A", _ts(1), _ts(3), False)
    assert got[(1, 2)] == ("B", _ts(3), _ts(7), False)
    assert got[(1, 3)] == ("A", _ts(7), None, True)
    assert got[(2, 1)] == ("X", _ts(2), None, True)
    assert got[(3, 1)] == (None, _ts(1), _ts(4), False)
    assert got[(3, 2)] == ("Y", _ts(4), None, True)
    assert len(got) == 6
    # exactly one current row per key
    cur = hist.filter("is_current").groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_scd2_build_equal_ts_tiebreak(spark):
    rows = [(1, "B", _ts(1), 2), (1, "A", _ts(1), 1)]
    feed = spark.createDataFrame(rows, "k int, attr string, ts timestamp, src_id int")
    hist = scd2_build(feed, ["k"], ["attr"], "ts", "src_id")
    got = {r.version: r.attr for r in hist.collect()}
    assert got == {1: "A", 2: "B"}  # src_id breaks the ts tie


def test_table_diff_images_and_types(spark):
    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (4, "d", 4.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (3, None, 3.0), (5, "e", 5.0)],
        "k int, s string, v double",
    )
    d = {r.k: r for r in table_diff(old, new, ["k"], ["s", "v"]).collect()}
    assert set(d) == {2, 4, 5}  # 1 and 3 (null-safe equal) unchanged
    assert d[2].change_type == "update" and d[2].old_s == "b" and d[2].new_s == "B"
    assert d[4].change_type == "delete" and d[4].new_s is None and d[4].old_v == 4.0
    assert d[5].change_type == "insert" and d[5].old_s is None and d[5].new_v == 5.0


def test_scd2_single_shuffle_plan(spark):
    """The history build is one hash exchange on the key."""
    feed = _feed(spark)
    plan = scd2_build(feed, ["k"], ["attr"], "ts", "src_id")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_table_diff_prunes_columns(spark, sf_dir):
    """Only key + compare columns reach the parquet scan."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    old = orders.filter(F.col("o_orderkey") % 3 != 0)
    new = orders.filter(F.col("o_orderkey") % 2 == 0)
    plan = (
        table_diff(old, new, ["o_orderkey"], ["o_orderstatus"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "o_totalprice" not in plan


def test_scd2_lookup_point_in_time(spark):
    from etl_football_analytics_pipeline_spark.operators.scd import scd2_lookup

    hist = scd2_build(_feed(spark), ["k"], ["attr"], "ts", "src_id")
    facts = spark.createDataFrame(
        [
            (100, 1, _ts(1)),   # at interval start → A
            (101, 1, _ts(2)),   # inside [1,3) → A
            (102, 1, _ts(3)),   # boundary → B (half-open)
            (103, 1, _ts(20)),  # current → A (v3)
            (104, 2, _ts(1)),   # before key 2's first interval → dropped
            (105, 9, _ts(5)),   # unknown key → dropped
        ],
        "fact_id int, k int, ts timestamp",
    )
    got = {r.fact_id: (r.attr, r.version) for r in scd2_lookup(facts, hist, ["k"], "ts").collect()}
    assert got == {100: ("A", 1), 101: ("A", 1), 102: ("B", 2), 103: ("A", 3)}


def test_scd2_lookup_at_most_one_match(spark):
    """Same-timestamp change bursts create empty intervals; the
    half-open predicate keeps every fact's match unique."""
    from etl_football_analytics_pipeline_spark.operators.scd import scd2_lookup

    rows = [(1, "A", _ts(1), 1), (1, "B", _ts(1), 2), (1, "C", _ts(1), 3)]
    feed = spark.createDataFrame(rows, "k int, attr string, ts timestamp, src_id int")
    hist = scd2_build(feed, ["k"], ["attr"], "ts", "src_id")
    facts = spark.createDataFrame([(1, 1, _ts(1)), (2, 1, _ts(9))], "fact_id int, k int, ts timestamp")
    got = scd2_lookup(facts, hist, ["k"], "ts").collect()
    assert len(got) == 2
    assert all(r.attr == "C" for r in got)  # only the surviving burst state matches


# -- randomized SCD2 equivalence (hypothesis) ---------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    # per key: a few (day, attr) observations on distinct days
    feeds = st.dictionaries(
        keys=st.integers(1, 4),
        values=st.lists(
            st.tuples(st.integers(1, 5), st.sampled_from(["A", "B", "C", None])),
            min_size=1,
            max_size=5,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=4,
    )


    def _scd2_model(rows):
        """scd2_build stated row by row: per key in (ts, tiebreak)
        order, a new state opens whenever attr differs from the previous
        row's (None equal to None), and closes at the next state's ts."""
        out = []
        for k in sorted({r[0] for r in rows}):
            obs = sorted((r for r in rows if r[0] == k), key=lambda r: (r[2], r[3]))
            states = [r for i, r in enumerate(obs) if i == 0 or r[1] != obs[i - 1][1]]
            for v, r in enumerate(states, start=1):
                to = states[v][2] if v < len(states) else None
                out.append((k, r[1], r[2], to, to is None, v))
        return out

    @given(feed=feeds)
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_scd2_build_matches_python_model(spark, feed):
        """Randomized feeds with no-op repeats and null attrs: close
        timestamps, version numbers and is_current flags equal the
        row-by-row model."""
        rows = [
            (k, attr, _ts(day), k * 100 + day)
            for k, obs in feed.items()
            for day, attr in obs
        ]
        full = spark.createDataFrame(
            rows, "k int, attr string, ts timestamp, src_id int"
        )
        got = scd2_build(full, ["k"], ["attr"], "ts", "src_id").collect()
        assert sorted(map(tuple, got), key=repr) == sorted(_scd2_model(rows), key=repr)
