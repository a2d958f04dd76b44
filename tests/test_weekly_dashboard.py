"""The weekly job end to end on a generated league, with no reference
snapshot: `perfbench/footgen.py` writes the raw layer, `run_pipeline`
and `write_warehouse` load it into the versioned warehouse, and the 15
dashboard queries run over the live snapshots. Each answer is checked
against DuckDB over the same parquet files, as the football_weekly
benchmark checks it (`football_wl.DuckCheck`), and each executed plan is
checked for shuffle exchanges: warehouse tables that fit one scan split
read as one partition (`utils.coalesce_small`)."""

from __future__ import annotations

import os
import re
import sys

import pytest

from etl_football_analytics_pipeline_spark.pipeline.football import run_pipeline
from etl_football_analytics_pipeline_spark.pipeline.warehouse import (
    register_warehouse,
    to_warehouse,
    write_warehouse,
)
from etl_football_analytics_pipeline_spark.plans.dashboard import (
    DASHBOARD_QUERIES,
    run_dashboard_query,
)
from etl_football_analytics_pipeline_spark.sources.versioned import (
    current_version,
    read_latest,
    version_dir,
)

pytest.importorskip("duckdb")
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "perfbench"))
import football_wl  # noqa: E402 — the benchmark's DuckDB check and answer form
import footgen  # noqa: E402

LEAGUE_SEED, WEEK = 7, 9


def _live(wh: str, name: str) -> str:
    table = os.path.join(wh, name)
    return version_dir(table, current_version(table))


@pytest.fixture(scope="module")
def weekly(spark, tmp_path_factory):
    league = footgen.League(LEAGUE_SEED)
    root = tmp_path_factory.mktemp("weekly")
    raw, wh = str(root / "raw"), str(root / "wh")
    expected = league.write(raw, WEEK)
    loaded = write_warehouse(spark, to_warehouse(run_pipeline(spark, raw, str(root / "p"))), wh)
    assert {name: df.count() for name, df in loaded.items()} == expected
    register_warehouse(spark, loaded)
    return {"wh": wh, "league": league, "tables": sorted(loaded)}


def _requests(league) -> list[tuple[str, dict]]:
    """Every query once per season (a team of that season, limit 5);
    queries without a season parameter once."""
    out, seen = [], set()
    for year in league.seasons:
        params = {"season_name": f"{year}-{year + 1}",
                  "team_name": league.teams_in(year)[year % 7], "limit": 5}
        for name, (_, names) in sorted(DASHBOARD_QUERIES.items()):
            req = {k: params[k] for k in names}
            key = (name, tuple(sorted(req.items())))
            if key not in seen:
                seen.add(key)
                out.append((name, req))
    return out


def _shuffles(df) -> list[str]:
    """Shuffle exchanges (and AQE shuffle stages) in the executed plan;
    broadcast exchanges are not shuffles."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [line.strip() for line in plan.splitlines()
            if re.search(r"(?<![A-Za-z])Exchange |ShuffleQueryStage", line)]


def test_dashboard_answers_match_duckdb_without_shuffles(spark, weekly):
    duck = football_wl.DuckCheck(weekly["wh"])
    try:
        requests = _requests(weekly["league"])
        assert {name for name, _ in requests} == set(DASHBOARD_QUERIES)
        for name, params in requests:
            df = run_dashboard_query(spark, name, **params)
            rows = df.collect()
            assert _shuffles(df) == [], (name, params)
            got = football_wl._answer_key(name, df.columns, rows)
            assert got == duck.expected(name, params), (name, params)
    finally:
        duck.close()


def test_only_snapshots_within_one_split_read_as_one_partition(spark, weekly):
    wh = weekly["wh"]
    for name in weekly["tables"]:
        assert read_latest(spark, os.path.join(wh, name)).rdd.getNumPartitions() == 1, name
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8k")
    try:
        live = _live(wh, "fact_player_match")
        files = spark.read.parquet(live).rdd.getNumPartitions()
        assert files > 1
        big = read_latest(spark, os.path.join(wh, "fact_player_match"))
        assert big.rdd.getNumPartitions() == files
        assert read_latest(spark, os.path.join(wh, "dim_season")).rdd.getNumPartitions() == 1
    finally:
        spark.conf.set(key, prev)
