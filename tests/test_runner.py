"""End-to-end ETL runner: stage chaining, per-stage retries,
short-circuit on failure, and the versioned load landing — the
reference DAG's extract >> transform >> load contract as library code."""

from __future__ import annotations

import os
import tempfile
from urllib.parse import urlparse

import pytest

from etl_football_analytics_pipeline_spark.pipeline.runner import run_etl
from etl_football_analytics_pipeline_spark.sources.versioned import current_version

_STATS = (
    "min,Performance_Gls,Expected_xG,Expected_xAG,Performance_Ast,Performance_PK,"
    "Performance_PKatt,Performance_Sh,Performance_SoT,Performance_CrdY,Performance_CrdR,"
    "Performance_Touches,Performance_Tkl,Performance_Int,Performance_Blocks,SCA_SCA,"
    "SCA_GCA,Passes_Cmp,Passes_Att,Passes_Cmp%,Passes_PrgP,Carries_Carries,Carries_PrgC,"
    "Take-Ons_Att,Take-Ons_Succ"
)
_STAT_ROW = "90,1,0.4,0.1,0,0,0,2,1,0,0,50,2,1,1,3,1,30,40,75.0,4,20,2,3,1"
_G1, _G2 = "2023-08-12 Arsenal-Chelsea", "2023-08-19 Chelsea-Arsenal"

# the six raw files of one tiny league, with the dirty traits the
# transform must handle: Q-prefixed ids, an embedded header row, a
# match not played yet (NULL result), a "1." rank, a ".0" capacity
RAW_FILES = {
    "dim_team.csv": [
        "club_id,club_label,founding_year,venue_id,short_name",
        "Q1,Arsenal F.C.,1886,Q10,",
        "club_id,club_label,founding_year,venue_id,short_name",
        "Q2,Chelsea F.C.,1905,Q11,CHE",
    ],
    "dim_stadium.csv": [
        "venue_id,venue_label,capacity",
        "Q10,Emirates Stadium,60704.0",
        "Q11,Stamford Bridge,40341",
    ],
    "fbref_fact_team_match.csv": [
        "league,season,team,opponent,game,date,round,day,venue,result,GF,GA,xG,xGA,Poss,"
        "Captain,Formation,Opp Formation",
        f"ENG,2324,Arsenal,Chelsea,{_G1},2023-08-12 00:00:00,Matchweek 1,Sat,Home,W,2,1,"
        "1.8,0.9,55,Ann Smith,4-3-3,4-2-3-1",
        f"ENG,2324,Chelsea,Arsenal,{_G1},2023-08-12 00:00:00,Matchweek 1,Sat,Away,L,1,2,"
        "0.9,1.8,45,Bob Jones,4-2-3-1,4-3-3",
        f"ENG,2324,Chelsea,Arsenal,{_G2},2023-08-19 00:00:00,Matchweek 2,Sat,Home,,,,,,,"
        "Bob Jones,4-2-3-1,4-3-3",
    ],
    "fbref_fact_player_season_stats.csv": [
        "league,season,team,player,nation,pos,age,born",
        "ENG,2324,Arsenal,Ann Smith,ENG,MF,25,1998",
        "ENG,2324,Chelsea,Bob Jones,ESP,\"DF,MF\",27,1996",
    ],
    "fbref_fact_player_match_stats.csv": [
        f"season,game,team,player,nation,pos,{_STATS}",
        f"2324,{_G1},Arsenal,Ann Smith,ENG,MF,{_STAT_ROW}",
        f"season,game,team,player,nation,pos,{_STATS}",
        f"2324,{_G1},Chelsea,Bob Jones,ESP,DF,{_STAT_ROW}",
        f"2324,{_G1},Chelsea,Cy Young,USA,FW,{_STAT_ROW}",
    ],
    "team_point.csv": [
        "season_id,Match_Category,Rank,Team,MP,W,D,L,GF:GA,GD,Pts,Recent_Form",
        "2023-2024,overall,1.,Arsenal,1,1,0,0,2:1,1,3,W",
        "2023-2024,overall,2,Chelsea,1,0,0,1,1:2,-1,0,L",
    ],
}

# warehouse rows the files above load to
EXPECTED_ROWS = {
    "dim_team": 2,
    "dim_stadium": 2,
    "dim_match": 2,
    "dim_season": 1,
    "dim_player": 4,  # the embedded header's "player" too, as in the reference
    "fact_team_match": 2,
    "fact_player_match": 3,
    "fact_team_point": 2,
}


def write_raw(raw_dir: str) -> str:
    os.makedirs(raw_dir, exist_ok=True)
    for name, lines in RAW_FILES.items():
        with open(os.path.join(raw_dir, name), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    return raw_dir


@pytest.fixture
def raw(tmp_path) -> str:
    return write_raw(str(tmp_path / "raw-src"))


def test_full_chain_runs_and_loads_versioned_warehouse(spark, raw):
    tmp = tempfile.mkdtemp()
    processed, wh = os.path.join(tmp, "processed"), os.path.join(tmp, "warehouse")
    report = run_etl(spark, raw, processed, wh)
    assert report.ok, [s.error for s in report.stages]
    assert [s.name for s in report.stages] == ["transform", "load"]
    assert all(s.attempts == 1 for s in report.stages)
    # every loaded table committed as a v1 snapshot with rows
    for name, rows in report.table_rows.items():
        assert rows > 0, name
        assert current_version(os.path.join(wh, name)) == 1, name
    assert "dim_team" in report.table_rows
    assert report.table_rows == EXPECTED_ROWS
    # idempotent re-run: same rows, next version
    report2 = run_etl(spark, raw, processed, wh)
    assert report2.ok
    assert report2.table_rows == report.table_rows
    assert current_version(os.path.join(wh, "dim_team")) == 2


def test_extract_retries_then_succeeds(spark, raw):
    tmp = tempfile.mkdtemp()
    raw_dir = os.path.join(tmp, "raw")
    os.makedirs(raw_dir)
    calls = {"n": 0}

    def flaky_extract(s, raw_dir):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("transient")
        # "fetch" = make the raw dir usable by pointing at the CSVs
        for f in os.listdir(raw):
            if f.endswith(".csv"):
                os.symlink(os.path.join(raw, f), os.path.join(raw_dir, f))

    report = run_etl(
        spark, raw_dir, os.path.join(tmp, "p"), os.path.join(tmp, "w"),
        extract=flaky_extract, retries=2,
    )
    assert report.ok
    assert report.stages[0].name == "extract" and report.stages[0].attempts == 3
    # checkpoint stamped only after the successful attempt
    assert os.path.exists(os.path.join(raw_dir, ".last_extract_date.txt"))


def test_pipeline_returns_the_parquet_handoff(spark, raw, tmp_path):
    """The load consumes what the transform wrote: every frame
    run_pipeline returns scans only files under its out_dir, with the
    schema a plain read of those files infers. The
    tables come back in the serial order, dims then facts, though each
    wave builds concurrently."""
    from etl_football_analytics_pipeline_spark.pipeline.football import run_pipeline

    out_dir = str(tmp_path / "processed")
    processed = run_pipeline(spark, raw, out_dir)
    assert list(processed) == [
        "dim_player", "dim_team", "dim_match", "dim_season", "dim_stadium",
        "fact_team_match_clean", "fact_player_match_clean", "fact_team_point",
    ]
    for name, df in processed.items():
        # read back with the written schema: the same one, nullability
        # included, that footer inference would give
        assert df.schema == spark.read.parquet(os.path.join(out_dir, name)).schema, name
        files = df.inputFiles()
        assert files, name
        for f in files:
            path = urlparse(f).path
            assert os.path.dirname(path) == os.path.join(out_dir, name), (name, f)
            assert path.endswith(".parquet"), (name, f)


def test_job_groups_reach_worker_threads(spark, raw, tmp_path):
    """Tables build and commit in worker threads; every Spark job they
    start still carries the caller's job group."""
    from etl_football_analytics_pipeline_spark.pipeline.football import run_pipeline
    from etl_football_analytics_pipeline_spark.pipeline.warehouse import (
        to_warehouse,
        write_warehouse,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listeners = sc._jsc.sc().listenerBus()
    listeners.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "weekly load")
    try:
        processed = run_pipeline(spark, raw, str(tmp_path / "processed"))
        write_warehouse(spark, to_warehouse(processed), str(tmp_path / "wh"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    listeners.waitUntilEmpty()
    assert tracker.getJobIdsForGroup("g")
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_failed_table_surfaces_and_no_thread_outlives_the_call(spark, raw, tmp_path):
    """A table that fails inside a worker reaches the caller as its own
    exception type, after the other tables of its wave finished and
    with no thread left behind; run_etl's stage retry still records
    every attempt."""
    import shutil
    import threading

    from etl_football_analytics_pipeline_spark.pipeline.football import run_pipeline

    bad = str(tmp_path / "raw-bad")
    shutil.copytree(raw, bad)
    with open(os.path.join(bad, "dim_team.csv"), "w") as fh:
        fh.write("code,label\nQ1,Arsenal\n")
    out_dir = str(tmp_path / "processed")
    threads = threading.active_count()
    with pytest.raises(KeyError, match="club_id"):
        run_pipeline(spark, bad, out_dir)
    assert threading.active_count() == threads
    # the rest of the dimension wave ran to completion; no fact started
    for name in ("dim_player", "dim_match", "dim_season", "dim_stadium"):
        assert os.path.exists(os.path.join(out_dir, name, "_SUCCESS")), name
    assert not os.path.exists(os.path.join(out_dir, "fact_team_match_clean"))

    report = run_etl(spark, bad, out_dir, str(tmp_path / "wh"), retries=1)
    assert not report.ok
    assert [s.name for s in report.stages] == ["transform"]
    assert report.stages[0].attempts == 2
    assert report.stages[0].error.startswith("KeyError")
    assert threading.active_count() == threads


def test_failed_stage_short_circuits_chain(spark):
    tmp = tempfile.mkdtemp()

    def dead_extract(s, raw_dir):
        raise ConnectionError("down")

    report = run_etl(
        spark, os.path.join(tmp, "raw"), os.path.join(tmp, "p"), os.path.join(tmp, "w"),
        extract=dead_extract, retries=1,
    )
    assert not report.ok
    assert [s.name for s in report.stages] == ["extract"]
    assert report.stages[0].attempts == 2  # first try + 1 retry
    assert "ConnectionError" in report.stages[0].error
    assert report.table_rows == {}
    # no partial landing: transform/load never produced output dirs
    assert not os.path.isdir(os.path.join(tmp, "w"))

