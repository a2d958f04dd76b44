"""The input generators are pure functions of their seed, and the
football counts they promise are what the pipeline loads."""

from __future__ import annotations

import filecmp
import os

import footgen
import regdata


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_regdata_is_deterministic_and_matches_the_registry_schemas(tmp_path):
    from etl_football_analytics_pipeline_spark.sources.registry import TABLES

    regdata.generate(str(tmp_path / "a"), 7)
    regdata.generate(str(tmp_path / "b"), 7)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    regdata.generate(str(tmp_path / "c"), 8)
    assert not _same_tree(tmp_path / "a", tmp_path / "c")

    tables = regdata.build_tables(7)
    assert set(tables) == set(TABLES)
    for name, schema in TABLES.items():
        assert tables[name].column_names == schema.names, name
    for name, n in regdata.SIZES.items():
        assert tables[name].num_rows == n
    docs = tables["documents"].column("text").to_pylist()
    assert len(set(docs)) == len(docs)
    assert sum(d.endswith(" dup") for d in docs) == len(docs) // 20


def test_footgen_snapshots_are_pure_functions_of_seed_and_week(tmp_path):
    a, b = footgen.League(3), footgen.League(3)
    exp_a = a.write(str(tmp_path / "a"), 5)
    b.write(str(tmp_path / "other"), 9)  # an earlier write must not change later ones
    exp_b = b.write(str(tmp_path / "b"), 5)
    assert exp_a == exp_b
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    footgen.League(4).write(str(tmp_path / "c"), 5)
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_footgen_league_changes_members_between_seasons():
    league = footgen.League(3)
    seasons = league.seasons
    assert len(seasons) == footgen.PRIOR_SEASONS + 1 > 1
    for s in seasons:
        assert len(set(league.members[s])) == footgen.LEAGUE_SIZE
    for prev, nxt in zip(seasons, seasons[1:]):
        down = set(league.members[prev]) - set(league.members[nxt])
        assert len(down) == footgen.SWAPS
        games = [g for week in league.games[prev] for g in week]
        table = footgen._standings(games, league.members[prev], "overall")
        assert down == set(table[-footgen.SWAPS:])
    assert len(set(league.teams_in(seasons[0])) ^ set(league.teams_in(seasons[-1]))) > 0


def test_footgen_counts_grow_by_one_matchweek():
    league = footgen.League(3)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        e5, e6 = league.write(os.path.join(d, "5"), 5), league.write(os.path.join(d, "6"), 6)
    per_week = footgen.GAMES_PER_WEEK
    assert e6["dim_match"] - e5["dim_match"] == per_week
    assert e6["fact_team_match"] - e5["fact_team_match"] == 2 * per_week
    assert e6["fact_player_match"] - e5["fact_player_match"] == 2 * per_week * footgen.PER_SIDE
    for t in ("dim_team", "dim_stadium", "dim_season", "dim_player", "fact_team_point"):
        assert e6[t] == e5[t], t


def test_weekly_loads_hold_the_generated_counts_and_reloads_are_idempotent(spark_env):
    import football_wl
    from harness import start_spark

    run_dir = str(spark_env)
    league = footgen.League(5)
    spark = start_spark(run_dir, "perfbench-test", None)
    try:
        wh = os.path.join(run_dir, "wh")
        for i, week in enumerate((2, 3, 3)):
            raw = os.path.join(run_dir, f"raw{i}")
            expected = league.write(raw, week)
            football_wl._load(spark, raw, os.path.join(run_dir, f"p{i}"), wh)
            assert football_wl._counts(wh) == expected, (week, i)
    finally:
        spark.stop()
