"""The reference dashboard's 15 SQL queries as a Spark SQL surface.

`scr/ui.py:44-314` issues these against PostgreSQL via `pd.read_sql`;
here they run through `spark.sql` over the warehouse views registered
by `pipeline.warehouse.register_warehouse` — a user of the reference
can point the same queries at this engine. Translation is mechanical
and documented per SURVEY.md §3.3:

- `%s` positional params → `:name` named parameter markers
  (Spark parameterized SQL binds them as typed literals);
- quoted mixed-case identifiers (`ftp."Rank"`) → plain names (Spark
  resolution is case-insensitive; `Opp Formation` needs backticks);
- `CAST(x AS DECIMAL)` (Postgres: unconstrained numeric) →
  `CAST(x AS DECIMAL(18,2))` (Spark's bare DECIMAL is DECIMAL(10,0),
  which would truncate);
- Postgres's implicit alias visibility in ORDER BY is kept — Spark
  allows ordering by select-list aliases directly.

Each function returns the lazy DataFrame; Catalyst plans the star
joins as broadcast-hash (dims are tiny) with aggregate pushdown —
the optimization PostgreSQL was doing for the reference now happens
in-engine.

Plan shape: the views read versioned snapshots, and a snapshot that
fits one scan split reads as one partition (`read_version` in
`sources/versioned.py`). One partition satisfies every grouping and
ordering requirement, so over such tables the aggregates, windows and
sorts plan no shuffle exchange, and a request runs as few Spark jobs
as its broadcasts and scans need. Larger snapshots keep their file
splits and shuffle as usual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["DASHBOARD_QUERIES", "run_dashboard_query"]

# name → (sql, param names) — `scr/ui.py` line citations inline.
DASHBOARD_QUERIES: dict[str, tuple[str, tuple[str, ...]]] = {
    # get_seasons — scr/ui.py:44-48
    "seasons": (
        "SELECT season_name FROM dim_season ORDER BY season_name DESC",
        (),
    ),
    # get_league_table — scr/ui.py:50-72
    "league_table": (
        """
        SELECT /*+ BROADCAST(dt, ds) */ ftp.Rank, dt.team_name, ftp.MP, ftp.W, ftp.D, ftp.L,
               ftp.GF, ftp.GA, ftp.GD, ftp.Pts
        FROM fact_team_point ftp
        JOIN dim_team dt ON ftp.team_id = dt.team_id
        JOIN dim_season ds ON ftp.season_id = ds.season_id
        WHERE ds.season_name = :season_name
          AND ftp.Match_Category = 'overall'
        ORDER BY ftp.Rank
        """,
        ("season_name",),
    ),
    # get_top_scorers — scr/ui.py:75-93
    "top_scorers": (
        """
        SELECT /*+ BROADCAST(dp, dt, ds) */ dp.player_name, dt.team_name, SUM(fpm.goals) AS total_goals
        FROM fact_player_match fpm
        JOIN dim_player dp ON fpm.player_id = dp.player_id
        JOIN dim_team dt ON fpm.team_id = dt.team_id
        JOIN dim_season ds ON fpm.season = ds.season_id
        WHERE ds.season_name = :season_name
        GROUP BY dp.player_name, dt.team_name
        HAVING SUM(fpm.goals) > 0
        ORDER BY total_goals DESC
        LIMIT :limit
        """,
        ("season_name", "limit"),
    ),
    # get_top_assisters — scr/ui.py:96-115
    "top_assisters": (
        """
        SELECT /*+ BROADCAST(dp, dt, ds) */ dp.player_name, dt.team_name, SUM(fpm.assists) AS total_assists
        FROM fact_player_match fpm
        JOIN dim_player dp ON fpm.player_id = dp.player_id
        JOIN dim_team dt ON fpm.team_id = dt.team_id
        JOIN dim_season ds ON fpm.season = ds.season_id
        WHERE ds.season_name = :season_name
        GROUP BY dp.player_name, dt.team_name
        HAVING SUM(fpm.assists) > 0
        ORDER BY total_assists DESC
        LIMIT :limit
        """,
        ("season_name", "limit"),
    ),
    # get_season_overview_stats — scr/ui.py:117-128
    "season_overview": (
        """
        SELECT /*+ BROADCAST(ds) */ COALESCE(COUNT(DISTINCT ftm.game_id), 0) AS total_matches,
               COALESCE(SUM(ftm.GF), 0) AS total_goals
        FROM fact_team_match ftm
        JOIN dim_season ds ON ftm.season = ds.season_id
        WHERE ds.season_name = :season_name
        """,
        ("season_name",),
    ),
    # get_teams — scr/ui.py:131-142
    "teams": (
        """
        SELECT /*+ BROADCAST(dt, ds) */ DISTINCT dt.team_name
        FROM fact_team_point ftp
        JOIN dim_team dt ON ftp.team_id = dt.team_id
        JOIN dim_season ds ON ftp.season_id = ds.season_id
        WHERE ds.season_name = :season_name
        ORDER BY dt.team_name
        """,
        ("season_name",),
    ),
    # get_team_kpis — scr/ui.py:145-156
    "team_kpis": (
        """
        SELECT /*+ BROADCAST(dt, ds) */ ftp.W, ftp.D, ftp.L, ftp.GF, ftp.GA, ftp.Pts, ftp.Rank
        FROM fact_team_point ftp
        JOIN dim_team dt ON ftp.team_id = dt.team_id
        JOIN dim_season ds ON ftp.season_id = ds.season_id
        WHERE ds.season_name = :season_name AND dt.team_name = :team_name
          AND LOWER(ftp.Match_Category) = 'overall'
        """,
        ("season_name", "team_name"),
    ),
    # get_team_top_scorers — scr/ui.py:158-173
    "team_top_scorers": (
        """
        SELECT /*+ BROADCAST(dp, dt, ds) */ dp.player_name, SUM(fpm.goals) AS total_goals
        FROM fact_player_match fpm
        JOIN dim_player dp ON fpm.player_id = dp.player_id
        JOIN dim_team dt ON fpm.team_id = dt.team_id
        JOIN dim_season ds ON fpm.season = ds.season_id
        WHERE ds.season_name = :season_name AND dt.team_name = :team_name
        GROUP BY dp.player_name
        HAVING SUM(fpm.goals) > 0
        ORDER BY total_goals DESC
        LIMIT :limit
        """,
        ("season_name", "team_name", "limit"),
    ),
    # get_xg_vs_goals_data — scr/ui.py:176-191 (the derived
    # `performance` column is computed client-side there; folded into
    # the query here, P5)
    "xg_vs_goals": (
        """
        SELECT /*+ BROADCAST(dt, ds) */ dt.team_name,
               SUM(ftm.GF) AS total_goals,
               SUM(ftm.xG) AS total_xg,
               SUM(ftm.GF) - SUM(ftm.xG) AS performance
        FROM fact_team_match ftm
        JOIN dim_team dt ON ftm.team_id = dt.team_id
        JOIN dim_season ds ON ftm.season = ds.season_id
        WHERE ds.season_name = :season_name
        GROUP BY dt.team_name
        """,
        ("season_name",),
    ),
    # get_home_away_performance — scr/ui.py:194-215 (subquery + alias
    # in ORDER BY, conditional aggregation A5)
    "home_away": (
        """
        SELECT *
        FROM (
            SELECT /*+ BROADCAST(dt, ds) */ dt.team_name,
                   SUM(CASE WHEN LOWER(ftp.Match_Category) = 'home' THEN ftp.Pts ELSE 0 END) AS home_pts,
                   SUM(CASE WHEN LOWER(ftp.Match_Category) = 'away' THEN ftp.Pts ELSE 0 END) AS away_pts,
                   SUM(CASE WHEN LOWER(ftp.Match_Category) = 'home' THEN ftp.W ELSE 0 END) AS home_wins,
                   SUM(CASE WHEN LOWER(ftp.Match_Category) = 'away' THEN ftp.W ELSE 0 END) AS away_wins
            FROM fact_team_point ftp
            JOIN dim_team dt ON ftp.team_id = dt.team_id
            JOIN dim_season ds ON ftp.season_id = ds.season_id
            WHERE ds.season_name = :season_name
              AND LOWER(ftp.Match_Category) IN ('home', 'away')
            GROUP BY dt.team_name
        ) AS performance_summary
        ORDER BY (performance_summary.home_pts + performance_summary.away_pts) DESC
        """,
        ("season_name",),
    ),
    # get_defensive_stats — scr/ui.py:218-234
    "defensive_stats": (
        """
        SELECT /*+ BROADCAST(dt, ds) */ dt.team_name,
               ftp.GA AS goals_conceded,
               ftp.MP AS matches_played,
               ROUND(CAST(ftp.GA AS DECIMAL(18,2)) / NULLIF(ftp.MP, 0), 2) AS avg_goals_conceded
        FROM fact_team_point ftp
        JOIN dim_team dt ON ftp.team_id = dt.team_id
        JOIN dim_season ds ON ftp.season_id = ds.season_id
        WHERE ds.season_name = :season_name AND LOWER(ftp.Match_Category) = 'overall'
        ORDER BY avg_goals_conceded ASC
        """,
        ("season_name",),
    ),
    # get_offensive_stats — scr/ui.py:237-252
    "offensive_stats": (
        """
        SELECT /*+ BROADCAST(dt, ds) */ dt.team_name,
               ftp.GF AS goals_scored,
               ftp.MP AS matches_played,
               ROUND(CAST(ftp.GF AS DECIMAL(18,2)) / NULLIF(ftp.MP, 0), 2) AS avg_goals_scored
        FROM fact_team_point ftp
        JOIN dim_team dt ON ftp.team_id = dt.team_id
        JOIN dim_season ds ON ftp.season_id = ds.season_id
        WHERE ds.season_name = :season_name AND LOWER(ftp.Match_Category) = 'overall'
        ORDER BY avg_goals_scored DESC
        """,
        ("season_name",),
    ),
    # get_season_comparison — scr/ui.py:255-269
    "season_comparison": (
        """
        SELECT /*+ BROADCAST(ds) */ ds.season_name,
               COUNT(DISTINCT ftm.game_id) AS total_matches,
               SUM(ftm.GF) AS total_goals,
               ROUND(CAST(SUM(ftm.GF) AS DECIMAL(18,2))
                     / NULLIF(COUNT(DISTINCT ftm.game_id), 0), 2) AS avg_goals_per_match
        FROM fact_team_match ftm
        JOIN dim_season ds ON ftm.season = ds.season_id
        GROUP BY ds.season_name
        ORDER BY ds.season_name DESC
        """,
        (),
    ),
    # get_team_recent_form — scr/ui.py:272-292 (dim self-join for the
    # opponent role, J3; recent-k T2)
    "team_recent_form": (
        """
        SELECT /*+ BROADCAST(dt, o_dt, ds, dm) */ dm.match_date,
               o_dt.team_name AS opponent_name,
               ftm.venue, ftm.result,
               ftm.GF AS goals_for,
               ftm.GA AS goals_against
        FROM fact_team_match ftm
        JOIN dim_team dt ON ftm.team_id = dt.team_id
        JOIN dim_team o_dt ON ftm.opponent_id = o_dt.team_id
        JOIN dim_season ds ON ftm.season = ds.season_id
        JOIN dim_match dm ON ftm.game_id = dm.match_id
        WHERE ds.season_name = :season_name AND dt.team_name = :team_name
        ORDER BY dm.match_date DESC
        LIMIT :limit
        """,
        ("season_name", "team_name", "limit"),
    ),
    # get_top_bottom_performers — scr/ui.py:295-314
    "top_bottom_performers": (
        """
        SELECT /*+ BROADCAST(dt, ds) */ dt.team_name, ftp.Pts, ftp.GF, ftp.GA, ftp.GD, ftp.W, ftp.D, ftp.L
        FROM fact_team_point ftp
        JOIN dim_team dt ON ftp.team_id = dt.team_id
        JOIN dim_season ds ON ftp.season_id = ds.season_id
        WHERE ds.season_name = :season_name AND LOWER(ftp.Match_Category) = 'overall'
        ORDER BY ftp.Pts DESC
        """,
        ("season_name",),
    ),
}


def run_dashboard_query(spark: SparkSession, name: str, **params) -> DataFrame:
    """Run one dashboard query by name over the registered warehouse
    views (pipeline.warehouse.register_warehouse first)."""
    sql, wanted = DASHBOARD_QUERIES[name]
    missing = [p for p in wanted if p not in params]
    if missing:
        raise TypeError(f"dashboard query {name!r} needs params {missing}")
    return spark.sql(sql, args={k: params[k] for k in wanted})
