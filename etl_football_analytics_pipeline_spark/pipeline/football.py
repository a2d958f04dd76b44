"""Star-schema build pipeline — the reference's Transform stage
(`scr/Transform.py:69-798`) as composable, lazy Spark plans.

Semantic parity notes (each build function cites its reference lines):

- The reference's id assignment and keep-first dedup depend on RAW FILE
  ORDER (pandas frame order). Spark plans have no implicit row order,
  so `read_csv_with_order` attaches an explicit `__row` column that
  increases in file order (driver reads only the header; the data pass
  is Spark's own CSV scan, no Python workers) and every order-dependent
  step (A10 keep-first, T6 sequential ids) orders on `__row` —
  deterministic under any partitioning, identical to pandas order.
- Name-cleaning chains (X2/X3) are order-sensitive literal replaces;
  they are encoded token-for-token from the reference and verified
  against the committed `data_processed/*.csv` goldens in
  tests/test_football_pipeline.py.
- `dim_season` has NO creation code in the reference (static seed file,
  probed and skipped by the DAG at `dags/football_etl_dag.py:68-69`).
  SURVEY.md §1.4 mandates generating it from data; build_dim_season
  derives season ids/names and actual start/end dates from the match
  table — reproducing the reference's seed rows exactly.
"""

from __future__ import annotations

import csv as _csv
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.csv_utils import dedupe_names, read_string_csv
from ..utils import coalesce_small, run_concurrently


# ---------------------------------------------------------------------------
# Ordered CSV source
# ---------------------------------------------------------------------------


def read_csv_with_order(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan that carries the original file order as `__row`. All
    columns string-typed, like the reference's `dtype=str` re-reads
    (`scr/Extract.py:59-61`).

    The header line is read driver-side and deduped like
    `flatten_header_levels`; the data pass is Spark's own CSV scan
    (`read_string_csv`: empty fields NULL, short rows NULL-padded).
    `__row` is `monotonically_increasing_id()`: a file's splits are
    numbered in file-offset order, so it increases in file order under
    any split size — but it is not dense, so it gives order only. A
    file that fits one scan split reads as one partition
    (`utils.coalesce_small`, applied above `__row`, so the ids are
    those of the scan).
    """
    with open(path, newline="") as fh:
        header = next(_csv.reader(fh))
    names = dedupe_names([n.strip() for n in header])
    return coalesce_small(
        read_string_csv(spark, path, names).withColumn("__row", F.monotonically_increasing_id())
    )


# ---------------------------------------------------------------------------
# Cleaning chains (token lists verbatim from the reference)
# ---------------------------------------------------------------------------

# `scr/Transform.py:232-242` (dim_team, original case)
_REMOVE_WORDS_CASED = ["F.C.", "F.C", "FC", "AFC", "A.F.C.", "A.F.C"]
# `scr/Transform.py:426-427` (fact_team_match, lowercased input)
_REMOVE_WORDS_LOWER = ["f.c.", "f.c", "fc", "afc", "a.f.c.", "a.f.c"]

# `scr/Transform.py:245-257` (dim_team canonicalization, original case)
_NAME_MAP_CASED = {
    "Brighton & Hove Albion": "Brighton",
    "Manchester United": "Manchester Utd",
    "Newcastle United": "Newcastle Utd",
    "Sheffield United": "Sheffield Utd",
    "Tottenham Hotspur": "Tottenham",
    "West Bromwich Albion": "West Brom",
    "West Ham United": "West Ham",
    "Wolverhampton Wanderers": "Wolves",
    "A Bournemouth": "Bournemouth",
    "Nottingham Forest": "Nott'Ham Forest",
}

# `scr/Transform.py:407-421` (fact_team_match, lowercased)
_NAME_MAP_LOWER = {
    "brighton & hove albion": "brighton",
    "manchester united": "manchester utd",
    "newcastle united": "newcastle utd",
    "sheffield united": "sheffield utd",
    "tottenham hotspur": "tottenham",
    "west bromwich albion": "west brom",
    "west ham united": "west ham",
    "wolverhampton wanderers": "wolves",
    "nottingham forest": "nott'ham forest",
    "sunderland a.": "sunderland",
    "sunderland a f c": "sunderland",
    "swansea city a.": "swansea city a.",
    "hull city a.": "hull city a.",
}

# `scr/Transform.py:180-221` (short-code map, original case)
_SHORT_NAME_MAP = {
    "AFC Bournemouth": "BOU", "Arsenal F.C.": "ARS", "Aston Villa F.C.": "AVL",
    "Brentford F.C.": "BRE", "Brighton & Hove Albion F.C.": "BHA", "Chelsea F.C.": "CHE",
    "Crystal Palace F.C.": "CRY", "Everton F.C.": "EVE", "Fulham F.C.": "FUL",
    "Ipswich Town F.C.": "IPS", "Leicester City F.C.": "LEI", "Liverpool F.C.": "LIV",
    "Manchester City F.C.": "MCI", "Manchester United F.C.": "MUN",
    "Newcastle United F.C.": "NEW", "Nottingham Forest F.C.": "NOT",
    "Southampton F.C.": "SOU", "Tottenham Hotspur F.C.": "TOT",
    "West Ham United F.C.": "WHU", "Wolverhampton Wanderers F.C.": "WOL",
    "Blackburn Rovers F.C.": "BLA", "Bristol City F.C.": "BRC", "Burnley F.C.": "BUR",
    "Cardiff City F.C.": "CAR", "Coventry City F.C.": "COV", "Derby County F.C.": "DER",
    "Hull City A.F.C.": "HUL", "Leeds United F.C.": "LEE", "Luton Town F.C.": "LUT",
    "Middlesbrough F.C.": "MID", "Millwall F.C.": "MIL", "Norwich City F.C.": "NOR",
    "Oxford United F.C.": "OXF", "Plymouth Argyle F.C.": "PLY", "Portsmouth F.C.": "POR",
    "Preston North End F.C.": "PNE", "Queens Park Rangers F.C.": "QPR",
    "Sheffield United F.C.": "SHU", "Sheffield Wednesday F.C.": "SHW",
    "Stoke City F.C.": "STK", "Sunderland A.F.C.": "SUN", "Swansea City A.F.C.": "SWA",
    "Watford F.C.": "WAT", "West Bromwich Albion F.C.": "WBA",
}

# `scr/Transform.py:728-741` (fact_team_point pre-normalization map)
_POINT_NAME_MAP = {
    "Ipswich": "Ipswich Town", "Luton": "Luton Town", "Newcastle": "Newcastle utd",
    "Leeds": "Leeds United", "Leicester": "Leicester City", "Norwich": "Norwich City",
    "Nottingham": "Nott'ham forest", "Sunderland A.": "Sunderland",
    "Sunderland A F C": "Sunderland", "Swansea City A.": "Swansea City A.",
    "Hull City A.": "Hull City A.",
}


def _replace_literals(col: F.Column, tokens: list[str], replacement: str = "") -> F.Column:
    """Order-sensitive sequential literal substring replaces — the
    reference uses `str.replace` (not regex), so metacharacters are
    escaped."""
    for t in tokens:
        escaped = "".join("\\" + ch if ch in r"\.^$*+?()[]{}|" else ch for ch in t)
        col = F.regexp_replace(col, escaped, replacement)
    return col


def _map_values(col: F.Column, mapping: dict[str, str]) -> F.Column:
    """Exact-value dictionary replace (pandas `.replace`) as a when
    chain — maps are ≤46 entries, constant-foldable."""
    out = None
    for k, v in mapping.items():
        cond = col == F.lit(k)
        out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
    return out.otherwise(col) if out is not None else col


def _clean_team_name_cased(col: F.Column) -> F.Column:
    """dim_team cleaning (`scr/Transform.py:232-242`): strip suffix
    tokens, trim."""
    return F.trim(_replace_literals(col, _REMOVE_WORDS_CASED))


def _clean_team_name_lower(col: F.Column) -> F.Column:
    """fact-side cleaning (`scr/Transform.py:426-436,753-761`): strip
    lowercase tokens, then `rstrip(' .')`, remove literal ' a.',
    collapse ' a ' → ' ', trim — the exact chain incl. the
    idiosyncratic ' a.' handling."""
    c = _replace_literals(col, _REMOVE_WORDS_LOWER)
    c = F.regexp_replace(c, r"[ .]+$", "")        # rstrip(" .")
    c = F.regexp_replace(c, r"\ a\.", "")          # .replace(" a.", "")
    c = F.regexp_replace(c, r"\ a\ ", " ")         # .replace(" a ", " ")
    return F.trim(c)


def _strip_q_to_long(col: F.Column) -> F.Column:
    """Wikidata-id cleanup (`scr/Transform.py:260-264`): drop literal
    'Q', lenient cast (invalid → NULL)."""
    return F.regexp_replace(col, "Q", "").try_cast("long")


def _norm(col: F.Column) -> F.Column:
    """X1 — `astype(str).str.strip().str.lower()`."""
    return F.lower(F.trim(col))


def _drop_embedded_header_rows(df: DataFrame, cols: list[str]) -> DataFrame:
    """F2 — rows whose every value equals its own column name are
    re-embedded headers (`scr/Transform.py:143-144,288-290`)."""
    cond = None
    for c in cols:
        eq = F.col(c) == F.lit(c)
        cond = eq if cond is None else cond & eq
    return df.filter(~F.coalesce(cond, F.lit(False)))


# ---------------------------------------------------------------------------
# Dimensions
# ---------------------------------------------------------------------------


def build_dim_team(raw_team: DataFrame) -> DataFrame:
    """`create_dim_team` (`scr/Transform.py:136-267`): resolver-aliased
    projection, short-code fill, suffix-token cleaning, name
    canonicalization, Q-strip id casts."""
    from ..functions.resolver import find_column

    df = _drop_embedded_header_rows(raw_team, [c for c in raw_team.columns if c != "__row"])
    col_of = {
        "team_id": find_column(df, "club_id", "team_id"),
        "team_name": find_column(df, "club_label", "team_name"),
        "founded_year": find_column(df, "founding_year", "founded_year"),
        "stadium_id": find_column(df, "venue_id", "stadium_id"),
    }
    short_src = (
        F.col("short_name") if "short_name" in df.columns else F.lit(None).cast("string")
    )
    # fill missing short codes from the FULL team name (pre-cleaning),
    # `scr/Transform.py:223-230`
    short = F.when(
        short_src.isNull() | (F.trim(short_src) == ""),
        _map_values(F.col(col_of["team_name"]), _SHORT_NAME_MAP),
    ).otherwise(short_src)
    cleaned = _map_values(
        _clean_team_name_cased(F.col(col_of["team_name"])), _NAME_MAP_CASED
    )
    return df.select(
        _strip_q_to_long(F.col(col_of["team_id"])).alias("team_id"),
        cleaned.alias("team_name"),
        F.col(col_of["founded_year"]).try_cast("long").alias("founded_year"),
        _strip_q_to_long(F.col(col_of["stadium_id"])).alias("stadium_id"),
        short.alias("short_name"),
        F.col("__row"),
    ).drop("__row")


def build_dim_stadium(raw_stadium: DataFrame) -> DataFrame:
    """`create_dim_stadium` (`scr/Transform.py:270-340`): arity/header
    filters, resolver aliases (incl. the [sic] `statium_name`),
    capacity-literal filter, Q-strip, int casts. Output keeps the
    reference's `statium_name` typo — renamed at load like
    `scr/Load.py:76`."""
    from ..functions.resolver import find_column

    df = raw_stadium.na.drop(how="any", subset=[c for c in raw_stadium.columns if c != "__row"])
    df = _drop_embedded_header_rows(df, [c for c in df.columns if c != "__row"])
    col_of = {
        "stadium_id": find_column(df, "venue_id", "stadium_id"),
        "stadium_name": find_column(df, "venue_label", "stadium_name", "statium_name"),
        "capacity": find_column(df, "capacity"),
    }
    out = df.select(
        F.col(col_of["stadium_id"]).alias("stadium_id"),
        F.col(col_of["stadium_name"]).alias("statium_name"),
        F.col(col_of["capacity"]).alias("capacity"),
    )
    out = out.na.drop(subset=["stadium_id", "statium_name", "capacity"])
    out = out.filter(F.lower(F.col("capacity")) != "capacity")
    out = out.select(
        _strip_q_to_long(F.col("stadium_id")).alias("stadium_id"),
        "statium_name",
        F.col("capacity").try_cast("double").try_cast("long").alias("capacity"),
    )
    return out.na.drop(subset=["capacity"])


def build_dim_player(
    season_stats: DataFrame, match_stats: DataFrame | None = None
) -> DataFrame:
    """`create_dim_player` (`scr/Transform.py:69-133`): two sources
    (season stats carry `born`; match stats don't), priority concat,
    keep-first dedup by player, name sort, sequential ids.

    pandas keep='first' prefers the season source because concat puts
    it first; the Spark form states that priority explicitly
    (source rank, then file order) so the pick is deterministic under
    any partitioning (SURVEY.md §7 hard part #1). `match_stats=None`
    degrades to season-only (the raw match file is absent from the
    snapshot — `.MISSING_LARGE_BLOBS:2`)."""
    from ..functions.resolver import find_column

    s = season_stats.select(
        F.col(find_column(season_stats, "player")).alias("player"),
        F.col(find_column(season_stats, "pos")).alias("pos"),
        F.col(find_column(season_stats, "nation")).alias("nation"),
        F.col(find_column(season_stats, "born")).alias("born"),
        F.lit(0).alias("__src"),
        F.col("__row"),
    )
    combined = s
    if match_stats is not None:
        m = match_stats.select(
            F.col(find_column(match_stats, "player")).alias("player"),
            F.col(find_column(match_stats, "pos")).alias("pos"),
            F.col(find_column(match_stats, "nation")).alias("nation"),
            F.lit(None).cast("string").alias("born"),
            F.lit(1).alias("__src"),
            F.col("__row"),
        )
        combined = combined.unionByName(m)
    keep_first = Window.partitionBy("player").orderBy(F.asc("__src"), F.asc("__row"))
    deduped = (
        combined.filter(F.col("player").isNotNull())
        .withColumn("__rn", F.row_number().over(keep_first))
        .filter(F.col("__rn") == 1)
    )
    ids = Window.orderBy(F.asc("player"))
    return deduped.select(
        F.row_number().over(ids).cast("long").alias("player_id"),
        "player",
        "pos",
        "nation",
        F.col("born").try_cast("long").alias("born"),
    )


def build_dim_match(raw_team_match: DataFrame) -> DataFrame:
    """`create_dim_match` (`scr/Transform.py:343-379`): keep-first dedup
    by game in file order, date split+parse (invalid → dropped),
    sequential game_id re-assigned after the date filter — ids follow
    the surviving rows' file order exactly."""
    keep_first = Window.partitionBy("game").orderBy(F.asc("__row"))
    uniq = (
        raw_team_match.withColumn("__rn", F.row_number().over(keep_first))
        .filter(F.col("__rn") == 1)
    )
    parsed = uniq.select(
        F.trim(F.col("game")).alias("game"),
        F.to_date(F.split(F.col("date"), " ").getItem(0)).alias("date"),
        F.trim(F.col("round")).alias("round"),
        F.trim(F.col("day")).alias("day"),
        F.col("__row"),
    ).filter(F.col("date").isNotNull())
    ids = Window.orderBy(F.asc("__row"))
    return parsed.select(
        F.row_number().over(ids).cast("long").alias("game_id"),
        "game",
        "date",
        "round",
        "day",
    )


def build_dim_season(raw_team_match: DataFrame) -> DataFrame:
    """SURVEY.md §1.4 deliberate fix: the reference ships `dim_season`
    as a static seed with no creation code; here it is DERIVED —
    season_id is the raw encoded value (X7 form, e.g. 2021 ≡
    2020-21), names/years decode from it, actual start/end dates are
    min/max match dates per season. Reproduces the seed file exactly
    on the reference snapshot (verified against the golden)."""
    parsed = raw_team_match.select(
        F.col("season").try_cast("long").alias("season_id"),
        F.to_date(F.split(F.col("date"), " ").getItem(0)).alias("date"),
    ).filter(F.col("season_id").isNotNull())
    agg = parsed.groupBy("season_id").agg(
        F.min("date").alias("actual_start_date"),
        F.max("date").alias("actual_end_date"),
    )
    sid = F.col("season_id").cast("string")
    y1 = F.concat(F.lit("20"), F.substring(F.lpad(sid, 4, "0"), 1, 2)).cast("long")
    y2 = F.concat(F.lit("20"), F.substring(F.lpad(sid, 4, "0"), 3, 2)).cast("long")
    return agg.select(
        "season_id",
        F.concat(y1.cast("string"), F.lit("-"), y2.cast("string")).alias("season_name"),
        y1.alias("start_year"),
        y2.alias("end_year"),
        "actual_start_date",
        "actual_end_date",
    ).orderBy("season_id")


# ---------------------------------------------------------------------------
# Facts
# ---------------------------------------------------------------------------


def build_fact_team_match(
    raw_team_match: DataFrame,
    dim_team: DataFrame,
    dim_match: DataFrame,
    dim_player: DataFrame,
) -> DataFrame:
    """`create_fact_team_match` (`scr/Transform.py:382-505`): normalize
    join keys (X1), canonicalize team/opponent (X3 + the exact X2
    chain), three broadcast dim lookups (J1 captain, J2+J3 team ×
    opponent roles, J4 game), Q-strip id casts, round → zero-padded
    matchweek (X4+X6), final projection, result-not-null filter.

    All three dims broadcast — the fact side never shuffles, the only
    plan shape that survives a 100 TB fact table."""
    df = raw_team_match.na.drop(subset=["team", "opponent", "game"])
    team_clean = _clean_team_name_lower(
        _map_values(_norm(F.col("team")), _NAME_MAP_LOWER)
    )
    opp_clean = _clean_team_name_lower(
        _map_values(_norm(F.col("opponent")), _NAME_MAP_LOWER)
    )
    df = df.select(
        "*",
        team_clean.alias("__team_key"),
        opp_clean.alias("__opp_key"),
        _norm(F.col("game")).alias("__game_key"),
        _norm(F.col("Captain")).alias("__captain_key"),
    )

    players = F.broadcast(
        dim_player.select(
            F.col("player_id").alias("captain_id"), _norm(F.col("player")).alias("__captain_key")
        )
    )
    teams = F.broadcast(
        dim_team.select(F.col("team_id"), _norm(F.col("team_name")).alias("__team_key"))
    )
    opps = F.broadcast(
        dim_team.select(
            F.col("team_id").alias("opponent_id"),
            _norm(F.col("team_name")).alias("__opp_key"),
        )
    )
    games = F.broadcast(
        dim_match.select(F.col("game_id"), _norm(F.col("game")).alias("__game_key"))
    )

    joined = (
        df.join(players, "__captain_key", "left")
        .join(teams, "__team_key", "left")
        .join(opps, "__opp_key", "left")
        .join(games, "__game_key", "left")
    )
    return (
        joined.select(
            F.col("season").try_cast("long").alias("season"),
            F.col("game_id").try_cast("long").alias("game_id"),
            _strip_q_to_long(F.col("team_id").cast("string")).alias("team_id"),
            _strip_q_to_long(F.col("opponent_id").cast("string")).alias("opponent_id"),
            F.lpad(F.element_at(F.split(F.trim(F.col("round")), " "), -1), 2, "0").alias("round"),
            F.col("venue"),
            F.col("result"),
            F.col("GF").try_cast("double").alias("GF"),
            F.col("GA").try_cast("double").alias("GA"),
            F.col("xG").try_cast("double").alias("xG"),
            F.col("xGA").try_cast("double").alias("xGA"),
            F.col("Poss").try_cast("double").alias("Poss"),
            F.col("captain_id").try_cast("double").alias("captain_id"),
            F.col("Formation"),
            F.col("Opp Formation").alias("Opp Formation"),
        )
        .filter(F.col("result").isNotNull())
    )


# `scr/Transform.py:574-590` — fact_player_match's own map (applied
# BEFORE lowercasing; note the half-lowercased values, kept verbatim)
_PLAYER_MATCH_NAME_MAP = {
    "Brighton & Hove Albion": "Brighton",
    "Manchester United": "Manchester utd",
    "Newcastle United": "Newcastle utd",
    "Sheffield United": "Sheffield utd",
    "Tottenham Hotspur": "Tottenham",
    "West Bromwich Albion": "West brom",
    "West Ham United": "West ham",
    "Wolverhampton Wanderers": "Wolves",
    "Nottingham Forest": "Nott'ham forest",
    "Sunderland A.": "Sunderland",
    "Sunderland A F C": "Sunderland",
    "Swansea City A.": "Swansea City A.",
    "Hull City A.": "Hull City A.",
}

# `scr/Transform.py:521-556` — stat columns: canonical name → the
# (level0, level1) / flattened source aliases the resolver accepts
_PLAYER_MATCH_STATS = {
    "min_played": ["min"],
    "goals": ["Performance_Gls"],
    "xG": ["Expected_xG"],
    "xA": ["Expected_xAG"],
    "assists": ["Performance_Ast"],
    "penalty_made": ["Performance_PK"],
    "penalty_attempted": ["Performance_PKatt"],
    "shots": ["Performance_Sh"],
    "shots_on_target": ["Performance_SoT"],
    "yellow_cards": ["Performance_CrdY"],
    "red_cards": ["Performance_CrdR"],
    "touches": ["Performance_Touches"],
    "tackles": ["Performance_Tkl"],
    "interceptions": ["Performance_Int"],
    "blocks": ["Performance_Blocks"],
    "shot_creating_actions": ["SCA_SCA"],
    "goal_creating_actions": ["SCA_GCA"],
    "passes_completed": ["Passes_Cmp"],
    "passes_attempted": ["Passes_Att"],
    "pass_completion_percent": ["Passes_Cmp%"],
    "progressive_passes": ["Passes_PrgP"],
    "carries": ["Carries_Carries"],
    "progressive_carries": ["Carries_PrgC"],
    "take_ons_attempted": ["Take-Ons_Att"],
    "take_ons_successful": ["Take-Ons_Succ"],
}

_PLAYER_MATCH_INT_STATS = [
    "min_played", "goals", "assists", "penalty_made", "penalty_attempted",
    "shots", "shots_on_target", "yellow_cards", "red_cards", "touches",
    "tackles", "interceptions", "blocks", "shot_creating_actions",
    "goal_creating_actions", "passes_completed", "passes_attempted",
    "progressive_passes", "carries", "progressive_carries",
    "take_ons_attempted", "take_ons_successful",
]


def build_fact_player_match(
    raw_player_match: DataFrame,
    dim_match: DataFrame,
    dim_player: DataFrame,
    dim_team: DataFrame,
) -> DataFrame:
    """`create_fact_player_match` (`scr/Transform.py:507-696`): resolve
    the 29 source columns (MultiIndex-or-flat aliases), drop the
    embedded header row (`season == 'season'`, :527-529), canonicalize
    team names (the function's own pre-lowercase map :574-590, the
    post-lowercase Sunderland map :608-612, then the exact X2 clean
    chain :614-624), three broadcast dim lookups (game :597-601, team
    :627-632, player :664-668), FK-violation drops with the same order
    (team first, then player+game, :634-645/:671-683), Q-strip team_id
    cast (:653-654), and the reference's 29-column projection
    (:685-693). Stats cast to the Load DDL types
    (`scr/Load.py:366-405`: ints + NUMERIC xG/xA/pass%).

    All three dims broadcast — the fact side (the largest table in the
    reference's warehouse) never shuffles.
    """
    from ..functions.resolver import find_column

    df = raw_player_match.filter(
        F.lower(F.col(find_column(raw_player_match, "season"))) != "season"
    )
    cols = [
        F.col(find_column(df, "season")).alias("season"),
        F.col(find_column(df, "game")).alias("game"),
        F.col(find_column(df, "team")).alias("team"),
        F.col(find_column(df, "player")).alias("player"),
    ]
    for canon, aliases in _PLAYER_MATCH_STATS.items():
        cols.append(F.col(find_column(df, *aliases, canon)).alias(canon))
    df = df.select(*cols)

    team_key = _clean_team_name_lower(
        _map_values(
            _norm(_map_values(F.col("team"), _PLAYER_MATCH_NAME_MAP)),
            {"sunderland a.": "sunderland", "sunderland a f c": "sunderland"},
        )
    )
    df = df.withColumn("__team_key", team_key).withColumn(
        "__game_key", _norm(F.col("game"))
    ).withColumn("__player_key", _norm(F.col("player")))

    games = F.broadcast(
        dim_match.select(F.col("game_id"), _norm(F.col("game")).alias("__game_key"))
    )
    teams = F.broadcast(
        dim_team.select(F.col("team_id"), _norm(F.col("team_name")).alias("__team_key"))
    )
    players = F.broadcast(
        dim_player.select(F.col("player_id"), _norm(F.col("player")).alias("__player_key"))
    )

    joined = (
        df.join(games, "__game_key", "left")
        .join(teams, "__team_key", "left")
        .filter(F.col("team_id").isNotNull())  # team FK drop, :634-645
        .withColumn("team_id", _strip_q_to_long(F.col("team_id").cast("string")))
        .filter(F.col("team_id").isNotNull())  # re-filter after cast, :656
        .join(players, "__player_key", "left")
        .filter(F.col("player_id").isNotNull() & F.col("game_id").isNotNull())  # :671-683
    )
    stat_cols = [
        F.col(c).try_cast("long").alias(c)
        if c in _PLAYER_MATCH_INT_STATS
        else F.col(c).try_cast("double").alias(c)
        for c in _PLAYER_MATCH_STATS
    ]
    return joined.select(
        F.col("season").try_cast("long").alias("season"),
        F.col("game_id").try_cast("long").alias("game_id"),
        "team_id",
        F.col("player_id").try_cast("long").alias("player_id"),
        *stat_cols,
    )


def build_fact_team_point(raw_standings: DataFrame, dim_team: DataFrame) -> DataFrame:
    """`create_fact_team_point` (`scr/Transform.py:699-798`): season
    encode (X7), team-name map + normalize + clean chain, broadcast
    team lookup with unmatched-drop (J8), rank split-cast with
    unparseable-row fallback (N2+F6), `GF:GA` split into two ints
    (X5), final projection."""
    season_encoded = F.when(
        F.col("season_id").contains("-") | F.col("season_id").contains("/"),
        F.concat(
            F.substring(F.element_at(F.split(F.translate(F.col("season_id"), "/", "-"), "-"), 1), -2, 2),
            F.substring(F.element_at(F.split(F.translate(F.col("season_id"), "/", "-"), "-"), 2), -2, 2),
        ),
    ).otherwise(F.col("season_id"))
    team_key = _clean_team_name_lower(
        _map_values(
            _norm(_map_values(F.col("Team"), _POINT_NAME_MAP)),
            {"sunderland a.": "sunderland", "sunderland a f c": "sunderland"},
        )
    )
    df = raw_standings.withColumn("__team_key", team_key).withColumn(
        "season_id", season_encoded.try_cast("long")
    )
    teams = F.broadcast(
        dim_team.select(F.col("team_id"), _norm(F.col("team_name")).alias("__team_key"))
    )
    joined = df.join(teams, "__team_key", "left").filter(F.col("team_id").isNotNull())
    rank = F.split(F.col("Rank").cast("string"), r"\.").getItem(0).try_cast("long")
    gf = F.split(F.col("GF:GA"), ":").getItem(0).try_cast("long")
    ga = F.split(F.col("GF:GA"), ":").getItem(1).try_cast("long")
    return (
        joined.withColumn("Rank", rank)
        .filter(F.col("Rank").isNotNull())
        .select(
            "season_id",
            "Match_Category",
            "Rank",
            "team_id",
            F.col("MP").try_cast("long").alias("MP"),
            F.col("W").try_cast("long").alias("W"),
            F.col("D").try_cast("long").alias("D"),
            F.col("L").try_cast("long").alias("L"),
            gf.alias("GF"),
            ga.alias("GA"),
            F.col("GD").try_cast("long").alias("GD"),
            F.col("Pts").try_cast("long").alias("Pts"),
            "Recent_Form",
        )
    )


# ---------------------------------------------------------------------------
# Orchestration (§3.1-3.2 lifecycle)
# ---------------------------------------------------------------------------


def run_pipeline(spark: SparkSession, raw_dir: str, out_dir: str) -> dict[str, DataFrame]:
    """The Transform-stage DAG (`scr/Transform.py:800-813`) as two
    concurrent waves (`utils.run_concurrently`): every dimension, then
    every fact, since each fact joins handoff dims and both large facts
    need `dim_player`. The stage handoff is Parquet, not CSV: each
    table is written once to `out_dir/<table>`, and the returned frames
    (dims first, then facts, in the reference's order) read those files
    back — facts join the dims as written, and the load consumes the
    handoff instead of re-running the transform. Missing optional
    sources degrade exactly like the reference (`team_point.csv not
    found, skipping`)."""
    import os

    def raw(name: str) -> DataFrame | None:
        path = os.path.join(raw_dir, name)
        return read_csv_with_order(spark, path) if os.path.exists(path) else None

    def handoff(name: str, build) -> DataFrame:
        # read back with the written frame's schema (a file scan makes
        # it nullable, as inference would): no footer-inference job
        path = os.path.join(out_dir, name)
        df = build()
        df.write.mode("overwrite").parquet(path)
        return coalesce_small(spark.read.schema(df.schema).parquet(path))

    def wave(builds: dict) -> dict[str, DataFrame]:
        return run_concurrently(
            spark, {name: partial(handoff, name, b) for name, b in builds.items()}
        )

    raw_team_match = read_csv_with_order(spark, os.path.join(raw_dir, "fbref_fact_team_match.csv"))
    season_stats = read_csv_with_order(
        spark, os.path.join(raw_dir, "fbref_fact_player_season_stats.csv")
    )
    raw_team = read_csv_with_order(spark, os.path.join(raw_dir, "dim_team.csv"))
    match_stats = raw("fbref_fact_player_match_stats.csv")
    raw_stadium = raw("dim_stadium.csv")
    raw_standings = raw("team_point.csv")

    dims = {
        "dim_player": lambda: build_dim_player(season_stats, match_stats),
        "dim_team": lambda: build_dim_team(raw_team),
        "dim_match": lambda: build_dim_match(raw_team_match),
        "dim_season": lambda: build_dim_season(raw_team_match),
    }
    if raw_stadium is not None:
        dims["dim_stadium"] = lambda: build_dim_stadium(raw_stadium)
    out = wave(dims)
    dim_player, dim_team, dim_match = out["dim_player"], out["dim_team"], out["dim_match"]

    facts = {
        "fact_team_match_clean": lambda: build_fact_team_match(
            raw_team_match, dim_team, dim_match, dim_player
        ),
    }
    if match_stats is not None:
        facts["fact_player_match_clean"] = lambda: build_fact_player_match(
            match_stats, dim_match, dim_player, dim_team
        )
    if raw_standings is not None:
        facts["fact_team_point"] = lambda: build_fact_team_point(raw_standings, dim_team)
    out.update(wave(facts))
    return out
