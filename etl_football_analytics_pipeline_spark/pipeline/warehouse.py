"""Warehouse (Load-stage) layer — `scr/Load.py` re-expressed for Spark.

The reference loads processed CSVs into PostgreSQL with per-row
`executemany` INSERTs (thousands of round-trips, `scr/Load.py:89,294,
355,447`) after renaming to the warehouse DDL schema. Here the same
schema mapping is a set of lazy projections and the "load" is a bulk
parquet write / temp-view registration — the dashboard SQL layer
(`plans/dashboard.py`) then runs against the exact warehouse table and
column names the reference's UI expects.

Schema mapping (reference evidence):
- Dim_Stadium: `statium_name` [sic] → `stadium_name` (`scr/Load.py:76`)
- Dim_Match: `game_id/game/date` → `match_id/match_name/match_date`
  (`scr/Load.py:135-144`; the intermediate `game_date` rename lands in
  the `match_date` DDL column positionally)
- Dim_Player: `player` → `player_name` (`scr/Load.py:169-170`), `born`
  lenient-cast (`scr/Load.py:173-174`)
- fact_team_match: `captain_id` dropped (`scr/Load.py:265-266` — the
  warehouse table has no captain column, SURVEY.md §1.4 quirk)
- Dim_Team / Dim_season / Fact_Team_Point / fact_player_match: as-is
  (`scr/Load.py:95-103,193-202,305-324,366-405`)

Idempotent re-load semantics (M2 upsert for dims, M3 insert-if-absent
for facts) live in operators/merge.py; `write_warehouse` applies them
through the versioned snapshot layer (sources.versioned.merge_commit).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# warehouse table → (primary key, is_dimension)
WAREHOUSE_KEYS: dict[str, tuple[list[str], bool]] = {
    "dim_stadium": (["stadium_id"], True),
    "dim_team": (["team_id"], True),
    "dim_match": (["match_id"], True),
    "dim_player": (["player_id"], True),
    "dim_season": (["season_id"], True),
    "fact_team_match": (["season", "game_id", "team_id"], False),
    "fact_team_point": (["season_id", "team_id", "Match_Category"], False),
    "fact_player_match": (["season", "game_id", "team_id", "player_id"], False),
}


def to_warehouse(processed: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Map Transform-stage outputs (pipeline.football.run_pipeline
    names) to the warehouse DDL schema."""
    out: dict[str, DataFrame] = {}
    for name, df in processed.items():
        if name == "dim_stadium":
            out[name] = df.withColumnRenamed("statium_name", "stadium_name")
        elif name == "dim_match":
            out[name] = df.select(
                F.col("game_id").alias("match_id"),
                F.col("game").alias("match_name"),
                F.col("date").alias("match_date"),
            )
        elif name == "dim_player":
            out[name] = df.withColumnRenamed("player", "player_name").withColumn(
                "born", F.col("born").try_cast("long")
            )
        elif name == "fact_team_match_clean":
            out["fact_team_match"] = df.drop("captain_id")
        elif name == "fact_player_match_clean":
            out["fact_player_match"] = df
        else:
            out[name] = df
    return out


def register_warehouse(spark: SparkSession, warehouse: dict[str, DataFrame]) -> None:
    """Expose warehouse tables as temp views — the Spark equivalent of
    the reference's SQL surface (S9, `scr/ui.py:44-314` reads these
    table names)."""
    for name, df in warehouse.items():
        df.createOrReplaceTempView(name)


def jdbc_upsert_sql(table: str, columns: Sequence[str], pk: Sequence[str], is_dim: bool) -> str:
    """The post-staging statement that gives JDBC loads the reference's
    conflict semantics (`scr/Load.py:79-89` DO UPDATE for dims,
    `:276-302` DO NOTHING for facts): bulk INSERT ... SELECT from the
    staging table with ON CONFLICT. One statement per table instead of
    the reference's per-row executemany round-trips."""
    # every identifier is double-quoted: warehouse columns include
    # embedded spaces ("Opp Formation") and mixed case ("GF"), which
    # unquoted SQL either rejects outright or case-folds away from the
    # quoted (case-preserved) identifiers Spark's JDBC writer creates
    # for the staging table
    def _q(ident: str) -> str:
        return '"' + ident.replace('"', '""') + '"'

    cols = ", ".join(_q(c) for c in columns)
    conflict = ", ".join(_q(c) for c in pk)
    if is_dim:
        updates = ", ".join(
            f"{_q(c)} = EXCLUDED.{_q(c)}" for c in columns if c not in pk
        )
        action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
    else:
        action = "DO NOTHING"
    return (
        f"INSERT INTO {_q(table)} ({cols}) SELECT {cols} "
        f"FROM {_q(table + '__stage')} "
        f"ON CONFLICT ({conflict}) {action}"
    )


def dedupe_stage_frame(df: DataFrame, pk: Sequence[str], is_dim: bool) -> DataFrame:
    """One row per PK for the JDBC staging table. A single set-based
    `INSERT..SELECT ON CONFLICT DO UPDATE` fails in PostgreSQL when the
    source repeats a key ("command cannot affect row a second time"),
    unlike the reference's per-row executemany — which resolves
    duplicates as last-wins for dims (each later row re-updates) and
    first-wins for facts (later rows conflict and are skipped). Row
    order is undefined in a distributed frame, so "first"/"last" is
    made deterministic by the remaining columns' sort order (ascending
    for facts — the same canonical row insert_if_absent keeps —
    descending for dims)."""
    pk = list(pk)
    extra = [c for c in df.columns if c not in pk]
    if not extra:
        return df.dropDuplicates(pk)
    order = [F.desc(c) for c in extra] if is_dim else [F.asc(c) for c in extra]
    w = Window.partitionBy(*pk).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def write_warehouse_jdbc(
    spark: SparkSession,
    warehouse: dict[str, DataFrame],
    url: str,
    properties: dict[str, str] | None = None,
    batchsize: int = 10_000,
) -> dict[str, str]:
    """JDBC Load-stage transport — the reference's PostgreSQL target
    (`scr/Load.py:88-89` psycopg2 `executemany`) as bulk JDBC batch
    writes: each warehouse table is written to `<table>__stage` with
    executor-parallel batched inserts (`batchsize` rows per round
    trip, one connection per partition), and the returned dict maps
    each table to the ON CONFLICT statement (`jdbc_upsert_sql`) that
    merges staging into the target with the reference's exact
    conflict semantics. The two-step shape is deliberate: Spark's
    JDBC writer has no native MERGE, and staging + one set-based
    INSERT..SELECT is the idiomatic bulk path (the per-row round-trip
    loop is the reference's throughput ceiling, BASELINE.md).

    No PostgreSQL runs in this container, so this transport is
    exercised by unit tests at the statement level
    (tests/test_warehouse_jdbc.py); the parquet harness uses
    write_warehouse above.
    """
    statements: dict[str, str] = {}
    props = dict(properties or {})
    props.setdefault("batchsize", str(batchsize))
    for name, df in warehouse.items():
        pk, is_dim = WAREHOUSE_KEYS[name]
        staged = dedupe_stage_frame(df, pk, is_dim)
        staged.write.mode("overwrite").options(**props).jdbc(url, f"{name}__stage")
        statements[name] = jdbc_upsert_sql(name, staged.columns, pk, is_dim)
    return statements


def write_warehouse(
    spark: SparkSession,
    warehouse: dict[str, DataFrame],
    out_dir: str,
    keep_versions: int = 5,
) -> dict[str, DataFrame]:
    """Idempotent bulk load to parquet: dims upsert by PK (M2,
    `ON CONFLICT DO UPDATE`), facts insert-if-absent (M3, `ON CONFLICT
    DO NOTHING`) — re-loading the same data is a no-op, the invariant
    the reference claims for its warehouse (README.md:29,199).

    Every table `out_dir/<table>` commits through the snapshot layer
    (sources.versioned.merge_commit) — each load becomes an immutable
    version published by one atomic `os.replace` of the `_LATEST`
    pointer, so readers see the old snapshot or the new one, never a
    partial table, a crash mid-write leaves the previous version live,
    and time travel across loads comes free — the parquet-native
    analog of the reference's PostgreSQL transactions (closes the
    non-atomic-overwrite risk documented in SURVEY §7).

    Tables commit concurrently (`utils.run_concurrently`): each has its
    own directory, claim and pointer, so they never interact. A load
    that fails partway can therefore leave ANY subset of tables at the
    new version, not a prefix of `warehouse`'s order — each table is
    still atomic, and re-running the load is an idempotent no-op for
    the tables that already landed. The first failure is raised after
    every table's commit has finished.

    Each load is a FULL snapshot, so history grows linearly with
    loads; `keep_versions` bounds it (vacuum after each commit, never
    touching the live version — time travel reaches the newest
    `keep_versions` snapshots). Pass 0/negative to keep everything.
    Returns each table's live version."""
    from ..sources.versioned import merge_commit, read_latest, vacuum
    from ..utils import run_concurrently

    def load(name: str, df: DataFrame) -> DataFrame:
        pk, is_dim = WAREHOUSE_KEYS[name]
        table_dir = os.path.join(out_dir, name)
        merge_commit(spark, table_dir, df, list(pk), insert_only=not is_dim)
        if keep_versions > 0:
            vacuum(table_dir, keep=keep_versions)
        return read_latest(spark, table_dir)

    return run_concurrently(
        spark, {name: partial(load, name, df) for name, df in warehouse.items()}
    )

