"""Slowly-changing-dimension history (SCD Type 2) and snapshot CDC.

The reference warehouse keeps dimensions current-state-only: its
upserts overwrite attributes in place (`scr/Load.py:79-89`, ON
CONFLICT DO UPDATE), so a team that changes stadium or a player that
changes squad silently loses history. These operators add the
warehouse-standard remedy on top of the same merge machinery:

- `scd2_build` — derive a full Type-2 history (effective_from /
  effective_to / is_current / version) from a change feed, collapsing
  consecutive no-op changes;
- `scd2_lookup` — point-in-time fact enrichment: join each fact to
  the attribute state valid at the fact's own timestamp;
- `table_diff` — CDC between two table versions (e.g. two snapshots
  of `sources.versioned`): one row per inserted / deleted / updated
  key with both images.

`plans/quality.warehouse_history_suite` runs all three against its
DuckDB oracle.

Scale shape: every operator is one hash shuffle on the dimension key
(a window or a single full-outer join) — no driver state, no
broadcast that grows with the table, no global window. Dimension keys
are near-unique, so the per-key window partitions are tiny and skew
is impossible by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["scd2_build", "scd2_lookup", "table_diff"]


def _attrs_differ(left_prefix: str, attr_cols: Sequence[str]) -> F.Column:
    """True when any attribute differs (null-safe) between the row's
    attrs and their `left_prefix`-prefixed counterparts."""
    cond = F.lit(False)
    for a in attr_cols:
        cond = cond | ~F.col(a).eqNullSafe(F.col(f"{left_prefix}{a}"))
    return cond


def scd2_build(
    changes: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Type-2 dimension history from a change feed.

    `changes` carries one row per observed state (key, attrs, ts).
    Output: one row per *distinct consecutive state* per key with

      effective_from  — the ts the state first appeared,
      effective_to    — the next state's ts (null while current),
      is_current      — effective_to is null,
      version         — 1-based change ordinal per key.

    Consecutive rows with identical attrs collapse into one interval
    (the standard SCD2 no-op-change rule). Ordering within a key is
    (ts, tiebreak) so equal-timestamp feeds stay deterministic —
    pass a unique tiebreak (e.g. the source row id) whenever ts can
    tie.

    One shuffle: every window below partitions by the key, so the
    whole derivation is a single hash exchange on `key_cols` followed
    by partition-local sorts. No global window, no driver state.
    """
    order = [F.asc(ts_col)] + ([F.asc(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = changes
    for a in attr_cols:
        prev = prev.withColumn(f"__prev_{a}", F.lag(a).over(w))
    # lag(ts) is null only on the key's first row (ts itself is
    # non-null in a change feed), which distinguishes "first row" from
    # "previous attr was genuinely null".
    starts = (
        prev.withColumn(
            "__is_start",
            F.lag(F.col(ts_col)).over(w).isNull() | _attrs_differ("__prev_", attr_cols),
        )
        .filter(F.col("__is_start"))
        .drop("__is_start", *[f"__prev_{a}" for a in attr_cols])
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        starts.withColumn("effective_from", F.col(ts_col))
        .withColumn("effective_to", F.lead(F.col(ts_col)).over(w2))
        .withColumn("is_current", F.col("effective_to").isNull())
        .withColumn("version", F.row_number().over(w2))
        # canonical dimension schema only — the feed's ts/tiebreak and
        # any payload columns do not belong to the dimension row
        .select(
            *key_cols,
            *attr_cols,
            "effective_from",
            "effective_to",
            "is_current",
            "version",
        )
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """CDC diff between two versions of a table.

    One row per key whose presence or `compare_cols` image changed:

      change_type — 'insert' (key only in new), 'delete' (key only in
                    old), 'update' (present in both, any compare col
                    differs null-safely);
      old_<col> / new_<col> — both images (null on the absent side).

    Unchanged keys are dropped. Pair with sources.versioned.read_version
    to diff time-travel snapshots.

    Scale: ONE full-outer hash join on the key — both sides shuffle
    once, nothing is collected, and the output is bounded by the
    churn, not the table. Column pruning keeps the scan at key +
    compare cols.
    """
    o = old.select(
        *key_cols, *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    ).withColumn("__in_old", F.lit(True))
    n = new.select(
        *key_cols, *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    ).withColumn("__in_new", F.lit(True))
    j = o.join(n, list(key_cols), "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            *[f"old_{c}" for c in compare_cols],
            *[f"new_{c}" for c in compare_cols],
        )
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """POINT-IN-TIME dimension lookup — the consumer side of SCD2:
    each fact row is enriched with the dimension attributes that were
    valid at its own timestamp (`effective_from <= ts < effective_to`,
    open-ended current rows match everything after their start).

    This is the join the reference cannot express at all — its dims
    are current-state-only, so a 2019 match joined today gets the
    team's 2024 stadium. With a Type-2 dim the same join is
    time-correct, and the guarantee is structural: a key's intervals
    partition its timeline (scd2_build constructs them from
    consecutive change timestamps), so each fact matches AT MOST one
    version — empty intervals (same-timestamp change bursts) match
    nothing by the half-open predicate.

    Scale shape: one hash equi-join on the dimension key; the range
    predicate prunes join output to ≤ 1 row per fact, and the
    replication factor is versions-per-key (small by construction),
    NOT fact × dim. Facts with no valid version (ts before the key's
    first interval, or unknown key) are dropped (inner semantics) —
    left-join wrapping is one unionByName away when audit rows
    matter."""
    return facts.join(dim, list(key_cols), "inner").filter(
        (F.col(ts_col) >= F.col("effective_from"))
        & (F.col("effective_to").isNull() | (F.col(ts_col) < F.col("effective_to")))
    )
