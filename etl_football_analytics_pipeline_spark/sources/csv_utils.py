"""CSV ingestion utilities (reference operators S2-S5, P4).

The reference's raw layer is CSV with three defensive behaviors this
module reproduces Spark-side:

- S3: two-row (pandas MultiIndex) headers — FBref emits e.g.
  `Performance` / `Gls` on two lines; the reference retries with
  `header=[0,1]` and flattens to `Performance_Gls`
  (`scr/Extract.py:62-67,29-51`).
- S4: malformed-row tolerance — `on_bad_lines='skip'`
  (`scr/Transform.py:274-283`) ≡ Spark's DROPMALFORMED mode.
- S5: CSV sink (`scr/Transform.py:19-22`).

Header flattening (P4) is driver-side metadata logic — zero cost at
any scale; the data pass is always Spark's own CSV scan (no Python
workers, splittable at any file size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..utils import one_split_bytes


def flatten_header_levels(level0: list[str], level1: list[str]) -> list[str]:
    """P4 — join non-empty header levels with `_`, ignoring pandas
    `Unnamed: n` placeholders (`scr/Extract.py:29-51`), then dedupe."""
    names = []
    for l0, l1 in zip(level0, level1):
        l0 = "" if l0.startswith("Unnamed:") else l0.strip()
        l1 = "" if l1.startswith("Unnamed:") else l1.strip()
        parts = [p for p in (l0, l1) if p]
        names.append("_".join(parts) if parts else "col")
    return dedupe_names(names)


def dedupe_names(names: list[str]) -> list[str]:
    """Unique column names, left to right: a repeat takes the first
    `<name>_<n>` suffix not yet emitted, so `['a', 'a', 'a_1']` becomes
    `['a', 'a_1', 'a_1_1']` (a duplicate DDL name breaks every
    downstream resolve with AMBIGUOUS_REFERENCE)."""
    counts: dict[str, int] = {}
    used: set[str] = set()
    out = []
    for n in names:
        cand = n
        while cand in used:
            counts[n] = counts.get(n, 0) + 1
            cand = f"{n}_{counts[n]}"
        used.add(cand)
        out.append(cand)
    return out


def read_string_csv(
    spark: SparkSession, path: str, names: list[str], sep: str = ","
) -> DataFrame:
    """Spark's own CSV scan of `path` minus its first line, every
    column string-typed under `names` (`dtype=str`,
    `scr/Extract.py:59-61`). Line-based and splittable: empty fields
    read as NULL, short rows are NULL-padded, and only the file's
    first line is skipped — a header repeated inside the data stays a
    data row."""
    ddl = ", ".join("`" + n.replace("`", "``") + "` string" for n in names)
    return spark.read.schema(ddl).option("header", True).option("sep", sep).csv(path)


def read_two_row_header_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
) -> DataFrame:
    """S3 — read a CSV whose first TWO lines are header levels;
    column names are the flattened `level0_level1` composites.

    The two header lines are read as metadata; the data pass is
    `read_string_csv`, which skips the first header line, and the
    second is dropped as the scan's first row — the same contract as
    the reference's `header=[0,1]` + flatten + `dtype=str` re-read
    (`scr/Extract.py:59-67`). When the second line starts inside the
    smallest split the scan can cut (`utils.one_split_bytes`), that
    row is `monotonically_increasing_id() == 0`, a lazy filter. A
    first line longer than that can push the second into a later
    split, so one build-time job finds the scan's lowest id instead.
    """
    head = [r.value for r in spark.read.text(path).limit(2).collect()]
    if len(head) < 2:
        raise ValueError(f"{path}: expected at least 2 header lines")
    # quote-aware header split: naive str.split would break a quoted
    # field containing the separator ('"Goals, total"') into two
    # tokens, misaligning every flattened column name against the
    # quote-aware data pass (the reference's pandas header=[0,1] is
    # quote-aware)
    import csv as _csv

    def _fields(line: str) -> list[str]:
        return next(_csv.reader([line], delimiter=sep), [])

    names = flatten_header_levels(_fields(head[0]), _fields(head[1]))
    data = read_string_csv(spark, path, names, sep)
    # the second line starts after the first and its terminator (\r\n
    # at most); split 0 reads every line that starts at or before its end
    if len(head[0].encode("utf-8")) + 2 <= one_split_bytes(spark):
        return data.filter(F.monotonically_increasing_id() > 0)
    ided = data.withColumn("__hdr_id", F.monotonically_increasing_id())
    first = ided.agg(F.min("__hdr_id")).first()[0]
    return ided.filter(F.col("__hdr_id") > first).drop("__hdr_id")


def read_csv_dropmalformed(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
) -> DataFrame:
    """S4 — schema-checked CSV scan that silently drops rows failing to
    parse (`on_bad_lines='skip'` ≡ mode=DROPMALFORMED). With an explicit
    schema the scan is a single distributed pass — no inference read."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """S5 — CSV sink (`df.to_csv`, `scr/Transform.py:19-22`), overwrite
    semantics like the reference's unconditional rewrite."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)
