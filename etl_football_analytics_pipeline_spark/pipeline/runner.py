"""End-to-end ETL runner — the reference's Airflow DAG
(`dags/football_etl_dag.py:26-34,147-166`: start → extract_data →
transform_data → load_data, `retries: 2` with a retry delay) as an
engine entry point anything can schedule (cron, Airflow PythonOperator,
a systemd timer): one function, one CLI.

Stage mapping:
- extract — out-of-engine ingestion by SURVEY §2.1 (rows S6/S7: the
  reference's API fetch and web scrape), so it's a caller-supplied
  callable; when omitted the runner starts from the raw CSVs already
  on disk (the DAG's behavior when Extract is skipped). The
  checkpoint gate (pipeline.incremental.write_checkpoint, the
  reference's `.last_extract_date.txt`) is stamped after a successful
  extract.
- transform — pipeline.football.run_pipeline (the Transform-stage DAG
  as two concurrent waves: all dims, then all facts), which writes the
  Parquet handoff under PROCESSED_DIR and returns frames over those
  files.
- load — pipeline.warehouse.to_warehouse → write_warehouse over the
  handoff (versioned snapshot commits, all tables concurrently; dims
  upsert, facts insert-if-absent — re-running a load is a no-op).

Both stages wait for every table before returning or raising, so a
retry never races an attempt that is still writing.

Retries reproduce the DAG's `default_args` semantics per STAGE (a
stage that raises is retried up to `retries` times with `retry_delay`
between attempts, then the run fails); a failed stage never runs the
stages after it, matching the `>>` chain.
"""

from __future__ import annotations

import argparse
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class StageResult:
    name: str
    attempts: int
    seconds: float
    ok: bool
    error: str | None = None


@dataclass
class EtlReport:
    stages: list[StageResult] = field(default_factory=list)
    table_rows: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(s.ok for s in self.stages)


def _run_stage(
    report: EtlReport,
    name: str,
    fn: Callable[[], object],
    retries: int,
    retry_delay_s: float,
) -> object | None:
    """One DAG task: run, retry on failure, record. Returns the stage's
    value, or None after exhausted retries (caller stops the chain)."""
    last: Exception | None = None
    t0 = time.time()
    for attempt in range(1, retries + 2):  # first try + `retries` retries
        try:
            value = fn()
            report.stages.append(
                StageResult(name, attempt, round(time.time() - t0, 3), True)
            )
            return value
        except Exception as exc:  # noqa: BLE001 — stage boundary, retried then surfaced
            last = exc
            if attempt <= retries and retry_delay_s:
                time.sleep(retry_delay_s)
    report.stages.append(
        StageResult(
            name,
            retries + 1,
            round(time.time() - t0, 3),
            False,
            f"{type(last).__name__}: {last}"[:500],
        )
    )
    return None


def run_etl(
    spark: SparkSession,
    raw_dir: str,
    processed_dir: str,
    warehouse_dir: str,
    extract: Callable[[SparkSession, str], object] | None = None,
    retries: int = 2,
    retry_delay_s: float = 0.0,
) -> EtlReport:
    """Run extract → transform → load once, with per-stage retries.

    `extract(spark, raw_dir)` is the caller's network fetch (it should
    land/refresh the raw CSVs in `raw_dir`); None skips the stage.
    Returns an EtlReport with per-stage attempts/timings and per-table
    output row counts. The report's `ok` is the DAG's
    overall success; a failed stage short-circuits the chain."""
    from .football import run_pipeline
    from .incremental import write_checkpoint
    from .warehouse import to_warehouse, write_warehouse

    report = EtlReport()

    if extract is not None:
        def _extract():
            value = extract(spark, raw_dir)
            # stamp only after a SUCCESSFUL fetch, like the reference
            # (`scr/Extract.py:252-260`)
            write_checkpoint(raw_dir)
            return value

        if _run_stage(report, "extract", _extract, retries, retry_delay_s) is None:
            return report

    processed = _run_stage(
        report,
        "transform",
        lambda: run_pipeline(spark, raw_dir, processed_dir),
        retries,
        retry_delay_s,
    )
    if processed is None:
        return report

    loaded = _run_stage(
        report,
        "load",
        lambda: write_warehouse(spark, to_warehouse(processed), warehouse_dir),
        retries,
        retry_delay_s,
    )
    if loaded is None:
        return report

    for name, df in loaded.items():
        report.table_rows[name] = df.count()
    return report


def main(argv: list[str] | None = None) -> int:
    """CLI: python -m etl_football_analytics_pipeline_spark.pipeline.runner
    RAW_DIR PROCESSED_DIR WAREHOUSE_DIR [--retries N] [--retry-delay S]

    Transforms the raw CSVs in RAW_DIR into the Parquet handoff under
    PROCESSED_DIR and loads it into the versioned warehouse under
    WAREHOUSE_DIR; exits 1 if any stage failed after its retries.
    """
    from ..session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("raw_dir")
    ap.add_argument("processed_dir")
    ap.add_argument("warehouse_dir")
    ap.add_argument("--retries", type=int, default=2)
    ap.add_argument("--retry-delay", type=float, default=0.0)
    args = ap.parse_args(argv)

    spark = get_spark(app_name="football-etl")
    report = run_etl(
        spark,
        args.raw_dir,
        args.processed_dir,
        args.warehouse_dir,
        retries=args.retries,
        retry_delay_s=args.retry_delay,
    )
    for s in report.stages:
        status = "OK " if s.ok else "FAIL"
        print(f"{status} {s.name:10s} attempts={s.attempts} {s.seconds:.1f}s"
              + (f"  {s.error}" if s.error else ""))
    for t, n in sorted(report.table_rows.items()):
        print(f"  {t:24s} {n} rows")
    spark.stop()
    return 0 if report.ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
