"""Incremental-extract checkpoint gate (pipeline/incremental.py):
missing, empty and stamped checkpoints."""

from __future__ import annotations

import os
from datetime import date

from etl_football_analytics_pipeline_spark.pipeline.incremental import (
    read_checkpoint,
    seasons_to_extract,
    write_checkpoint,
)

ALL = ["2021", "2122", "2223", "2324", "2425"]


def test_checkpoint_gate(tmp_path):
    raw = str(tmp_path)
    # missing → full backfill
    assert read_checkpoint(raw) is None
    assert seasons_to_extract(raw, ALL, "2425") == ALL
    # empty file → still full backfill (reference treats empty as none)
    open(os.path.join(raw, ".last_extract_date.txt"), "w").close()
    assert seasons_to_extract(raw, ALL, "2425") == ALL
    # stamped → current season only
    stamp = write_checkpoint(raw, date(2026, 8, 13))
    assert stamp == "2026-08-13" and read_checkpoint(raw) == stamp
    assert seasons_to_extract(raw, ALL, "2425") == ["2425"]
