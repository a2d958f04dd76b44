"""Incremental-extract checkpoint gate — the reference's
`.last_extract_date.txt` logic (`scr/Extract.py:104-124,222-260`) as
engine library code.

Semantics reproduced:
- a checkpoint file holding a non-empty date string means "data
  exists" → extract only the CURRENT season; missing/empty/unreadable
  checkpoint → full backfill of every season (`scr/Extract.py:222-248`);
- after a successful extract the checkpoint is (re)written with
  today's date (`scr/Extract.py:252-260`); pipeline.runner stamps it
  after its extract stage.

The reference's raw-layer MERGE of each fetched batch
(`scr/Extract.py:262-303`) belongs to the out-of-engine extract
(SURVEY §2.1, rows S6/S7): the runner starts from the raw CSVs on disk.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from datetime import date

CHECKPOINT_NAME = ".last_extract_date.txt"


def read_checkpoint(raw_dir: str) -> str | None:
    """Last extract date, or None when absent/empty/unreadable —
    the reference treats all three as "no data yet"
    (`scr/Extract.py:229-239`)."""
    path = os.path.join(raw_dir, CHECKPOINT_NAME)
    try:
        with open(path) as fh:
            text = fh.read().strip()
        return text or None
    except OSError:
        return None


def write_checkpoint(raw_dir: str, today: date | None = None) -> str:
    """Record a successful extract (`scr/Extract.py:252-260`)."""
    os.makedirs(raw_dir, exist_ok=True)
    stamp = (today or date.today()).strftime("%Y-%m-%d")
    with open(os.path.join(raw_dir, CHECKPOINT_NAME), "w") as fh:
        fh.write(stamp)
    return stamp


def seasons_to_extract(
    raw_dir: str, all_seasons: Sequence[str], current_season: str
) -> list[str]:
    """Checkpoint gate: full backfill on first run, current season only
    afterwards (`scr/Extract.py:222-248`)."""
    if read_checkpoint(raw_dir) is not None:
        return [current_season]
    return list(all_seasons)

