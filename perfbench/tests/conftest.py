from __future__ import annotations

import os
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
sys.path[:0] = [REPO, BENCH_DIR]


@pytest.fixture
def spark_env(monkeypatch, tmp_path):
    """Environment for a small session whose Python workers can import
    the engine; temporary files go to the test's tmp dir."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setenv("PYTHONPATH", REPO)
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    return tmp_path
