"""The benchmark's output agrees with BENCHMARK.json, and it refuses to
run without the engine beside it."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import run

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")


def test_metric_names_and_units_match_the_spec():
    with open(SPEC) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_trace_overhead_compares_only_correct_untraced_runs_of_the_same_code(tmp_path):
    history = tmp_path / "runs.jsonl"
    assert run._untraced_e2e(str(history), "registry", "c1") == ({}, 0)
    recs = [
        ("registry", "c1", 0, True, 10.0),
        ("registry", "c1", 0, True, 12.0),
        ("registry", "c1", 0, True, 11.0),
        ("registry", "c2", 0, True, 50.0),  # other engine or benchmark code
        ("registry", "c1", 1, True, 60.0),  # traced
        ("registry", "c1", 0, False, 70.0),  # incorrect
        ("football_weekly", "c1", 0, True, 80.0),
    ]
    history.write_text("".join(
        json.dumps({"workload": w, "code": c, "trace": t, "correct": ok,
                    "metrics": {"pass_s": v}}) + "\n" for w, c, t, ok, v in recs))
    base, n = run._untraced_e2e(str(history), "registry", "c1")
    assert (base, n) == ({"pass_s": 11.0}, 3)
    over = run._trace_overhead({"pass_s": 12.1}, base, n)["metrics"]["pass_s"]
    assert abs(over["diff"] - 1.1) < 1e-9 and abs(over["frac"] - 0.1) < 1e-9


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(SPEC, tmp_path / "BENCHMARK.json")
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "registry", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
