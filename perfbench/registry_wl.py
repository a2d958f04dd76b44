"""`registry` workload: a closed loop of one client running registered
queries over the generated registry tables.

Set-up: session start, warm-up, then one untimed cold pass whose
results are checked against each query's DuckDB oracle. Timed: whole
passes over the query set, each in a seed-shuffled order, until the
run's seconds of wall time are spent; every result must match the
checked cold one.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

from harness import (
    WORK,
    Tracer,
    latencies_ms,
    median,
    pass_layers,
    quantile,
    read_layers,
    start_spark,
    timed_read,
    warmup,
)

# Relational, analytics, coverage and quality plans: star joins,
# aggregates and windows whose cost is driver plan building, Catalyst
# and stage scheduling.
SQL_QUERIES = [
    "q1_pricing_summary",
    "a5_conditional_agg_pivot",
    "j3_self_join_two_roles",
    "w_window_suite",
    "cast_parse_suite",
    "dq_expectations_suite",
]
# plans/llm_ops.py queries: executor CPU, Arrow/pandas workers and
# eager build-time jobs.
LLM_QUERIES = [
    "text_profile",
    "dedup_simhash",
    "doc_chunk_suite",
    "dedup_exact",
]
QUERIES = SQL_QUERIES + LLM_QUERIES
DATA_SEED = 42


def digest(rows, cols) -> str:
    from scripts.parity import canon

    key = repr((sorted(cols), canon([tuple(r) for r in rows], list(cols))))
    return hashlib.sha1(key.encode()).hexdigest()


def ensure_prepared() -> tuple[str, dict[str, str]]:
    """Generated tables (built once per checkout) and the DuckDB oracle
    digest of every query, cached per data directory."""
    import regdata

    # relative to the working directory (run.py runs inside WORK): the
    # engine derives catalog table names from this path, and those
    # names accept only letters, digits and underscores
    data_dir = f"registry_data_{DATA_SEED}"
    if not os.path.isdir(data_dir):
        tmp = data_dir + f".tmp{os.getpid()}"
        regdata.generate(tmp, DATA_SEED)
        os.replace(tmp, data_dir)

    from etl_football_analytics_pipeline_spark.plans import ORACLES

    h = hashlib.sha1()
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as fh:
            h.update(fh.read())
    for q in QUERIES:
        h.update(ORACLES[q].encode())
    cache = os.path.join(WORK, f"oracles-{h.hexdigest()[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return data_dir, json.load(fh)

    import duckdb

    from etl_football_analytics_pipeline_spark.sources.registry import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    answers = {}
    for q in QUERIES:
        res = con.execute(ORACLES[q])
        answers[q] = digest(res.fetchall(), [d[0] for d in res.description])
    con.close()
    with open(cache + ".tmp", "w") as fh:
        json.dump(answers, fh)
    os.replace(cache + ".tmp", cache)
    return data_dir, answers


def run(inputs: tuple[str, dict[str, str]], seed: int, seconds: float, trace: bool,
        run_dir: str, event_dir: str | None) -> dict:
    """One run over `ensure_prepared`'s inputs."""
    from etl_football_analytics_pipeline_spark.plans import QUERIES as REGISTRY

    data_dir, oracle = inputs
    rng = random.Random(seed)
    failed = attempted = 0
    errors: list[str] = []

    def check(name: str, got: str, want: str, where: str) -> None:
        nonlocal failed
        if got != want:
            failed += 1
            errors.append(f"{where} {name}: result digest differs")

    t_setup = time.perf_counter()
    spark = start_spark(run_dir, "perfbench-registry", event_dir)
    session_s = time.perf_counter() - t_setup
    tr = Tracer(trace, spark)
    try:
        warmup(spark)
        cold_s = {}
        with tr.span("cold"):
            for name in QUERIES:
                attempted += 1
                try:
                    with tr.span(f"cold_query:{name}", group=f"cold|{name}"):
                        t0 = time.perf_counter()
                        df = REGISTRY[name](spark, data_dir)
                        rows = df.collect()
                        cold_s[name] = time.perf_counter() - t0
                    check(name, digest(rows, df.columns), oracle[name], "cold pass vs oracle")
                except Exception as exc:  # noqa: BLE001 — a failed query is a counted failure
                    failed += 1
                    errors.append(f"cold {name}: {type(exc).__name__}: {exc}"[:300])
                finally:
                    spark.catalog.clearCache()
        setup_s = time.perf_counter() - t_setup

        samples: list[dict] = []
        pass_s: list[float] = []
        p = 0
        start = time.perf_counter()
        with tr.span("workload"):
            # wall time, so a run whose every query fails still ends
            while time.perf_counter() - start < seconds:
                order = QUERIES[:]
                rng.shuffle(order)
                total = 0.0
                with tr.span(f"pass:{p}"):
                    for name in order:
                        attempted += 1
                        try:
                            df, rows, s = timed_read(
                                tr, "query", name, f"p{p}|{name}",
                                lambda name=name: REGISTRY[name](spark, data_dir),
                            )
                            total += s["build_s"] + s["collect_s"]
                            samples.append(s)
                            check(name, digest(rows, df.columns), oracle[name], f"pass {p}")
                        except Exception as exc:  # noqa: BLE001
                            failed += 1
                            errors.append(f"pass {p} {name}: {type(exc).__name__}: {exc}"[:300])
                        finally:
                            spark.catalog.clearCache()
                pass_s.append(total)
                p += 1
    finally:
        spark.stop()

    lat_ms = latencies_ms(samples)
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "e2e": {
            "setup_s": setup_s,
            "pass_s": median(pass_s),
            "query_p50_ms": quantile(lat_ms, 0.5),
            "query_p75_ms": quantile(lat_ms, 0.75),
        },
        "info": {"passes": len(pass_s), "query_samples": len(samples), "pass_s": pass_s,
                 "cold_s": cold_s},
    }
    if trace:
        import eventlog

        ev = eventlog.fold(eventlog.find_app_log(event_dir))
        per_pass = [ev.total(lambda g, p=p: g.startswith(f"p{p}|")) for p in range(len(pass_s))]
        result["layers"] = {
            **read_layers(ev, samples, session_s),
            **pass_layers(per_pass, pass_s),
            # the registry workload never enters the pipeline or writes tables
            "pipeline.transform_s": 0.0,
            "pipeline.load_s": 0.0,
            "pipeline.load_input_mb": 0.0,
            "sources.bytes_written_mb": 0.0,
            "sources.rewrite_frac": 0.0,
            "sources.live_files": float(len(os.listdir(data_dir))),
            "sources.space_amp": 1.0,
        }
        result["tracer"] = tr
    return result
