"""`football_weekly` workload: the weekly job of the paper's pipeline —
one load of new raw files into the versioned warehouse — followed by a
closed loop of one dashboard client over the live warehouse.

Prepared once per checkout (in its own process, `run.py --prepare`):
the raw layer as scraped after matchweeks `W0` and `W1` of a generated
league (`footgen`), and the warehouse after the initial load of `W0`
into an empty directory. Preparing also re-loads `W0` into a copy of
that warehouse and checks the re-load leaves every table unchanged.

A run: set-up starts the session and clones the prepared warehouse.
Then one timed weekly load of `W1` (`run_pipeline`, then
`write_warehouse`) whose table counts must equal the generator's, then
rounds of seed-chosen dashboard requests (each of the 15 queries once
per round): `WARM_ROUNDS` untimed, then timed ones until the run's
seconds are spent. Every dashboard answer is checked
against DuckDB over the same live table versions.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import subprocess
import sys
import time

from harness import (
    BENCH_DIR,
    ENGINE,
    WORK,
    Tracer,
    inode_sizes,
    latencies_ms,
    pass_layers,
    quantile,
    read_layers,
    source_digest,
    start_spark,
    timed_read,
    warmup,
)

LEAGUE_SEED = 7
W0, W1 = 8, 9
LIMITS = (5, 10)
WARM_ROUNDS = 3


def _cache_dir() -> str:
    """Prepared inputs, keyed by the engine and generator sources so a
    code change rebuilds them."""
    code = source_digest(ENGINE, os.path.join(BENCH_DIR, "footgen.py"))
    return os.path.join(WORK, f"football-{LEAGUE_SEED}-{W0}-{W1}-{code}")


def _load(spark, raw_dir: str, processed_dir: str, wh_dir: str) -> dict:
    from etl_football_analytics_pipeline_spark.pipeline.football import run_pipeline
    from etl_football_analytics_pipeline_spark.pipeline.warehouse import (
        to_warehouse,
        write_warehouse,
    )

    processed = run_pipeline(spark, raw_dir, processed_dir)
    return write_warehouse(spark, to_warehouse(processed), wh_dir)


def _counts(wh_dir: str) -> dict[str, int]:
    """Rows in the live version of every table, from parquet footers."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for path in _live_files(wh_dir):
        table = os.path.basename(os.path.dirname(os.path.dirname(path)))
        out[table] = out.get(table, 0) + pq.ParquetFile(path).metadata.num_rows
    return out


def clone(src: str, dst: str) -> None:
    """Hard-link copy of a warehouse: committed files are immutable and
    every commit publishes new files, so the clone shares bytes safely."""
    shutil.copytree(src, dst, copy_function=os.link)


def build_inputs(run_dir: str) -> None:
    """Build the cached inputs (runs in its own process)."""
    import footgen

    cache = _cache_dir()
    if os.path.isdir(cache):
        return
    tmp = cache + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    league = footgen.League(LEAGUE_SEED)
    expected = {}
    for w in (W0, W1):
        expected[str(w)] = league.write(os.path.join(tmp, f"raw-w{w}"), w)
    spark = start_spark(run_dir, "perfbench-football-prepare", None)
    try:
        wh = os.path.join(tmp, "warehouse")
        _load(spark, os.path.join(tmp, f"raw-w{W0}"), os.path.join(run_dir, "p0"), wh)
        got = _counts(wh)
        if got != expected[str(W0)]:
            raise RuntimeError(f"initial load counts {got} != expected {expected[str(W0)]}")
        again = os.path.join(run_dir, "reload")
        clone(wh, again)
        _load(spark, os.path.join(tmp, f"raw-w{W0}"), os.path.join(run_dir, "p1"), again)
        got2 = _counts(again)
        if got2 != got:
            raise RuntimeError(f"re-loading the same raw files changed the warehouse: {got} -> {got2}")
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(expected, fh)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    finally:
        spark.stop()
    os.replace(tmp, cache)


def ensure_prepared() -> str:
    """The cached inputs' directory, built first if missing."""
    cache = _cache_dir()
    if not os.path.isdir(cache):
        subprocess.run(
            [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--prepare", "football_weekly"],
            check=True,
            stdout=sys.stderr,
            timeout=900,
        )
    return cache


# ---------------------------------------------------------------------------
# Dashboard requests and their DuckDB check
# ---------------------------------------------------------------------------


def _rounds(rng: random.Random, teams: dict[str, list[str]]):
    """Endless rounds of dashboard requests: every round asks each of
    the 15 queries once, in a shuffled order with drawn parameters (a
    season, then a team of that season)."""
    from etl_football_analytics_pipeline_spark.plans.dashboard import DASHBOARD_QUERIES

    names = sorted(DASHBOARD_QUERIES)
    seasons = sorted(teams)
    while True:
        rng.shuffle(names)
        batch = []
        for name in names:
            season = rng.choice(seasons)
            params = {"season_name": season, "team_name": rng.choice(teams[season]),
                      "limit": rng.choice(LIMITS)}
            batch.append((name, {k: params[k] for k in DASHBOARD_QUERIES[name][1]}))
        yield batch


def _norm(v) -> str:
    from decimal import Decimal

    if isinstance(v, (float, Decimal)) or (isinstance(v, int) and not isinstance(v, bool)):
        return f"{round(float(v), 4)}"
    return str(v)


def _answer_key(name: str, cols, rows) -> list:
    """Order-insensitive comparable form. A LIMIT query may break ties
    differently per engine, so only its ORDER BY column is compared."""
    from etl_football_analytics_pipeline_spark.plans.dashboard import DASHBOARD_QUERIES

    sql = DASHBOARD_QUERIES[name][0]
    cols = [c.lower() for c in cols]
    if "LIMIT" in sql:
        key = re.search(r"ORDER BY\s+(?:\w+\.)?(\w+)", sql).group(1).lower()
        i = cols.index(key)
        return sorted(_norm(r[i]) for r in rows)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class DuckCheck:
    """DuckDB over the live version of every warehouse table."""

    def __init__(self, wh_dir: str):
        import duckdb

        from etl_football_analytics_pipeline_spark.sources.versioned import (
            current_version,
            version_dir,
        )

        self.con = duckdb.connect()
        for name in sorted(os.listdir(wh_dir)):
            v = current_version(os.path.join(wh_dir, name))
            live = version_dir(os.path.join(wh_dir, name), v)
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{live}/*.parquet')")
        self.memo: dict[str, list] = {}

    def expected(self, name: str, params: dict) -> list:
        from etl_football_analytics_pipeline_spark.plans.dashboard import DASHBOARD_QUERIES

        key = json.dumps([name, params], sort_keys=True)
        if key not in self.memo:
            sql = re.sub(r":(\w+)", r"$\1", DASHBOARD_QUERIES[name][0])
            res = self.con.execute(sql, params) if params else self.con.execute(sql)
            self.memo[key] = _answer_key(name, [d[0] for d in res.description], res.fetchall())
        return self.memo[key]

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


def _live_files(wh_dir: str) -> list[str]:
    from etl_football_analytics_pipeline_spark.sources.versioned import current_version, version_dir

    out = []
    for name in sorted(os.listdir(wh_dir)):
        live = version_dir(os.path.join(wh_dir, name), current_version(os.path.join(wh_dir, name)))
        out += [os.path.join(live, f) for f in os.listdir(live) if f.endswith(".parquet")]
    return out


def run(cache: str, seed: int, seconds: float, trace: bool, run_dir: str,
        event_dir: str | None) -> dict:
    """One run over `ensure_prepared`'s inputs in `cache`."""
    import footgen
    from etl_football_analytics_pipeline_spark.pipeline.football import run_pipeline
    from etl_football_analytics_pipeline_spark.pipeline.warehouse import (
        register_warehouse,
        to_warehouse,
        write_warehouse,
    )
    from etl_football_analytics_pipeline_spark.plans.dashboard import run_dashboard_query
    from etl_football_analytics_pipeline_spark.sources.versioned import read_latest

    with open(os.path.join(cache, "expected.json")) as fh:
        expected = json.load(fh)[str(W1)]
    league = footgen.League(LEAGUE_SEED)
    teams = {f"{s}-{s + 1}": league.teams_in(s) for s in league.seasons}
    rng = random.Random(seed)
    wh = os.path.join(run_dir, "warehouse")
    failed = attempted = 0
    errors: list[str] = []
    answers: list[tuple[str, dict, list]] = []

    def attempt(name: str, params: dict, group: str) -> dict | None:
        nonlocal attempted, failed
        attempted += 1
        try:
            df, rows, s = timed_read(tr, "request", name, group,
                                     lambda: run_dashboard_query(spark, name, **params))
            answers.append((name, params, _answer_key(name, df.columns, rows)))
            return s
        except Exception as exc:  # noqa: BLE001 — a failed request is a counted failure
            failed += 1
            errors.append(f"dashboard {name}: {type(exc).__name__}: {exc}"[:300])
            return None

    def check_answers() -> None:
        nonlocal failed
        duck = DuckCheck(wh)
        try:
            for name, params, got in answers:
                if duck.expected(name, params) != got:
                    failed += 1
                    errors.append(f"dashboard {name} {params}: differs from DuckDB")
        finally:
            duck.close()
        answers.clear()

    t_setup = time.perf_counter()
    spark = start_spark(run_dir, "perfbench-football", event_dir)
    session_s = time.perf_counter() - t_setup
    tr = Tracer(trace, spark)
    samples: list[dict] = []
    try:
        warmup(spark)
        clone(os.path.join(cache, "warehouse"), wh)
        register_warehouse(spark, {n: read_latest(spark, os.path.join(wh, n)) for n in os.listdir(wh)})
        setup_s = time.perf_counter() - t_setup

        before = inode_sizes(wh)
        attempted += 1
        with tr.span("weekly"):
            t0 = time.perf_counter()
            with tr.span("transform", group="load|transform"):
                processed = run_pipeline(spark, os.path.join(cache, f"raw-w{W1}"),
                                         os.path.join(run_dir, "processed"))
            t1 = time.perf_counter()
            with tr.span("load", group="load|load"):
                loaded = write_warehouse(spark, to_warehouse(processed), wh)
            t2 = time.perf_counter()
        got = _counts(wh)
        if got != expected:
            failed += 1
            errors.append(f"weekly load counts {got} != expected {expected}")
        after = inode_sizes(wh)
        register_warehouse(spark, loaded)

        # untimed warm-up rounds over the new version: request latency
        # keeps falling for about three rounds while the JVM warms up
        rounds = _rounds(rng, teams)
        with tr.span("warm"):
            i = 0
            for _ in range(WARM_ROUNDS):
                for req in next(rounds):
                    attempt(*req, f"warm{i}")
                    i += 1

        start = time.perf_counter()
        with tr.span("workload"):
            i = 0
            # whole rounds, so every run samples each query equally often
            while time.perf_counter() - start < seconds:
                for req in next(rounds):
                    s = attempt(*req, f"dash{i}")
                    if s is not None:
                        samples.append(s)
                    i += 1
        check_answers()
        live = _live_files(wh)
    finally:
        spark.stop()

    lat_ms = latencies_ms(samples)
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "e2e": {
            "setup_s": setup_s,
            "pass_s": t2 - t0,
            "query_p50_ms": quantile(lat_ms, 0.5),
            "query_p75_ms": quantile(lat_ms, 0.75),
        },
        "info": {"requests": len(samples), "transform_s": t1 - t0, "load_s": t2 - t1},
    }
    if trace:
        import eventlog

        ev = eventlog.fold(eventlog.find_app_log(event_dir))
        live_bytes = sum(os.path.getsize(f) for f in live)
        written = sum(size for ino, size in after.items() if ino not in before)
        result["layers"] = {
            **read_layers(ev, samples, session_s),
            **pass_layers([ev.total(lambda g: g.startswith("load|"))], [t2 - t0]),
            "pipeline.transform_s": t1 - t0,
            "pipeline.load_s": t2 - t1,
            "pipeline.load_input_mb": ev.groups["load|load"].input_bytes / 1e6,
            "sources.bytes_written_mb": written / 1e6,
            "sources.rewrite_frac": written / live_bytes,
            "sources.live_files": float(len(live)),
            "sources.space_amp": sum(after.values()) / live_bytes,
        }
        result["tracer"] = tr
    return result
