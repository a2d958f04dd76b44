"""Snapshot-versioned parquet tables: atomic pointer commits, time
travel, vacuum, and merge-commit semantics."""

from __future__ import annotations

import os
import tempfile

import pytest

from etl_football_analytics_pipeline_spark.sources.versioned import (
    commit_version,
    current_version,
    merge_commit,
    read_latest,
    read_version,
    vacuum,
    version_dir,
)


@pytest.fixture()
def table_dir():
    return os.path.join(tempfile.mkdtemp(), "tbl")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_commit_and_time_travel(spark, table_dir):
    v1 = commit_version(spark.createDataFrame([(1, "a")], "k long, v string"), table_dir)
    v2 = commit_version(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), table_dir)
    assert (v1, v2) == (1, 2)
    assert current_version(table_dir) == 2
    assert _rows(read_latest(spark, table_dir)) == [(1, "a"), (2, "b")]
    assert _rows(read_version(spark, table_dir, 1)) == [(1, "a")]


def test_crashed_writer_leaves_previous_version_live(spark, table_dir):
    commit_version(spark.createDataFrame([(1, "a")], "k long, v string"), table_dir)
    # simulate a crash AFTER data write, BEFORE pointer replace: a v2
    # directory exists but the pointer still names v1
    spark.createDataFrame([(9, "junk")], "k long, v string").write.parquet(
        version_dir(table_dir, 2)
    )
    assert current_version(table_dir) == 1
    assert _rows(read_latest(spark, table_dir)) == [(1, "a")]
    # the next committed write supersedes the orphan
    commit_version(spark.createDataFrame([(2, "b")], "k long, v string"), table_dir)
    assert current_version(table_dir) == 2
    assert _rows(read_latest(spark, table_dir)) == [(2, "b")]


def test_vacuum_keeps_live_and_newest(spark, table_dir):
    for i in range(4):
        commit_version(spark.createDataFrame([(i,)], "k long"), table_dir)
    dropped = vacuum(table_dir, keep=2)
    assert dropped == [1, 2]
    assert _rows(read_latest(spark, table_dir)) == [(3,)]
    assert not os.path.isdir(version_dir(table_dir, 1))
    assert os.path.isdir(version_dir(table_dir, 3))


def test_merge_commit_upsert_and_insert_only(spark, table_dir):
    merge_commit(spark, table_dir, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), ["k"])
    merge_commit(spark, table_dir, spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string"), ["k"])
    assert _rows(read_latest(spark, table_dir)) == [(1, "a"), (2, "B2"), (3, "c")]
    merge_commit(
        spark,
        table_dir,
        spark.createDataFrame([(3, "IGNORED"), (4, "d")], "k long, v string"),
        ["k"],
        insert_only=True,
    )
    assert _rows(read_latest(spark, table_dir)) == [
        (1, "a"), (2, "B2"), (3, "c"), (4, "d"),
    ]
    # every historical snapshot remains readable (time travel)
    assert _rows(read_version(spark, table_dir, 1)) == [(1, "a"), (2, "b")]


def test_versioned_is_the_default_warehouse_path(spark, table_dir):
    """write_warehouse commits through the snapshot layer (its only path):
    the table lands as version directories behind a _LATEST pointer
    (readers see old-or-new, never partial — pointer replace is
    atomic), and a crash mid-write (orphan version dir, pointer not
    advanced) leaves the previous load live."""
    from etl_football_analytics_pipeline_spark.pipeline.warehouse import write_warehouse

    dims = {
        "dim_team": spark.createDataFrame(
            [(1, "Alpha", 10)], "team_id long, team_name string, stadium_id long"
        )
    }
    out = write_warehouse(spark, dims, table_dir)
    tdir = os.path.join(table_dir, "dim_team")
    assert current_version(tdir) == 1
    assert _rows(out["dim_team"]) == [(1, "Alpha", 10)]
    # crash mid-write: v2 data staged but pointer never advanced
    spark.createDataFrame([(9, "junk", 0)], "team_id long, team_name string, stadium_id long").write.parquet(
        version_dir(tdir, 2)
    )
    assert _rows(read_latest(spark, tdir)) == [(1, "Alpha", 10)]
    # next load supersedes the orphan and readers flip atomically
    out2 = write_warehouse(spark, dims, table_dir)
    assert current_version(tdir) == 2
    assert _rows(out2["dim_team"]) == [(1, "Alpha", 10)]


def test_versioned_warehouse_load_idempotent(spark, table_dir):
    """write_warehouse: dim upsert / fact insert-only
    through snapshot commits; re-loading the same data adds a version
    whose content is identical (idempotent load, auditable history)."""
    from etl_football_analytics_pipeline_spark.pipeline.warehouse import write_warehouse

    dims = {
        "dim_team": spark.createDataFrame(
            [(1, "Alpha", 10), (2, "Beta", 11)],
            "team_id long, team_name string, stadium_id long",
        )
    }
    out1 = write_warehouse(spark, dims, table_dir)
    out2 = write_warehouse(spark, dims, table_dir)
    assert _rows(out1["dim_team"]) == _rows(out2["dim_team"])
    assert current_version(os.path.join(table_dir, "dim_team")) == 2
    # dim upsert: changed name wins on reload
    dims2 = {
        "dim_team": spark.createDataFrame(
            [(2, "Beta-v2", 11)], "team_id long, team_name string, stadium_id long"
        )
    }
    out3 = write_warehouse(spark, dims2, table_dir)
    assert _rows(out3["dim_team"]) == [(1, "Alpha", 10), (2, "Beta-v2", 11)]


def test_versioned_warehouse_retention_bounds_history(spark, table_dir):
    """Every load is a full snapshot — keep_versions must bound the
    history (vacuum after commit) while the live version and the
    newest keep window stay readable."""
    from etl_football_analytics_pipeline_spark.pipeline.warehouse import write_warehouse

    for i in range(4):
        dims = {
            "dim_team": spark.createDataFrame(
                [(i, f"T{i}", i)], "team_id long, team_name string, stadium_id long"
            )
        }
        out = write_warehouse(spark, dims, table_dir, keep_versions=2)
    tdir = os.path.join(table_dir, "dim_team")
    assert current_version(tdir) == 4
    assert len(_rows(out["dim_team"])) == 4  # upserts accumulated
    kept = sorted(d for d in os.listdir(tdir) if d.startswith("v"))
    assert kept == ["v00003", "v00004"]
    assert _rows(read_version(spark, tdir, 3))  # newest-but-one readable


def test_snapshot_diff_between_versions(spark, tmp_path):
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        commit_version,
        snapshot_diff,
    )

    d = str(tmp_path / "t")
    v1 = commit_version(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, s string"), d
    )
    v2 = commit_version(
        spark.createDataFrame([(1, "a"), (2, "B"), (4, "d")], "k int, s string"), d
    )
    got = {r.k: r for r in snapshot_diff(spark, d, v1, v2, ["k"], ["s"]).collect()}
    assert got[2].change_type == "update" and got[2].new_s == "B"
    assert got[3].change_type == "delete"
    assert got[4].change_type == "insert"
    assert 1 not in got


def test_delete_commit_removes_keys_and_feeds_cdc(spark, table_dir):
    """Row-level delete: survivors-only new snapshot, old snapshot
    auditable, and the deleted keys surface as 'delete' rows in the
    snapshot CDC, where downstream consumers pick them up."""
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        delete_commit,
        snapshot_diff,
    )

    base = spark.createDataFrame(
        [(i, f"u{i}", float(i)) for i in range(20)], "id long, name string, v double"
    )
    v1 = commit_version(base, table_dir)
    doomed = spark.createDataFrame([(3,), (7,), (7,), (99,)], "id long")
    v2 = delete_commit(spark, table_dir, doomed, ["id"])
    live = read_latest(spark, table_dir)
    assert live.count() == 18
    assert live.filter("id IN (3, 7)").count() == 0
    # time travel still sees the pre-delete rows
    assert read_version(spark, table_dir, v1).filter("id IN (3, 7)").count() == 2
    cdc = snapshot_diff(spark, table_dir, v1, v2, ["id"], ["name", "v"]).collect()
    ops = {r.id: r.change_type for r in cdc}
    assert ops == {3: "delete", 7: "delete"}


def test_delete_commit_requires_committed_table(spark, table_dir):
    from etl_football_analytics_pipeline_spark.sources.versioned import delete_commit

    doomed = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        delete_commit(spark, table_dir, doomed, ["id"])


def test_merge_commit_schema_evolution(spark, table_dir):
    """Additive evolution widens the table (old rows NULL in new
    columns); strict mode still fails loudly; retyping always fails."""
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        merge_commit,
    )

    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    commit_version(base, table_dir)
    delta = spark.createDataFrame(
        [(2, "b2", 9.5), (3, "c", 1.0)], "id long, name string, score double"
    )
    # strict mode: union of mismatched schemas must raise
    with pytest.raises(Exception):
        merge_commit(spark, table_dir, delta, ["id"])
    merge_commit(spark, table_dir, delta, ["id"], evolve_schema=True)
    live = {r.id: (r.name, r.score) for r in read_latest(spark, table_dir).collect()}
    assert live == {1: ("a", None), 2: ("b2", 9.5), 3: ("c", 1.0)}
    # a later delta MISSING the new column leaves it NULL on its rows
    d2 = spark.createDataFrame([(4, "d")], "id long, name string")
    merge_commit(spark, table_dir, d2, ["id"], evolve_schema=True)
    live = {r.id: (r.name, r.score) for r in read_latest(spark, table_dir).collect()}
    assert live[4] == ("d", None) and live[2] == ("b2", 9.5)
    # retyping an existing column is never evolution
    bad = spark.createDataFrame([(5, 7, 1.0)], "id long, name long, score double")
    with pytest.raises(ValueError, match="retype"):
        merge_commit(spark, table_dir, bad, ["id"], evolve_schema=True)


def test_corrupt_pointer_raises_not_empty_table(spark, table_dir):
    """A pointer that exists but does not parse is corruption and must
    raise: treating it as 'no table yet' would make the next commit
    restart at v1, rmtree the real v00001 as an orphan, and silently
    replace the table with the delta alone."""
    import os

    from etl_football_analytics_pipeline_spark.sources.versioned import (
        commit_version,
        current_version,
        merge_commit,
    )

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    commit_version(df, table_dir)
    with open(os.path.join(table_dir, "_LATEST"), "w") as fh:
        fh.write("")  # the classic zero-length crash artifact
    with pytest.raises(IOError, match="corrupt"):
        current_version(table_dir)
    with pytest.raises(IOError, match="corrupt"):
        merge_commit(spark, table_dir, df, ["id"])
    # v00001's data is untouched by the refusal
    assert spark.read.parquet(os.path.join(table_dir, "v00001")).count() == 1


def test_vacuum_ignores_and_cleans_crashed_commit_orphans(spark, table_dir):
    """A staging dir numbered above the live pointer is a crashed
    commit, not a committed version: it must not count toward `keep`
    (that would retire a real snapshot early) and is deleted outright."""
    import os

    from etl_football_analytics_pipeline_spark.sources.versioned import (
        commit_version,
        read_version,
        vacuum,
    )

    df = spark.createDataFrame([(1, "a")], "id long, name string")
    for _ in range(3):  # v1..v3, live=3
        commit_version(df, table_dir)
    os.makedirs(os.path.join(table_dir, "v00007"))  # crashed-commit orphan
    dropped = vacuum(table_dir, keep=2)
    assert 7 in dropped and 1 in dropped and 2 not in dropped
    assert not os.path.isdir(os.path.join(table_dir, "v00007"))
    assert read_version(spark, table_dir, 2).count() == 1  # kept
    assert read_version(spark, table_dir, 3).count() == 1  # live


def test_remote_scheme_commit_protocol(spark, tmp_path):
    """NEW r8: scheme'd paths commit via empty `_commits/cNNNNNNNN`
    markers through the Hadoop FS API — a file:// URI exercises the
    exact code path an s3a:// or hdfs:// table would (no renames, no
    pointer content, create-if-absent publish)."""
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        commit_version,
        current_version,
        delete_commit,
        merge_commit,
        read_latest,
        read_version,
    )

    tbl = f"file://{tmp_path}/remote_tbl"
    assert current_version(tbl) is None
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert commit_version(df1, tbl) == 1
    assert current_version(tbl) == 1
    assert _rows(read_latest(spark, tbl)) == [(1, "a"), (2, "b")]
    # merge + time travel
    delta = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    assert merge_commit(spark, tbl, delta, ["k"]) == 2
    assert _rows(read_latest(spark, tbl)) == [(1, "a"), (2, "B"), (3, "c")]
    assert _rows(read_version(spark, tbl, 1)) == [(1, "a"), (2, "b")]
    # row-level delete commits a third snapshot
    doomed = spark.createDataFrame([(1,)], "k long")
    assert delete_commit(spark, tbl, doomed, ["k"]) == 3
    assert _rows(read_latest(spark, tbl)) == [(2, "B"), (3, "c")]


def test_remote_crashed_writer_leaves_previous_version_live(spark, tmp_path):
    """A remote data dir WITHOUT its marker is a crashed commit:
    readers stay on the previous version and the next commit reuses
    the number, replacing the orphan."""
    import os as _os

    from etl_football_analytics_pipeline_spark.sources.versioned import (
        commit_version,
        current_version,
        read_latest,
    )

    tbl = f"file://{tmp_path}/remote_tbl"
    local = f"{tmp_path}/remote_tbl"
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    commit_version(df1, tbl)
    # crash state: v00002 data written, marker never created
    spark.createDataFrame([(9, "junk")], "k long, v string").write.parquet(
        f"{tbl}/v00002"
    )
    assert current_version(tbl) == 1
    assert _rows(read_latest(spark, tbl)) == [(1, "a")]
    v = commit_version(
        spark.createDataFrame([(2, "b")], "k long, v string"), tbl
    )
    assert v == 2  # the retry claims the number the crash abandoned
    assert _rows(read_latest(spark, tbl)) == [(2, "b")]
    assert _os.path.isdir(f"{local}/v00002")


def test_remote_duplicate_marker_race_fails_loud(spark, tmp_path):
    """Two writers racing one version number: the second marker create
    must fail (create-if-absent), never silently clobber."""
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        commit_version,
    )

    from unittest import mock

    from etl_football_analytics_pipeline_spark.sources import versioned

    tbl = f"file://{tmp_path}/remote_tbl"
    commit_version(
        spark.createDataFrame([(1, "a")], "k long, v string"), tbl
    )
    # the race: BOTH writers read current=1 and target v2; the faster
    # one's marker lands first. Simulate the slower writer by pinning
    # its version read to the stale [1] while the real marker exists.
    import os as _os

    _os.makedirs(f"{tmp_path}/remote_tbl/_commits", exist_ok=True)
    open(f"{tmp_path}/remote_tbl/_commits/c00000002", "w").close()
    # give the forged marker a real data dir (the winner's commit)
    spark.createDataFrame([(2, "b")], "k long, v string").write.parquet(
        f"{tbl}/v00002"
    )
    from etl_football_analytics_pipeline_spark.manifest import CommitConflict

    with mock.patch.object(versioned, "_remote_versions", return_value=[1]):
        with pytest.raises(CommitConflict, match="concurrent writer"):
            commit_version(
                spark.createDataFrame([(2, "LOSER")], "k long, v string"),
                tbl,
            )
    # the loser died BEFORE touching storage: the winner's data dir is
    # intact (the pre-write marker probe — deleting it as a "crashed
    # orphan" and then dying on the marker would lose committed data)
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        read_version,
    )

    assert _rows(read_version(spark, tbl, 2)) == [(2, "b")]
    # the retry path re-reads and commits v3 cleanly
    v = commit_version(
        spark.createDataFrame([(3, "c")], "k long, v string"), tbl
    )
    assert v == 3


def test_remote_vacuum_retires_and_cleans_orphans(spark, tmp_path):
    import os as _os

    from etl_football_analytics_pipeline_spark.sources.versioned import (
        commit_version,
        read_version,
        vacuum,
    )

    tbl = f"file://{tmp_path}/remote_tbl"
    local = f"{tmp_path}/remote_tbl"
    for i in range(1, 5):
        commit_version(
            spark.createDataFrame([(i,)], "k long"), tbl
        )
    # crashed-commit orphan: data dir with no marker
    spark.createDataFrame([(99,)], "k long").write.parquet(f"{tbl}/v00009")
    dropped = vacuum(tbl, keep=2)
    assert sorted(dropped) == [1, 2, 9]
    assert not _os.path.isdir(f"{local}/v00001")
    assert not _os.path.isdir(f"{local}/v00009")
    assert not _os.path.exists(f"{local}/_commits/c00000001")
    assert read_version(spark, tbl, 3).count() == 1  # kept
    assert read_version(spark, tbl, 4).count() == 1  # live
    # mid-vacuum crash state: marker gone, dir still present → the
    # dir is an orphan now; the next vacuum finishes the retirement
    _os.remove(f"{local}/_commits/c00000003")
    assert vacuum(tbl, keep=2) == [3]
    assert not _os.path.isdir(f"{local}/v00003")


def test_schema_evolution_rejects_case_colliding_columns(spark, table_dir):
    """Spark resolves names case-insensitively by default: live 'ID'
    vs delta 'id' is the same retype hazard as an exact-name clash and
    must raise, not commit an ambiguous table."""
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        commit_version,
        merge_commit,
    )

    commit_version(
        spark.createDataFrame([(1, "a")], "ID long, name string"), table_dir
    )
    delta = spark.createDataFrame([(1, "b", 2)], "ID long, name string, id int")
    with pytest.raises(ValueError, match="case-colliding"):
        merge_commit(spark, table_dir, delta, ["ID"], evolve_schema=True)


def test_versioned_warehouse_on_remote_scheme(spark, tmp_path):
    """The versioned warehouse composes with the r8 remote
    commit protocol: write_warehouse to a file:// URI lands each table
    as version dirs behind _commits markers (no pointer file, no
    renames), loads stay idempotent, and retention vacuums through the
    Hadoop FS."""
    import os as _os

    from etl_football_analytics_pipeline_spark.pipeline.warehouse import (
        write_warehouse,
    )
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        current_version,
        read_latest,
    )

    out_dir = f"file://{tmp_path}/wh"
    dims = {
        "dim_team": spark.createDataFrame(
            [(1, "Alpha", 10), (2, "Beta", 11)],
            "team_id long, team_name string, stadium_id long",
        )
    }
    out1 = write_warehouse(spark, dims, out_dir, keep_versions=2)
    tdir = f"{out_dir}/dim_team"
    assert current_version(tdir) == 1
    assert _rows(out1["dim_team"]) == [(1, "Alpha", 10), (2, "Beta", 11)]
    # upsert on reload; remote markers advance
    dims2 = {
        "dim_team": spark.createDataFrame(
            [(2, "Beta-v2", 11)], "team_id long, team_name string, stadium_id long"
        )
    }
    out2 = write_warehouse(spark, dims2, out_dir, keep_versions=2)
    assert current_version(tdir) == 2
    assert _rows(out2["dim_team"]) == [(1, "Alpha", 10), (2, "Beta-v2", 11)]
    assert _rows(read_latest(spark, tdir)) == [(1, "Alpha", 10), (2, "Beta-v2", 11)]
    # third load trips the keep=2 vacuum: v1 is retired, markers agree
    write_warehouse(spark, dims2, out_dir, keep_versions=2)
    local = f"{tmp_path}/wh/dim_team"
    assert not _os.path.isdir(f"{local}/v00001")
    assert not _os.path.exists(f"{local}/_commits/c00000001")
    markers = sorted(
        n for n in _os.listdir(f"{local}/_commits") if not n.startswith(".")
    )  # the local Hadoop FS adds .crc sidecars; markers are the contract
    assert markers == ["c00000002", "c00000003"]
    # no pointer file in the remote layout
    assert not _os.path.exists(f"{local}/_LATEST")


# ---------------------------------------------------------------------------
# r11: file-level copy-on-write merge/delete commits
# ---------------------------------------------------------------------------


def _inodes(d):
    return {
        f: os.stat(os.path.join(d, f)).st_ino
        for f in os.listdir(d)
        if not f.startswith(("_", "."))
    }


def test_cow_merge_links_untouched_files_and_matches_full_rewrite(
    spark, table_dir
):
    """The CoW stager must (a) produce exactly the rows a full-rewrite
    merge produces, and (b) HARD-LINK every base file that contains no
    delta key — zero bytes copied, same inode."""
    import shutil

    from etl_football_analytics_pipeline_spark.sources.versioned import (
        delete_commit,
    )

    # 4 files with disjoint key ranges, so a small delta touches one
    base = spark.range(0, 400).selectExpr("id AS k", "'old' AS val")
    commit_version(base.repartitionByRange(4, "k"), table_dir)
    inodes_v1 = _inodes(version_dir(table_dir, 1))
    assert len(inodes_v1) == 4

    # an identical table committed the pre-r11 way, as the oracle
    twin = table_dir + "-twin"
    shutil.copytree(table_dir, twin)

    delta = spark.createDataFrame(
        [(5, "new"), (7, "new"), (999, "new")], "k long, val string"
    )
    merge_commit(spark, table_dir, delta, ["k"])
    merge_commit(spark, twin, delta, ["k"], file_reuse=False)
    assert _rows(read_latest(spark, table_dir)) == _rows(
        read_latest(spark, twin)
    )

    # untouched base files are the SAME inodes in v2; the touched one
    # (k=5,7 live in the first range file) was rewritten, not linked
    inodes_v2 = _inodes(version_dir(table_dir, 2))
    shared = set(inodes_v1.values()) & set(inodes_v2.values())
    assert len(shared) == 3, (inodes_v1, inodes_v2)

    # delete CoW: same contract
    doomed = spark.createDataFrame([(250,)], "k long")
    delete_commit(spark, table_dir, doomed, ["k"])
    delete_commit(spark, twin, doomed, ["k"], file_reuse=False)
    assert _rows(read_latest(spark, table_dir)) == _rows(
        read_latest(spark, twin)
    )
    inodes_v3 = _inodes(version_dir(table_dir, 3))
    assert set(inodes_v2.values()) & set(inodes_v3.values()), "links expected"


def test_cow_merge_touching_every_file_rewrites_from_live_frame(
    spark, table_dir, monkeypatch
):
    """A delta whose keys reach every base file (a full re-load) gives
    the same rows as the full-rewrite merge, links nothing, and
    rewrites from the base frame merge_commit already holds instead of
    re-reading the base files by name."""
    import shutil

    from pyspark.sql.readwriter import DataFrameReader

    base = spark.range(0, 400).selectExpr("id AS k", "'old' AS val")
    commit_version(base.repartitionByRange(4, "k"), table_dir)
    inodes_v1 = _inodes(version_dir(table_dir, 1))
    assert len(inodes_v1) == 4
    twin = table_dir + "-twin"
    shutil.copytree(table_dir, twin)

    reads = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **options):
        reads.extend(paths)
        return orig(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    delta = spark.createDataFrame(
        [(5, "new"), (150, "new"), (250, "new"), (350, "new"), (999, "new")],
        "k long, val string",
    )
    merge_commit(spark, table_dir, delta, ["k"])
    assert not [p for p in reads if p.endswith(".parquet")], reads
    monkeypatch.undo()

    merge_commit(spark, twin, delta, ["k"], file_reuse=False)
    got = _rows(read_latest(spark, table_dir))
    assert got == _rows(read_latest(spark, twin))
    assert len(got) == 401
    assert [r for r in got if r[1] == "new"] == [
        (5, "new"), (150, "new"), (250, "new"), (350, "new"), (999, "new"),
    ]
    inodes_v2 = _inodes(version_dir(table_dir, 2))
    assert not set(inodes_v1.values()) & set(inodes_v2.values())


def test_cow_delete_hard_erasure_after_vacuum(spark, table_dir):
    """Doomed rows live only in REWRITTEN (never linked) files, so
    vacuuming the old version drops their inodes' last links — the
    rows-nowhere-on-disk contract survives CoW."""
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        delete_commit,
    )

    base = spark.range(0, 100).selectExpr("id AS k", "'x' AS val")
    commit_version(base.repartitionByRange(4, "k"), table_dir)
    doomed_files_v1 = set()
    from pyspark.sql import functions as F

    for r in (
        read_latest(spark, table_dir)
        .where("k = 42")
        .select(F.input_file_name().alias("f"))
        .collect()
    ):
        doomed_files_v1.add(os.path.basename(r["f"]))
    assert doomed_files_v1
    delete_commit(
        spark, table_dir, spark.createDataFrame([(42,)], "k long"), ["k"]
    )
    # the doomed rows' file was NOT linked into v2
    v2_files = set(os.listdir(version_dir(table_dir, 2)))
    for f in doomed_files_v1:
        assert f not in v2_files
    vacuum(table_dir, keep=1)
    assert not os.path.exists(version_dir(table_dir, 1))
    assert _rows(read_latest(spark, table_dir).where("k = 42")) == []


def test_cow_merge_widening_delta_falls_back_to_full_rewrite(
    spark, table_dir
):
    """A schema-widening delta must NOT mix new-schema files with
    linked old-schema files: evolution takes the full-rewrite path and
    every v2 file carries the widened schema."""
    commit_version(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        .repartition(2),
        table_dir,
    )
    inodes_v1 = set(_inodes(version_dir(table_dir, 1)).values())
    delta = spark.createDataFrame(
        [(3, "c", 9.0)], "k long, v string, score double"
    )
    merge_commit(spark, table_dir, delta, ["k"], evolve_schema=True)
    inodes_v2 = set(_inodes(version_dir(table_dir, 2)).values())
    assert not (inodes_v1 & inodes_v2), "widened commit must not link"
    # every v2 file individually carries the widened schema
    for f in os.listdir(version_dir(table_dir, 2)):
        if f.startswith(("_", ".")):
            continue
        cols = set(
            spark.read.parquet(os.path.join(version_dir(table_dir, 2), f))
            .columns
        )
        assert cols == {"k", "v", "score"}, (f, cols)


def test_cow_merge_narrowing_delta_still_links(spark, table_dir):
    """An evolve_schema delta that merely MISSES columns is widened to
    the live schema and keeps the CoW path (on-disk schema unchanged)."""
    base = spark.range(0, 200).selectExpr(
        "id AS k", "'x' AS v", "CAST(id AS DOUBLE) AS score"
    )
    commit_version(base.repartitionByRange(4, "k"), table_dir)
    inodes_v1 = set(_inodes(version_dir(table_dir, 1)).values())
    delta = spark.createDataFrame([(5, "y")], "k long, v string")
    merge_commit(spark, table_dir, delta, ["k"], evolve_schema=True)
    inodes_v2 = set(_inodes(version_dir(table_dir, 2)).values())
    assert len(inodes_v1 & inodes_v2) == 3, (inodes_v1, inodes_v2)
    got = _rows(read_latest(spark, table_dir).where("k = 5"))
    assert got == [(5, "y", None)]


def test_cow_refuses_hand_built_partitioned_layout(spark, table_dir):
    """A version dir with partition SUBDIRECTORIES is not this
    module's layout — CoW must refuse loudly before rewriting anything
    (linking around a subdir would silently drop its rows)."""
    commit_version(
        spark.createDataFrame([(1, "a")], "k long, v string"), table_dir
    )
    # hand-plant a partition-style subdir inside the live version
    os.makedirs(os.path.join(version_dir(table_dir, 1), "p=1"))
    with pytest.raises(ValueError, match="partition subdirectory"):
        merge_commit(
            spark, table_dir,
            spark.createDataFrame([(2, "b")], "k long, v string"), ["k"],
        )


def test_cow_detection_tiers(spark, table_dir, monkeypatch):
    """Single orderable key on local files → the footer-stats prune
    decides touched files driver-side (zero Spark detection jobs) and
    returns exactly the key-range candidates; composite keys fall back
    to the distributed scan (stats tier never invoked); both produce
    the same committed rows."""
    import etl_football_analytics_pipeline_spark.sources.versioned as V

    calls = []
    orig = V._stats_touched

    def spy(live_dir, files, key, dk, has_null):
        out = orig(live_dir, files, key, dk, has_null)
        calls.append((key, tuple(sorted(dk)), None if out is None else set(out)))
        return out

    monkeypatch.setattr(V, "_stats_touched", spy)

    base = spark.range(0, 400).selectExpr("id AS k", "'old' AS val")
    commit_version(base.repartitionByRange(4, "k"), table_dir)
    delta = spark.createDataFrame([(7, "new"), (999, "new")], "k long, val string")
    merge_commit(spark, table_dir, delta, ["k"])
    assert len(calls) == 1
    key, dk, out = calls[0]
    assert key == "k" and dk == (7, 999)
    # k=7 lives in the first range file; 999 is beyond every file's
    # max → pure insert, touches nothing
    assert out is not None and len(out) == 1
    got = _rows(read_latest(spark, table_dir).where("k IN (7, 999)"))
    assert got == [(7, "new"), (999, "new")]

    # composite key: stats tier skipped, scan detection used, rows exact
    calls.clear()
    tbl2 = table_dir + "-2keys"
    commit_version(
        spark.createDataFrame(
            [(1, "a", "x"), (1, "b", "y"), (2, "a", "z")],
            "k long, s string, val string",
        ),
        tbl2,
    )
    merge_commit(
        spark, tbl2,
        spark.createDataFrame([(1, "b", "Y2")], "k long, s string, val string"),
        ["k", "s"],
    )
    assert calls == []
    assert _rows(read_latest(spark, tbl2)) == [
        (1, "a", "x"), (1, "b", "Y2"), (2, "a", "z"),
    ]


def test_cow_merge_null_key_replaces_not_duplicates(spark, table_dir):
    """The merge operators match NULL = NULL (eqNullSafe), so a
    NULL-keyed delta row REPLACES a NULL-keyed live row — CoW detection
    must treat the file holding the NULL row as touched, in BOTH
    detection tiers, or the old row would be linked back in next to
    the new one (r11 review finding: silent duplication)."""
    base = spark.createDataFrame(
        [(None, "old-null"), (1, "a"), (2, "b")], "k long, val string"
    )
    commit_version(base.repartition(3), table_dir)
    delta = spark.createDataFrame([(None, "new-null")], "k long, val string")
    # stats tier (single bigint key, local files)
    merge_commit(spark, table_dir, delta, ["k"])
    got = sorted(
        (tuple(r) for r in read_latest(spark, table_dir).collect()),
        key=repr,
    )
    assert got == sorted(
        [(1, "a"), (2, "b"), (None, "new-null")], key=repr
    ), got

    # scan tier (composite key) — same semantics
    tbl2 = table_dir + "-scan"
    commit_version(
        spark.createDataFrame(
            [(None, "x", "old"), (1, "y", "keep")], "k long, s string, val string"
        ).repartition(2),
        tbl2,
    )
    merge_commit(
        spark, tbl2,
        spark.createDataFrame([(None, "x", "new")], "k long, s string, val string"),
        ["k", "s"],
    )
    got2 = sorted(
        (tuple(r) for r in read_latest(spark, tbl2).collect()), key=repr
    )
    assert got2 == sorted(
        [(1, "y", "keep"), (None, "x", "new")], key=repr
    ), got2


def test_cow_delete_mismatched_key_type_falls_back_to_scan(spark, table_dir):
    """A doomed-key frame typed differently from the table (string
    '42' vs bigint k) must not crash the stats tier with an uncaught
    TypeError — it falls back to the scan join, which casts implicitly
    (the pre-r11 behavior)."""
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        delete_commit,
    )

    commit_version(
        spark.range(0, 100).selectExpr("id AS k", "'x' AS val")
        .repartitionByRange(4, "k"),
        table_dir,
    )
    doomed = spark.createDataFrame([("42",)], "k string")
    delete_commit(spark, table_dir, doomed, ["k"])
    assert _rows(read_latest(spark, table_dir).where("k = 42")) == []
    assert read_latest(spark, table_dir).count() == 99


def test_cow_link_failure_leaves_base_live_and_retry_succeeds(
    spark, table_dir, monkeypatch
):
    """A failure mid-link-loop (e.g. the filesystem dying while
    cloning untouched files) aborts BEFORE publish: the base version
    stays live and intact, the claim is released, and a retry on a
    healed filesystem lands."""
    import etl_football_analytics_pipeline_spark.sources.versioned as V
    import etl_football_analytics_pipeline_spark.utils as U

    base = spark.range(0, 400).selectExpr("id AS k", "'old' AS val")
    commit_version(base.repartitionByRange(4, "k"), table_dir)
    delta = spark.createDataFrame([(5, "new")], "k long, val string")

    calls = {"n": 0}
    orig = U._clone_dir

    def dying_clone(spark_, src, dst):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise IOError("filesystem died mid-clone")
        return orig(spark_, src, dst)

    # versioned binds _clone_dir by late import inside write() — patch
    # the utils module it imports from
    monkeypatch.setattr(U, "_clone_dir", dying_clone)
    with pytest.raises(IOError, match="died mid-clone"):
        merge_commit(spark, table_dir, delta, ["k"])
    # base untouched and live; no claim residue blocks the retry
    assert current_version(table_dir) == 1
    assert _rows(read_latest(spark, table_dir).where("k = 5")) == [
        (5, "old")
    ]
    monkeypatch.setattr(U, "_clone_dir", orig)
    assert merge_commit(spark, table_dir, delta, ["k"]) == 2
    assert _rows(read_latest(spark, table_dir).where("k = 5")) == [
        (5, "new")
    ]


def test_stats_prune_handles_multi_row_group_files(tmp_path):
    """Footer-stats pruning walks EVERY row group: a file whose later
    row group holds the delta key must be touched even when its first
    group's range misses, NULL detection sees any group's null_count,
    and an all-NULL row group (no min/max stats) does not disqualify
    the prune (pinned with pyarrow-written multi-group files — Spark's
    writer emits one group at these sizes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import etl_football_analytics_pipeline_spark.sources.versioned as V

    d = str(tmp_path)
    pq.write_table(
        pa.table({"k": list(range(0, 1000))}),
        os.path.join(d, "part-0.parquet"), row_group_size=100,
    )
    pq.write_table(
        pa.table({"k": list(range(1000, 2000))}),
        os.path.join(d, "part-1.parquet"), row_group_size=100,
    )
    assert (
        pq.ParquetFile(os.path.join(d, "part-0.parquet"))
        .metadata.num_row_groups == 10
    )
    files = ["part-0.parquet", "part-1.parquet"]
    # key in file 0's LAST group only
    assert V._stats_touched(d, files, "k", [950], False) == {"part-0.parquet"}
    # key in file 1's last group
    assert V._stats_touched(d, files, "k", [1999], False) == {"part-1.parquet"}
    # between-group gap: no file touched
    assert V._stats_touched(d, files, "k", [2500], False) == set()
    # NULL delta key: only the file with NULLs (in a middle group)
    pq.write_table(
        pa.table({"k": list(range(2000, 2100)) + [None] * 5 + list(range(2200, 2300))}),
        os.path.join(d, "part-2.parquet"), row_group_size=100,
    )
    files3 = files + ["part-2.parquet"]
    assert V._stats_touched(d, files3, "k", [], True) == {"part-2.parquet"}
    # an ALL-NULL row group lacks min/max: with no NULL delta key it
    # must be skipped, not disqualify the file/prune
    pq.write_table(
        pa.table({"k": [None] * 100 + list(range(3000, 3100))}),
        os.path.join(d, "part-3.parquet"), row_group_size=100,
    )
    files4 = files3 + ["part-3.parquet"]
    got = V._stats_touched(d, files4, "k", [3050], False)
    assert got == {"part-3.parquet"}, got


def test_compact_commit_folds_cow_chain(spark, table_dir):
    """Long CoW chains grow one part file (plus links) per commit;
    compact_commit folds the live snapshot into ~target_files files as
    a new version with identical rows — and a raced compaction REBASES
    (it is a function of the live snapshot alone, unlike a user
    replace)."""
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        compact_commit,
    )

    commit_version(
        spark.range(0, 300).selectExpr("id AS k", "'seed' AS val")
        .repartitionByRange(3, "k"),
        table_dir,
    )
    for i in range(5):
        delta = spark.createDataFrame(
            [(1000 + i, "w")], "k long, val string"
        )
        merge_commit(spark, table_dir, delta, ["k"])
    live_v = current_version(table_dir)
    files_before = [
        f for f in os.listdir(version_dir(table_dir, live_v))
        if not f.startswith(("_", "."))
    ]
    assert len(files_before) >= 6  # 3 base + one part per CoW commit
    v = compact_commit(spark, table_dir, target_files=2)
    assert v == live_v + 1
    files_after = [
        f for f in os.listdir(version_dir(table_dir, v))
        if not f.startswith(("_", "."))
    ]
    assert len(files_after) <= 3, files_after
    assert read_latest(spark, table_dir).count() == 305
    assert _rows(read_latest(spark, table_dir).where("k >= 1000")) == [
        (1000 + i, "w") for i in range(5)
    ]

    # raced compaction rebases rather than failing loud
    import etl_football_analytics_pipeline_spark.sources.versioned as V

    orig = V._commit_staged
    state = {"fired": False}

    def racy(write, td, expected_base=None):
        if not state["fired"]:
            state["fired"] = True
            V.merge_commit(
                spark, td,
                spark.createDataFrame([(2000, "late")], "k long, val string"),
                ["k"],
            )
        return orig(write, td, expected_base)

    V._commit_staged = racy
    try:
        v2 = compact_commit(spark, table_dir, target_files=2, retries=3)
    finally:
        V._commit_staged = orig
    assert _rows(read_latest(spark, table_dir).where("k = 2000")) == [
        (2000, "late")
    ]  # the rival's row survives the rebased compaction
    assert read_latest(spark, table_dir).count() == 306
    assert v2 == current_version(table_dir)


def test_merge_commit_auto_compact_bounds_file_count(spark, table_dir):
    """auto_compact_files: once a CoW commit's file count exceeds the
    threshold, a compaction follows automatically — the file count
    stays bounded across an arbitrarily long merge chain."""
    commit_version(
        spark.range(0, 200).selectExpr("id AS k", "'seed' AS val")
        .repartitionByRange(2, "k"),
        table_dir,
    )
    for i in range(8):
        merge_commit(
            spark, table_dir,
            spark.createDataFrame([(1000 + i, "w")], "k long, val string"),
            ["k"], auto_compact_files=5,
        )
        live_v = current_version(table_dir)
        nf = len([
            f for f in os.listdir(version_dir(table_dir, live_v))
            if not f.startswith(("_", "."))
        ])
        assert nf <= 6, (i, nf)  # threshold+1 transient, then compacted
    assert read_latest(spark, table_dir).count() == 208


def test_cow_merge_on_remote_scheme_protocol(spark, tmp_path):
    """CoW through the REMOTE (file://) marker protocol: the
    _commit_staged remote branch stages the CoW write into the
    fixed-name version dir under an intent claim, untouched files
    hard-link (file:// is link-capable), and results match the
    full-rewrite twin. Also pins CoW merge IDEMPOTENCE: re-merging the
    same delta commits a new version with identical rows."""
    td = "file://" + str(tmp_path / "t")
    base = spark.range(0, 400).selectExpr("id AS k", "'old' AS val")
    commit_version(base.repartitionByRange(4, "k"), td)
    delta = spark.createDataFrame([(5, "new"), (999, "new")], "k long, val string")
    assert merge_commit(spark, td, delta, ["k"]) == 2
    want = sorted(
        [(k, "old") for k in range(400) if k != 5] + [(5, "new"), (999, "new")]
    )
    assert _rows(read_latest(spark, td)) == want
    # links: untouched files share inodes across versions
    local = str(tmp_path / "t")
    ino1 = {
        os.stat(os.path.join(local, "v00001", f)).st_ino
        for f in os.listdir(os.path.join(local, "v00001"))
        if not f.startswith(("_", "."))
    }
    ino2 = {
        os.stat(os.path.join(local, "v00002", f)).st_ino
        for f in os.listdir(os.path.join(local, "v00002"))
        if not f.startswith(("_", "."))
    }
    assert len(ino1 & ino2) == 3, (ino1, ino2)
    # idempotence: same delta again → new version, identical rows
    assert merge_commit(spark, td, delta, ["k"]) == 3
    assert _rows(read_latest(spark, td)) == want


def test_auto_compact_failure_does_not_fail_the_committed_merge(
    spark, table_dir, monkeypatch
):
    """r12 (ADVICE r11): auto-compaction is post-commit housekeeping —
    a compaction failure (e.g. a raced compact_commit exhausting
    retries) must surface as a WARNING, never as a merge/delete
    failure, because the version is already durable and a caller
    re-running the merge on that signal would double-apply but for
    idempotence."""
    import etl_football_analytics_pipeline_spark.sources.versioned as V
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        delete_commit,
    )

    commit_version(
        spark.range(0, 50).selectExpr("id AS k", "'seed' AS val")
        .repartitionByRange(4, "k"),
        table_dir,
    )

    def boom(*a, **k):
        raise V.CommitConflict("raced compaction, retries exhausted")

    monkeypatch.setattr(V, "compact_commit", boom)
    with pytest.warns(UserWarning, match="IS COMMITTED"):
        v = merge_commit(
            spark, table_dir,
            spark.createDataFrame([(7, "new")], "k long, val string"),
            ["k"], auto_compact_files=1,
        )
    assert v == 2 == current_version(table_dir)
    assert _rows(read_latest(spark, table_dir).where("k = 7")) == [(7, "new")]
    with pytest.warns(UserWarning, match="IS COMMITTED"):
        v3 = delete_commit(
            spark, table_dir,
            spark.createDataFrame([(7,)], "k long"),
            ["k"], auto_compact_files=1,
        )
    assert v3 == 3 == current_version(table_dir)
    assert read_latest(spark, table_dir).where("k = 7").count() == 0


def test_cow_skipped_when_not_link_capable(spark, table_dir, monkeypatch):
    """r12 (ADVICE r11): on schemes where _clone_dir cannot hard-link
    (no link primitive — untouched files would be FS-copied one at a
    time from the driver), merge/delete take the distributed
    full-rewrite path; CoW engages only where links make it O(churn)."""
    import etl_football_analytics_pipeline_spark.sources.versioned as V
    from etl_football_analytics_pipeline_spark.sources.versioned import (
        delete_commit,
    )

    assert V._link_capable("/bare/path") and V._link_capable("file:///x")
    assert not V._link_capable("s3a://bucket/t")
    assert not V._link_capable("hdfs://nn/t")
    commit_version(
        spark.range(0, 40).selectExpr("id AS k", "'old' AS val")
        .repartitionByRange(4, "k"),
        table_dir,
    )
    monkeypatch.setattr(V, "_link_capable", lambda p: False)
    called = {"n": 0}
    orig = V._cow_stager

    def spy(*a, **k):
        called["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(V, "_cow_stager", spy)
    v = merge_commit(
        spark, table_dir,
        spark.createDataFrame([(1, "new")], "k long, val string"), ["k"],
    )
    assert called["n"] == 0 and v == 2
    assert _rows(read_latest(spark, table_dir).where("k <= 1")) == [
        (0, "old"), (1, "new")
    ]
    v3 = delete_commit(
        spark, table_dir, spark.createDataFrame([(0,)], "k long"), ["k"]
    )
    assert called["n"] == 0 and v3 == 3
    assert read_latest(spark, table_dir).where("k = 0").count() == 0
