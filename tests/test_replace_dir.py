"""replace_dir + the manifest-pointer commit protocol every index
compaction rewrites through.

r8 changed the commit from a two-directory-rename swap (metadata-atomic
on HDFS/local, but a full-tree COPY on S3-likes) to a manifest-pointer
commit: the new tree lands under ``dest/_trees/<token>`` and the
publish is ONE create-if-absent of an empty marker file — no renames
anywhere, so the protocol is object-store-safe. The properties under
test:

- the old tree is never touched before the replacement is durable AND
  published (writer failure → old data intact);
- readers resolve through the manifest (``resolved_dir``) and always
  see a complete tree;
- every crash window is recoverable: kill between tree-write and
  marker (orphan tree, old version live), kill between marker and
  retention (new version live, old tree GC'd by the next commit);
- legacy rename-swap dirs (pre-r8) convert transparently, including
  their own mid-swap crash states;
- retention deletes are verified — after a successful replace the old
  rows exist NOWHERE on disk (the hard-erasure contract).
"""

from __future__ import annotations

import glob
import os

import pytest

from etl_football_analytics_pipeline_spark.manifest import (
    current_manifest,
    manifest_commit,
    manifest_vacuum,
    manifest_versions,
    read_relation,
    resolved_dir,
    tree_dir,
)
from etl_football_analytics_pipeline_spark.operators.tombstones import replace_dir


def _ids_on_disk(dest: str, spark) -> set[int]:
    """Every id value in every parquet file anywhere under dest —
    the raw-storage view, independent of manifest resolution."""
    files = [
        f
        for f in glob.glob(f"{dest}/**/*.parquet", recursive=True)
        if os.path.basename(f)[0] not in "._"
    ]
    out: set[int] = set()
    for f in files:
        out |= {r[0] for r in spark.read.parquet(f).select("id").collect()}
    return out


def test_replace_dir_swaps_and_cleans_leftovers(spark, tmp_path):
    dest = f"{tmp_path}/rel"
    spark.range(5).write.parquet(dest)
    # stale sibling dirs from a crashed PRE-r8 rename-swap run must not
    # poison the conversion
    os.makedirs(f"{dest}.__new/junk")
    os.makedirs(f"{dest}.__old/junk")
    replace_dir(spark, dest, lambda p: spark.range(7).write.parquet(p))
    assert read_relation(spark, dest).count() == 7
    assert not os.path.exists(f"{dest}.__new")
    assert not os.path.exists(f"{dest}.__old")
    # the manifest is live and the legacy root files are gone
    assert current_manifest(spark, dest) is not None
    assert resolved_dir(spark, dest) != dest
    assert _ids_on_disk(dest, spark) == set(range(7))


def test_replace_dir_replacement_can_read_the_source(spark, tmp_path):
    """The canonical compaction shape: the replacement plan READS the
    dir being replaced — safe because the old tree does not move until
    the new tree is durable and the marker committed."""
    dest = f"{tmp_path}/rel"
    spark.range(10).write.parquet(dest)
    survivors = read_relation(spark, dest).filter("id < 4")
    replace_dir(spark, dest, lambda p: survivors.write.parquet(p))
    assert read_relation(spark, dest).count() == 4
    # and again, now reading THROUGH the manifest
    survivors2 = read_relation(spark, dest).filter("id < 2")
    replace_dir(spark, dest, lambda p: survivors2.write.parquet(p))
    assert read_relation(spark, dest).count() == 2
    # keep=1 retention: the replaced rows exist nowhere on disk
    assert _ids_on_disk(dest, spark) == {0, 1}


def test_replace_dir_failed_write_leaves_dest_intact(spark, tmp_path):
    dest = f"{tmp_path}/rel"
    spark.range(9).write.parquet(dest)

    def boom(p):
        raise RuntimeError("writer failed")

    with pytest.raises(RuntimeError, match="writer failed"):
        replace_dir(spark, dest, boom)
    assert read_relation(spark, dest).count() == 9

    def empty(p):  # a writer that produced nothing must also not commit
        pass

    with pytest.raises(IOError, match="produced nothing"):
        replace_dir(spark, dest, empty)
    assert read_relation(spark, dest).count() == 9
    # neither failure published a manifest — the legacy dir stays live
    assert current_manifest(spark, dest) is None


def test_replace_dir_creates_missing_dest(spark, tmp_path):
    """First-write path (a fresh table): nothing to retire."""
    dest = f"{tmp_path}/fresh"
    replace_dir(spark, dest, lambda p: spark.range(3).write.parquet(p))
    assert read_relation(spark, dest).count() == 3


def test_replace_dir_recovers_legacy_between_renames_crash(spark, tmp_path):
    """A PRE-r8 run that crashed between its swap renames left dest
    absent, the old copy at .__old and the finished replacement at
    .__new. The conversion must restore the old copy first (the
    writer's source), NOT delete it as a leftover."""
    dest = f"{tmp_path}/rel"
    spark.range(6).write.parquet(f"{dest}.__old")   # last complete copy
    spark.range(2).write.parquet(f"{dest}.__new")   # orphaned replacement
    survivors = None

    def write(p):
        nonlocal survivors
        survivors = read_relation(spark, dest).filter("id < 5").collect()
        read_relation(spark, dest).filter("id < 5").write.parquet(p)

    replace_dir(spark, dest, write)
    assert len(survivors) == 5  # writer saw the RECOVERED old copy
    assert read_relation(spark, dest).count() == 5
    assert not os.path.exists(f"{dest}.__new")
    assert not os.path.exists(f"{dest}.__old")


def test_crash_between_tree_write_and_marker(spark, tmp_path):
    """Kill-between-write-and-pointer-swap: the new tree is fully
    written but the marker was never created. Readers must still
    resolve the OLD version, and the next commit must succeed and
    garbage-collect the orphan tree."""
    dest = f"{tmp_path}/rel"
    replace_dir(spark, dest, lambda p: spark.range(4).write.parquet(p))
    v1 = current_manifest(spark, dest)

    class Kill(RuntimeError):
        pass

    def crashing_writer(p):
        spark.range(100, 103).write.parquet(p)  # tree fully written...
        raise Kill()  # ...but the process dies before the marker

    with pytest.raises(Kill):
        replace_dir(spark, dest, crashing_writer)
    # old version still live; the orphan tree is unreachable
    assert current_manifest(spark, dest) == v1
    assert {r[0] for r in read_relation(spark, dest).collect()} == set(range(4))
    orphans = [
        d for d in os.listdir(f"{dest}/_trees")
        if d != os.path.basename(resolved_dir(spark, dest))
    ]
    assert orphans  # the crashed tree is on disk...
    replace_dir(spark, dest, lambda p: spark.range(8).write.parquet(p))
    assert read_relation(spark, dest).count() == 8
    # ...and SURVIVES the commit-path vacuum (r9: no version arithmetic
    # can distinguish a crashed orphan from a rival writer's in-flight
    # tree, so the commit's own vacuum never GCs unreferenced trees —
    # readers never resolve them either way)
    assert len(os.listdir(f"{dest}/_trees")) == 2
    # an EXPLICIT quiesced vacuum is the post-crash hard-erasure path:
    # it GCs every unreferenced tree
    manifest_vacuum(spark, dest, keep=1)
    assert _ids_on_disk(dest, spark) == set(range(8))
    assert len(os.listdir(f"{dest}/_trees")) == 1


def test_crash_between_marker_and_retention(spark, tmp_path):
    """Kill after the marker create but before retention: the commit
    HAPPENED (readers resolve the new tree); the old tree lingers only
    until the next commit's vacuum."""
    dest = f"{tmp_path}/rel"
    manifest_commit(spark, dest, lambda p: spark.range(5).write.parquet(p))
    # simulate the crash by committing WITHOUT retention (keep=2 keeps
    # the old tree exactly like a death before the vacuum step)
    manifest_commit(
        spark, dest, lambda p: spark.range(50, 53).write.parquet(p), keep=2
    )
    assert {r[0] for r in read_relation(spark, dest).collect()} == {50, 51, 52}
    assert len(manifest_versions(spark, dest)) == 2
    # next replace finishes the retirement
    replace_dir(spark, dest, lambda p: spark.range(7).write.parquet(p))
    assert read_relation(spark, dest).count() == 7
    assert len(manifest_versions(spark, dest)) == 1
    assert _ids_on_disk(dest, spark) == set(range(7))


def test_manifest_time_travel_and_vacuum(spark, tmp_path):
    dest = f"{tmp_path}/rel"
    v1 = manifest_commit(spark, dest, lambda p: spark.range(3).write.parquet(p), keep=3)
    v2 = manifest_commit(spark, dest, lambda p: spark.range(5).write.parquet(p), keep=3)
    assert (v1, v2) == (1, 2)
    versions = manifest_versions(spark, dest)
    assert [v for v, _ in versions] == [1, 2]
    # both trees readable while retained
    old_tree = tree_dir(dest, *versions[0])
    assert spark.read.parquet(old_tree).count() == 3
    assert read_relation(spark, dest).count() == 5
    dropped = manifest_vacuum(spark, dest, keep=1)
    assert dropped == [1]
    assert not os.path.exists(old_tree)
    assert read_relation(spark, dest).count() == 5


def test_manifest_duplicate_version_markers_refuse(spark, tmp_path):
    dest = f"{tmp_path}/rel"
    manifest_commit(spark, dest, lambda p: spark.range(2).write.parquet(p))
    (v, tok) = current_manifest(spark, dest)
    # forge a persistent second marker for the same version — the state
    # a racer leaves if it CRASHES between its marker create and its
    # verify-withdraw (r9); transient duplicates resolve within the
    # reader's brief re-list window, persistent ones must refuse
    forged = f"{dest}/_manifests/v{v:08d}.{'0' * 12}"
    open(forged, "w").close()
    with pytest.raises(IOError, match="delete the losing marker"):
        current_manifest(spark, dest)
    os.remove(forged)
    assert current_manifest(spark, dest) == (v, tok)


def test_manifest_on_file_scheme_uri(spark, tmp_path):
    """The protocol must run through the Hadoop FS API end-to-end: a
    file:// URI (remote-scheme code path, local disk) exercises the
    same branches an s3a:// or hdfs:// relation would."""
    dest = f"file://{tmp_path}/rel"
    replace_dir(spark, dest, lambda p: spark.range(6).write.parquet(p))
    assert read_relation(spark, dest).count() == 6
    replace_dir(
        spark, dest,
        lambda p: read_relation(spark, dest).filter("id < 2").write.parquet(p),
    )
    assert read_relation(spark, dest).count() == 2
    assert _ids_on_disk(f"{tmp_path}/rel", spark) == {0, 1}


def test_read_relation_version_time_travel(spark, tmp_path):
    from etl_football_analytics_pipeline_spark.manifest import (
        read_relation_version,
    )

    dest = f"{tmp_path}/rel"
    manifest_commit(spark, dest, lambda p: spark.range(3).write.parquet(p), keep=3)
    manifest_commit(spark, dest, lambda p: spark.range(7).write.parquet(p), keep=3)
    assert read_relation_version(spark, dest, 1).count() == 3
    assert read_relation_version(spark, dest, 2).count() == 7
    manifest_vacuum(spark, dest, keep=1)
    with pytest.raises(KeyError, match="vacuumed"):
        read_relation_version(spark, dest, 1)


def test_manifest_protocol_random_crash_walk(spark, tmp_path):
    """Model-based endurance: a seeded random walk of commits, crashes
    at every distinct protocol point, vacuums and reads — after every
    step the resolved relation must equal the MODEL (what a crash-free
    observer expects), and after every successful replace the raw disk
    must hold exactly the model's rows (keep=1 retention, orphan GC).
    One deterministic walk instead of a hypothesis fuzz: each step
    costs a Spark job, and the walk covers every transition class."""
    import random

    rng = random.Random(20260816)
    dest = f"{tmp_path}/rel"
    model: set[int] | None = None  # None = relation never written

    def payload(step: int) -> list[int]:
        base = step * 100
        return list(range(base, base + rng.randrange(1, 5)))

    class Kill(RuntimeError):
        pass

    for step in range(24):
        action = rng.choice(
            ["replace", "crash_in_writer", "crash_before_marker",
             "commit_keep3", "vacuum", "read"]
        )
        rows = payload(step)

        def write_rows(p, _rows=rows):
            spark.createDataFrame(
                [(i,) for i in _rows], "id long"
            ).write.parquet(p)

        if action == "replace":
            replace_dir(spark, dest, write_rows)
            model = set(rows)
            # full replace: raw disk holds the model, plus possibly a
            # crashed orphan tree the commit-path vacuum spared (r9:
            # same-version orphans may be a rival's in-flight tree);
            # the explicit-vacuum action below asserts exact equality
            assert _ids_on_disk(dest, spark) >= model, (step, action)
        elif action == "crash_in_writer":
            def boom(p):
                raise Kill()
            with pytest.raises(Kill):
                replace_dir(spark, dest, boom)
        elif action == "crash_before_marker":
            def tree_then_die(p, _rows=rows):
                spark.createDataFrame(
                    [(i,) for i in _rows], "id long"
                ).write.parquet(p)
                raise Kill()
            with pytest.raises(Kill):
                replace_dir(spark, dest, tree_then_die)
        elif action == "commit_keep3" and model is not None:
            manifest_commit(spark, dest, write_rows, keep=3)
            model = set(rows)
        elif action == "vacuum" and model is not None:
            manifest_vacuum(spark, dest, keep=1)
            if current_manifest(spark, dest) is not None:
                # keep=1 after a manifest commit: only the live tree
                assert _ids_on_disk(dest, spark) == model, (step, action)
        # invariant after EVERY step: resolved content == model
        if model is None:
            assert current_manifest(spark, dest) is None, (step, action)
        else:
            got = {r[0] for r in read_relation(spark, dest).collect()}
            assert got == model, (step, action, got, model)
