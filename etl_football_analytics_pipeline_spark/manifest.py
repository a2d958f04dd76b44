"""Manifest-pointer commits — object-store-safe atomic replacement
for relation directories.

The r7 durability story rewrote relations with a stage-and-rename
swap (``operators.tombstones.replace_dir``): metadata-atomic on HDFS
and local disk, but a RENAME ON S3-LIKES IS A COPY of the whole tree,
so the swap window widened with the data size — the one piece of the
index/warehouse design that did not generalize to the 100 TB
deployment. This module removes directory renames from the commit
path entirely:

    relation/
      _trees/v00000001-3f2a9c41d07b/   ← immutable parquet trees,
      _trees/v00000002-91c0de55aa18/     content-addressed by token
      _manifests/v00000001.3f2a9c41d07b ← EMPTY marker files; the
      _manifests/v00000002.91c0de55aa18   NAME is the whole manifest

A commit is: (1) write the new tree under a fresh uuid-token
directory nobody resolves yet, (2) create ONE empty marker file whose
name carries ``(version, token)``. Readers resolve the highest
committed version and scan an immutable tree. The properties:

- **No rename anywhere.** The publish step is a single
  create-if-absent of a zero-byte object — atomic on every filesystem
  Spark can write (a PUT on S3, an atomic namespace create on HDFS,
  an O_CREAT|O_EXCL on local disk). Nothing is ever renamed, so
  object-store rename-as-copy windows cannot exist.
- **Marker name IS the manifest.** An empty file cannot be "partially
  written": the instant the name exists the commit is complete, so
  there is no torn-pointer state to recover (the hazard the versioned
  table's ``_LATEST`` needed fsync choreography for).
- **Crash anywhere is recoverable, never destructive.** A crash
  before the marker leaves an orphan tree that readers never resolve
  (swept by an explicit quiesced ``manifest_vacuum`` — the
  commit-path vacuum never GCs unreferenced trees, because one may be
  a concurrent writer's in-flight tree and no version arithmetic can
  tell them apart); a crash after the marker has already committed —
  retention just hasn't retired the old tree yet, which the next
  commit finishes.
- **Concurrent-writer collisions are detected AT COMMIT TIME (r9),
  without any compare-and-swap primitive — and a final marker's
  existence always means the commit is COMPLETE.** Marker names carry
  the writer's token, so two racers create DIFFERENT names and a bare
  create-if-absent can never collide across writers. The commit is
  therefore TWO-PHASE: (1) create an INTENT file
  (``vNNNNNNNN.token.__intent`` — a name readers never match), (2)
  VERIFY by listing the version: any other intent, or any final
  marker, means a race — withdraw own intent+tree and raise
  ``CommitConflict``; (3) alone → create the final marker, delete the
  intent. With linearizable storage (local, HDFS, and S3 since its
  2020 strong-consistency upgrade — LIST included), whichever intent
  lands second is always visible to its own writer's verify, and the
  winner's intent stays visible until AFTER its final exists, so at
  most one FINAL per version can ever be created: exactly-once commit
  without If-None-Match, and readers / retention / rebasers — who
  consume only finals — can never observe, base on, or retire a
  not-yet-verified commit. Both racers may mutually withdraw — then
  neither committed and the version number is simply re-used, which
  ``retries > 0`` resolves with jittered backoff: the loser
  re-resolves the latest version, re-RUNS its write against the new
  live tree (automatic rebase for merge-shaped writes), and commits
  the next version — the Delta/Iceberg optimistic protocol reduced
  to this layout. A writer that CRASHES inside the (sub-second,
  three-FS-op) intent→final window leaves a stale intent fencing its
  version; rivals STEAL it only after observing it unchanged with no
  final across several re-lists spanning the steal window
  (``INTENT_STEAL_S``, configurable per commit via ``steal_after_s``).
- **The paused-writer duplicate window is FENCED (r10).** A still-live
  writer paused longer than the steal window between its verify and
  its final create used to degrade to two FINAL markers for one
  version. Two defenses close it: (1) every writer re-lists
  immediately before the final create and WITHDRAWS if its own intent
  was stolen or any final ≥ its target version appeared — the exposed
  window shrinks from the whole verify→final span to one listing
  round-trip; (2) on filesystems whose ``create(path, overwrite=
  False)`` is a true atomic create-if-absent (local O_EXCL, HDFS
  namespace create — and object stores that advertise conditional
  create, probed via ``hasPathCapability``), the final create happens
  under a shared per-version ``vNNNNNNNN.__lock`` file, so the
  fence-check+final-create pair is serialized: a duplicate then
  additionally requires the rival to steal BOTH the paused writer's
  intent and its held lock — each a full steal-window observation —
  inside that one-call span. Plain object stores without conditional
  PUT keep the two-phase protocol alone (documented fallback). Should the
  duplicate state still be forged or reached (manual tampering, a
  non-atomic store plus a doubly-paused writer), readers keep refusing
  loudly and ``manifest_repair`` now resolves it mechanically —
  lowest-token final wins, losers retired with verified deletes.

Retention is explicit: ``manifest_vacuum(keep=N)`` retires all but
the newest N versions and deletes any tree no surviving marker
references, RAISING on a failed delete — a hard erasure's "rows
exist nowhere on disk" contract rests on deletions being verified,
exactly like ``sources.versioned.vacuum``.

Reference analog: the reference commits its warehouse loads through
PostgreSQL transactions (`scr/Load.py`); this is the same atomicity
for parquet relations on any Hadoop-visible filesystem, shaped like
the metadata layer of a table format (Delta/Iceberg) reduced to what
the engine's relations need — including (r9) its optimistic
multi-writer commit protocol.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame

__all__ = [
    "CommitConflict",
    "current_manifest",
    "manifest_append",
    "manifest_commit",
    "manifest_repair",
    "manifest_vacuum",
    "manifest_versions",
    "read_relation",
    "read_relation_version",
    "resolved_dir",
    "tree_dir",
]


def _conflict_backoff(
    attempt: int, backoff_s: float, cap_s: float = 2.0
) -> None:
    """Jittered exponential backoff between optimistic-commit retries —
    ONE policy shared by every retrying commit path (manifest_commit,
    merge_commit, delete_commit), so contention
    behavior cannot silently diverge between protocols.

    CAPPED at ``cap_s`` (r10): the r10 contention sweep
    (SCALE.md, `scale_smoke.py --contention`) showed uncapped doubling
    is the p95 tail at 8 writers — a writer reaching attempt 12 slept
    ~80 s while the relation sat idle between its rivals' commits.
    Commits serialize per relation by design, so the productive wait
    is ~one rival commit duration, not an unbounded double; the jitter
    (uniform 0.5–1.5×) keeps capped writers decorrelated — the same
    bounded-exponential policy Delta/Iceberg converge on."""
    import random
    import time

    time.sleep(min(backoff_s * (2**attempt), cap_s) * (0.5 + random.random()))


class CommitConflict(IOError):
    """A concurrent writer committed the version this commit targeted.

    Raised at the publish point (marker / pointer create-if-absent)
    when the version number resolved at the start of the attempt was
    taken by another writer in the meantime. The losing commit has
    touched NOTHING live: its staged tree/dir is token- or
    version-named and unreferenced, so the caller may simply
    re-resolve and retry — which is exactly what the ``retries``
    parameter of ``manifest_commit`` / ``sources.versioned``'s
    merge-type commits automates."""


_TREES = "_trees"
_MANIFESTS = "_manifests"
# FINAL marker file name: v<8-digit version>.<12-hex tree token> —
# existence means the commit is COMPLETE (created only after the
# two-phase verify). Intent files carry the __intent suffix and are
# invisible to this regex, hence to every reader/retention path.
_MARKER_RE = re.compile(r"^v(\d{8})\.([0-9a-f]{12})$")
_INTENT_RE = re.compile(r"^v(\d{8})\.([0-9a-f]{12})\.__intent$")
# token-free shared publish lock (exclusive-create filesystems only):
# held across the fence-check + final-create pair, see manifest_commit
_LOCK_RE = re.compile(r"^v(\d{8})\.__lock$")
# a stale intent (writer crashed inside the sub-second intent→final
# window) may be stolen by a rival after being observed unchanged,
# with no final, across re-lists spanning at least this many seconds.
# 30 s (r10, was 10): the window must outlast a realistic JVM GC pause
# or object-store retry storm, because stealing from a STILL-LIVE
# writer forces that writer into a withdraw/retry (the r10 fence makes
# the steal safe, but it is still wasted work). Per-commit override:
# ``steal_after_s``; the module default stays monkeypatch-friendly.
INTENT_STEAL_S = 30.0
# schemes whose create(path, overwrite=False) is a TRUE atomic
# create-if-absent (O_EXCL on local disk, an atomic namespace op on
# HDFS): the publish there additionally serializes under the shared
# per-version __lock, closing the paused-writer duplicate window
# entirely. Plain object stores are NOT listed (a bare S3 PUT is
# last-writer-wins); stores that advertise conditional create are
# detected via the capability probe below.
EXCLUSIVE_CREATE_SCHEMES = {"", "file", "local", "hdfs", "viewfs", "webhdfs"}
# capability names probed (defensively — an unrecognized name just
# means the two-phase fallback) for conditional-create support on
# schemes outside the allowlist; recent Hadoop S3A exposes S3
# If-None-Match conditional PUT through the create builder and
# advertises it as a path capability
_CONDITIONAL_CREATE_CAPS = (
    "fs.capability.conditional.create",
    "fs.option.create.conditional.overwrite",
)
# the createFile-builder option that makes the create exclusivity
# server-enforced on capable stores (a PLAIN create there would still
# be client-side check-then-put — not a lock)
_CONDITIONAL_CREATE_OPTION = "fs.option.create.conditional.overwrite"
# probe result per (scheme, authority): "create" | "conditional" | None
# (None is cached too — absence of support is as stable as support)
_lock_support_cache: dict[tuple[str, str], str | None] = {}
# shared reader settle schedule: how long a resolver re-lists before
# concluding that an anomalous marker state is persistent (kept as a
# backstop; with two-phase commits finals are never withdrawn, so this
# should never fire on a healthy relation)
SETTLE_WAITS = (0.05, 0.15, 0.3, None)


def _intent_path(dest: str, version: int, token: str) -> str:
    return f"{dest.rstrip('/')}/{_MANIFESTS}/v{version:08d}.{token}.__intent"


def _lock_path(dest: str, version: int) -> str:
    return f"{dest.rstrip('/')}/{_MANIFESTS}/v{version:08d}.__lock"


def _publish_lock_supported(fs, hp, dest: str):
    """Whether ``dest``'s filesystem gives a TRUE exclusive create,
    making the shared publish lock sound there, and HOW: returns
    ``"create"`` (plain ``create(path, overwrite=False)`` is atomic —
    the scheme allowlist: local O_EXCL, HDFS namespace create),
    ``"conditional"`` (the store advertises conditional-create — the
    lock must go through the createFile BUILDER with the
    conditional-overwrite option, because a PLAIN create on such
    stores is still client-side check-then-put), or ``None`` (no
    sound exclusivity primitive — two-phase protocol only). Cached
    per (scheme, authority): one account's bucket may sit on an
    endpoint with conditional PUT while another does not."""
    from urllib.parse import urlsplit

    parts = urlsplit(dest)
    key = (parts.scheme, parts.netloc)
    hit = _lock_support_cache.get(key)
    if hit is not None or key in _lock_support_cache:
        return hit
    mode = "create" if parts.scheme in EXCLUSIVE_CREATE_SCHEMES else None
    if mode is None:
        for cap in _CONDITIONAL_CREATE_CAPS:
            try:
                if fs.hasPathCapability(hp(dest), cap):
                    mode = "conditional"
                    break
            except Exception:  # older Hadoop / unknown capability name
                pass
    _lock_support_cache[key] = mode
    return mode


def _exclusive_create(fs, hp, path: str, mode: str) -> None:
    """Create ``path`` exclusively: plain ``create(overwrite=False)``
    where that is atomic (mode='create'), or the createFile builder
    with the conditional-overwrite option where exclusivity is
    enforced server-side via If-None-Match (mode='conditional' —
    Hadoop 3.4.1+ S3A). Raises when the path already exists."""
    if mode == "create":
        fs.create(hp(path), False).close()
        return
    # HADOOP-19256 semantics (r11, ADVICE r10): conditional create is
    # requested by setting the option to TRUE **with overwrite(true)**
    # — the TRUE option swaps the overwrite path's blind PUT for an
    # If-None-Match PUT, giving a SERVER-enforced create-if-absent;
    # overwrite(false) with the option False (the pre-r11 spelling)
    # explicitly disabled it, silently degrading the "lock" to the
    # client-side check-then-put the builder path exists to avoid.
    builder = fs.createFile(hp(path)).overwrite(True)
    # the store advertised the capability, so .must() is understood;
    # a store that ignored it would silently downgrade to
    # check-then-put — must(), unlike opt(), makes an UNRECOGNIZED
    # mandatory key a hard error at build() (pinned by the stub-builder
    # model tests; a store that recognizes-but-ignores the value is
    # modeled there too — the protocol stays loud, see
    # tests/test_manifest_model.py's conditional-ignored sweep)
    builder = builder.must(_CONDITIONAL_CREATE_OPTION, True)
    builder.build().close()


def _is_not_found(exc: BaseException) -> bool:
    """Whether a stat exception is a definitive does-not-exist (local
    FileNotFoundError, Hadoop FileNotFoundException — py4j wraps the
    Java class name into the message, and the model FS raises
    IOError('not found: …')) as opposed to a storage/connectivity
    FAULT, which answers nothing."""
    if isinstance(exc, FileNotFoundError):
        return True
    text = str(getattr(exc, "java_exception", "") or "") + str(exc)
    return "FileNotFoundException" in text or "not found" in text.lower()


def _lock_stat(fs, hp, path: str) -> tuple[str, int | None]:
    """(state, mtime) for the token-free publish lock: ``"present"``
    with its modificationTime, ``"absent"`` (a DEFINITIVE
    does-not-exist), or ``"fault"`` (the stat failed for any other
    reason — an answer was NOT obtained; r11 review: the release path
    must not read a connectivity fault as 'already released')."""
    try:
        return "present", fs.getFileStatus(hp(path)).getModificationTime()
    except Exception as exc:
        return ("absent" if _is_not_found(exc) else "fault"), None


def _release_lock_if_mine(fs, hp, lock: str, my_lock_mt) -> str:
    """Release the token-free publish lock ONLY while provably still
    ours (r11, ADVICE r10): the lock's mtime is its sole identity, so
    deleting on anything weaker than a positive match can delete a
    RIVAL's re-created live lock (my writer paused past the steal
    window; the rival stole my lock and created its own) — unfencing a
    concurrent publish. Returns ``"released"``, ``"absent"`` (already
    gone — stolen, or released by the failure path), or ``"left"``
    (identity could not be proven: the lock stays for rivals'
    steal-window takeover or a quiesced vacuum; callers surface it
    loudly rather than guess).

    A single stat can fault transiently, so a non-"present" reading
    gets ONE confirming re-stat before being believed — and the two
    non-answers are told apart (r11 review): a DEFINITIVE
    does-not-exist is ``"absent"`` (released/stolen — nothing to do),
    while a persistent storage FAULT is ``"left"`` (no answer was
    obtained; reporting 'absent' there would silently strand our own
    lock, the exact misreport this helper exists to prevent). An
    acquire-time identity fault (``my_lock_mt is None``) never
    licenses a blind delete."""
    state, cur = _lock_stat(fs, hp, lock)
    if state != "present":
        state, cur = _lock_stat(fs, hp, lock)  # confirming re-stat
        if state == "absent":
            return "absent"
        if state == "fault":
            return "left"
    if my_lock_mt is not None and cur == my_lock_mt:
        _verified_delete(fs, hp, lock, "own publish lock")
        return "released"
    return "left"


def _lock_mtime(fs, hp, path: str) -> int | None:
    """The lock file's modificationTime, or None when absent — the
    token-free lock's only identity, used to tell 'my lock, still
    mine' from 'stolen and re-created by a rival' (a steal happens
    only after a full INTENT_STEAL_S observation window, so two locks
    can never share an mtime)."""
    try:
        return fs.getFileStatus(hp(path)).getModificationTime()
    except Exception:
        return None


def _list_markers(fs, hp, dest: str):
    """(finals, intents, locks) under ``dest/_manifests``: finals and
    intents as {(version, token), ...} sets, locks as {version:
    modificationTime} (the token-free lock's only identity) — ONE
    listing serves all three."""
    mdir = hp(f"{dest.rstrip('/')}/{_MANIFESTS}")
    finals, intents, locks = set(), set(), {}
    if not fs.exists(mdir):
        return finals, intents, locks
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        m = _MARKER_RE.match(name)
        if m:
            finals.add((int(m.group(1)), m.group(2)))
            continue
        m = _INTENT_RE.match(name)
        if m:
            intents.add((int(m.group(1)), m.group(2)))
            continue
        m = _LOCK_RE.match(name)
        if m:
            locks[int(m.group(1))] = st.getModificationTime()
    return finals, intents, locks


def _fs(spark, path: str):
    """(FileSystem, Path ctor) for the scheme owning ``path`` — the
    commit protocol runs entirely through the Hadoop FS API so the
    SAME code path serves file:, hdfs: and s3a: relations."""
    from .utils import _hadoop_fs

    if spark is None:
        raise ValueError("manifest operations need an explicit SparkSession")
    return _hadoop_fs(path, spark)


def tree_dir(dest: str, version: int, token: str) -> str:
    """The immutable tree directory a (version, token) pair names."""
    return f"{dest.rstrip('/')}/{_TREES}/v{version:08d}-{token}"


def _marker_path(dest: str, version: int, token: str) -> str:
    return f"{dest.rstrip('/')}/{_MANIFESTS}/v{version:08d}.{token}"


def manifest_versions(spark, dest: str) -> list[tuple[int, str]]:
    """All committed ``(version, token)`` pairs, ascending — [] for a
    relation that has never manifest-committed (legacy plain dir or
    nothing at all). Ignores foreign files in ``_manifests``."""
    fs, hp = _fs(spark, dest)
    mdir = hp(f"{dest.rstrip('/')}/{_MANIFESTS}")
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        m = _MARKER_RE.match(st.getPath().getName())
        if m:
            out.append((int(m.group(1)), m.group(2)))
    out.sort()
    return out


def current_manifest(spark, dest: str) -> tuple[int, str] | None:
    """The live ``(version, token)``, or None when the relation has no
    manifest (resolve falls back to the plain directory).

    Duplicate FINAL markers should be impossible under the two-phase
    commit (a final is created only after its intent verified alone;
    see ``manifest_commit``) — they can arise only from a writer that
    paused longer than ``INTENT_STEAL_S`` mid-publish and was stolen
    from, or from manual tampering. The brief ``SETTLE_WAITS`` re-list
    is kept as a backstop; persistent duplicates refuse loudly rather
    than guess which tree is real."""
    for wait in SETTLE_WAITS:
        versions = manifest_versions(spark, dest)
        if not versions:
            return None
        top = [vt for vt in versions if vt[0] == versions[-1][0]]
        if len(top) == 1:
            return versions[-1]
        if wait is not None:
            import time

            time.sleep(wait)
    raise IOError(
        f"manifest corruption in {dest!r}: version {top[0][0]} has "
        f"{len(top)} markers ({[t for _, t in top]}); a racing commit "
        "crashed between marker create and withdraw — run "
        "manifest_repair (lowest token wins) or delete the losing "
        "marker before reading"
    )


def resolved_dir(spark, dest: str) -> str:
    """Where the relation's live data actually is: the current
    manifest's tree when one exists, else ``dest`` itself (legacy
    plain layout — every pre-manifest index keeps reading unchanged).
    EVERY read and append of a replace_dir-managed relation goes
    through this; Spark treats ``_``-prefixed children as hidden, so a
    direct ``read.parquet(dest)`` on a converted relation would see no
    data at all rather than stale data."""
    dest = dest.rstrip("/")
    cur = current_manifest(spark, dest)
    return tree_dir(dest, *cur) if cur else dest


# DataFrame memo for manifest-managed relations (r12, guide §1/§6):
# re-reading a relation pays schema inference + recursive file
# listing on EVERY call (~0.1-0.3 s on partitioned trees like the
# BM25 postings' 64 bucket dirs, paid by every index probe). The
# memoized analyzed scan is reused only while the tree's local file
# inventory (relpath, size, mtime_ns of every file) is byte-identical
# — replace_dir commits swap to a NEW token dir (new key) and in-tree
# APPENDS change the inventory (new key), so staleness is structurally
# impossible. Only METADATA (the DataFrame plan) is memoized —
# execution still scans parquet on every action. The manifest RESOLVE
# stays live (a new commit must be seen immediately). Non-local trees
# (no os.walk) skip the memo. Keyed by applicationId so a stopped
# session's plans are never resurrected.
_TREE_MEMO: dict[tuple[str, str, tuple], DataFrame] = {}


def _tree_inventory(tree: str) -> tuple | None:
    """Local-path file inventory used as the memo key — None when the
    path is not a locally statable directory (remote scheme)."""
    import os as _os

    root = tree[len("file:"):] if tree.startswith("file:") else tree
    if not _os.path.isdir(root):
        return None
    inv = []
    try:
        for dirpath, dirnames, filenames in _os.walk(root):
            dirnames.sort()
            rel = _os.path.relpath(dirpath, root)
            for f in sorted(filenames):
                st = _os.stat(_os.path.join(dirpath, f))
                inv.append((rel, f, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(inv)


def read_relation(spark, dest: str) -> DataFrame:
    """Scan the live tree of a manifest-managed (or legacy plain)
    relation directory."""
    dest = dest.rstrip("/")
    cur = current_manifest(spark, dest)
    if cur is None:
        return spark.read.parquet(dest)
    tree = tree_dir(dest, *cur)
    inv = _tree_inventory(tree)
    if inv is None:
        return spark.read.parquet(tree)
    key = (spark.sparkContext.applicationId, tree, inv)
    df = _TREE_MEMO.get(key)
    if df is None:
        df = spark.read.parquet(tree)
        # one live entry per tree: drop superseded inventories so the
        # memo stays bounded across appends
        for k in [k for k in _TREE_MEMO if k[:2] == key[:2]]:
            del _TREE_MEMO[k]
        _TREE_MEMO[key] = df
    return df


def read_relation_version(spark, dest: str, version: int) -> DataFrame:
    """Time travel: scan a specific RETAINED version's tree (commits
    made with keep>1 keep history; replace_dir's keep=1 does not).
    Raises KeyError when the version was never committed or has been
    vacuumed — reading a half-retired tree silently would defeat the
    marker-first retirement ordering."""
    versions = manifest_versions(spark, dest)
    hits = [tok for v, tok in versions if v == version]
    if len(hits) > 1:
        # same corruption current_manifest refuses: two markers for
        # one version — returning an arbitrary tree would silently
        # time-travel to the LOSING commit's data
        raise IOError(
            f"manifest corruption in {dest!r}: version {version} has "
            f"{len(hits)} markers ({hits}); a racing commit crashed "
            "between marker create and withdraw — run manifest_repair "
            "(lowest token wins) or delete the losing marker first"
        )
    if hits:
        return spark.read.parquet(tree_dir(dest, version, hits[0]))
    raise KeyError(
        f"version {version} of {dest!r} is not committed (or was "
        f"vacuumed); retained: {[v for v, _ in versions]}"
    )


def _verified_delete(fs, hp, path: str, what: str) -> None:
    """Delete and VERIFY — a swallowed failure here would report hard
    erasure that did not happen (same contract as versioned.vacuum)."""
    p = hp(path)
    if not fs.exists(p):
        return
    fs.delete(p, True)
    if fs.exists(p):
        raise IOError(f"manifest retention could not delete {what} {path!r}")


def manifest_commit(
    spark, dest: str, write, keep: int = 1, retries: int = 0,
    backoff_s: float = 0.05, steal_after_s: float | None = None,
) -> int:
    """Commit ``write``'s output as the relation's next version.

    ``write(tree_path)`` materializes the new tree into a fresh
    token directory (it may freely READ the current tree — e.g. a
    compaction's survivors plan — because nothing it reads moves until
    after the marker is committed). The commit is then the TWO-PHASE
    publish (intent → verify-alone → final marker; see the module
    docstring); retention (``keep`` newest versions, default 1 =
    replace semantics) runs after the final marker so a crash at any
    point leaves either the old version live and complete, or the new
    one.

    ``retries`` (default 0 = fail loud, the pre-r9 contract) enables
    OPTIMISTIC CONCURRENCY: when the publish collides with a racing
    writer (``CommitConflict``), the staged orphan tree is deleted,
    the latest version re-resolved, and ``write`` re-invoked against a
    fresh token directory — up to ``retries`` more times with
    exponential backoff. For this rebase to be CORRECT, ``write`` must
    re-derive its output from the live state each invocation (read
    through ``resolved_dir(spark, dest)`` INSIDE the callable, as a
    merge/append/compaction naturally does); a full-replace writer
    whose output ignores the live tree is last-writer-wins under
    retry — keep ``retries=0`` there so a raced replace stays a loud
    ``CommitConflict`` for a human to adjudicate (the documented
    non-rebaseable case).

    RETENTION UNDER CONCURRENCY: a rebasing writer reads the tree that
    was live when its attempt started; a rival committing meanwhile
    triggers retention, and with ``keep=1`` that retires the very tree
    the rebase is still scanning (the classic vacuum-vs-reader race —
    Delta answers it with retention periods). Size ``keep`` to at
    least (concurrent writers + 1) so the previous ``keep-1`` trees
    outlive any in-flight rebase; ``keep=1`` is the single-writer
    replace setting — and because a retrying commit IS declaring
    concurrency, ``retries > 0`` enforces ``keep >= 2`` (r10, ADVICE
    r9: undersized retention under contention can retire the final a
    slow rival's verify needed to see, or the tree its rebase is
    scanning). Note for ERASURE-shaped rewrites: the bump means the
    pre-erasure tree survives as version N-1 until the next commit or
    vacuum — hard-erasure flows must finish with an explicit quiesced
    ``manifest_vacuum`` rather than relying on commit-path retention.

    ``steal_after_s`` overrides the stale-intent/lock steal window
    (default: module ``INTENT_STEAL_S``) — raise it on stores with
    long pause tails, shrink it in tests.

    Returns the committed version number."""
    dest = dest.rstrip("/")
    fs, hp = _fs(spark, dest)
    if retries > 0:
        keep = max(keep, 2)
    steal_s = INTENT_STEAL_S if steal_after_s is None else steal_after_s
    lock_mode = _publish_lock_supported(fs, hp, dest)
    attempt = 0
    # stale-intent steal bookkeeping: (version, token) → first
    # observation time. A rival intent with no final that persists
    # across attempts for the steal window is a crashed writer's
    # residue (the live intent→final window is three FS ops,
    # sub-second) — steal it so a crash cannot fence the version until
    # manual repair. Locks get the same treatment keyed on (version,
    # mtime): the token-free lock's mtime is its identity.
    import time as _time

    seen_intents: dict[tuple[int, str], float] = {}
    seen_locks: dict[tuple[int, int], float] = {}

    def _note_and_steal(intents, finals, next_v: int) -> list[str]:
        """Record rival intents blocking ``next_v``, steal the ones
        observed past the steal window with no final, and return the
        tokens still blocking."""
        now = _time.monotonic()
        final_versions = {v2 for v2, _ in finals}
        blocking = []
        for v2, tok in sorted(intents):
            if v2 != next_v or v2 in final_versions:
                continue
            first = seen_intents.setdefault((v2, tok), now)
            if now - first >= steal_s:
                _verified_delete(
                    fs, hp, _intent_path(dest, v2, tok),
                    "crashed writer's stale intent",
                )
            else:
                blocking.append(tok)
        return blocking

    def _note_and_steal_lock(next_v: int, mt) -> bool:
        """A rival (or crashed writer) holds the publish lock at
        ``next_v`` with modificationTime ``mt`` (None = not held):
        record the observation, steal the lock once it has persisted a
        full steal window (a LIVE publish holds it for two FS ops),
        and return True when it still blocks."""
        if mt is None:
            return False
        now = _time.monotonic()
        first = seen_locks.setdefault((next_v, mt), now)
        if now - first >= steal_s:
            _verified_delete(
                fs, hp, _lock_path(dest, next_v),
                "crashed writer's stale publish lock",
            )
            return False
        return True

    while True:
        # ONE listing per attempt serves version resolution AND the
        # fail-fast probe (two back-to-back listings could also
        # disagree, sending the writer into a doomed tree write)
        finals, intents, locks = _list_markers(fs, hp, dest)
        committed = sorted(finals)
        next_v = committed[-1][0] + 1 if committed else 1
        if attempt > 0:
            # fail fast BEFORE re-running the (possibly expensive)
            # write: a rival intent already visible at our target
            # version dooms the attempt anyway — steal it if it is
            # overdue, otherwise conflict without writing a tree. Same
            # for a held publish lock: without this probe a crashed
            # holder would cost one full tree write per retry until
            # the steal window elapsed. Both observation clocks start
            # in PARALLEL (a crash between lock create and final
            # leaves intent AND lock; serial clocks would double the
            # unfence time).
            blocking = _note_and_steal(intents, finals, next_v)
            if lock_mode and _note_and_steal_lock(
                next_v, locks.get(next_v)
            ):
                blocking = blocking + ["__lock"]
            if blocking:
                if attempt >= retries:
                    raise CommitConflict(
                        f"manifest_commit: version {next_v} of {dest!r} "
                        f"is claimed by in-flight intents/locks "
                        f"{blocking}; re-read and retry"
                    )
                _conflict_backoff(attempt, backoff_s)
                attempt += 1
                continue
        token = uuid.uuid4().hex[:12]
        tree = tree_dir(dest, next_v, token)
        write(tree)
        if not fs.exists(hp(tree)):
            raise IOError(f"manifest_commit: write produced nothing at {tree}")
        # TWO-PHASE PUBLISH (see module docstring): intent → verify →
        # final. Marker names carry the token, so two racers create
        # DIFFERENT names and create-if-absent alone cannot detect the
        # race; the post-intent listing can, and because the final is
        # created only after verifying the intent is ALONE (and the
        # winner's intent outlives its final-create), at most one FINAL
        # per version can ever exist — readers, retention and rebasers
        # consume finals only, so they can never observe a
        # not-yet-verified commit.
        intent = _intent_path(dest, next_v, token)
        fs.create(hp(intent), False).close()
        published = False
        lock = _lock_path(dest, next_v)
        lock_held = False
        my_lock_mt: int | None = None  # identity of OUR lock, if known
        try:
            finals2, intents2, _ = _list_markers(fs, hp, dest)
            # rivals: any FINAL at or ABOVE the target version (>= not
            # == — r10, ADVICE r9: with undersized retention a slow
            # writer's exact-version rival final can already be retired
            # by the time it verifies, and publishing below the live
            # top would silently shadow the rows it never saw), plus
            # any rival INTENT at the target version itself.
            rivals = sorted(
                f"v{v2}.{tok}" for v2, tok in finals2 if v2 >= next_v
            ) + sorted(
                tok for v2, tok in intents2
                if v2 == next_v and tok != token
            )
            if rivals:
                _verified_delete(fs, hp, intent, "losing commit's intent")
                _verified_delete(fs, hp, tree, "losing commit's tree")
                # steal bookkeeping: rival INTENTS (not finals) that
                # keep blocking this version with no final are residue
                _note_and_steal(
                    {(v2, t) for v2, t in intents2 if t != token},
                    finals2, next_v,
                )
                if attempt >= retries:
                    raise CommitConflict(
                        f"manifest_commit: version {next_v} of {dest!r} "
                        f"was raced by a concurrent writer ({rivals}); "
                        "this commit was withdrawn untouched — re-read "
                        "and retry (or pass retries>0 for a rebasing "
                        "write)"
                    )
                _conflict_backoff(attempt, backoff_s)
                attempt += 1
                continue
            # PUBLISH LOCK (r10; exclusive-create filesystems only):
            # serialize the fence-check + final-create pair under a
            # shared per-version name, so a paused-then-stolen writer
            # and its stealer can never both reach the final create.
            # With linearizable listings at most one writer per version
            # survives verify-alone, so a held lock here means a
            # crashed holder (steal after the observation window) — or
            # a mid-steal rival, which the withdraw handles.
            if lock_mode:
                try:
                    _exclusive_create(fs, hp, lock, lock_mode)
                    lock_held = True
                except Exception:
                    held_mt = _lock_mtime(fs, hp, lock)
                    if held_mt is None:
                        # the lock is NOT there: either a real storage
                        # fault, or the holder released between our
                        # create and this stat — one retry
                        # disambiguates (a second failure with no lock
                        # present is a fault and propagates un-relabeled,
                        # like the marker-create guard)
                        _exclusive_create(fs, hp, lock, lock_mode)
                        lock_held = True
                    else:
                        _note_and_steal_lock(next_v, held_mt)
                if not lock_held:
                    _verified_delete(
                        fs, hp, intent, "losing commit's intent"
                    )
                    _verified_delete(fs, hp, tree, "losing commit's tree")
                    if attempt >= retries:
                        raise CommitConflict(
                            f"manifest_commit: the publish lock for "
                            f"version {next_v} of {dest!r} is held; a "
                            "rival is mid-publish or a crashed writer "
                            "left it (stolen after the steal window by "
                            "retrying commits; quiesced manifest_vacuum "
                            "clears it) — this commit was withdrawn "
                            "untouched"
                        )
                    _conflict_backoff(attempt, backoff_s)
                    attempt += 1
                    continue
                # identity for the fence / release guards. A transient
                # stat fault (None) here would permanently downgrade
                # the success-path release to the loud 'left' outcome
                # (r12, ADVICE r11: one flaky stat turned every such
                # SUCCESSFUL commit into an exception), so retry the
                # stat a few times before accepting no-answer: we
                # created this lock microseconds ago and steals need a
                # full observation window, so the re-stat can only
                # read our own lock. The never-blind-delete rule is
                # untouched — an answer-less acquire still releases
                # nothing.
                for _ in range(3):
                    my_lock_mt = _lock_mtime(fs, hp, lock)
                    if my_lock_mt is not None:
                        break
            # FENCE (r10): re-list immediately before the final create.
            # A writer paused past the steal window between verify and
            # here has been stolen from — its intent is gone and/or a
            # rival final landed at/above its version; it must WITHDRAW
            # rather than publish a duplicate or shadowed final. This
            # shrinks the exposed span from the whole verify→final
            # window to the single create call below; under the lock a
            # duplicate additionally needs the rival to steal BOTH the
            # intent and the held lock (each a full observation window)
            # inside that span.
            finals3, intents3, locks3 = _list_markers(fs, hp, dest)
            fenced = (
                (next_v, token) not in intents3
                or any(v2 >= next_v for v2, _ in finals3)
                or (my_lock_mt is not None
                    and locks3.get(next_v) != my_lock_mt)
            )
            if fenced:
                if fs.exists(hp(intent)):
                    _verified_delete(
                        fs, hp, intent, "losing commit's intent"
                    )
                _verified_delete(fs, hp, tree, "losing commit's tree")
                if attempt >= retries:
                    raise CommitConflict(
                        f"manifest_commit: this writer's claim on "
                        f"version {next_v} of {dest!r} was stolen while "
                        "it was paused (or a rival committed at/above "
                        "it); the commit was withdrawn untouched — "
                        "re-read and retry"
                    )
                _conflict_backoff(attempt, backoff_s)
                attempt += 1
                continue
            marker = _marker_path(dest, next_v, token)
            try:
                fs.create(hp(marker), False).close()
            except Exception:  # Py4J wraps FileAlreadyExistsException
                if not fs.exists(hp(marker)):
                    raise  # a real storage fault — don't relabel
                # a final under OUR (version, token) without us creating
                # it — uuid collision is not a thing; surface the fault
                raise IOError(
                    f"manifest_commit: marker {marker!r} already exists"
                )
            published = True
        finally:
            # a FAILED-but-alive writer must not leave its intent (or
            # lock) fencing the version (versioned.py's claim release
            # has the same rule): on any exception between intent
            # create and final create, release both best-effort — the
            # lock only while still OURS (mtime match; deleting a
            # rival's re-created lock would unfence a live publish).
            # The withdraw paths above already deleted the intent; the
            # success path releases everything verified, below.
            if not published:
                if lock_held:
                    try:
                        _release_lock_if_mine(fs, hp, lock, my_lock_mt)
                    except IOError:
                        pass  # best-effort: don't mask the original
                if fs.exists(hp(intent)):
                    fs.delete(hp(intent), False)
        # lock + intent released only AFTER the final exists: a rival
        # verifying in between sees one or the other, never a clean
        # slate. Each post-final step gets a DISTINCT relabel (r10,
        # ADVICE r9: one shared 'retention failed' label steered
        # operators to vacuum when the actual residue was the writer's
        # own intent file) — in every case the commit IS durable.
        try:
            # intent FIRST: it is token-named, so ownership is never in
            # doubt — a left-lock refusal below must not also leave the
            # writer's own intent fencing the next version
            _verified_delete(fs, hp, intent, "own intent (post-final)")
            if lock_held:
                status = _release_lock_if_mine(fs, hp, lock, my_lock_mt)
                if status == "left":
                    # r11 (ADVICE r10): a lock we cannot prove ours —
                    # our identity stat faulted at acquire, or a rival
                    # stole and re-created it while we were paused — is
                    # LEFT in place (deleting it blindly could unfence
                    # the rival's live publish) and surfaced loudly
                    raise IOError(
                        f"publish lock {_lock_path(dest, next_v)!r} "
                        "present at release is not provably this "
                        "writer's own (identity stat faulted at "
                        "acquire, or a rival re-created it); LEFT in "
                        "place — its owner releases it, rivals steal "
                        "it after the steal window, and quiesced "
                        "manifest_vacuum clears it"
                    )
        except IOError as exc:
            raise IOError(
                f"manifest_commit: version {next_v} of {dest!r} IS "
                "COMMITTED, but releasing this writer's own publish "
                f"residue failed: {exc}; delete the named file (rivals "
                "steal it after the steal window, and quiesced "
                "manifest_vacuum clears it) — retention did NOT fail"
            ) from exc
        try:
            manifest_vacuum(spark, dest, keep=keep, spare_in_flight=True)
        except IOError as exc:
            # the marker IS published — this commit is durable; only
            # retention failed (e.g. a crashed racer's persistent
            # duplicate marker, or a delete fault). Relabel so the
            # caller cannot misread an ambiguous outcome and
            # double-commit: repair, then vacuum explicitly.
            raise IOError(
                f"manifest_commit: version {next_v} of {dest!r} IS "
                f"COMMITTED, but post-commit retention failed: {exc}"
            ) from exc
        # any cached file listing keyed under dest (or the legacy root)
        # is stale now; the new tree path itself has never been scanned
        spark.catalog.refreshByPath(dest)
        return next_v


def manifest_append(
    spark, dest: str, df: DataFrame, keep: int = 2, retries: int = 0,
    backoff_s: float = 0.05, steal_after_s: float | None = None,
) -> int:
    """Append ``df``'s rows as the relation's next version in O(delta):
    the new tree gets ``df`` written as FRESH parquet files plus every
    data file of the live tree HARD-LINKED in (local filesystems —
    zero bytes copied, parquet files are immutable so two trees
    sharing inodes is safe; remote schemes FS-copy, which is correct
    but O(table) per append on object stores).
    This is the add-files commit of a table format reduced to this
    layout — the cost of an append is the delta plus O(files)
    metadata, never a table rewrite.

    The append is REBASEABLE by construction (it re-reads the live
    tree on every attempt), so ``retries > 0`` gives lock-free
    multi-writer appends: rivals detect each other at the
    create-then-verify publish and the loser relinks against the
    winner's tree. ``keep`` defaults to 2 (not 1): under concurrency
    the previous tree must outlive an in-flight rival's relink — see
    the retention-under-concurrency note on ``manifest_commit``.

    UNPARTITIONED relations only: the live tree's files are linked
    flat, and ``df`` is written flat next to them. Raises on a live
    tree with partition subdirectories."""

    def write(tree: str) -> None:
        from .utils import _clone_dir

        cur = current_manifest(spark, dest)
        if cur is not None:
            # schema contract BEFORE writing anything: the delta's
            # files will sit NEXT TO the linked live files in one flat
            # tree, so a drifted delta (renamed/retyped column) would
            # commit a mixed-schema tree whose reads resolve from an
            # arbitrary footer — old columns silently NULL on new
            # files, or read-time type errors far from the cause.
            # Appends require the EXACT live schema; evolution goes
            # through a rewrite commit (versioned.merge_commit's
            # evolve_schema, or a manifest_commit full rewrite).
            live_schema = {
                f.name: f.dataType
                for f in spark.read.parquet(
                    tree_dir(dest, *cur)
                ).schema.fields
            }
            got = {f.name: f.dataType for f in df.schema.fields}
            if got != live_schema:
                raise ValueError(
                    f"manifest_append schema mismatch for {dest!r}: "
                    f"live {sorted(live_schema)} vs delta {sorted(got)} "
                    "(or a type differs); appends are exact-schema — "
                    "evolve through a rewrite commit instead"
                )
        df.write.mode("append").parquet(tree)
        if cur is None:
            return
        fs, hp = _fs(spark, dest)
        live = tree_dir(dest, *cur)
        for st in fs.listStatus(hp(live)):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                raise ValueError(
                    f"manifest_append: {dest!r} is a partitioned layout "
                    f"(child {name!r}); only flat relations append"
                )
            _clone_dir(spark, f"{live}/{name}", f"{tree}/{name}")

    return manifest_commit(
        spark, dest, write, keep=keep, retries=retries,
        backoff_s=backoff_s, steal_after_s=steal_after_s,
    )


def manifest_vacuum(
    spark, dest: str, keep: int = 1, spare_in_flight: bool = False
) -> list[int]:
    """Retire all but the newest ``keep`` committed versions (marker
    first, then tree — a marker pointing at a deleted tree would break
    a time-travel read, a tree without a marker is just an orphan) and
    garbage-collect orphan trees no surviving marker references (the
    residue of commits that crashed between tree write and marker, or
    of raced commits that were withdrawn).

    ``spare_in_flight`` makes the commit-path vacuum CONCURRENCY-SAFE
    without clocks (r9): it skips orphan GC ENTIRELY, because an
    unreferenced tree cannot be distinguished from an IN-FLIGHT rival
    writer's half-written tree by any version arithmetic — under
    contention the top version can advance PAST a still-writing
    rival's target (two commits land during one write), so even a
    "spare >= top" rule deletes live work (observed in the threaded
    fleet soak: a rival's vacuum removed a writer's _temporary dir
    mid-job). ``manifest_commit`` always vacuums with this set; it
    still RETIRES marked trees (the keep window — safe, markers mean
    complete), and unreferenced crash/withdraw residue is swept by an
    EXPLICIT quiesced ``manifest_vacuum`` (default False = GC every
    unreferenced tree — the post-crash-recovery / hard-erasure path).
    Deletions are verified; returns the retired version numbers."""
    dest = dest.rstrip("/")
    fs, hp = _fs(spark, dest)
    # duplicate-marker guard BEFORE any retirement: with duplicate
    # markers at the top version, the keep-window math would retire one
    # of them by TOKEN ORDER — silently adjudicating (and destroying)
    # one of two complete commits, the very decision current_manifest
    # refuses and demands a human make. current_manifest's bounded
    # re-list absorbs the transient window of a racer mid-withdraw;
    # persistent duplicates raise here, loudly, with nothing deleted.
    current_manifest(spark, dest)
    committed = manifest_versions(spark, dest)
    dup = {v for i, (v, _) in enumerate(committed[1:], 1) if committed[i - 1][0] == v}
    if dup:
        # non-top duplicates cannot be a transient withdraw window
        # (withdraws happen at the top) — this is persisted corruption;
        # retiring one twin by token order would adjudicate it silently
        raise IOError(
            f"manifest corruption in {dest!r}: versions {sorted(dup)} "
            "have duplicate markers; run manifest_repair (lowest token "
            "wins) or delete each losing marker before vacuuming"
        )
    keep = max(1, keep)
    kept = committed[-keep:] if committed else []
    dropped = []
    for v, tok in committed[: len(committed) - len(kept)]:
        _verified_delete(fs, hp, _marker_path(dest, v, tok), "marker")
        _verified_delete(fs, hp, tree_dir(dest, v, tok), "tree")
        dropped.append(v)
    if spare_in_flight:
        return dropped  # orphan GC deferred to an explicit vacuum
    # explicit (quiesced) vacuum also clears stale INTENT files — a
    # writer that crashed inside the intent→final window leaves one
    # fencing its version; with no writers running, every intent
    # present is stale by definition (live intents exist for three FS
    # ops). This is the manual unfence for retries=0 callers that hit
    # the fence before the steal window elapsed — and it must run even
    # on a NEVER-COMMITTED relation (a crashed FIRST commit is exactly
    # the state that leaves intents and orphan trees with no finals;
    # an early empty-committed return here would make the unfence the
    # error messages point to a silent no-op).
    _, intents, locks = _list_markers(fs, hp, dest)
    for v, tok in intents:
        _verified_delete(fs, hp, _intent_path(dest, v, tok), "stale intent")
    # ... and stale publish LOCKS for the same reason: a writer that
    # crashed while holding one fences its version (lock-FS schemes)
    # until the steal window elapses for a retrying rival — quiesced,
    # every lock present is a crashed holder's residue (same single
    # listing serves intents and locks)
    for v in locks:
        _verified_delete(
            fs, hp, _lock_path(dest, v), "stale publish lock"
        )
    keep_names = {f"v{v:08d}-{tok}" for v, tok in kept}
    tdir = hp(f"{dest}/{_TREES}")
    if fs.exists(tdir):
        for st in fs.listStatus(tdir):
            name = st.getPath().getName()
            if name in keep_names:
                continue
            _verified_delete(
                fs, hp, f"{dest}/{_TREES}/{name}", "orphan tree"
            )
    return dropped


def manifest_repair(spark, dest: str) -> list[tuple[int, str]]:
    """Mechanically resolve the duplicate-final corruption that
    ``current_manifest`` / ``manifest_vacuum`` refuse loudly: for every
    version carrying more than one FINAL marker, the LOWEST token wins
    (deterministic — the same lexicographic order the refusal messages
    list the twins in, so two operators repairing concurrently pick
    the same survivor) and each losing final's marker, then tree, is
    retired with verified deletes (marker first: a marker pointing at
    a deleted tree would break a read landing between the two).

    The losing commit's rows are DESTROYED — that is the point: the
    duplicate state means two complete commits claimed one version and
    no reader can serve either; the pre-r10 remedy was the same
    deletion done by hand. A deployment that needs the loser's rows
    re-applies them as a NEW commit after the repair (they remain
    readable via ``tree_dir`` until this runs). Run QUIESCED, like an
    explicit vacuum, and run ``manifest_vacuum`` afterwards to sweep
    any stale intents/locks the same incident left.

    Returns the retired ``(version, token)`` pairs ([] when the
    relation was healthy — repair is idempotent and safe to run on
    suspicion)."""
    dest = dest.rstrip("/")
    fs, hp = _fs(spark, dest)
    by_version: dict[int, list[str]] = {}
    for v, tok in manifest_versions(spark, dest):
        by_version.setdefault(v, []).append(tok)
    retired = []
    for v, toks in sorted(by_version.items()):
        for tok in sorted(toks)[1:]:
            _verified_delete(
                fs, hp, _marker_path(dest, v, tok),
                "losing duplicate final marker",
            )
            _verified_delete(
                fs, hp, tree_dir(dest, v, tok),
                "losing duplicate final's tree",
            )
            retired.append((v, tok))
    if retired:
        spark.catalog.refreshByPath(dest)
    return retired


def clear_legacy_root(spark, dest: str) -> None:
    """Remove pre-manifest data files from the relation ROOT after its
    first manifest commit. A converted relation resolves through the
    manifest, so anything left at the root is unreachable-but-on-disk
    — which is exactly what hard erasure must not leave behind (and
    what the old rename-swap also removed, by replacing the whole
    directory). Deletes every child except the manifest machinery;
    verified, raises on failure."""
    dest = dest.rstrip("/")
    fs, hp = _fs(spark, dest)
    dp = hp(dest)
    if not fs.exists(dp):
        return
    for st in fs.listStatus(dp):
        name = st.getPath().getName()
        if name in (_TREES, _MANIFESTS):
            continue
        _verified_delete(fs, hp, f"{dest}/{name}", "legacy root entry")
