"""Blocked fuzzy string matching: edit-distance near-dup pairs.

The reference canonicalizes entity names through hand-maintained
dictionaries (`scr/Transform.py:137-176` team-name maps — modeled by
plans/coverage X3). That only catches spellings someone already saw.
This operator finds the *unknown* variants: pairs of names within a
bounded Levenshtein distance, discovered at corpus scale via blocking
— the classic entity-resolution step (and, over document titles/URLs,
another near-dup signal alongside the MinHash/SimHash family).

Blocking semantics are EXPLICIT, not heuristic hand-waving: candidate
pairs are exactly those sharing at least one block key (the union
over `blocks` expressions evaluated on the normalized name), then
every candidate is verified with the exact Levenshtein distance.
Recall therefore equals block-design recall — e.g. with the default
prefix+suffix blocks, a single interior typo in a name LONGER than
width + max_dist is always caught (the shared prefix or suffix
survives), while names short enough that one edit disturbs both the
prefix and the suffix window (len ≤ width + dist — short team codes
like 'FCB' vs 'FBC') need narrower blocks (pigeonhole_blocks, or a
smaller width), and simultaneous head-and-tail edits are never
caught by prefix+suffix alone; callers needing guarantees supply
blocks matching their invariant (the PassJoin segment family slots
straight in as `blocks`, and `pigeonhole_blocks` carries the
distance-1 guarantee at every length). Everything is
deterministic, so the whole operator is SQL-expressible and fully
value-oracled.

Scale shape: block keys fan out map-side (one unioned projection),
candidates come from a `shuffle_hash` equi-join on (block_idx, key) —
never a corpus broadcast, never a cartesian — the cheap exact verify
prunes candidates BEFORE the cross-block dedup shuffle, and
`max_block_size` drops degenerate hot keys (e.g. an empty name) with
an aggregate-and-semi-join guard whose cost is one extra hash agg
over the key column. For the shared-long-prefix regime (dense
'Entity#000...' ids) use `pigeonhole_blocks`, whose keys keep block
sizes bounded as the name space grows.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["default_blocks", "fuzzy_join", "fuzzy_pairs", "pigeonhole_blocks"]


def default_blocks(width: int = 4) -> list[Callable[[F.Column], F.Column]]:
    """Prefix + suffix blocks: catch any single interior edit run —
    two names within distance d share an unedited head or tail
    whenever all edits fall in one half, and `width` chars of it
    survive as a shared key for names longer than width + d."""
    return [
        lambda c: F.substring(c, 1, width),
        lambda c: F.substring(F.reverse(c), 1, width),
    ]


def pigeonhole_blocks(
    start: int, width: int, parts: int = 3
) -> list[Callable[[F.Column], F.Column]]:
    """PassJoin-style pigeonhole blocks over a fixed varying span:
    split `width` chars at 1-based `start` into `parts` disjoint
    regions; each block key concatenates one (parts-1)-subset of the
    regions. A single substitution inside the span touches one region,
    so the subset excluding it is shared verbatim — FULL recall at
    distance 1 (per extra allowed edit, increase `parts` so parts-1
    regions still cover every edit pattern... parts = max_dist + 2
    regions with max_dist-subset keys generalizes; this helper emits
    the distance-1 form).

    The scale property vs a plain prefix/suffix split: every key spans
    (parts-1)/parts of the varying chars, so key cardinality grows
    with the name space and block sizes stay bounded even when all
    names share a long constant prefix (the 'Customer#000...' regime
    that degenerates naive prefix blocking into one corpus-sized
    block).
    """
    if parts < 2 or width < parts:
        raise ValueError("need parts >= 2 and width >= parts")
    bounds = [start + (width * i) // parts for i in range(parts + 1)]
    regions = [(bounds[i], bounds[i + 1] - bounds[i]) for i in range(parts)]

    def key_without(skip: int) -> Callable[[F.Column], F.Column]:
        kept = [r for i, r in enumerate(regions) if i != skip]
        return lambda c, _kept=tuple(kept): F.concat(
            *[F.substring(c, p, w) for p, w in _kept]
        )

    return [key_without(i) for i in range(parts)]


# hot-key sets bigger than this stay a broadcast join instead of a
# literal predicate (plan size bound; the set's cardinality is already
# bounded by total_rows / hot_block_min)
_HOT_LITERAL_MAX = 64


def _hot_block_flags(
    keyed_sides: Sequence[DataFrame], hot_block_min: int
) -> DataFrame:
    """(__bidx, __bkey) for block keys whose total row count across
    the given sides reaches `hot_block_min` — the keys whose
    verify-join partition would otherwise hold a quadratic candidate
    set in ONE task (guide §2.5 skew detection: one map-side-combined
    aggregate over the key columns, cardinality bounded by the key
    space, never the pair space)."""
    cnt = None
    for side in keyed_sides:
        part = side.select("__bidx", "__bkey")
        cnt = part if cnt is None else cnt.unionByName(part)
    return (
        cnt.groupBy("__bidx", "__bkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= hot_block_min)
        .select("__bidx", "__bkey")
    )


def _hot_pred(
    keyed_sides: Sequence[DataFrame], hot_block_min: int
) -> tuple[F.Column, DataFrame | None]:
    """(hot-key predicate over (__bidx, __bkey), fallback frame).

    r13 (VERDICT r12): the r12 shape joined a lazily-recomputed hot
    frame onto `keyed`, which both join sides then consumed — the
    physical plan re-ran the scan + detection aggregate + broadcast
    join PER SIDE (after-plan scans 24 → 60) and the overhead exceeded
    the salvaged skew at bench SF. The detection aggregate now runs
    exactly ONCE as a tiny eager job; its result (cardinality bounded
    by total_rows / hot_block_min) is embedded as a literal predicate,
    so flagging costs ZERO extra scans, joins, or exchanges in the
    verify plan. Sets larger than `_HOT_LITERAL_MAX` (plan-size bound)
    return a localCheckpoint'ed frame instead — the caller broadcast-
    joins it, and the checkpoint pins one detection pass however many
    sides consume it."""
    # checkpoint BEFORE probing so the detection aggregate runs exactly
    # once on both paths: the take() reads the materialized frame, and
    # the large-set fallback hands the same materialization to the
    # caller's broadcast joins (no second pass over the sides)
    frame = (
        _hot_block_flags(keyed_sides, hot_block_min)
        .select("__bidx", "__bkey", F.lit(True).alias("__hot"))
        .localCheckpoint()
    )
    rows = frame.take(_HOT_LITERAL_MAX + 1)
    if len(rows) > _HOT_LITERAL_MAX:
        return F.coalesce(F.col("__hot"), F.lit(False)), frame
    if not rows:
        return F.lit(False), None
    # one In over the key struct: a set test, not a |rows|-deep OR tree
    # (literals carry the columns' names and types, as In requires)
    types = {f.name: f.dataType for f in frame.schema.fields}
    keys = [
        F.struct(*[F.lit(r[c]).cast(types[c]).alias(c) for c in ("__bidx", "__bkey")])
        for r in rows
    ]
    return F.struct("__bidx", "__bkey").isin(*keys), None


def _salt_cols(salt_k: int, id_alias: str, hot: F.Column):
    """(probe-side salt, build-side salt array) for hot-key salting:
    the probe side gets ONE deterministic salt per row (xxhash64 of
    its id — never rand(), which breaks under task retry, guide
    §2.5), the build side replicates hot-key rows across all k salts.
    Cold keys keep salt 0 on both sides: same pair set, no fan-out.
    `hot` is the per-row hot-key predicate (a literal set test, or
    the joined flag column on the large-set fallback path)."""
    probe = (
        F.when(hot, F.pmod(F.xxhash64(id_alias), F.lit(salt_k)))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("__salt")
    )
    # sequence(int, int) yields array<int>, so the exploded build salt
    # is already the probe salt's int type (explode cannot be nested
    # under a cast)
    build = F.explode(
        F.when(hot, F.sequence(F.lit(0), F.lit(salt_k - 1))).otherwise(
            F.array(F.lit(0))
        )
    ).alias("__salt")
    return probe, build


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 2,
    blocks: Sequence[Callable[[F.Column], F.Column]] | None = None,
    max_block_size: int | None = None,
    salt_k: int | None = None,
    hot_block_min: int = 256,
) -> DataFrame:
    """Pairs (id_a < id_b) whose normalized names share a block key
    and sit within Levenshtein `max_dist`.

    Output: (id_a, id_b, name_a, name_b, dist), dedup'd across blocks.
    Normalization is lower(trim(.)); distance is on normalized names.
    `max_block_size` (optional) excludes block keys matching more than
    that many names — the skew guard for degenerate keys; exclusion is
    deterministic and part of the operator's contract, so oracles
    reproduce it with GROUP BY/HAVING.

    Hot-key salting (r12, guide §2.5): block sizes are data-dependent,
    and one degenerate key (a constant prefix region, an empty name)
    funnels a quadratic candidate set into ONE join task while every
    other core idles — measured 2 s single-task levenshtein stages on
    the supplier corpus, where the substring(10,6) pigeonhole key is
    constant across 999 names. Keys with at least `hot_block_min` rows
    get a deterministic per-row salt (probe side) and k-way
    replication (build side) so their verify work spreads across
    `salt_k` tasks (default: defaultParallelism, capped at 64). The
    pair set is provably unchanged — each (a, b) candidate meets
    exactly once, at b's replicated copy of a's salt — and cold keys
    pay nothing. Salting never changes recall, so it composes with
    `max_block_size` (drop) rather than replacing it: drop what you
    can prove irrelevant, salt what you must keep. Detection is one
    tiny eager aggregate whose result embeds as a literal predicate
    (r13 — zero extra scans/joins in the verify plan; hot sets larger
    than _HOT_LITERAL_MAX fall back to a checkpointed broadcast
    join). Limitation: the probe-side salt spreads a hot block only
    across its distinct probe rows — a hot block with ONE probe row
    still verifies in one task (its pair count is then linear in the
    block, not quadratic).
    """
    block_fns = list(blocks) if blocks is not None else default_blocks()
    norm = F.lower(F.trim(F.col(name_col)))
    base = df.select(F.col(id_col).alias("__id"), norm.alias("__name"))
    keyed = None
    for i, fn in enumerate(block_fns):
        part = base.select(
            "__id", "__name", F.lit(i).alias("__bidx"), fn(F.col("__name")).alias("__bkey")
        )
        keyed = part if keyed is None else keyed.unionByName(part)
    keyed = keyed.filter(F.col("__bkey").isNotNull())
    if max_block_size is not None:
        small = (
            keyed.groupBy("__bidx", "__bkey")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_block_size)
            .select("__bidx", "__bkey")
        )
        keyed = keyed.join(small, ["__bidx", "__bkey"], "left_semi")
    if salt_k is None:
        salt_k = max(
            2, min(64, df.sparkSession.sparkContext.defaultParallelism)
        )
    hot, hot_frame = _hot_pred([keyed], hot_block_min)
    if hot_frame is not None:
        keyed = keyed.join(F.broadcast(hot_frame), ["__bidx", "__bkey"], "left")
    probe_salt, build_salt = _salt_cols(salt_k, "__id", hot)
    a = keyed.select(
        F.col("__id").alias("id_a"), F.col("__name").alias("name_a"),
        "__bidx", "__bkey", probe_salt,
    )
    b = keyed.select(
        F.col("__id").alias("id_b"), F.col("__name").alias("name_b"),
        "__bidx", "__bkey", build_salt,
    )
    # pin the verify exchange's width with an explicit keyed
    # repartition (r13): the verify stage's cost is QUADRATIC in block
    # size (candidate fan-out x levenshtein) while its shuffle BYTES
    # are linear, so AQE's byte-based partition coalescing collapses
    # the salted exchange right back into one task at bench scale
    # (measured: a 1.5 s single-task stage under a 423 KiB shuffle).
    # REPARTITION_BY_NUM shuffles are exempt from AQE coalescing; the
    # width derives from parallelism (CPU-bound stage → width follows
    # cores, not bytes), and the join below reuses this partitioning
    # (same keys, same width on both sides — no extra exchange).
    parts = max(salt_k, df.sparkSession.sparkContext.defaultParallelism)
    a = a.repartition(parts, "__bidx", "__bkey", "__salt")
    b = b.repartition(parts, "__bidx", "__bkey", "__salt")
    # verify BEFORE the distinct: levenshtein is a cheap per-row JVM
    # expression and prunes candidates by orders of magnitude, so the
    # dedup shuffle carries survivors only (the filter-before-distinct
    # pattern the simhash/minhash family uses)
    return (
        a.hint("shuffle_hash")
        .join(b, ["__bidx", "__bkey", "__salt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
        .distinct()
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_name: str,
    right_id: str,
    right_name: str,
    max_dist: int = 2,
    blocks: Sequence[Callable[[F.Column], F.Column]] | None = None,
    max_block_size: int | None = None,
    best_match_only: bool = False,
    salt_k: int | None = None,
    hot_block_min: int = 256,
) -> DataFrame:
    """Cross-table RECORD LINKAGE: rows of `left` matched to rows of
    `right` whose normalized names sit within Levenshtein `max_dist`,
    candidates generated by the same explicit blocking contract as
    fuzzy_pairs (shared block key → candidate; exact verify).

    This is the systematic form of the reference's hand-maintained
    team-name dictionary (`scr/Transform.py:137-176`): instead of
    enumerating API-spelling → scraped-spelling by hand, link the two
    sources' name columns and review the survivors.

    Output: (left_id, right_id, left_name, right_name, dist).
    `best_match_only` keeps each left row's single closest match
    (ties broken by lowest right id) — the lookup/canonicalization
    flavor — via one window over the (small) verified-match set,
    partitioned by left id so no global sort exists.

    Scale shape: identical to fuzzy_pairs — map-side block fan-out on
    both sides, one shuffle_hash equi-join on (block_idx, key), verify
    before the cross-block dedup. Neither table is broadcast.
    """
    block_fns = list(blocks) if blocks is not None else default_blocks()

    def keyed(df: DataFrame, id_c: str, name_c: str, id_alias: str, name_alias: str):
        norm = F.lower(F.trim(F.col(name_c)))
        base = df.select(F.col(id_c).alias(id_alias), norm.alias(name_alias))
        out = None
        for i, fn in enumerate(block_fns):
            part = base.select(
                id_alias,
                name_alias,
                F.lit(i).alias("__bidx"),
                fn(F.col(name_alias)).alias("__bkey"),
            )
            out = part if out is None else out.unionByName(part)
        return out.filter(F.col("__bkey").isNotNull())

    a = keyed(left, left_id, left_name, "left_id", "left_name")
    b = keyed(right, right_id, right_name, "right_id", "right_name")
    if max_block_size is not None:
        sizes = (
            a.select("__bidx", "__bkey")
            .unionByName(b.select("__bidx", "__bkey"))
            .groupBy("__bidx", "__bkey")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_block_size)
            .select("__bidx", "__bkey")
        )
        a = a.join(sizes, ["__bidx", "__bkey"], "left_semi")
        b = b.join(sizes, ["__bidx", "__bkey"], "left_semi")
    # r12 (guide §2.5): the same hot-key salting as fuzzy_pairs — hot
    # keys are judged on the COMBINED side sizes (the task cost is
    # |A_key| x |B_key|), the left side carries the deterministic salt,
    # the right side replicates across the k salts. Same match set.
    if salt_k is None:
        salt_k = max(
            2, min(64, left.sparkSession.sparkContext.defaultParallelism)
        )
    hot, hot_frame = _hot_pred([a, b], hot_block_min)
    if hot_frame is not None:
        a = a.join(F.broadcast(hot_frame), ["__bidx", "__bkey"], "left")
        b = b.join(F.broadcast(hot_frame), ["__bidx", "__bkey"], "left")
    probe_salt, build_salt = _salt_cols(salt_k, "left_id", hot)
    a = a.select("left_id", "left_name", "__bidx", "__bkey", probe_salt)
    b = b.select("right_id", "right_name", "__bidx", "__bkey", build_salt)
    # same AQE-coalescing exemption as fuzzy_pairs: the verify stage
    # is CPU-bound, so its exchange width follows cores, not bytes
    parts = max(salt_k, left.sparkSession.sparkContext.defaultParallelism)
    a = a.repartition(parts, "__bidx", "__bkey", "__salt")
    b = b.repartition(parts, "__bidx", "__bkey", "__salt")
    matches = (
        a.hint("shuffle_hash")
        .join(b, ["__bidx", "__bkey", "__salt"])
        .withColumn("dist", F.levenshtein("left_name", "right_name"))
        .filter(F.col("dist") <= max_dist)
        .select("left_id", "right_id", "left_name", "right_name", "dist")
        .distinct()
    )
    if not best_match_only:
        return matches
    w = Window.partitionBy("left_id").orderBy(F.asc("dist"), F.asc("right_id"))
    return (
        matches.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
