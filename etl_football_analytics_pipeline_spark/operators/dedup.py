"""Deduplication operators for large-scale training-data pipelines.

The reference's only dedup is keyed drop_duplicates (A10,
`scr/Transform.py:107-110`); these generalize it to the document-scale
family a 100 TB text pipeline needs:

- exact dedup: hash-groupBy on a normalized fingerprint — one shuffle
  on the hash, no pairwise comparison;
- MinHash + LSH near-dup: shingle → K minhashes → B bands → bucket
  join; candidate pairs are generated only within equal band buckets,
  so the quadratic pairwise explosion never materializes;
- SimHash: 64-bit signature whose hamming distance tracks cosine
  similarity of the bag of words; banding on 16-bit chunks gives the
  candidate join the same bucketed shape;
- n-gram Jaccard: exact pairwise verification, formulated relationally
  (explode n-grams → join on shared gram → count / union) so Spark can
  shuffle-partition it by gram.

Everything is pure Column expressions — no Python UDFs; hashes are
Spark's built-in xxhash64 (deterministic across runs/partitionings).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..utils import spread


def normalized_text(c: F.Column | str) -> F.Column:
    """Canonical text form for fingerprints: lower, collapse whitespace,
    trim."""
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact near-identity dedup: md5 of normalized text, keep the
    lowest id per fingerprint. One hash-shuffle; at 100 TB this is the
    cheapest possible dedup and always runs first to shrink input for
    the fuzzy passes."""
    fp = F.md5(normalized_text(text_col)).alias("fingerprint")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_duplicates"))
    )


def _ngram_sql(words: str, n: int) -> str:
    """SQL for the word n-gram list: nested `zip_with` over shifted
    slices — no explode, no UDF, and no `transform(sequence(...))`
    index lambda (the sequence+slice formulation measured 20×+ slower
    on the interpreted HOF path: each index lambda re-slices the array,
    while zip_with walks the n shifted views once)."""
    length = f"greatest(size({words}) - {n - 1}, 0)"
    expr = f"slice({words}, 1, {length})"
    for i in range(1, n):
        expr = f"zip_with({expr}, slice({words}, {i + 1}, {length}), (a, b) -> concat(a, ' ', b))"
    return expr


def word_ngrams(words_col_name: str, n: int) -> F.Column:
    """Word n-gram list column (see _ngram_sql)."""
    return F.expr(_ngram_sql(words_col_name, n))


def gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int, portable: bool = False
) -> DataFrame:
    """(id, array<long> hashes of distinct word n-grams) in ONE
    projection. Keeping it to a single Project matters: a filter or
    second projection referencing the gram column makes Catalyst inline
    the whole gram-building tree at every reference (predicate pushdown
    substitutes aliases), and the interpreted-HOF tree is the most
    expensive expression in the engine. Rows whose gram set is empty
    (docs shorter than n words) are emitted with an empty array —
    callers drop them batch-side where needed.

    `portable=False` (default): xxhash64 — cheapest 64-bit hash Spark
    codegens, the production tier. `portable=True`: low 32 bits of md5
    (8 hex chars) — reproducible in any engine with md5 (what lets the
    registered suite carry a DuckDB value oracle), and small enough
    that the 31-bit universal-hash minhash family multiplies it
    without overflowing a signed 64-bit int in EITHER engine. Hash
    collisions merely merge gram identities identically on both sides
    (jaccard formulas are mirrored on the same multiset), so
    portability never depends on collision-freeness.

    Physically the two tiers hash in different places: xxhash64 rides
    the JVM transform() (codegen keeps it nearly free), but md5 inside
    an interpreted higher-order lambda measured ~6× the ENTIRE xxhash
    tier at sf0.1 — so the portable tier builds the distinct gram
    strings JVM-side and hashes them in an Arrow-batched kernel
    (hashlib md5 is the same digest, value-identical by construction,
    asserted in tests/test_dedup.py)."""
    words = F.split(normalized_text(text_col), " ")
    if not portable:
        return spread(df).withColumn("__words", words).select(
            F.col(id_col),
            F.expr(
                f"transform(array_distinct({_ngram_sql('__words', n)}), g -> xxhash64(g))"
            ).alias("__gh"),
        )
    grams = spread(df).withColumn("__words", words).select(
        F.col(id_col),
        F.array_distinct(F.expr(_ngram_sql("__words", n))).alias("__g"),
    )

    def hash_grams(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        md5 = hashlib.md5
        for pdf in batches:
            # one digest per UNIQUE gram (corpora share vocabulary, so
            # instances outnumber uniques by orders of magnitude), and
            # the per-INSTANCE work stays in C: flatten all gram lists,
            # factorize to (codes, uniques), digest the uniques, gather
            # hashes by code, split back by row lengths (r12, guide §4
            # — same values as the old per-row dict loop, ~3× less
            # Python-interpreter time per batch)
            lens = pdf["__g"].map(len).to_numpy()
            if lens.sum() == 0:
                yield pd.DataFrame(
                    {id_col: pdf[id_col], "__gh": [[] for _ in lens]}
                )
                continue
            flat = np.concatenate([np.asarray(g, dtype=object) for g in pdf["__g"]])
            codes, uniques = pd.factorize(flat, sort=False)
            table = np.fromiter(
                (int(md5(u.encode()).hexdigest()[:8], 16) for u in uniques),
                dtype=np.int64,
                count=len(uniques),
            )
            hashed = table[codes]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "__gh": np.split(hashed, np.cumsum(lens)[:-1]),
                }
            )

    return grams.mapInPandas(hash_grams, f"{id_col} long, __gh array<long>")


def _with_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """id + exploded distinct word n-grams. Rows are unique by
    construction — array_distinct dedupes within the doc and explode
    emits each surviving gram once, so no .distinct() (a full shuffle
    Catalyst cannot elide because it can't prove the uniqueness)."""
    return (
        spread(df)
        .withColumn("__words", F.split(normalized_text(text_col), " "))
        .select(
            F.col(id_col).alias("__id"),
            F.explode(F.array_distinct(word_ngrams("__words", n))).alias("gram"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 gram.

    Relational formulation: explode distinct grams, self-join on gram
    (partitioned by gram — hot grams are the skew axis; AQE skew-join
    splits them), count shared grams per pair, Jaccard =
    |∩| / (|A| + |B| - |∩|). Returns (id_a, id_b, jaccard) with
    id_a < id_b and jaccard rounded to 4dp.

    At scale this is the *verifier* stage — run it on LSH candidates
    (minhash_lsh_candidates), not all pairs; here it doubles as the
    exact baseline the probabilistic ops are judged against.
    """
    # localCheckpoint, not cache(): both sides of the self-join reuse
    # the materialized grams, and checkpoint blocks are freed by the
    # ContextCleaner when the frame is dropped — cache() entries live
    # in the shared CacheManager until someone remembers to unpersist,
    # leaking executor storage across a long-lived session
    grams = _with_grams(df, id_col, text_col, n).localCheckpoint()
    sizes = grams.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
    a = grams.select(F.col("__id").alias("id_a"), "gram")
    b = grams.select(F.col("__id").alias("id_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    sz_a = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("__sz_a"))
    sz_b = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("__sz_b"))
    jac = (
        shared.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("__shared")
                / (F.col("__sz_a") + F.col("__sz_b") - F.col("__shared")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return jac


def ngram_jaccard_pairs_blas(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    grams_pdf: pd.DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold, dense-kernel tier.

    Same results as `ngram_jaccard_pairs`, different physical strategy:
    build the (docs × vocab) boolean gram-incidence matrix, broadcast
    it, and let each Arrow batch compute its block of shared-gram
    counts as one BLAS matmul, emitting only above-threshold pairs —
    O(n²) FLOPs but O(matches) shuffle, the same shape as
    operators.similarity.all_pairs_cosine.

    When to use which: on corpora whose pairwise-candidate set is dense
    (small shared vocabulary — here 5,000 synthetic docs share 931
    bigrams, so ~all 12.5M pairs are join candidates and the relational
    gram-join materializes 36M rows), the matmul wins by >10×. It is
    bounded by the broadcast matrix (docs × vocab bits); past that, run
    the relational form — or this form per LSH bucket, which is the
    100 TB path (bucket-local docs × bucket-local vocab).
    """
    spark = df.sparkSession
    # collect (id, xxhash64(gram) array): int arrays move through Arrow
    # much faster than raw gram strings, and the vocabulary builds off
    # 8-byte keys (collision odds ~|vocab|²/2^65 — negligible here,
    # documented bound of this tier). `grams_pdf` lets the auto
    # dispatcher hand over its already-collected gram frame so the
    # (expensive) gram lineage is evaluated exactly once.
    pdf = grams_pdf if grams_pdf is not None else gram_hashes(df, id_col, text_col, n).toPandas()
    pdf = pdf[pdf["__gh"].map(len) > 0].reset_index(drop=True)
    ids = pdf[id_col].to_numpy()
    # vectorized incidence build (r12, guide §4 spirit driver-side):
    # flatten all gram arrays, map to vocab indices with one np.unique,
    # and scatter with a single fancy-index — the old per-doc dict +
    # listcomp loops were ~0.35 s of pure Python at sf0.1. Column
    # ORDER of the vocabulary differs (sorted vs first-seen) but the
    # matrix is only used for row-space matmuls/sums, which are
    # permutation-invariant across columns — identical pairs out.
    if len(pdf):
        lens = pdf["__gh"].map(len).to_numpy()
        flat = np.concatenate([np.asarray(g, dtype=np.int64) for g in pdf["__gh"]])
        uniq, codes = np.unique(flat, return_inverse=True)
        rows = np.repeat(np.arange(len(pdf)), lens)
        mat = np.zeros((len(pdf), len(uniq)), dtype=np.float32)
        mat[rows, codes] = 1.0
    else:
        mat = np.zeros((0, 0), dtype=np.float32)
    sizes = mat.sum(axis=1, dtype=np.float32)
    bc = spark.sparkContext.broadcast((ids, mat, sizes))
    id_to_row = {int(v): i for i, v in enumerate(ids)}
    b_idx = spark.sparkContext.broadcast(id_to_row)
    # Host-calibrated kernel: BLAS matmuls and comparisons are fast,
    # but plain numpy elementwise arithmetic over O(B×N) arrays is
    # ~350ns/element on this machine — so the block phase uses ONLY
    # matmuls and comparisons. jac >= t ⟺ shared >= t/(1+t)·(sz_a+sz_b),
    # and the bound itself is a rank-2 matmul. The threshold is relaxed
    # by 1e-4 because the final 4dp rounding can pull a value that far
    # below t over it (f32 slack rides inside the same margin); exact
    # division + rounding then run on survivors only.
    t_relaxed = threshold - 1e-4
    k = t_relaxed / (1.0 + t_relaxed)

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat, all_sz = bc.value
        row_of = b_idx.value
        n_docs = all_mat.shape[0]
        rhs = np.vstack([np.ones((1, n_docs), dtype=np.float32), all_sz[None, :]])
        for bdf in batches:
            if bdf.empty:
                continue
            rows = np.array([row_of[v] for v in (int(v) for v in bdf[id_col]) if v in row_of])
            if rows.size == 0:
                continue
            shared = all_mat[rows] @ all_mat.T  # B × N, exact ints in f32
            lhs = np.empty((len(rows), 2), dtype=np.float32)
            lhs[:, 0] = k * all_sz[rows]
            lhs[:, 1] = k
            bound = lhs @ rhs  # k·sz_a + k·sz_b via BLAS
            ok = (shared >= bound) & (all_ids[rows][:, None] < all_ids[None, :])
            r, c = np.nonzero(ok)
            s = shared[r, c].astype(np.float64)
            union = all_sz[rows][r].astype(np.float64) + all_sz[c].astype(np.float64) - s
            jac = np.round(s / union, 4)
            keep = jac >= threshold
            yield pd.DataFrame(
                {
                    "id_a": all_ids[rows][r[keep]],
                    "id_b": all_ids[c[keep]],
                    "jaccard": jac[keep],
                }
            )

    # the distributed pass only needs the id column — read it straight
    # off parquet (column pruning makes this scan near-free) instead of
    # re-evaluating the gram lineage a second time; ids with no grams
    # are dropped batch-side (not in row_of)
    ids_df = spread(df.select(id_col))
    return ids_df.mapInPandas(pairs, "id_a long, id_b long, jaccard double")


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold via PREFIX FILTERING —
    the unbounded-scale exact tier (AllPairs/PPJoin family).

    For Jaccard ≥ t, two gram sets of sizes |A|,|B| must share at
    least one gram among each document's first
    `|X| - ceil(t·|X|) + 1` grams under ANY fixed global gram order;
    ordering grams rarest-first (ascending document frequency) makes
    those prefixes the most selective ones. Candidates therefore come
    from an equi-join on PREFIX grams only — the hot high-frequency
    grams that explode the naive gram-join never generate candidates —
    and each candidate is verified with the exact array-intersect
    identity (exact_jaccard_for_pairs). 100% recall by construction,
    exact precision, no driver-side state, no broadcast that grows
    with the corpus: every stage is a hash-partitioned shuffle on
    gram or id keys, so the plan survives arbitrary corpus growth.
    """
    from ..utils import spread

    # the gram explode + df-count map side run in the INPUT's
    # partitioning (everything downstream is hash-shuffled): a small
    # single-file corpus would serialize them on one core — measured
    # 2× on the whole tier. No-op whenever the input is already wide,
    # which at real scale it always is.
    df = spread(df)
    grams = _with_grams(df, id_col, text_col, n)
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    w_doc = W.partitionBy("__id").orderBy(F.asc("__df"), F.asc("gram"))
    ranked = (
        grams.join(dfreq, "gram")
        .withColumn("__rn", F.row_number().over(w_doc))
        .withColumn("__sz", F.count(F.lit(1)).over(W.partitionBy("__id")))
    )
    prefix = ranked.filter(
        F.col("__rn") <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
    ).select("__id", "gram", "__sz")
    a = prefix.select(
        F.col("__id").alias("id_a"), "gram", F.col("__sz").alias("__sz_a")
    )
    b = prefix.select(
        F.col("__id").alias("id_b"), "gram", F.col("__sz").alias("__sz_b")
    )
    # LENGTH FILTER (PPJoin): jaccard ≥ t forces |∩| ≥ t·max(|A|,|B|)
    # and |∩| ≤ min(|A|,|B|), so min ≥ t·max — evaluated INSIDE the
    # gram join, before the distinct. On low-diversity corpora (small
    # shared vocabularies make every gram hot, the prefix's weak spot)
    # this prunes the candidate explosion by size incompatibility
    # alone; on Zipfian corpora it is nearly free. Result unchanged —
    # any true pair satisfies the inequality by the identity above.
    cand = (
        a.hint("shuffle_hash")
        .join(
            b,
            (a["gram"] == b["gram"])
            & (F.col("id_a") < F.col("id_b"))
            & (
                F.least("__sz_a", "__sz_b")
                >= F.lit(threshold) * F.greatest("__sz_a", "__sz_b")
            ),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return exact_jaccard_for_pairs(df, cand, id_col, text_col, n, threshold)


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's `sizeInBytes` estimate for df's optimized plan —
    file bytes for scans, propagated estimates for derived plans.
    Metadata-only (NO Spark job). Returns a huge sentinel when the
    estimate is unavailable so callers treat unknown as unbounded."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — any py4j/analysis hiccup → "unknown"
        return 1 << 62


def ngram_jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    dense_budget_bytes: int = 2 << 30,
    collect_budget_bytes: int = 1 << 30,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold with BYTE-BUDGETED tier
    dispatch — the production entry point.

    The dense BLAS tier's driver state is bounded by TWO budgets, both
    enforced here:
    - `collect_budget_bytes` caps the gram-hash collect itself,
      sized from CATALYST'S OWN plan statistics (`sizeInBytes` of the
      optimized plan — file bytes for scans, propagated estimates for
      derived plans, a huge sentinel when unknown) so the probe runs
      ZERO Spark jobs. Gram-hash bytes are bounded by 8× source bytes
      (one 8-byte hash per gram ≈ one per ~6-char word, and parquet
      text compresses ≥1×, so 8× over-estimates). Plans whose size
      Catalyst cannot bound (RDD-backed/driver-local relations report
      the defaultSizeInBytes sentinel) fall back to one cheap
      map-only gram-count scan. Corpora over the cap go straight to
      the prefix tier without collecting anything.
    - `dense_budget_bytes` caps the docs × vocab × 4 B incidence
      matrix, checked EXACTLY (np.unique over the collected hashes —
      no estimator error) after the collect and before any matrix
      allocation; over-budget corpora fall back to the prefix tier
      having spent at most one `collect_budget_bytes`-bounded
      collect. A raw doc-count guard is the wrong shape for this:
      vocabulary grows with the corpus, so 100k docs × a realistic
      10^5-gram vocabulary is a 40 GB matrix — orders of magnitude
      past what a doc bound suggests.
    The collected frame is handed to the dense tier, so the expensive
    gram lineage is evaluated exactly once.

    - within both budgets: the dense BLAS tier. On small/dense corpora
      (shared vocabulary → ~all pairs are join candidates, e.g. the
      testdata's 5,000 docs × 931 shared bigrams) it wins by >10×
      over any join-based plan.
    - beyond either: the prefix-filtering tier — fully relational,
      100% recall, every stage a hash-partitioned shuffle, zero
      driver state; the plan that survives 100 TB, where real Zipfian
      vocabularies make prefix pruning effective (a low-threshold run
      on a corpus whose docs ~all share grams is quadratic for ANY
      exact algorithm).
    The tiers are property-tested equal (tests/test_dedup.py), so the
    dispatch can never change results, only the physical plan.
    """
    est_bytes = _plan_size_bytes(df)
    if est_bytes >= 1 << 60:
        # stats unknown (RDD-backed/driver-local plans report the
        # defaultSizeInBytes sentinel) → fall back to one cheap
        # map-only scan (split + size, none of the gram chain) that
        # totals gram counts exactly; file scans never pay this job
        per_doc = F.greatest(
            F.size(F.split(normalized_text(text_col), " ")) - (n - 1), F.lit(0)
        )
        est_bytes = int(
            df.select(per_doc.alias("__g")).agg(F.sum("__g")).first()[0] or 0
        )
    if est_bytes * 8 > collect_budget_bytes:
        return ngram_jaccard_pairs_prefix(df, id_col, text_col, n, threshold)
    pdf = gram_hashes(df, id_col, text_col, n).toPandas()
    nonempty = pdf[pdf["__gh"].map(len) > 0]
    if len(nonempty):
        flat = np.concatenate([np.asarray(g, dtype=np.int64) for g in nonempty["__gh"]])
        vocab_n = len(np.unique(flat))
    else:
        vocab_n = 0
    if len(nonempty) * vocab_n * 4 > dense_budget_bytes:
        return ngram_jaccard_pairs_prefix(df, id_col, text_col, n, threshold)
    return ngram_jaccard_pairs_blas(df, id_col, text_col, n, threshold, grams_pdf=pdf)


MINHASH_MERSENNE_P = (1 << 31) - 1


def minhash_params(
    num_hashes: int, portable: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """The seeded universal-hash family (a_i, b_i) minhash_signatures
    permutes gram hashes with. Factored out (single source of truth)
    because the portable family's exact parameter values are ALSO
    embedded as literals in the registered suite's DuckDB oracle SQL —
    both engines must draw the identical coefficients.

    default: uint64 wraparound family (odd a_i, mod 2^64) — cheapest
    in numpy, not reproducible in engines without wrapping 64-bit
    multiply. portable: Broder-style (a_i·h + b_i) mod p with the
    Mersenne prime p = 2^31−1 and a_i,b_i < p; with 32-bit gram
    hashes the product stays < 2^63, exact in any signed-64 engine."""
    rng = np.random.default_rng(0xC0FFEE)
    if portable:
        a = rng.integers(1, MINHASH_MERSENNE_P, num_hashes, dtype=np.uint64)
        b = rng.integers(0, MINHASH_MERSENNE_P, num_hashes, dtype=np.uint64)
        return a, b
    a = (rng.integers(0, 2**63, num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, num_hashes, dtype=np.uint64)
    return a, b


def _check_banding(num_hashes: int, num_bands: int) -> None:
    """LSH banding parameters must satisfy num_bands | num_hashes with
    rows_per_band >= 1. num_bands > num_hashes makes rows_per_band 0,
    so EVERY band key hashes the empty slice and all docs share every
    bucket — the candidate join degenerates to the full O(n²)
    cross-product LSH exists to avoid (verified: 3 unrelated docs all
    became candidates), silently. Non-divisible values silently drop
    the trailing signature components, changing recall from what the
    caller asked for. Both are caller bugs — raise."""
    if num_bands < 1 or num_hashes < 1:
        raise ValueError("num_hashes and num_bands must be >= 1")
    if num_hashes % num_bands != 0:
        raise ValueError(
            f"num_bands ({num_bands}) must divide num_hashes "
            f"({num_hashes}) — rows_per_band would be "
            f"{'0 (all docs in one bucket)' if num_hashes // num_bands == 0 else f'{num_hashes // num_bands} with {num_hashes % num_bands} hashes silently unused'}"
        )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    grams: DataFrame | None = None,
    keep_grams: bool = False,
    portable: bool = False,
) -> DataFrame:
    """MinHash signatures: for each of `num_hashes` hash functions h_i,
    sig[i] = min over shingles of h_i(gram_hash(shingle)).

    Map-only, ZERO shuffle — the document's shingles never leave their
    row (the explode+groupBy formulation shuffles every shingle and
    pays a 64-aggregate codegen blowup; at 100 TB that shuffle is the
    pipeline's biggest cost). Work is split by strength: the JVM
    computes ONE xxhash64 per shingle (codegen), then an Arrow-batched
    numpy kernel derives the `num_hashes` permutations with a seeded
    universal-hash family (sig[i] = min over shingles of
    a_i * h + b_i mod 2^64, odd a_i — Broder-style) and takes the
    column-wise min. Interpreted higher-order folds for the same math
    measured ~4× slower. Returns (id, signature array<long>); with
    `keep_grams=True` the input gram-hash array rides along as a third
    column (id, signature, __gh) at zero extra kernel cost — composed
    pipelines that need both (LSH candidates + exact verification) get
    one shared per-doc frame instead of a grams⋈signatures join.
    """
    a_co, b_co = minhash_params(num_hashes, portable)
    p = np.uint64(MINHASH_MERSENNE_P)

    # `grams` lets composed suites hand over an already-built (and
    # typically cached) gram_hashes frame so the expensive gram chain
    # is evaluated once across the signature and exact-verify stages
    # (the caller must have built it with the SAME `portable` flag)
    hashed = (
        grams
        if grams is not None
        else gram_hashes(df, id_col, text_col, shingle_n, portable)
    )

    def minsig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            # docs shorter than the shingle width have no grams and no
            # signature (gram_hashes emits them with an empty array;
            # the mapInPandas boundary is also what keeps the gram
            # expression from being re-inlined by a pushed-down filter)
            pdf = pdf[pdf["__gh"].map(len) > 0]
            if pdf.empty:
                continue
            # one flattened (num_hashes × total_grams) permutation pass +
            # segmented min per doc — no per-doc python loop
            lens = pdf["__gh"].map(len).to_numpy()
            flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in pdf["__gh"]]).view(
                np.uint64
            )
            if portable:
                # exact (a·h + b) mod p — h < 2^32, a < 2^31 keeps the
                # product < 2^63, no wraparound anywhere
                perm = (a_co[:, None] * flat[None, :] + b_co[:, None]) % p
            else:
                perm = a_co[:, None] * flat[None, :] + b_co[:, None]  # wraparound mod 2^64
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            mins = np.minimum.reduceat(perm, starts, axis=1)  # num_hashes × docs
            sigs = list(mins.T.view(np.int64))
            out = {id_col: pdf[id_col], "signature": sigs}
            if keep_grams:
                out["__gh"] = pdf["__gh"]
            yield pd.DataFrame(out)

    schema = f"{id_col} long, signature array<long>"
    if keep_grams:
        schema += ", __gh array<long>"
    return hashed.mapInPandas(minsig, schema)


def band_buckets(
    signatures: DataFrame,
    id_col: str,
    num_bands: int = 16,
    rows_per_band: int = 4,
    portable: bool = False,
) -> DataFrame:
    """LSH band-bucket assignment: split each signature into
    `num_bands` bands and key each band for the bucket equi-join.
    Map-only (one explode, no shuffle). Returns (__id, band, bucket) —
    the join key every LSH candidate generator (in-flight or
    index-backed) equi-joins on.

    Bucket key by `portable`: both are fixed-width 8-byte longs (the
    lean shuffle-key shape at 100 TB; a hash collision can only ADD a
    candidate, which the score threshold then filters). Default:
    xxhash64 of the band's comma-joined components — the cheapest
    64-bit hash Spark codegens. Portable: the low 60 bits of md5 of
    the same string — reproducible in any engine with md5, which is
    what the registered suite's DuckDB oracle joins on."""
    # string-expression form (r13, guide §1): the 16-band Column-API
    # chain (slice/cast/concat_ws/md5/conv per band) measured ~0.5 s of
    # driver analysis per build; the parsed trees are identical
    bands = []
    for b in range(num_bands):
        lo = b * rows_per_band + 1  # slice is 1-indexed
        key = (
            f"concat_ws(',', cast(slice(signature, {lo}, {rows_per_band})"
            f" as array<string>))"
        )
        if portable:
            bucket = f"cast(conv(substring(md5({key}), 1, 15), 16, 10) as bigint)"
        else:
            bucket = f"xxhash64({key})"
        bands.append(f"struct({b} as band, {bucket} as bucket)")
    return signatures.selectExpr(
        "`" + id_col.replace("`", "``") + "` as __id",
        f"explode(array({', '.join(bands)})) as bb",
    ).select("__id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str,
    num_bands: int = 16,
    rows_per_band: int = 4,
    portable: bool = False,
) -> DataFrame:
    """LSH banding: split each signature into bands, hash each band,
    join docs landing in the same (band_index, band_hash) bucket.

    The join key is the bucket — Spark hash-partitions by it, so each
    bucket's pairs are produced locally on one executor. Pairs sharing
    several buckets are deduplicated with distinct. Returns
    (id_a, id_b) candidate pairs (id_a < id_b).
    """
    buckets = band_buckets(signatures, id_col, num_bands, rows_per_band, portable)
    left = buckets.select(F.col("__id").alias("id_a"), "band", "bucket")
    right = buckets.select(F.col("__id").alias("id_b"), "band", "bucket")
    # mapInPandas output has no stats, so Catalyst would pick a
    # sort-merge join; the shuffle_hash hint keeps it a hash join
    # WITHOUT the sort, partitioned on the bucket key. (A broadcast
    # hint would be faster on tiny corpora but the bucket table grows
    # WITH the corpus — broadcasting it is exactly what cannot survive
    # 100 TB, and it disables AQE skew splitting of hot buckets.)
    return (
        left.hint("shuffle_hash").join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures → band buckets →
    candidate pairs → estimated Jaccard (fraction of equal minhash
    components) → threshold. Returns (id_a, id_b, est_jaccard).

    Physical note: est-jaccard stays a candidate-join + JVM zip_with
    fold, NOT the bucket-local grouped-kernel pattern the embedding
    LSH uses — band buckets are 64-bit hashes, so non-duplicate docs
    land in singleton buckets and a groupBy-applyInPandas pays
    per-group Python overhead on tens of thousands of empty groups
    (measured 10× slower). The signature table grows with the corpus,
    so it must NOT be broadcast; the shuffle_hash hints avoid
    Catalyst's stat-less sort-merge default while keeping both sides
    hash-partitioned on the join key (AQE can still split skewed
    keys)."""
    _check_banding(num_hashes, num_bands)
    rows_per_band = num_hashes // num_bands
    # localCheckpoint: reused by candidates + est scoring, released on GC
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n).localCheckpoint()
    cand = minhash_lsh_candidates(sigs, id_col, num_bands, rows_per_band)
    return minhash_est_pairs(sigs, cand, id_col, num_hashes, threshold)


def minhash_est_pairs(
    sigs: DataFrame,
    cand: DataFrame,
    id_col: str,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """Estimated Jaccard (fraction of equal minhash components) for a
    given candidate pair set against a signature table — the scoring
    stage of the LSH pipeline, factored out so composed suites can
    compute signatures/candidates ONCE and feed both the estimated and
    the exact verifiers. Join-shape notes in minhash_dedup_pairs."""
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("__sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("__sig_b"))
    est = F.expr(
        "size(filter(zip_with(__sig_a, __sig_b, (x, y) -> x = y), b -> b))"
    ) / F.lit(float(num_hashes))
    return (
        cand.hint("shuffle_hash").join(sa, "id_a")
        .hint("shuffle_hash").join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def exact_jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate pair set
    (id_a, id_b): join each side's distinct-gram-hash array, intersect
    JVM-side, apply the |∩|/(|A|+|B|-|∩|) identity. Cost is
    O(|pairs| × grams/doc), independent of corpus size — the verifier
    stage shape. The gram table derives from the parquet scan, so
    Catalyst has size stats: it broadcasts while the corpus fits and
    degrades to a shuffled equi-join on id beyond that — both correct.

    Returns (id_a, id_b, jaccard) for pairs ≥ threshold; pairs whose
    docs have no grams are dropped (no defined similarity). `grams`
    lets composed suites hand over a shared gram_hashes frame."""
    grams = grams if grams is not None else gram_hashes(df, id_col, text_col, n)
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("__gh").alias("__gh_a"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("__gh").alias("__gh_b"))
    inter = F.size(F.array_intersect("__gh_a", "__gh_b"))
    sz_a, sz_b = F.size("__gh_a"), F.size("__gh_b")
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .filter((sz_a > 0) & (sz_b > 0))
        .withColumn("jaccard", F.round(inter / (sz_a + sz_b - inter).cast("double"), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_exact_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """The composed 100 TB near-dup pipeline: MinHash+LSH candidate
    generation (bucket-local, no quadratic pass) followed by EXACT
    n-gram Jaccard verification of only the candidates — probabilistic
    recall, exact precision. This is the production shape both tiers'
    docstrings point at; at sf-scale it is also testable against the
    all-pairs exact baseline (every returned pair appears there with
    the identical jaccard value)."""
    _check_banding(num_hashes, num_bands)
    rows_per_band = num_hashes // num_bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    cand = minhash_lsh_candidates(sigs, id_col, num_bands, rows_per_band)
    return exact_jaccard_for_pairs(df, cand, id_col, text_col, shingle_n, threshold)


def minhash_index_build(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 2,
    portable: bool = False,
) -> None:
    """Materialize a persisted NEAR-DUP INDEX: the per-doc
    (id, signature, gram-hash array) frame as parquet, plus the
    banding parameters. The incremental-ingest analog of
    `ivf_build_index` for text dedup: at 100 TB the resident corpus's
    signatures and gram sets are computed ONCE here, and every future
    batch of documents is checked against the corpus via
    `minhash_index_probe` without touching resident text again —
    the shape a continuously-ingesting curation pipeline needs
    (re-running the full O(corpus) signature pass per nightly delta is
    exactly what does not survive).

    The signature/banding hash family is deterministic (seeded), so
    index-backed candidates are IDENTICAL to what in-flight banding
    over the union corpus would generate for (new, resident) pairs —
    pinned in tests/test_dedup.py. Appends are file-atomic per task
    but not transactional; wrap the index dir in sources.versioned
    for snapshot-isolated readers (same discipline as the IVF index).
    """
    from .tombstones import drop_tombstones, replace_dir

    _check_banding(num_hashes, num_bands)
    spark = df.sparkSession
    frame = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n,
        grams=gram_hashes(df, id_col, text_col, shingle_n, portable),
        keep_grams=True, portable=portable,
    ).localCheckpoint()  # two writes below; sign the corpus once
    replace_dir(spark, f"{path}/docs", lambda p: frame.write.parquet(p))
    # the band buckets ARE the LSH index — persist them so probes join
    # the delta's bands straight against this relation instead of
    # re-banding the resident corpus on every call (at 100 TB the
    # resident re-band is an O(corpus) explode paid per probe batch;
    # stored, it is paid once at build/append)
    replace_dir(
        spark, f"{path}/bands",
        lambda p: band_buckets(
            frame.select(id_col, "signature"),
            id_col, num_bands, num_hashes // num_bands, portable,
        ).write.parquet(p),
    )
    replace_dir(
        spark, f"{path}/params",
        lambda p: spark.createDataFrame(
            [(num_hashes, num_bands, shingle_n, id_col, portable)],
            "num_hashes int, num_bands int, shingle_n int, id_col string, portable boolean",
        ).coalesce(1).write.parquet(p),
    )
    # full-rebuild semantics: a previous generation's tombstones refer
    # to the OLD index; carried over, they would silently exclude
    # freshly-indexed docs that reuse a tombstoned id from every probe
    drop_tombstones(spark, path)


def _bands_ready(spark, path: str) -> bool:
    """Existence of the stored band relation WITH mid-swap crash
    recovery first: a compaction that died between its swap renames
    leaves `path/bands` absent and the last complete copy at
    `bands.__old`. A bare existence probe would then silently demote
    every probe to the O(resident) re-banding fallback AND make
    appends stop maintaining the relation — the stored-bands index
    would be lost permanently even though its data sits on disk one
    rename away. Recovery is idempotent and a no-op in the normal
    case."""
    from ..utils import recover_swapped_dir
    from .tombstones import _dir_exists

    recover_swapped_dir(f"{path}/bands", spark)
    return _dir_exists(spark, f"{path}/bands")


def _minhash_index_params(spark, path: str) -> tuple[int, int, int, str, bool]:
    from ..manifest import read_relation

    df = read_relation(spark, f"{path}/params")
    r = df.first()
    # indexes written before the portable family existed lack the
    # column — they were xxhash64-signed, so default False
    portable = bool(r.portable) if "portable" in df.columns else False
    return int(r.num_hashes), int(r.num_bands), int(r.shingle_n), r.id_col, portable


def minhash_index_append(
    spark,
    path: str,
    delta: DataFrame,
    text_col: str = "text",
) -> None:
    """Incremental index maintenance: sign the delta with the INDEX'S
    OWN parameters and append its (id, signature, grams) rows — no
    recompute of the resident corpus. Caller contract: delta ids are
    new (probe the delta first; ingest pipelines assign fresh ids).

    The two appends are not transactional, so their ORDER is the
    safety argument: bands append FIRST, docs second. A band row whose
    doc is missing is harmless — the probe's exact-verification join
    back to docs drops the orphan candidate — while a docs row missing
    from the stored band relation would silently never produce a
    candidate again (the probe uses the stored bands exclusively, no
    re-band fallback). A retry after a failure between the writes
    re-appends both; the duplicate band rows collapse in the probe's
    candidate .distinct(). Appends land in each relation's LIVE
    manifest tree (manifest.resolved_dir) — new files only, no
    replace, so the log-structured append stays object-store-safe."""
    from ..manifest import resolved_dir

    num_hashes, num_bands, shingle_n, id_col, portable = _minhash_index_params(spark, path)
    frame = minhash_signatures(
        delta, id_col, text_col, num_hashes, shingle_n,
        grams=gram_hashes(delta, id_col, text_col, shingle_n, portable),
        keep_grams=True, portable=portable,
    ).localCheckpoint()  # two writes; sign the delta once
    if _bands_ready(spark, path):  # pre-bands indexes: probe re-bands
        band_buckets(
            frame.select(id_col, "signature"),
            id_col, num_bands, num_hashes // num_bands, portable,
        ).write.mode("append").parquet(resolved_dir(spark, f"{path}/bands"))
    frame.write.mode("append").parquet(resolved_dir(spark, f"{path}/docs"))


def minhash_index_delete(spark, path: str, doomed: DataFrame) -> None:
    """Tombstone documents out of the persisted near-dup index: doomed
    ids (under the index's own id column) append to `path/tombstones`
    and every probe anti-joins them — a deleted resident doc can never
    again produce a candidate pair, exactly as if the index were
    rebuilt without it (asserted in tests/test_dedup.py). Log-
    structured: no rewrite of the signed corpus; compaction = rebuild."""
    from .tombstones import append_tombstones

    _, _, _, id_col, _ = _minhash_index_params(spark, path)
    append_tombstones(doomed, path, id_col)


def minhash_index_compact(spark, path: str) -> None:
    """Physically rewrite the index WITHOUT its tombstoned docs and
    reset the tombstone set — the compaction step the log-structured
    delete defers ("tombstone now, compact later"), and the index half
    of HARD erasure: after compact, a deleted doc's signature and gram
    hashes no longer exist in storage, not merely in probe results.
    Each relation rewrites via replace_dir (survivors into a fresh
    manifest tree, one marker-file commit — durable and published
    before the old tree is retired, no volatile-only copy, no
    directory renames: object-store-safe since r8). Probe results are
    unchanged by construction (probe already anti-joined the
    tombstones; asserted in tests)."""
    from ..manifest import read_relation
    from .tombstones import drop_tombstones, filter_tombstones, replace_dir

    _, _, _, id_col, _ = _minhash_index_params(spark, path)
    live = filter_tombstones(
        spark, path, read_relation(spark, f"{path}/docs"), id_col
    )
    replace_dir(spark, f"{path}/docs", lambda p: live.write.parquet(p))
    if _bands_ready(spark, path):
        bands = filter_tombstones(
            spark, path, read_relation(spark, f"{path}/bands"), "__id"
        )
        replace_dir(spark, f"{path}/bands", lambda p: bands.write.parquet(p))
    drop_tombstones(spark, path)


def minhash_index_probe(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    new_frame: DataFrame | None = None,
    integrity_check: bool = True,
) -> DataFrame:
    """Check a batch of NEW documents against the persisted corpus
    index: LSH band-bucket candidates (new × resident only — the
    new-batch's internal pairs are a separate, much smaller
    minhash_exact_dedup_pairs run) verified with EXACT n-gram Jaccard.
    Returns (new_id, resident_id, jaccard) for pairs ≥ threshold.

    Plan shape at 100 TB: resident candidates come from the STORED
    band relation (`path/bands`, written at build/append — the band
    buckets are the LSH index, so the probe never re-bands the
    resident corpus; indexes from before the bands layout fall back
    to deriving bands from the column-pruned (id, signature) scan),
    the delta's banding is a map-only explode, and the candidate
    equi-join on (band, bucket) is hash-partitioned with the NEW side
    (the small side) as the shuffle_hash build side. Exact
    verification then joins the candidate ids back to (id, __gh) —
    O(candidates), not O(corpus). Nothing corpus-sized is broadcast
    or collected.

    `new_frame` lets a caller that already signed the delta (with the
    index's own parameters, keep_grams=True) hand the
    (id, signature, __gh) frame over instead of re-running the gram +
    signature kernels."""
    num_hashes, num_bands, shingle_n, id_col, portable = _minhash_index_params(spark, path)
    rows_per_band = num_hashes // num_bands
    from ..manifest import read_relation
    from .tombstones import filter_tombstones

    resident = filter_tombstones(
        spark, path, read_relation(spark, f"{path}/docs"), id_col
    )
    frame_new = new_frame if new_frame is not None else minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_n,
        grams=gram_hashes(new_docs, id_col, text_col, shingle_n, portable),
        keep_grams=True, portable=portable,
    ).localCheckpoint()  # reused by banding + verify; freed on GC
    nb = band_buckets(
        frame_new.select(id_col, "signature"), id_col, num_bands, rows_per_band, portable
    )
    if _bands_ready(spark, path):
        # the stored band relation (written at build/append) — the
        # resident corpus is never re-banded at probe time; tombstoned
        # ids are filtered the same way as the docs relation
        rb = filter_tombstones(
            spark, path, read_relation(spark, f"{path}/bands"), "__id"
        )
        # drift assert: every live docs id MUST appear in the stored
        # bands. The append protocol guarantees it by ORDER (bands
        # first, docs second — an orphan band row is harmless, a docs
        # row without bands would silently never produce a candidate
        # again). This turns any future violation of that ordering —
        # a partial manual restore, a truncated bands relation — into
        # a loud failure instead of silent misses. Cost: one anti-join
        # existence probe (take(1)) over two relations the probe scans
        # anyway; both sides are tombstone-filtered identically, so a
        # tombstoned doc cannot false-positive. `integrity_check=False`
        # opts a latency-critical 100 TB probe out — the column-pruned
        # id scan is cheap but not free.
        drift = None if not integrity_check else (
            resident.select(id_col)
            .join(
                # no .distinct() on the bands side: a LEFT ANTI join
                # gives the identical result against a non-distinct
                # right side, and skipping it saves that aggregate's
                # shuffle on the 16-rows-per-doc relation
                rb.select(F.col("__id").alias(id_col)),
                id_col,
                "left_anti",
            )
            .take(1)
        )
        if drift:
            raise IOError(
                f"minhash index at {path!r} is inconsistent: doc id "
                f"{drift[0][0]!r} has no stored band rows, so it could "
                "never surface as a candidate. Rebuild the index "
                "(minhash_index_build) or re-append the missing docs."
            )
    else:  # pre-bands index layout: derive bands from signatures
        rb = band_buckets(
            resident.select(id_col, "signature"), id_col, num_bands, rows_per_band, portable
        )
    cand = (
        nb.select(F.col("__id").alias("new_id"), "band", "bucket")
        .hint("shuffle_hash")
        .join(rb.select(F.col("__id").alias("resident_id"), "band", "bucket"), ["band", "bucket"])
        .filter(F.col("new_id") != F.col("resident_id"))
        .select("new_id", "resident_id")
        .distinct()
    )
    ga = frame_new.select(F.col(id_col).alias("new_id"), F.col("__gh").alias("__gh_a"))
    gb = resident.select(F.col(id_col).alias("resident_id"), F.col("__gh").alias("__gh_b"))
    inter = F.size(F.array_intersect("__gh_a", "__gh_b"))
    sz_a, sz_b = F.size("__gh_a"), F.size("__gh_b")
    return (
        cand.join(ga, "new_id")
        .join(gb, "resident_id")
        .filter((sz_a > 0) & (sz_b > 0))
        .withColumn("jaccard", F.round(inter / (sz_a + sz_b - inter).cast("double"), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "resident_id", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_bound: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair set — the step that
    turns pairwise matches into KEEP/DROP decisions (each component
    keeps its lowest id as the canonical document).

    Size-dispatched like the other dedup tiers (results identical,
    tested):
    - ≤ `driver_bound` pairs: classic union-find on the driver — the
      verified near-dup graph is SMALL relative to the corpus (pairs
      are what survived LSH + exact verification), so even a 100 TB
      corpus's dup graph usually fits; ONE take(bound+1) probe doubles
      as the collect, O(pairs·α) work.
    - beyond: distributed iterative min-label propagation with
      POINTER JUMPING — each round (a) every node takes the min of
      its own and its neighbors' labels (one hash-partitioned
      join+aggregate), then (b) replaces its label with its label's
      label (one more join), halving chain depth like classic
      Shiloach-Vishkin: convergence in O(log diameter) rounds, so
      the default `max_iter=20` covers component diameters up to
      ~2^20 (near-dup components are shallow stars/cliques anyway).
      `localCheckpoint` truncates lineage so plan size stays
      constant per round. The loop is driver-side CONTROL FLOW only
      (one count per round for the convergence test). If `max_iter`
      is exhausted before the fixpoint, the function RAISES rather
      than silently returning wrong labels.
    Deterministic either way: min id over unique ids.

    Returns (node, component) — one row per node appearing in pairs.
    """
    # ONE probe job serves both the size test and the driver collect:
    # take(bound+1) scans partitions and returns every row iff the
    # graph fits the driver tier; the distributed tier pays at most
    # one bounded (driver_bound × 16 B) discarded fetch — no persist,
    # no separate count job over the pair plan.
    # r12 (guide §2.6/§1): take()'s default ramp (1 partition, then
    # 4× more per job) is the right shape for a tiny LIMIT over a huge
    # input, but this probe EXPECTS to consume everything below the
    # bound — the ramp just serializes the same work into 3-4
    # back-to-back jobs (measured 1.15 s wall of the dedup_clusters
    # bench entry). Scanning every partition in the first wave does
    # identical total work in one job; the conf is session-restored so
    # genuine small-limit sites keep the incremental default.
    pairs = pairs.select(id_a, id_b)
    rows: list = []
    if driver_bound > 0:
        spark = pairs.sparkSession
        _conf = "spark.sql.limit.initialNumPartitions"
        _prev = spark.conf.get(_conf, None)
        try:
            spark.conf.set(_conf, str(1 << 20))
            rows = pairs.take(driver_bound + 1)
        finally:
            if _prev is None:
                spark.conf.unset(_conf)
            else:
                spark.conf.set(_conf, _prev)
    if driver_bound > 0 and len(rows) <= driver_bound:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = int(r[0]), int(r[1])
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the root IS the component label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        labels = [(n, find(n)) for n in parent]
        # Arrow-backed createDataFrame (guide §6): the plain list path
        # parallelizes PICKLED python rows — every downstream task
        # spins a python worker just to deserialize a few labels
        # (measured ~7.6 s of executor CPU across 32 tasks on the
        # bench's dedup_clusters entry). A pandas frame ships as Arrow
        # batches the JVM parses without python workers.
        pdf = pd.DataFrame(labels, columns=["node", "component"], dtype="int64")
        # broadcast hint: this tier's output is bounded by construction
        # (≤ 2·driver_bound rows ≈ 32 MB worst case at the default
        # bound), but it is RDD-backed so Catalyst has no stats and a
        # consumer joining it against a corpus-sized frame would get a
        # shuffle join of the corpus (guide §3.1). The distributed tier
        # below stays unhinted — its label count is unbounded.
        return F.broadcast(
            pairs.sparkSession.createDataFrame(pdf, "node long, component long")
        )
    # the pair plan feeds both union branches — persist for the edge
    # build only; the eager localCheckpoint materializes the edges, so
    # the persist is released before the iteration starts
    pairs = pairs.persist()
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    pairs.unpersist()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    changed = -1
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("dst"), F.col("component").alias("__nl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("__nl").alias("__nbr_min"))
        )
        stepped = labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("__nbr_min", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: component ← label(component). Every label is
        # itself a node (labels are mins over node ids), so the lookup
        # always resolves; composing it each round halves the depth of
        # label chains — O(log diameter) total rounds instead of
        # O(diameter) for chain-shaped components.
        new_labels = (
            stepped.alias("l")
            .join(
                stepped.select(
                    F.col("node").alias("component"), F.col("component").alias("__cc")
                ),
                "component",
                "left",
            )
            .select("node", F.coalesce("__cc", F.col("component")).alias("component"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter — "
            "returning unconverged labels would be silently wrong"
        )
    return labels


def simhash(
    df: DataFrame, id_col: str, text_col: str, portable: bool = False
) -> DataFrame:
    """SimHash over the word bag: each word votes its hash bits ±1;
    the signature is the sign vector packed into a long.

    Map-only, ZERO shuffle (the explode → 64-conditional-sum groupBy
    formulation shuffles every word occurrence and JIT-compiles a
    64-aggregate monster — measured 75× slower at sf0.01). The JVM
    computes one word hash per occurrence (codegen); an
    Arrow-batched numpy kernel unpacks the bit-planes, sums the
    ±1 votes and packs the sign vector — dense bit math is where
    interpreted higher-order folds lose ~10×. Returns (id, simhash
    long).

    The word-hash family is pluggable by `portable`:
    - default (False): xxhash64, 64-bit signature — the throughput
      choice for production scans (xxhash64 is the cheapest 64-bit
      hash Spark codegens);
    - portable (True): the low 60 bits of md5 (15 hex chars via
      conv(…,16,10) — 60 so the cast can never overflow a signed
      long), 60-bit signature. Any engine with md5 reproduces it
      bit-for-bit, which is what lets the registered query carry a
      full DuckDB value oracle. Same asymptotics, ~same quality
      (4 fewer signature bits), a few % more cycles per word.
    """
    n_bits = 60 if portable else 64
    # production: xxhash64 codegens inside the JVM transform (nearly
    # free); portable: md5 in an interpreted lambda is the single most
    # expensive expression the engine ever ran, so the words go to the
    # kernel as STRINGS and hashlib computes the identical digest
    # batch-side (low 60 bits = first 15 hex chars, value-identical).
    hashed = (
        spread(df)
        .withColumn("__words", F.split(normalized_text(text_col), " "))
        .select(
            F.col(id_col),
            (
                F.col("__words")
                if portable
                else F.expr("transform(__words, w -> xxhash64(w))")
            ).alias("__h"),
        )
    )
    shifts = np.arange(n_bits, dtype=np.uint64)

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        md5 = hashlib.md5
        for pdf in batches:
            if pdf.empty:
                continue
            # flatten all word hashes, unpack 64 bit-planes once, and
            # take segmented per-doc vote sums — no per-doc python loop
            lens = pdf["__h"].map(len).to_numpy()
            if portable:
                # one digest per unique word, and the per-INSTANCE work
                # stays in C: factorize the flattened words to (codes,
                # uniques), digest the uniques, gather by code — the
                # same r12 vectorization as gram_hashes, identical
                # values to the old per-word dict loop
                flat_w = np.concatenate(
                    [np.asarray(ws, dtype=object) for ws in pdf["__h"]]
                )
                codes, uniques = pd.factorize(flat_w, sort=False)
                table = np.fromiter(
                    (int(md5(u.encode()).hexdigest()[:15], 16) for u in uniques),
                    dtype=np.uint64,
                    count=len(uniques),
                )
                flat = table[codes]
            else:
                flat = np.concatenate(
                    [np.asarray(h, dtype=np.int64) for h in pdf["__h"]]
                ).view(np.uint64)
            bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            ones = np.add.reduceat(bits, starts, axis=0)  # docs × 64
            votes = 2 * ones - lens[:, None]
            out = ((votes > 0).astype(np.uint64) << shifts[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out.view(np.int64)})

    return hashed.mapInPandas(pack, f"{id_col} long, simhash long")


def simhash_near_pairs(
    sim: DataFrame, id_col: str, max_hamming: int = 8, n_bits: int = 64
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidate generation bands the n_bits-bit signature into 4 chunks
    of n_bits/4 bits (pigeonhole: distance ≤ 3 guarantees an equal
    chunk; larger distances are found with high probability) and joins
    per chunk — the same bucketed-join shape as LSH, no quadratic
    pass. `n_bits` must match the signature width simhash() produced
    (64 default, 60 portable)."""
    chunk_w = n_bits // 4
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftrightunsigned(F.col("simhash"), chunk_w * i)
                .bitwiseAND(F.lit((1 << chunk_w) - 1))
                .alias("cv"),
            )
            for i in range(4)
        ]
    )
    # cached: both sides of the self-join reference this plan, and
    # without a persist each side recomputes the full signature lineage
    # (scan → hash → numpy kernel)
    buckets = (
        sim.select(F.col(id_col).alias("__id"), F.col("simhash"), F.explode(chunk_structs).alias("c"))
        .select("__id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
        .localCheckpoint()  # both join sides reuse it; freed on GC
    )
    a = buckets.select(F.col("__id").alias("id_a"), F.col("simhash").alias("__sh_a"), "ci", "cv")
    b = buckets.select(F.col("__id").alias("id_b"), F.col("simhash").alias("__sh_b"), "ci", "cv")
    hamming = F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b")))
    # one bucket-join over (chunk_idx, chunk_val) replaces 4 separate
    # self-joins; shuffle_hash (not broadcast — the bucket table grows
    # with the corpus) avoids the stat-less sort-merge default.
    # The hamming filter runs BEFORE the distinct: candidates at this
    # corpus's similarity level outnumber survivors ~100×, and
    # deduplicating only survivors shrinks the one shuffle accordingly.
    return (
        a.hint("shuffle_hash").join(b, ["ci", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
