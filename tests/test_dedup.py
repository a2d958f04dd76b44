"""Dedup-operator tests: tier equality (BLAS vs relational exact
Jaccard), probabilistic-operator quality vs the exact baseline, and
signature determinism under repartitioning."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_football_analytics_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_blas,
    ngram_jaccard_pairs_prefix,
    simhash,
    simhash_near_pairs,
)
from etl_football_analytics_pipeline_spark.sources.registry import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


def test_blas_tier_equals_relational_tier(spark, docs):
    """The two physical strategies of exact n-gram Jaccard must agree
    exactly (same pairs, same 4dp values)."""
    rel = ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.2)
    blas = ngram_jaccard_pairs_blas(docs, "doc_id", "text", n=2, threshold=0.2)
    a = sorted(tuple(r) for r in rel.collect())
    b = sorted(tuple(r) for r in blas.collect())
    assert a == b


def test_prefix_tier_equals_blas_tier(spark, docs):
    """The prefix-filtering tier (the registered 100 TB plan) must
    agree exactly with the dense BLAS tier — same pairs, same 4dp
    values. Together with test_blas_tier_equals_relational_tier this
    proves all three physical strategies compute one operator."""
    pref = ngram_jaccard_pairs_prefix(docs, "doc_id", "text", n=2, threshold=0.2)
    blas = ngram_jaccard_pairs_blas(docs, "doc_id", "text", n=2, threshold=0.2)
    a = sorted(tuple(r) for r in pref.collect())
    b = sorted(tuple(r) for r in blas.collect())
    assert a == b


# -- randomized tier equality (hypothesis) ------------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    # small-alphabet word soup → dense shared vocabulary, the regime
    # that stresses candidate generation hardest
    _word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
    _doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)
    _corpus = st.lists(_doc, min_size=0, max_size=12)

    @given(texts=_corpus, threshold=st.sampled_from([0.2, 0.5, 0.8]))
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_jaccard_tiers_equal_on_random_corpora(spark, texts, threshold):
        """All three exact-Jaccard physical strategies must return the
        identical pair set with identical 4dp values on ANY corpus,
        including empty docs, duplicate docs, and all-shared-vocab
        degeneracies — the invariant that makes the size dispatch
        safe."""
        df = spark.createDataFrame(
            list(enumerate(texts)) or [(0, "")], "doc_id long, text string"
        )
        rel = sorted(tuple(r) for r in ngram_jaccard_pairs(df, "doc_id", "text", 2, threshold).collect())
        blas = sorted(tuple(r) for r in ngram_jaccard_pairs_blas(df, "doc_id", "text", 2, threshold).collect())
        pref = sorted(tuple(r) for r in ngram_jaccard_pairs_prefix(df, "doc_id", "text", 2, threshold).collect())
        assert rel == blas == pref


def test_auto_dispatch_is_byte_budgeted(spark, monkeypatch):
    """The auto dispatch must size the dense tier by MATRIX BYTES
    (docs × vocab × 4 B, checked exactly after a bounded collect), not
    doc count: a wide-vocabulary corpus whose matrix exceeds the
    budget takes the prefix tier even though its doc count is tiny,
    and a shared-vocab corpus within budget takes the BLAS tier. Both
    tiers are property-tested equal, so this only pins the physical
    plan."""
    import etl_football_analytics_pipeline_spark.operators.dedup as dd

    calls: list[str] = []
    real_blas, real_prefix = dd.ngram_jaccard_pairs_blas, dd.ngram_jaccard_pairs_prefix
    monkeypatch.setattr(
        dd, "ngram_jaccard_pairs_blas",
        lambda *a, **k: (calls.append("blas"), real_blas(*a, **k))[1],
    )
    monkeypatch.setattr(
        dd, "ngram_jaccard_pairs_prefix",
        lambda *a, **k: (calls.append("prefix"), real_prefix(*a, **k))[1],
    )
    # 40 docs × ~25 disjoint bigrams each ≈ 1000-gram vocab → matrix
    # estimate ~40 × 1000 × 4 B = 160 kB > the 64 kB budget below,
    # while doc count alone (40) would have sailed under any doc bound
    wide = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(26))) for i in range(40)],
        "doc_id long, text string",
    )
    out = dd.ngram_jaccard_pairs_auto(
        wide, "doc_id", "text", n=2, threshold=0.2, dense_budget_bytes=64 << 10
    )
    assert out.count() == 0  # disjoint vocabularies: no pairs
    assert calls == ["prefix"]
    # same corpus, default 2 GiB budget → dense tier
    calls.clear()
    dd.ngram_jaccard_pairs_auto(wide, "doc_id", "text", n=2, threshold=0.2).count()
    assert calls == ["blas"]


def test_connected_components_labels_and_determinism(spark):
    """Chain a-b-c plus pair (x,y) plus isolated nodes: every member
    labels with its component's minimum id, stable under repartition."""
    from etl_football_analytics_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    out = {r.node: r.component for r in connected_components(pairs).collect()}
    assert out == expected
    # the distributed label-propagation tier must agree with the
    # driver union-find tier, under any partitioning
    dist = {
        r.node: r.component
        for r in connected_components(pairs.repartition(5), driver_bound=0).collect()
    }
    assert dist == expected


def test_distributed_components_converge_on_long_chains(spark):
    """Pointer jumping makes convergence O(log diameter): a 64-hop
    chain must fully label within 8 distributed rounds (2^8 ≫ 64) —
    the shape that broke O(diameter) min-propagation under max_iter.
    An impossible budget must RAISE, never return wrong labels."""
    import pytest as _pytest

    from etl_football_analytics_pipeline_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    out = {
        r.node: r.component
        for r in connected_components(chain, driver_bound=0, max_iter=8).collect()
    }
    assert out == {i: 0 for i in range(65)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, driver_bound=0, max_iter=1)


def test_minhash_recall_against_exact(spark, docs):
    """MinHash-LSH at threshold 0.2 must recover most truly-similar
    pairs (Jaccard ≥ 0.35 ⇒ detection probability ≥ ~96% with 16
    bands × 4 rows) and not hallucinate high-estimate pairs that are
    fully dissimilar."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_blas(docs, "doc_id", "text", n=2, threshold=0.2).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_dedup_pairs(
            docs, "doc_id", "text", num_hashes=64, num_bands=16, shingle_n=2, threshold=0.2
        ).collect()
    }
    strong_truth = {p for p, j in exact.items() if j >= 0.35}
    if strong_truth:
        recall = len(strong_truth & set(approx)) / len(strong_truth)
        assert recall >= 0.8, f"recall {recall:.2f} over {len(strong_truth)} strong pairs"
    # estimated-similar pairs should mostly be at least weakly similar
    if approx:
        confirmed = sum(1 for p in approx if p in exact)
        assert confirmed / len(approx) >= 0.5


def test_exact_dedup_covers_all_docs(spark, docs):
    total = docs.count()
    agg = exact_dedup(docs, "doc_id", "text").agg(F.sum("n_duplicates")).collect()[0][0]
    assert agg == total


def test_simhash_deterministic_under_repartition(spark, docs):
    one = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    other = {
        r.doc_id: r.simhash
        for r in simhash(docs.repartition(7), "doc_id", "text").collect()
    }
    assert one == other


def test_minhash_portable_matches_reference_math(spark, docs):
    """The portable minhash family (md5-32 gram hashes, Mersenne-prime
    permutations) must reproduce a from-scratch hashlib/python
    recomputation exactly — the property the registered suite's DuckDB
    oracle relies on."""
    import hashlib
    import re

    from etl_football_analytics_pipeline_spark.operators.dedup import (
        MINHASH_MERSENNE_P,
        gram_hashes,
        minhash_params,
        minhash_signatures,
    )

    sub = docs.limit(10)
    got = {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(
            sub, "doc_id", "text", 64, shingle_n=2,
            grams=gram_hashes(sub, "doc_id", "text", 2, portable=True),
            portable=True,
        ).collect()
    }
    a, b = minhash_params(64, portable=True)
    for r in sub.select("doc_id", "text").collect():
        words = re.sub(r"\s+", " ", r.text.lower()).strip().split(" ")
        grams = list(dict.fromkeys(
            f"{words[i]} {words[i+1]}" for i in range(len(words) - 1)
        ))
        if not grams:
            assert r.doc_id not in got
            continue
        hvs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
        expect = [
            min((int(a[i]) * h + int(b[i])) % MINHASH_MERSENNE_P for h in hvs)
            for i in range(64)
        ]
        assert got[r.doc_id] == expect


def test_simhash_portable_matches_reference_math(spark, docs):
    """The portable (md5-derived 60-bit) family must reproduce a
    from-scratch hashlib/python recomputation bit-for-bit — this is
    the property the registered query's DuckDB oracle relies on."""
    import hashlib
    import re

    rows = docs.limit(20).select("doc_id", "text").collect()
    got = {
        r.doc_id: r.simhash
        for r in simhash(docs.limit(20), "doc_id", "text", portable=True).collect()
    }
    for r in rows:
        words = re.sub(r"\s+", " ", r.text.lower()).strip().split(" ")
        votes = [0] * 60
        for w in words:
            hv = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (hv >> b) & 1 else -1
        expect = sum(1 << b for b in range(60) if votes[b] > 0)
        assert got[r.doc_id] == expect


def test_simhash_near_pairs_hamming_bound(spark, docs):
    sigs = simhash(docs, "doc_id", "text")
    pairs = simhash_near_pairs(sigs, "doc_id", max_hamming=8).collect()
    assert all(0 <= r.hamming <= 8 for r in pairs)
    assert all(r.id_a < r.id_b for r in pairs)


def test_minhash_exact_is_precise_subset_of_all_pairs(spark, docs):
    """The composed LSH→exact-verify pipeline returns only true pairs:
    every (id_a, id_b, jaccard) must appear in the exhaustive exact
    baseline with the identical value (exact precision), and recall of
    high-similarity pairs should be strong."""
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_exact_dedup_pairs,
        ngram_jaccard_pairs_blas,
    )

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_blas(docs, "doc_id", "text", n=2, threshold=0.2).collect()
    }
    composed = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_exact_dedup_pairs(
            docs, "doc_id", "text", num_hashes=64, num_bands=16, shingle_n=2, threshold=0.2
        ).collect()
    }
    # precision is exact: identical values, subset of the baseline
    for pair, jac in composed.items():
        assert exact.get(pair) == jac, pair
    # recall on strong pairs (jaccard >= 0.5): banding with 16x4 at
    # s=0.5 gives P[candidate] ~ 1-(1-0.5^4)^16 ~ 0.65; near-dups at
    # higher similarity are nearly certain
    strong = {p for p, j in exact.items() if j >= 0.5}
    if strong:
        hit = sum(1 for p in strong if p in composed)
        assert hit / len(strong) >= 0.5, f"{hit}/{len(strong)}"


# -- persisted near-dup index -------------------------------------------------


def test_minhash_index_probe_matches_inflight_banding(spark, docs, tmp_path):
    """Index-backed (new × resident) pairs must be IDENTICAL to the
    (new × resident) subset of the in-flight LSH→exact pipeline run on
    the union corpus: the hash family is deterministic, so persisting
    signatures changes where they live, never what they say."""
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_exact_dedup_pairs,
        minhash_index_build,
        minhash_index_probe,
    )

    resident = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "nd_index")
    minhash_index_build(resident, path, "doc_id", "text", num_hashes=64, num_bands=16, shingle_n=2)
    probed = sorted(
        (r.new_id, r.resident_id, r.jaccard)
        for r in minhash_index_probe(spark, path, new, "text", threshold=0.2).collect()
    )
    union_pairs = minhash_exact_dedup_pairs(
        docs, "doc_id", "text", num_hashes=64, num_bands=16, shingle_n=2, threshold=0.2
    ).collect()
    expected = sorted(
        (r.id_a, r.id_b, r.jaccard) if r.id_a % 2 == 1 else (r.id_b, r.id_a, r.jaccard)
        for r in union_pairs
        if (r.id_a % 2) != (r.id_b % 2)  # cross pairs only
    )
    assert probed == expected
    assert probed  # non-vacuous: the corpus must contain cross near-dups
    # the stored band relation must agree with banding the stored
    # signatures (the probe's fast path vs its pre-bands fallback) —
    # remove the bands dir and the probe must return the same pairs
    import shutil

    shutil.rmtree(f"{path}/bands")
    refall = sorted(
        (r.new_id, r.resident_id, r.jaccard)
        for r in minhash_index_probe(spark, path, new, "text", threshold=0.2).collect()
    )
    assert refall == expected


def test_minhash_index_append_equals_rebuild(spark, docs, tmp_path):
    """build(A) + append(B) must probe identically to build(A∪B) —
    incremental maintenance cannot change answers."""
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_index_append,
        minhash_index_build,
        minhash_index_probe,
    )

    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 1)
    probe_docs = docs.filter(F.col("doc_id") % 3 == 2)
    p1 = str(tmp_path / "incr")
    minhash_index_build(a, p1, "doc_id", "text", shingle_n=2)
    minhash_index_append(spark, p1, b, "text")
    p2 = str(tmp_path / "full")
    minhash_index_build(a.unionByName(b), p2, "doc_id", "text", shingle_n=2)
    got1 = sorted(map(tuple, minhash_index_probe(spark, p1, probe_docs, threshold=0.2).collect()))
    got2 = sorted(map(tuple, minhash_index_probe(spark, p2, probe_docs, threshold=0.2).collect()))
    assert got1 == got2
    assert got1


def test_minhash_index_candidate_scan_prunes_gram_column(spark, docs, tmp_path):
    """The probe's candidate-generation scan must read only
    (id, signature) off the resident parquet — the wide gram arrays
    stay out until exact verification (column pruning is what keeps
    the candidate pass cheap at corpus scale)."""
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        band_buckets,
        minhash_index_build,
    )

    from etl_football_analytics_pipeline_spark.manifest import read_relation

    path = str(tmp_path / "prune")
    minhash_index_build(docs, path, "doc_id", "text", shingle_n=2)
    resident = read_relation(spark, f"{path}/docs")
    cand_scan = band_buckets(resident.select("doc_id", "signature"), "doc_id", 16, 4)
    plan = cand_scan._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "signature" in scan_line and "__gh" not in scan_line


def test_minhash_index_tombstone_delete_equals_rebuild_without(spark, tmp_path):
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_delete,
        minhash_index_probe,
    )
    from etl_football_analytics_pipeline_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    resident = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    idx = f"{tmp_path}/mh_idx"
    minhash_index_build(resident, idx, num_hashes=64, num_bands=16, shingle_n=2)
    before = minhash_index_probe(spark, idx, delta, threshold=0.2).collect()
    assert before, "need at least one near-dup pair to make the test meaningful"
    # tombstone every resident doc that matched anything
    doomed_ids = sorted({r.resident_id for r in before})[:3]
    doomed = spark.createDataFrame([(i,) for i in doomed_ids], "doc_id long")
    minhash_index_delete(spark, idx, doomed)
    after = sorted(map(tuple, minhash_index_probe(spark, idx, delta, threshold=0.2).collect()))
    # rebuild the index without the doomed docs: probes must agree
    idx2 = f"{tmp_path}/mh_idx2"
    minhash_index_build(
        resident.filter(~F.col("doc_id").isin(doomed_ids)), idx2,
        num_hashes=64, num_bands=16, shingle_n=2,
    )
    want = sorted(map(tuple, minhash_index_probe(spark, idx2, delta, threshold=0.2).collect()))
    assert after == want
    assert not any(t[1] in doomed_ids for t in after)
    # COMPACTION: physically rewrite (docs + stored bands) without the
    # tombstoned ids — probes unchanged, tombstone dir gone, doomed
    # signatures/bands absent from storage, index still appendable
    import os

    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_index_append,
        minhash_index_compact,
    )

    from etl_football_analytics_pipeline_spark.manifest import read_relation

    minhash_index_compact(spark, idx)
    assert not os.path.isdir(f"{idx}/tombstones")
    for rel, col in ((f"{idx}/docs", "doc_id"), (f"{idx}/bands", "__id")):
        assert (
            read_relation(spark, rel).filter(F.col(col).isin(doomed_ids)).count()
            == 0
        ), rel
    compacted = sorted(
        map(tuple, minhash_index_probe(spark, idx, delta, threshold=0.2).collect())
    )
    assert compacted == want
    # append after compact ≡ rebuild on the corresponding corpus
    extra = delta.limit(2).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    minhash_index_append(spark, idx, extra, "text")
    idx3 = f"{tmp_path}/mh_idx3"
    minhash_index_build(
        resident.filter(~F.col("doc_id").isin(doomed_ids))
        .select("doc_id", "text")
        .unionByName(extra),
        idx3, num_hashes=64, num_bands=16, shingle_n=2,
    )
    got3 = sorted(map(tuple, minhash_index_probe(spark, idx, delta, threshold=0.2).collect()))
    want3 = sorted(map(tuple, minhash_index_probe(spark, idx3, delta, threshold=0.2).collect()))
    assert got3 == want3


def test_minhash_index_orphan_band_rows_harmless(spark, tmp_path):
    """The append order (bands FIRST, docs second — ADVICE r6:
    dedup.py:802) means the only reachable partial-failure state is a
    band row whose doc is missing, plus duplicated band rows after a
    retry. Both must leave probe results unchanged: orphans die in the
    exact-verification join back to docs, duplicates collapse in the
    candidate distinct."""
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_probe,
    )
    from etl_football_analytics_pipeline_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    resident = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    idx = f"{tmp_path}/mh_orphan"
    minhash_index_build(resident, idx, num_hashes=64, num_bands=16, shingle_n=2)
    base = sorted(
        map(tuple, minhash_index_probe(spark, idx, delta, threshold=0.2).collect())
    )
    assert base, "need at least one pair for the test to mean anything"
    # retry-after-partial-failure state: every band row duplicated,
    # plus one orphan band row with no docs entry — staged into the
    # LIVE manifest tree, exactly where a crashed append left them
    from etl_football_analytics_pipeline_spark.manifest import (
        read_relation,
        resolved_dir,
    )

    bands_dir = resolved_dir(spark, f"{idx}/bands")
    bands = read_relation(spark, f"{idx}/bands").localCheckpoint()
    bands.write.mode("append").parquet(bands_dir)
    bands.limit(1).withColumn(
        "__id", F.lit(99_999_999).cast("long")
    ).write.mode("append").parquet(bands_dir)
    after = sorted(
        map(tuple, minhash_index_probe(spark, idx, delta, threshold=0.2).collect())
    )
    assert after == base


def test_minhash_banding_params_validated(spark):
    """num_bands > num_hashes makes rows_per_band 0 — every doc in one
    bucket, the O(n^2) explosion LSH exists to avoid — and
    non-divisible values silently drop signature components; both
    raise."""
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="must divide"):
        minhash_dedup_pairs(docs, "doc_id", "text", num_hashes=4, num_bands=8)
    with pytest.raises(ValueError, match="must divide"):
        minhash_dedup_pairs(docs, "doc_id", "text", num_hashes=64, num_bands=10)


def test_minhash_rebuild_clears_tombstones(spark, tmp_path):
    """Rebuilding a minhash index at a path that saw deletes must not
    inherit the old generation's tombstones — a freshly-indexed doc
    reusing a tombstoned id would silently never produce candidates."""
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_delete,
        minhash_index_probe,
    )
    from etl_football_analytics_pipeline_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    resident = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    idx = f"{tmp_path}/mh_rebuild"
    minhash_index_build(resident, idx, num_hashes=64, num_bands=16, shingle_n=2)
    before = sorted(
        map(tuple, minhash_index_probe(spark, idx, delta, threshold=0.2).collect())
    )
    assert before
    doomed = sorted({r[1] for r in before})[:2]
    minhash_index_delete(
        spark, idx, spark.createDataFrame([(i,) for i in doomed], "doc_id long")
    )
    # rebuild over the SAME corpus: results must equal the original
    # build, not the tombstone-filtered view
    minhash_index_build(resident, idx, num_hashes=64, num_bands=16, shingle_n=2)
    import os

    assert not os.path.isdir(f"{idx}/tombstones")
    after = sorted(
        map(tuple, minhash_index_probe(spark, idx, delta, threshold=0.2).collect())
    )
    assert after == before


def test_minhash_index_probe_integrity_assert_raises_on_docs_without_bands(
    spark, tmp_path
):
    """Directive r7→r8: the bands-first append order is the index's
    safety argument — a docs row WITHOUT band rows is the silent-miss
    corruption (the probe uses stored bands exclusively, so that doc
    could never surface as a candidate again). The probe's drift
    assert must turn that state into a loud failure, and
    integrity_check=False must opt out."""
    from etl_football_analytics_pipeline_spark.manifest import (
        read_relation,
        resolved_dir,
    )
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_probe,
    )
    from etl_football_analytics_pipeline_spark.sources.registry import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    resident = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1).limit(5)
    idx = f"{tmp_path}/mh_drift"
    minhash_index_build(resident, idx, num_hashes=64, num_bands=16, shingle_n=2)
    # healthy index probes fine
    minhash_index_probe(spark, idx, delta, threshold=0.2).collect()
    # corrupt it: append a docs row that has NO band rows (the state
    # the bands-first ordering makes unreachable — e.g. a partial
    # manual restore or a truncated bands relation)
    bad = read_relation(spark, f"{idx}/docs").limit(1).withColumn(
        "doc_id", F.lit(88_888_888).cast("long")
    )
    bad.write.mode("append").parquet(resolved_dir(spark, f"{idx}/docs"))
    import pytest as _pytest

    with _pytest.raises(IOError, match="no stored band rows"):
        minhash_index_probe(spark, idx, delta, threshold=0.2).collect()
    # the opt-out still answers (documented 100 TB escape hatch)
    minhash_index_probe(
        spark, idx, delta, threshold=0.2, integrity_check=False
    ).collect()


def test_band_buckets_quotes_backticked_id_column(spark):
    """`band_buckets` projects `id_col` through SQL text: a backtick in
    the name is escaped, not parsed, and the buckets equal those keyed
    by a plain id column."""
    from etl_football_analytics_pipeline_spark.operators.dedup import band_buckets

    sigs = spark.createDataFrame(
        [(1, list(range(8))), (2, list(range(8, 16)))], "id long, signature array<long>"
    )
    odd = sigs.withColumnRenamed("id", "doc`id")
    got = band_buckets(odd, "doc`id", num_bands=2, rows_per_band=4)
    want = band_buckets(sigs, "id", num_bands=2, rows_per_band=4)
    assert got.columns == ["__id", "band", "bucket"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() == 4
