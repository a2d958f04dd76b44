"""Scale smoke: run the heavy extension operators on a K×-amplified
corpus and report runtime scaling.

Usage: python scripts/scale_smoke.py [K]   (default 10)

Amplifies documents/embeddings K× executor-side (id-shifted copies
with deterministic word-level perturbation so near-dup structure is
preserved but not degenerate), then times:
  - minhash+LSH candidates → exact verify (the composed dedup path)
  - simhash near-pairs
  - IVF top-k over the amplified embedding corpus
A path whose plan is right scales ~linearly in rows here (the LSH
bucket joins are the part worth watching — candidate growth is the
quadratic risk); the printout makes regressions visible per stage.
Writes nothing outside /tmp.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from etl_football_analytics_pipeline_spark.operators.dedup import (
    connected_components,
    minhash_exact_dedup_pairs,
    simhash,
    simhash_near_pairs,
)
from etl_football_analytics_pipeline_spark.operators.corpus import (
    deterministic_split,
    ngram_containment,
    pack_sequences,
    whitespace_token_counts,
)
from etl_football_analytics_pipeline_spark.operators.similarity import (
    ivf_topk,
    pq_encode,
    pq_topk,
    pq_train_codebooks,
)
from etl_football_analytics_pipeline_spark.operators.asof import asof_join
from etl_football_analytics_pipeline_spark.operators.interval import range_join
from etl_football_analytics_pipeline_spark.session import get_spark
from etl_football_analytics_pipeline_spark.sources.registry import load_table
from etl_football_analytics_pipeline_spark.streaming.windowed import rollup_time

SF = "/root/testdata/sf0.1"


def amplify_docs(docs, k: int):
    copies = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__c")
    base = docs.select("doc_id", "text", copies)
    # perturb: rotate words by copy index so copies are near- but not
    # exact duplicates (keeps the candidate structure realistic)
    words = F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    rotated = F.concat(F.slice(words, F.col("__c") + 1, F.size(words)), F.slice(words, 1, F.col("__c")))
    return base.select(
        (F.col("doc_id") + F.col("__c") * 1_000_000).alias("doc_id"),
        F.array_join(rotated, " ").alias("text"),
    )


def amplify_emb(emb, k: int):
    copies = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__c")
    return emb.select("vec_id", "embedding", copies).select(
        (F.col("vec_id") + F.col("__c") * 1_000_000).alias("vec_id"),
        F.expr("transform(embedding, (x, i) -> x + float(__c) * 1e-4 * float(i % 7))").alias(
            "embedding"
        ),
    )


def amplify_events(ev, k: int):
    """K× the event stream by cloning it onto K disjoint user-id (and
    event-id) ranges — per-key event density stays constant, which is
    how a real stream grows (more users, not denser users)."""
    copies = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__c")
    return ev.select("event_id", "user_id", "ts", "event_type", "value", copies).select(
        (F.col("event_id") + F.col("__c").cast("long") * 1_000_000_000).alias("event_id"),
        (F.col("user_id") + F.col("__c").cast("long") * 1_000_000).alias("user_id"),
        "ts",
        "event_type",
        "value",
    )


def temporal_section(spark, scale: int) -> str:
    """As-of join, range join, and multi-resolution rollup on a
    scale×-amplified event stream. All three are one-key-shuffle plans
    (asof: union+window; range: binned equi-join; rollup: one raw agg
    + partial re-aggs), so wall should track rows ~linearly."""
    from pyspark.sql import Window

    ev = amplify_events(load_table(spark, SF, "events"), scale).cache()
    n_ev = ev.count()
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", "value")
    )
    t0 = time.time()
    n_asof = asof_join(clicks, views, on=["user_id"], value_cols=["value"]).count()
    t_asof = time.time() - t0
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("p_end"),
    )
    t0 = time.time()
    n_range = range_join(
        clicks, purchases, on=["user_id"], left_start="ts",
        right_start="p_start", right_end="p_end", bin_seconds=3600,
    ).count()
    t_range = time.time() - t0
    t0 = time.time()
    n_roll = rollup_time(ev).count()
    t_roll = time.time() - t0
    # gapfill: dense hour grid per event_type with zero/LOCF fills —
    # grid size is range-bound (amplification adds rows, not hours),
    # so the cost that scales is the bucketed agg + the grid join
    from etl_football_analytics_pipeline_spark.streaming.windowed import gapfill_time

    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
    t0 = time.time()
    n_gap = gapfill_time(
        hourly, "bucket", ["event_type"],
        zero_fill=["n_events"], locf_fill=["total_value"],
    ).count()
    t_gap = time.time() - t0
    # stream-stream join, batch form (same function body the
    # watermarked streams run): equi-key + bounded range — one
    # symmetric hash join keyed on user_id, wall should track rows
    from etl_football_analytics_pipeline_spark.streaming.join import (
        stream_stream_join,
    )

    ssl = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    ssr = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("buy_id")
    )
    t0 = time.time()
    n_ss = stream_stream_join(ssl, ssr, on=["user_id"], within="1 hour").count()
    t_ss = time.time() - t0
    # funnel: one filtered aggregate + one keyed join per step over
    # successively smaller frames — wall should track rows
    from etl_football_analytics_pipeline_spark.operators.funnel import funnel_steps

    t0 = time.time()
    n_fun = funnel_steps(ev, ["view", "click", "purchase"]).count()
    t_fun = time.time() - t0
    # trailing z-score: one key-partitioned window over the dense
    # hourly grid — grid size is range-bound, so wall should be ~flat
    from etl_football_analytics_pipeline_spark.operators.anomaly import (
        trailing_zscore,
    )

    t0 = time.time()
    n_z = trailing_zscore(
        gapfill_time(hourly, "bucket", ["event_type"], zero_fill=["n_events"]),
        "bucket", ["event_type"], "n_events",
    ).filter(F.col("zscore").isNotNull()).count()
    t_z = time.time() - t0
    ev.unpersist()
    spark.catalog.clearCache()  # drop the rollup's materialized partials
    return (
        f"events={n_ev:8d}  asof={t_asof:5.1f}s (rows={n_asof})  "
        f"range={t_range:5.1f}s (pairs={n_range})  rollup={t_roll:5.1f}s (rows={n_roll})  "
        f"gapfill={t_gap:5.1f}s (rows={n_gap})  "
        f"ssjoin={t_ss:5.1f}s (pairs={n_ss})  "
        f"funnel={t_fun:5.1f}s (entered={n_fun})  zscore={t_z:5.1f}s (scored={n_z})"
    )


def quality_section(spark, scale: int) -> str:
    """SCD2 history, CDC diff, chunking, stratified sampling, DQ
    report, and blocked fuzzy matching on scale×-amplified inputs.
    Expected shapes: scd2 is one key-window pass (keys constant,
    rows/key grow ×scale); cdc one full-outer join; chunking/DQ are
    map-only; stratified's combiner bounds its window exchange at
    k×partitions rows; fuzzy joins on digit-block keys."""
    from etl_football_analytics_pipeline_spark.operators.corpus import (
        chunk_documents,
        stratified_sample,
    )
    from etl_football_analytics_pipeline_spark.operators.expectations import (
        expect_report,
    )
    from etl_football_analytics_pipeline_spark.operators.fuzzy import fuzzy_pairs
    from etl_football_analytics_pipeline_spark.operators.scd import (
        scd2_build,
        table_diff,
    )

    ev = amplify_events(load_table(spark, SF, "events"), scale).cache()
    n_ev = ev.count()
    feed = ev.select(
        F.col("user_id").alias("k"),
        F.col("event_type").alias("attr"),
        "ts",
        F.col("event_id").alias("tb"),
    )
    t0 = time.time()
    n_scd = scd2_build(feed, ["k"], ["attr"], "ts", "tb").count()
    t_scd = time.time() - t0
    old = ev.filter(F.col("event_id") % 3 != 0).select("event_id", "value")
    new = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        (F.col("value") + F.when(F.col("event_id") % 7 == 0, 1).otherwise(0)).alias("value"),
    )
    t0 = time.time()
    n_cdc = table_diff(old, new, ["event_id"], ["value"]).count()
    t_cdc = time.time() - t0
    docs = amplify_docs(load_table(spark, SF, "documents"), scale).cache()
    nd = docs.count()
    t0 = time.time()
    n_chunk = chunk_documents(docs, "doc_id", "text", 64, 16).count()
    t_chunk = time.time() - t0
    t0 = time.time()
    n_strat = stratified_sample(
        docs.withColumn("stratum", F.col("doc_id") % 40), "doc_id", "stratum", k=100
    ).count()
    t_strat = time.time() - t0
    t0 = time.time()
    rep = expect_report(
        ev,
        {
            "value_nonneg": F.col("value") >= 0,
            "known_type": F.col("event_type").isin("click", "view", "purchase"),
            "value_cap": F.col("value") <= 100,
        },
    ).count()
    t_dq = time.time() - t0
    from etl_football_analytics_pipeline_spark.operators.fuzzy import pigeonhole_blocks

    # realistic sparse name space (multiplicative-hashed ids) + 1%
    # injected single-char typos: pigeonhole blocks stay ~singleton,
    # so candidates — and wall — grow linearly with N, and every
    # injected typo must be recovered (distance-1 recall guarantee).
    # The DENSE shared-prefix regime (consecutive ids, quadratic true-
    # pair structure) is exercised at bounded size by the registered
    # fuzzy_match_dedup query; amplifying it would measure emitting
    # O(N·10^3) true pairs, not the blocking.
    base = spark.range(30_000 * scale).select(
        F.col("id").alias("nid"),
        F.format_string("Entity#%09d", (F.col("id") * 2654435761) % 1_000_000_000).alias("nm"),
    )
    typos = base.filter(F.col("nid") % 100 == 0).select(
        (F.col("nid") + 100_000_000).alias("nid"),
        F.concat(F.substring("nm", 1, 10), F.lit("x"), F.substring("nm", 12, 5)).alias("nm"),
    )
    names = base.unionByName(typos)
    t0 = time.time()
    n_fuzzy = fuzzy_pairs(
        names, "nid", "nm", max_dist=1, blocks=pigeonhole_blocks(8, 9)
    ).count()
    t_fuzzy = time.time() - t0
    assert n_fuzzy >= typos.count(), "pigeonhole recall lost an injected typo"
    # cross-doc boilerplate stripping: every amplified doc gets the
    # same injected chrome line — it must vanish corpus-wide
    from etl_football_analytics_pipeline_spark.operators.text import (
        strip_common_lines,
    )

    chromed = docs.select(
        "doc_id",
        F.concat(F.lit("subscribe to our newsletter\n"), F.col("text")).alias("text"),
    )
    t0 = time.time()
    n_strip = (
        strip_common_lines(chromed, "doc_id", "text", max_df=2)
        .filter(F.col("text_cleaned").contains("subscribe to our"))
        .count()
    )
    t_strip = time.time() - t0
    assert n_strip == 0, "boilerplate line survived the strip"
    # SemDeDup over the amplified embedding corpus (copies are 1e-4
    # perturbations of the base vectors → heavy near-dup structure)
    from etl_football_analytics_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = amplify_emb(load_table(spark, SF, "embeddings"), scale)
    t0 = time.time()
    n_sem = semantic_dedup(emb, threshold=0.999, n_clusters=64).filter("is_kept").count()
    t_sem = time.time() - t0
    # supervised quality gate: train on a BOUNDED labeled sample (the
    # production shape — labels are scarce), score the full amplified
    # corpus map-only. Scoring wall is the scaling-relevant number.
    from etl_football_analytics_pipeline_spark.operators.classifier import (
        quality_score,
        quality_train,
    )

    # sample ~500 docs regardless of scale; the label must split the
    # SAMPLE (ids surviving % (5*scale) are strided, so labeling on
    # doc_id % 2 would leave a single class — label on the stride
    # index instead)
    stride = 5 * scale
    sample = docs.filter(F.col("doc_id") % stride == 0).withColumn(
        "label", ((F.col("doc_id") / stride) % 2 == 0).cast("long")
    )
    t0 = time.time()
    wts = quality_train(sample, "text", "label", dim=1024, iters=20)
    t_clf_train = time.time() - t0
    t0 = time.time()
    n_scored = quality_score(docs, wts, "doc_id", "text").count()
    t_clf = time.time() - t0
    # portable CMS point estimates + Misra-Gries heavy hitters over the
    # amplified event stream: both must stay ~flat-per-row (map-side
    # combined sketch build / <= k+1 rows leaving each partition)
    from etl_football_analytics_pipeline_spark.operators.sketches import (
        misra_gries_topk,
        portable_cms,
        portable_cms_point,
    )

    vals = ev.select(
        F.col("event_type").alias("g"),
        (F.col("user_id") % 100).cast("string").alias("v"),
    )
    t0 = time.time()
    n_cms = portable_cms_point(
        portable_cms(vals, "g", "v"), ["0", "7", "42"]
    ).count()
    t_cms = time.time() - t0
    t0 = time.time()
    n_mg = misra_gries_topk(
        ev.select(F.col("user_id").cast("string").alias("u")), "u", k=64
    ).count()
    t_mg = time.time() - t0
    ev.unpersist()
    docs.unpersist()
    return (
        f"events={n_ev:8d} docs={nd:7d}  scd2={t_scd:5.1f}s (rows={n_scd})  "
        f"cdc={t_cdc:5.1f}s (changes={n_cdc})  chunk={t_chunk:5.1f}s (chunks={n_chunk})  "
        f"strat={t_strat:5.1f}s (rows={n_strat})  dq={t_dq:5.1f}s (rules={rep})  "
        f"fuzzy={t_fuzzy:5.1f}s (pairs={n_fuzzy})  strip={t_strip:5.1f}s  "
        f"semdedup={t_sem:5.1f}s (kept={n_sem})  "
        f"clf_train={t_clf_train:5.1f}s clf_score={t_clf:5.1f}s (docs={n_scored})  "
        f"cms={t_cms:5.1f}s (rows={n_cms})  mg={t_mg:5.1f}s (hitters={n_mg})"
    )


def media_section(spark, scale: int) -> str:
    """Multimodal kernel path on a scale× synthetic media corpus
    (portable md5 codec, 32×24 px): generate → per-image stats →
    frame-sample fan-out, then the fused decode→resize→histogram
    feature kernel into near-dup pairing. Generate / stats / frames /
    features are map-only mapInPandas stages plus one tiny per-image
    groupBy — wall should track rows. Near-dup is measured on BOTH
    tiers: the brute all-pairs broadcast matrix (the small-n oracle
    tier, expected quadratic — printed to quantify why the bucketed
    tier exists) and hyperplane-LSH bucket-local scoring (the 100 TB
    tier, expected ~linear). Histogram features are mean-dominated, so
    the LSH leg buckets on centered projections (center=True) with
    plane count tuned to the 0.999 threshold — without centering every
    image lands in one blob bucket per table and the tier degenerates
    to tables× the brute cost (measured: 156 s vs brute's 22 s at
    30×; centered + join-scored: 1.7 s)."""
    from etl_football_analytics_pipeline_spark.operators.multimodal import (
        frame_sample,
        image_feature_pipeline,
        image_stats,
        synthetic_images,
    )
    from etl_football_analytics_pipeline_spark.operators.similarity import (
        all_pairs_cosine,
        lsh_all_pairs_cosine,
    )

    n = 500 * scale
    imgs = synthetic_images(spark, n=n, width=32, height=24).cache()
    t0 = time.time()
    n_imgs = imgs.count()
    t_gen = time.time() - t0
    t0 = time.time()
    n_stats = image_stats(imgs).count()
    t_stats = time.time() - t0
    t0 = time.time()
    n_frames = frame_sample(imgs, every_k=2).count()
    t_frames = time.time() - t0
    t0 = time.time()
    feats = image_feature_pipeline(imgs, 16, 12).cache()
    feats.count()
    t_feat = time.time() - t0
    t0 = time.time()
    n_brute = all_pairs_cosine(
        feats, "id", "embedding", threshold=0.999
    ).count()
    t_brute = time.time() - t0
    t0 = time.time()
    n_lsh = lsh_all_pairs_cosine(
        feats, "id", "embedding", threshold=0.999, dim=16,
        n_planes=16, n_tables=4, center=True,
    ).count()
    t_lsh = time.time() - t0
    feats.unpersist()
    imgs.unpersist()
    return (
        f"images={n_imgs:7d}  gen={t_gen:5.1f}s  stats={t_stats:5.1f}s "
        f"(rows={n_stats})  frames={t_frames:5.1f}s (rows={n_frames})  "
        f"feat={t_feat:5.1f}s  brute={t_brute:5.1f}s (pairs={n_brute})  "
        f"lsh={t_lsh:5.1f}s (pairs={n_lsh})"
    )


def layout_section(spark, scale: int) -> str:
    """Substring-span dedup and bucketed co-located joins on scale×
    inputs. Expected shapes: span dedup is one window-hash groupBy +
    join-back + per-doc window scan (linear in corpus tokens; the
    injected passage is shared by 1/3 of docs, so covered positions
    grow linearly too); the bucketed join amortizes its write-time
    shuffle — the timed join itself is Exchange-free and should scale
    with input size, staying under the shuffled join's time."""
    import tempfile

    from etl_football_analytics_pipeline_spark.operators.text import (
        strip_duplicated_spans,
    )
    from etl_football_analytics_pipeline_spark.sources.bucketed import (
        cobucketed_join,
        write_bucketed,
    )

    docs = amplify_docs(load_table(spark, SF, "documents"), scale).cache()
    nd = docs.count()
    passage = " ".join(f"boiler{i}" for i in range(24))
    seeded = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" " + passage)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    t0 = time.time()
    survivors = (
        strip_duplicated_spans(seeded, "doc_id", "text", min_tokens=12)
        .filter(F.col("text_cleaned").contains("boiler0"))
        .count()
    )
    t_span = time.time() - t0
    assert survivors == 1, f"keep-first should leave exactly one copy, got {survivors}"

    ev = amplify_events(load_table(spark, SF, "events"), scale)
    left = ev.select(F.col("event_id").alias("k"), "user_id", "value")
    right = ev.select(F.col("event_id").alias("k"), F.col("event_type").alias("et"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t0 = time.time()
        n_shuffled = left.join(right, "k").count()
        t_shuffled = time.time() - t0
        with tempfile.TemporaryDirectory() as td:
            t0 = time.time()
            write_bucketed(left, "sm_l", ["k"], 32, path=f"{td}/l")
            write_bucketed(right, "sm_r", ["k"], 32, path=f"{td}/r")
            t_write = time.time() - t0
            try:
                j = cobucketed_join(spark, "sm_l", "sm_r", ["k"])
                plan = j._jdf.queryExecution().executedPlan().toString()
                assert "Exchange hashpartitioning" not in plan
                t0 = time.time()
                n_buck = j.count()
                t_buck = time.time() - t0
                assert n_buck == n_shuffled
            finally:
                spark.sql("DROP TABLE IF EXISTS sm_l")
                spark.sql("DROP TABLE IF EXISTS sm_r")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    docs.unpersist()
    return (
        f"docs={nd:7d}  span_dedup={t_span:5.1f}s  "
        f"join_rows={n_shuffled:9d}  shuffled_join={t_shuffled:5.1f}s  "
        f"bucketed_join={t_buck:5.1f}s (one-time write={t_write:5.1f}s)"
    )


def indexed_section(spark, scale: int) -> str:
    """The r6-reworked persisted-index and sketch paths at scale× —
    the terms that dominate a continuously-probed 100 TB corpus.
    Build cost is the linear one-time term; probe cost is the
    per-query term that must NOT track the resident corpus:

    - minhash index probe reads the STORED band relation (r6: probes
      never re-band residents) — probe work is O(delta + candidates).
      The amplified corpus is rotated near-dup copies, so a fixed
      probe delta legitimately matches ~scale× more residents:
      compare probe wall against CANDIDATE volume, not corpus rows;
    - bm25 probe opens only the query terms' md5-bucket postings dirs
      — wall tracks matching postings (linear in term frequency),
      never the corpus scan;
    - ivf probe reads nprobe/n_lists of the partitioned lists;
    - portable CMS/HLL builds hash the pre-aggregated DOMAIN (r6),
      so build wall is scan-dominated, and the CMS point probe reads
      the bounded counter relation only;
    - decayed_sum_exact is one map-side-combined aggregate to
      (key, day) partials — wall tracks the scan.

    Probes use FIXED deltas / query sets so their wall isolates the
    per-probe term."""
    import tempfile

    from etl_football_analytics_pipeline_spark.operators.anomaly import (
        decayed_sum_exact,
    )
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_probe,
    )
    from etl_football_analytics_pipeline_spark.operators.sketches import (
        portable_cms,
        portable_cms_point,
        portable_hll_distinct,
    )
    from etl_football_analytics_pipeline_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
    )
    from etl_football_analytics_pipeline_spark.operators.text import (
        bm25_build_index,
        bm25_search_index,
    )

    docs1 = load_table(spark, SF, "documents")
    docs = amplify_docs(docs1, scale).localCheckpoint()
    nd = docs.count()
    # fixed-size probe delta regardless of scale: base docs, fresh ids
    delta = docs1.limit(1000).select(
        (F.col("doc_id") + 500_000_000).alias("doc_id"), "text"
    ).localCheckpoint()
    with tempfile.TemporaryDirectory() as td:
        t0 = time.time()
        minhash_index_build(docs, f"{td}/mh", num_hashes=64, num_bands=16, shingle_n=2)
        t_mh_build = time.time() - t0
        t0 = time.time()
        n_mh = minhash_index_probe(spark, f"{td}/mh", delta, threshold=0.2).count()
        t_mh_probe = time.time() - t0
        t0 = time.time()
        bm25_build_index(docs, "doc_id", "text", f"{td}/bm25")
        t_bm_build = time.time() - t0
        t0 = time.time()
        n_bm = bm25_search_index(
            spark, f"{td}/bm25",
            {"q1": ["hash", "join", "stream"], "q2": ["vector", "scan", "merge"]},
            k=10,
        ).count()
        t_bm_probe = time.time() - t0
        emb = amplify_emb(load_table(spark, SF, "embeddings"), scale).localCheckpoint()
        ne = emb.count()
        queries = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 10)
        t0 = time.time()
        ivf_build_index(emb, f"{td}/ivf", n_lists=64)
        t_ivf_build = time.time() - t0
        t0 = time.time()
        n_ivf = ivf_search_index(spark, f"{td}/ivf", queries, k=5, nprobe=4).count()
        t_ivf_probe = time.time() - t0
    ev = amplify_events(load_table(spark, SF, "events"), scale).localCheckpoint()
    n_ev = ev.count()
    vals = ev.select(
        F.col("event_type").alias("g"),
        (F.col("user_id") % 100).cast("string").alias("v"),
    )
    t0 = time.time()
    cms = portable_cms(vals, "g", "v")
    n_cms = portable_cms_point(cms, ["0", "7", "42"]).count()
    t_cms = time.time() - t0
    t0 = time.time()
    n_hll = portable_hll_distinct(
        ev.select("event_type", "user_id"), "event_type", "user_id"
    ).count()
    t_hll = time.time() - t0
    t0 = time.time()
    n_dec = decayed_sum_exact(
        ev, ["event_type"], "ts", "value", "2024-01-31 00:00:00"
    ).count()
    t_dec = time.time() - t0
    return (
        f"docs={nd:8d} emb={ne:7d} events={n_ev:9d}  "
        f"mh_build={t_mh_build:6.1f}s mh_probe={t_mh_probe:5.1f}s (pairs={n_mh})  "
        f"bm25_build={t_bm_build:6.1f}s bm25_probe={t_bm_probe:5.1f}s (rows={n_bm})  "
        f"ivf_build={t_ivf_build:6.1f}s ivf_probe={t_ivf_probe:5.1f}s (rows={n_ivf})  "
        f"cms_build+probe={t_cms:5.1f}s (rows={n_cms})  hll={t_hll:5.1f}s (groups={n_hll})  "
        f"decay={t_dec:5.1f}s (keys={n_dec})"
    )



def amplify_docs_bounded(docs, k: int):
    """K× the corpus with CONSTANT true-pair output: copy 0 is the
    original text verbatim (its near-dup pairs are the constant
    output), and every word of a copy-c>0 doc is suffixed with a
    per-(doc, copy) salt — shingle/word sets of any two distinct
    amplified docs outside copy 0 are DISJOINT, so they can never pair
    at any threshold. Input grows k×, emitted pairs stay the copy-0
    set: wall-clock ratios then measure the INPUT term (signature/
    fingerprint/prefix passes + candidate joins), not output volume —
    the isolation verdict r7 directive 3 asked for (the r7 smoke held
    these families at 30× because pairs grew with k and output
    dominated the wall)."""
    copies = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__c")
    base = docs.select("doc_id", "text", copies)
    words = F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
    salt = F.concat(F.lit("#"), F.conv(F.xxhash64("doc_id", "__c").cast("string"), 10, 16))
    salted = F.array_join(F.transform(words, lambda w: F.concat(w, salt)), " ")
    return base.select(
        (F.col("doc_id") + F.col("__c") * 1_000_000).alias("doc_id"),
        F.when(F.col("__c") == 0, F.col("text")).otherwise(salted).alias("text"),
    )


def pairs_section(spark, scale: int) -> str:
    """Bounded-emission 100× smoke for the pairs-PRODUCING families
    (minhash exact-verify, simhash near-pairs, ngram-jaccard prefix
    tier). Scale shapes under test:

    - minhash_exact_dedup_pairs: signature + banding are map-only
      explodes (linear in rows); the (band, bucket) candidate join is
      hash-partitioned; exact verify touches O(candidates) docs.
    - simhash_near_pairs: fingerprint is map-only; pigeonhole banding
      joins equal 16-bit pieces — salted copies have ~random
      fingerprints, so buckets stay uniform and candidate pairs are
      the chance-collision floor, verified then rejected by the
      hamming filter (max_hamming=3 keeps chance survivors ~zero).
    - ngram_jaccard_pairs_prefix (forced — the tier the auto
      dispatcher uses beyond its collect/matrix budgets): prefix
      selection is a per-doc sort/slice, the candidate join hits only
      shared prefix grams — disjoint salted vocabularies make
      non-copy-0 docs join-invisible.
    """
    from etl_football_analytics_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs_prefix,
    )

    docs = amplify_docs_bounded(load_table(spark, SF, "documents"), scale).cache()
    nd = docs.count()
    t0 = time.time()
    n_mh = minhash_exact_dedup_pairs(
        docs, "doc_id", "text", num_hashes=64, num_bands=16,
        shingle_n=2, threshold=0.2,
    ).count()
    t_mh = time.time() - t0
    t0 = time.time()
    n_sim = simhash_near_pairs(
        simhash(docs, "doc_id", "text"), "doc_id", max_hamming=3
    ).count()
    t_sim = time.time() - t0
    t0 = time.time()
    n_pre = ngram_jaccard_pairs_prefix(docs, "doc_id", "text", 2, 0.8).count()
    t_pre = time.time() - t0
    docs.unpersist()
    # loadavg bracket: this host shows multi-minute external steal
    # bursts (BASELINE.md); the bracket attributes an inflated wall to
    # contention vs a plan regression without re-running
    import os as _os

    return (
        f"docs={nd:8d}  "
        f"minhash+exact={t_mh:6.1f}s (pairs={n_mh})  "
        f"simhash={t_sim:6.1f}s (pairs={n_sim})  "
        f"ngram_prefix={t_pre:6.1f}s (pairs={n_pre})  "
        f"load={_os.getloadavg()[0]:.1f}"
    )


def commits_section(spark, scale: int) -> str:
    """Commit-machinery scaling (r9; +CoW merge r11): against a
    100k×scale-row relation of ~130B incompressible rows, time
    (a) `manifest_append` of a FIXED 10k-row delta — the add-files
    commit whose new tree hard-links the live tree's files, so its
    wall must track the DELTA, not the table — vs (b) the naive
    rewrite append (read live ∪ delta → full new tree), whose wall
    tracks the table and is exactly what (a) exists to avoid; and
    (c) the versioned `merge_commit` of a FIXED 10k-key UPDATE delta
    with the r11 copy-on-write stager (rewrite touched files, link the
    rest) vs (d) the same merge with `file_reuse=False` (the pre-r11
    full-snapshot rewrite). All four asserted row-correct."""
    import os as _os
    import shutil
    import tempfile

    from etl_football_analytics_pipeline_spark import manifest as Mf
    from etl_football_analytics_pipeline_spark.sources import versioned as Vr

    n = 100_000 * scale

    def frame(lo: int, hi: int):
        # ~130B/row of incompressible payload: without real bytes the
        # table is a few MB at any scale and the rewrite-vs-linked
        # contrast washes out (range ints compress to nothing)
        return spark.range(lo, hi).select(
            F.col("id"),
            F.concat(
                F.sha2(F.col("id").cast("string"), 256),
                F.sha2((F.col("id") + 1).cast("string"), 256),
            ).alias("payload"),
        )

    base = frame(0, n)
    delta = frame(n, n + 10_000)
    root = tempfile.mkdtemp(prefix="commits-smoke-")
    out = []
    try:
        dest = f"{root}/rel"
        t0 = time.time()
        Mf.manifest_commit(spark, dest, lambda t: base.write.parquet(t))
        out.append(f"build={time.time() - t0:6.1f}s")
        t0 = time.time()
        Mf.manifest_append(spark, dest, delta)
        out.append(f"append_linked={time.time() - t0:6.1f}s")
        assert Mf.read_relation(spark, dest).count() == n + 10_000
        naive = f"{root}/naive"
        Mf.manifest_commit(spark, naive, lambda t: base.write.parquet(t))
        t0 = time.time()
        Mf.manifest_commit(
            spark, naive,
            lambda t: Mf.read_relation(spark, naive)
            .unionByName(delta).write.parquet(t),
        )
        out.append(f"append_rewrite={time.time() - t0:6.1f}s")
        assert Mf.read_relation(spark, naive).count() == n + 10_000
        # (c)/(d): keyed UPDATE merge — 10k existing keys get new
        # payloads. CoW rewrites only the files those keys live in
        # (repartitionByRange gives the base key-clustered files, the
        # layout a real warehouse table converges to), the pre-r11
        # path rewrites the whole snapshot.
        upd = frame(0, 10_000).withColumn(
            "payload", F.concat(F.lit("upd-"), F.col("payload"))
        )
        files = max(8, 2 * scale)
        for label, reuse in (("merge_cow", True), ("merge_full", False)):
            td = f"{root}/{label}"
            Vr.commit_version(
                base.repartitionByRange(files, "id"), td
            )
            t0 = time.time()
            Vr.merge_commit(spark, td, upd, ["id"], file_reuse=reuse)
            out.append(f"{label}={time.time() - t0:6.1f}s")
            got = Vr.read_latest(spark, td)
            assert got.count() == n
            assert (
                got.filter(F.col("payload").startswith("upd-")).count()
                == 10_000
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    out.append(f"rows={n}  load={_os.getloadavg()[0]:.1f}")
    return "  ".join(out)


def contention_section(spark, n_writers: int) -> str:
    """Commit throughput UNDER CONTENTION (r10): N threaded writers
    hammer ONE relation; tests/test_concurrency.py proves safety, this
    measures cost. Four workloads per N:
      append  — N manifest_append writers (the rebaseable O(delta)
                commit), 4 commits each;
      merge   — N versioned merge_commit writers on disjoint keys
                (pinned-base CoW rebase), 4 commits each;
      mix     — (N-1) appenders + 1 compactor on one manifest relation
                (the fleet scenario), 4 commits each;
      gdpr    — (N-1) merge writers + 1 delete_commit forget worker on
                one versioned table (r11; forget racing live ingest),
                4 commits each.
    Reported per workload: commits/sec, mean/max BACKOFFS per commit
    (each backoff = one withdrawn attempt → rebase), and p95 commit
    latency. Every row is asserted correct (all rows landed exactly
    once) — a throughput number from a lossy run would be noise."""
    import shutil
    import tempfile
    import threading

    from etl_football_analytics_pipeline_spark import manifest as Mf
    from etl_football_analytics_pipeline_spark.sources import versioned as Vr

    commits_per_writer = 4
    root = tempfile.mkdtemp(prefix="contention-smoke-")
    out = []

    # count withdrawn attempts via the shared backoff hook (one policy
    # for every retrying commit path, so one hook sees them all)
    orig_backoff = Mf._conflict_backoff

    def run(workload: str, writer_fn, verify_fn) -> str:
        errors: list[Exception] = []
        lat: list[float] = []
        per_commit_backoffs: list[int] = []
        lat_lock = threading.Lock()
        # per-thread backoff counters keyed by writer index via TLS
        # (each slot is touched only by its own thread — no lock)
        _thread_backoffs = [0] * n_writers
        tls = threading.local()

        def writer(idx: int):
            try:
                for i in range(commits_per_writer):
                    n_before = _thread_backoffs[idx]
                    t0 = time.time()
                    writer_fn(idx, i)
                    with lat_lock:
                        lat.append(time.time() - t0)
                        per_commit_backoffs.append(
                            _thread_backoffs[idx] - n_before
                        )
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)

        def tls_backoff(attempt, backoff_s):
            idx = getattr(tls, "idx", None)
            if idx is not None:
                _thread_backoffs[idx] += 1
            orig_backoff(attempt, backoff_s)

        # versioned.py binds _conflict_backoff by value at import —
        # patch both modules or merge-path backoffs go uncounted
        Mf._conflict_backoff = tls_backoff
        Vr._conflict_backoff = tls_backoff
        try:
            def boot(idx: int):
                tls.idx = idx
                writer(idx)

            threads = [
                threading.Thread(target=boot, args=(i,))
                for i in range(n_writers)
            ]
            t0 = time.time()
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            wall = time.time() - t0
        finally:
            Mf._conflict_backoff = orig_backoff
            Vr._conflict_backoff = orig_backoff
        assert not errors, errors[:2]
        verify_fn()
        total = n_writers * commits_per_writer
        per = sorted(per_commit_backoffs) or [0]
        # ceil-based index: int(n*0.95)-1 under-selects at these small
        # sample sizes (picks the ~88th percentile at n=8) — round UP
        # so the quoted p95 never understates the tail
        import math

        p95 = sorted(lat)[min(len(lat) - 1, math.ceil(len(lat) * 0.95) - 1)]
        return (
            f"{workload}: {total / wall:5.2f} commits/s  "
            f"backoffs mean={sum(per) / len(per):4.1f} max={per[-1]:2d}  "
            f"p95={p95:5.2f}s"
        )

    try:
        # -- append: N manifest_append writers on one relation
        dest = f"{root}/append"
        Mf.manifest_append(spark, dest, spark.range(0, 100))
        keep = n_writers + 1

        def ap_write(idx, i):
            lo = (idx + 1) * 100_000 + i * 1_000
            Mf.manifest_append(
                spark, dest, spark.range(lo, lo + 100),
                keep=keep, retries=40, backoff_s=0.02,
            )

        def ap_verify():
            n = Mf.read_relation(spark, dest).count()
            assert n == 100 * (1 + n_writers * commits_per_writer), n

        out.append(run("append", ap_write, ap_verify))

        # -- merge: N versioned merge_commit writers, disjoint keys
        td = f"{root}/versioned"
        Vr.commit_version(
            spark.range(0, 100).selectExpr("id AS k", "'seed' AS val"), td
        )

        def mg_write(idx, i):
            lo = (idx + 1) * 100_000 + i * 1_000
            delta = spark.range(lo, lo + 100).selectExpr(
                "id AS k", "'w' AS val"
            )
            Vr.merge_commit(
                spark, td, delta, ["k"], retries=40, backoff_s=0.02
            )

        def mg_verify():
            n = Vr.read_latest(spark, td).count()
            assert n == 100 * (1 + n_writers * commits_per_writer), n

        out.append(run("merge", mg_write, mg_verify))

        # -- mix: (N-1) appenders + 1 compactor on one manifest relation
        dest2 = f"{root}/mix"
        Mf.manifest_append(spark, dest2, spark.range(0, 100), keep=keep)

        def mx_write(idx, i):
            if idx == 0:  # the compactor: full rewrite of the live tree
                def write(tree):
                    Mf.read_relation(spark, dest2).coalesce(4).write.parquet(
                        tree
                    )

                Mf.manifest_commit(
                    spark, dest2, write, keep=keep, retries=40,
                    backoff_s=0.02,
                )
            else:
                lo = (idx + 1) * 100_000 + i * 1_000
                Mf.manifest_append(
                    spark, dest2, spark.range(lo, lo + 100),
                    keep=keep, retries=40, backoff_s=0.02,
                )

        def mx_verify():
            n = Mf.read_relation(spark, dest2).count()
            want = 100 * (1 + (n_writers - 1) * commits_per_writer)
            assert n == want, (n, want)

        out.append(run("mix", mx_write, mx_verify))

        # -- gdpr (r11): (N-1) merge writers + 1 delete writer on one
        # versioned table — the fleet GDPR scenario: forget requests
        # racing live ingest, both on the CoW commit path. The deleter
        # erases one disjoint 25-key slice of the seed per commit; the
        # mergers add disjoint keys. Exactness: all merged keys present,
        # all doomed keys absent.
        td2 = f"{root}/gdpr"
        Vr.commit_version(
            spark.range(0, 100).selectExpr("id AS k", "'seed' AS val"), td2
        )

        def gd_write(idx, i):
            if idx == 0:  # the forget worker
                lo = i * 25
                doomed = spark.range(lo, lo + 25).selectExpr("id AS k")
                Vr.delete_commit(
                    spark, td2, doomed, ["k"], retries=40, backoff_s=0.02
                )
            else:
                lo = (idx + 1) * 100_000 + i * 1_000
                delta = spark.range(lo, lo + 100).selectExpr(
                    "id AS k", "'w' AS val"
                )
                Vr.merge_commit(
                    spark, td2, delta, ["k"], retries=40, backoff_s=0.02
                )

        def gd_verify():
            rows = Vr.read_latest(spark, td2)
            doomed_n = min(100, commits_per_writer * 25)
            assert rows.filter(f"k < {doomed_n}").count() == 0
            want = (100 - doomed_n) + 100 * (
                (n_writers - 1) * commits_per_writer
            )
            n = rows.count()
            assert n == want, (n, want)

        out.append(run("gdpr", gd_write, gd_verify))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return "  |  ".join(out)


def main() -> int:
    flags = {a for a in sys.argv[1:] if a.startswith("--")}
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    k = int(args[0]) if args else 10
    spark = get_spark(app_name="scale-smoke")
    if "--contention" in flags:
        for n in (2, 4, 8):
            print(f"writers={n}  {contention_section(spark, n)}", flush=True)
        spark.stop()
        return 0
    if "--commits" in flags:
        for scale in (1, k):
            print(f"scale={scale:3d}  {commits_section(spark, scale)}", flush=True)
        spark.stop()
        return 0
    if "--indexed" in flags:
        for scale in (1, k):
            print(f"scale={scale:3d}  {indexed_section(spark, scale)}", flush=True)
        spark.stop()
        return 0
    if "--pairs" in flags:
        for scale in (1, k):
            print(f"scale={scale:3d}  {pairs_section(spark, scale)}", flush=True)
        spark.stop()
        return 0
    if "--temporal" in flags:
        for scale in (1, k):
            print(f"scale={scale:3d}  {temporal_section(spark, scale)}", flush=True)
        spark.stop()
        return 0
    if "--quality" in flags:
        for scale in (1, k):
            print(f"scale={scale:3d}  {quality_section(spark, scale)}", flush=True)
        spark.stop()
        return 0
    if "--layout" in flags:
        for scale in (1, k):
            print(f"scale={scale:3d}  {layout_section(spark, scale)}", flush=True)
        spark.stop()
        return 0
    if "--media" in flags:
        for scale in (1, k):
            print(f"scale={scale:3d}  {media_section(spark, scale)}", flush=True)
        spark.stop()
        return 0
    docs1 = load_table(spark, SF, "documents")
    emb1 = load_table(spark, SF, "embeddings")
    for scale in (1, k):
        docs = amplify_docs(docs1, scale).cache()
        emb = amplify_emb(emb1, scale).cache()
        nd, ne = docs.count(), emb.count()
        t0 = time.time()
        pairs_df = minhash_exact_dedup_pairs(
            docs, "doc_id", "text", num_hashes=64, num_bands=16, shingle_n=2, threshold=0.2
        ).persist()
        n_pairs = pairs_df.count()
        t_minhash = time.time() - t0
        # distributed connected-components tier FORCED (driver_bound=0)
        # so min-label propagation + pointer jumping get wall-clock
        # evidence at scale, not just the driver union-find fast path
        t0 = time.time()
        n_comp = (
            connected_components(pairs_df, driver_bound=0)
            .select("component").distinct().count()
        )
        t_cc = time.time() - t0
        pairs_df.unpersist()
        t0 = time.time()
        n_sim = simhash_near_pairs(simhash(docs, "doc_id", "text"), "doc_id", max_hamming=8).count()
        t_simhash = time.time() - t0
        t0 = time.time()
        queries = emb.filter(F.col("vec_id") < 10)
        n_ivf = ivf_topk(emb, queries, k=5, n_lists=32, nprobe=4).count()
        t_ivf = time.time() - t0
        # PQ compression tier: encode the amplified corpus to m-byte
        # codes and ADC-search with exact re-rank — the byte-sized
        # scan whose cost should track rows, not floats
        t0 = time.time()
        books = pq_train_codebooks(emb, m=16, n_codes=256, seed=42)
        coded = pq_encode(emb, books).persist()
        n_coded = coded.count()
        n_pq = pq_topk(coded, books, queries, k=5, rerank=emb, oversample=4).count()
        coded.unpersist()
        t_pq = time.time() - t0
        # corpus assembly: trigram decontamination of the md5-split
        # test fold against its train fold, and concat-and-chunk
        # packing over the whole amplified corpus
        t0 = time.time()
        sp = deterministic_split(docs, "doc_id")
        n_dec = ngram_containment(
            sp.filter(F.col("split") == "train"),
            sp.filter(F.col("split") == "test"),
            "doc_id", "text", n=3,
        ).count()
        t_dec = time.time() - t0
        t0 = time.time()
        toks = whitespace_token_counts(docs, "doc_id", "text")
        n_seq = (
            pack_sequences(toks, "doc_id", "n_tokens", seq_len=512)
            .select("seq_id").distinct().count()
        )
        t_pack = time.time() - t0
        # BM25 retrieval: query-vocab filter before the tf shuffle +
        # salted two-stage top-k — wall should track the matching-token
        # count (linear in rows), never a per-query global sort
        from etl_football_analytics_pipeline_spark.operators.text import bm25_topk

        t0 = time.time()
        n_bm = bm25_topk(
            docs, "doc_id", "text",
            {"q1": ["hash", "join", "stream"], "q2": ["vector", "scan", "merge"]},
            k=10,
        ).count()
        t_bm25 = time.time() - t0
        print(
            f"scale={scale:3d}  docs={nd:7d} emb={ne:7d}  "
            f"minhash+exact={t_minhash:6.1f}s (pairs={n_pairs})  "
            f"components[dist]={t_cc:6.1f}s (comps={n_comp})  "
            f"simhash={t_simhash:6.1f}s (pairs={n_sim})  "
            f"ivf={t_ivf:5.1f}s (rows={n_ivf})  "
            f"pq={t_pq:5.1f}s (coded={n_coded}, rows={n_pq})  "
            f"decontam={t_dec:5.1f}s (testdocs={n_dec})  "
            f"pack={t_pack:5.1f}s (seqs={n_seq})  "
            f"bm25={t_bm25:5.1f}s (rows={n_bm})",
            flush=True,
        )
        docs.unpersist()
        emb.unpersist()
    for scale in (1, k):
        print(f"scale={scale:3d}  {temporal_section(spark, scale)}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
