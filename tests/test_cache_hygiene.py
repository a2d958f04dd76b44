"""Storage hygiene: no registry query may leave a cached frame behind.

The engine's materialization points use `localCheckpoint()` — whose
blocks the ContextCleaner releases when the frame is garbage-collected
— never bare `.cache()`, whose CacheManager entry outlives the call and
accumulates executor storage across a long-lived session (the leak
class a prior review flagged at eight sites). This test pins the
contract mechanically: after running each formerly-leaking query, the
session's CacheManager is empty.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_football_analytics_pipeline_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"

# every query whose pipeline used to .cache() an intermediate
FORMERLY_LEAKING = [
    "dedup_minhash_suite",   # plans/llm_ops signature frame
    "dedup_ngram_jaccard",   # operators/dedup grams
    "dedup_simhash",         # operators/dedup chunk buckets
    "mm_decode_suite",       # plans/llm_ops synthetic images
    "mm_image_near_dup",     # plans/llm_ops feature frame
    "doc_chunk_suite",       # operators/corpus packing buckets
    "t6_surrogate_suite",    # operators/surrogate ranged frame
]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_registry_queries_leave_no_cached_frames(spark):
    # other test modules' fixtures may cache legitimately in the shared
    # session — the contract under test is "these queries ADD nothing",
    # so start from a cleared CacheManager rather than asserting one
    spark.catalog.clearCache()
    assert _cache_empty(spark)
    for name in FORMERLY_LEAKING:
        QUERIES[name](spark, SF).collect()
        assert _cache_empty(spark), f"{name} left a CacheManager entry"
