"""Repetition / compression quality signals."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_football_analytics_pipeline_spark.operators.text import (
    compression_ratio,
    repetition_signals,
)

NATURAL = "the quick brown fox jumps over one lazy dog while seven ships sail away"
LOOPY = "buy now buy now buy now buy now buy now buy now buy now buy now"
LINEY = "header\nsame line\nsame line\nsame line\nother"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, NATURAL), (2, LOOPY), (3, LINEY), (4, "")],
        "doc_id long, text string",
    )


def test_repetition_signals_discriminate(spark, docs):
    out = {r.doc_id: r for r in repetition_signals(docs, "doc_id", "text").collect()}
    assert out[2].top_word_frac > out[1].top_word_frac
    assert out[2].dup_bigram_frac > 0.8 > out[1].dup_bigram_frac
    assert out[3].dup_line_frac == pytest.approx(2 / 5)
    assert out[4].dup_line_frac == 0.0 and out[4].top_word_frac == 0.0
    # deterministic under repartition
    out2 = {
        r.doc_id: r
        for r in repetition_signals(docs.repartition(5), "doc_id", "text").collect()
    }
    for k in out:
        assert out[k] == out2[k]


def test_compression_ratio_discriminates(spark, docs):
    out = {r.doc_id: r.compression_ratio for r in compression_ratio(docs, "doc_id", "text").collect()}
    assert out[2] < out[1]  # repetitive text compresses far better
    assert out[4] == 0.0
    assert 0 < out[1] <= 1.5
