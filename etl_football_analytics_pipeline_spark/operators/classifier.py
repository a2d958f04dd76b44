"""Supervised quality classification — the fastText/DCLM-style gate.

A large-scale curation pipeline's fourth quality signal (after the
heuristic scores, repetition stats, and the n-gram LM in
operators.text): a LINEAR classifier over hashed bag-of-words
features, trained on a labeled sample (the standard recipe labels a
reference corpus 1 and raw crawl 0) and then scored corpus-wide as a
keep/drop gate. The reference pipeline has no ML stage; this belongs
to the driver-mandated LLM-pipeline extensions (SURVEY.md §2.10).

Spark-first split of work, same discipline as the dedup kernels:

- **Featurization** is map-only: the JVM codegens one xxhash64 per
  token (cheapest 64-bit hash Spark has), and an Arrow-batched numpy
  kernel works on the hashes directly. The hot corpus-wide passes
  (training partials, scoring) never materialize the docs × dim
  histogram — dot products and gradient transposes are computed in
  the SPARSE token representation via bucket-gather + segmented
  bincount, O(tokens) memory per batch (a dense 10k-row × 2k-dim
  float64 batch would be ~160 MB per in-flight batch per core —
  exactly what a 100 TB scoring pass must not allocate). Dense
  L1-normalized rows exist only in `hashed_bow`, whose contract IS
  the feature vector. ZERO shuffle either way — a document's tokens
  never leave its row.
- **Training** is full-batch gradient descent driven from the driver:
  each iteration is ONE job that maps the feature frame to per-batch
  gradient PARTIALS (a `dim+1` vector and a count per Arrow batch)
  and collects only those partials — driver state is
  O(batches × dim), never O(rows). Gradients are summed in sorted
  batch order, so training is bit-deterministic for a fixed input
  layout. At 100 TB you train on a bounded labeled sample anyway
  (labels are the scarce resource); scoring is the corpus-wide pass.
- **Scoring** is map-only again: broadcast the weight vector
  (`dim+1` doubles — O(1) in the corpus), sigmoid of one dot product
  per document. Feeds quality gates the same way quality_scores
  does.

No MLlib dependency: the model is a numpy vector and every data-path
stage is the engine's own kernel pattern (mapInPandas over
Arrow batches), so the operator composes with the rest of the
pipeline and its plans stay inspectable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..utils import spread
from .dedup import normalized_text

__all__ = [
    "hashed_bow",
    "quality_train",
    "quality_score",
    "quality_gate",
]


def _token_hashes(
    df: DataFrame, id_cols: list[str], text_col: str, portable: bool = False
) -> DataFrame:
    """(…id_cols, __pid, __h array<long>): one 64-bit hash per token,
    JVM-side, plus the partition id (the training loop's deterministic
    batch sort key). NULL text is treated as empty (same policy as the
    operators.text gates — a NULL must not abort a corpus job).

    `portable=False` (default): xxhash64 — the cheapest 64-bit hash
    Spark codegens, the production tier. `portable=True`: low 32 bits
    of md5 (8 hex chars) — the same engine-reproducible family
    operators.dedup uses, what lets a DuckDB oracle recompute every
    feature bucket and value-check corpus-wide scoring."""
    safe = F.coalesce(F.col(text_col), F.lit(""))
    base = spread(df).withColumn("__words", F.split(normalized_text(safe), " "))
    if not portable:
        return base.select(
            *id_cols,
            F.spark_partition_id().alias("__pid"),
            F.expr("transform(__words, w -> xxhash64(w))").alias("__h"),
        )
    # portable tier: md5 inside an interpreted transform() lambda is
    # ~20µs/token; hashlib computes the identical digest batch-side in
    # an Arrow hop, and hashing HERE (not in the consumer kernels)
    # keeps quality_train's persisted frame holding longs, so training
    # iterations never re-hash
    words = base.select(
        *id_cols, F.spark_partition_id().alias("__pid"), F.col("__words").alias("__w")
    )
    from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

    schema = StructType(
        [words.schema[c] for c in id_cols]
        + [StructField("__pid", IntegerType()), StructField("__h", ArrayType(LongType()))]
    )

    def hash_tokens(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        md5 = hashlib.md5
        for pdf in batches:
            pdf = pdf.copy()
            # one digest per unique token, dict lookup per instance —
            # natural-language batches repeat their vocabulary orders
            # of magnitude more than they extend it
            table: dict = {}
            for ws in pdf["__w"]:
                for w in ws:
                    if w not in table:
                        table[w] = int(md5(w.encode()).hexdigest()[:8], 16)
            pdf["__h"] = pdf["__w"].map(lambda ws: [table[w] for w in ws])
            yield pdf[[*id_cols, "__pid", "__h"]]

    return words.mapInPandas(hash_tokens, schema)


def _flat_buckets(
    pdf: pd.DataFrame, dim: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lens, seg, buckets) — the SPARSE batch representation the
    training/scoring kernels work in. Dense docs × dim matrices exist
    only in hashed_bow (whose contract is the dense feature row);
    the hot corpus-wide passes stay O(tokens) per batch."""
    lens = pdf["__h"].map(len).to_numpy()
    n = len(pdf)
    if lens.sum() == 0:
        return lens, np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in pdf["__h"]])
    buckets = (flat.view(np.uint64) % np.uint64(dim)).astype(np.int64)
    seg = np.repeat(np.arange(n, dtype=np.int64), lens)
    return lens, seg, buckets


def _dot_w(
    lens: np.ndarray, seg: np.ndarray, buckets: np.ndarray, wv: np.ndarray, dim: int
) -> np.ndarray:
    """x_i · w for every row of the batch (L1-normalized histogram +
    bias) WITHOUT materializing the histogram: gather w at each
    token's bucket, segment-sum, divide by length. O(tokens) memory."""
    dots = np.full(len(lens), wv[dim], dtype=np.float64)  # bias slot
    if len(buckets):
        sums = np.bincount(seg, weights=wv[buckets], minlength=len(lens))
        dots += sums / np.maximum(lens, 1)
    return dots


def _xt_v(
    lens: np.ndarray, seg: np.ndarray, buckets: np.ndarray, v: np.ndarray, dim: int
) -> np.ndarray:
    """X^T v for the same rows (the gradient partial), O(tokens + dim):
    grad[j] = Σ over tokens landing in bucket j of v_row / len_row;
    the bias slot is Σ v. bincount sums in index order, so the result
    is deterministic for a fixed batch."""
    g = np.zeros(dim + 1, dtype=np.float64)
    if len(buckets):
        g[:dim] = np.bincount(
            buckets, weights=(v / np.maximum(lens, 1))[seg], minlength=dim
        )
    g[dim] = v.sum()
    return g


def _bow_rows(pdf: pd.DataFrame, dim: int) -> np.ndarray:
    """Rows × (dim+1) L1-normalized histogram matrix with a bias slot.
    Vectorized: ONE flattened bincount over the whole batch (segment
    offsets separate documents), no per-document python loop."""
    lens = pdf["__h"].map(len).to_numpy()
    n = len(pdf)
    out = np.zeros((n, dim + 1), dtype=np.float64)
    out[:, dim] = 1.0  # bias
    if lens.sum() == 0:
        return out
    flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in pdf["__h"]])
    buckets = (flat.view(np.uint64) % np.uint64(dim)).astype(np.int64)
    seg = np.repeat(np.arange(n, dtype=np.int64), lens)
    counts = np.bincount(seg * dim + buckets, minlength=n * dim).reshape(n, dim)
    totals = np.maximum(lens, 1)[:, None]
    out[:, :dim] = counts / totals
    return out


def hashed_bow(
    df: DataFrame, id_col: str, text_col: str, dim: int = 2048,
    portable: bool = False,
) -> DataFrame:
    """(id, features array<double>) — the hashed bag-of-words features
    the classifier trains and scores on, exposed for inspection and
    for composing with other vector operators (e.g. the similarity
    family). Map-only; the dense row is `dim+1` doubles (last = bias).
    """
    hashed = _token_hashes(df, [id_col], text_col, portable)

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = _bow_rows(pdf, dim)
            yield pd.DataFrame({id_col: pdf[id_col], "features": list(mat)})

    return hashed.mapInPandas(feats, f"{id_col} long, features array<double>")


def quality_train(
    df: DataFrame,
    text_col: str,
    label_col: str,
    dim: int = 2048,
    iters: int = 60,
    lr: float = 2.0,
    reg: float = 1e-4,
    merge_fanin: int = 32,
    portable: bool = False,
) -> np.ndarray:
    """Train the logistic-regression quality model. Returns the weight
    vector (`dim+1` float64, last = bias).

    Full-batch GD: per iteration ONE distributed job computes
    per-Arrow-batch partials ``(X_b^T (σ(X_b w) − y_b), |b|)`` in the
    sparse token representation (O(tokens) memory, see module notes),
    then merges them EXECUTOR-SIDE down to a fixed fan-in before the
    driver sees anything: partials shuffle on ``bkey % merge_fanin``
    and each of the ≤`merge_fanin` groups sums its gradients sorted by
    the (partition id, batch index) bkey. The driver collects at most
    `merge_fanin` rows per iteration and folds them sorted by group
    key — so driver state is O(merge_fanin × dim) REGARDLESS of corpus
    partition/batch count (a million-batch corpus collects 32 rows,
    not a million), and every summation order is fixed for a fixed
    input layout, keeping training bit-deterministic run-to-run.
    L2 `reg` excludes the bias. `lr` is scaled by 1/n via the merged
    counts, so the default works across corpus sizes."""
    hashed = _token_hashes(df, [label_col], text_col, portable).persist()
    w_len = dim + 1
    fanin = max(1, int(merge_fanin))
    try:
        spark = df.sparkSession
        w = np.zeros(w_len, dtype=np.float64)
        for _ in range(iters):
            bw = spark.sparkContext.broadcast(w)

            def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                wv = bw.value
                for b_idx, pdf in enumerate(batches):
                    if pdf.empty:
                        continue
                    lens, seg, buckets = _flat_buckets(pdf, dim)
                    y = pdf[label_col].to_numpy(dtype=np.float64)
                    p = 1.0 / (1.0 + np.exp(-_dot_w(lens, seg, buckets, wv, dim)))
                    g = _xt_v(lens, seg, buckets, p - y, dim)
                    # deterministic, DISTINCT sort key per batch:
                    # (partition id, batch index within the partition)
                    # — for a fixed layout both are stable, so every
                    # level of the merge sums gradients in one order
                    pid = int(pdf["__pid"].iloc[0])
                    yield pd.DataFrame(
                        {
                            "bkey": [pid * 1_000_000 + b_idx],
                            "grad": [g],
                            "n": [float(len(pdf))],
                        }
                    )

            def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values("bkey")
                g = np.zeros(w_len, dtype=np.float64)
                for arr in pdf["grad"]:
                    g += np.asarray(arr, dtype=np.float64)
                return pd.DataFrame(
                    {
                        "gkey": [int(pdf["bkey"].iloc[0]) % fanin],
                        "grad": [g],
                        "n": [float(pdf["n"].sum())],
                    }
                )

            rows = (
                hashed.mapInPandas(partials, "bkey long, grad array<double>, n double")
                .groupBy((F.col("bkey") % fanin).alias("__g"))
                .applyInPandas(merge_group, "gkey long, grad array<double>, n double")
                .collect()
            )
            rows.sort(key=lambda r: r.gkey)
            n_total = sum(r.n for r in rows) or 1.0
            grad = np.zeros(w_len, dtype=np.float64)
            for r in rows:
                grad += np.asarray(r.grad, dtype=np.float64)
            grad /= n_total
            grad[:dim] += reg * w[:dim]  # L2, bias excluded
            w = w - lr * grad
            bw.destroy()
        return w
    finally:
        hashed.unpersist()


def quality_score(
    df: DataFrame,
    weights: np.ndarray,
    id_col: str,
    text_col: str,
    dim: int | None = None,
    out: str = "quality_prob",
    portable: bool = False,
) -> DataFrame:
    """(id, quality_prob) — σ(features · w) per document. Map-only;
    the weight vector is broadcast (O(1) in the corpus)."""
    dim = (len(weights) - 1) if dim is None else dim
    spark = df.sparkSession
    bw = spark.sparkContext.broadcast(np.asarray(weights, dtype=np.float64))
    hashed = _token_hashes(df, [id_col], text_col, portable)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wv = bw.value
        for pdf in batches:
            if pdf.empty:
                continue
            lens, seg, buckets = _flat_buckets(pdf, dim)
            p = 1.0 / (1.0 + np.exp(-_dot_w(lens, seg, buckets, wv, dim)))
            yield pd.DataFrame({id_col: pdf[id_col], out: p})

    return hashed.mapInPandas(score, f"{id_col} long, {out} double")


def quality_gate(
    df: DataFrame,
    weights: np.ndarray,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    dim: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Keep documents the classifier scores ≥ threshold — the corpus
    gate form (join back on id so the full document row survives).
    `dim`/`portable` must match the TRAINING call: the gate scores
    with the same feature hasher the weights were fit on (a portable-
    trained model scored with xxhash64 buckets would pair every weight
    with the wrong feature and gate documents at random)."""
    kept = quality_score(
        df, weights, id_col, text_col, dim=dim, portable=portable
    ).filter(F.col("quality_prob") >= threshold)
    return df.join(kept.select(id_col, "quality_prob"), id_col)
