"""Hashed bag-of-words linear quality classifier, trained entirely in Spark.

The fastText/DCLM-style corpus-quality classifier slot: features are word
counts hashed into a fixed bucket space (the hashing trick), the model is
logistic regression fit by full-batch gradient descent where every gradient
is a Spark aggregation — the corpus is never collected, only the
model-sized gradient vector (n_buckets rows) comes back to the driver per
iteration, the same shape MLlib's own optimizers use.

Design notes for 100 TB:
  * features: one explode + one groupBy(doc, bucket) — computed ONCE and
    persisted across iterations; the bucket id is the engine's md5 rule
    (filters._hash_bucket family), so the whole feature space is
    reproducible in ANSI SQL and across engines
  * per iteration: weights (a few thousand rows) broadcast-join onto the
    feature table; margins = one groupBy(doc); gradient = one
    groupBy(bucket) with map-side partial aggs; driver sees ONLY the
    gradient — O(n_buckets), independent of corpus size
  * inference: `score_quantized` uses integer milli-weights so the margin
    is an exact BIGINT sum — order-independent, bit-identical in any
    engine (float dot products are not), hence oracle-checkable
  * training floats ARE order-sensitive in the last bits (shuffle order);
    training correctness is pinned by a numpy twin within tolerance +
    a separability acceptance test, not by the SQL gate

Reference scope note: the reference engine has no trainable classifier —
this is part of the training-data-pipeline surface (quality scoring) this
engine adds; the fixed-rule quality gate lives in textops.quality_filter.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdoc.session import local_frame
from sparkdoc.textops import words


def word_bucket(col, n_buckets: int, salt: str = ""):
    """Hash bucket in [0, n_buckets) from the first 60 bits of
    md5(word || salt) — the engine's portable hash rule. DuckDB twin:
    ('0x' || substr(md5(w || salt), 1, 15))::UBIGINT % n_buckets."""
    return (
        F.conv(F.substring(F.md5(F.concat(col, F.lit(salt))), 1, 15), 16, 10).cast("bigint")
        % n_buckets
    )


def doc_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    salt: str = "",
) -> DataFrame:
    """Hashed bag-of-words: one row per (doc, bucket) with the word count.
    One explode + one map-side-combined groupBy; NULL/empty texts simply
    produce no rows (callers keep all docs via a left join back)."""
    return (
        df.select(F.col(id_col).alias("_id"), F.explode(words(F.col(text_col))).alias("_w"))
        .select("_id", word_bucket(F.col("_w"), n_buckets, salt).alias("bucket"))
        .groupBy("_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def train_logreg(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    salt: str = "",
    iters: int = 20,
    lr: float = 2.0,
    l2: float = 1e-6,
) -> tuple[np.ndarray, float]:
    """Fit logistic regression (labels in {0,1}) by full-batch gradient
    descent. Each iteration runs two distributed aggregations (margins per
    doc, gradient per bucket) and collects ONLY the n_buckets gradient rows;
    weights ship back as a broadcast-joined small frame. Returns (w, bias).

    Deterministic up to float summation order across partitions (last-bit);
    see module docstring for how correctness is pinned.
    """
    spark = df.sparkSession
    feats = doc_features(df, text_col, id_col, n_buckets, salt).persist()
    labels = df.select(F.col(id_col).alias("_id"), F.col(label_col).cast("double").alias("_y"))
    n_docs = labels.count()
    if n_docs == 0:
        raise ValueError("train_logreg: empty input")
    w = np.zeros(n_buckets, dtype=np.float64)
    bias = 0.0
    for _ in range(iters):
        wdf = local_frame(
            spark, [(int(i), float(w[i])) for i in np.nonzero(w)[0]], "bucket bigint, w double"
        )
        margins = (
            feats.join(F.broadcast(wdf), "bucket", "left")
            .groupBy("_id")
            .agg(F.sum(F.col("cnt") * F.coalesce(F.col("w"), F.lit(0.0))).alias("_m"))
        )
        resid = (
            labels.join(margins, "_id", "left")
            .select(
                "_id",
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.coalesce("_m", F.lit(0.0)) + bias)))
                    - F.col("_y")
                ).alias("_r"),
            )
            .persist()
        )
        grad_rows = (
            feats.join(resid, "_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("cnt") * F.col("_r")).alias("g"))
            .collect()
        )
        r_sum = resid.agg(F.sum("_r")).collect()[0][0] or 0.0
        resid.unpersist()
        grad = np.zeros(n_buckets, dtype=np.float64)
        for row in grad_rows:
            grad[row["bucket"]] = row["g"]
        w -= lr * (grad / n_docs + l2 * w)
        bias -= lr * (r_sum / n_docs)
    feats.unpersist()
    return w, bias


def quantize_weights(w: np.ndarray, bias: float, scale: int = 1_000_000) -> tuple[list[int], int]:
    """Round weights/bias to integer units of 1/scale — the exact-arithmetic
    form `score_quantized` consumes (half-even, numpy's rounding)."""
    return [int(x) for x in np.rint(np.asarray(w) * scale)], int(round(bias * scale))


def score_quantized(
    df: DataFrame,
    weights: list[int] | None,
    bias: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "",
    weights_df: DataFrame | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Score docs with integer milli-weights: margin_e6 = bias + sum over
    words of cnt * w[bucket(word)] — an exact BIGINT sum, order-independent
    and engine-portable (unlike a float dot product). label = margin > 0.

    `weights_df` overrides the literal list with a (bucket, w) frame — the
    path for weights that already live in a table (e.g. written by a
    training job); it must cover [0, n_buckets) with integer w, and
    `n_buckets` is then REQUIRED (no mid-plan driver action to infer it).
    Every input doc comes back (wordless docs score bias alone).
    """
    spark = df.sparkSession
    if weights_df is None:
        if weights is None:
            raise ValueError(
                "score_quantized: pass either weights (literal list) or "
                "weights_df (+ n_buckets)"
            )
        weights_df = local_frame(
            spark, [(i, int(x)) for i, x in enumerate(weights)], "bucket bigint, w bigint"
        )
        n_buckets = len(weights)
    elif n_buckets is None:
        raise ValueError("score_quantized: n_buckets is required with weights_df")
    feats = doc_features(df, text_col, id_col, n_buckets, salt)
    scored = (
        feats.join(F.broadcast(weights_df), "bucket")
        .groupBy("_id")
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("_dot"))
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(scored, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            (F.coalesce("_dot", F.lit(0)) + F.lit(int(bias))).cast("bigint").alias("margin_e6"),
            (F.coalesce("_dot", F.lit(0)) + F.lit(int(bias)) > 0).cast("int").alias("label"),
        )
    )
