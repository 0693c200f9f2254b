#!/usr/bin/env python
"""spark-submit entrypoint: train the hashed bag-of-words quality classifier
and persist the quantized model for corpus-scale inference.

    spark-submit --py-files sparkdoc.zip sparkdoc/jobs/train_classifier.py \
        --input /data/labeled.parquet --out /data/model \
        [--label-col label] [--n-buckets 4096] [--iters 20] [--lr 2.0] \
        [--salt ''] [--sample 0.1 --sample-salt train]

With --label-col the input must carry a {0,1} column; WITHOUT it the job
bootstraps weak labels from the fixed-rule quality gate
(textops.quality_filter) — the standard distillation move: train a cheap
hashed-linear model on heuristic labels, then apply it where the heuristics
are too blunt.

Outputs under --out:
  weights/       parquet (bucket BIGINT, w BIGINT) — integer milli-weights
  manifest.json  bias, n_buckets, salt, scale, knobs, train metrics

The written model is exactly what `classifier.score_quantized` (and
jobs/curate.py --classifier) consumes. Training never collects the corpus:
per iteration only the O(n_buckets) gradient reaches the driver; see
sparkdoc/classifier.py for the scale shape.

Prints ONE JSON summary line (train accuracy, positive rate, knobs).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text[, label])")
    ap.add_argument("--out", required=True)
    ap.add_argument("--label-col", default=None, help="existing {0,1} label column; omit to bootstrap from the quality heuristics")
    ap.add_argument("--n-buckets", type=int, default=4096)
    ap.add_argument("--iters", type=int, default=20)
    ap.add_argument("--lr", type=float, default=2.0)
    ap.add_argument("--l2", type=float, default=1e-6)
    ap.add_argument("--salt", default="")
    ap.add_argument("--sample", type=float, default=None, help="deterministic hash-sample fraction of the input to train on")
    ap.add_argument("--sample-salt", default="train")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sparkdoc.classifier import quantize_weights, score_quantized, train_logreg
    from sparkdoc.io import write_text_file
    from sparkdoc.session import get_spark, local_frame

    spark = get_spark(
        "sparkdoc-train-classifier",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    docs = spark.read.parquet(args.input)
    if args.sample is not None:
        from sparkdoc.filters import hash_sample

        docs = hash_sample(docs, args.sample, salt=args.sample_salt)
    if args.label_col:
        labeled = docs.select("doc_id", "text", F.col(args.label_col).cast("int").alias("label"))
        label_source = args.label_col
    else:
        from sparkdoc.textops import quality_filter

        labeled = quality_filter(docs).select(
            "doc_id", "text", F.col("quality_keep").alias("label")
        )
        label_source = "quality_filter(bootstrap)"
    labeled = labeled.persist()

    w, bias = train_logreg(
        labeled,
        "label",
        n_buckets=args.n_buckets,
        salt=args.salt,
        iters=args.iters,
        lr=args.lr,
        l2=args.l2,
    )
    wi, bi = quantize_weights(w, bias)

    scored = score_quantized(labeled, wi, bi, salt=args.salt)
    agg = (
        labeled.select("doc_id", "label")
        .join(scored.withColumnRenamed("label", "pred"), "doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("label") == F.col("pred")).cast("int")).alias("correct"),
            F.sum("label").alias("n_pos"),
        )
        .collect()[0]
    )
    labeled.unpersist()

    wdf = local_frame(spark, [(i, int(x)) for i, x in enumerate(wi)], "bucket bigint, w bigint")
    wdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(args.out, "weights"))
    manifest = {
        "bias": bi,
        "n_buckets": args.n_buckets,
        "salt": args.salt,
        "scale": 1_000_000,
        "label_source": label_source,
        "knobs": {"iters": args.iters, "lr": args.lr, "l2": args.l2, "sample": args.sample},
        "train": {
            "n_docs": agg["n"],
            "accuracy": (agg["correct"] or 0) / agg["n"] if agg["n"] else None,
            "positive_rate": (agg["n_pos"] or 0) / agg["n"] if agg["n"] else None,
        },
    }
    write_text_file(spark, os.path.join(args.out, "manifest.json"), json.dumps(manifest, indent=2, sort_keys=True))
    print(json.dumps({"job": "train_classifier", **manifest}, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
