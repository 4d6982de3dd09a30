"""Skewed-vs-uniform dedup A/B smoke (r12 verdict task 7).

Question under test: does a boilerplate-heavy domain — ONE sentence whose
3-gram shingles / winnow fingerprints are shared by HALF the corpus, the
df ~ K*n/2 stop-shingle pathology — change the dedup ladder's wall-clock,
or do the df caps + LSH banding keep it flat vs the uniform clone corpus?

Methodology: this box's machine-window drift (BASELINE.md: same-code
readings vary up to ~3x BETWEEN processes even at idle) makes two separate
smoke runs incomparable, so both corpora are built in ONE session and every
stage runs interleaved A(ctrl) -> B(skew) -> A(ctrl): if the two control
readings agree, the window was stable and the skew/ctrl ratio is real; if
they disagree, the bracket width IS the noise band and the ratio is only
meaningful inside it.

Prints one JSON line per stage:
  {"stage": ..., "ctrl_secs": [a1, a2], "skew_secs": [b],
   "ctrl_rows": n, "skew_rows": n, "skew_over_ctrl_min": r}

Usage: python scripts/dedup_ab_smoke.py [--k 20] [--sf DIR] [--heavy]
(--heavy adds the winnow/containment tiers, ~40+ min extra at k=20: their
cost is candidate-pair volume, dominated by this synthetic corpus's
vocab-limited mid-df band — see BASELINE.md r13.)
"""

from __future__ import annotations

import argparse
import json
import os
import time

import _checkout  # noqa: F401


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=20)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--heavy", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from aws_etl_fiap_spark.operators.dedup import (
        containment_pairs,
        content_hash,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        verified_fuzzy_pairs,
        winnow_overlap_pairs,
    )
    from aws_etl_fiap_spark.session import get_spark
    from aws_etl_fiap_spark.sources.readers import load_table

    spark = get_spark(
        app_name="aws_etl_fiap_spark-dedup-ab",
        driver_mem=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = load_table(spark, args.sf, "documents").select("doc_id", "text")
    boiler = " please subscribe to our newsletter for daily updates"
    copies = spark.range(args.k).withColumnRenamed("id", "copy")

    def corpus(skew: bool):
        text = (
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.col("text"), F.lit(boiler)),
            ).otherwise(F.col("text"))
            if skew
            else F.col("text")
        )
        return (
            base.crossJoin(copies)
            .select(
                (F.col("doc_id") + F.col("copy") * 1_000_000).alias("doc_id"),
                text.alias("text"),
            )
            .repartition(32)
            .localCheckpoint(eager=True)
        )

    ctrl, skew = corpus(skew=False), corpus(skew=True)
    print(
        json.dumps(
            {"stage": "corpus", "ctrl_rows": ctrl.count(),
             "skew_rows": skew.count(), "k": args.k,
             "loadavg_1m": round(os.getloadavg()[0], 2)}
        ),
        flush=True,
    )

    def ab(name, fn):
        readings = {"ctrl": [], "skew": []}
        rows = {}
        for variant, df in (("ctrl", ctrl), ("skew", skew), ("ctrl", ctrl)):
            t0 = time.perf_counter()
            rows[variant] = fn(df)
            readings[variant].append(round(time.perf_counter() - t0, 2))
        ratio = round(min(readings["skew"]) / min(readings["ctrl"]), 3)
        print(
            json.dumps(
                {"stage": name, "ctrl_secs": readings["ctrl"],
                 "skew_secs": readings["skew"], "ctrl_rows": int(rows["ctrl"]),
                 "skew_rows": int(rows["skew"]), "skew_over_ctrl_min": ratio,
                 "loadavg_1m": round(os.getloadavg()[0], 2)}
            ),
            flush=True,
        )

    ab(
        "exact_dedup",
        lambda df: exact_dedup(
            df.withColumn("h", content_hash("text")), ["h"], "doc_id"
        ).count(),
    )
    ab(
        "minhash_lsh_xxhash64",
        lambda df: minhash_lsh_pairs(df, "doc_id", "text").count(),
    )
    ab(
        "ngram_jaccard",
        lambda df: ngram_jaccard_pairs(df, "doc_id", "text", 0.5).count(),
    )
    ab(
        "verified_fuzzy",
        lambda df: verified_fuzzy_pairs(df, "doc_id", "text", 0.5).count(),
    )
    if args.heavy:
        ab(
            "winnow_overlap",
            lambda df: winnow_overlap_pairs(df, "doc_id", "text", 0.5).count(),
        )
        ab(
            "containment",
            lambda df: containment_pairs(df, "doc_id", "text", 0.8).count(),
        )


if __name__ == "__main__":
    main()
