#!/usr/bin/env python
"""spark-submit entry point for corpus-level near-duplicate removal.

    spark-submit --py-files kgspark.zip jobs/dedup.py \
        --input <documents parquet> --output <dir> \
        [--threshold 0.5] [--k 16] [--bands 4] [--max-bucket-size 1000] \
        [--groups] [--char-mode]

Writes verified near-duplicate pairs (and, with ``--groups``, connected
components = dedup groups) and prints a one-line JSON summary. The
head-bucket cap's effect is NEVER silent: the summary (and the output
directory's ``_dedup_manifest.json``) records how many LSH band buckets
were dropped for exceeding ``--max-bucket-size`` and how many documents
sat in them — the lineage trail for the recall that a boilerplate-heavy
crawl trades for a bounded candidate-pair count.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--k", type=int, default=16)
    ap.add_argument("--bands", type=int, default=4)
    ap.add_argument("--shingle-words", type=int, default=3)
    ap.add_argument("--char-mode", action="store_true")
    ap.add_argument("--max-bucket-size", type=int, default=1000)
    ap.add_argument("--groups", action="store_true",
                    help="also write connected-component group ids")
    args = ap.parse_args(argv)

    from pyspark.sql import Observation, SparkSession, functions as F

    from kgspark.dedup import (
        connected_components,
        jaccard_verified_pairs,
        lsh_bucket_stats,
        lsh_candidate_pairs,
        minhash_docs,
        release_checkpoint,
    )
    from kgspark.lineage import count_on_write, write_manifest

    spark = SparkSession.builder.appName("kgspark-dedup").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    # the bucket stats and the pair write both read the signatures
    sigs = minhash_docs(
        docs, args.id_col, args.text_col, k=args.k,
        shingle_words=args.shingle_words, char_mode=args.char_mode,
    ).persist()
    rows_per_band = args.k // args.bands

    # Cap audit first (one cheap action on the aggregated bucket frame):
    # the dropped-bucket count goes into the manifest BEFORE the pair join
    # runs, so even a killed job leaves the recall trade on record.
    stats = lsh_bucket_stats(
        sigs, bands=args.bands, rows_per_band=rows_per_band,
        max_bucket_size=args.max_bucket_size,
    )
    dropped = stats.filter(F.col("dropped")).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum("bucket_n"), F.lit(0)).alias("n_docs_in_dropped"),
    ).collect()[0]

    pairs = jaccard_verified_pairs(
        lsh_candidate_pairs(
            sigs, bands=args.bands, rows_per_band=rows_per_band,
            max_bucket_size=args.max_bucket_size,
        ),
        threshold=args.threshold,
    )
    pairs_path = args.output.rstrip("/") + "/pairs"
    pairs, n_pairs = count_on_write(pairs, "pairs")
    pairs.write.mode("overwrite").parquet(pairs_path)

    n_groups = None
    if args.groups:
        # the re-read cuts the pair lineage before the label iteration
        groups = connected_components(spark.read.parquet(pairs_path))
        # a component's id is its minimum node, so each group has exactly
        # one row with node == component
        obs_groups = Observation("groups")
        groups = groups.observe(
            obs_groups,
            F.sum((F.col("node") == F.col("component")).cast("long")).alias("n"),
        )
        groups.write.mode("overwrite").parquet(args.output.rstrip("/") + "/groups")
        n_groups = obs_groups.get["n"] or 0
        release_checkpoint(groups)
    sigs.unpersist()

    summary = {
        "wall_sec": round(time.time() - t0, 1),
        "pairs": n_pairs.get["n"],
        "groups": n_groups,
        "max_bucket_size": args.max_bucket_size,
        "dropped_buckets": int(dropped["n_buckets"]),
        "docs_in_dropped_buckets": int(dropped["n_docs_in_dropped"]),
    }
    write_manifest(spark, args.output.rstrip("/") + "/_dedup_manifest.json", summary)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
