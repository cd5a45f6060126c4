#!/usr/bin/env python
"""spark-submit entry point for the training-data curation pipeline.

    spark-submit --py-files kgspark.zip jobs/curate.py \
        --input <documents parquet> --output <dir> \
        [--quality-floor 0.5] [--mixture '{"src0": 0.8, "src1": 0.25}'] \
        [--pack-budget 2048] [--pack-shards 64]

Composes the curation operators into the production corpus pass:

    quality gate (lang -> quality -> repetition, first-failing reason)
      -> exact dedup (md5 fingerprint, min-id representative)
      -> optional substring-level dedup (--max-dup-span-frac: drop docs
         whose duplicated n-gram spans cover too much of their tokens)
      -> optional per-source cap (--per-source-cap: exact k per source,
         two-level salted top-k)
      -> optional domain-mixture thinning (deterministic integer-hash
         Bernoulli per source — zero shuffle, reproducible)
      -> optional sequence packing (token-budget pack assignment)
      -> curated parquet + _curate_manifest.json

The manifest records the document count after every stage and the
drop-reason breakdown, so nothing is silently discarded: at 100 TB the
difference between "filtered" and "lost" is the lineage trail.
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
    ap.add_argument("--source-col", default="source")
    ap.add_argument("--quality-floor", type=float, default=0.5)
    ap.add_argument("--mixture", default=None,
                    help="JSON {source: weight} for deterministic "
                         "domain-mixture thinning; omit to keep all sources")
    ap.add_argument("--pack-budget", type=int, default=2048,
                    help="token budget per pack; 0 disables packing")
    ap.add_argument("--pack-shards", type=int, default=64)
    ap.add_argument("--max-dup-span-frac", type=float, default=None,
                    help="drop docs whose duplicated n-gram spans cover "
                         "more than this fraction of their tokens")
    ap.add_argument("--dup-ngram", type=int, default=8)
    ap.add_argument("--per-source-cap", type=int, default=None,
                    help="keep at most this many (uniform, deterministic) "
                         "docs per source")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession, functions as F

    from kgspark import textops
    from kgspark.lineage import count_on_write, write_manifest
    from kgspark.sampling import mixture_sample

    spark = SparkSession.builder.appName("kgspark-curate").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    text = F.col(args.text_col)

    # --- stage 1: quality gate — one narrow projection, all signals ---
    stats = textops.repetition_stats(text)
    lang = textops.lang_id(text)
    qual = textops.quality_score(text)
    reason = (
        F.when(~lang.isin("en", "und"), F.lit("lang"))
        .when(qual < args.quality_floor, F.lit("quality"))
        .when(~stats["gopher_keep"], F.lit("repetition"))
        .otherwise(F.lit("ok"))
    )
    # the reason breakdown rides the pipeline's own first action via
    # Observation (a CollectMetrics node in the plan) — NOT a separate
    # groupBy pass: at 100 TB the regexp-heavy gate is the most expensive
    # projection in the job and must run exactly once.
    from pyspark.sql import Observation

    obs = Observation("gate_reasons")
    reason_names = ["lang", "quality", "repetition", "ok"]
    gated = docs.withColumn("_reason", reason).observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        *[
            F.sum((F.col("_reason") == r).cast("long")).alias(r)
            for r in reason_names
        ],
    )
    # persist: the dedup stage consumes `kept` TWICE (the fingerprint
    # branch and the join-back branch) — without the cache the regexp
    # gate re-executes per branch, exactly the double pass the
    # Observation exists to avoid. At 10^12 docs swap the persist for a
    # stage checkpoint (lineage.StageRunner) as run_pipeline does.
    kept = gated.filter(F.col("_reason") == "ok").drop("_reason").persist()
    cached = [kept]  # released once the write's Observations are read

    # --- stage 2: exact dedup — keep the min-id representative ---
    from kgspark.dedup import exact_duplicates

    reps = exact_duplicates(kept, id_col=args.id_col, text_col=args.text_col)
    deduped = kept.join(
        reps.filter(~F.col("is_dup")).select(args.id_col), args.id_col
    )
    # Every per-stage count below rides the job's single terminal action
    # (the output write) as an Observation, like the gate stage: one
    # CollectMetrics node per stage boundary instead of an interleaved
    # .count() action per stage. Frames that are consumed by two branches
    # are persisted BEFORE the branches split, so block-level cache locking
    # guarantees each observed partition is computed exactly once.
    deduped, obs_dedup = count_on_write(deduped, "n_after_dedup")
    if args.max_dup_span_frac is not None or args.per_source_cap:
        # the next enabled stage consumes deduped in two branches
        # (fingerprint/sample + join-back): persist above the split so
        # the observed partitions compute exactly once.
        deduped = deduped.persist()
        cached.append(deduped)

    # --- stage 2b: optional substring-level dedup — drop documents whose
    # duplicated-span coverage exceeds the threshold (boilerplate-heavy
    # pages that exact dedup cannot see) ---
    obs_span = None
    if args.max_dup_span_frac is not None:
        from kgspark.dedup import dup_ngram_spans
        from kgspark.textops import token_count

        spans = dup_ngram_spans(
            deduped, n=args.dup_ngram, min_docs=2,
            id_col=args.id_col, text_col=args.text_col,
        )
        covered = spans.groupBy(args.id_col).agg(
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias("_dup_toks")
        )
        frac = F.col("_dup_toks") / token_count(F.col(args.text_col))
        deduped = (
            deduped.join(covered, args.id_col, "left")
            .filter(
                F.col("_dup_toks").isNull() | (frac <= args.max_dup_span_frac)
            )
            .drop("_dup_toks")
        )
        deduped, obs_span = count_on_write(deduped, "n_after_span_dedup")
        if args.per_source_cap:
            deduped = deduped.persist()  # 2c double-consumes this frame too
            cached.append(deduped)

    # --- stage 2c: optional per-source cap — at most k docs per source
    # (two-level salted top-k: no whole-source-in-one-task skew) ---
    obs_cap = None
    if args.per_source_cap:
        from kgspark.sampling import stratified_sample

        picked = stratified_sample(
            deduped, k=args.per_source_cap,
            id_col=args.id_col, stratum_col=args.source_col,
        ).select(args.id_col)
        deduped = deduped.join(picked, args.id_col)
        deduped, obs_cap = count_on_write(deduped, "n_after_source_cap")

    # --- stage 3: optional mixture thinning ---
    if args.mixture:
        weights = json.loads(args.mixture)
        curated = mixture_sample(
            deduped, weights, id_col=args.id_col, source_col=args.source_col
        )
    else:
        curated = deduped
    curated, obs_cur = count_on_write(curated, "n_curated")
    # cache: packing + the write both consume it; the observe above sits
    # under the persist so its metric fills exactly once.
    curated = curated.persist()
    cached.append(curated)

    # --- stage 4: optional pack assignment, joined back onto the docs ---
    if args.pack_budget > 0:
        packs = textops.pack_sequences(
            curated, budget=args.pack_budget, n_shards=args.pack_shards,
            id_col=args.id_col, text_col=args.text_col,
        ).select(args.id_col, "pack_id", "pack_offset")
        out = curated.join(packs, args.id_col)
    else:
        out = curated
    out.write.mode("overwrite").parquet(args.output)

    gate = obs.get  # every Observation above was filled by the write action
    # "reasons" is the DROP-reason breakdown — the kept count is already
    # recorded as n_after_filter, so "ok" does not belong here.
    reasons = {r: gate[r] for r in reason_names if r != "ok" and gate[r]}
    manifest = {
        "wall_sec": round(time.time() - t0, 1),
        "n_input": gate["n_input"],
        "reasons": {k: v for k, v in sorted(reasons.items())},
        "n_after_filter": gate["ok"],
        "n_after_dedup": obs_dedup.get["n"],
        "n_curated": obs_cur.get["n"],
        "mixture": bool(args.mixture),
        "pack_budget": args.pack_budget,
    }
    if obs_span is not None:
        manifest["n_after_span_dedup"] = obs_span.get["n"]
    if obs_cap is not None:
        manifest["n_after_source_cap"] = obs_cap.get["n"]
    for df in cached:
        df.unpersist()
    write_manifest(spark, f"{args.output}/_curate_manifest.json", manifest)
    print(json.dumps(manifest))
    return 0


if __name__ == "__main__":
    sys.exit(main())
