#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

    spark-submit --py-files kgspark.zip jobs/kg_construct.py \
        --input  <documents parquet/Iceberg path> \
        --output <triples output path> \
        --lexicon <lexicon parquet> --redirects <...> --sameas <...> \
        --checkpoint <resumable stage root> [--rebalance-segments]

On a cluster the session comes from spark-submit's conf (master, executors,
memory); the builder only fills in analytics defaults (AQE, Arrow). Omitted
dim paths fall back to the seeded synthetic dims (smoke runs).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def read_documents(spark, path: str, input_format: str, streaming: bool = False):
    """The job's input documents. WARC archives — a directory scanned
    once, or with ``streaming`` a crawl drop directory read as an unbounded
    source — become (url, warc_ts, text) in one Python operator
    (``warc_documents``); a parquet table is read as it is."""
    if input_format == "warc":
        from kgspark.warc import BINARY_FILE_SCHEMA, warc_documents

        reader = spark.readStream if streaming else spark.read
        return warc_documents(
            reader.format("binaryFile").schema(BINARY_FILE_SCHEMA).load(path)
        )
    return spark.read.parquet(path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lexicon")
    ap.add_argument("--redirects")
    ap.add_argument("--sameas")
    ap.add_argument("--checkpoint")
    ap.add_argument("--doc-col", default="url")
    ap.add_argument("--max-len", type=int, default=7990)
    ap.add_argument("--overlap", type=int, default=500)
    ap.add_argument("--confidence", type=float, default=0.35)
    ap.add_argument("--min-support", type=int, default=20)
    ap.add_argument("--rebalance-segments", action="store_true")
    ap.add_argument("--input-format", choices=["parquet", "warc"],
                    default="parquet",
                    help="'warc' ingests WARC/1.0 archives natively "
                         "(response records -> url/warc_ts/text)")
    ap.add_argument("--no-html", action="store_true",
                    help="input already has extracted text")
    ap.add_argument("--redirects-preclosed", action="store_true",
                    help="the --redirects table is already transitively "
                         "closed (output of write_closed_redirects)")
    ap.add_argument("--lexicon-artifact",
                    help="executor-reachable dir for the surface-form "
                         "artifact (defaults under --checkpoint)")
    ap.add_argument("--streaming", action="store_true",
                    help="treat --input as a live crawl drop directory "
                         "(requires --input-format warc): checkpointed "
                         "incremental ingest — each invocation processes "
                         "only archives that landed since the last one "
                         "and APPENDS their triples to --output")
    args = ap.parse_args(argv)
    if args.streaming and args.input_format != "warc":
        ap.error("--streaming requires --input-format warc")

    from pyspark.sql import SparkSession

    from kgspark import synth
    from kgspark.lineage import count_on_write
    from kgspark.pipeline import PipelineConfig, run_pipeline
    from kgspark.triples import write_triples

    spark = SparkSession.builder.appName("kgspark-kg-construct").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    docs = read_documents(spark, args.input, args.input_format, args.streaming)
    # Schema-driven defaults so the bare invocation works on any documents
    # table: inputs without an `html` column are already extracted text, and
    # the id column falls back to `doc_id` when the default `url` is absent.
    # Explicit --no-html / --doc-col always win. WARC documents arrive as
    # extracted text (warc_documents), so their extract stage only
    # checkpoints them.
    use_html = not args.no_html and args.input_format != "warc"
    if use_html and "html" not in docs.columns:
        print(f"kg_construct: input has no 'html' column "
              f"({docs.columns}); assuming extracted text", file=sys.stderr)
        use_html = False
    doc_col = args.doc_col
    if doc_col not in docs.columns and "doc_id" in docs.columns:
        print(f"kg_construct: no '{doc_col}' column; using 'doc_id'",
              file=sys.stderr)
        doc_col = "doc_id"
    lexicon = (
        spark.read.parquet(args.lexicon) if args.lexicon else synth.lexicon_df(spark)
    )
    redirects = (
        spark.read.parquet(args.redirects) if args.redirects else synth.redirects_df(spark)
    )
    sameas = spark.read.parquet(args.sameas) if args.sameas else synth.sameas_df(spark)

    cfg = PipelineConfig(
        max_len=args.max_len,
        overlap=args.overlap,
        confidence=args.confidence,
        min_support=args.min_support,
        checkpoint_root=args.checkpoint,
        use_html=use_html,
        rebalance_segments=args.rebalance_segments,
        redirects_preclosed=args.redirects_preclosed,
        lexicon_artifact=args.lexicon_artifact,
    )
    t0 = time.time()

    if args.streaming:
        # incremental KG construction from a live crawl: the WARC drop
        # directory is the unbounded source; each micro-batch (a regular
        # DataFrame inside foreachBatch) runs the SAME batch pipeline and
        # appends its triples. The stream checkpoint carries the file
        # offsets, so re-invoking the job after new archives land
        # processes ONLY those — resumability at the ingest level, on top
        # of the per-stage lineage inside a batch.
        import dataclasses

        from kgspark.dedup import release_checkpoint
        from kgspark.pipeline import release_pipeline_caches

        batches: list[dict] = []

        def process_batch(batch_df, batch_id: int) -> None:
            if not batch_df.take(1):
                return
            bcfg = cfg
            if cfg.checkpoint_root:  # stage lineage per batch, no clashes
                bcfg = dataclasses.replace(
                    cfg, checkpoint_root=f"{cfg.checkpoint_root}/batch-{batch_id}"
                )
            out = run_pipeline(
                spark, batch_df, lexicon, redirects, sameas, bcfg, doc_col="url"
            )
            out["triples"].write.mode("append").parquet(args.output)
            release_pipeline_caches(out)
            if not cfg.redirects_preclosed:  # this batch's redirect closure
                release_checkpoint(out["redirects_closed"])
            batches.append({"batch_id": batch_id, "stages": out["metrics"]})

        ckpt_root = args.checkpoint or args.output
        q = (
            docs.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", f"{ckpt_root}/_stream_offsets")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            total = spark.read.parquet(args.output).count()
        except Exception:  # no batch produced output yet
            total = 0
        summary = {
            "wall_sec": round(time.time() - t0, 1),
            "streaming": True,
            "batches": batches,
            "triples_total": total,
        }
        print(json.dumps(summary))
        return 0

    out = run_pipeline(spark, docs, lexicon, redirects, sameas, cfg, doc_col=doc_col)
    triples, n_triples = count_on_write(out["triples"], "triples")
    write_triples(triples, args.output)
    summary = {
        "wall_sec": round(time.time() - t0, 1),
        "triples": n_triples.get["n"],
        "stages": out["metrics"],
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
