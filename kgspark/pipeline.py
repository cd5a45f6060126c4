"""End-to-end KG-construction pipeline (SURVEY.md §7 stage order).

documents(url, warc_ts, html, text, lang)
  -> extract (html -> text, byte-identical invariant; with use_html=False
     the documents already carry text — warc.warc_documents extracts it
     inside the WARC record walk — and the stage only checkpoints them)
  -> segment (overlap windows + precomputed stitch bounds; skew breaking)
  -> spot (vectorized flat matcher, batch pandas UDF)
  -> stitch (pure filter)
  -> link (candidates x broadcast lexicon; prior + context scoring; top-1)
  -> overlaps (detect/categorize/resolve — one per-document kernel)
  -> entity types (types attach on the lexicon key; T2 expression)
  -> canonicalize (broadcast redirect/sameAs dims)
  -> triples (distinct + partitioned write)

Shuffle census of the whole plan: ONE doc-keyed exchange shared by the
top-1 link aggregation and the overlap kernel
(HashPartitioning(doc_id) satisfies the aggregation's clustered
distribution and the kernel's repartition(doc_id) —
disambig.disambiguate(partition_by_doc=True)), one distinct for the
triple set, plus the terminal write's ``REBALANCE`` on ``pred``, which AQE
sizes from the data. Everything else is narrow: the entity-types stage
broadcasts the lexicon as projected and joins it on its (surface form,
uri) key, so it writes no shuffle.
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession, functions as F

from kgspark import canonicalize as canon
from kgspark import disambig, entity_types, overlaps, segment, spot, triples
from kgspark.automaton import write_lexicon_artifact
from kgspark.dedup import release_checkpoint
from kgspark.extract import extract_text
from kgspark.lineage import StageRunner, _hadoop_fs


@dataclass
class PipelineConfig:
    max_len: int = 7990            # R/dbpedia.R:363 (escaped-length threshold)
    overlap: int = 500             # R/dbpedia.R:364
    confidence: float = 0.35       # R/dbpedia.R:366
    min_support: int = 20          # R/dbpedia.R:372
    types: list[str] | None = None # D6 restriction
    keep: list[str] = field(default_factory=lambda: ["longest", "shortest", "multiple"])
    omit: list[str] | None = None
    tiebreak: str = "first"
    mapping: list[tuple[str, str]] = field(
        default_factory=lambda: [
            ("PERSON", "DBpedia:Person"),
            ("ORGANIZATION", "DBpedia:Organisation"),
            ("LOCATION", "DBpedia:Place"),
        ]
    )
    checkpoint_root: str | None = None
    use_html: bool = True          # extract text from html (else trust text col)
    rebalance_segments: bool = False  # salted shuffle after explode: enable
                                      # when the crawl has giant documents
    lexicon_artifact: str | None = None  # where the surface-form artifact is
                                         # written (must be executor-reachable
                                         # — shared FS on a real cluster);
                                         # default: <checkpoint_root>/_lexicon_forms
                                         # or, on a local master, a dir the
                                         # SparkContext deletes on stop
    redirects_preclosed: bool = False    # True when the redirects dim is the
                                         # output of write_closed_redirects
                                         # (the production setup — closure is
                                         # an offline dim-build step)


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    lexicon: DataFrame,
    redirects: DataFrame,
    sameas: DataFrame,
    cfg: PipelineConfig | None = None,
    doc_col: str = "url",
) -> dict[str, DataFrame]:
    cfg = cfg or PipelineConfig()
    runner = StageRunner(spark, cfg.checkpoint_root)

    # No driver collect, no pickled-automaton broadcast: the distinct
    # surface forms are written as a parquet artifact (distributed write)
    # and each python worker builds + caches the automaton locally
    # (kgspark.automaton.load_automaton_from_artifact). An explicitly
    # configured artifact that is already complete (_SUCCESS) is reused —
    # the production setup writes it once per lexicon refresh, like the
    # pre-closed redirects dim.
    if cfg.lexicon_artifact:
        artifact = cfg.lexicon_artifact
    elif cfg.checkpoint_root:
        artifact = cfg.checkpoint_root.rstrip("/") + "/_lexicon_forms"
    elif spark.sparkContext.master.startswith("local"):
        # under the context's SparkFiles root, which the context deletes
        # when it stops: lazy frames can read the artifact until then
        artifact = tempfile.mkdtemp(
            prefix="kgspark-lexicon-", dir=SparkFiles.getRootDirectory()
        )
    else:
        # A driver-local tempdir is not executor-reachable on a real
        # cluster — spotting workers could never read the artifact.
        raise ValueError(
            "run_pipeline on a non-local master needs lexicon_artifact or "
            "checkpoint_root on a shared filesystem (HDFS/S3A/...)"
        )
    # Probe _SUCCESS through the Hadoop FileSystem API (not os.path), so
    # reuse works when the artifact lives on HDFS/S3A.
    fs, success = _hadoop_fs(spark, artifact.rstrip("/") + "/_SUCCESS")
    if not (cfg.lexicon_artifact and fs.exists(success)):
        write_lexicon_artifact(lexicon, artifact)

    # No cache on the extract stage: since the doc-token carry moved to
    # the segment stage (doc_tokens ride the segment rows), the extracted
    # docs have exactly ONE consumer — the segment UDF — so persisting
    # them only paid an InMemoryRelation write+read per action. The raw
    # html is dropped right after extraction: nothing downstream reads it.
    docs = runner.run(
        "extract",
        lambda: (
            extract_text(documents).drop("html") if cfg.use_html else documents
        ),
    )

    # doc_tokens ride along from here (narrow carry): the disambiguation
    # context join would otherwise re-shuffle the documents side. The carry
    # is 8-byte xxhash64 hashes, not strings (disambig.hashed_tokens), so a
    # long doc with many mentions holds fixed-width arrays in flight.
    segs = runner.run(
        "segment",
        lambda: segment.segment_documents(
            docs,
            max_len=cfg.max_len,
            overlap=cfg.overlap,
            rebalance=cfg.rebalance_segments,
        ).withColumn("doc_tokens", disambig.hashed_tokens(F.col("text"))),
    )

    spots = runner.run(
        "spot",
        lambda: segment.stitch_filter(
            spot.spot_segments(
                segs,
                artifact,
                doc_col=doc_col,
                keep_extra=("keep_from", "keep_to", "doc_tokens"),
            )
        ),
    )

    # No cache here either: the overlap family is a single-pass chain now
    # (no hit/miss split — see kgspark.overlaps), so `linked` has exactly
    # one consumer and persisting it only paid an InMemoryRelation
    # write+read per action. With a checkpoint_root the parquet
    # materialization still cuts the lineage per stage.
    linked = runner.run(
        "link",
        lambda: disambig.link_mentions(
            spots,
            lexicon,
            docs,
            doc_col=doc_col,
            min_support=cfg.min_support,
            confidence=cfg.confidence,
            types=cfg.types,
            # one doc-keyed exchange serves the top-1 agg AND the
            # overlap kernel (faster in both A/Bs, BENCH/AB_PARTITION.json)
            partition_by_doc=True,
            # narrow rows through the overlap kernel (a D6 restriction is
            # a semi-join, so they stay narrow with it too); the type
            # payload attaches once, post-resolution (attach_types)
            attach_type_cols=False,
        ),
    )

    def _resolve():
        return overlaps.overlap_pipeline(
            linked,
            keep=cfg.keep,
            omit=cfg.omit,
            tiebreak=cfg.tiebreak,
            doc_col="doc_id",
        ).drop(*[c for c in overlaps.OVL_FLAGS])

    resolved = runner.run("overlaps", _resolve)

    typed = runner.run(
        "entity_types",
        lambda: entity_types.entity_types_map(
            disambig.attach_types(resolved, lexicon), cfg.mapping
        ),
    )

    redirects_closed = (
        redirects if cfg.redirects_preclosed else canon.close_redirects(redirects)
    )
    canonical = runner.run(
        "canonicalize",
        lambda: canon.canonicalize(typed, redirects_closed, sameas),
    )
    if runner.enabled and not cfg.redirects_preclosed:
        # canonicalize was materialized to parquet (lineage cut), so the
        # closure's checkpoints are no longer read — release them instead
        # of leaking a dim per pipeline run. In lazy mode they must outlive
        # this call; the closure is exposed as out["redirects_closed"] and
        # the caller owns the release_checkpoint.
        release_checkpoint(redirects_closed)

    triple_df = runner.run("triples", lambda: triples.mentions_to_triples(canonical))

    return {
        "documents": docs,
        "redirects_closed": redirects_closed,
        "segments": segs,
        "spots": spots,
        "mentions": linked,
        "resolved": resolved,
        "canonical": canonical,
        "triples": triple_df,
        "metrics": runner.metrics,
    }


def release_pipeline_caches(out: dict) -> None:
    """Unpersist any caches a ``run_pipeline`` invocation left behind.

    Round 6 removed the pipeline's own persists (every stage is
    single-consumer now), so this is normally a no-op — it stays because
    the bench harness calls it between passes, and because Spark's
    CacheManager substitutes a cached InMemoryRelation for ANY plan that
    canonically matches one: if a caller persisted these frames
    themselves, dropping them here keeps repeated passes honest."""
    for key in ("documents", "mentions"):
        df = out.get(key)
        if df is not None:
            df.unpersist()
