"""Stage 3 — surface-form spotting (D1).

Native replacement for Spotlight's lexicon spotter (the mention-detection
half of the black box the reference calls over HTTP,
``R/dbpedia.R:471-485``; algorithm per Mendes et al. 2011 §4.1): the
vectorized ``FlatMatcher`` over the lexicon's surface forms (numpy
per-length substring probes), applied to each whole Arrow batch in a
pandas UDF. The matcher is read only from the surface-form parquet
artifact, built on the executors; nothing is collected to the driver or
shipped in a broadcast. Emits *all* word-bounded occurrences (nested and
overlapping included) — overlap resolution is downstream and relational.

Offsets: the reference emits 1-based character starts (Spotlight's 0-based
``@offset`` plus the segment offset, default 1 — ``R/dbpedia.R:365,557``).
We produce ``start = seg_off + off0`` where ``off0`` is 0-based within the
segment and ``seg_off`` is the segment's 1-based position, which yields
1-based original-document offsets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from kgspark.automaton import load_automaton_from_artifact
from kgspark.schemas import MENTIONS_ARRAY


def make_spot_udf(artifact: str):
    """Build the spotting pandas UDF over a surface-form parquet artifact
    (``kgspark.automaton.write_lexicon_artifact``): the python workers
    load the matcher compiled once per host and cache it per process (see
    ``kgspark.automaton.load_automaton_from_artifact``), and the whole
    Arrow batch is matched in one numpy pass."""

    @pandas_udf(MENTIONS_ARRAY)
    def _spot(texts: pd.Series) -> pd.Series:
        matcher = load_automaton_from_artifact(artifact)
        per_doc = matcher.find_word_bounded_batch(texts.tolist())
        return pd.Series(
            [[{"off0": s, "sf": p} for s, p in hits] for hits in per_doc]
        )

    return _spot


def spot_segments(
    segments: DataFrame,
    artifact: str,
    doc_col: str = "url",
    seg_text_col: str = "seg_text",
    seg_off_col: str = "seg_off",
    keep_extra: tuple[str, ...] = ("keep_from", "keep_to"),
) -> DataFrame:
    """(doc, segment) rows -> (doc, start, text) mention rows.

    One narrow pipeline: UDF -> explode; no shuffle. ``start`` is 1-based in
    the original document (offset rebase, P2 — ``R/dbpedia.R:557``).
    """
    spot = make_spot_udf(artifact)
    exploded = segments.withColumn("_m", F.explode(spot(F.col(seg_text_col))))
    cols = [
        F.col(doc_col).alias("doc_id"),
        (F.col("_m.off0") + F.col(seg_off_col)).cast("long").alias("start"),
        F.col("_m.sf").alias("text"),
    ] + [F.col(c) for c in keep_extra if c in segments.columns]
    return exploded.select(*cols)


def spot_documents(
    docs: DataFrame, artifact: str, doc_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Spot whole (un-segmented) documents; start is 1-based."""
    return spot_segments(
        docs.withColumn("_seg_off", F.lit(1)),
        artifact,
        doc_col=doc_col,
        seg_text_col=text_col,
        seg_off_col="_seg_off",
        keep_extra=(),
    )
