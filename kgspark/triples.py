"""Stage 8 — (subj, pred, obj) triple materialization.

The reference writes annotations back into XML/TEI (``R/xml.R:30-209``) or a
corpus view (``R/utils.R:129-167``); a KG-construction engine's terminal
artifact is the graph itself. From the canonicalized annotation table we
emit a deterministic triple set and write it partitioned by predicate
(few distinct values: partition pruning on read). The write is a
``REBALANCE`` on ``pred``, so AQE sizes it from the data: small predicates
coalesce into one file each, and a head predicate whose partition outgrows
the advisory size is split across several writers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PRED_MENTIONED_IN = "kg:mentionedIn"
PRED_ANCHOR_OF = "kg:anchorOf"
PRED_TYPE = "rdf:type"
PRED_SAME_AS = "owl:sameAs"
PRED_CATEGORY = "kg:category"


def mentions_to_triples(m: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Canonical mentions -> distinct (subj, pred, obj).

    Single-pass formulation: per mention row, build the array of
    (pred, obj) pairs and explode once — a union of per-predicate selects
    would rescan (and recompute) the entire upstream lineage once per
    branch. The distinct shuffles on the full (subj, pred, obj) key, so
    head subjects alone do not skew it badly; AQE covers the rest, and
    partial aggregation (map-side combine) applies automatically.
    """
    doc = F.col(doc_col).cast("string")
    pair = lambda p, o: F.struct(p.alias("pred"), o.alias("obj"))
    empty = F.array().cast("array<struct<pred:string,obj:string>>")
    pairs = F.concat(
        F.array(
            pair(F.lit(PRED_MENTIONED_IN), doc),
            pair(F.lit(PRED_ANCHOR_OF), F.col("text")),
        ),
        F.transform(
            F.coalesce(F.col("types")["DBpedia"], F.array().cast("array<string>")),
            lambda t: pair(F.lit(PRED_TYPE), F.concat(F.lit("dbo:"), t)),
        ),
        F.when(
            F.col("wikidata_uri").isNotNull(),
            F.array(pair(F.lit(PRED_SAME_AS), F.col("wikidata_uri"))),
        ).otherwise(empty),
        (
            F.when(
                F.col("category").isNotNull(),
                F.array(pair(F.lit(PRED_CATEGORY), F.col("category"))),
            ).otherwise(empty)
            if "category" in m.columns
            else empty
        ),
    )
    return (
        m.select(F.col("canonical_uri").alias("subj"), F.explode(pairs).alias("po"))
        .select("subj", F.col("po.pred").alias("pred"), F.col("po.obj").alias("obj"))
        .distinct()
    )


def write_triples(triples: DataFrame, path: str) -> None:
    """Predicate-partitioned parquet write of the graph table, one
    ``pred=<value>`` directory per predicate. The rebalance hint lets AQE
    pick the number of writers per predicate from the bytes it shuffles."""
    (
        triples.hint("rebalance", "pred")
        .write.mode("overwrite")
        .partitionBy("pred")
        .parquet(path)
    )
