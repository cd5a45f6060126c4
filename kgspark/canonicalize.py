"""Stage 7b — entity canonicalization: redirect closure + sameAs enrichment.

The reference resolves DBpedia URIs to Wikidata via chunked live SPARQL
``owl:sameAs`` queries, 100 URIs per request with 1 s sleeps
(``R/wikidata.R:44-47,72-108``) and a keyed join back
(``R/wikidata.R:334-337``). At 10^12 documents that is not a runtime
operation: we materialize redirects/sameAs as static broadcast-sized
dimension tables, close the redirect relation *offline* (once, on the dim
table — not per query) with the same connected-components fixpoint that
builds the dedup groups (``dedup.connected_components``), and canonicalize
with two broadcast left joins in-plan (SURVEY §2.5 J9/J10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kgspark.dedup import connected_components, release_checkpoint


def close_redirects(redirects: DataFrame) -> DataFrame:
    """(src_uri, final dst_uri) for every redirect source whose chain ends.

    Redirects are a function: a ``src_uri`` with several rows keeps its
    minimum ``dst_uri``. In a functional graph every weakly connected
    component holds exactly one sink (a ``dst_uri`` that is never a
    ``src_uri``) or one cycle, so the closure maps each ``src_uri`` to the
    sink of its component from ``connected_components``; a source in a
    cycle component (a self-loop, a cycle, a chain into a cycle) finds no
    sink and stays unredirected.

    This is an OFFLINE dim-build operator — run it once when the redirect
    dump refreshes, persist the closed table (``write_closed_redirects``)
    and feed the pipeline the pre-closed dim. It never collects to the
    driver: real DBpedia redirect dumps are ~7-10M edges.

    The result reads two ``localCheckpoint``s (the functional edges and
    the components); the caller frees them with
    ``dedup.release_checkpoint`` once the result has been consumed.
    """
    fn = redirects.groupBy("src_uri").agg(F.min("dst_uri").alias("dst_uri"))
    # filled by the components' first job; the sink join reads it again
    # instead of the input, and release_checkpoint frees it with them
    fn = fn.localCheckpoint(eager=False)
    comp = connected_components(fn, "src_uri", "dst_uri")
    sinks = comp.join(fn, comp["node"] == fn["src_uri"], "left_anti").select(
        "component", F.col("node").alias("dst_uri")
    )
    return (
        comp.join(sinks, "component")
        .where(F.col("node") != F.col("dst_uri"))
        .select(F.col("node").alias("src_uri"), "dst_uri")
    )


def write_closed_redirects(redirects: DataFrame, path: str) -> None:
    """Offline dim refresh: close the relation (``close_redirects``) and
    write it for every subsequent pipeline run to consume pre-closed."""
    closed = close_redirects(redirects)
    closed.write.mode("overwrite").parquet(path)
    release_checkpoint(closed)


def canonicalize(
    mentions: DataFrame,
    redirects_closed: DataFrame,
    sameas: DataFrame,
    uri_col: str = "dbpedia_uri",
) -> DataFrame:
    """Rewrite URIs through redirects, then attach Wikidata identity.

    Both dims are broadcast; the mention side never shuffles. The sameAs
    join is the reference's ``add_wikidata_uris`` (R/wikidata.R:307-340);
    ``wikidata_id`` extraction mirrors the ``Q\\d+$`` regex
    (R/wikidata.R:118-120,171-174).
    """
    rc = F.broadcast(redirects_closed.select(
        F.col("src_uri"), F.col("dst_uri").alias("_redirect_dst")
    ))
    sa = F.broadcast(sameas.select(
        F.col("dbpedia_uri").alias("_sa_uri"),
        "wikidata_uri",
        "wikidata_id",
    ))
    out = (
        mentions.join(rc, mentions[uri_col] == rc["src_uri"], "left")
        .withColumn("canonical_uri", F.coalesce(F.col("_redirect_dst"), F.col(uri_col)))
        .drop("src_uri", "_redirect_dst")
        .join(sa, F.col("canonical_uri") == F.col("_sa_uri"), "left")
        .drop("_sa_uri")
    )
    # defensive re-derivation of the bare Q-id (R/wikidata.R:120).
    # regexp_extract returns '' (not NULL) on no-match, so nullif() keeps a
    # sameAs-provided id from being clobbered by a non-Q-shaped URI.
    return out.withColumn(
        "wikidata_id",
        F.coalesce(
            F.nullif(F.regexp_extract(F.col("wikidata_uri"), r"(Q\d+)$", 1), F.lit("")),
            F.col("wikidata_id"),
        ),
    )


def wikidata_properties(
    canonical_mentions: DataFrame, labels: DataFrame
) -> DataFrame:
    """J10: property enrichment — group-collapse keyLabels with '|' then a
    keyed left join back (R/wikidata.R:239-269), as a broadcast join."""
    collapsed = labels.groupBy("wikidata_id").agg(
        F.array_join(
            F.array_sort(F.array_distinct(F.collect_list(F.col("prop_label")))),
            "|",
        ).alias("prop_labels")
    )
    return canonical_mentions.join(F.broadcast(collapsed), "wikidata_id", "left")
