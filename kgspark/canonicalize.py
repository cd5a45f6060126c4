"""Stage 7b — entity canonicalization: redirect closure + sameAs enrichment.

The reference resolves DBpedia URIs to Wikidata via chunked live SPARQL
``owl:sameAs`` queries, 100 URIs per request with 1 s sleeps
(``R/wikidata.R:44-47,72-108``) and a keyed join back
(``R/wikidata.R:334-337``). At 10^12 documents that is not a runtime
operation: we materialize redirects/sameAs as static broadcast-sized
dimension tables, close the redirect relation to a fixpoint *offline* (once,
on the dim table — not per query), and canonicalize with two broadcast left
joins in-plan (SURVEY §2.5 J9/J10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def close_redirects(redirects: DataFrame, max_iter: int = 20) -> DataFrame:
    """Transitive closure (src -> final dst) of the redirect relation,
    by distributed path doubling: log2(longest chain) self-join rounds.

    This is an OFFLINE dim-build operator — run it once when the redirect
    dump refreshes, persist the closed table (``write_closed_redirects``)
    and feed the pipeline the pre-closed dim. It never collects to the
    driver: real DBpedia redirect dumps are ~7-10M edges, hundreds of MB
    that should not round-trip through the driver on every pipeline run
    (the round-1 design did exactly that — fixed per VERDICT.md).

    Each round is persisted before the convergence probe — without it the
    probe's limit(1).count() re-executes every prior round's join
    (quadratic recomputation, deep-plan risk).

    The returned DataFrame IS persisted (its plan is the full round
    stack — unpersisting here would make every consumer recompute the
    closure). The caller owns the release: ``write_closed_redirects``
    unpersists after the parquet write, and ``run_pipeline`` unpersists
    after its checkpointed canonicalize stage (or hands the handle back
    as ``out["redirects_closed"]`` in lazy mode).
    """
    closed = redirects.select("src_uri", "dst_uri").persist()
    for _ in range(max_iter):
        # one join execution per round: materialize the joined frame once
        # (with an _advanced marker), then probe convergence and derive the
        # next round from the CACHE — the previous shape executed the
        # self-join twice per round (once under the limit(1) probe, once
        # to materialize the next round's persist)
        nxt = closed.alias("a").join(
            closed.alias("b"), F.col("a.dst_uri") == F.col("b.src_uri"), "left"
        ).select(
            F.col("a.src_uri").alias("src_uri"),
            F.coalesce(F.col("b.dst_uri"), F.col("a.dst_uri")).alias("dst_uri"),
            F.col("b.dst_uri").isNotNull().alias("_advanced"),
        ).persist()
        nxt.count()  # the single join execution of this round
        if nxt.filter(F.col("_advanced")).limit(1).count() == 0:
            nxt.unpersist()
            break
        prev = closed
        closed = nxt.select("src_uri", "dst_uri").persist()
        closed.count()  # cache-to-cache copy, then release the marker frame
        nxt.unpersist()
        prev.unpersist()
    return closed


def write_closed_redirects(redirects: DataFrame, path: str, max_iter: int = 20) -> None:
    """Offline dim refresh: close the relation and persist it for every
    subsequent pipeline run to consume pre-closed."""
    closed = close_redirects(redirects, max_iter=max_iter)
    closed.write.mode("overwrite").parquet(path)
    closed.unpersist()


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
