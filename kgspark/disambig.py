"""Stage 4 — candidate generation + disambiguation (D2-D6).

Native implementation of Spotlight's scoring model as exercised through the
reference's parameters (``R/dbpedia.R:366-372,471-485``; algorithm public in
Mendes et al. 2011 §4.3 "disambiguation": a mixture of the candidate prior
``P(uri | surface_form)`` and context similarity between the mention's
surrounding tokens and the entity's context profile).

Deterministic, fully relational formulation (no UDFs — everything stays in
whole-stage codegen):

- candidates:   mentions ⋈ broadcast lexicon on surface form (D2);
- support:      ``support >= min_support`` (D3, default 20);
- context:      ``overlap = |tokens(doc) ∩ ctx_tokens(uri)|`` via
                ``size(array_intersect(...))``;
- score:        ``(1 + overlap) * prior``;
- confidence:   per-mention normalized score ``score / sum(score)`` — the
                emitted link must clear ``confidence`` (D5, default 0.35);
- top-1:        ``min_by`` over the struct ``(-score, uri)`` per
                ``(doc_id, start, text)`` — max score, deterministic min-uri
                tiebreak (SURVEY §4), as a hash aggregation;
- types:        attached after top-1 from the winning lexicon row, a
                broadcast join on the lexicon key (surface form, uri) with
                no aggregation in front (``attach_types``); the optional
                restriction (D6, server-side `types` param in the
                reference) is a semi-join of the winners against the keys
                whose DBpedia types overlap the wanted ones.

Scale notes: the lexicon join is an explicit ``broadcast()``; the doc-token
join is an equi-join on ``doc_id`` (AQE/skew-join handles head documents);
the top-1 aggregation groups by ``(doc_id, start, text)``, a superset of
the join key, so no extra shuffle beyond the doc join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hashed_tokens(text_col, pattern: str = r"\s+"):
    """Distinct 64-bit xxhash64 token hashes of a text column.

    Context scoring only needs set INTERSECTION SIZE, never token strings —
    so both sides (doc carry and lexicon ctx profile) carry 8-byte hashes
    instead of strings. This bounds the per-row memory of the doc_tokens
    carry at 100x doc sizes (round-2 verdict wrong-item 3): a long doc's
    token array is 8 bytes/token in every in-flight copy regardless of
    word length. 64-bit (not 32): a single in-oracle-window collision
    would perturb a score; at 64 bits the birthday bound over a full
    crawl vocabulary is negligible.
    """
    return F.array_distinct(
        F.transform(F.split(text_col, pattern), lambda t: F.xxhash64(t))
    )


def doc_tokens(docs: DataFrame, doc_col: str = "url", text_col: str = "text") -> DataFrame:
    """Slim (doc_id, doc_tokens) projection for context scoring.

    Distinct hashed tokens per doc (``hashed_tokens``); splitting on
    whitespace keeps parity with the DuckDB oracle, which intersects the
    string token sets — identical counts, collision-free at 64 bits.
    """
    return docs.select(
        F.col(doc_col).alias("doc_id"),
        hashed_tokens(F.col(text_col)).alias("doc_tokens"),
    )


def generate_candidates(
    mentions: DataFrame,
    lexicon: DataFrame,
    min_support: int = 20,
) -> DataFrame:
    """D2 + D3: equi-join mentions × broadcast lexicon, prominence filter.

    The type arrays stay behind: they are attached from the broadcast
    lexicon AFTER top-1 selection (``attach_types``), so candidate rows
    stay narrow through the scoring shuffle — at 10^12 docs the
    per-candidate type arrays would otherwise dominate the shuffle volume.
    """
    lex = F.broadcast(lexicon.select(
        F.col("surface_form"),
        F.col("uri"),
        F.col("prior"),
        F.col("support"),
        hashed_tokens(F.col("ctx_tokens"), " ").alias("ctx_arr"),
    ))
    return (
        mentions.join(lex, mentions["text"] == lex["surface_form"], "inner")
        .filter(F.col("support") >= F.lit(min_support))
        .drop("surface_form")
    )


def _on_lexicon_key(df: DataFrame, dim: DataFrame, how: str) -> DataFrame:
    """Broadcast join of linked rows with a lexicon projection on the
    lexicon key: (text, dbpedia_uri) = (surface_form, uri)."""
    dim = dim.withColumnRenamed("surface_form", "_t_sf").withColumnRenamed("uri", "_t_uri")
    on = (F.col("text") == F.col("_t_sf")) & (F.col("dbpedia_uri") == F.col("_t_uri"))
    return df.join(F.broadcast(dim), on, how).drop("_t_sf", "_t_uri")


def attach_types(df: DataFrame, lexicon: DataFrame) -> DataFrame:
    """Attach the nested types map + per-KB pivots to already-linked rows.

    A broadcast left join on the lexicon's own key, (surface form, uri) =
    (``text``, ``dbpedia_uri``): the row a mention won by is the row whose
    types it gets, and the dim is the lexicon projected, with no
    aggregation or exchange in front of the broadcast. The key is the one
    the candidate join already assumes unique (a duplicate would
    double-count ``score_sum``). Split out so the overlap kernel runs on
    NARROW rows and the type payload joins on once, after resolution.
    """
    dt, wt = F.col("dbpedia_types"), F.col("wikidata_types")
    dim = lexicon.select("surface_form", "uri", "dbpedia_types", "wikidata_types")
    return (
        _on_lexicon_key(df, dim, "left")
        .withColumn(
            "types",
            F.create_map(F.lit("DBpedia"), dt, F.lit("Wikidata"), wt),
        )
        .withColumn("DBpedia_type", _pivot_types(dt))
        .withColumn("Wikidata_type", _pivot_types(wt))
        .drop("dbpedia_types", "wikidata_types")
    )


def disambiguate(
    candidates: DataFrame,
    doc_tokens_df: DataFrame | None = None,
    confidence: float = 0.35,
    types: list[str] | None = None,
    *,
    lexicon: DataFrame,
    partition_by_doc: bool = False,
    attach_type_cols: bool = True,
) -> DataFrame:
    """D4 + D5 + D6: context scoring, confidence filter, top-1 per mention.

    If ``candidates`` already carries a ``doc_tokens`` column (narrow carry
    from the spot stage — preferred: mentions derive from documents through
    narrow ops, so attaching the tokens there avoids re-shuffling the
    documents side), the doc join is skipped entirely.

    ``partition_by_doc=True`` replaces the implicit (doc_id, start, text)
    aggregation exchange with an explicit hash repartition on doc_id alone
    — HashPartitioning(doc_id) satisfies the clustered distribution of the
    top-1 groupBy AND of every (doc_id[, ovl_id])-partitioned window in
    the downstream overlap family, so link+overlaps run on ONE exchange
    total instead of two. The repartition ships scored candidate rows
    (~1.5x mentions, narrow — doc_tokens already dropped) instead of the
    partial-agg rows, but removes a whole stage barrier and the second
    shuffle of the linked table. Use it when overlaps follow (the
    pipeline); leave False for the standalone query, where the
    combine-friendly partial agg is the cheaper plan.

    Returns the annotation-table IR (R/dbpedia.R:447-453) with nested
    ``types`` map plus the per-KB pivots DBpedia_type / Wikidata_type
    (P4/P5, R/dbpedia.R:560-600), the types attached from the winning
    (surface form, uri) lexicon row; ``attach_type_cols=False`` returns
    the narrow (doc_id, start, text, dbpedia_uri) rows instead.
    """
    if "doc_tokens" in candidates.columns:
        joined = candidates
    else:
        joined = candidates.join(doc_tokens_df, "doc_id")
    scored = (
        joined
        .withColumn(
            "ctx_overlap",
            F.size(F.array_intersect(F.col("doc_tokens"), F.col("ctx_arr"))),
        )
        .withColumn(
            "score", (F.lit(1.0) + F.col("ctx_overlap")) * F.col("prior")
        )
        .drop("doc_tokens")
    )
    if partition_by_doc:
        scored = scored.repartition(F.col("doc_id"))
    # top-1 per mention as a hash aggregation, NOT a sort window: min_by over
    # the struct (-score, uri) picks max score with min-uri tiebreak, gets
    # map-side partial aggregation, and never materializes a per-mention
    # sort — the difference between one combine-friendly shuffle and a full
    # range sort at 10^12-doc scale.
    payload = F.struct("uri", "score")
    order_key = F.struct((-F.col("score")).alias("s"), F.col("uri").alias("u"))
    grouped = scored.groupBy("doc_id", "start", "text").agg(
        F.min_by(payload, order_key).alias("best"),
        F.sum("score").alias("score_sum"),
    )
    winners = grouped.filter(
        (F.col("best.score") / F.col("score_sum")) >= F.lit(confidence)
    ).select("doc_id", "start", "text", F.col("best.uri").alias("dbpedia_uri"))
    if types:
        # D6: keep only entities carrying one of the wanted DBpedia types
        # (R/dbpedia.R:479-482), as a semi-join on the lexicon key — the
        # winners stay narrow, the type arrays never ride along.
        wanted = lexicon.filter(
            F.arrays_overlap(
                F.coalesce(F.col("dbpedia_types"), F.array().cast("array<string>")),
                F.array(*[F.lit(t) for t in types]),
            )
        ).select("surface_form", "uri")
        winners = _on_lexicon_key(winners, wanted, "left_semi")
    # narrow rows for the overlap chain: the caller attaches the type
    # payload after resolution (attach_types); otherwise attach it here,
    # after the winner is chosen — the scoring shuffle only carried
    # (uri, score).
    return attach_types(winners, lexicon) if attach_type_cols else winners


def _pivot_types(col):
    """P5 per-KB pipe pivot: ["Place","Location"] -> "|Place|Location|";
    absent/empty -> NULL (R/dbpedia.R:586-597)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull() & (F.size(c) > 0),
        F.concat(F.lit("|"), F.array_join(c, "|"), F.lit("|")),
    )


def link_mentions(
    spots: DataFrame,
    lexicon: DataFrame,
    docs: DataFrame,
    doc_col: str = "url",
    text_col: str = "text",
    min_support: int = 20,
    confidence: float = 0.35,
    types: list[str] | None = None,
    partition_by_doc: bool = False,
    attach_type_cols: bool = True,
) -> DataFrame:
    """spot output -> linked annotation table (the composed D2-D6 path)."""
    cands = generate_candidates(spots, lexicon, min_support=min_support)
    toks = (
        None
        if "doc_tokens" in spots.columns
        else doc_tokens(docs, doc_col=doc_col, text_col=text_col)
    )
    return disambiguate(
        cands, toks, confidence=confidence, types=types, lexicon=lexicon,
        partition_by_doc=partition_by_doc, attach_type_cols=attach_type_cols,
    )
