"""Stage 6 — overlap detection / categorization / resolution.

Native reimplementation of the reference's experimental overlap toolkit
(``/root/reference/R/overlaps.R``) as window + aggregation plans. The
reference materializes an interval self-join (``foverlaps`` type="any",
R/overlaps.R:111) and then runs an iterative fixpoint to merge chained
pairs (R/overlaps.R:127-165). For 1-D intervals the connected components
are exactly the groups produced by a single running-max sweep — sort by
(start, end), start a new group whenever ``start > max(end of all previous
rows)`` — so the whole thing is one window pass per document: no interval
join, no iteration, no driver loop (SURVEY §2.5 J7).

Conventions preserved from the reference:
- ``end = start + nchar(text)`` (NO -1) when no end column is given
  (R/overlaps.R:62 — deliberately different from the alignment path's
  ``start + nchar - 1``, R/dbpedia.R:856).
- intervals are inclusive; touching intervals overlap (foverlaps "any").
- only groups with >= 2 members get an ``ovl_id``; the id carries the doc
  group and a per-doc counter (``ovl_{doc}_{k}``, R/overlaps.R:174-178).
- categorization label per row follows the reference's *last-assignment-wins*
  chain undetermined -> inner -> outer -> shortest -> longest
  (R/overlaps.R:402-479), group-wide labels for the all-same-span
  ("ovl_multiple") and no-containment ("ovl_partial[|ovl_distinct]") cases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

OVL_FLAGS = (
    "ovl_longest",
    "ovl_shortest",
    "ovl_inner",
    "ovl_outer",
    "ovl_partial",
    "ovl_multiple",
    "ovl_distinct",
    "ovl_undetermined",
)


def detect_overlap(
    df: DataFrame,
    doc_col: str | None = "doc_id",
    start_col: str = "start",
    end_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Adds ``end`` (if needed) and ``ovl_id`` (R/overlaps.R:38-200).

    One window pass, partitioned by document — the reference's per-doc
    ``by = "doc"`` scoping (R/overlaps.R:66-73). NULL ovl_id for rows that
    overlap nothing.
    """
    if end_col is None:
        if "end" in df.columns:
            raise ValueError(
                "end_col is NULL but a column named 'end' already exists "
                "(mirrors R/overlaps.R:50-56)"
            )
        df = df.withColumn("end", F.col(start_col) + F.length(F.col(text_col)))
        end_col = "end"

    part = [doc_col] if doc_col else []
    order = [F.col(start_col), F.col(end_col), F.col(text_col)]
    w = Window.partitionBy(*part).orderBy(*order)
    # materialize each window value once per pass — referencing the window
    # expression twice (null test + comparison) makes WindowExec evaluate
    # the frame twice
    out = df.withColumn(
        "_mpe", F.max(end_col).over(w.rowsBetween(Window.unboundedPreceding, -1))
    ).withColumn(
        "_is_new",
        F.when(
            F.col("_mpe").isNull() | (F.col(start_col) > F.col("_mpe")), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    # a row's group is "multi" iff the row is a non-first member, or the next
    # row (same sort) is a non-first member — avoids a second shuffle.
    out = out.withColumn("_nxt", F.lead("_is_new").over(w)).withColumn(
        "_multi",
        (F.col("_is_new") == 0)
        | (F.col("_nxt").isNotNull() & (F.col("_nxt") == 0)),
    )
    k = F.sum(F.col("_is_new") * F.col("_multi").cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    if doc_col:
        ovl_id = F.format_string("ovl_%s_%d", F.col(doc_col).cast("string"), k)
    else:
        ovl_id = F.format_string("ovl_%d", k)
    return (
        out.withColumn("ovl_id", F.when(F.col("_multi"), ovl_id))
        .drop("_mpe", "_nxt", "_is_new", "_multi")
    )


def categorize_overlap(
    df: DataFrame,
    doc_col: str | None = "doc_id",
    start_col: str = "start",
    end_col: str = "end",
    uri_col: str = "dbpedia_uri",
    text_col: str = "text",
    experimental: bool = False,
    keep_type_col: bool = False,
    span_unit: str = "char",
) -> DataFrame:
    """Adds the eight boolean ``ovl_*`` columns (R/overlaps.R:296-398).

    Containment is detected with windows instead of the reference's
    ``foverlaps(type="within")`` (R/overlaps.R:421-424): within a group
    sorted by (start, end), row i is *inner* iff some earlier row's end
    covers it, and *outer* iff some later row's end fits inside it — exactly
    the reference's xid>yid index tests for the per-row labels. The
    group-level "any containment at all" test must additionally cover
    within-pairs with xid<yid: in (start, end) order those are exactly
    pairs sharing a start (the earlier row is inside the later one), e.g.
    'Washington'[1,11] ⊂ 'Washington D.C.'[1,16]. The reference counts
    them in its ``all(xid==yid)`` partial test (R/overlaps.R:421-439) and
    labels such groups shortest/longest, not partial.
    """
    part = [doc_col] if doc_col else []
    grp = Window.partitionBy(*part, "ovl_id")
    grp_sorted = grp.orderBy(F.col(start_col), F.col(end_col), F.col(text_col))

    # Rows outside any overlap group get NULL flags by definition. Earlier
    # rounds split them into a separate branch to keep them out of the
    # window family — but the split consumes the upstream plan TWICE, and
    # Catalyst's per-branch column pruning specializes the subtrees so
    # ReuseExchange cannot dedupe them: the whole extract->spot->link chain
    # (two python UDF stages) executed once per branch. The windows here
    # partition by (doc, ovl_id), so NULL-ovl_id rows group per document
    # (bounded by a document's mention count, never globally), every flag
    # is already null-guarded on ``ovl_id``, and evaluating the windows
    # over the null groups costs one sorted pass — far cheaper than a
    # second upstream execution.
    s, e = F.col(start_col), F.col(end_col)
    length = e - s
    # Window-pass economy: the original formulation chained ten
    # ``withColumn`` windows, which Catalyst could not collapse (every
    # intermediate Project blocks CollapseWindow) — the physical plan ran
    # TWELVE WindowExec passes over the stream. Here the group-level
    # aggregates ride ONE collect pass (same grp spec, emitted in a single
    # projection so they share one WindowExec), and the counts at
    # min/max length are derived from the collected length array with
    # per-row array expressions — overlap groups are small (an overlap
    # chain within one document), so the interpreted array math is on
    # tiny arrays while twelve full-stream passes collapse into four.
    # the ORDERED spec runs first: its (doc, ovl_id, start, end, text)
    # sort satisfies every later window's lesser sort requirement
    # ((doc, ovl_id[, start]) prefixes), so the whole family runs on ONE
    # sort after detect's
    x = df.select(
        "*",
        F.coalesce(
            F.max(e).over(grp_sorted.rowsBetween(Window.unboundedPreceding, -1)) >= e,
            F.lit(False),
        ).alias("_inner"),
        F.coalesce(
            F.min(e).over(grp_sorted.rowsBetween(1, Window.unboundedFollowing)) <= e,
            F.lit(False),
        ).alias("_outer"),
    ).select(
        "*",
        (
            F.count(F.lit(1)).over(Window.partitionBy(*part, "ovl_id", start_col)) > 1
        ).alias("_start_dup"),
    ).select(
        "*",
        F.size(F.collect_set(uri_col).over(grp)).alias("_n_uri"),
        F.size(F.collect_set(F.struct(s, e)).over(grp)).alias("_n_span"),
        F.collect_list(length).over(grp).alias("_lens"),
        (
            F.max((F.col("_inner") | F.col("_start_dup")).cast("int")).over(grp) == 1
        ).alias("_has_containment"),
    ).select(
        "*",
        F.array_min(F.col("_lens")).alias("_min_len"),
        F.array_max(F.col("_lens")).alias("_max_len"),
    ).select(
        "*",
        F.size(F.filter(F.col("_lens"), lambda v: v == F.col("_min_len"))).alias("_n_min"),
        F.size(F.filter(F.col("_lens"), lambda v: v == F.col("_max_len"))).alias("_n_max"),
    )

    # last-assignment-wins chain (R/overlaps.R:444-477): longest > shortest >
    # outer > inner > undetermined.
    per_row = (
        F.when((length == F.col("_max_len")) & (F.col("_n_max") == 1), "ovl_longest")
        .when((length == F.col("_min_len")) & (F.col("_n_min") == 1), "ovl_shortest")
        .when(F.col("_outer"), "ovl_outer")
        .when(F.col("_inner"), "ovl_inner")
        .otherwise("ovl_undetermined")
    )
    ovl_type = (
        F.when(F.col("ovl_id").isNull(), F.lit(None).cast("string"))
        .when((F.col("_n_span") == 1) & (F.col("_n_uri") > 1), "ovl_multiple")
        .when(
            ~F.col("_has_containment") & (F.col("_n_uri") == 1), "ovl_partial"
        )
        .when(
            ~F.col("_has_containment") & (F.col("_n_uri") > 1),
            "ovl_partial|ovl_distinct",
        )
        .otherwise(per_row)
    )
    x = x.withColumn("ovl_type", ovl_type)

    if experimental:
        x = _synthesize_inner_outer(
            x, part, start_col=start_col, end_col=end_col, uri_col=uri_col,
            text_col=text_col, span_unit=span_unit,
        )

    for flag in OVL_FLAGS:
        x = x.withColumn(
            flag,
            F.when(F.col("ovl_id").isNotNull(), F.col("ovl_type").contains(flag)),
        )
    helper = ["_n_uri", "_n_span", "_lens", "_inner", "_outer", "_min_len",
              "_max_len", "_n_min", "_n_max", "_start_dup", "_has_containment"]
    x = x.drop(*[c for c in helper if c in x.columns])
    if not keep_type_col:
        x = x.drop("ovl_type")
    # the reference sorts for presentation (R/overlaps.R:391-395); a global
    # range-partition sort mid-pipeline is wasted shuffle — results are
    # order-insensitive, callers sort at the edge if needed.
    return x


def _synthesize_inner_outer(
    x: DataFrame,
    part: list[str],
    start_col: str,
    end_col: str,
    uri_col: str,
    text_col: str,
    span_unit: str = "char",
) -> DataFrame:
    """Experimental inner/outer rows for partial groups (R/overlaps.R:331-379).

    Text synthesis is the reference's 2-entity arithmetic
    (R/overlaps.R:490-527); groups with more members get NULL text (the
    reference warns and returns NA, R/overlaps.R:491-496).
    ``span_unit='char'`` = the character-vector path (substring
    arithmetic); ``span_unit='token'`` = the CWB path, where start/end are
    corpus positions and the synthesized text is the token stream over the
    intersect/union range (get_combined_text's corpus branch,
    R/overlaps.R:503-526).
    """
    s, e = F.col(start_col), F.col(end_col)
    has_types = "types" in x.columns
    partial = x.filter(F.col("ovl_type").isin("ovl_partial", "ovl_partial|ovl_distinct"))
    base = partial.groupBy(*part, "ovl_id").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(s).alias("_min_s"),
        F.max(s).alias("_max_s"),
        F.min(e).alias("_min_e"),
        F.max(e).alias("_max_e"),
        F.array_join(
            F.array_distinct(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(s.alias("s"), e.alias("e"), F.col(uri_col).alias("u")))),
                    lambda r: r["u"],
                )
            ),
            "|",
        ).alias("_uris"),
        F.size(F.collect_set(uri_col)).alias("_n_uri"),
        F.min_by(F.col(text_col), s).alias("_t1"),
        F.max_by(F.col(text_col), s).alias("_t2"),
        F.min_by(e, s).alias("_e1"),
        *([F.first(F.col("types")).alias("_types")] if has_types else []),
    )
    # outer: [min_s, max_e]; text = setdiff-prefix of t1 (R/overlaps.R:513-519:
    # left = setdiff(range1, range2) => min(e1 - s1 + 1, s2 - s1) units) || t2
    n_left = "cast(least(_e1 - _min_s + 1, _max_s - _min_s) as int)"
    n_inner = "cast(_min_e - _max_s + 1 as int)"
    if span_unit == "char":
        outer_parts = [F.expr(f"substr(_t1, 1, {n_left})"), F.col("_t2")]
        inner_expr = F.trim(F.expr(f"substr(_t2, 1, {n_inner})"))
    elif span_unit == "token":
        outer_parts = [
            F.expr(f"array_join(slice(split(_t1, ' '), 1, {n_left}), ' ')"),
            F.lit(" "),
            F.col("_t2"),
        ]
        inner_expr = F.expr(f"array_join(slice(split(_t2, ' '), 1, {n_inner}), ' ')")
    else:
        raise ValueError(f"unknown span_unit {span_unit!r}")
    outer_text = F.when(F.col("_n") == 2, F.concat(*outer_parts))
    inner_text = F.when(F.col("_n") == 2, inner_expr)
    shared = [F.col(c) for c in part] + [F.col("ovl_id")]
    types_cols = (
        [F.when(F.col("_n_uri") == 1, F.col("_types")).alias("types")]
        if has_types
        else []
    )
    outer_rows = base.select(
        *shared,
        F.col("_min_s").alias(start_col),
        F.col("_max_e").alias(end_col),
        F.col("_uris").alias(uri_col),
        outer_text.alias(text_col),
        *types_cols,
        F.when(F.col("_n_uri") == 1, F.lit("ovl_partial|ovl_outer"))
        .otherwise("ovl_partial|ovl_multiple|ovl_outer")
        .alias("ovl_type"),
    )
    inner_rows = base.select(
        *shared,
        F.col("_max_s").alias(start_col),
        F.col("_min_e").alias(end_col),
        F.col("_uris").alias(uri_col),
        inner_text.alias(text_col),
        *types_cols,
        F.when(F.col("_n_uri") == 1, F.lit("ovl_partial|ovl_inner"))
        .otherwise("ovl_partial|ovl_multiple|ovl_inner")
        .alias("ovl_type"),
    )
    return x.unionByName(outer_rows, allowMissingColumns=True).unionByName(
        inner_rows, allowMissingColumns=True
    )


def overlap_pipeline(
    df: DataFrame,
    keep: list[str],
    omit: list[str] | None = None,
    tiebreak: str = "first",
    doc_col: str | None = "doc_id",
    start_col: str = "start",
    end_col: str | None = None,
    text_col: str = "text",
    uri_col: str = "dbpedia_uri",
) -> DataFrame:
    """detect -> categorize -> resolve as ONE single-consumer chain.

    Every stage is null-ovl_id-safe inline (see categorize_overlap /
    resolve_overlap), so the upstream plan is consumed exactly once and
    the whole family runs on the single doc-keyed exchange established by
    ``detect_overlap`` — HashPartitioning(doc) satisfies every
    (doc[, ovl_id])-clustered window downstream, so no further shuffle.
    """
    detected = detect_overlap(
        df, doc_col=doc_col, start_col=start_col, end_col=end_col, text_col=text_col
    )
    categorized = categorize_overlap(
        detected, doc_col=doc_col, start_col=start_col,
        end_col=end_col or "end", uri_col=uri_col, text_col=text_col,
    )
    return resolve_overlap(
        categorized, keep=keep, omit=omit, tiebreak=tiebreak, doc_col=doc_col,
        start_col=start_col, end_col=end_col or "end", text_col=text_col,
    )


def resolve_overlap(
    df: DataFrame,
    keep: list[str],
    omit: list[str] | None = None,
    tiebreak: str = "first",
    doc_col: str | None = "doc_id",
    start_col: str = "start",
    end_col: str = "end",
    text_col: str = "text",
) -> DataFrame:
    """Keep exactly one row per overlap group (R/overlaps.R:558-638).

    ``keep`` / ``omit`` name flag columns without the ``ovl_`` prefix.
    A row matching several ``keep`` flags gets the priority of its LAST
    matching entry — the reference's assignment loop overwrites
    ``ovl_keep := i`` on every pass (R/overlaps.R:569-571) — and the
    group winner is the row with the smallest priority. ``tiebreak``:
    ``first`` (row order — deterministic (start, end, text) sort),
    ``hash`` (deterministic salted replacement for the reference's
    ``sample()``, R/overlaps.R:606-608, so reruns are byte-stable), or
    ``remove`` (drop unresolved groups).

    Deviation, documented: when a group contains both a kept row and an
    omitted row, the reference's final filter compares against
    ``min(ovl_keep)`` *including* the omit marker -1 (R/overlaps.R:622) and
    silently drops the whole group; we keep the best ``keep`` row, which is
    the documented intent of the API.
    """
    part = [doc_col] if doc_col else []
    # NULL-ovl_id rows are unconditionally kept (R/overlaps.R:563). Like
    # categorize_overlap they stay INLINE — the winner expression below
    # keeps them unconditionally, so no hit/miss split (which would
    # execute the upstream plan twice) is needed; the (doc, NULL) window
    # groups are bounded by a document's mention count.
    # forward iteration => the LAST matching keep entry ends up outermost in
    # the when-chain, so it wins (reference parity, R/overlaps.R:569-571).
    keep_prio = F.lit(None).cast("int")
    for i in range(len(keep)):
        keep_prio = F.when(F.col(f"ovl_{keep[i]}"), F.lit(i + 1)).otherwise(keep_prio)
    omitted = F.lit(False)
    for o in omit or []:
        omitted = omitted | F.coalesce(F.col(f"ovl_{o}"), F.lit(False))

    x = df.withColumn(
        "_keep", F.when(omitted, F.lit(-1)).otherwise(keep_prio)
    )
    grp = Window.partitionBy(*part, "ovl_id")
    pos = F.when(F.col("_keep") > 0, F.col("_keep"))
    # one window pass: collect the (non-null) priorities per group, derive
    # min and the count-at-min from the tiny array — collect_list drops
    # NULL entries exactly like min()/the null-skipping sum did.
    x = (
        x.withColumn("_poss", F.collect_list(pos).over(grp))
        .withColumn("_pos_min", F.array_min(F.col("_poss")))
        .withColumn(
            "_n_at_min",
            F.when(
                F.col("_pos_min").isNotNull(),
                F.size(F.filter(F.col("_poss"), lambda v: v == F.col("_pos_min"))),
            ),
        )
        .drop("_poss")
    )
    # candidate set per the reference's tiebreak_fun (R/overlaps.R:590-619)
    candidate = F.when(
        F.col("_pos_min").isNull(), F.col("_keep").isNull()
    ).otherwise(pos == F.col("_pos_min"))
    x = x.withColumn("_cand", F.coalesce(candidate, F.lit(False)))

    needs_tiebreak = F.col("_pos_min").isNull() | (F.col("_n_at_min") > 1)
    if tiebreak == "first":
        order = [F.col(start_col), F.col(end_col), F.col(text_col)]
    elif tiebreak == "hash":
        # md5-derived (not engine-native xxhash64) so the DuckDB oracle
        # recomputes the identical tie winner bit-for-bit — same policy
        # as every dedup hash in this repo.
        order = [
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col(start_col),
                            F.col(end_col),
                            F.col(text_col),
                            F.col("ovl_id"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
        ]
    elif tiebreak == "remove":
        order = None
    else:
        raise ValueError(f"unknown tiebreak {tiebreak!r}")

    if order is not None:
        # sort-free selection: the tiebreak winner is the candidate row
        # whose order key is the group-min (an unordered-frame min over
        # the same grp spec — no extra sort pass, unlike the previous
        # row_number window). The key is unique within a group — the
        # linked table is keyed by (doc, start, text), so (start, end,
        # text) repeats never — making "key == min" exactly "row_number
        # == 1" under the same ordering.
        sel_key = F.struct(*[c.alias(f"_k{i}") for i, c in enumerate(order)])
        x = x.withColumn("_sel_key", sel_key).withColumn(
            "_win_key", F.min(F.when(F.col("_cand"), sel_key)).over(grp)
        )
        winner = F.when(
            needs_tiebreak,
            F.col("_cand") & (F.col("_sel_key") == F.col("_win_key")),
        ).otherwise(F.col("_cand"))
    else:
        winner = F.when(needs_tiebreak, F.lit(False)).otherwise(F.col("_cand"))

    # NULL-ovl_id rows are kept unconditionally (no resolution applies)
    winner = F.when(F.col("ovl_id").isNull(), F.lit(True)).otherwise(winner)
    return x.filter(winner).drop(
        "_keep", "_pos_min", "_n_at_min", "_cand", "_sel_key", "_win_key"
    )
