"""Stage 6 — overlap detection / categorization / resolution.

Native reimplementation of the reference's experimental overlap toolkit
(``R/overlaps.R``) as ONE per-document kernel. The
reference materializes an interval self-join (``foverlaps`` type="any",
R/overlaps.R:111) and then runs an iterative fixpoint to merge chained
pairs (R/overlaps.R:127-165). For 1-D intervals the connected components
are exactly the groups produced by a single running-max sweep — sort by
(start, end), start a new group whenever ``start > max(end of all previous
rows)`` — so detect, categorize and resolve are segment-wise scans over a
document's sorted mentions: no interval join, no iteration, no driver loop
(SURVEY §2.5 J7).

The scans run in ``mapInArrow`` over ``repartition(doc)`` +
``sortWithinPartitions(doc, start, end, text)``, with numpy segment
operations over whole Arrow batches (many documents per call); the last
document of a batch is carried into the next one, so no document is ever
split. After link's doc-keyed exchange Spark plans no second shuffle.

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

import functools
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType

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

# ovl_type by code, in the order the categorization tests them; code 0 is
# a row outside every overlap group
_TYPES = np.array([None, "ovl_multiple", "ovl_partial", "ovl_partial|ovl_distinct",
                   "ovl_longest", "ovl_shortest", "ovl_outer", "ovl_inner",
                   "ovl_undetermined"], dtype=object)
_TYPE_HAS = {f: np.array([t is not None and f in t for t in _TYPES]) for f in OVL_FLAGS}
_DETECT, _CATEGORIZE, _RESOLVE = 1, 2, 3


def detect_overlap(
    df: DataFrame,
    doc_col: str | None = "doc_id",
    start_col: str = "start",
    end_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Adds ``end`` (if needed) and ``ovl_id`` (R/overlaps.R:38-200).

    Scoped per document — the reference's ``by = "doc"`` (R/overlaps.R:66-73).
    NULL ovl_id for rows that overlap nothing.
    """
    df, end_col = _with_end(df, start_col, end_col, text_col)
    return _overlap_pass(df, _DETECT, _DETECT, doc_col, start_col, end_col, text_col)


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

    Containment is a pair of running scans instead of the reference's
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
    x = _overlap_pass(
        df, _CATEGORIZE, _CATEGORIZE, doc_col, start_col, end_col, text_col,
        uri_col=uri_col,
    )
    if experimental:
        x = _synthesize_inner_outer(
            x, [doc_col] if doc_col else [], start_col=start_col, end_col=end_col,
            uri_col=uri_col, text_col=text_col, span_unit=span_unit,
        )
    return _with_flags(x, keep_type_col)


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
    """detect -> categorize -> resolve in ONE kernel pass.

    The upstream plan is consumed once, and the stages share the single
    doc-keyed exchange and sort.
    """
    df, end_col = _with_end(df, start_col, end_col, text_col)
    x = _overlap_pass(
        df, _DETECT, _RESOLVE, doc_col, start_col, end_col, text_col,
        uri_col=uri_col, keep=keep, omit=omit, tiebreak=tiebreak,
    )
    return _with_flags(x, keep_type_col=False)


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
    ``first`` (row order — deterministic (start, end, text) sort, completed
    by ``dbpedia_uri`` when the frame has it, as on the pipeline path),
    ``hash`` (deterministic salted replacement for the reference's
    ``sample()``, R/overlaps.R:606-608, so reruns are byte-stable), or
    ``remove`` (drop unresolved groups).

    Deviation, documented: when a group contains both a kept row and an
    omitted row, the reference's final filter compares against
    ``min(ovl_keep)`` *including* the omit marker -1 (R/overlaps.R:622) and
    silently drops the whole group; we keep the best ``keep`` row, which is
    the documented intent of the API.
    """
    return _overlap_pass(
        df, _RESOLVE, _RESOLVE, doc_col, start_col, end_col, text_col,
        uri_col="dbpedia_uri" if "dbpedia_uri" in df.columns else None,
        keep=keep, omit=omit, tiebreak=tiebreak,
    )


def _with_end(df, start_col, end_col, text_col):
    if end_col is not None:
        return df, end_col
    if "end" in df.columns:
        raise ValueError("end_col is NULL but a column named 'end' already "
                         "exists (mirrors R/overlaps.R:50-56)")
    return df.withColumn("end", F.col(start_col) + F.length(F.col(text_col))), "end"


def _with_flags(x: DataFrame, keep_type_col: bool) -> DataFrame:
    flags = [
        F.when(F.col("ovl_id").isNotNull(), F.col("ovl_type").contains(f)).alias(f)
        for f in OVL_FLAGS
    ]
    x = x.select("*", *flags)
    return x if keep_type_col else x.drop("ovl_type")


def _overlap_pass(df, first, last, doc_col, start_col, end_col, text_col,
                  uri_col=None, keep=(), omit=None, tiebreak="first"):
    """Runs the kernel's stages ``first..last`` over whole documents. A pass
    that starts after detect takes the given ``ovl_id`` groups and sorts by
    them ahead of (start, end, text); the uri, where known, completes the
    order, so identical spans are labeled deterministically."""
    omit = list(omit or [])
    if last == _RESOLVE and tiebreak not in ("first", "hash", "remove"):
        raise ValueError(f"unknown tiebreak {tiebreak!r}")
    unknown = [k for k in [*keep, *omit] if f"ovl_{k}" not in OVL_FLAGS]
    if unknown:
        raise ValueError(f"unknown overlap flags {unknown}")
    added = [c for c, stage in (("ovl_id", _DETECT), ("ovl_type", _CATEGORIZE))
             if first <= stage <= last]
    schema = StructType(df.schema.fields + [StructField(c, StringType()) for c in added])
    keys = [doc_col] if doc_col else []
    order = (keys + ([] if first == _DETECT else ["ovl_id"])
             + [start_col, end_col, text_col] + ([uri_col] if uri_col else []))
    kernel = functools.partial(
        _kernel, first=first, last=last, doc=doc_col, start=start_col,
        end=end_col, text=text_col, uri=uri_col, keep=list(keep), omit=omit,
        tiebreak=tiebreak,
    )
    parts = df.repartition(*keys) if keys else df.repartition(1)
    return parts.sortWithinPartitions(*order).mapInArrow(
        functools.partial(_whole_documents, kernel=kernel, doc=doc_col), schema
    )


def _whole_documents(batches, kernel, doc):
    """Feeds ``kernel`` tables of whole documents: the rows of a batch's
    last document are carried into the next batch, which may continue it."""
    carry = []
    for b in batches:
        t = pa.Table.from_batches([*carry, b])
        cut = int(np.flatnonzero(_changes(t.column(doc)))[-1]) if doc and t.num_rows else 0
        if cut:
            yield from kernel(t.slice(0, cut)).to_batches()
        carry = t.slice(cut).to_batches()
    if carry:
        yield from kernel(pa.Table.from_batches(carry)).to_batches()


def _changes(arr) -> np.ndarray:
    """True where a value differs from the previous row's (row 0: True);
    NULLs equal each other, as in Spark's grouping."""
    out = np.ones(len(arr), dtype=bool)
    if len(arr) > 1:
        cur, prev = arr.slice(1), arr.slice(0, len(arr) - 1)
        out[1:] = pc.or_(
            pc.fill_null(pc.not_equal(cur, prev), False),
            pc.not_equal(pc.is_null(cur), pc.is_null(prev)),
        ).to_numpy(zero_copy_only=False)
    return out


def _running(v: np.ndarray, seg: np.ndarray, op) -> np.ndarray:
    """Inclusive running ``op`` (np.maximum / np.minimum) restarting at each
    segment of the non-decreasing ids ``seg``: offsetting every segment past
    the previous ones' value range lets one accumulate serve all of them."""
    if len(v) == 0:
        return v
    lo = v.min()
    off = seg * (v.max() - lo + 1) * (-1 if op is np.minimum else 1)
    return op.accumulate(v - lo + off) - off + lo


def _ints(tbl: pa.Table, col: str) -> np.ndarray:
    arr = tbl.column(col)
    if arr.null_count:
        raise ValueError(f"overlap column {col!r} has NULLs")
    return arr.to_numpy().astype(np.int64)


def _kernel(tbl, first, last, doc, start, end, text, uri, keep, omit, tiebreak):
    n = tbl.num_rows
    s, e = _ints(tbl, start), _ints(tbl, end)
    dnew = _changes(tbl.column(doc)) if doc else np.arange(n) == 0
    added = {}
    if first == _DETECT:
        # a row opens a group unless an earlier row of its document reaches it
        pmax = _running(e, np.cumsum(dnew), np.maximum)
        gnew = dnew.copy()
        gnew[1:] |= s[1:] > pmax[:-1]
        grp = np.cumsum(gnew) - 1
        multi = np.flatnonzero(np.bincount(grp) >= 2)  # the groups with an id
        gdoc = (np.cumsum(dnew) - 1)[gnew][multi]
        k = np.arange(len(multi)) - np.searchsorted(gdoc, gdoc) + 1  # per document
        prefix = [f"ovl_{'null' if d is None else d}_" for d in pc.cast(
            tbl.column(doc).filter(pa.array(dnew)), pa.string()).to_pylist()] if doc else ["ovl_"]
        names = np.full(grp[-1] + 1 if n else 0, None, dtype=object)
        names[multi] = [f"{prefix[d]}{i}" for d, i in zip(gdoc, k)]
        added["ovl_id"] = names[grp]
        member = np.isin(grp, multi)
    else:
        ovl = tbl.column("ovl_id")
        member = pc.is_valid(ovl).to_numpy(zero_copy_only=False)
        gnew = _changes(ovl) | dnew
    # member rows of the overlap groups; g numbers their groups 0..G-1
    idx = np.flatnonzero(member)
    gfirst = gnew[idx]
    g = np.cumsum(gfirst) - 1
    gstart = np.flatnonzero(gfirst)

    if first <= _CATEGORIZE <= last:
        code = _categorize(s[idx], e[idx], g, gfirst, gstart, tbl.column(uri).take(idx))
        added["ovl_type"] = np.full(n, None, dtype=object)
        added["ovl_type"][idx] = _TYPES[code]
    for c, v in added.items():
        tbl = tbl.append_column(c, pa.array(v, type=pa.string()))
    if last < _RESOLVE or not len(idx):
        return tbl

    wanted = {f"ovl_{k}" for k in [*keep, *omit]}
    if first == _RESOLVE:
        flag = {f: pc.fill_null(tbl.column(f).take(idx), False).to_numpy(zero_copy_only=False)
                for f in wanted}
    else:
        flag = {f: _TYPE_HAS[f][code] for f in wanted}
    key = _hash_keys(s[idx], e[idx], tbl.column(text).take(idx).to_pylist(),
                     tbl.column("ovl_id").take(idx).to_pylist()) if tiebreak == "hash" else None
    keep_row = np.ones(n, dtype=bool)
    keep_row[idx] = _resolve(flag, keep, omit, g, gstart, tiebreak == "remove", key)
    return tbl.filter(pa.array(keep_row))


def _categorize(s, e, g, gfirst, gstart, uris) -> np.ndarray:
    """ovl_type code per member row (R/overlaps.R:402-479)."""
    if not len(s):
        return np.zeros(0, dtype=np.int64)
    ln = e - s
    # inner: an earlier row of the group ends at or after this row's end
    inner = ~gfirst & (np.r_[0, _running(e, g, np.maximum)[:-1]] >= e)
    # outer: a later row of the group ends at or before this row's end
    later_min = _running(e[::-1], g[-1] - g[::-1], np.minimum)[::-1]
    outer = ~np.r_[gfirst[1:], True] & (np.r_[later_min[1:], 0] <= e)
    same_s = np.r_[False, s[1:] == s[:-1]] & ~gfirst
    start_run = np.cumsum(~same_s) - 1
    start_dup = np.bincount(start_run)[start_run] > 1
    n_span = np.add.reduceat(~(same_s & np.r_[False, e[1:] == e[:-1]]), gstart, dtype=np.int64)[g]
    # distinct non-NULL uris: unique (group, uri code) pairs, NULL coded 0
    codes = pc.fill_null(uris.combine_chunks().dictionary_encode().indices, -1).to_numpy() + 1
    width = int(codes.max()) + 1
    pairs = np.unique(g * width + codes)
    n_uri = np.bincount(pairs[pairs % width != 0] // width, minlength=len(gstart))[g]
    min_len = np.minimum.reduceat(ln, gstart)[g]
    max_len = np.maximum.reduceat(ln, gstart)[g]
    n_min = np.add.reduceat(ln == min_len, gstart, dtype=np.int64)[g]
    n_max = np.add.reduceat(ln == max_len, gstart, dtype=np.int64)[g]
    has_cont = np.logical_or.reduceat(inner | start_dup, gstart)[g]
    # the reference's label chain, first match wins (codes index _TYPES)
    return np.select(
        [(n_span == 1) & (n_uri > 1), ~has_cont & (n_uri == 1), ~has_cont & (n_uri > 1),
         (ln == max_len) & (n_max == 1), (ln == min_len) & (n_min == 1), outer, inner],
        np.arange(1, 8), 8,
    )


def _hash_keys(s, e, texts, ids) -> np.ndarray:
    """md5 tie key of ``concat_ws('|', start, end, text, ovl_id)`` (NULLs
    skipped): its first 8 hex digits as an integer, which the DuckDB
    oracle recomputes bit for bit."""
    return np.array([
        int(hashlib.md5("|".join(str(p) for p in row if p is not None).encode()).hexdigest()[:8], 16)
        for row in zip(s, e, texts, ids)
    ], dtype=np.int64)


def _resolve(flag, keep, omit, g, gstart, remove, key) -> np.ndarray:
    """Winner mask over member rows (R/overlaps.R:558-638)."""
    prio = np.zeros(len(g), dtype=np.int64)  # 0 = no keep flag
    for i, k in enumerate(keep):  # the LAST matching keep entry wins
        prio = np.where(flag[f"ovl_{k}"], i + 1, prio)
    for o in omit:
        prio = np.where(flag[f"ovl_{o}"], -1, prio)
    none = len(keep) + 1
    pos_min = np.minimum.reduceat(np.where(prio > 0, prio, none), gstart)
    has_pos = pos_min < none
    at_min = prio == pos_min[g]
    needs = ~has_pos | (np.add.reduceat(at_min, gstart, dtype=np.int64) > 1)
    # candidate set per the reference's tiebreak_fun (R/overlaps.R:590-619)
    cand = np.where(has_pos[g], at_min, prio == 0)
    win = cand & ~needs[g]
    if not remove:
        # one winner per tied group: the smallest key, then the earliest row
        tied = np.flatnonzero(cand & needs[g])
        top = np.iinfo(np.int64).max
        rank = np.full(len(g), top)
        rank[tied] = tied if key is None else (key[tied] << 31) | tied
        best = np.minimum.reduceat(rank, gstart)
        win[best[best < top] & ((1 << 31) - 1)] = True
    return win
