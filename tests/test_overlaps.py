"""Reference golden scenarios for detect/categorize/resolve_overlap
(tests/testthat/test-detect_overlaps.R, test-categorize_overlaps.R)."""

import pytest
from pyspark.sql import functions as F

from kgspark.overlaps import (
    OVL_FLAGS,
    categorize_overlap,
    detect_overlap,
    resolve_overlap,
)

# "Vice President Gore in Washington D.C." annotations (Spotlight-shaped)
GORE_ROWS = [
    ("d1", 1, "Vice President Gore", "dbr:Al_Gore"),
    ("d1", 16, "Gore", "dbr:Al_Gore"),
    ("d1", 24, "Washington D.C.", "dbr:Washington,_D.C."),
]
# "Crude oil prices on the rise."
CRUDE_ROWS = [
    ("d2", 1, "Crude oil", "dbr:Petroleum"),
    ("d2", 7, "oil prices", "dbr:Price_of_oil"),
]
COLS = ["doc_id", "start", "text", "dbpedia_uri"]


def test_detect_one_group_two_rows(spark):
    df = detect_overlap(spark.createDataFrame(GORE_ROWS, COLS))
    rows = {r["text"]: r for r in df.collect()}
    assert rows["Vice President Gore"]["end"] == 1 + 19
    assert rows["Vice President Gore"]["ovl_id"] is not None
    assert rows["Vice President Gore"]["ovl_id"] == rows["Gore"]["ovl_id"]
    assert rows["Washington D.C."]["ovl_id"] is None


def test_detect_rejects_existing_end_column(spark):
    df = spark.createDataFrame(GORE_ROWS, COLS).withColumn("end", F.lit(0))
    with pytest.raises(ValueError):
        detect_overlap(df)


def test_detect_group_numbering_and_multi_doc(spark):
    rows = GORE_ROWS + CRUDE_ROWS + [("d1", 100, "spark", "dbr:Apache_Spark")]
    df = detect_overlap(spark.createDataFrame(rows, COLS))
    got = {(r["doc_id"], r["text"]): r["ovl_id"] for r in df.collect()}
    assert got[("d1", "Vice President Gore")] == "ovl_d1_1"
    assert got[("d1", "Gore")] == "ovl_d1_1"
    assert got[("d2", "Crude oil")] == "ovl_d2_1"
    assert got[("d1", "spark")] is None


def test_detect_chained_overlaps_merge_into_one_group(spark):
    # x=[1,10], y=[8,20], z=[18,30]: x∩y, y∩z => one component (the case the
    # reference fixes with its second pass, R/overlaps.R:152-165)
    rows = [("d", 1, "aaaaaaaaa", "u1"), ("d", 8, "bbbbbbbbbbbb", "u2"), ("d", 18, "cccccccccccc", "u3")]
    df = detect_overlap(spark.createDataFrame(rows, COLS))
    ids = {r["ovl_id"] for r in df.collect()}
    assert len(ids) == 1 and None not in ids


def test_categorize_full_containment_flags(spark):
    df = categorize_overlap(detect_overlap(spark.createDataFrame(GORE_ROWS, COLS)))
    rows = {r["text"]: r for r in df.collect()}
    vpg, gore, wdc = rows["Vice President Gore"], rows["Gore"], rows["Washington D.C."]
    assert vpg["ovl_longest"] and not vpg["ovl_shortest"]
    assert gore["ovl_shortest"] and not gore["ovl_longest"]
    assert all(wdc[f] is None for f in OVL_FLAGS)


def test_categorize_partial_distinct_and_synthesis(spark):
    """Golden: 'Crude oil prices' => 4 rows incl. synthesized inner/outer,
    combined URI 'Petroleum|Price_of_oil', inner text 'oil', outer text
    'Crude oil prices' (test-categorize_overlaps.R)."""
    df = categorize_overlap(
        detect_overlap(spark.createDataFrame(CRUDE_ROWS, COLS)),
        experimental=True,
        keep_type_col=True,
    )
    rows = df.collect()
    assert len(rows) == 4
    by_type = {r["ovl_type"]: r for r in rows}
    outer = by_type["ovl_partial|ovl_multiple|ovl_outer"]
    inner = by_type["ovl_partial|ovl_multiple|ovl_inner"]
    assert outer["text"] == "Crude oil prices"
    assert outer["dbpedia_uri"] == "dbr:Petroleum|dbr:Price_of_oil"
    assert (outer["start"], outer["end"]) == (1, 17)
    assert inner["text"] == "oil"
    assert (inner["start"], inner["end"]) == (7, 10)
    # golden flag vector for the outer row: (longest, shortest, inner, outer,
    # partial, multiple, distinct, undetermined) == (F,F,F,T,T,T,F,F)
    assert [bool(outer[f]) for f in OVL_FLAGS] == [False, False, False, True, True, True, False, False]
    originals = [r for r in rows if r["ovl_type"] == "ovl_partial|ovl_distinct"]
    assert len(originals) == 2
    for r in originals:
        assert r["ovl_partial"] and r["ovl_distinct"] and not r["ovl_inner"]


def test_categorize_same_uri_partial_not_distinct(spark):
    rows = [("d", 1, "Crude oil", "u1"), ("d", 7, "oil prices", "u1")]
    df = categorize_overlap(
        detect_overlap(spark.createDataFrame(rows, COLS)), experimental=True, keep_type_col=True
    )
    types = sorted(r["ovl_type"] for r in df.collect())
    assert types == [
        "ovl_partial",
        "ovl_partial",
        "ovl_partial|ovl_inner",
        "ovl_partial|ovl_outer",
    ]


def test_categorize_multiple_same_span(spark):
    rows = [("d", 1, "span", "u1"), ("d", 1, "span", "u2")]
    df = categorize_overlap(detect_overlap(spark.createDataFrame(rows, COLS)))
    for r in df.collect():
        assert r["ovl_multiple"]


def test_resolve_keep_longest(spark):
    df = categorize_overlap(detect_overlap(spark.createDataFrame(GORE_ROWS, COLS)))
    out = resolve_overlap(df, keep=["longest"], tiebreak="first")
    texts = sorted(r["text"] for r in out.collect())
    assert texts == ["Vice President Gore", "Washington D.C."]


def test_resolve_tiebreak_first_on_partial(spark):
    df = categorize_overlap(detect_overlap(spark.createDataFrame(CRUDE_ROWS, COLS)))
    out = resolve_overlap(df, keep=["longest"], tiebreak="first")
    # partial groups carry no ovl_longest flag (the per-row chain only runs
    # in the containment branch, R/overlaps.R:426-439) => all-NA keep =>
    # tiebreak picks the first row in (start, end) order: 'Crude oil'.
    texts = sorted(r["text"] for r in out.collect())
    assert texts == ["Crude oil"]


def test_resolve_tiebreak_remove_drops_unresolved(spark):
    rows = [("d", 1, "abcd", "u1"), ("d", 3, "cdef", "u2")]  # equal lengths
    df = categorize_overlap(detect_overlap(spark.createDataFrame(rows, COLS)))
    out = resolve_overlap(df, keep=["longest"], tiebreak="remove")
    assert out.count() == 0


def test_resolve_omit_shortest(spark):
    df = categorize_overlap(detect_overlap(spark.createDataFrame(GORE_ROWS, COLS)))
    out = resolve_overlap(df, keep=["longest"], omit=["shortest"], tiebreak="first")
    assert sorted(r["text"] for r in out.collect()) == [
        "Vice President Gore",
        "Washington D.C.",
    ]


def test_resolve_exactly_one_row_per_group_invariant(spark):
    """R/overlaps.R:635 stopifnot: every ovl_id occurs at most once."""
    rows = GORE_ROWS + CRUDE_ROWS
    df = categorize_overlap(detect_overlap(spark.createDataFrame(rows, COLS)))
    out = resolve_overlap(df, keep=["longest", "shortest"], tiebreak="first")
    counts = (
        out.filter(F.col("ovl_id").isNotNull())
        .groupBy("ovl_id")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in counts)


def test_resolve_tiebreak_hash_deterministic(spark):
    rows = [("d", 1, "abcd", "u1"), ("d", 3, "cdef", "u2")]  # equal lengths
    df = categorize_overlap(detect_overlap(spark.createDataFrame(rows, COLS)))

    def run():
        out = resolve_overlap(df, keep=["longest"], tiebreak="hash")
        return sorted(r["text"] for r in out.collect())

    first = run()
    assert len(first) == 1  # exactly one survivor
    for _ in range(3):
        assert run() == first  # byte-stable across reruns (vs R sample())


def test_categorize_equal_start_nesting_is_containment(spark):
    """Prefix forms sharing a start ('Washington'[1,11] inside
    'Washington D.C.'[1,16]) ARE containment: the within-pair has xid<yid,
    which the reference's all(xid==yid) test counts (R/overlaps.R:421-439),
    so the group is labeled shortest/longest — never partial."""
    rows = [
        ("d", 1, "Washington", "dbr:Washington_(state)"),
        ("d", 1, "Washington D.C.", "dbr:Washington,_D.C."),
    ]
    df = categorize_overlap(detect_overlap(spark.createDataFrame(rows, COLS)))
    by_text = {r["text"]: r for r in df.collect()}
    assert by_text["Washington"]["ovl_shortest"]
    assert not by_text["Washington"]["ovl_partial"]
    assert by_text["Washington D.C."]["ovl_longest"]
    assert not by_text["Washington D.C."]["ovl_partial"]
    # resolve(keep=longest,shortest) must now keep the LONGEST mention
    out = resolve_overlap(df, keep=["longest", "shortest"], tiebreak="first")
    assert [r["text"] for r in out.collect()] == ["Washington D.C."]


def test_categorize_equal_end_nesting_is_containment(spark):
    """Suffix nesting ('D.C.'[12,16] inside 'Washington D.C.'[1,16]):
    the later sort row is covered by the earlier one (xid>yid pair)."""
    rows = [
        ("d", 1, "Washington D.C.", "dbr:Washington,_D.C."),
        ("d", 12, "D.C.", "dbr:Washington,_D.C."),
    ]
    df = categorize_overlap(detect_overlap(spark.createDataFrame(rows, COLS)))
    by_text = {r["text"]: r for r in df.collect()}
    assert by_text["Washington D.C."]["ovl_longest"]
    assert by_text["D.C."]["ovl_shortest"]


def test_resolve_last_matching_keep_entry_wins(spark):
    """A row matching several keep flags gets its LAST matching entry's
    priority (the reference loop overwrites, R/overlaps.R:569-571): with
    keep=['outer','partial'], the synthesized outer row ('ovl_partial|
    ovl_multiple|ovl_outer') lands on priority 2 like every other partial
    row -> full tie -> tiebreak 'first' picks 'Crude oil' (lowest
    (start, end, text)). First-match-wins would crown the outer row."""
    df = categorize_overlap(
        detect_overlap(spark.createDataFrame(CRUDE_ROWS, COLS)),
        experimental=True,
        keep_type_col=True,
    )
    out = resolve_overlap(df, keep=["outer", "partial"], tiebreak="first")
    assert [r["text"] for r in out.collect()] == ["Crude oil"]


def test_resolve_alone_identical_spans_survivor_independent_of_order(spark):
    """Identical spans with different URIs tie on (start, end, text); the
    uri completes the sort, so the survivor does not depend on the input
    order or its partitioning."""
    rows = [("d1", 1, "Gore", "dbr:Al_Gore"), ("d1", 1, "Gore", "dbr:Gore_(band)"),
            ("d1", 1, "Gore", "dbr:Gore,_Oklahoma"), ("d2", 7, "oil", "dbr:Oil"),
            ("d2", 7, "oil", "dbr:Petroleum")]
    categorized = categorize_overlap(detect_overlap(spark.createDataFrame(rows, COLS)))
    schema, ordered = categorized.schema, categorized.collect()
    survivors = set()
    for order in (ordered, ordered[::-1]):
        for n in (1, 7):
            df = spark.createDataFrame(order, schema).repartition(n)
            out = resolve_overlap(df, keep=["longest"], tiebreak="first")
            survivors.add(tuple(sorted((r["doc_id"], r["dbpedia_uri"]) for r in out.collect())))
    assert survivors == {(("d1", "dbr:Al_Gore"), ("d2", "dbr:Oil"))}
