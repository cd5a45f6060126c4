"""The overlap kernel against the DuckDB oracle on generated interval sets.

detect / categorize / resolve (and the one-pass ``overlap_pipeline``) are
compared row for row with ``oracles.detect_cte`` / ``categorize_cte`` /
``resolve_cte``. Arrow batches are capped at 3 rows, so nearly every
document straddles a batch boundary and the kernel's carry-over decides
the result.
"""

import random
from collections import Counter

import duckdb
import pytest

from kgspark import oracles
from kgspark.overlaps import (
    OVL_FLAGS,
    categorize_overlap,
    detect_overlap,
    overlap_pipeline,
    resolve_overlap,
)

SCHEMA = "doc_id string, start int, text string, dbpedia_uri string"
COLS = ["doc_id", "start", "end", "text", "dbpedia_uri", "ovl_id"]
RESOLVED = ["doc_id", "start", "end", "text", "ovl_id"]


def _doc_rows(rng, doc, spans):
    body = "".join(rng.choice("abcdefgh ") for _ in range(420))
    rows = []
    for s, n in sorted(spans):
        uri = None if rng.random() < 0.05 else f"u{rng.randint(0, 3)}"
        rows.append((doc, s + 1, body[s:s + n], uri))
        if rng.random() < 0.15:  # identical span, different URI
            rows.append((doc, s + 1, body[s:s + n], f"v{rng.randint(0, 3)}"))
    return rows


def _interval_rows(seed=11, n_docs=40):
    rng = random.Random(seed)
    # fixed shapes first: a nested chain, equal starts, equal ends, a
    # partial chain, a singleton
    rows = _doc_rows(rng, "fixed", {(0, 40), (2, 30), (4, 20), (6, 5),
                                    (50, 10), (50, 20), (50, 3),
                                    (80, 20), (90, 10), (95, 5),
                                    (120, 10), (125, 10), (131, 10),
                                    (200, 7)})
    for d in range(n_docs):
        spans = set()
        for _ in range(rng.choice([1, 1, 2, 3, 5, 8, 13, 21])):
            kind = rng.random()
            if spans and kind < 0.2:  # equal start
                s, _n = rng.choice(sorted(spans))
                spans.add((s, rng.randint(1, 30)))
            elif spans and kind < 0.35:  # equal end
                s, n = rng.choice(sorted(spans))
                s1 = rng.randint(max(0, s + n - 30), s + n - 1)
                spans.add((s1, s + n - s1))
            elif spans and kind < 0.5:  # nested inside an existing span
                s, n = rng.choice(sorted(spans))
                s1 = rng.randint(s, s + n - 1)
                spans.add((s1, rng.randint(1, s + n - s1)))
            else:
                spans.add((rng.randint(0, 380), rng.randint(1, 30)))
        rows += _doc_rows(rng, f"d{d:02d}", spans)
    return rows


ROWS = _interval_rows()
# one document, named by the id scheme without a doc group
SINGLE = [r for r in ROWS if r[0] in ("fixed", "d03")]


@pytest.fixture(scope="module")
def small_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, old)


def _oracle(rows, select, *ctes):
    con = duckdb.connect()
    con.execute("CREATE TABLE src (doc_id VARCHAR, start INTEGER, text VARCHAR, dbpedia_uri VARCHAR)")
    con.executemany("INSERT INTO src VALUES (?, ?, ?, ?)", rows)
    sql = "WITH " + ",\n  ".join([oracles.detect_cte("src"), *ctes]) + "\n" + select
    return Counter(tuple(r) for r in con.execute(sql).fetchall())


def _spark(df, cols):
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def test_kernel_covers_the_shapes():
    """The generated input holds every shape the comparison is about."""
    docs = Counter(r[0] for r in ROWS)
    assert len(docs) > 30 and 1 in docs.values()
    spans = Counter((r[0], r[1], r[2]) for r in ROWS)
    assert any(n > 1 for n in spans.values())  # identical span, other URI
    assert any(r[3] is None for r in ROWS)


def test_detect_and_categorize_match_oracle(spark, small_batches):
    df = spark.createDataFrame(ROWS, SCHEMA)
    detected = detect_overlap(df)
    assert _spark(detected, COLS) == _oracle(
        ROWS, 'SELECT doc_id, start, "end", text, dbpedia_uri, ovl_id FROM detected'
    )
    assert sum(1 for r in detected.collect() if r["ovl_id"]) > 50
    cat = categorize_overlap(detected)
    assert _spark(cat, COLS + list(OVL_FLAGS)) == _oracle(
        ROWS,
        'SELECT doc_id, start, "end", text, dbpedia_uri, ovl_id,\n      '
        + oracles.FLAG_SELECT + "\nFROM categorized",
        oracles.categorize_cte(),
    )


@pytest.mark.parametrize("tiebreak", ["first", "hash"])
@pytest.mark.parametrize(
    "keep,omit",
    [
        (["longest", "shortest"], []),
        (["longest", "shortest", "multiple"], ["partial"]),
        (["shortest"], ["undetermined", "inner"]),
        (["outer", "partial"], []),
    ],
)
def test_resolve_matches_oracle(spark, small_batches, keep, omit, tiebreak):
    """One-pass pipeline and the three-call chain against the oracle. The
    comparison leaves out the URI: rows with an identical span tie on
    every key, and the oracle's row_number picks either."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    want = _oracle(
        ROWS, 'SELECT doc_id, start, "end", text, ovl_id FROM resolved',
        oracles.categorize_cte(),
        oracles.resolve_cte(keep=tuple(keep), tiebreak=tiebreak, omit=tuple(omit)),
    )
    piped = overlap_pipeline(df, keep=keep, omit=omit, tiebreak=tiebreak)
    chained = resolve_overlap(
        categorize_overlap(detect_overlap(df)), keep=keep, omit=omit, tiebreak=tiebreak
    )
    assert _spark(piped, RESOLVED) == want
    assert _spark(chained, RESOLVED) == want


def test_no_doc_column_matches_oracle(spark, small_batches):
    """doc_col=None: the whole input is one document and ids read ovl_<k>;
    the oracle runs it as document 'x' and renames its ids to match, so
    the hash tiebreak sees the same ids."""
    df = spark.createDataFrame(SINGLE, SCHEMA).drop("doc_id")
    one_doc = [("x", *r[1:]) for r in SINGLE]
    nodoc = ("nodoc AS (SELECT * REPLACE (CASE WHEN ovl_id IS NOT NULL THEN "
             "'ovl_' || split_part(ovl_id, '_', 3) END AS ovl_id) FROM detected)")
    detected = detect_overlap(df, doc_col=None)
    assert _spark(detected, COLS[1:]) == _oracle(
        one_doc, 'SELECT start, "end", text, dbpedia_uri, ovl_id FROM nodoc', nodoc
    )
    cat = categorize_overlap(detected, doc_col=None)
    assert _spark(cat, COLS[1:] + list(OVL_FLAGS)) == _oracle(
        one_doc,
        'SELECT start, "end", text, dbpedia_uri, ovl_id,\n      '
        + oracles.FLAG_SELECT + "\nFROM categorized",
        nodoc, oracles.categorize_cte("nodoc"),
    )
    for tiebreak in ("first", "hash"):
        piped = overlap_pipeline(
            df, keep=["longest", "shortest"], tiebreak=tiebreak, doc_col=None
        )
        assert _spark(piped, RESOLVED[1:]) == _oracle(
            one_doc, 'SELECT start, "end", text, ovl_id FROM resolved',
            nodoc, oracles.categorize_cte("nodoc"), oracles.resolve_cte(tiebreak=tiebreak),
        )
