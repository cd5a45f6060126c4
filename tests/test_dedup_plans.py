"""The n-gram operators tokenize each text once per read of it, and MinHash
agrees with its DuckDB oracle on texts shorter than a shingle."""

import duckdb
import pandas as pd
import pytest

from kgspark import dedup, oracles
from scripts.check_oracle import table_hash
from scripts.explain_audit import executed_plan, tokenizations_and_reads

DOCS = [
    (1, "a b c d e f g h i j"),
    (2, "A b c d e f g h i j k"),
    (3, "x"),
    (4, ""),
]

OPERATORS = {
    "dup_ngram_spans": lambda d: dedup.dup_ngram_spans(d, n=3),
    "minhash_docs_word": lambda d: dedup.minhash_docs(d),
    "minhash_docs_char": lambda d: dedup.minhash_docs(d, char_mode=True),
    "contamination": lambda d: dedup.contamination(d, d.filter("doc_id = 1"), n=3),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_text_is_tokenized_once_per_read(spark, name):
    """A split/lower of the text inside a per-position lambda, or copied
    into a pushed-down filter, shows up as more tokenizations than reads."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = executed_plan(OPERATORS[name](docs))
    n_tok, n_reads = tokenizations_and_reads(plan)
    assert n_reads >= 1, plan
    assert n_tok == n_reads, plan


SHORT = [
    (1, "ab"),
    (2, "ab"),
    (3, ""),
    (4, ""),
    (5, "x y"),
    (6, "x y"),
    (7, " lead and trail "),
    (8, " lead and trail "),
    (9, "the quick brown fox jumps over the lazy dog"),
    (10, "The quick brown fox jumps over the lazy dog!"),
]


@pytest.mark.parametrize("char_mode", [True, False])
def test_minhash_short_texts_match_oracle(spark, char_mode):
    """Texts shorter than a shingle have no shingles, so they pair with
    nothing (a phantom shingle paired "ab" with "ab" and "" with "")."""
    df = spark.createDataFrame(SHORT, "doc_id long, text string")
    got = dedup.minhash_near_duplicates(df, char_mode=char_mode, shingle_words=3)
    rows = [tuple(r) for r in got.collect()]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(SHORT, columns=["doc_id", "text"]))
    res = con.execute(oracles.q_dedup_minhash(char_mode=char_mode, shingle_n=3))
    want = res.fetchall()
    assert {(a, b) for a, b, _ in rows} == {(a, b) for a, b, _ in want}
    assert table_hash(got.columns, rows) == table_hash(
        [d[0] for d in res.description], want
    )
    pairs = {(a, b) for a, b, _ in rows}
    assert (1, 2) not in pairs and (3, 4) not in pairs
    assert (7, 8) in pairs
