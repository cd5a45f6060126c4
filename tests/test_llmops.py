"""PII scrubbing, Gopher-style repetition stats, URL normalization.

Unit tests on crafted rows plus the DuckDB oracle gate at sf0.001 for the
four new training-data queries (pii_scrub, repetition_stats,
url_normalize, url_host_stats).
"""

import sys

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from kgspark import textops
from scripts.check_oracle import TABLES, table_hash

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# unit: pii_scrub
def test_pii_scrub_redacts_all_three(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.co.uk from 192.168.0.1 call +1 (555) 010-1234 done")],
        "id int, text string",
    )
    out = df.select(textops.pii_scrub(F.col("text")).alias("t")).first().t
    assert out == "mail <EMAIL> from <IP> call <PHONE> done"


def test_pii_counts_sequential(spark):
    # the IP must be counted/redacted before the looser phone pattern runs
    df = spark.createDataFrame([(1, "x 10.0.12.34 y 5551234567 z a@b.io")],
                               "id int, text string")
    n_email, n_ip, n_phone = textops.pii_counts(F.col("text"))
    r = df.select(n_email.alias("e"), n_ip.alias("i"), n_phone.alias("p")).first()
    assert (r.e, r.i, r.p) == (1, 1, 1)


def test_pii_scrub_no_pii_is_identity(spark):
    df = spark.createDataFrame([(1, "plain words only here")], "id int, text string")
    assert df.select(textops.pii_scrub(F.col("text")).alias("t")).first().t == \
        "plain words only here"


# ---------------------------------------------------------------------------
# unit: repetition_stats
def test_repetition_dup_lines(spark):
    text = "\n".join(["same line"] * 3 + ["other line"])  # 4 lines, 2 distinct
    df = spark.createDataFrame([(1, text)], "id int, text string")
    stats = textops.repetition_stats(F.col("text"))
    r = df.select(*[c.alias(k) for k, c in stats.items()]).first()
    assert r.dup_line_frac == 0.5
    assert r.n_words == 8
    assert r.dup_word_frac == pytest.approx(1 - 3 / 8)  # {same, line, other}
    assert not r.gopher_keep  # < 50 words


def test_repetition_gopher_keep(spark):
    good = " ".join(f"word{i}" for i in range(60))
    df = spark.createDataFrame([(1, good)], "id int, text string")
    stats = textops.repetition_stats(F.col("text"))
    r = df.select(*[c.alias(k) for k, c in stats.items()]).first()
    assert r.gopher_keep
    assert r.dup_line_frac == 0.0


# ---------------------------------------------------------------------------
# unit: url_normalize
@pytest.mark.parametrize("raw,norm,host", [
    ("HTTPS://WWW.Example.COM:443/A/b/?q=1#f", "https://www.example.com/A/b",
     "www.example.com"),
    ("http://h.io:80/", "http://h.io", "h.io"),
    ("http://h.io:8080/x", "http://h.io:8080/x", "h.io:8080"),
    ("https://h.io", "https://h.io", "h.io"),
    ("not a url", "", ""),
])
def test_url_normalize(spark, raw, norm, host):
    df = spark.createDataFrame([(raw,)], "url string")
    r = df.select(textops.url_normalize(F.col("url")).alias("n"),
                  textops.url_host(F.col("url")).alias("h")).first()
    assert (r.n, r.h) == (norm, host)


# ---------------------------------------------------------------------------
# invariants over the sf0.001 corpus (batch-checked in one Spark pass)
def test_pii_scrub_idempotent(spark):
    d = entrymod._pii_docs(spark, SF)
    once = textops.pii_scrub(F.col("text"))
    bad = d.select(once.alias("a"), textops.pii_scrub(once).alias("b")) \
           .filter(F.col("a") != F.col("b")).count()
    assert bad == 0


def test_url_normalize_idempotent(spark):
    d = entrymod._url_docs(spark, SF)
    n1 = textops.url_normalize(F.col("url"))
    d2 = d.select(n1.alias("u1"))
    bad = d2.select("u1", textops.url_normalize(F.col("u1")).alias("u2")) \
            .filter(F.col("u1") != F.col("u2")).count()
    assert bad == 0


def test_repetition_stats_bounded(spark):
    d = _docs_table(spark)
    stats = textops.repetition_stats(F.col("text"))
    out = d.select(*[c.alias(k) for k, c in stats.items()])
    bad = out.filter(
        (F.col("dup_line_frac") < 0) | (F.col("dup_line_frac") > 1)
        | (F.col("dup_word_frac") < 0) | (F.col("dup_word_frac") > 1)
        | (F.col("symbol_word_ratio") < 0) | (F.col("mean_word_len") < 0)
    ).count()
    assert bad == 0


def _docs_table(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


# ---------------------------------------------------------------------------
# unit: connected components (dedup groups)
def test_connected_components_chain_and_islands(spark):
    from kgspark.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair {10,11},
    # and the pair (20,21) disjoint from both
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_order_insensitive(spark):
    from kgspark.dedup import connected_components

    # same component regardless of pair orientation; min id wins
    pairs = spark.createDataFrame([(9, 3), (3, 7)], "doc_a long, doc_b long")
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {3: 3, 7: 3, 9: 3}


# ---------------------------------------------------------------------------
# unit: contamination
def test_contamination_finds_planted_ngram(spark):
    from kgspark.dedup import contamination

    bench = spark.createDataFrame(
        [(0, "the secret eval answer is forty two ok")], "doc_id long, text string")
    corpus = spark.createDataFrame([
        (100, "prefix words then the secret eval answer is forty two ok suffix"),
        (101, "totally unrelated clean document with no overlap at all here"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in contamination(corpus, bench, n=5).collect()}
    assert set(out) == {100}
    assert out[100].n_hits == 4  # four 5-gram windows of the planted 8-gram
    assert 0 < out[100].hit_frac <= 1


def test_contamination_clean_corpus_is_empty(spark):
    from kgspark.dedup import contamination

    bench = spark.createDataFrame([(0, "aa bb cc dd ee ff")], "doc_id long, text string")
    corpus = spark.createDataFrame([(1, "gg hh ii jj kk ll")], "doc_id long, text string")
    assert contamination(corpus, bench, n=3).count() == 0


# ---------------------------------------------------------------------------
# unit: pack_sequences
def test_pack_sequences_layout(spark):
    # one shard, budget 10; docs of 4/5/3/6 tokens -> starts 0,4,9,12
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate([4, 5, 3, 6])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           textops.pack_sequences(df, budget=10, n_shards=1).collect()}
    assert [(out[i].pack_id, out[i].pack_offset) for i in range(4)] == [
        (0, 0), (0, 4), (0, 9), (1, 2)]


def test_pack_sequences_shards_are_independent(spark):
    rows = [(i, "a b c") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textops.pack_sequences(df, budget=6, n_shards=4).collect()
    # each shard holds docs i and i+4: starts 0 and 3 -> both pack 0
    assert all(r.pack_id == 0 for r in out)
    assert sorted(r.pack_offset for r in out) == [0, 0, 0, 0, 3, 3, 3, 3]


# ---------------------------------------------------------------------------
# oracle gate for the four new queries at sf0.001
@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


@pytest.mark.parametrize(
    "name", ["pii_scrub", "repetition_stats", "url_normalize", "url_host_stats",
             "pack_sequences"])
def test_llmops_oracle_match(spark, duck, name):
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(osql[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"{name}: row counts differ"
    assert sorted(c.lower() for c in sdf.columns) == sorted(c.lower() for c in ocols)
    assert table_hash(sdf.columns, srows) == table_hash(ocols, orows), \
        f"{name}: value hash differs"
