"""Candidate generation + disambiguation semantics (D2-D6)."""

from pyspark.sql import functions as F

from kgspark.disambig import attach_types, doc_tokens, generate_candidates, disambiguate, link_mentions
from kgspark.schemas import LEXICON_SCHEMA

LEX_ROWS = [
    # ambiguous: context decides
    ("spark", "uri:spark_sw", 0.5, 100, ["Software"], ["Q7397"], "query table"),
    ("spark", "uri:spark_fire", 0.5, 100, ["Thing"], ["Q3196"], "flame ember"),
    # low support
    ("ember", "uri:ember", 1.0, 5, ["Thing"], [], "flame"),
    # low prior, high prior
    ("table", "uri:table_db", 0.9, 100, ["Software"], ["Q7397"], "query"),
    ("table", "uri:table_furn", 0.1, 100, ["Artifact"], ["Q14748"], "wood"),
]


def lex(spark):
    return spark.createDataFrame(LEX_ROWS, LEXICON_SCHEMA)


def spots_df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "start", "text"])


def docs_df(spark, rows):
    return spark.createDataFrame(rows, ["url", "text"])


def test_support_filter(spark):
    cands = generate_candidates(
        spots_df(spark, [("d1", 1, "ember")]), lex(spark), min_support=20
    )
    assert cands.count() == 0
    cands = generate_candidates(
        spots_df(spark, [("d1", 1, "ember")]), lex(spark), min_support=1
    )
    assert cands.count() == 1


def test_context_disambiguation_beats_prior_tie(spark):
    docs = docs_df(spark, [("d1", "the query table has spark in it"),
                           ("d2", "flame ember spark glow")])
    spots = spots_df(spark, [("d1", 22, "spark"), ("d2", 13, "spark")])
    out = disambiguate(
        generate_candidates(spots, lex(spark)), doc_tokens(docs), confidence=0.3,
        lexicon=lex(spark),
    )
    got = {r["doc_id"]: r["dbpedia_uri"] for r in out.collect()}
    assert got == {"d1": "uri:spark_sw", "d2": "uri:spark_fire"}


def test_confidence_filter_drops_uncertain(spark):
    # no context signal, equal priors => conf = 0.5 each; threshold 0.9 drops
    docs = docs_df(spark, [("d1", "nothing relevant spark here")])
    spots = spots_df(spark, [("d1", 18, "spark")])
    cands = generate_candidates(spots, lex(spark))
    assert disambiguate(cands, doc_tokens(docs), confidence=0.9, lexicon=lex(spark)).count() == 0
    assert disambiguate(cands, doc_tokens(docs), confidence=0.35, lexicon=lex(spark)).count() == 1


def test_prior_wins_without_context(spark):
    docs = docs_df(spark, [("d1", "a table stands")])
    spots = spots_df(spark, [("d1", 3, "table")])
    out = disambiguate(generate_candidates(spots, lex(spark)), doc_tokens(docs), lexicon=lex(spark))
    assert out.collect()[0]["dbpedia_uri"] == "uri:table_db"


def test_types_restriction(spark):
    docs = docs_df(spark, [("d1", "a query table stands")])
    spots = spots_df(spark, [("d1", 9, "table")])
    out = disambiguate(
        generate_candidates(spots, lex(spark)),
        doc_tokens(docs),
        types=["Artifact"],
        lexicon=lex(spark),
    )
    assert out.count() == 0  # winner is table_db (Software); Artifact filter drops
    out2 = disambiguate(
        generate_candidates(spots, lex(spark)),
        doc_tokens(docs),
        types=["Software"],
        lexicon=lex(spark),
    )
    assert out2.count() == 1


def test_type_pivot_format(spark):
    docs = docs_df(spark, [("d1", "query table")])
    out = link_mentions(
        spots_df(spark, [("d1", 7, "table")]), lex(spark), docs
    )
    r = out.collect()[0]
    assert r["DBpedia_type"] == "|Software|"
    assert r["Wikidata_type"] == "|Q7397|"
    assert r["types"]["DBpedia"] == ["Software"]


def _typed_rows(df):
    return sorted(
        (r["doc_id"], r["start"], r["text"], r["dbpedia_uri"],
         tuple(sorted((k, tuple(v) if v is not None else None)
                      for k, v in r["types"].items())),
         r["DBpedia_type"], r["Wikidata_type"])
        for r in df.collect()
    )


def test_attached_types_equal_post_hoc_attach_types(spark, tmp_path):
    """On the golden corpus, the typed link output equals the narrow link
    output with ``attach_types`` applied afterwards (the pipeline's order),
    with and without the D6 ``types`` restriction."""
    from kgspark import synth
    from kgspark.automaton import write_lexicon_artifact
    from kgspark.spot import spot_documents

    docs = synth.golden_documents(spark)
    glex = synth.golden_lexicon_df(spark)
    spots = spot_documents(
        docs, write_lexicon_artifact(glex, str(tmp_path / "golden_forms")))

    typed = _typed_rows(link_mentions(spots, glex, docs, attach_type_cols=True))
    post_hoc = _typed_rows(attach_types(
        link_mentions(spots, glex, docs, attach_type_cols=False), glex))
    assert typed == post_hoc and len(typed) > 0

    wanted = ["Place"]
    restricted = _typed_rows(
        link_mentions(spots, glex, docs, types=wanted, attach_type_cols=True))
    expected = [r for r in post_hoc
                if set(dict(r[4]).get("DBpedia") or ()) & set(wanted)]
    assert restricted == expected
    assert 0 < len(restricted) < len(post_hoc)
    # D6 is a semi-join: without the type columns the rows stay narrow
    narrow = link_mentions(spots, glex, docs, types=wanted, attach_type_cols=False)
    assert narrow.columns == ["doc_id", "start", "text", "dbpedia_uri"]
    assert sorted(r[:4] for r in restricted) == sorted(map(tuple, narrow.collect()))


def test_types_attach_from_the_surface_form_row(spark):
    """One uri under two surface forms with different types: each mention
    gets the types of the lexicon row it won by, (text, uri), not some row
    of its uri."""
    rows = [
        ("NYC", "uri:nyc", 1.0, 100, ["City"], ["Q515"], "ny"),
        ("Big Apple", "uri:nyc", 1.0, 100, ["Nickname"], [], "ny"),
    ]
    lexicon = spark.createDataFrame(rows, LEXICON_SCHEMA)
    linked = spark.createDataFrame(
        [("d1", 1, "NYC", "uri:nyc"), ("d1", 9, "Big Apple", "uri:nyc")],
        ["doc_id", "start", "text", "dbpedia_uri"],
    )
    got = {r["text"]: (r["DBpedia_type"], r["Wikidata_type"])
           for r in attach_types(linked, lexicon).collect()}
    assert got == {"NYC": ("|City|", "|Q515|"), "Big Apple": ("|Nickname|", None)}
    docs = docs_df(spark, [("d1", "NYC is the Big Apple")])
    spots = spots_df(spark, [("d1", 1, "NYC"), ("d1", 12, "Big Apple")])
    kept = link_mentions(spots, lexicon, docs, types=["Nickname"])
    assert [r["text"] for r in kept.collect()] == ["Big Apple"]


def test_attach_types_plans_no_exchange(spark, tmp_path):
    """Over a parquet lexicon the attach is one broadcast join on the
    lexicon key: no shuffle and no aggregation before the broadcast."""
    import io
    import re
    from contextlib import redirect_stdout

    path = str(tmp_path / "lexicon")
    lex(spark).write.parquet(path)
    lexicon = spark.read.parquet(path)
    linked = spark.createDataFrame(
        [("d1", 1, "spark", "uri:spark_sw")],
        ["doc_id", "start", "text", "dbpedia_uri"],
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        attach_types(linked, lexicon).explain()
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
    assert "Aggregate" not in plan, plan
