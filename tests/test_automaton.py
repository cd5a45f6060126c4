"""FlatMatcher correctness vs a brute-force scan (property-style)."""

import numpy as np
from pyspark.sql import functions as F

from kgspark.automaton import FlatMatcher


def brute_matches(patterns, text):
    out = []
    for p in patterns:
        start = 0
        while True:
            i = text.find(p, start)
            if i < 0:
                break
            out.append((i, p))
            start = i + 1
    return sorted(out)


def brute_word_bounded(patterns, text):
    def alnum(c):
        return c.isascii() and c.isalnum()

    out = []
    for i, p in brute_matches(patterns, text):
        j = i + len(p)
        if i > 0 and alnum(text[i - 1]):
            continue
        if j < len(text) and alnum(text[j]):
            continue
        out.append((i, p))
    return sorted(out)


PATTERNS = ["ab", "abc", "bc", "c", "abcd", "b a", "aa"]


def test_word_bounded_equal_bruteforce():
    rng = np.random.RandomState(2)
    alphabet = "abcd .,"
    ac = FlatMatcher(PATTERNS)
    for trial in range(30):
        text = "".join(alphabet[k] for k in rng.randint(0, len(alphabet), size=300))
        assert ac.find_word_bounded(text) == brute_word_bounded(PATTERNS, text)

    # the batch path (the one the spot UDF runs): None/empty docs, non-ASCII
    # and astral text (UTF-32 offsets), and a NUL-bearing pattern, which
    # forces the per-document fallback
    unicode_pats = PATTERNS + ["é", "ßa", "中 a", "𝔸b", "a𝔸"]
    alphabet = "abcd .,éß中𝔸"
    for pats in (unicode_pats, unicode_pats + ["a\x00b"]):
        ac = FlatMatcher(pats)
        for trial in range(20):
            batch = [
                "".join(alphabet[k] for k in rng.randint(0, len(alphabet), size=n))
                for n in rng.randint(0, 120, size=6)
            ] + [None, "", "a\x00b a"]
            rng.shuffle(batch)
            # adjacent docs a NUL-separated join would fuse into "a\x00b"
            batch += ["c a", "b c"]
            want = [brute_word_bounded(pats, t) if t else [] for t in batch]
            assert ac.find_word_bounded_batch(batch) == want, (pats, trial)


def test_nested_and_overlapping_patterns_all_reported():
    ac = FlatMatcher(["sort merge join", "sort merge", "merge join", "merge", "join"])
    text = "a sort merge join b"
    got = {(s, p) for s, p in ac.find_word_bounded(text)}
    assert got == {
        (2, "sort merge join"),
        (2, "sort merge"),
        (7, "merge join"),
        (7, "merge"),
        (13, "join"),
    }


def test_boundary_rejections():
    ac = FlatMatcher(["spark"])
    assert ac.find_word_bounded("sparkx") == []
    assert ac.find_word_bounded("xspark") == []
    assert ac.find_word_bounded("spark.") == [(0, "spark")]
    assert ac.find_word_bounded("(spark)") == [(1, "spark")]


def test_artifact_path_equals_flat_matcher(spark, tmp_path):
    """Spotting through the executor-built artifact automaton must equal
    ``FlatMatcher.find_word_bounded`` over the same forms, per document
    (1-based starts)."""
    from kgspark import synth
    from kgspark.automaton import write_lexicon_artifact
    from kgspark.spot import spot_documents

    docs = synth.synth_documents(spark, n_docs=30).select(
        F.col("url").alias("doc_id"), "text"
    )
    matcher = FlatMatcher({r[0] for r in synth.LEXICON_ROWS})
    want = sorted(
        (r["doc_id"], s0 + 1, sf)
        for r in docs.collect()
        for s0, sf in matcher.find_word_bounded(r["text"])
    )
    path = str(tmp_path / "lexforms")
    write_lexicon_artifact(synth.lexicon_df(spark), path)
    via_art = sorted(map(tuple, spot_documents(docs, path, doc_col="doc_id").collect()))
    assert via_art == want and len(want) > 0


def test_big_lexicon_automaton_spots_correctly(spark, tmp_path):
    """100k-surface-form lexicon through the artifact path: the generated
    forms never appear in the corpus, so spotting must return exactly the
    same mentions as the 31-form lexicon (and the build must not blow up)."""
    from kgspark import synth
    from kgspark.automaton import write_lexicon_artifact
    from kgspark.spot import spot_documents

    docs = synth.synth_documents(spark, n_docs=20).select(
        F.col("url").alias("doc_id"), "text"
    )

    def spotted(lexicon, name):
        path = write_lexicon_artifact(lexicon, str(tmp_path / name))
        return sorted(map(tuple, spot_documents(docs, path, doc_col="doc_id").collect()))

    big = spotted(synth.big_lexicon_df(spark, n=100_000), "biglex")
    small = spotted(synth.lexicon_df(spark), "smalllex")
    assert big == small and len(big) > 0


def test_rewritten_artifact_is_not_served_stale(spark, tmp_path):
    """An artifact rewritten at the same path is spotted with the new
    forms: the per-process matcher memo must not serve the old lexicon,
    neither in the reused python workers nor in this process."""
    from kgspark.automaton import load_automaton_from_artifact, write_lexicon_artifact
    from kgspark.schemas import LEXICON_SCHEMA
    from kgspark.spot import spot_documents

    text = "the spark join is a hash join"
    docs = spark.createDataFrame([("d1", text)], ["doc_id", "text"])
    path = str(tmp_path / "forms")

    def spotted(form):
        lexicon = spark.createDataFrame(
            [(form, "uri:" + form, 1.0, 100, [], [], "")], LEXICON_SCHEMA)
        write_lexicon_artifact(lexicon, path)
        in_process = [sf for _, sf in
                      load_automaton_from_artifact(path).find_word_bounded(text)]
        rows = spot_documents(docs, path, doc_col="doc_id").collect()
        return in_process, sorted(r["text"] for r in rows)

    assert spotted("spark") == (["spark"], ["spark"])
    assert spotted("join") == (["join", "join"], ["join", "join"])
