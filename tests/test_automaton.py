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


def test_artifact_path_equals_broadcast(spark, tmp_path):
    """Spotting through the executor-built artifact automaton must equal
    spotting through a driver-built broadcast automaton."""
    from kgspark import synth
    from kgspark.automaton import write_lexicon_artifact
    from kgspark.spot import spot_documents

    docs = synth.synth_documents(spark, n_docs=30).select(
        F.col("url").alias("doc_id"), "text"
    )
    forms = sorted({r[0] for r in synth.LEXICON_ROWS})
    bc = spark.sparkContext.broadcast(FlatMatcher(forms))
    path = str(tmp_path / "lexforms")
    write_lexicon_artifact(synth.lexicon_df(spark), path)
    via_bc = sorted(map(tuple, spot_documents(docs, bc, doc_col="doc_id").collect()))
    via_art = sorted(map(tuple, spot_documents(docs, path, doc_col="doc_id").collect()))
    assert via_bc == via_art and len(via_bc) > 0


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
    path = str(tmp_path / "biglex")
    write_lexicon_artifact(synth.big_lexicon_df(spark, n=100_000), path)
    big = sorted(map(tuple, spot_documents(docs, path, doc_col="doc_id").collect()))
    small_bc = spark.sparkContext.broadcast(
        FlatMatcher(sorted({r[0] for r in synth.LEXICON_ROWS}))
    )
    small = sorted(map(tuple, spot_documents(docs, small_bc, doc_col="doc_id").collect()))
    assert big == small and len(big) > 0
