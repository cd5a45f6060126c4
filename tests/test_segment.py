"""Segmentation contracts from tests/testthat/test-segment.R:6-64.

Pure-Python tests of the kernel math (fast, no Spark session needed).
"""

import numpy as np
import pytest

from kgspark.automaton import FlatMatcher
from kgspark.segment import (
    escaped_len,
    segment_document,
    segment_string,
    stitch_bounds,
)


def soup(n, seed=0, vocab=("alpha", "beta", "gamma", "delta", "ep", "zetas", "x")):
    rng = np.random.RandomState(seed)
    return " ".join(vocab[k] for k in rng.randint(0, len(vocab), size=n))


@pytest.mark.parametrize("n,max_len,overlap", [(400, 500, 100), (1000, 700, 200), (150, 300, 50)])
def test_segments_reconstruct_original(n, max_len, overlap):
    """Segments placed at their 1-based offsets reproduce the string
    byte-for-byte (test-segment.R:6-36)."""
    x = soup(n, seed=n)
    segs = segment_string(x, max_len=max_len, overlap=overlap)
    assert segs[0][0] == 1
    buf = [" "] * len(x)
    covered = set()
    for off, seg in segs:
        assert x[off - 1 : off - 1 + len(seg)] == seg  # placement identity
        for j in range(off - 1, off - 1 + len(seg)):
            buf[j] = x[j]
            covered.add(j)
    assert "".join(buf) == x
    assert covered == set(range(len(x)))  # full coverage, no gaps


def test_consecutive_segments_overlap():
    x = soup(600, seed=7)
    segs = segment_string(x, max_len=400, overlap=120)
    assert len(segs) >= 3
    for (o1, s1), (o2, s2) in zip(segs, segs[1:]):
        assert o2 > o1
        assert o2 <= o1 + len(s1)  # overlapping or at least adjacent


def test_short_string_single_segment():
    x = "tiny doc"
    assert segment_document(x, max_len=7990) == [
        {"seg_off": 1, "seg_text": x, "keep_from": -1.0e18, "keep_to": 1.0e18}
    ]


def test_escaped_len_matches_curl_escape_semantics():
    # unreserved chars pass through; space -> %20 (3 chars)
    assert escaped_len("abc") == 3
    assert escaped_len("a b") == 5  # 'a' + '%20' + 'b'
    assert escaped_len("a.b-c_d~e") == 9


def _spot_via_segments(text, automaton, max_len, overlap):
    """Reimplementation of the segmented-spotting path in pure Python:
    spot each segment, rebase offsets, apply stitch bounds, union."""
    out = set()
    for seg in segment_document(text, max_len=max_len, overlap=overlap):
        for off0, sf in automaton.find_word_bounded(seg["seg_text"]):
            start = seg["seg_off"] + off0
            if seg["keep_from"] <= start < seg["keep_to"]:
                out.add((start, sf))
    return out


@pytest.mark.parametrize("params", [(7500, 500), (2000, 750), (900, 300)])
def test_segmentation_invariance_of_mention_set(params):
    """The stitched mention set is invariant under segmentation parameters
    (test-segment.R:38-64: max_len=7500 vs max_len=2000, overlap=750)."""
    max_len, overlap = params
    vocab = ("alpha", "beta", "gamma", "delta", "beta gamma", "x")
    text = soup(1500, seed=3, vocab=("alpha", "beta", "gamma", "delta", "x"))
    ac = FlatMatcher(["alpha", "beta", "gamma", "beta gamma", "alpha beta gamma"])
    direct = {(i + 1, sf) for i, sf in ac.find_word_bounded(text)}
    via_segs = _spot_via_segments(text, ac, max_len=max_len, overlap=overlap)
    assert via_segs == direct


def test_stitch_bounds_partition_the_line():
    """keep-ranges of consecutive segments tile without overlap or gap."""
    x = soup(800, seed=11)
    segs = segment_string(x, max_len=500, overlap=150)
    bounds = stitch_bounds(segs)
    assert bounds[0][2] == -1.0e18
    assert bounds[-1][3] == 1.0e18
    for (_o1, _s1, kf1, kt1), (_o2, _s2, kf2, kt2) in zip(bounds, bounds[1:]):
        assert kt1 == kf2  # exactly-once: right bound meets next left bound


def test_rebalance_spreads_giant_doc_segments():
    """Large-document skew: with rebalance=True the segments of one giant
    document spread across many partitions (explode alone keeps them in
    the parent's task)."""
    import datetime as dt

    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    spark_mod = pytest.importorskip("pyspark.sql")
    from kgspark.session import get_spark
    from kgspark import segment as segmod, synth

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    big_text = " ".join(synth.VOCAB[i % 30] for i in range(100000))
    pdf = pd.DataFrame(
        [("u", dt.datetime(2026, 1, 1), None, big_text, "en")],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    docs = spark.createDataFrame(pdf).coalesce(1)

    plain = segmod.segment_documents(docs, max_len=2000, overlap=300)
    pids = lambda df: {
        r["pid"]
        for r in df.withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().collect()
    }
    assert len(pids(plain)) == 1
    spread = segmod.segment_documents(docs, max_len=2000, overlap=300, rebalance=True)
    assert len(pids(spread)) > 1
