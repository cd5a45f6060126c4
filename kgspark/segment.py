"""Stage 2 — overlap-preserving segmentation of long documents.

Reimplements the published behavior of the reference's ``segment()``
(``/root/reference/R/segment.R:23-87``): cut a long string into overlapping
windows on token (space) boundaries, anchors evenly spaced over the
URL-escaped length, each window extending ``max_len/2`` around its anchor;
segments are keyed by the 1-based character offset of their first token in
the original string. The midpoint stitching rule that de-duplicates mentions
found in overlapping segments (``/root/reference/R/dbpedia.R:422-440``) is
precomputed here as a per-segment ``[keep_from, keep_to)`` interval over
*original* mention start offsets, so stitching downstream is a pure filter —
no cross-segment shuffle.

At cluster scale this doubles as large-document skew breaking: one
pathological 500 MB page becomes many bounded segment rows
(``posexplode``-style), each a unit of work.

Invariants (contract from ``tests/testthat/test-segment.R``):
- placing every segment at its offset reconstructs the original string
  byte-for-byte;
- the mention set after stitching is invariant under the segmentation
  parameters (e.g. ``max_len=7500`` vs ``max_len=2000, overlap=750``).
"""

from __future__ import annotations

import math
from urllib.parse import quote

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from kgspark.schemas import SEGMENTS_ARRAY

NEG_INF = -1.0e18
POS_INF = 1.0e18

# RFC 3986 unreserved chars — identical to curl::curl_escape, which the
# reference uses to account for URL-escaped length (R/segment.R:29-36).
def escaped_len(s: str) -> int:
    return len(quote(s, safe=""))


def segment_string(
    x: str, max_len: int = 7990, overlap: int = 500
) -> list[tuple[int, str]]:
    """Mirror of segment() anchor math (R/segment.R:26-77).

    Returns ``[(begin_1based, segment_text), ...]``. Only call for strings
    whose escaped length exceeds ``max_len`` (the caller routes,
    R/dbpedia.R:378-383); short strings return a single segment at offset 1.
    """
    toks = x.split(" ")
    n = len(toks)
    # begin offsets in the original string: cumsum(nchar + 1) (R/segment.R:27)
    begin = [1] * n
    for j in range(1, n):
        begin[j] = begin[j - 1] + len(toks[j - 1]) + 1
    # escaped begin/end: separator space escapes to %20 => +3 (R/segment.R:30-32)
    esc_len = [escaped_len(t) for t in toks]
    begin_esc = [1] * n
    for j in range(1, n):
        begin_esc[j] = begin_esc[j - 1] + esc_len[j - 1] + 3
    end_esc = [b + e for b, e in zip(begin_esc, esc_len)]
    nchar_esc = begin_esc[-1] + esc_len[-1] - 1

    # "paper & pencil math" (R/segment.R:38)
    n_segments = math.ceil((nchar_esc - overlap) / (max_len - overlap)) + 2
    if n_segments <= 1:
        return [(1, x)]

    half = max_len // 2
    last = nchar_esc - half
    anchors: list[float] = [float(half), float(last)]
    if n_segments > 2:
        step = (last - half) / (n_segments - 1)
        anchors.extend(half + step * k for k in range(1, n_segments - 1))
        anchors.sort()

    out: list[tuple[int, str]] = []
    prev_to = -1
    for i, a in enumerate(anchors):
        if i == 0:
            frm = 0
        else:
            lo = a - half
            frm = next((j for j in range(n) if begin_esc[j] > lo), n - 1)
            # Coverage clamp: the window predicates can leave a gap between
            # one window's last token (end_esc[j] < hi) and the next window's
            # first (begin_esc[j] > lo) when token lengths approach the half
            # window — a mention in the gap would silently never be spotted
            # (Hypothesis counterexample pinned below the @given). Clamp so
            # this segment starts no later than the previous segment's last
            # token: >=1 token of overlap also covers the separator space,
            # preserving the byte-for-byte reconstruction identity the
            # reference's own test demands (tests/testthat/test-segment.R:6-36).
            frm = min(frm, max(prev_to, 0), n - 1)
        if i == len(anchors) - 1:
            to = n - 1
        else:
            hi = a + half
            to = max((j for j in range(n) if end_esc[j] < hi), default=frm)
            to = max(to, frm)
        prev_to = to
        out.append((begin[frm], " ".join(toks[frm : to + 1])))
    return out


def stitch_bounds(
    segs: list[tuple[int, str]]
) -> list[tuple[int, str, float, float]]:
    """Midpoint de-dup bounds per segment (R/dbpedia.R:422-440).

    A mention with original start ``s`` found in segment ``i`` survives iff
    ``keep_from <= s < keep_to``. First segment keeps everything left of the
    midpoint into segment 2; last keeps everything right of the midpoint out
    of its predecessor; middles keep both.
    """
    m = len(segs)
    out = []
    for i, (off, seg) in enumerate(segs):
        keep_from, keep_to = NEG_INF, POS_INF
        if m > 1:
            if i == 0:
                off_next = segs[1][0]
                keep_to = off_next + (len(seg) - off_next) / 2.0
            elif i == m - 1:
                prev_off, prev_seg = segs[i - 1]
                prev_end = prev_off + len(prev_seg) - 1
                keep_from = off + (prev_end - off) / 2.0
            else:
                prev_off, prev_seg = segs[i - 1]
                prev_end = prev_off + len(prev_seg) - 1
                keep_from = off + (prev_end - off) / 2.0
                off_next = segs[i + 1][0]
                rbound = off + len(seg) - 1
                keep_to = off_next + (rbound - off_next) / 2.0
        out.append((off, seg, keep_from, keep_to))
    return out


def segment_document(
    text: str | None, max_len: int = 7990, overlap: int = 500
) -> list[dict]:
    """Route + segment + stitch-bounds for one document (R/dbpedia.R:378-418)."""
    if text is None:
        return []
    if escaped_len(text) <= max_len:
        segs = [(1, text)]
    else:
        segs = segment_string(text, max_len=max_len, overlap=overlap)
    return [
        {"seg_off": off, "seg_text": seg, "keep_from": kf, "keep_to": kt}
        for off, seg, kf, kt in stitch_bounds(segs)
    ]


def segment_documents(
    df: DataFrame,
    text_col: str = "text",
    max_len: int = 7990,
    overlap: int = 500,
    rebalance: bool = False,
) -> DataFrame:
    """documents -> one row per (doc, segment); large docs fan out.

    Narrow map + explode by default. Explode does NOT redistribute: all
    segments of one document stay in the parent row's task, so a
    pathological page (hundreds of MB) would serialize one worker.
    ``rebalance=True`` adds a salted repartition on (doc, seg_off) right
    after the explode — one extra shuffle of the segment rows, worth it
    exactly when the crawl contains giant documents (north rule:
    large-document skew broken explicitly).
    """

    @pandas_udf(SEGMENTS_ARRAY)
    def _segment_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: segment_document(t, max_len=max_len, overlap=overlap))

    out = (
        df.withColumn("_seg", F.explode(_segment_udf(F.col(text_col))))
        .withColumn("seg_off", F.col("_seg.seg_off"))
        .withColumn("seg_text", F.col("_seg.seg_text"))
        .withColumn("keep_from", F.col("_seg.keep_from"))
        .withColumn("keep_to", F.col("_seg.keep_to"))
        .drop("_seg")
    )
    if rebalance:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        out = out.repartition(n, F.col("seg_off"), F.xxhash64("seg_text"))
    return out


def stitch_filter(spots: DataFrame, start_col: str = "start") -> DataFrame:
    """C2 segment-result stitching: pure column arithmetic, no shuffle."""
    return spots.filter(
        (F.col(start_col) >= F.col("keep_from")) & (F.col(start_col) < F.col("keep_to"))
    ).drop("keep_from", "keep_to")
