"""Property-based tests (hypothesis) for the pure kernels.

The reference's strongest tests are invariants (segment reconstruction,
segmentation-invariance of the mention set — tests/testthat/test-segment.R);
here they run over generated inputs instead of two fixtures.
"""

from hypothesis import example, given, settings, strategies as st

from kgspark.automaton import FlatMatcher
from kgspark.extract import extract_text_from_html
from kgspark.segment import segment_document, segment_string
from kgspark.synth import build_html

WORDS = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=8), min_size=30, max_size=300
)
PATTERNS = ["ab", "abc", "cd", "ab cd", "f"]


@settings(max_examples=40, deadline=None)
@given(WORDS, st.integers(80, 400), st.integers(10, 60))
@example(
    words=['a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'd',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'aa',
     'ac',
     'a',
     'ae',
     'af',
     'cc',
     'a',
     'db',
     'dd',
     'de',
     'aa',
     'aa',
     'aa',
     'cfb',
     'daa',
     'ede',
     'efb',
     'afab',
     'bbab',
     'daef',
     'dbad',
     'febf',
     'ffaf',
     'cafad',
     'cbafa',
     'ccada',
     'dfbbc',
     'ecdbe',
     'ffddd',
     'bbefbd',
     'bdddfb',
     'cdaebe',
     'fcdcbf',
     'fdeabb',
     'acdaaba',
     'afdcaec',
     'bfacfbf',
     'ccfcfef',
     'dbffaba',
     'aaadcbbc',
     'aaccbcec',
     'adbfaccc',
     'aedecdcf',
     'aefdccfe',
     'aefeffff',
     'afaccded',
     'bcdcfeae',
     'beaeeffc',
     'bffecabc',
     'cbaeeaaf',
     'cbdfeeae',
     'cddfccae',
     'daaefccc',
     'dafaaeef',
     'dafcbbfc',
     'ddbecfdc',
     'eaadcbfc',
     'eaaffacf',
     'ebfecfde',
     'eccfdbfa',
     'effafbcf',
     'faaecaec',
     'faffbbbc',
     'feadafde',
     'febceecd',
     'feddadef',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'a',
     'bb',
     'be',
     'aa',
     'aa',
     'ca',
     'ce',
     'a',
     'aa',
     'aa',
     'aad',
     'aed',
     'cbb',
     'cea',
     'dcd',
     'fab',
     'fcb',
     'fcf',
     'acda',
     'bbba',
     'caae',
     'cfea',
     'dcbe',
     'eadc',
     'ebaf',
     'efda',
     'fceb',
     'fefb',
     'bbbfb',
     'deeaf',
     'eceec',
     'efdec',
     'faace',
     'fbafa',
     'aadccd',
     'accefe',
     'caaeae',
     'ccecdf',
     'edabec',
     'efcedd',
     'faaefc',
     'cdadaad',
     'eaccabd',
     'fbdeaba',
     'fefebdc',
     'abfeebfb',
     'acdabded',
     'adabbceb',
     'bdaadedc',
     'becfedae',
     'bfcbaffa',
     'cabaafab',
     'cadecbdf',
     'cbbdebca',
     'ccddbdaa',
     'cdadacad',
     'cddcedef',
     'daadfbef',
     'daedcaca',
     'dcdcbbbc',
     'eaccdddd',
     'ebebbaeb',
     'ecbcadbb',
     'aaaaaaaa',
     'aaaaaaaa',
     'aaaaaaaa',
     'aaaaaaaa',
     'aaaaaaaa',
     'aaaaaaaa'],
    max_len=80,
    overlap=10,
).via('discovered failure')
def test_segment_reconstruction_property(words, max_len, overlap):
    if overlap >= max_len:
        overlap = max_len // 2
    x = " ".join(words)
    segs = segment_string(x, max_len=max_len, overlap=overlap)
    covered = set()
    for off, seg in segs:
        assert x[off - 1 : off - 1 + len(seg)] == seg
        covered.update(range(off - 1, off - 1 + len(seg)))
    assert covered == set(range(len(x)))


@settings(max_examples=30, deadline=None)
@given(WORDS, st.integers(100, 300))
def test_segmented_spotting_equals_direct(words, max_len):
    x = " ".join(words)
    ac = FlatMatcher(PATTERNS)
    direct = {(i + 1, p) for i, p in ac.find_word_bounded(x)}
    via = set()
    for seg in segment_document(x, max_len=max_len, overlap=max_len // 4):
        for off0, p in ac.find_word_bounded(seg["seg_text"]):
            s = seg["seg_off"] + off0
            if seg["keep_from"] <= s < seg["keep_to"]:
                via.add((s, p))
    assert via == direct


@settings(max_examples=40, deadline=None)
@given(st.text(alphabet="abc <>&\n.x", min_size=0, max_size=200))
def test_extract_roundtrip_property(text):
    # normalize to what the generator guarantees: no leading/trailing or
    # repeated whitespace within paragraphs, no empty paragraphs
    pars = [" ".join(p.split()) for p in text.split("\n")]
    norm = "\n".join(p for p in pars if p)
    assert extract_text_from_html(build_html(norm, "k")) == norm


# ---------------------------------------------------------------------------
# Codec round-trip invariants: the lossless containers must invert exactly
# on ARBITRARY generated content, not just the seeded fixtures.

import numpy as np
from hypothesis import strategies as hst
from hypothesis.extra.numpy import arrays


@settings(max_examples=25, deadline=None)
@given(
    arrays(np.uint8, hst.tuples(hst.integers(1, 12), hst.integers(1, 17),
                                hst.just(3)),
           elements=st.integers(0, 255))
)
def test_png_roundtrip_property(rgb):
    from kgspark.multimodal import _png_rgb, encode_png

    assert np.array_equal(_png_rgb(encode_png(rgb)), rgb)


@settings(max_examples=25, deadline=None)
@given(
    arrays(np.uint8, hst.tuples(hst.integers(1, 10), hst.integers(1, 14)),
           elements=st.integers(0, 7)),  # <=8 palette entries
    st.booleans(),
)
def test_gif_roundtrip_property(idx, interlace):
    from kgspark.gifcodec import decode_gif_rgb, encode_gif

    pal = (np.arange(8 * 3, dtype=np.uint8) * 31 % 256).reshape(8, 3)
    img = pal[idx]
    assert np.array_equal(decode_gif_rgb(encode_gif(img, interlace=interlace)), img)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(0, 200), min_size=1, max_size=400))
def test_cwb_huffcode_roundtrip_property(ids):
    import os
    import tempfile

    from kgspark.cwb import SYNCHRONIZATION, compress_cwb_stream, decode_block, read_hcd

    ids = np.asarray(ids, dtype=np.int64)
    d = tempfile.mkdtemp()
    compress_cwb_stream(ids, d, "word")
    hcd = read_hcd(os.path.join(d, "word.hcd"))
    syn = np.fromfile(os.path.join(d, "word.huf.syn"), dtype=">i4").astype(np.int64)
    buf = open(os.path.join(d, "word.huf"), "rb").read()
    out = []
    for blk in range(len(syn)):
        b0 = syn[blk]
        b1 = syn[blk + 1] if blk + 1 < len(syn) else len(buf)
        k = min(SYNCHRONIZATION, len(ids) - blk * SYNCHRONIZATION)
        out.append(decode_block(buf[b0:b1], k, hcd))
    assert np.array_equal(np.concatenate(out), ids.astype(np.int32))


@settings(max_examples=25, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=200), min_size=1, max_size=8),
       st.booleans())
def test_warc_record_roundtrip_property(payloads, gz):
    import gzip as _gzip

    from kgspark.warc import build_warc_record, parse_warc_bytes

    recs = [build_warc_record(f"http://x/{i}", "2026-01-01T00:00:00Z", p)
            for i, p in enumerate(payloads)]
    blob = (b"".join(_gzip.compress(r) for r in recs) if gz
            else b"".join(recs))
    parsed = parse_warc_bytes(blob)
    assert [r["payload"] for r in parsed] == payloads


@settings(max_examples=15, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=1, max_size=6),
       st.integers(1, 4), st.integers(1, 4))
def test_avi_flat_frames_roundtrip_property(colors, w, h):
    from kgspark.avicodec import decode_avi_frame_rgb, encode_avi_mjpeg

    frames = [np.full((8 * h, 8 * w, 3), c, dtype=np.uint8) for c in colors]
    avi = encode_avi_mjpeg(frames, us_per_frame=100_000)
    for i, c in enumerate(colors):
        assert (decode_avi_frame_rgb(avi, i * 100) == c).all()
