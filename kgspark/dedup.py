"""Deduplication operators for web-scale corpora.

Four families, all shuffle-disciplined and all with DuckDB-mirrorable
deterministic definitions (md5-derived hashes, never engine-native hash
functions, so the oracle can recompute signatures bit-identically):

- exact:    fingerprint group-by (one shuffle on a 128-bit key);
- MinHash:  k md5-seeded min-hashes over word-shingle sets, banded LSH
            bucket join for candidate pairs, exact Jaccard verification;
- SimHash:  bitwise majority of token hashes, banded hamming join;
- n-gram:   character-3-gram MinHash + exact Jaccard.

Scale notes: signatures are computed narrowly with ``array_min(transform())``
(no explode, no shuffle); candidate generation shuffles id-only (doc_id,
band_id, band_key) rows whose cardinality ~ n_docs * n_bands; only verified
candidate pairs ever materialize, and shingle arrays are re-attached to
pairs by doc-id join, never shipped through the band exchange. Head buckets
(boilerplate pages all hashing equal band keys) are dropped above the
per-bucket cap (``max_bucket_size``, mirrored in the DuckDB oracle;
``lsh_bucket_stats`` exposes the dropped count for lineage) — AQE skew-join
splits a skewed partition but cannot reduce a B-doc bucket's B^2 pairs, so
the cap is the real bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F
from pyspark.sql.types import StructField, StructType

from kgspark.textops import fingerprint, tokens


def release_checkpoint(df: DataFrame) -> None:
    """Frees the blocks of every ``localCheckpoint`` that ``df`` reads,
    which ``unpersist`` leaves in place; ``df`` cannot be read after."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, fingerprint, rep_id, is_dup): rep = min id per fingerprint."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
    w = fp.groupBy("fingerprint").agg(F.min(id_col).alias("rep_id"))
    return (
        fp.join(w, "fingerprint")
        .withColumn("is_dup", F.col(id_col) != F.col("rep_id"))
        .select(id_col, "fingerprint", "rep_id", "is_dup")
    )


def _hash64_expr(s):
    """Deterministic 32-bit-ish int from md5 prefix — bit-identical in
    DuckDB: cast('0x' || substr(md5(x),1,8) as bigint)."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def _word_ngrams(toks, n: int):
    """Every n-word window of ``toks`` in order, space-joined: element i is
    the window starting at token i+1, and a row with fewer than n tokens
    gets an empty array.

    ``toks`` must be a projected column, not the tokenizing expression:
    every slice and size below reads it, and an inline ``split`` would run
    once per read (2n - 1 times a row). zip_with evaluates its array
    children once per row, where an index lambda's body runs once per
    element, so the cost is linear in document length.
    """
    sh = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat_ws(" ", a, b))
    # zip_with pads the tail with nulls -> partial windows; cut them off.
    return F.slice(sh, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def word_shingles(toks, n: int = 3):
    """Distinct n-word shingles of a projected token-array column."""
    return F.array_distinct(_word_ngrams(toks, n))


def char_ngrams(t, n: int = 3):
    """Distinct n-character shingles of a projected string column (the
    caller lowercases it). A text shorter than n has none:
    ``F.sequence(1, k)`` with k <= 0 counts down, so it is guarded."""
    n_windows = F.length(t) - (n - 1)
    return F.array_distinct(
        F.when(
            n_windows >= 1,
            F.transform(F.sequence(F.lit(1), n_windows), lambda i: t.substr(i, F.lit(n))),
        ).otherwise(F.array().cast("array<string>"))
    )


# Universal-hash MinHash (one md5 per shingle + k linear permutations over a
# 32-bit prime field) — the standard trick that makes k-wise signatures k
# integer ops instead of k cryptographic hashes per shingle. Constants are
# mirrored verbatim in the DuckDB oracle.
MINHASH_P = 4294967311  # prime > 2^32; a*h + b stays < 2^38, no overflow


def minhash_perms(k: int) -> list[tuple[int, int]]:
    return [(2 * j + 3, (j * 2654435761) % MINHASH_P) for j in range(k)]


def _perm_fn(a: int, b: int):
    return lambda h: (h * a + b) % MINHASH_P


def minhash_signature(hash_col, k: int = 16):
    """k min-hashes from a pre-hashed shingle array — no explode."""
    return F.array(
        *[
            F.array_min(F.transform(hash_col, _perm_fn(a, b)))
            for a, b in minhash_perms(k)
        ]
    )


def minhash_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    shingle_words: int = 3,
    char_mode: bool = False,
) -> DataFrame:
    """(doc_id, shingles, sig) for every document with at least one shingle.

    Tokens (or the lowercased text) are one projection and each later step
    another: Catalyst keeps a projection whose column the next one reads
    more than once, so the plan splits each text once and hashes each
    shingle once, not once per permutation. The result is not cached; a
    caller that reads it twice persists it.

    Documents without shingles are dropped by a filter on the raw text: a
    filter on a projected column is pushed below the projection and
    computes it a second time. A text has one token more than whitespace
    runs (``split`` keeps empty edge tokens). ``lower`` never shortens a
    text, so filtering on ``length(text)`` differs only for a text shorter
    than n whose lowercase is longer (U+0130).
    """
    text = F.col(text_col)
    if char_mode:
        units, n_units, ngrams = F.lower(text), F.length(text), char_ngrams
    else:
        units, n_units = tokens(text), F.regexp_count(text, F.lit(r"\s+")) + 1
        ngrams = word_shingles
    hashed = (
        df.filter(n_units >= shingle_words)
        .select(F.col(id_col).alias("doc_id"), units.alias("units"))
        .select("doc_id", ngrams(F.col("units"), shingle_words).alias("shingles"))
        .withColumn("sh_hash", F.transform(F.col("shingles"), _hash64_expr))
    )
    return hashed.withColumn("sig", minhash_signature(F.col("sh_hash"), k)).drop(
        "sh_hash"
    )


DEFAULT_MAX_BUCKET = 1000


def _banded(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band_id, band_key) — id-only rows, no shingle payload."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "-",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")


def lsh_bucket_stats(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(band_id, band_key, bucket_n, dropped) — the cap's audit trail.

    ``dropped`` marks head buckets above ``max_bucket_size``; jobs count
    them (a cheap action on the already-aggregated frame) and record the
    number in the lineage manifest so capped recall is never silent."""
    counts = _banded(sigs, bands, rows_per_band).groupBy(
        "band_id", "band_key"
    ).agg(F.count(F.lit(1)).alias("bucket_n"))
    return counts.withColumn("dropped", F.col("bucket_n") > max_bucket_size)


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Banded LSH: docs agreeing on all rows of any band become a pair.

    Two scale guards, both load-bearing on a boilerplate-heavy crawl:

    - **Per-bucket pair cap**: a bucket of B docs yields B^2/2 candidate
      pairs; boilerplate pages (error pages, templates) hash to identical
      band keys, so at 10^12 docs the head bucket is the expected case,
      not the edge. Buckets above ``max_bucket_size`` are dropped entirely
      (standard MinHash practice; near-identical boilerplate is better
      handled by exact dedup upstream, which has no quadratic step).
      Size-1 buckets are dropped too — no pair can come from them. The cap
      is mirrored in the DuckDB oracle (oracles._band_sql) so results stay
      bit-identical at every scale. ``lsh_bucket_stats`` surfaces the
      dropped-bucket count for lineage.
    - **Id-only shuffle**: the band self-join carries (doc_id, band_id,
      band_key) rows — never the shingle arrays. Shingles are re-attached
      to the (few) surviving candidate pairs from the signature frame, so
      the wide payload rides a join keyed on 8-byte doc ids with
      pair-count cardinality, not the bands×docs exchange.
    """
    banded = _banded(sigs, bands, rows_per_band)
    keep = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter((F.col("bucket_n") >= 2) & (F.col("bucket_n") <= max_bucket_size))
        .select("band_id", "band_key")
    )
    slim = banded.join(keep, ["band_id", "band_key"])
    a, b = slim.alias("a"), slim.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = sigs.select("doc_id", "shingles")
    return (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", "sh_a", "sh_b")
    )


def jaccard_verified_pairs(pairs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard on the shingle sets of candidate pairs."""
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    char_mode: bool = False,
    shingle_words: int = 3,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """shingle -> minhash -> band -> bucket-join -> verify (the full path)."""
    sigs = minhash_docs(df, id_col, text_col, k=k, shingle_words=shingle_words, char_mode=char_mode)
    pairs = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=k // bands, max_bucket_size=max_bucket_size
    )
    return jaccard_verified_pairs(pairs, threshold=threshold)


# ---------------------------------------------------------------------------
# Benchmark decontamination: which corpus documents contain any n-gram of a
# (small) evaluation/benchmark set — the standard pre-training hygiene step
# that keeps test data out of training corpora.
def contamination(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits, hit_frac) for documents sharing >=1 word n-gram
    with the benchmark set.

    The benchmark side is tiny by construction (eval suites are KBs-MBs),
    so its distinct n-gram set is BROADCAST and the corpus side is one
    narrow explode + hash join + partial-agg count — no corpus self-join.
    Shingles are compared as strings (exact, oracle-mirrorable); at 10^12
    docs you would hash them first (dedup.minhash_docs has the md5-hash
    kernel) — same plan shape, 8-byte keys."""
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks")).select(
        id_col, word_shingles(F.col("toks"), n).alias("sh")
    ).withColumn("n_shingles", F.size("sh"))
    # explode_outer: an inner explode of a column makes Catalyst add a
    # size(sh) > 0 filter below the projection, which would rebuild the
    # shingles from the text; a doc without shingles gets a null shingle,
    # which the join drops.
    doc_sh = base.select(id_col, "n_shingles", F.explode_outer("sh").alias("shingle"))
    bench_sh = benchmark.select(tokens(F.col(bench_text_col)).alias("toks")).select(
        F.explode(word_shingles(F.col("toks"), n)).alias("shingle")
    ).distinct()
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col, "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            id_col,
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_shingles"), 6).alias("hit_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Connected components over near-duplicate pairs: dedup GROUPS, not just
# pairs — every document gets its component's minimum doc id as the
# canonical group id, so "keep one per group" is a trivial filter.
def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; the
    component is its minimum node, and ids keep their type.

    Min-label propagation with hooking and a pointer-jumping shortcut. Each
    round, every node v takes ``m(v) = min(L(neighbours), L(L(v)))``, and
    so does its current label L(v): that hooks every node labelled L(v)
    onto the smaller label at once. A label only ever falls and stays a
    node of v's component, so the loop ends with no cap, and at the
    fixpoint every node holds its component's minimum. A 500-node path
    takes 10 rounds, 12 with its ids shuffled (without the hook, 103).

    Every round's labels are a ``localCheckpoint``, so the plan stays one
    round deep, and an ``Observation`` counts the labels that dropped
    inside the checkpoint's own job, so convergence costs no probe job.
    The result is a ``localCheckpoint`` too: free it with
    ``release_checkpoint`` (``unpersist`` does not). Singleton documents
    never enter the edge list and are their own groups by definition."""
    pairs = pairs.select(F.col(a_col).alias("x"), F.col(b_col).alias("y"))
    n_edges = Observation()
    edges = (
        pairs.union(pairs.select("y", "x"))
        .observe(n_edges, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    node_t = edges.schema["x"].dataType
    if n_edges.get["n"] == 0:
        release_checkpoint(edges)
        return edges.sparkSession.createDataFrame(
            [], StructType([StructField("node", node_t), StructField("component", node_t)])
        )
    no_label = F.lit(None).cast(node_t)
    start = edges.groupBy(F.col("x").alias("node")).agg(
        F.least(F.col("node"), F.min("y")).alias("component")
    )
    labels = start
    while True:
        # v asks for L(neighbours) and L(L(v)); each answer goes to v and
        # to L(v)
        lookup = labels.select(F.col("node").alias("k"), F.col("component").alias("lk"))
        asks = edges.select(F.col("x").alias("v"), F.col("y").alias("k")).union(
            labels.select(F.col("node").alias("v"), F.col("component").alias("k"))
        )
        answers = asks.join(lookup, "k").join(
            lookup.select(F.col("k").alias("v"), F.col("lk").alias("own")), "v"
        )
        new = answers.select(F.inline(F.array(
            F.struct(F.col("v").alias("node"), "lk", F.col("own").alias("old")),
            F.struct(F.col("own").alias("node"), "lk", no_label.alias("old")),
        ))).groupBy("node").agg(
            F.min("lk").alias("component"), F.min("old").alias("old")
        )
        dropped = Observation()
        nxt = new.observe(
            dropped, F.count_if(F.col("component") < F.col("old")).alias("n")
        ).select("node", "component").localCheckpoint()
        if labels is not start:
            release_checkpoint(labels)
        labels = nxt
        if dropped.get["n"] == 0:
            release_checkpoint(edges)
            return labels


# ---------------------------------------------------------------------------
# SimHash
def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Bitwise-majority token hash (Charikar 2002), relational formulation:
    explode tokens, 16-bit md5-prefix hash per token, per-bit +/- counts,
    reassemble the sign vector as an integer."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long"))
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return bit_sums.select("doc_id", sim.alias("simhash"))


def simhash_bands(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """(shift, width) per band: contiguous bit slices, widths as equal as
    possible. Shared with the DuckDB oracle so band keys match exactly."""
    base, rem = divmod(bits, n_bands)
    out, shift = [], 0
    for j in range(n_bands):
        width = base + (1 if j < rem else 0)
        out.append((shift, width))
        shift += width
    return out


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 2,
    n_bands: int | None = None,
) -> DataFrame:
    """Multi-index banded hamming join (Gionis et al. pigeonhole scheme):
    split the hash into ``n_bands`` contiguous bit slices; a pair within
    hamming distance d <= n_bands - 1 is GUARANTEED to agree exactly on at
    least one slice, so the banded equi-join has recall 1 for d <=
    n_bands - 1. Default n_bands = max_hamming + 1 makes the guarantee
    match the requested radius; verification recomputes true hamming."""
    if n_bands is None:
        n_bands = max_hamming + 1
    s = simhash(df, id_col, text_col, bits=bits)
    banded = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        (F.shiftright("simhash", shift) % (1 << width)).alias("band_key"),
                    )
                    for j, (shift, width) in enumerate(simhash_bands(bits, n_bands))
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_key")
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        # verify (codegen bit_count) BEFORE the pair dedup: band collisions
        # at 16-bit simhash are dense, so filtering first shrinks the
        # dropDuplicates exchange to the true near-pair set instead of the
        # full collision set — hamming is a pure function of the pair, so
        # filter-then-dedup equals dedup-then-filter.
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Repeated n-gram span detection — substring-level dedup (the signal behind
# exact-substring deduplication, Lee et al. 2021 "Deduplicating Training
# Data Makes Language Models Better"). The reference dedups whole
# annotations only (R/dbpedia.R unique() over rows); at crawl scale the
# damaging duplication is PARTIAL — boilerplate paragraphs repeated across
# hosts. Suffix arrays don't distribute; the Spark-shaped equivalent is the
# n-gram fingerprint join below: every word n-gram is hashed, n-grams seen
# in >= min_docs distinct documents are "duplicated", and per document the
# duplicated n-gram starts are merged into maximal word-index spans.
#
# Shuffle shape at 100 TB: one hash agg over the n-gram stream keyed by the
# 8-byte hash (partial+final, the stream never carries the n-gram text
# past the map side), one equi-join of (doc, start, hash) against the
# surviving duplicate hashes (AQE-broadcast when few survive), then a
# doc-keyed window for the gaps-and-islands merge — bounded partitions.
# The per-op cost is md5 throughput (one digest per token position) —
# linear, partition-parallel, no skew. The standard refinement when even
# that is too hot is winnowing: hash only the per-window-minimal n-grams
# (sample 2/(w+1) of positions) at the cost of span-boundary resolution;
# kept out because the oracle contract here pins EXACT span arithmetic.
def dup_ngram_spans(
    df: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, span_start, span_end, n_grams) maximal duplicated spans.

    ``span_start``/``span_end`` are 1-based WORD indices of the first and
    last word covered by any duplicated n-gram; ``n_grams`` counts the
    duplicated n-gram starts merged into the span. Two n-grams merge when
    their windows overlap or touch (start <= prev_start + n).
    """
    # 60-bit md5 prefix, not the 32-bit `_hash64_expr`: a crawl shard with
    # ~10^6 distinct n-grams would see dozens of birthday collisions at 32
    # bits — each one a FALSE duplicated span. 15 hex digits (< 2^60) keeps
    # the expected collision count negligible at 10^9 n-grams per shard.
    ngram_hash = lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    # One projected token column, then one md5 per window: linear in document
    # length. A doc shorter than n tokens has no window and explodes to no
    # row, as the DuckDB oracle's generate_series(1, k <= 0) is empty. The
    # stream feeds both the duplicate-hash aggregate and the hits join, and
    # each branch recomputes it: nothing is cached, so nothing is left over.
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    grams = (
        df.select(F.col(id_col), toks.alias("toks"))
        .select(
            F.col(id_col),
            F.posexplode(F.transform(_word_ngrams(F.col("toks"), n), ngram_hash)),
        )
        .select(id_col, (F.col("pos") + 1).alias("start_idx"), F.col("col").alias("h"))
    )

    dup_hashes = (
        grams.groupBy("h")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    hits = grams.join(dup_hashes, "h").select(id_col, "start_idx")

    w = Window.partitionBy(id_col).orderBy("start_idx")
    prev = F.lag("start_idx").over(w)
    island = F.sum(
        F.when(prev.isNull() | (F.col("start_idx") > prev + n), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        hits.withColumn("_island", island)
        .groupBy(id_col, "_island")
        .agg(
            F.min("start_idx").alias("span_start"),
            (F.max("start_idx") + (n - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )
