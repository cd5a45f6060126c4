"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force top-k neighbors for a (small) query set —
  broadcast the queries, one narrow pass over the corpus, per-query window
  top-k. The dot product stays JVM-side via ``aggregate(zip_with(...))``.
- ``hyperplane_lsh_topk``: the scale path — deterministic seeded random
  hyperplanes bucket the corpus (sign sketch); queries probe only their own
  bucket (plus optional 1-bit-flip neighbors), turning the cross join into
  an equi-join. Recall < 1 by construction; the brute-force operator is the
  correctness baseline.
- ``ivf_topk``: the coarse-quantizer scale path (IVF) — a deterministic
  driver-trained k-means codebook partitions the corpus into cells; queries
  probe only their ``nprobe`` nearest cells. Centroids are plain literals
  shared verbatim with the DuckDB oracle.
- ``embedding_near_duplicates``: corpus self-pairs above a cosine threshold
  via the same sketch buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pair_dot_udf():
    """Arrow-batched dot product for double unit vectors.

    ``zip_with``/``aggregate`` are CodegenFallback — evaluated interpreted
    at ~3 us/row, which dominates pair scoring once candidates reach
    millions (and unrolling the dot into 64 element_at products blows the
    codegen method limit, which is slower still). The numpy kernel
    accumulates column-by-column (``acc += A[:,i]*B[:,i]``) — the exact
    left-to-right IEEE addition sequence of the fold and of DuckDB's
    list_dot_product, vectorized across the row batch — so the rounded
    similarity, and therefore the oracle hash, is bit-identical.
    """
    @pandas_udf("double")
    def pair_dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        A = np.stack(va.values)
        B = np.stack(vb.values)
        acc = np.zeros(len(va), dtype=np.float64)
        for i in range(A.shape[1]):
            acc += A[:, i] * B[:, i]
        return pd.Series(acc)

    return pair_dot


SIG_WORD_BITS = 62  # DuckDB's BIGINT << overflows at shift 63; 62 is safe on both engines


def hamming_cutoff(threshold: float, sig_bits: int, slack: float = 3.0) -> int:
    """Max signature hamming distance a cosine->=threshold pair can show,
    up to ``slack`` standard deviations of the sign-sketch binomial.

    For a pair at angle theta each of the ``sig_bits`` independent random
    hyperplanes separates it with p = theta/pi, so its hamming distance is
    Binomial(sig_bits, p); mean + slack*sd is a cutoff a true pair clears
    with probability Phi(slack) (~0.9987 at 3.0). Shared verbatim by the
    Spark operator and the DuckDB oracle generator so both prune the same
    candidate pairs.
    """
    import math

    p = math.acos(threshold) / math.pi
    mean = sig_bits * p
    sd = math.sqrt(sig_bits * p * (1.0 - p))
    return int(math.ceil(mean + slack * sd))


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def _sketch_sig_udf(
    planes: list[list[float]], n_planes: int, n_tables: int,
    sig_planes: list[list[float]] | None,
):
    """Arrow-batched fused kernel: per vector, all ``n_tables`` bucket ids
    AND (optionally) the wide sign signature in one JVM->Python crossing.

    Replaces ``n_tables x n_planes`` interpreted ``aggregate(zip_with())``
    folds per row (CodegenFallback, ~50 us each) plus a second UDF pass
    for the signature. Dot products accumulate column-by-column — the
    left-to-right IEEE sequence of the fold and of DuckDB's
    list_dot_product — and the bucket sign test applies the same
    round-to-6 the relational expression used, so bucket ids and
    signature words are bit-identical to the oracle's by construction.
    """
    P = np.array(planes, dtype=np.float64)  # (n_tables*n_planes, dim)
    S = (
        np.array(sig_planes, dtype=np.float64)
        if sig_planes is not None
        else None
    )
    n_words = (
        (len(sig_planes) + SIG_WORD_BITS - 1) // SIG_WORD_BITS
        if sig_planes is not None
        else 0
    )

    @pandas_udf("struct<buckets:array<int>, sig:array<long>>")
    def sketch(vecs: pd.Series) -> pd.DataFrame:
        A = np.stack(vecs.values).astype(np.float64)  # (batch, dim)
        accP = np.zeros((len(vecs), P.shape[0]), dtype=np.float64)
        for i in range(P.shape[1]):
            accP += A[:, i : i + 1] * P[:, i]
        sides = np.round(accP, 6) > 0  # same rounded sign test as the SQL
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        buckets = np.zeros((len(vecs), n_tables), dtype=np.int32)
        for t in range(n_tables):
            buckets[:, t] = sides[:, t * n_planes : (t + 1) * n_planes] @ weights
        out = {"buckets": list(buckets)}
        if S is not None:
            accS = np.zeros((len(vecs), S.shape[0]), dtype=np.float64)
            for i in range(S.shape[1]):
                accS += A[:, i : i + 1] * S[:, i]
            bits = accS > 0  # raw sign — matches the oracle's unrounded test
            words = np.zeros((len(vecs), n_words), dtype=np.int64)
            for b in range(S.shape[0]):
                w, off = divmod(b, SIG_WORD_BITS)
                words[:, w] |= bits[:, b].astype(np.int64) << off
            out["sig"] = list(words)
        else:
            out["sig"] = [None] * len(vecs)
        return pd.DataFrame(out)

    return sketch


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _pair_cosine_udf():
    """Arrow-batched cosine for candidate pairs — replaces three
    interpreted aggregate/zip_with folds per row (dot + two norms). Each
    accumulation runs column-by-column, the left-to-right IEEE sequence
    of the fold and of DuckDB's list_dot_product, so the rounded
    similarity is bit-identical to the relational expression."""

    @pandas_udf("double")
    def pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        A = np.stack(va.values).astype(np.float64)
        B = np.stack(vb.values).astype(np.float64)
        n = len(va)
        dot = np.zeros(n, dtype=np.float64)
        na = np.zeros(n, dtype=np.float64)
        nb = np.zeros(n, dtype=np.float64)
        for i in range(A.shape[1]):
            dot += A[:, i] * B[:, i]
            na += A[:, i] * A[:, i]
            nb += B[:, i] * B[:, i]
        return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))

    return pair_cos


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).

    Output: (query_id, neighbor_id, rank, sim). sim rounded to 6 decimals;
    rank ties break on neighbor_id for determinism.
    """
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    joined = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    ).crossJoin(F.broadcast(q))
    sims = joined.filter(F.col("neighbor_id") != F.col("query_id")).withColumn(
        "sim", F.round(_pair_cosine_udf()(F.col("qvec"), F.col("nvec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).round(6).tolist()


def sketch_expr(vec_col, planes: list[list[float]]):
    """Sign sketch: integer bucket id from hyperplane sides.

    The dot product is rounded to 6 decimals before the sign test so the
    DuckDB oracle (list_dot_product over the same plane constants) lands in
    the same bucket even when summation order differs at the last ulp.
    """
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(v)) for v in plane])
        side = F.round(_dot(vec_col, arr), 6) > 0
        bucket = bucket + F.when(side, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k via multi-table sign LSH (the standard recall
    lever: L independent tables of b hyperplanes each; a pair is a
    candidate if it collides in ANY table, P = 1-(1-p^b)^L). The probe is
    an equi-join on (table, bucket) — never a cross join — and the
    per-vector cost is L narrow sketch expressions, so the corpus side
    scales linearly. ``n_tables=1`` is the single-probe special case.

    ``multiprobe=True`` additionally probes every 1-bit-flip neighbor of
    the query's bucket in each table (b extra probes per table). A near
    neighbor's sketch most likely differs in the single plane it straddles,
    so 1-bit probes recover most of the recall that b-bit bucketing loses —
    at query-side cost only (the query set is tiny and broadcast; the
    corpus side is untouched)."""
    planes = _hyperplanes(dim, n_planes * n_tables, seed)
    tables = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    sketch_expr(
                        F.col(vec_col), planes[t * n_planes : (t + 1) * n_planes]
                    ).alias("bucket"),
                )
                for t in range(n_tables)
            ]
        )
    ).alias("tb")
    sk = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"), tables
    ).select("neighbor_id", "nvec", "tb.tbl", "tb.bucket")
    q = sk.filter(F.col("neighbor_id").isin(query_ids)).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("nvec").alias("qvec"),
        F.col("tbl").alias("qtbl"),
        F.col("bucket").alias("qbucket"),
    )
    if multiprobe:
        flips = [0] + [1 << i for i in range(n_planes)]
        q = q.withColumn(
            "qbucket",
            F.explode(
                F.array(*[F.col("qbucket").bitwiseXOR(F.lit(f)) for f in flips])
            ),
        )
    cand = sk.join(
        F.broadcast(q),
        (F.col("tbl") == F.col("qtbl"))
        & (F.col("bucket") == F.col("qbucket"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.withColumn("sim", F.round(_pair_cosine_udf()(F.col("qvec"), F.col("nvec")), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 10,
    seed: int = 42,
    sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic driver-side Lloyd k-means over a bounded sample.

    The codebook is a DIM, not a fact: training touches at most ``sample``
    vectors (taken in vec_id order, so reruns see the same rows — at
    10^12 vectors you would persist the codebook like the lexicon
    artifact and refresh it offline). kmeans++-style seeding from a fixed
    RandomState; centroids rounded to 6 decimals so they embed as exact
    literals in both the Spark plan and the DuckDB oracle SQL.
    """
    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    X = np.array([r[vec_col] for r in rows], dtype=np.float64)
    return lloyd_kmeans(X, n_centroids=n_centroids, iters=iters, seed=seed)


def lloyd_kmeans(
    X: "np.ndarray", n_centroids: int = 16, iters: int = 10, seed: int = 42
) -> list[list[float]]:
    """numpy Lloyd core — shared by the Spark trainer and the DuckDB
    oracle generator so both sides embed the identical codebook."""
    rng = np.random.RandomState(seed)
    cents = [X[rng.randint(len(X))]]
    for _ in range(1, n_centroids):  # kmeans++ seeding
        d2 = np.min([((X - c) ** 2).sum(axis=1) for c in cents], axis=0)
        p = d2 / d2.sum() if d2.sum() > 0 else None
        cents.append(X[rng.choice(len(X), p=p)])
    C = np.array(cents)
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(n_centroids):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
    return np.round(C, 6).tolist()


def _cell_expr(vec_col, centroids: list[list[float]]):
    """Nearest-centroid cell id: argmin of 6dp-rounded squared L2 distance,
    first occurrence on ties — identical semantics to the oracle's
    list_position(l, list_min(l))."""
    dists = F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(
                        vec_col,
                        F.array(*[F.lit(float(v)) for v in c]),
                        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            )
            for c in centroids
        ]
    )
    return F.array_position(dists, F.array_min(dists)).cast("int")


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest-centroid
    cell; each query scores only the vectors of its ``nprobe`` nearest
    cells. The probe is an equi-join on the cell id — the standard inverted
    -file coarse quantizer (the non-LSH scale path the reference-class
    pipelines use), with recall measured against ``cosine_topk``.

    Scale shape: cell assignment is one narrow expression per corpus row
    (C distance folds, C = codebook size); the query side is tiny and
    broadcast; no cross join anywhere. At 10^12 vectors the cell id
    doubles as the partition/bucket key for the materialized index table.
    """
    n_centroids = len(centroids)
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        _cell_expr(F.col(vec_col), centroids).alias("cell"),
    )
    # query side: all C distances, take the nprobe smallest (ties on cell id)
    qdists = F.array(
        *[
            F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("qvec"),
                            F.array(*[F.lit(float(v)) for v in c]),
                            lambda x, y: (x.cast("double") - y)
                            * (x.cast("double") - y),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    ),
                    6,
                ).alias("d"),
                F.lit(j + 1).alias("cell"),
            )
            for j, c in enumerate(centroids)
        ]
    )
    q = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.slice(F.array_sort(qdists), 1, nprobe).alias("probes"),
        )
        .select(
            "query_id",
            "qvec",
            F.explode(F.transform(F.col("probes"), lambda p: p["cell"])).alias("cell"),
        )
    )
    c_al, q_al = corpus.alias("c"), q.alias("q")
    cand = c_al.join(
        F.broadcast(q_al),
        (F.col("c.cell") == F.col("q.cell"))
        & (F.col("c.neighbor_id") != F.col("q.query_id")),
    ).select("q.query_id", "q.qvec", "c.neighbor_id", "c.nvec")
    scored = cand.withColumn("sim", F.round(_pair_cosine_udf()(F.col("qvec"), F.col("nvec")), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def lsh_recall(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    multiprobe: bool = False,
) -> DataFrame:
    """recall@k of the LSH-bucketed ANN vs the exact brute-force top-k.

    (query_id, n_hits, recall) — quantifies the approximation so the scale
    path is measured, not assumed. Both operands are deterministic, so the
    DuckDB oracle recomputes the identical number.
    """
    brute = cosine_topk(embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col)
    approx = hyperplane_lsh_topk(
        embeddings, query_ids, k=k, n_planes=n_planes, n_tables=n_tables,
        seed=seed, id_col=id_col, vec_col=vec_col, dim=dim, multiprobe=multiprobe,
    )
    hits = brute.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
    )
    per_q = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hits"))
    base = brute.groupBy("query_id").agg(F.count(F.lit(1)).alias("_n_brute"))
    return (
        base.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("_n_brute"), 6
            ).alias("recall"),
        )
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 4,
    n_tables: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    exact: bool = False,
    multiprobe: bool = False,
    hamming_prefilter: bool = False,
    sig_bits: int = 248,
    sig_seed: int = 1042,
    sig_slack: float = 3.0,
) -> DataFrame:
    """Pairs with cosine >= threshold.

    Default: multi-table sketch buckets — candidates collide in some
    table's bucket, so the join is an equi-join on (tbl, bucket) that
    scales like LSH dedup, never all-pairs. ``exact=True`` is the O(n²)
    baseline kept for recall measurement on small slices; at corpus scale
    only the bucketed path is runnable.

    ``multiprobe=True`` additionally probes every 1-bit-flip of ONE side's
    bucket (b extra probes per table on the probe side only — the other
    side stays L rows/vector): a near pair whose sketches differ in
    exactly one plane then still collides. One-sided probing suffices:
    for any pair (x, y) with vid x < y, x is always the probe side, so
    every hamming-<=1 table miss is recovered. Still an equi-join.

    The bucket join is **id-only**: candidate rows are (tbl, bucket,
    vec_a, vec_b) triples of ints, never the embedding arrays — with L
    tables and f probes the join emits O(L·f·collisions) rows, and
    carrying two dim-length float arrays on each (≈1 KB at dim=64) made
    the shuffle ~40x wider than the keys. Vectors are re-attached to the
    deduped pair set (pair-count cardinality) by two joins on the 8-byte
    vid, exactly like dedup.lsh_candidate_pairs.

    Scoring is a dot product over UNIT vectors: normalization happens once
    per vector (n rows) instead of twice per candidate pair (O(n²) rows at
    this threshold — LSH prunes little at cosine 0.4), cutting the
    interpreted per-pair array math to a third. The DuckDB oracle mirrors
    the same normalize-then-dot formulation so rounding stays identical.

    ``hamming_prefilter=True`` inserts a wide-signature gate between the
    bucket join and the exact dot: each vector gets a ``sig_bits``-bit
    sign signature ONCE (Arrow kernel, 4 longs at 248 bits), the words
    ride the bucket join (32 bytes vs the ~1 KB vectors the id-only join
    exists to avoid), and a candidate survives only if the signatures'
    hamming distance <= ``hamming_cutoff(threshold, sig_bits, sig_slack)``
    — pure codegen bit_count(xor) per word. At a weak threshold like 0.4
    the 16-bucket tables pass ~94% of all pairs to the scorer; the
    signature estimate concentrates (sd ~7.7 bits at 248) and cuts the
    Arrow-scored pairs ~8x while a true pair at the exact threshold
    clears the 3-sigma cutoff with p ~0.9987 (measured recall vs exact
    stays 1.0 at sf0.01). The DuckDB oracle applies the identical gate
    (same planes, same cutoff), so the correctness hash is unaffected by
    construction; at 10^12 vectors this is what keeps the scorer's input
    proportional to the true near-dup density instead of the bucket
    collision count.
    """
    raw = embeddings.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    # unit vectors for pair scoring; the SKETCH stays on the raw vector so
    # bucket values keep matching the oracle's raw-vector sign test exactly.
    unit = raw.select(
        "vid", "vec", _norm(F.col("vec")).alias("_nrm")
    ).select(
        "vid",
        F.transform(F.col("vec"), lambda x: x.cast("double") / F.col("_nrm")).alias(
            "uvec"
        ),
    )
    if exact:
        a, b = unit.alias("a"), unit.alias("b")
        pairs = a.join(b, F.col("a.vid") < F.col("b.vid")).select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.col("a.uvec").alias("_va"),
            F.col("b.uvec").alias("_vb"),
        )
    else:
        planes = _hyperplanes(dim, n_planes * n_tables, seed)
        n_words = (sig_bits + SIG_WORD_BITS - 1) // SIG_WORD_BITS
        sig_cols: list[str] = (
            [f"_s{w}" for w in range(n_words)] if hamming_prefilter else []
        )
        # ONE Arrow crossing computes every table's bucket and the wide
        # signature together (see _sketch_sig_udf) — the previous plan
        # evaluated n_tables x n_planes interpreted folds per row plus a
        # second UDF for the signature.
        fused = _sketch_sig_udf(
            planes, n_planes, n_tables,
            _hyperplanes(dim, sig_bits, sig_seed) if hamming_prefilter else None,
        )
        base = raw.withColumn("_sk", fused(F.col("vec"))).select(
            "vid",
            *[
                F.element_at(F.col("_sk.sig"), w + 1).alias(c)
                for w, c in enumerate(sig_cols)
            ],
            F.col("_sk.buckets").alias("_buckets"),
        )
        sk = base.select(
            "vid",
            *sig_cols,
            F.posexplode(F.col("_buckets")).alias("tbl", "bucket"),
        ).select("vid", *sig_cols, "tbl", "bucket")
        probe = sk
        if multiprobe:
            flips = [0] + [1 << i for i in range(n_planes)]
            probe = sk.withColumn(
                "bucket",
                F.explode(
                    F.array(*[F.col("bucket").bitwiseXOR(F.lit(f)) for f in flips])
                ),
            )
        a, b = probe.alias("a"), sk.alias("b")
        joined = a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        if hamming_prefilter:
            cutoff = hamming_cutoff(threshold, sig_bits, sig_slack)
            hamming = None
            for c in sig_cols:
                term = F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}")))
                hamming = term if hamming is None else hamming + term
            joined = joined.filter(hamming <= F.lit(cutoff))
        cand = (
            joined.select(
                F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b")
            )
            .dropDuplicates(["vec_a", "vec_b"])
        )
        pairs = cand.join(
            unit.select(F.col("vid").alias("vec_a"), F.col("uvec").alias("_va")),
            "vec_a",
        ).join(
            unit.select(F.col("vid").alias("vec_b"), F.col("uvec").alias("_vb")),
            "vec_b",
        )
    return (
        pairs.withColumn("sim", F.round(_pair_dot_udf()(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


def quantize_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: (vec_id, scale, qvec).

    The standard 4x storage/bandwidth reduction for a crawl-scale
    embedding store (dot products stay proportional under per-vector
    symmetric scaling). scale = 127/max|x|; q_i = floor(x_i*scale + 0.5)
    — floor(+0.5) instead of round() because Java and libm round()
    disagree on half-way cases across engines, while floor of IEEE
    products is bit-deterministic everywhere. All-zero vectors quantize
    to zeros with scale 0. Pure column expressions, zero shuffle.
    """
    vec = F.col(vec_col)
    maxabs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0))
    q = F.transform(
        vec, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("int")
    )
    return embeddings.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        q.alias("qvec"),
    )
