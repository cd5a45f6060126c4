"""The graph fixpoint: ``dedup.connected_components`` against a Python
union-find, and ``canonicalize.close_redirects`` (built on it) against a
Python walk of the redirect dict, including cyclic redirects."""

import random

import pytest

from kgspark import synth
from kgspark.canonicalize import close_redirects
from kgspark.dedup import connected_components, release_checkpoint
from kgspark.schemas import REDIRECTS_SCHEMA

from tests.conftest import persistent_rdd_ids


def union_find(pairs):
    """node -> minimum node of its component."""
    parent = {}

    def find(v):
        while parent.setdefault(v, v) != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def _path(n):
    return [(i, i + 1) for i in range(n - 1)]


def _graphs():
    rng = random.Random(7)
    perm = list(range(500))
    rng.shuffle(perm)
    cliques = [(a, b) for g in range(20) for a in range(g * 10, g * 10 + 10)
               for b in range(a + 1, g * 10 + 10) if (a + b) % 3]
    rand = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    return {
        "path8": _path(8),
        "path500": _path(500),
        "path500_shuffled_ids": [(perm[a], perm[b]) for a, b in _path(500)],
        "path500_reversed": [(b, a) for a, b in _path(500)],
        "stars": [(c * 100 + k, c * 100) for c in range(5) for k in range(1, 60)],
        "disjoint_cliques": cliques,
        "random": rand,
        "random_string_ids": [(f"n{a:03d}", f"n{b:03d}") for a, b in rand],
    }


GRAPHS = _graphs()


def _components(spark, pairs, ddl="doc_a long, doc_b long", parts=None):
    """node -> component from connected_components, whose ids keep the
    input's type."""
    df = spark.createDataFrame(pairs, ddl)
    if parts:
        df = df.repartition(parts)
    labels = connected_components(df)
    assert [f.dataType for f in labels.schema.fields] == [df.schema[0].dataType] * 2
    got = {r.node: r.component for r in labels.collect()}
    release_checkpoint(labels)
    return got


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_connected_components_equal_union_find(spark, name):
    pairs = GRAPHS[name]
    ddl = "doc_a string, doc_b string" if name.endswith("string_ids") else "doc_a long, doc_b long"
    assert _components(spark, pairs, ddl) == union_find(pairs)


@pytest.mark.parametrize("parts", [1, 7])
def test_connected_components_independent_of_partitioning(spark, parts):
    pairs = GRAPHS["random"]
    assert _components(spark, pairs, parts=parts) == union_find(pairs)


def test_connected_components_no_pairs(spark):
    before = persistent_rdd_ids(spark)
    labels = connected_components(spark.createDataFrame([], "doc_a long, doc_b long"))
    assert labels.columns == ["node", "component"] and labels.count() == 0
    assert persistent_rdd_ids(spark) <= before


def _plan_nodes(df):
    return len(df._jdf.queryExecution().logical().treeString().splitlines())


def test_plan_depth_independent_of_round_count(spark):
    """An 8-node path converges in 4 rounds and a 256-node path in 9; each
    round's labels are checkpointed, so the result's plan, and the plan of
    the closure built on it, are the same size after either."""
    sizes, closed_sizes = set(), set()
    for n in (8, 256):
        labels = connected_components(spark.createDataFrame(_path(n), "doc_a long, doc_b long"))
        sizes.add(_plan_nodes(labels))
        release_checkpoint(labels)
        chain = [(f"u{i}", f"u{i + 1}") for i in range(n - 1)]
        closed = close_redirects(spark.createDataFrame(chain, REDIRECTS_SCHEMA))
        closed_sizes.add(_plan_nodes(closed))
        release_checkpoint(closed)
    assert len(sizes) == 1 and len(closed_sizes) == 1


def walk_redirects(rows):
    """src -> final dst by following the (functional) redirect dict; None
    when the walk enters a cycle."""
    nxt = {}
    for src, dst in rows:
        nxt[src] = min(dst, nxt.get(src, dst))
    out = {}
    for src in nxt:
        seen, v = {src}, nxt[src]
        while v in nxt:
            if v in seen:
                v = None
                break
            seen.add(v)
            v = nxt[v]
        if v is not None:
            out[src] = v
    return out


def _closed(spark, rows):
    closed = close_redirects(spark.createDataFrame(rows, REDIRECTS_SCHEMA))
    got = {r.src_uri: r.dst_uri for r in closed.collect()}
    release_checkpoint(closed)
    return got


def _forest(seed, n=300):
    rng = random.Random(seed)
    return [(f"p{i}", f"p{rng.randrange(i)}") for i in range(1, n) if rng.random() < 0.8]


@pytest.mark.parametrize("name,rows", [
    ("synth_dim", synth.REDIRECT_ROWS),
    ("chain1000", [(f"c{i:04d}", f"c{i + 1:04d}") for i in range(1000)]),
    ("chain1000_descending_ids", [(f"c{i + 1:04d}", f"c{i:04d}") for i in range(1000)]),
    ("forest_seed1", _forest(1)),
    ("forest_seed2", _forest(2)),
])
def test_close_redirects_equal_dict_walk(spark, name, rows):
    assert _closed(spark, rows) == walk_redirects(rows)


def test_close_redirects_cycles_stay_unredirected(spark):
    rows = [
        ("a", "b"), ("b", "a"),               # 2-cycle
        ("x", "y"), ("y", "z"), ("z", "x"),   # 3-cycle
        ("s", "s"),                           # self-loop
        ("t", "c1"), ("c1", "c2"), ("c2", "c1"),  # tail into a cycle
        ("m", "n"), ("n", "o"),               # an ordinary chain
    ]
    got = _closed(spark, rows)
    assert got == {"m": "o", "n": "o"} == walk_redirects(rows)


def test_close_redirects_keeps_min_dst_per_src(spark):
    """Redirects are a function: a source with two targets keeps the
    smaller one, and its chain is followed from there."""
    rows = [("a", "c"), ("a", "b"), ("b", "d")]
    assert _closed(spark, rows) == {"a": "d", "b": "d"} == walk_redirects(rows)
