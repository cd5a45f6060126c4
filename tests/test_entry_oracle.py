"""Driver-contract smoke + DuckDB oracle gate (mirrors the driver's check).

Full 34-query comparison is scripts/check_oracle.py; here we run entry()
plus a representative oracle subset at sf0.001 so `pytest -x -q` exercises
the same machinery the driver grades.
"""

import sys

import duckdb
import pytest

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from scripts.check_oracle import TABLES, table_hash

SF = "/root/testdata/sf0.001"

SUBSET = [
    "extract_text",
    "spot_mentions",
    "segment_stitch",
    "disambiguate_top1",
    "detect_overlap",
    "resolve_overlap",
    "canonicalize",
    "triples",
    "dedup_minhash_lsh",
    "events_sessionize",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["subj", "pred", "obj"]


def test_every_query_has_oracle_or_is_flagged():
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    # every registered query is oracle-adjudicated — no rows-only rows left
    assert set(qs) == set(osql)


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_match(spark, duck, name):
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    sdf = qs[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(osql[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"{name}: row counts differ"
    assert sorted(c.lower() for c in sdf.columns) == sorted(c.lower() for c in ocols)
    assert table_hash(sdf.columns, srows) == table_hash(ocols, orows), f"{name}: value hash differs"


def test_read_spread_sizes_a_file_uri(spark, tmp_path):
    """The spread gate sizes its input through the Hadoop FileSystem API:
    a small parquet named by a ``file://`` URI is spread over every core."""
    path = tmp_path / "docs.parquet"
    spark.range(100).coalesce(1).write.parquet(str(path))
    df = entrymod._read_spread(spark, path.as_uri())
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism > 1
