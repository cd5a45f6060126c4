import pytest

from kgspark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="kgspark-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def persistent_rdd_ids(spark):
    """Ids of the RDDs the context holds persisted. The context holds them
    weakly, so an unreachable one left by an earlier test may drop out at
    any GC: compare the ids a call adds, not the count."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def rows_as_tuples(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())
