import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cantera_table_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("cantera-tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'")
    yield con
    con.close()


def result_rows(df):
    """Order-insensitive multiset of rows for comparisons."""
    return sorted(tuple(r) for r in df.collect())
