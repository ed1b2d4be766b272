from __future__ import annotations

import pytest

from pdxbldgimport_spark import oracle
from pdxbldgimport_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = oracle.duck_views(SF_ORACLE)
    yield con
    con.close()


def compare(spark_df, duck_con, sql: str):
    """Order-insensitive exact comparison of a Spark result vs DuckDB;
    returns the Spark result as pandas."""
    sp = spark_df.toPandas()
    msg = oracle.diff(sp, duck_con.sql(sql).df())
    assert msg is None, msg
    return sp
