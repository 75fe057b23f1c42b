"""Connector (Python DataSource over DuckDB) unit tests: pushdown
clause generation, partition planning, and scan round-trip."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, In, StringContains

from starrocks_spark.sources.connector import DuckDBReader, _duck_schema


@pytest.fixture()
def duck_db(tmp_path):
    path = str(tmp_path / "test_conn.duckdb")
    con = duckdb.connect(path)
    con.execute(
        "CREATE TABLE t AS SELECT range AS k, 'v' || (range % 3) AS v "
        "FROM range(100)"
    )
    con.close()
    return path


def test_schema_discovery(duck_db):
    assert _duck_schema(duck_db, "t") == "k long, v string"


def test_push_filters_split_supported_unsupported(duck_db):
    r = DuckDBReader({"path": duck_db, "table": "t"}, None)
    residual = list(r.pushFilters([
        EqualTo(("v",), "v1"),
        GreaterThan(("k",), 10),
        In(("k",), (1, 2, 3)),
        StringContains(("v",), "1"),  # not supported → back to Spark
    ]))
    assert r.where == ['"v" = \'v1\'', '"k" > 10', '"k" IN (1, 2, 3)']
    assert len(residual) == 1 and isinstance(residual[0], StringContains)


def test_range_partitions_cover_all_rows(duck_db):
    r = DuckDBReader(
        {"path": duck_db, "table": "t",
         "partitioncolumn": "k", "numpartitions": "4"},
        None,
    )
    parts = r.partitions()
    assert len(parts) == 4
    bounds = [(p.lo, p.hi) for p in parts]
    assert bounds[0][0] == 0 and bounds[-1][1] >= 100
    # slices are disjoint and contiguous
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert hi == lo


def test_scan_roundtrip_with_pushdown(spark, duck_db):
    from starrocks_spark.sources import connector

    connector.register(spark)
    df = (
        spark.read.format("duckdb")
        .option("path", duck_db).option("table", "t")
        .option("partitionColumn", "k").option("numPartitions", "3")
        .load()
        .filter("v = 'v0' AND k < 30")
    )
    rows = sorted(r["k"] for r in df.collect())
    assert rows == [k for k in range(30) if k % 3 == 0]


def test_sink_removes_its_staging_dir(spark, duck_db, tmp_path):
    """A sink write stages parquet parts beside the database file by
    default; the commit loads them and removes the staging dir."""
    from starrocks_spark.sources import connector

    connector.register(spark)
    spark.range(10).selectExpr("id AS k", "'w' AS v").write \
        .format("duckdb").mode("append") \
        .option("path", duck_db).option("table", "t").save()
    assert os.listdir(tmp_path) == ["test_conn.duckdb"]
    with duckdb.connect(duck_db) as con:
        assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 110
