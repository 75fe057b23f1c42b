"""Table catalog: registers the benchmark parquet tables as temp views.

Reference analog: the FE catalog (fe/fe-core/.../catalog/) resolving
table names to tablet scans. Here a table is a parquet directory and a
scan is Spark's vectorized parquet reader, which already provides the
reference's zone-map / dictionary / bloom pruning via row-group stats.

Views are registered once per (session, sf_dir, table), like the
reference FE resolving names against a catalog it already holds:
``register_tables`` keeps the JVM view relation each registration
created and, on later calls, re-registers only a view that is missing
or was replaced (another sf_dir, a drop, a new session, or anyone
else's ``createOrReplaceTempView``).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# DataFrame-HANDLE cache: (session, dir, table) → the analyzed scan.
# This caches METADATA only — the unresolved plan + schema, like the
# reference FE's table catalog — never rows: every action still scans
# the parquet input. Without it each query re-pays file listing +
# footer schema inference + py4j per table (~30-60 ms × 2-5 tables ×
# 180+ bench queries). Keyed on the live session OBJECT (`is` check)
# so a restarted session can never serve a stale handle.
_DF_CACHE: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark), sf_dir, name)
    hit = _DF_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    df = _load_table(spark, sf_dir, name)
    _DF_CACHE[key] = (spark, df)
    return df


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Declarative read → Catalyst gets filter pushdown,
    column pruning and partition pruning for free.

    events.ts has shipped both as parquet TIMESTAMP(NANOS) — which
    Spark's reader only accepts as a raw long (nanosAsLong) — and as
    plain TIMESTAMP(MICROS). Normalize on the actual read-back type so
    either vintage of the testdata behaves like a normal TimestampType
    (nanos→micros truncation matches DuckDB).
    """
    if name == "events":
        # nanosAsLong lives in session.py's static conf for get_spark()
        # sessions; the idempotent set below covers externally-built
        # sessions (the driver passes its own). The flag is harmless
        # globally — events is the only table with NANOS timestamps.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # NANOS vintage
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # MICROS vintage
            # instant semantics (unix_micros etc.) need TimestampType;
            # identical wall-clock under the UTC session the oracle
            # comparison already requires.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Register-once memo, same key as _DF_CACHE → the JVM view relation
# (Option[TemporaryViewRelation]) our registration left in the session
# catalog. Re-registering all ten views cost 43-67 ms per starrocks_sql
# call; checking them costs one getRawTempView lookup and one equals
# per table (~3 ms for ten), because Scala's case-class equals tests
# reference identity first.
_VIEWS: dict[tuple[int, str, str], tuple[SparkSession, Any]] = {}


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, DataFrame]:
    """Register every benchmark table as a temp view; returns the DataFrames.

    A view this function registered earlier for the same session and
    ``sf_dir`` that is still in the session catalog is left alone.
    """
    jcatalog = spark._jsparkSession.sessionState().catalog()
    dfs = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        key = (id(spark), sf_dir, name)
        hit = _VIEWS.get(key)
        if (hit is None or hit[0] is not spark
                or not jcatalog.getRawTempView(name).equals(hit[1])):
            df.createOrReplaceTempView(name)
            _VIEWS[key] = (spark, jcatalog.getRawTempView(name))
        dfs[name] = df
    return dfs
