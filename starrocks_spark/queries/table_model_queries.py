"""Table-model queries: exercise the managed-table layer (tables/
models.py) end-to-end — multi-batch ingest with model semantics, DML,
compaction — and read the final state back for the oracle to check.

Reference coverage (SURVEY.md §1.1, §2.13):
- DUP_KEYS append / AGG_KEYS ingest rollup / PRIMARY_KEYS upsert
  (gensrc/thrift/Types.thrift:459-462, catalog/OlapTable.java)
- DELETE on PK tables (StarRocks.g4:1367, delete-vector semantics)
- MERGE INTO (StarRocks.g4:1372, sql/MergeIntoPlanner.java)

Determinism: double value columns go through the fixed-point policy
(_util.fixed → DECIMAL(38,0)) *at ingest*, so multi-batch partial
sums are exact integers and batch order cannot change results — the
same reason the reference's AGG_KEYS SUM columns are exact types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datetime import date

from starrocks_spark.catalog import load_table
from starrocks_spark.scratch import scratch_root
from starrocks_spark.queries._util import dsum, fixed, sql_dsum, sql_fixed
from starrocks_spark.tables.models import ManagedTable, TableModel
from starrocks_spark.tables.partitioning import RangePartitioning

_SCALE = 10_000.0


def table_agg_keys_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGG_KEYS table keyed (user_id, event_type) with SUM/COUNT value
    columns, ingested in 3 batches (each batch pre-aggregated at
    ingest — map-side combine before storage), then read with the
    query-time cross-rowset merge."""
    events = load_table(spark, sf_dir, "events")
    prepared = events.select(
        "event_id", "user_id", "event_type",
        fixed(F.col("value")).alias("value_f"),
        F.lit(1).cast("long").alias("n_events"),
    )
    t = ManagedTable.create(
        spark, TableModel.AGG_KEYS, ["user_id", "event_type"],
        agg_spec={"value_f": "sum", "n_events": "sum"},
    )
    for i in range(3):
        # split on event_id so the SAME key appears in several
        # rowsets — forces the query-time cross-rowset merge
        t.insert(prepared.filter(F.col("event_id") % 3 == i))
    t.compact()  # fold rowsets — read-after must be identical
    return (
        t.read()
        .select(
            "user_id", "event_type",
            (F.col("value_f").cast("double") / F.lit(_SCALE))
            .alias("sum_value"),
            "n_events",
        )
    )


_AGG_KEYS_SQL = f"""
SELECT user_id, event_type,
       {sql_dsum('value')} AS sum_value,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id, event_type
"""


def table_primary_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIMARY_KEYS table on user_id (version = ts, event_id): 3
    upsert batches, then DELETE WHERE the surviving row is a 'view'
    event — merge-on-write + delete-vector semantics."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    t = ManagedTable.create(
        spark, TableModel.PRIMARY_KEYS, ["user_id"],
        version_cols=["ts", "event_id"],
    )
    for i in range(3):
        t.insert(events.filter(F.col("event_id") % 3 == i))
    t.delete("event_type = 'view'")
    return t.read().select(
        "user_id",
        F.unix_micros("ts").alias("last_us"),
        "event_id",
        "event_type",
        fixed(F.col("value")).cast("long").alias("value_f"),
    )


_PRIMARY_SQL = f"""
SELECT user_id, epoch_us(ts) AS last_us, event_id, event_type,
       CAST({sql_fixed('value')} AS BIGINT) AS value_f
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1 AND event_type <> 'view'
"""


def table_merge_into_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO customer: per-customer order totals as source;
    matched rows add the delta to c_acctbal, source keys shifted out
    of range insert as new customers. One full-outer-join plan."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    src = (
        orders.groupBy("o_custkey")
        .agg(F.sum(fixed(F.col("o_totalprice"))).alias("delta_f"))
        .select(
            F.when(F.col("o_custkey") % 10 == 0,
                   F.col("o_custkey") + 10_000_000)
            .otherwise(F.col("o_custkey")).alias("c_custkey"),
            "delta_f",
            F.lit("MERGED").alias("c_name"),
            F.lit(-1).cast("int").alias("c_nationkey"),
            (F.col("delta_f").cast("double") / F.lit(_SCALE))
            .alias("c_acctbal"),
            F.lit("NEW").alias("c_mktsegment"),
        )
    )
    t = ManagedTable.create(spark, TableModel.PRIMARY_KEYS, ["c_custkey"])
    t.insert(customer)
    t.merge_into(
        src,
        update_set={
            "c_acctbal": f"t.c_acctbal + CAST(s.delta_f AS DOUBLE) / {_SCALE!r}"
        },
    )
    return t.read().select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        fixed(F.col("c_acctbal")).cast("long").alias("acctbal_f"),
    )


_MERGE_SQL = f"""
WITH src AS (
  SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey + 10000000
              ELSE o_custkey END AS k,
         CAST(SUM({sql_fixed('o_totalprice')}) AS DOUBLE) / 10000.0 AS delta
  FROM orders
  GROUP BY 1
)
SELECT COALESCE(t.c_custkey, s.k) AS c_custkey,
       CASE WHEN t.c_custkey IS NULL THEN 'MERGED' ELSE t.c_name END AS c_name,
       CASE WHEN t.c_custkey IS NULL THEN -1 ELSE t.c_nationkey END
         AS c_nationkey,
       CASE WHEN t.c_custkey IS NULL THEN 'NEW' ELSE t.c_mktsegment END
         AS c_mktsegment,
       CAST({sql_fixed('''CASE
              WHEN t.c_custkey IS NOT NULL AND s.k IS NOT NULL
                THEN t.c_acctbal + s.delta
              WHEN s.k IS NULL THEN t.c_acctbal
              ELSE s.delta END''')} AS BIGINT) AS acctbal_f
FROM customer t
FULL OUTER JOIN src s ON t.c_custkey = s.k
"""


def table_merge_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO with the full WHEN surface (sql/MergeIntoPlanner.java):
    ordered matched clauses with conditions — frequent customers get a
    VIP update, negative-balance one-off customers are deleted — plus a
    conditioned NOT MATCHED insert. First-matching-clause-wins."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    src = (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(fixed(F.col("o_totalprice"))).alias("delta_f"),
        )
        .select(
            F.when(F.col("o_custkey") % 10 == 0,
                   F.col("o_custkey") + 10_000_000)
            .otherwise(F.col("o_custkey")).alias("c_custkey"),
            "n_orders",
            "delta_f",
            F.lit("MERGED").alias("c_name"),
            F.lit(-1).cast("int").alias("c_nationkey"),
            (F.col("delta_f").cast("double") / F.lit(_SCALE))
            .alias("c_acctbal"),
            F.lit("NEW").alias("c_mktsegment"),
        )
    )
    t = ManagedTable.create(spark, TableModel.PRIMARY_KEYS, ["c_custkey"])
    t.insert(customer)
    t.merge_into(
        src,
        when_matched=[
            {"condition": "s.n_orders >= 10",
             "update": {
                 "c_acctbal":
                     f"t.c_acctbal + CAST(s.delta_f AS DOUBLE) / {_SCALE!r}",
                 "c_mktsegment": "'VIP'",
             }},
            {"condition": "t.c_acctbal < 0", "delete": True},
        ],
        insert_condition="s.c_custkey % 3 = 0",
    )
    return t.read().select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        fixed(F.col("c_acctbal")).cast("long").alias("acctbal_f"),
    )


_MERGE_COND_SQL = f"""
WITH src AS (
  SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey + 10000000
              ELSE o_custkey END AS k,
         COUNT(*) AS n_orders,
         CAST(SUM({sql_fixed('o_totalprice')}) AS DOUBLE) / 10000.0 AS delta
  FROM orders
  GROUP BY 1
), merged AS (
  SELECT t.c_custkey AS tk, s.k AS sk, t.c_name, t.c_nationkey,
         t.c_mktsegment, t.c_acctbal, s.n_orders, s.delta
  FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.k
)
SELECT COALESCE(tk, sk) AS c_custkey,
       CASE WHEN tk IS NULL THEN 'MERGED' ELSE c_name END AS c_name,
       CASE WHEN tk IS NULL THEN -1 ELSE c_nationkey END AS c_nationkey,
       CASE WHEN tk IS NOT NULL AND sk IS NOT NULL AND n_orders >= 10
              THEN 'VIP'
            WHEN tk IS NULL THEN 'NEW'
            ELSE c_mktsegment END AS c_mktsegment,
       CAST({sql_fixed('''CASE
              WHEN tk IS NOT NULL AND sk IS NOT NULL AND n_orders >= 10
                THEN c_acctbal + delta
              WHEN tk IS NULL THEN delta
              ELSE c_acctbal END''')} AS BIGINT) AS acctbal_f
FROM merged
WHERE NOT (tk IS NOT NULL AND sk IS NOT NULL
           AND NOT (n_orders >= 10) AND c_acctbal < 0)
  AND NOT (tk IS NULL AND sk % 3 <> 0)
"""


def table_range_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-partitioned table (RangePartitionInfo.java:76) + FE-style
    partition pruning: events land in weekly [lower, upper) partitions
    by event_date; a date-range read prunes to the two intersecting
    partitions (directory pruning via the generated __part column)
    before the residual row filter."""
    scheme = RangePartitioning("event_date", [
        ("w1", date(2024, 1, 8)),
        ("w2", date(2024, 1, 15)),
        ("w3", date(2024, 1, 22)),
        ("w4", date(2024, 1, 29)),
        ("w5", date(2024, 2, 5)),
    ])
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.to_date("ts").alias("event_date")
    )
    t = ManagedTable.create(
        spark, TableModel.DUP_KEYS, ["event_id"], partition_scheme=scheme,
    )
    t.insert(events)
    lo, hi = date(2024, 1, 10), date(2024, 1, 20)
    names = scheme.prune_range(lo, hi)
    assert names == ["w2", "w3"]  # metadata-only pruning decision
    return (
        t.read_partitions(names)
        .filter(F.col("event_date").between(F.lit(lo), F.lit(hi)))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("event_date").alias("n_days"),
        )
        .orderBy("event_type")
    )


_RANGE_PRUNE_SQL = """
SELECT event_type, COUNT(*) AS n,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'
GROUP BY event_type
ORDER BY event_type
"""


def table_dup_keys_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUP_KEYS append-only fact table: 4 batch appends then an
    aggregate scan — batches must be lossless and order-free."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        fixed(F.col("l_quantity")).alias("qty_f"),
    )
    t = ManagedTable.create(
        spark, TableModel.DUP_KEYS, ["l_orderkey", "l_linenumber"]
    )
    for i in range(4):
        t.insert(li.filter(F.col("l_orderkey") % 4 == i))
    return (
        t.read()
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            (F.sum("qty_f").cast("double") / F.lit(_SCALE)).alias("sum_qty"),
        )
    )


_DUP_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY l_returnflag
"""


QUERIES = {
    "table_agg_keys_rollup": table_agg_keys_rollup,
    "table_primary_upsert_delete": table_primary_upsert_delete,
    "table_merge_into_customers": table_merge_into_customers,
    "table_merge_conditional": table_merge_conditional,
    "table_range_partition_prune": table_range_partition_prune,
    "table_dup_keys_batches": table_dup_keys_batches,
}

ORACLE = {
    "table_merge_conditional": _MERGE_COND_SQL,
    "table_range_partition_prune": _RANGE_PRUNE_SQL,
    "table_agg_keys_rollup": _AGG_KEYS_SQL,
    "table_primary_upsert_delete": _PRIMARY_SQL,
    "table_merge_into_customers": _MERGE_SQL,
    "table_dup_keys_batches": _DUP_SQL,
}


def table_lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-log table format (tables/lakehouse.py — the analog of
    the reference's Iceberg/Delta external-table path,
    be/src/data_sink/external/iceberg_table_sink.cpp): overwrite →
    append → overwrite, then read EVERY version (time travel) and
    aggregate each snapshot. The commit log's file list — not a
    directory listing — drives each read."""
    import tempfile

    from starrocks_spark.tables.lakehouse import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    )
    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="lh_tt_", dir=scratch_root())
    )
    t.overwrite(orders.filter(F.col("o_orderdate") < "1996-01-01"))
    t.append(orders.filter(F.col("o_orderdate") >= "1996-01-01"))
    t.overwrite(orders.filter(F.col("o_orderpriority") == "1-URGENT"))

    out = None
    for v in (0, 1, 2):
        snap = (
            t.read(v)
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                # BIGINT, not DECIMAL(38,0): DuckDB's pandas export
                # turns wide decimals into float64, which the driver's
                # type-sensitive hash rejects against Spark's Decimal
                F.sum(fixed(F.col("o_totalprice"))).cast("long")
                .alias("total_fixed"),
            )
            .select(F.lit(v).alias("version"), "n_orders", "total_fixed")
        )
        out = snap if out is None else out.unionByName(snap)
    return out.orderBy("version")


_LAKEHOUSE_SQL = f"""
SELECT 0 AS version, COUNT(*) AS n_orders,
       CAST(SUM({sql_fixed('o_totalprice')}) AS BIGINT) AS total_fixed
FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
UNION ALL
SELECT 1, COUNT(*),
       CAST(SUM({sql_fixed('o_totalprice')}) AS BIGINT)
FROM orders
UNION ALL
SELECT 2, COUNT(*),
       CAST(SUM({sql_fixed('o_totalprice')}) AS BIGINT)
FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY version
"""

QUERIES["table_lakehouse_time_travel"] = table_lakehouse_time_travel
ORACLE["table_lakehouse_time_travel"] = _LAKEHOUSE_SQL


def table_rollup_autoselect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous rollup index + automatic selection (reference:
    ALTER TABLE ADD ROLLUP, chosen by MaterializedViewRule): a DUP_KEYS
    fact table over events declares a (event_type) rollup at DDL time;
    three raw batches maintain it (a second map-side combine per
    ingest); the aggregate read groups by event_type and MUST be served
    from the |event_type|-row index, never the fact table — asserted
    here and by tests/test_table_models.py."""
    events = load_table(spark, sf_dir, "events")
    prepared = events.select(
        "event_id", "user_id", "event_type",
        fixed(F.col("value")).cast("long").alias("value_f"),
    )
    t = ManagedTable.create(
        spark, TableModel.DUP_KEYS, ["user_id", "event_type"]
    )
    t.add_rollup("by_type", ["event_type"], {"value_f": "sum"})
    for i in range(3):
        t.insert(prepared.filter(F.col("event_id") % 3 == i))
    out = t.read_agg(
        ["event_type"],
        {"sum_value": ("sum", "value_f"), "n_events": ("count", "*")},
    )
    assert t.last_index_used == "by_type", t.last_index_used
    return out.select(
        "event_type",
        (F.col("sum_value").cast("double") / F.lit(_SCALE))
        .alias("sum_value"),
        "n_events",
    ).orderBy("event_type")


_ROLLUP_SQL = f"""
SELECT event_type, {sql_dsum('value')} AS sum_value,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""

QUERIES["table_rollup_autoselect"] = table_rollup_autoselect
ORACLE["table_rollup_autoselect"] = _ROLLUP_SQL


def table_lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD COLUMN schema evolution on the snapshot-log table: v0 holds
    3 columns, an append commits a 4th (o_year) — the log's merged
    schema makes old files surface it as NULL with no mergeSchema
    inference scan — and time travel still reads v0 with its original
    3-column schema. Returns per-version shape + evolved-column
    accounting."""
    import tempfile

    from starrocks_spark.tables.lakehouse import SnapshotTable

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    evolved = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="lh_se_", dir=scratch_root())
    )
    t.overwrite(base)
    t.append(evolved)

    v0 = t.read(0).agg(
        F.lit(0).alias("version"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(3).alias("n_cols"),
        F.lit(0).cast("long").alias("rows_with_year"),
    )
    cur = t.read()
    assert len(cur.columns) == 4, cur.columns
    v1 = cur.agg(
        F.lit(1).alias("version"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(len(cur.columns)).alias("n_cols"),
        F.count("o_year").alias("rows_with_year"),
    )
    return v0.unionByName(v1).orderBy("version")


_LAKEHOUSE_SE_SQL = """
SELECT 0 AS version, COUNT(*) AS n_rows, 3 AS n_cols,
       CAST(0 AS BIGINT) AS rows_with_year
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 1, COUNT(*), 4,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
ORDER BY version
"""

QUERIES["table_lakehouse_schema_evolution"] = table_lakehouse_schema_evolution
ORACLE["table_lakehouse_schema_evolution"] = _LAKEHOUSE_SE_SQL


def table_lakehouse_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map file pruning on the snapshot-log table (reference:
    zone-map segment pruning, be/src/storage/rowset/zone_map_index*):
    orders are committed range-distributed on o_orderkey so each data
    file covers a disjoint key range recorded in the commit log; a
    keyed read then opens ~1/8 of the files — asserted here — with
    results identical to the full-scan predicate."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    import tempfile

    from starrocks_spark.tables.lakehouse import SnapshotTable

    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="lh_zm_", dir=scratch_root()))
    t.overwrite(orders.repartitionByRange(8, F.col("o_orderkey")))
    total_files = t.snapshot().files
    lo, hi = 10_000, 20_000
    pruned = t.read(zone_filter=("o_orderkey", lo, hi))
    assert t.last_files_scanned < len(total_files), (
        t.last_files_scanned, len(total_files)
    )
    return pruned.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        F.sum(fixed(F.col("o_totalprice"))).cast("long").alias("total_f"),
    )


_ZONEMAP_SQL = f"""
SELECT COUNT(*) AS n_orders, MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       CAST(SUM({sql_fixed('o_totalprice')}) AS BIGINT) AS total_f
FROM orders
WHERE o_orderkey BETWEEN 10000 AND 20000
"""

QUERIES["table_lakehouse_zonemap_prune"] = table_lakehouse_zonemap_prune
ORACLE["table_lakehouse_zonemap_prune"] = _ZONEMAP_SQL


def table_lakehouse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE on the lakehouse table (tables/lakehouse.py
    SnapshotTable.merge; reference: primary-key merge-on-write +
    iceberg upsert sinks): orders committed range-clustered on the
    key, then one merge batch that UPDATES 50 clustered keys (price
    +1000) and INSERTS 10 new keys. Zone maps confine the rewrite to
    the files whose key range the batch touches — asserted — and the
    post-merge snapshot must equal the SQL merge; the pre-merge
    version must still read exactly (time travel across row DML)."""
    import tempfile

    from starrocks_spark.tables.lakehouse import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="lh_mg_", dir=scratch_root())
    )
    # range-clustered commit → tight per-file o_orderkey zone maps
    t.overwrite(orders.repartitionByRange(8, "o_orderkey"))
    n_files = len(t.snapshot().files)

    updates = orders.filter(F.col("o_orderkey") < 200).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.lit("MERGED").alias("o_orderpriority"),
    )
    inserts = orders.filter(F.col("o_orderkey") < 40).select(
        (F.col("o_orderkey") + 90_000_000).alias("o_orderkey"),
        "o_custkey", "o_totalprice",
        F.lit("INSERTED").alias("o_orderpriority"),
    )
    rewritten = t.merge(updates.unionByName(inserts), "o_orderkey")
    # zone maps must have confined the rewrite: the update keys live in
    # the lowest key range (1 file), the inserts beyond every range
    assert rewritten < n_files, (rewritten, n_files)

    v0 = t.read(version=0)
    after = t.read()
    return (
        after.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .unionByName(
            v0.agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum(F.col("o_totalprice")).alias("total_price"),
            ).select(F.lit("__V0_ALL__").alias("o_orderpriority"),
                     "n_rows", "total_price")
        )
        .orderBy("o_orderpriority")
    )


_LAKEHOUSE_MERGE_SQL = f"""
WITH merged AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey < 200 THEN o_totalprice + 1000.0
              ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey < 200 THEN 'MERGED'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders
  UNION ALL
  SELECT o_orderkey + 90000000, o_custkey, o_totalprice, 'INSERTED'
  FROM orders WHERE o_orderkey < 40
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {sql_dsum('o_totalprice')} AS total_price
FROM merged
GROUP BY o_orderpriority
UNION ALL
SELECT '__V0_ALL__', CAST(COUNT(*) AS BIGINT),
       {sql_dsum('o_totalprice')}
FROM orders
ORDER BY o_orderpriority
"""

QUERIES["table_lakehouse_merge"] = table_lakehouse_merge
ORACLE["table_lakehouse_merge"] = _LAKEHOUSE_MERGE_SQL


def schema_scan_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit history as a queryable metadata view
    (sources/infoschema.py snapshot_history; DESCRIBE HISTORY analog):
    overwrite → append → merge on a lakehouse table, then the history
    view must report each commit's operation and EXACT row count —
    which the oracle derives from the same source predicates. File
    counts are writer-parallelism-dependent and stay out of the
    checked columns."""
    import tempfile

    from starrocks_spark.sources.infoschema import snapshot_history
    from starrocks_spark.tables.lakehouse import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="lh_hist_", dir=scratch_root())
    )
    t.overwrite(orders.filter(F.col("o_orderkey") % 2 == 0)
                .repartitionByRange(4, "o_orderkey"))
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    t.merge(
        orders.filter(F.col("o_orderkey") < 50).select(
            "o_orderkey", (F.col("o_totalprice") + 1.0)
            .alias("o_totalprice"),
        ),
        "o_orderkey",
    )
    return snapshot_history(spark, t) \
        .select("version", "operation", "n_rows").orderBy("version")


_HISTORY_SQL = """
SELECT CAST(0 AS BIGINT) AS version, 'overwrite' AS operation,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 2 = 0) AS n_rows
UNION ALL
SELECT 1, 'append',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
UNION ALL
SELECT 2, 'merge',
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
ORDER BY version
"""

QUERIES["schema_scan_history"] = schema_scan_history
ORACLE["schema_scan_history"] = _HISTORY_SQL
