"""Streaming PK upsert must NOT rewrite the whole table per batch:
_merge_batch routes through SnapshotTable.merge (zone-map-pruned
copy-on-write), so a single-key micro-batch rewrites at most one
data file. Also checks version semantics and replay safety of the
merge path itself (batch-level, no stream needed — foreachBatch
calls exactly this function)."""

import logging

import pytest
from pyspark.sql import functions as F

from starrocks_spark.streaming.ingest import _merge_batch, state_partitions_for
from starrocks_spark.tables.lakehouse import SnapshotTable
from starrocks_spark.tables.storage import part_file_bytes


def _mk_table(spark, tmp_path, n=1000, files=4):
    base = spark.range(n).select(
        F.col("id").alias("user_id"),
        F.col("id").cast("timestamp").alias("ts"),
        F.col("id").alias("event_id"),
        F.lit("init").alias("event_type"),
    )
    t = SnapshotTable(spark, str(tmp_path / "pk"))
    _merge_batch(base, t, "user_id", ["ts", "event_id"],
                 key_partitions=files)
    assert len(t.snapshot().files) == files
    return t


def test_single_key_batch_rewrites_at_most_one_file(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    batch = spark.createDataFrame(
        [(7, 100_000, 99, "upd")],
        "user_id long, ts_s long, event_id long, event_type string",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id", "event_type",
    )
    _merge_batch(batch, t, "user_id", ["ts", "event_id"])
    assert t.last_files_rewritten <= 1  # zone-map pruning held
    got = t.read().filter(F.col("user_id") == 7).collect()
    assert len(got) == 1 and got[0]["event_type"] == "upd"
    assert t.read().count() == 1000  # no rows invented or lost


def test_stale_batch_row_is_ignored_and_replay_safe(spark, tmp_path):
    t = _mk_table(spark, tmp_path)
    v1 = t.snapshot().version
    stale = spark.createDataFrame(
        [(7, 0, 0, "stale")],
        "user_id long, ts_s long, event_id long, event_type string",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id", "event_type",
    )
    _merge_batch(stale, t, "user_id", ["ts", "event_id"])
    assert t.read().filter(
        F.col("user_id") == 7
    ).collect()[0]["event_type"] == "init"  # older version loses
    fresh = spark.createDataFrame(
        [(7, 100_000, 99, "upd")],
        "user_id long, ts_s long, event_id long, event_type string",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id", "event_type",
    )
    _merge_batch(fresh, t, "user_id", ["ts", "event_id"])
    first = sorted(tuple(r) for r in t.read().collect())
    _merge_batch(fresh, t, "user_id", ["ts", "event_id"])  # replay
    second = sorted(tuple(r) for r in t.read().collect())
    assert first == second
    # history: every applied merge is one commit, old versions readable
    assert t.read(version=v1).filter(
        F.col("user_id") == 7
    ).collect()[0]["event_type"] == "init"


def test_state_partitions_sized_from_directory_part_files(
        spark, tmp_path, monkeypatch, caplog):
    """A Spark-written (directory) source is sized by its part files,
    not the directory entry, and a small per-store target derives more
    than one state store."""
    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("needs a session with parallelism >= 2")
    src = str(tmp_path / "events.parquet")
    spark.range(20000).selectExpr("id", "id * 7 AS v") \
        .repartition(3).write.parquet(src)
    raw = part_file_bytes(src)
    assert raw > 20000
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE_BYTES", str(raw))
    with caplog.at_level(logging.INFO, logger="starrocks_spark.streaming.ingest"):
        n = state_partitions_for(spark, str(tmp_path))
    assert n == min(4, par) > 1
    assert f"{raw} B" in caplog.records[-1].getMessage()


def test_state_partitions_unresolvable_path_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        state_partitions_for(spark, str(tmp_path / "missing"))
    with pytest.raises(FileNotFoundError):
        state_partitions_for(spark, "s3a://bucket/sf")
