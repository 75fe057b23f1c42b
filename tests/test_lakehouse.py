"""Snapshot-log table format (tables/lakehouse.py): commit atomicity
and versioning, time travel, append/overwrite semantics, retention +
vacuum."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from starrocks_spark.tables.lakehouse import SnapshotTable


def _table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "lakehouse"))


def test_append_overwrite_time_travel(spark, tmp_path):
    t = _table(spark, tmp_path)
    df = spark.range(0, 100).select("id", (F.col("id") % 3).alias("g"))

    v0 = t.overwrite(df.filter(F.col("id") < 40))
    v1 = t.append(df.filter(F.col("id") >= 40))
    v2 = t.overwrite(df.filter(F.col("g") == 0))

    assert (v0, v1, v2) == (0, 1, 2)
    assert t.read(v0).count() == 40
    assert t.read(v1).count() == 100          # append = old + new files
    assert t.read(v2).count() == 34
    assert t.read().count() == 34             # latest
    ops = [s.operation for s in t.history()]
    assert ops == ["overwrite", "append", "overwrite"]


def test_commit_log_is_source_of_truth_not_directory_listing(spark, tmp_path):
    """A stray parquet dropped into the data layout must be invisible
    to readers (the log's file list governs)."""
    t = _table(spark, tmp_path)
    t.overwrite(spark.range(0, 10).select("id"))
    stray_dir = os.path.join(t.path, "data_stray000000")
    os.makedirs(stray_dir)
    spark.range(100, 200).select("id").write.mode("overwrite") \
        .parquet(stray_dir)
    assert t.read().count() == 10


def test_optimistic_version_collision_retries(spark, tmp_path):
    """Two writers publishing concurrently get distinct versions and
    both commits survive (os.link put-if-absent protocol)."""
    t = _table(spark, tmp_path)
    t.overwrite(spark.range(0, 5).select("id"))
    # simulate the race: pre-occupy the version the next commit will
    # try, so _publish must retry at the following number
    taken = t._entry_path(1)
    os.makedirs(t.log_dir, exist_ok=True)
    with open(taken, "w") as f:
        f.write('{"version": 1, "operation": "append", "files": [], '
                '"n_rows": 0}')
    v = t.append(spark.range(5, 8).select("id"))
    assert v == 2
    # the retry re-merged against the interloper's snapshot (an empty
    # table), so the append lands on THAT base — no lost update, no
    # resurrecting files the interloper removed
    assert t.read(2).count() == 3
    assert t.read(0).count() == 5  # original snapshot still readable


def test_expire_and_vacuum_reclaims_only_dead_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.overwrite(spark.range(0, 50).select("id"))
    t.overwrite(spark.range(0, 20).select("id"))   # v0's files now dead
    assert t.vacuum() == 0                         # v0 still referenced
    assert t.expire_versions(keep_last=1) == [0]
    assert t.vacuum() > 0
    assert t.read().count() == 20                  # latest intact


def test_compact_preserves_data_and_versions(spark, tmp_path):
    t = _table(spark, tmp_path)
    for lo in (0, 30, 60):
        t.append(spark.range(lo, lo + 30).select("id"))
    n_files_before = len(t.snapshot().files)
    v = t.compact(target_files=1)
    assert t.snapshot().operation == "compact"
    assert len(t.snapshot().files) == 1 <= n_files_before
    assert t.read().count() == 90
    assert t.read(v - 1).count() == 90  # pre-compaction snapshot intact


def test_schema_evolution_add_column_and_type_guard(spark, tmp_path):
    from pyspark.sql import functions as F

    from starrocks_spark.tables.lakehouse import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(5).select(F.col("id").alias("k"),
                                      F.lit("x").alias("s")))
    t.append(spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit("y").alias("s"),
        F.lit(1).cast("int").alias("extra")))
    cur = t.read()
    assert set(cur.columns) == {"k", "s", "extra"}
    # old rows surface NULL for the evolved column
    assert cur.filter(F.col("extra").isNull()).count() == 5
    # time travel keeps the ORIGINAL schema
    assert set(t.read(0).columns) == {"k", "s"}
    # type change is rejected
    import pytest as _pytest
    with _pytest.raises(Exception):
        t.append(spark.range(1).select(
            F.col("id").alias("k"), F.lit("z").alias("s"),
            F.lit(1.5).alias("extra")))
    # compaction preserves the evolved schema
    t.compact()
    assert set(t.read().columns) == {"k", "s", "extra"}


def test_zonemap_pruning_counts_and_edge_cases(spark, tmp_path):
    from pyspark.sql import functions as F

    from starrocks_spark.tables.lakehouse import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(0, 1000).select(F.col("id").alias("k"))
        .repartitionByRange(4, F.col("k"))
    )
    n_files = len(t.snapshot().files)
    assert n_files >= 3
    # a narrow range hits ~1 file
    got = t.read(zone_filter=("k", 10, 20))
    assert t.last_files_scanned <= 2
    assert got.count() == 11
    # out-of-range → zero files, empty result, correct schema
    empty = t.read(zone_filter=("k", 10_000, 20_000))
    assert t.last_files_scanned == 0
    assert empty.count() == 0 and empty.columns == ["k"]
    # log entries without zonemaps (pre-feature commits) → no pruning
    snap = t.snapshot()
    import json as _json
    import os as _os
    entry_path = t._entry_path(snap.version)
    e = _json.load(open(entry_path))
    e.pop("zonemaps")
    _os.unlink(entry_path)
    _json.dump(e, open(entry_path, "w"))
    t.read(zone_filter=("k", 10, 20))
    assert t.last_files_scanned == n_files  # correctness over pruning


def test_zonemaps_survive_append(spark, tmp_path):
    """Regression (code-review finding): an append must CARRY the
    previous snapshot's zone maps for its retained files — rebuilding
    only from the new files' footers silently blanked old stats and
    disabled pruning for every pre-append file."""
    from pyspark.sql import functions as F

    from starrocks_spark.tables.lakehouse import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(0, 100).select(F.col("id").alias("k"))
                .repartitionByRange(2, F.col("k")))
    t.append(spark.range(1000, 1100).select(F.col("id").alias("k"))
             .repartitionByRange(2, F.col("k")))
    snap = t.snapshot()
    # EVERY file (old and new) must have a populated zone map
    assert all(snap.zonemaps[f].get("k") for f in snap.files), snap.zonemaps
    # pruning works across the append boundary
    got = t.read(zone_filter=("k", 0, 50))
    assert t.last_files_scanned < len(snap.files)
    assert got.count() == 51


def test_merge_cow_prunes_with_zone_maps(spark, sf_dir, tmp_path):
    """MERGE rewrites only the files whose key zone-map range the
    source touches; untouched files carry over BY REFERENCE (same
    path) and older versions still read the pre-merge data."""
    import pytest
    from pyspark.sql import functions as F

    from starrocks_spark.catalog import load_table
    from starrocks_spark.tables.lakehouse import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = SnapshotTable(spark, str(tmp_path / "mg"))
    t.overwrite(orders.repartitionByRange(8, "o_orderkey"))
    files_v0 = list(t.snapshot().files)
    n0 = t.read().count()

    src = orders.filter(F.col("o_orderkey") < 100).select(
        "o_orderkey", (F.col("o_totalprice") * 0.0).alias("o_totalprice")
    )
    rewritten = t.merge(src, "o_orderkey")
    assert 0 < rewritten < len(files_v0)
    assert t.last_files_rewritten == rewritten
    # untouched files carried by reference into the new snapshot
    carried = set(files_v0) & set(t.snapshot().files)
    assert len(carried) == len(files_v0) - rewritten
    # updates applied, no rows invented
    after = t.read()
    assert after.count() == n0
    assert after.filter(
        (F.col("o_orderkey") < 100) & (F.col("o_totalprice") != 0.0)
    ).count() == 0
    # inserts: new keys append
    ins = spark.range(1).select(
        F.lit(99_000_001).alias("o_orderkey"),
        F.lit(5.0).alias("o_totalprice"),
    )
    t.merge(ins, "o_orderkey")
    assert t.read().count() == n0 + 1
    # time travel: version 0 is untouched by both merges
    assert t.read(version=0).count() == n0
    assert t.read(version=0).filter(
        (F.col("o_orderkey") < 100) & (F.col("o_totalprice") == 0.0)
    ).count() == 0
    # merge into an empty table is an explicit error
    empty = SnapshotTable(spark, str(tmp_path / "mg_empty"))
    with pytest.raises(ValueError, match="empty"):
        empty.merge(src, "o_orderkey")


def test_delete_cow_prunes_and_time_travels(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from starrocks_spark.catalog import load_table
    from starrocks_spark.tables.lakehouse import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = SnapshotTable(spark, str(tmp_path / "dl"))
    t.overwrite(orders.repartitionByRange(8, "o_orderkey"))
    n0 = t.read().count()
    n_files = len(t.snapshot().files)
    n_hit = orders.filter(F.col("o_orderkey") < 100).count()

    rewritten = t.delete(
        F.col("o_orderkey") < 100, prune=("o_orderkey", 0, 99)
    )
    assert 0 < rewritten < n_files
    assert t.read().count() == n0 - n_hit
    assert t.read().filter(F.col("o_orderkey") < 100).count() == 0
    assert t.read(version=0).count() == n0  # time travel intact
    # a fully-out-of-range delete touches nothing
    assert t.delete(
        F.col("o_orderkey") < -5, prune=("o_orderkey", -10, -5)
    ) == 0


def test_merge_is_idempotent(spark, sf_dir, tmp_path):
    """Re-applying the same merge batch yields the same table content
    (replay safety — the property continuous ingestion relies on)."""
    from pyspark.sql import functions as F

    from starrocks_spark.catalog import load_table
    from starrocks_spark.tables.lakehouse import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = SnapshotTable(spark, str(tmp_path / "idem"))
    t.overwrite(orders.repartitionByRange(4, "o_orderkey"))
    batch = orders.filter(F.col("o_orderkey") < 100).select(
        "o_orderkey", (F.col("o_totalprice") + 7.0).alias("o_totalprice")
    )
    t.merge(batch, "o_orderkey")
    first = sorted(tuple(r) for r in t.read().collect())
    t.merge(batch, "o_orderkey")
    second = sorted(tuple(r) for r in t.read().collect())
    assert first == second


def test_delete_keeps_rows_where_condition_is_null(spark, tmp_path):
    """SQL DELETE removes only rows where the predicate is TRUE —
    rows where it evaluates NULL (unknown) must be KEPT."""
    from pyspark.sql import functions as F

    from starrocks_spark.tables.lakehouse import SnapshotTable

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 3)], ["id", "x"]
    )
    t = SnapshotTable(spark, str(tmp_path / "dnull"))
    t.overwrite(df)
    t.delete(F.col("x") > 5)
    kept = sorted(r["id"] for r in t.read().collect())
    assert kept == [2, 3]  # NULL x survives; only x=10 deleted


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    """A PK upsert source with >1 row per key is an error (Delta MERGE
    raises on multiple source matches); pre-reduced callers opt out."""
    import pytest
    from pyspark.sql import functions as F

    from starrocks_spark.tables.lakehouse import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "dupsrc"))
    t.overwrite(spark.createDataFrame([(1, "a")], ["id", "v"]))
    dup = spark.createDataFrame(
        [(1, "b"), (1, "c"), (2, "d")], ["id", "v"]
    )
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge(dup, "id")
    # opted out: caller takes responsibility (documented contract)
    t.merge(dup.dropDuplicates(["id"]), "id",
            validate_source_unique=False)
    assert t.read().count() == 2


def test_merge_overlap_delilteralized_at_high_file_count(
        spark, sf_dir, tmp_path, monkeypatch):
    """Past MERGE_LITERAL_INTERVALS_MAX files the zone-map overlap
    test ships intervals as a broadcast-joined DataFrame, not one
    literal struct per file — the plan stays O(1) in file count."""
    from pyspark.sql import functions as F

    from starrocks_spark.catalog import load_table
    from starrocks_spark.tables.lakehouse import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = SnapshotTable(spark, str(tmp_path / "manyf"))
    t.overwrite(orders.repartitionByRange(8, "o_orderkey"))
    monkeypatch.setattr(SnapshotTable, "MERGE_LITERAL_INTERVALS_MAX", 4)
    src = orders.filter(F.col("o_orderkey") < 100).select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("o_totalprice")
    )
    rewritten = t.merge(src, "o_orderkey")
    assert 0 < rewritten < 8  # pruning still effective via the join
    # and the result is identical to the literal path
    after = t.read().filter(F.col("o_orderkey") < 100)
    base = orders.filter(F.col("o_orderkey") < 100)
    assert after.count() == base.count()


def test_maybe_compact_after_many_small_merges(spark, tmp_path):
    """M small merge commits trigger ONE compaction; time travel
    still works across it; zone-map clustering survives (the next
    single-key merge still rewrites ≤1 file)."""
    from pyspark.sql import functions as F

    from starrocks_spark.tables.lakehouse import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "ac"))
    base = spark.range(1000).select(
        F.col("id").alias("k"), F.lit("v0").alias("v")
    )
    t.overwrite(base.repartitionByRange(4, "k"))
    for i in range(5):
        src = spark.createDataFrame([(i, f"v{i + 1}")], ["k", "v"])
        t.merge(src, "k")
        assert not t.maybe_compact(commit_threshold=5,
                                   target_files=4, cluster_by="k") \
            or i == 4
    hist_ops = [s.operation for s in t.history()]
    assert hist_ops.count("compact") == 1
    assert hist_ops[-1] == "compact"
    assert len(t.snapshot().files) == 4
    # content identical to pre-compaction merge result
    assert t.read().count() == 1000
    assert t.read().filter(F.col("v") == "v5").count() == 1
    # time travel across the compaction: version 0 is the initial load
    assert t.read(version=0).filter(F.col("v") != "v0").count() == 0
    # clustering survived: a single-key merge prunes to ≤1 file
    t.merge(spark.createDataFrame([(500, "vx")], ["k", "v"]), "k")
    assert t.last_files_rewritten <= 1
