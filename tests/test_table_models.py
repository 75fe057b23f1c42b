"""Unit tests for the table-model layer (tables/models.py): model
semantics, UPDATE, UNIQUE/PRIMARY upserts into the delta rowset
(checked against a pandas model), folds and compaction, and scans that
carry the stored schema instead of running an inference job."""

from __future__ import annotations

import logging
import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from starrocks_spark.tables.materialized_view import MaterializedView
from starrocks_spark.tables.models import ManagedTable, TableModel


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_unique_partitioned_upsert_rewrites_only_touched_partitions(spark):
    df1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "a"), (3, 30, "b")], "k long, v long, p string"
    )
    t = ManagedTable.create(
        spark, TableModel.UNIQUE_KEYS, ["k"],
        version_cols=["v"], partition_by="p",
    )
    t.insert(df1)
    # second batch touches only partition 'a'; 'b' must survive untouched
    df2 = spark.createDataFrame([(1, 99, "a")], "k long, v long, p string")
    t.insert(df2)
    assert _rows(t.read().select("k", "v", "p")) == [
        (1, 99, "a"), (2, 20, "a"), (3, 30, "b"),
    ]
    t.drop()


def test_primary_update_and_delete(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, bal double"
    )
    t = ManagedTable.create(spark, TableModel.PRIMARY_KEYS, ["k"])
    t.insert(df)
    t.update({"bal": "bal * 2"}, "k <= 2")
    t.delete("k = 3")
    assert _rows(t.read()) == [(1, 20.0), (2, 40.0)]
    t.drop()


def test_agg_keys_min_max_replace(spark):
    t = ManagedTable.create(
        spark, TableModel.AGG_KEYS, ["k"],
        agg_spec={"lo": "min", "hi": "max", "total": "sum"},
    )
    t.insert(spark.createDataFrame(
        [(1, 5, 5, 5), (1, 3, 3, 3)], "k long, lo long, hi long, total long"
    ))
    t.insert(spark.createDataFrame(
        [(1, 4, 9, 2)], "k long, lo long, hi long, total long"
    ))
    assert _rows(t.read().select("k", "lo", "hi", "total")) == [(1, 3, 9, 10)]
    # compaction must not change query results
    t.compact()
    assert _rows(t.read().select("k", "lo", "hi", "total")) == [(1, 3, 9, 10)]
    t.drop()


def test_merge_into_update_and_insert(spark):
    t = ManagedTable.create(spark, TableModel.PRIMARY_KEYS, ["k"])
    t.insert(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"))
    src = spark.createDataFrame([(2, 5.0), (9, 90.0)], "k long, v double")
    t.merge_into(src, update_set={"v": "t.v + s.v"})
    assert _rows(t.read()) == [(1, 10.0), (2, 25.0), (9, 90.0)]
    t.drop()


def test_agg_keys_replace_versionless_last_row_wins(spark):
    # r8 relaxed the old "version_cols required" guard: REPLACE without
    # version_cols falls back to arrival order (last row of the load
    # wins, StarRocks load-order semantics) — exact on narrow
    # single-batch frames (VALUES); documented nondeterministic after
    # shuffles in the INSERT..SELECT source.
    t = ManagedTable.create(
        spark, TableModel.AGG_KEYS, ["k"], agg_spec={"v": "replace"},
    )
    t.insert(spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5), (1, 30)], "k long, v long"))
    assert _rows(t.read().select("k", "v")) == [(1, 30), (2, 5)]
    t.drop()


def test_agg_keys_replace_versionless_prefers_stamped_load_order(spark):
    # when a loader stamped explicit arrival order (_load_batch,
    # _load_pos — plans/sqltester stamps VALUES ordinals), the rollup
    # must use it instead of monotonic ids: exact under ANY physical
    # layout, including adversarial repartitions.
    t = ManagedTable.create(
        spark, TableModel.AGG_KEYS, ["k"], agg_spec={"v": "replace"},
    )
    rows = [(1, 0, i, i * 10) for i in range(20)]
    for seed in range(3):
        shuffled = rows[seed:] + rows[:seed]
        df = spark.createDataFrame(
            shuffled, "k long, _load_batch long, _load_pos long, v long"
        ).repartition(7)
        t2 = ManagedTable.create(
            spark, TableModel.AGG_KEYS, ["k"], agg_spec={"v": "replace"},
        )
        t2.insert(df)
        assert _rows(t2.read().select("k", "v")) == [(1, 190)]
        t2.drop()
    t.drop()


def test_agg_keys_replace_deterministic_under_shuffled_partitions(spark):
    # same rows, adversarial partition layouts — REPLACE must always
    # pick the newest-by-version row, never "last seen in a partition"
    rows = [(1, i, i * 10) for i in range(20)]
    for seed in range(3):
        shuffled = rows[seed:] + rows[:seed]
        t = ManagedTable.create(
            spark, TableModel.AGG_KEYS, ["k"],
            agg_spec={"v": "replace"}, version_cols=["ver"],
        )
        df = spark.createDataFrame(
            shuffled, "k long, ver long, v long"
        ).repartition(7)
        t.insert(df)
        assert _rows(t.read().select("k", "v")) == [(1, 190)]
        t.drop()


def test_merge_into_conditional_clauses(spark):
    t = ManagedTable.create(spark, TableModel.PRIMARY_KEYS, ["k"])
    t.insert(spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, 30.0), (4, 40.0)], "k long, v double"
    ))
    src = spark.createDataFrame(
        [(1, 100.0), (2, 1.0), (3, 2.0), (8, 80.0), (9, 90.0)],
        "k long, v double",
    )
    t.merge_into(
        src,
        when_matched=[
            # clause order matters: k=1 hits the update even though a
            # later delete-all clause would also match
            {"condition": "s.v >= 50", "update": {"v": "t.v + s.v"}},
            {"condition": "t.v < 0", "delete": True},
        ],
        insert_condition="s.k % 2 = 0",
    )
    # k=1: clause1 update (10+100); k=2: clause2 delete; k=3: matched,
    # no clause fires -> kept as-is; k=4: only-target kept; k=8:
    # insert (even); k=9: not inserted (odd)
    assert _rows(t.read()) == [(1, 110.0), (3, 30.0), (4, 40.0), (8, 80.0)]
    t.drop()


def test_merge_into_matched_delete_without_insert(spark):
    t = ManagedTable.create(spark, TableModel.PRIMARY_KEYS, ["k"])
    t.insert(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    src = spark.createDataFrame([(1, 0.0), (7, 7.0)], "k long, v double")
    t.merge_into(
        src,
        when_matched=[{"delete": True}],
        insert_when_missing=False,
    )
    assert _rows(t.read()) == [(2, 2.0)]
    t.drop()


def test_dup_keys_append_lossless(spark):
    t = ManagedTable.create(spark, TableModel.DUP_KEYS, ["k"])
    d = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k long, s string")
    t.insert(d)
    t.insert(d)
    assert t.read().count() == 6  # duplicates preserved — append-only
    t.compact()
    assert t.read().count() == 6
    t.drop()


def test_range_partition_prune_reads_only_matching_dirs(spark):
    from datetime import date

    from starrocks_spark.tables.partitioning import RangePartitioning

    scheme = RangePartitioning("d", [
        ("p1", date(2024, 1, 10)),
        ("p2", date(2024, 1, 20)),
        ("p3", date(2024, 1, 30)),
    ])
    df = spark.createDataFrame(
        [(i, date(2024, 1, 1 + i)) for i in range(28)], "k long, d date"
    )
    t = ManagedTable.create(
        spark, TableModel.DUP_KEYS, ["k"], partition_scheme=scheme,
    )
    t.insert(df)
    names = scheme.prune_range(date(2024, 1, 12), date(2024, 1, 25))
    assert names == ["p2", "p3"]
    pruned = t.read_partitions(names)
    # physical proof: only the matching partition directories are read
    files = {r[0] for r in
             pruned.select(F.input_file_name()).distinct().collect()}
    assert files and all("__part=p2" in f or "__part=p3" in f for f in files)
    assert pruned.count() == 19  # days 10..28
    t.drop()


def test_range_partition_rejects_out_of_range(spark):
    import pytest
    from datetime import date

    from starrocks_spark.tables.partitioning import RangePartitioning

    scheme = RangePartitioning("d", [("p1", date(2024, 1, 10))])
    t = ManagedTable.create(
        spark, TableModel.DUP_KEYS, ["k"], partition_scheme=scheme,
    )
    with pytest.raises(ValueError, match="no partition"):
        t.insert(spark.createDataFrame(
            [(1, date(2024, 2, 1))], "k long, d date"
        ))
    t.drop()


def test_list_partitioning_and_expression_partitioning(spark):
    from datetime import date

    from starrocks_spark.tables.partitioning import (
        ExpressionPartitioning,
        ListPartitioning,
    )

    lp = ListPartitioning("region", {
        "west": ["CA", "OR"], "east": ["NY"],
    })
    t = ManagedTable.create(
        spark, TableModel.DUP_KEYS, ["k"], partition_scheme=lp,
    )
    t.insert(spark.createDataFrame(
        [(1, "CA"), (2, "NY"), (3, "OR")], "k long, region string"
    ))
    assert lp.prune_values(["CA"]) == ["west"]
    assert sorted(tuple(r) for r in
                  t.read_partitions(["west"]).select("k").collect()) == \
        [(1,), (3,)]
    t.drop()

    ep = ExpressionPartitioning("d", lambda c: F.date_trunc("month", c))
    t2 = ManagedTable.create(
        spark, TableModel.DUP_KEYS, ["k"], partition_scheme=ep,
    )
    t2.insert(spark.createDataFrame(
        [(1, date(2024, 1, 5)), (2, date(2024, 2, 5))], "k long, d date"
    ))
    parts = {r[0] for r in t2.read().select("__part").distinct().collect()}
    assert len(parts) == 2  # auto-created monthly partitions
    t2.drop()


def test_rollup_index_selection_and_fallback(spark, sf_dir):
    """read_agg must (a) serve covered groupings from the narrowest
    rollup with EXACT results, (b) fall back to base when the grouping
    is not covered, (c) store far fewer rows in the index than the
    fact table."""
    from starrocks_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
        .alias("value_f"),
    )
    t = ManagedTable.create(
        spark, TableModel.DUP_KEYS, ["user_id", "event_type"]
    )
    t.add_rollup("by_type", ["event_type"], {"value_f": "sum"})
    for i in range(2):
        t.insert(events.filter(F.col("event_id") % 2 == i))

    via_index = t.read_agg(
        ["event_type"], {"s": ("sum", "value_f"), "n": ("count", "*")}
    )
    assert t.last_index_used == "by_type"
    expected = t.read().groupBy("event_type").agg(
        F.sum("value_f").alias("s"), F.count(F.lit(1)).alias("n")
    )
    assert via_index.exceptAll(expected).count() == 0
    assert expected.exceptAll(via_index).count() == 0

    # uncovered grouping → base
    t.read_agg(["user_id"], {"s": ("sum", "value_f")})
    assert t.last_index_used == "__base__"

    # index is metadata-scale next to the fact table
    idx_rows = spark.read.parquet(t.rollups[0]["path"]).count()
    base_rows = t.read().count()
    assert idx_rows < base_rows / 10

    # min/max not stored → base; sum stored → index
    t.read_agg(["event_type"], {"m": ("min", "value_f")})
    assert t.last_index_used == "__base__"
    t.drop()


def test_rollup_requires_ddl_time(spark):
    t = ManagedTable.create(spark, TableModel.DUP_KEYS, ["k"])
    t.insert(spark.range(5).select(F.col("id").alias("k"),
                                   F.lit(1).alias("v")))
    import pytest as _pytest
    with _pytest.raises(ValueError):
        t.add_rollup("r", ["k"], {"v": "sum"})
    t.drop()


def test_rollup_rejected_on_upsert_models_and_rebuilt_on_delete(spark):
    """Regression (code-review finding): rollups are DUP_KEYS-only
    (append maintenance cannot mirror upsert folding), and DML on the
    base rebuilds the index so read_agg never serves deleted rows."""
    import pytest as _pytest

    t_pk = ManagedTable.create(spark, TableModel.PRIMARY_KEYS, ["k"])
    with _pytest.raises(ValueError):
        t_pk.add_rollup("r", ["k"], {"v": "sum"})

    t = ManagedTable.create(spark, TableModel.DUP_KEYS, ["k", "g"])
    t.add_rollup("by_g", ["g"], {"v": "sum"})
    t.insert(spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], ["k", "g", "v"]))
    t.delete("k = 2")
    got = {r["g"]: r["s"] for r in t.read_agg(
        ["g"], {"s": ("sum", "v")}).collect()}
    assert t.last_index_used == "by_g"
    assert got == {"a": 10, "b": 30}  # deleted row not served
    t.drop()


# ------------------------------------------------ delta-rowset upserts

_SCHEMA = "k long, v long, ver long, p string"
_COLS = ["k", "v", "ver", "p"]


def _base_rows(n=3000, seed=0):
    rng = random.Random(seed)
    return [(k, rng.randrange(10**6), 1, f"p{k % 3}") for k in range(n)]


def _live(t):
    return sorted(tuple(r) for r in t.read().select(*_COLS).collect())


def _expected(model):
    return sorted(tuple(r) for r in model[_COLS].itertuples(index=False))


def _model_upsert(model, rows, versioned):
    """pandas model of UNIQUE/PRIMARY semantics: the newest version per
    key wins, or without versions the batch row replaces the stored."""
    both = pd.concat([model, pd.DataFrame(rows, columns=_COLS)])
    if versioned:
        both = both.sort_values("ver", kind="stable")
    return both.drop_duplicates("k", keep="last").reset_index(drop=True)


def _batches(variant, rng):
    """Four seeded batches of 20 rows, a tenth of them new keys.
    ``versioned``: versions rise per batch, a key repeats inside one
    batch, and the third batch is a late one carrying older versions.
    ``partitioned``: existing keys move to another partition."""
    out = []
    for b in range(4):
        keys = rng.sample(range(3000), 18) + [3000 + 2 * b, 3001 + 2 * b]
        ver = 0 if (variant == "versioned" and b == 2) else b + 2
        rows = []
        for k in keys:
            p = f"p{(k + b + 1) % 3}" if variant == "partitioned" else f"p{k % 3}"
            rows.append((k, rng.randrange(10**6), ver, p))
        if variant == "versioned" and b != 2:
            k, _, _, p = rows[0]
            rows.append((k, rng.randrange(10**6), ver - 1, p))
        out.append(rows)
    return out


@pytest.mark.parametrize("model", [TableModel.PRIMARY_KEYS,
                                   TableModel.UNIQUE_KEYS])
@pytest.mark.parametrize("variant", ["versionless", "versioned",
                                     "partitioned"])
def test_upsert_sequence_matches_pandas_model(spark, model, variant):
    versioned = variant == "versioned"
    t = ManagedTable.create(
        spark, model, ["k"], version_cols=["ver"] if versioned else None,
        partition_by="p" if variant == "partitioned" else None)
    base = _base_rows()
    t.insert(spark.createDataFrame(base, _SCHEMA))
    expected = pd.DataFrame(base, columns=_COLS)
    for rows in _batches(variant, random.Random(f"{model}-{variant}")):
        t.insert(spark.createDataFrame(rows, _SCHEMA))
        expected = _model_upsert(expected, rows, versioned)
        assert os.path.isdir(t._delta_path())  # no fold at this size
        assert _live(t) == _expected(expected)
    t.drop()


def _table_with_delta(spark, model=TableModel.PRIMARY_KEYS):
    t = ManagedTable.create(spark, model, ["k"])
    base = _base_rows()
    t.insert(spark.createDataFrame(base, _SCHEMA))
    expected = pd.DataFrame(base, columns=_COLS)
    return t, expected


def _upsert(spark, t, expected, seed):
    rows = _batches("versionless", random.Random(seed))[0]
    t.insert(spark.createDataFrame(rows, _SCHEMA))
    assert os.path.isdir(t._delta_path())
    return _model_upsert(expected, rows, False)


def test_dml_after_delta_folds_with_same_semantics(spark):
    t, expected = _table_with_delta(spark)

    expected = _upsert(spark, t, expected, 1)
    t.update({"v": "v + 1000"}, "k < 10")
    expected.loc[expected.k < 10, "v"] += 1000
    assert not os.path.isdir(t._delta_path())
    assert _live(t) == _expected(expected)

    expected = _upsert(spark, t, expected, 2)
    t.delete("k % 7 = 0")
    expected = expected[expected.k % 7 != 0]
    assert _live(t) == _expected(expected)

    expected = _upsert(spark, t, expected, 3)
    src = spark.createDataFrame([(1, 5, 9, "p1"), (5000, 1, 9, "p2")],
                                _SCHEMA)
    t.merge_into(src, update_set={"v": "t.v + s.v"})
    expected.loc[expected.k == 1, "v"] += 5
    expected = pd.concat([expected, pd.DataFrame(
        [(5000, 1, 9, "p2")], columns=_COLS)])
    assert _live(t) == _expected(expected)

    # an ALTER-style rewrite changes the column set: the kept schema is
    # dropped, the new column is visible, and upserts carry it on
    expected = _upsert(spark, t, expected, 4)
    t._rewrite(t._current().withColumn("extra", F.lit(7)))
    assert t._schema.schema is None
    assert t.read().columns == _COLS + ["extra"]
    assert t._schema.schema.fieldNames() == _COLS + ["extra"]
    t.insert(spark.createDataFrame([(2, 42, 9, "p2", 8)],
                                   _SCHEMA + ", extra int"))
    expected.loc[expected.k == 2, ["v", "ver", "p"]] = [42, 9, "p2"]
    assert _live(t) == _expected(expected)
    extra = dict(t.read().select("k", "extra").collect())
    assert extra[2] == 8 and extra[3] == 7
    t.drop()


def test_explicit_compact_and_automatic_fold(spark, caplog):
    t, expected = _table_with_delta(spark, TableModel.UNIQUE_KEYS)
    expected = _upsert(spark, t, expected, 5)
    t.compact()
    assert not os.path.isdir(t._delta_path())
    assert _live(t) == _expected(expected)

    # a batch whose delta reaches half the base's bytes folds at once
    rng = random.Random(6)
    big = [(k, rng.randrange(10**6), 2, f"p{k % 3}") for k in range(2000)]
    with caplog.at_level(logging.INFO, logger="starrocks_spark.tables.models"):
        t.insert(spark.createDataFrame(big, _SCHEMA))
    expected = _model_upsert(expected, big, False)
    assert not os.path.isdir(t._delta_path())
    assert _live(t) == _expected(expected)
    msg = [r.getMessage() for r in caplog.records if "fold" in r.getMessage()]
    assert msg and msg[-1].endswith("fold True") and " B, base " in msg[-1]
    t.drop()


def _base_files(t):
    out = {}
    for d, dirs, names in os.walk(t.path):
        dirs[:] = [n for n in dirs if not n.startswith("_")]
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), t.path)] = f.read()
    return out


@pytest.mark.parametrize("partition_by", [None, "p"])
def test_upsert_leaves_base_part_files_byte_identical(spark, partition_by):
    t = ManagedTable.create(spark, TableModel.PRIMARY_KEYS, ["k"],
                            partition_by=partition_by)
    t.insert(spark.createDataFrame(_base_rows(), _SCHEMA))
    before = _base_files(t)
    assert any(k.endswith(".parquet") for k in before)
    for seed in (7, 8):
        rows = _batches("partitioned", random.Random(seed))[0]
        t.insert(spark.createDataFrame(rows, _SCHEMA))
        assert _base_files(t) == before
    t.drop()


def _jobs_while(spark, fn):
    """Spark jobs launched while ``fn`` runs (its job group's)."""
    sc = spark.sparkContext
    group = f"jobs_while_{random.getrandbits(32)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_after_upsert_runs_no_inference_job(spark):
    t, expected = _table_with_delta(spark)
    t.read().count()
    _upsert(spark, t, expected, 9)
    # building the scan launches no job; an inferring scan launches one
    assert _jobs_while(spark, t.read) == 0
    assert _jobs_while(spark, lambda: spark.read.parquet(t.path)) == 1
    t.drop()


def test_rollup_and_mv_reads_carry_the_stored_schema(spark, tmp_path):
    t = ManagedTable.create(spark, TableModel.DUP_KEYS, ["k", "p"])
    t.add_rollup("by_p", ["p"], {"v": "sum"})
    rows = spark.createDataFrame(_base_rows(300), _SCHEMA)
    t.insert(rows)
    aggs = {"s": ("sum", "v"), "n": ("count", "*")}
    first = sorted(t.read_agg(["p"], aggs).collect())
    t.insert(rows)
    assert _jobs_while(spark, lambda: t.read_agg(["p"], aggs)) == 0
    assert t.last_index_used == "by_p"
    assert sorted(t.read_agg(["p"], aggs).collect()) == [
        (p, 2 * s, 2 * n) for p, s, n in first]
    t.drop()

    mv = MaterializedView(spark, lambda src: src.groupBy("p").agg(
        F.sum("v").alias("s")), "p", "p", path=str(tmp_path / "mv"))
    mv.refresh(rows)
    mv.read().count()
    changed = rows.withColumn(
        "v", F.when(F.col("p") == "p0", F.col("v") + 1).otherwise(F.col("v")))
    assert mv.refresh(changed) == 1
    assert _jobs_while(spark, mv.read) == 0
    want = changed.groupBy("p").agg(F.sum("v").alias("s"))
    assert sorted(mv.read().select("p", "s").collect()) == sorted(want.collect())
    mv.drop()
