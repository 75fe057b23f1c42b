"""Tests for the benchmark's own pieces (run: python -m pytest perfbench -q)."""

from __future__ import annotations

import math
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest

import datagen
import workloads
from results import canon, digest, nearest_rank, rowset, spread, tail_rank


@pytest.fixture(scope="module")
def orders():
    rng = np.random.default_rng(7)
    return pa.table(datagen.order_rows(rng, np.arange(datagen.ROWS["orders"])))


def test_adhoc_op_list_is_seeded():
    a, b = workloads.adhoc_ops(3, 30), workloads.adhoc_ops(3, 30)
    assert workloads.ops_digest(a) == workloads.ops_digest(b)
    assert [o.arg for o in a] == [o.arg for o in b]
    c = workloads.adhoc_ops(4, 30)
    assert workloads.ops_digest(a) != workloads.ops_digest(c)
    # the template mix is the same for every seed; only literals and order move
    assert sorted(o.label for o in a) == sorted(o.label for o in c)


def test_ingest_op_list_is_seeded(orders, tmp_path):
    a = workloads.ingest_ops(5, 30, orders, str(tmp_path / "a"))
    b = workloads.ingest_ops(5, 30, orders, str(tmp_path / "b"))
    c = workloads.ingest_ops(6, 30, orders, str(tmp_path / "c"))
    assert workloads.ops_digest(a.ops) == workloads.ops_digest(b.ops)
    assert [open(p, "rb").read() for p in a.batch_paths] == \
        [open(p, "rb").read() for p in b.batch_paths]
    assert workloads.ops_digest(a.ops) != workloads.ops_digest(c.ops)
    assert sorted(o.kind for o in a.ops) == sorted(o.kind for o in c.ops)
    assert a.ops[-1].kind != "upsert"


def test_ingest_model_counts_new_keys(orders, tmp_path):
    plan = workloads.ingest_ops(5, 30, orders, str(tmp_path))
    upserts = [o for o in plan.ops if o.kind == "upsert"]
    assert plan.final_count == orders.num_rows + sum(o.params["new"] for o in upserts)


def test_tail_percentile_rule():
    import run

    assert run.TAIL_P == tail_rank(run.MIN_OPS)[0] == 66
    assert tail_rank(30) == (66, 19)
    assert tail_rank(40) == (75, 29)
    assert tail_rank(100) == (90, 89)
    for n in range(11, 300):
        p, idx = tail_rank(n)
        assert n - 1 - idx >= 10  # at least ten samples beyond
        # one percentile higher would leave fewer than ten beyond
        assert n - math.ceil((p + 1) * n / 100) < 10
    with pytest.raises(ValueError):
        tail_rank(10)
    assert nearest_rank([float(i) for i in range(30, 0, -1)], 66) == 20.0
    assert nearest_rank([float(i) for i in range(1, 41)], 66) == 27.0
    assert nearest_rank([3.0, 1.0, 2.0], 50) == 2.0


def test_comparator_ignores_row_and_column_order():
    a = digest(["x", "Y"], [(1, "a"), (2, "b")])
    b = digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a == b


def test_comparator_nulls():
    assert canon(None) != canon(0) and canon(None) != canon("")
    assert digest(["x"], [(None,), (1,)]) == digest(["x"], [(1,), (None,)])
    assert digest(["x"], [(None,)]) != digest(["x"], [(0,)])
    assert canon(float("nan")) == canon(float("nan"))


def test_comparator_fixed_point_decimals():
    assert canon(Decimal("1.50")) == canon(Decimal("1.5")) == canon(1.5)
    assert canon(Decimal("1234.5600")) == canon(1234.56)
    assert canon(Decimal("0.1")) != canon(Decimal("0.2"))
    # a decimal that is not the same double does not match
    assert canon(Decimal("1.0000000000000001")) == canon(1.0)
    assert canon(Decimal("1.001")) != canon(1.0)


def test_corrupted_expected_value_fails():
    rows = [(1, Decimal("10.25")), (2, None)]
    good = digest(["k", "v"], rows)
    assert digest(["k", "v"], [(1, Decimal("10.26")), (2, None)]) != good
    assert digest(["k", "v"], [(1, Decimal("10.25"))]) != good
    assert rowset(["k", "v"], rows)[0] == "k|v"


def test_oracle_cache_recomputes_an_edited_oracle(tmp_path):
    import run

    path = str(tmp_path / "oracle.json")
    calls = []

    def compute(sql):
        calls.append(sql)
        return f"digest of {sql}"

    first = run.cached_digests(path, {"a": "SELECT 1", "b": "SELECT 2"}, compute)
    assert first == {"a": "digest of SELECT 1", "b": "digest of SELECT 2"}
    assert run.cached_digests(path, {"a": "SELECT 1", "b": "SELECT 2"}, compute) == first
    assert calls == ["SELECT 1", "SELECT 2"]  # the second call hit the cache
    # editing one oracle's SQL re-runs that oracle only
    edited = run.cached_digests(path, {"a": "SELECT 1", "b": "SELECT 3"}, compute)
    assert edited["b"] == "digest of SELECT 3" and calls[-1] == "SELECT 3"
    assert len(calls) == 3


def test_spread_matches_statistics_quantiles():
    s = spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert s["median"] == 5.5 and s["min"] == 1.0 and s["max"] == 10.0
    assert s["iqr_frac"] == pytest.approx((s["q3"] - s["q1"]) / 5.5)


def test_warmup_drift_compares_each_template_with_itself():
    from results import warmup_drift

    # slow template first, fast template second: no drift within either
    labels = ["slow"] * 5 + ["fast"] * 5 + ["slow"] * 5 + ["fast"] * 5
    lat = [2.0] * 5 + [0.5] * 5 + [2.0] * 5 + [0.5] * 5
    assert warmup_drift(labels, lat) == 1.0
    assert warmup_drift(["a"] * 4, [2.0, 2.0, 1.0, 1.0]) == 2.0
