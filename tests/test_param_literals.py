"""The ParamLiterals planner strategy (starrocks_spark/jvm/): comparison
literals in filter and join conditions are held by reference, so a
query shape compiles its generated classes once whatever its literals,
while scan pushdown keeps the real values and results stay those of a
session without the strategy. Also the per-session memo that installs
it: once per live session, and stopped sessions are dropped."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from starrocks_spark.catalog import TABLES, register_tables
from starrocks_spark.plans.dialect import starrocks_sql

_SHAPE = """
SELECT COUNT(*) AS n, SUM(l_orderkey) AS keys FROM lineitem
WHERE l_linenumber < {i} AND l_discount >= {d}
  AND CAST(l_shipdate AS DATE) >= DATE '{day}'
  AND l_shipdate < TIMESTAMP '{ts}'
"""


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _param_strategies(session) -> int:
    strategies = session._jsparkSession.experimental().extraStrategies()
    return sum(strategies.apply(i).getClass().getName() == "ParamLiterals"
               for i in range(strategies.size()))


@pytest.fixture(scope="module")
def plain(spark, sf_dir):
    """A session the engine never touched: no ParamLiterals."""
    s = spark.newSession()
    for t in TABLES:
        if t != "events":
            s.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    assert _param_strategies(s) == 0
    return s


def test_fresh_literals_compile_no_new_classes(spark, sf_dir, plain):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    first = dict(i=4, d=0.03, day="1994-01-01", ts="1997-06-01 00:00:00")
    second = dict(i=6, d=0.05, day="1995-03-15", ts="1998-01-01 12:30:00")
    rows = [starrocks_sql(spark, _SHAPE.format(**first), sf_dir).collect()]
    before = compiles.getCount()
    df = starrocks_sql(spark, _SHAPE.format(**second), sf_dir)
    rows.append(df.collect())
    assert compiles.getCount() == before
    plan = _plan(df)
    assert plan.count("invoke(") == 4, plan
    assert rows[0] != rows[1]
    assert rows == [plain.sql(_SHAPE.format(**lits)).collect()
                    for lits in (first, second)]


def test_scan_pushdown_keeps_real_literals(spark, sf_dir):
    df = starrocks_sql(spark, "SELECT l_orderkey FROM lineitem "
                              "WHERE l_quantity < 7.5 AND l_linenumber > 3",
                       sf_dir)
    scan = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    pushed = scan.metadata().apply("PushedFilters")
    assert "LessThan(l_quantity,7.5)" in pushed
    assert "GreaterThan(l_linenumber,3)" in pushed
    assert "< invoke(7.5.doubleValue())" in _plan(df)


_CASES = {
    # nulls on the column side (nullif), compared with int literals
    "null": ("nullif(l_linenumber, 1) > 2 OR nullif(l_linenumber, 2) <= 1",
             True),
    "null_safe": ("nullif(l_linenumber, 1) <=> 3", True),
    # becomes isnull(nullif(..)): only nullif's `= 1` is rewritten
    "null_safe_null": ("nullif(l_linenumber, 1) <=> NULL", True),
    "decimal": ("CAST(l_extendedprice AS DECIMAL(12, 2)) > 50000.25", False),
    "string": ("l_returnflag = 'R' AND l_linestatus < 'O'", False),
    # Spark orders NaN above every double and equal to itself
    "nan": ("if(l_linenumber = 1, double('NaN'), l_discount) = double('NaN')"
            " OR l_tax > double('NaN')", True),
    "nan_greater": ("if(l_linenumber = 2, double('NaN'), l_discount) > 0.05",
                    True),
    "timestamp": ("l_shipdate >= TIMESTAMP '1996-02-29 12:00:00'", True),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_filter_results_match_a_plain_session(spark, sf_dir, plain, case):
    register_tables(spark, sf_dir)
    pred, rewritten = _CASES[case]
    sql = f"SELECT COUNT(*) AS n, SUM(l_orderkey) AS k FROM lineitem WHERE {pred}"
    df = spark.sql(sql)
    assert df.collect() == plain.sql(sql).collect()
    assert ("invoke(" in _plan(df)) == rewritten


@pytest.mark.parametrize("sql,join", [
    ("SELECT COUNT(*) AS n, SUM(o_orderkey) AS k FROM lineitem JOIN orders "
     "ON l_orderkey = o_orderkey AND l_extendedprice - o_totalprice > -90000.5",
     "BroadcastHashJoin"),
    ("SELECT COUNT(*) AS n, SUM(a.n_nationkey) AS k FROM nation a JOIN nation b "
     "ON a.n_nationkey - b.n_nationkey > 20", "BroadcastNestedLoopJoin"),
])
def test_join_condition_results_match_a_plain_session(spark, sf_dir, plain,
                                                      sql, join):
    register_tables(spark, sf_dir)
    df = spark.sql(sql)
    assert df.collect() == plain.sql(sql).collect()
    node = next(ln for ln in _plan(df).splitlines() if join in ln)
    assert "invoke(" in node, node


def test_new_session_plans_with_the_rewrite(spark, sf_dir, plain):
    register_tables(spark, sf_dir)
    other = spark.newSession()
    sql = "SELECT n_name FROM nation WHERE n_nationkey > 20"
    df = starrocks_sql(other, sql, sf_dir)
    assert "invoke(" in _plan(df)
    assert sorted(df.collect()) == sorted(plain.sql(sql).collect())
    assert len(df.collect()) == 4
    assert _param_strategies(other) == 1
    assert _param_strategies(spark) == 1


_CYCLES = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from starrocks_spark import session
    from starrocks_spark.catalog import register_tables

    strategies = set()
    for cycle in range(3):
        spark = session.get_spark(master="local[1]", shuffle_partitions=1)
        register_tables(spark, {sf_dir!r})
        xs = spark._jsparkSession.experimental().extraStrategies()
        assert xs.size() == 1, xs.toString()
        strategies.add(xs.apply(0).toString())
        if cycle == 2:
            print("MEMOS", len(session._SESSION_MEMOS))
        spark.stop()
    print("COMPILED", len(strategies))
""")


def test_stopped_sessions_leave_the_memo(sf_dir):
    """Three get_spark -> register_tables -> stop cycles in one process
    leave one memo entry, the live session's, with the strategy (one
    JVM instance, compiled once) installed once per session."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _CYCLES.format(repo=repo, sf_dir=sf_dir)],
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "MEMOS 1" in proc.stdout and "COMPILED 1" in proc.stdout, proc.stdout
