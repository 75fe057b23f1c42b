"""Unit tests for the StarRocks→Spark SQL dialect translator
(plans/dialect.py), mostly string-level, and for the per-query floor of
its ``starrocks_sql`` entry point: register-once views, static planning
of small queries, and codegen classes kept per query shape."""

from __future__ import annotations

import re

from starrocks_spark.plans.dialect import (
    desugar_qualify,
    translate,
    translate_mysql_format,
)


def test_format_tokens():
    assert translate_mysql_format("%Y-%m-%d %H:%i:%s") == "yyyy-MM-dd HH:mm:ss"
    assert translate_mysql_format("%W %M %Y") == "EEEE MMMM yyyy"
    assert translate_mysql_format("%%") == "%"
    # passthrough literal letters get quoted for DateTimeFormatter
    assert translate_mysql_format("%YT%H") == "yyyy'T'HH"


def test_date_format_call():
    out = translate("SELECT date_format(ts, '%Y-%m') AS ym FROM events")
    assert "date_format(ts, 'yyyy-MM')" in out


def test_str_to_date_translation():
    # date-only format → DATE (MySQL str_to_date returns DATE when no
    # time parts are requested); time parts → TIMESTAMP
    out = translate("SELECT str_to_date(s, '%Y-%m-%d') FROM t")
    assert "to_date(s, 'yyyy-MM-dd')" in out
    out2 = translate("SELECT str_to_date(s, '%Y-%m-%d %H:%i:%s') FROM t")
    assert "yyyy-MM-dd HH:mm:ss" in out2 and "to_date(" not in out2


def test_nested_interval_inside_format():
    out = translate("SELECT date_format(date_add(d, INTERVAL 1 DAY), '%Y') FROM t")
    assert "INTERVAL 1 DAY" in out
    assert "'yyyy'" in out


def test_interval_forms():
    out = translate("SELECT date_add(d, INTERVAL 3 MONTH), date_sub(d, 5) FROM t")
    assert "+ INTERVAL 3 MONTH" in out
    # plain int form returns DATETIME in the reference (FunctionSet
    # date_sub(DATETIME, INT) -> DATETIME) — timestampadd keeps the
    # time part where Spark's native date_sub would drop it
    assert "timestampadd(DAY, -(5)" in out


def test_int_date_arith_interval_folding():
    # IntervalLiteral arithmetic constant-folds (test_days_add,
    # test_intervals_trino) — r12 second pass folds literal counts
    # into a single interval literal before any call rewrite
    out = translate("SELECT adddate(d, INTERVAL 1 YEAR * 2) FROM t")
    assert "INTERVAL 2 YEAR" in out
    out = translate("SELECT adddate(d, 2 * INTERVAL 1 YEAR) FROM t")
    assert "INTERVAL 2 YEAR" in out
    out = translate("SELECT adddate(d, INTERVAL 2 YEAR / 2) FROM t")
    assert "INTERVAL 1 YEAR" in out
    # non-constant counts still fold inside the call rewrite
    out = translate("SELECT adddate(d, INTERVAL 1 YEAR * n) FROM t")
    assert "make_interval" in out
    import pytest as _pt
    with _pt.raises(ValueError, match="divide IntervalLiteral"):
        translate("SELECT adddate(d, 2 / INTERVAL 2 YEAR) FROM t")
    # sub-second units exist as Spark literals
    out = translate("SELECT adddate(d, INTERVAL 500 MILLISECOND) FROM t")
    assert "INTERVAL 500 MILLISECOND" in out


def test_aliases():
    out = translate("SELECT dayname(d), money_format(x), ucase(s) FROM t")
    assert "date_format(d, 'EEEE')" in out
    assert "format_number(CAST(x AS DOUBLE), 2)" in out
    assert "upper(s)" in out


def test_qualify_moves_pred_into_subquery():
    out = desugar_qualify(
        "SELECT a, b FROM t QUALIFY row_number() OVER "
        "(PARTITION BY a ORDER BY b DESC) <= 2 ORDER BY a LIMIT 10"
    )
    assert out.startswith("SELECT * EXCEPT(__q) FROM (SELECT a, b, (row_number()")
    # the window ORDER BY stays inside; the outer ORDER BY/LIMIT move out
    assert out.rstrip().endswith("ORDER BY a LIMIT 10")
    assert "WHERE __q" in out


def test_qualify_absent_is_noop():
    sql = "SELECT a FROM t WHERE a LIKE '%QUALIFY%'"
    assert desugar_qualify(sql) == sql


def test_like_percent_untouched():
    sql = "SELECT * FROM t WHERE s LIKE '%Y%'"
    assert translate(sql) == sql


def test_chained_cmp_folds_whole_chain():
    # MySQL chains fold left-to-right with 0/1 coercion at every step;
    # a single-pair rewrite left 3+-operand chains boolean<int (r8
    # ADVICE, low)
    from starrocks_spark.plans.dialect import _rw_chained_cmp

    assert _rw_chained_cmp("SELECT 1 < x < 10 FROM t") == \
        "SELECT CAST(1 < x AS INT) < 10 FROM t"
    assert _rw_chained_cmp("SELECT a < b < c < d FROM t") == \
        "SELECT CAST(CAST(a < b AS INT) < c AS INT) < d FROM t"
    # generic type parameters never match
    sql = "SELECT CAST(x AS array<array<int>>) FROM t"
    assert _rw_chained_cmp(sql) == sql


def test_classify_cte_named_like_keyword():
    # a CTE named deleted_rows must not classify the statement as a
    # DELETE (r8 ADVICE, medium: startswith without a word boundary)
    from starrocks_spark.plans.sqltester import classify

    assert classify(
        "WITH deleted_rows AS (SELECT 1) SELECT * FROM deleted_rows"
    ) == "select"
    assert classify(
        "WITH u AS (SELECT 1) UPDATE t SET x = 1") == "update"
    assert classify(
        "WITH d AS (SELECT 1) DELETE FROM t WHERE a = 1") == "delete"


def test_distinct_over_unbounded_restructures():
    # r9 (r8 verdict "what's wrong #2"): DISTINCT aggregates over an
    # UNBOUNDED window must NOT materialize the partition's distinct
    # set per row (collect_set over the frame is O(n*d) bytes); the
    # scale-safe shape is a first-occurrence row_number marker summed
    # by a scalar-state window.
    from starrocks_spark.plans import dialect

    sql = dialect.translate(
        "select v1, count(distinct v3) over(partition by v1, v2) c, "
        "sum(distinct v3) over(partition by v1, v2) s, "
        "avg(distinct v3) over(partition by v1, v2) a from t0")
    assert "collect_set" not in sql.lower()
    assert re.search(r"row_number\(\) OVER \(PARTITION BY v1, v2, v3",
                     sql)
    # one marker is shared by all three aggregates over the same
    # (arg, window)
    assert sql.count("row_number()") == 1
    # empty OVER () restructures too
    sql2 = dialect.translate(
        "select count(distinct v3) over() c from t0")
    assert "collect_set" not in sql2.lower()
    # genuinely sliding frames KEEP the set-based desugar (state is
    # bounded by the frame length)
    sql3 = dialect.translate(
        "select count(distinct v3) over(partition by v1 order by v2 "
        "rows between 3 preceding and current row) c from t0")
    assert "collect_set" in sql3.lower()


def test_rank_without_order_is_constant_one():
    # rank()/dense_rank() with a partition but no ORDER BY: all rows
    # are peers, the reference assigns rank 1 everywhere
    from starrocks_spark.plans import dialect

    sql = dialect.translate(
        "select rank() over(partition by v1, v2) r from t0")
    assert "CAST(1 AS BIGINT)" in sql
    # an ordered rank is untouched
    sql2 = dialect.translate(
        "select rank() over(partition by v1 order by v2) r from t0")
    assert "rank()" in sql2


def test_ngram_search_null_haystack_is_null(spark):
    # ngram.cpp union_nullable_column: NULL haystack → NULL score,
    # for both constant and dynamic needles (ADVICE r9)
    from starrocks_spark.plans import dialect

    sql = dialect.translate(
        "select ngram_search(CAST(NULL AS STRING), 'chinese', 4) s")
    assert spark.sql(sql).first()["s"] is None
    sql2 = dialect.translate(
        "select ngram_search(CAST(NULL AS STRING), "
        "concat('chin', 'ese'), 4) s")
    assert spark.sql(sql2).first()["s"] is None


def test_to_binary_null_propagates(spark):
    # to_binary null-propagates its input in every format
    # (be binary_functions.cpp; ADVICE r9)
    from starrocks_spark.plans import dialect

    for fmt in ("'hex'", "'encode64'", "'utf8'"):
        sql = dialect.translate(
            f"select to_binary(CAST(NULL AS STRING), {fmt}) b")
        assert spark.sql(sql).first()["b"] is None, fmt
    # non-null invalid inputs keep the EMPTY-binary semantics
    sql = dialect.translate("select to_binary('zz', 'hex') b")
    assert spark.sql(sql).first()["b"] == bytearray(b"")


def test_distinct_over_running_frame_restructures():
    # r10: ORDER BY (running) frames — default RANGE UNBOUNDED
    # PRECEDING..CURRENT ROW and explicit unbounded frames — use the
    # first-occurrence-marker restructure (scalar window state), NOT
    # collect_set (whose per-row set materialization is O(n*d) per
    # partition); be/src/exprs/agg/window.h keeps O(1)-per-row state
    import re

    from starrocks_spark.plans import dialect

    sql = dialect.translate(
        "select count(distinct v3) over(partition by v1 order by v2) c,"
        " sum(distinct v3) over(partition by v1 order by v2) s,"
        " avg(distinct v3) over(partition by v1 order by v2) a"
        " from t0")
    assert "collect_set" not in sql.lower()
    assert re.search(r"row_number\(\) OVER \(PARTITION BY v1, v3 "
                     r"ORDER BY v2", sql)
    # one shared marker for the three aggregates over the same window
    assert sql.count("row_number()") == 1
    # explicit unbounded frames restructure too
    for frame in ("range between unbounded preceding and current row",
                  "rows unbounded preceding",
                  "rows between unbounded preceding and unbounded "
                  "following"):
        s2 = dialect.translate(
            f"select count(distinct v3) over(partition by v1 "
            f"order by v2 {frame}) c from t0")
        assert "collect_set" not in s2.lower(), frame
    # bounded sliding frames KEEP the set-based desugar
    s3 = dialect.translate(
        "select count(distinct v3) over(partition by v1 order by v2 "
        "rows between 3 preceding and current row) c from t0")
    assert "collect_set" in s3.lower()


def test_concat_dbl_skips_decimal_and_backtick_args():
    from starrocks_spark.plans import dialect

    # int/int division is double-typed → repr-faithful render
    s = dialect.translate("select concat('x_', (50 - i)/10) from t")
    assert "__sr_dstr" in s
    # decimal literals make the division DECIMAL-typed in the
    # reference (full-scale render, trailing zeros) — no double repr
    s2 = dialect.translate("select concat('x_', 1.5/2) from t")
    assert "__sr_dstr" not in s2
    s3 = dialect.translate(
        "select concat(cast(a as decimal(10,2))/b) from t")
    assert "__sr_dstr" not in s3
    # a '/' inside a backtick-quoted identifier is not division
    s4 = dialect.translate("select concat('x', `a/b`) from t")
    assert "__sr_dstr" not in s4


# --- the short-query floor: register-once views, static planning of
#     small queries, codegen classes kept per query shape ---------------

_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderdate < DATE '1995-01-01'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""
_AQE = "spark.sql.adaptive.enabled"
_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _big_sf(sf_dir):
    import os

    import pytest

    big = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    if not os.path.isdir(big):
        pytest.skip(f"{big} absent")
    return big


def _view_spy(spark, monkeypatch):
    """Names passed to createOrReplaceTempView from now on."""
    made = []
    cls = type(spark.range(1))
    real = cls.createOrReplaceTempView

    def spy(self, name):
        made.append(name)
        return real(self, name)

    monkeypatch.setattr(cls, "createOrReplaceTempView", spy)
    return made


def _plan_node(df) -> str:
    return df._jdf.queryExecution().executedPlan().getClass().getSimpleName()


def _count(spark, table):
    return spark.sql(f"SELECT COUNT(*) FROM {table}").first()[0]


def test_register_tables_registers_each_view_once(spark, sf_dir, monkeypatch):
    from starrocks_spark.catalog import TABLES, register_tables

    big = _big_sf(sf_dir)
    register_tables(spark, big)
    want = {t: _count(spark, t) for t in ("orders", "nation")}
    made = _view_spy(spark, monkeypatch)
    register_tables(spark, big)
    assert made == []
    assert {t: _count(spark, t) for t in want} == want
    # replaced by someone else's view, or dropped: only that view again
    spark.range(3).createOrReplaceTempView("orders")
    made.clear()
    register_tables(spark, big)
    assert made == ["orders"]
    spark.catalog.dropTempView("nation")
    made.clear()
    register_tables(spark, big)
    assert made == ["nation"]
    assert {t: _count(spark, t) for t in want} == want
    # another sf_dir replaces every view, and switching back does too
    made.clear()
    register_tables(spark, sf_dir)
    assert made == TABLES
    assert _count(spark, "orders") < want["orders"]
    made.clear()
    register_tables(spark, big)
    assert made == TABLES
    assert {t: _count(spark, t) for t in want} == want


def test_starrocks_sql_plans_small_input_statically(spark, sf_dir):
    from starrocks_spark.plans.dialect import starrocks_sql

    big = _big_sf(sf_dir)
    df = starrocks_sql(spark, _JOIN_SQL, big)
    assert _plan_node(df) != "AdaptiveSparkPlanExec"
    adaptive = spark.sql(translate(_JOIN_SQL))
    assert _plan_node(adaptive) == "AdaptiveSparkPlanExec"
    assert df.collect() == adaptive.collect()


def test_starrocks_sql_stays_adaptive_above_advisory_size(spark, sf_dir):
    """With the advisory partition below lineitem's bytes (but above
    nation's), a query over lineitem plans adaptively — also when
    lineitem sits only inside a scalar subquery."""
    from starrocks_spark.plans.dialect import starrocks_sql

    prev = spark.conf.get(_ADVISORY)
    spark.conf.set(_ADVISORY, "64k")
    try:
        assert _plan_node(starrocks_sql(spark, _JOIN_SQL, sf_dir)) \
            == "AdaptiveSparkPlanExec"
        sub = starrocks_sql(
            spark,
            "SELECT n_name FROM nation WHERE n_nationkey < "
            "(SELECT COUNT(*) FROM lineitem) / 10000", sf_dir)
        assert _plan_node(sub) == "AdaptiveSparkPlanExec"
        small = starrocks_sql(
            spark, "SELECT n_name FROM nation WHERE n_nationkey < 5", sf_dir)
        assert _plan_node(small) != "AdaptiveSparkPlanExec"
        assert len(small.collect()) == 5
    finally:
        spark.conf.set(_ADVISORY, prev)


def test_starrocks_sql_restores_adaptive_conf(spark, sf_dir):
    from starrocks_spark.plans.dialect import starrocks_sql

    prev = spark.conf.get(_AQE)
    try:
        for value in ("true", "false"):
            spark.conf.set(_AQE, value)
            starrocks_sql(spark, _JOIN_SQL, sf_dir).collect()
            assert spark.conf.get(_AQE) == value
    finally:
        spark.conf.set(_AQE, prev)


def test_query_shape_classes_survive_100_other_classes(spark, sf_dir):
    """The codegen cache holds a query's classes after 100+ others
    were generated (Spark's stock cache keeps 100): the re-run
    compiles nothing."""
    from starrocks_spark.plans.dialect import starrocks_sql

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    want = starrocks_sql(spark, _JOIN_SQL, sf_dir).collect()
    before = compiles.getCount()
    for i in range(120):  # each literal is a new generated class
        spark.range(1).selectExpr(f"id * {i + 7} AS x").collect()
    assert compiles.getCount() - before >= 100
    before = compiles.getCount()
    assert starrocks_sql(spark, _JOIN_SQL, sf_dir).collect() == want
    assert compiles.getCount() == before
