"""SparkSession factory tuned for OLAP workloads.

Mirrors the execution-engine defaults the reference gets from its BE
pipeline engine (be/src/exec/pipeline/) — here they are Spark configs:
AQE (adaptive DOP / skew join = reference's adaptive pipeline DOP and
SkewJoinOptimizeRule), runtime bloom filters (= reference's runtime
filters, be/src/runtime/runtime_filter.h), CBO + join reorder
(= reference's Cascades memo optimizer), Parquet aggregate/filter
pushdown (= zone-map / metadata scan pruning).

Designed for a 1000-executor cluster: nothing here assumes local mode
except the master URL default, which callers override in production.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import DataFrame, SparkSession

from starrocks_spark import jvm

log = logging.getLogger(__name__)

# Shuffle partition count: on a real cluster this should be ~2-3x total
# executor cores (AQE coalesces down); locally match the core count.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

OLAP_CONF: dict[str, str] = {
    # --- adaptive execution: runtime re-planning, skew handling, coalesce
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Size-driven coalescing knobs (r12, guide §2.2); a deployment
    # overrides them through get_spark(extra_conf=...). parallelismFirst=false
    # makes the advisory byte size govern coalescing (the documented
    # production recommendation: a 100 TB shuffle gets bytes/advisory
    # partitions instead of max-count slivers) — but it was A/B
    # MEASURED HERE at sf0.1 and made the bench 1.08x SLOWER overall
    # (dedup_minhash_lsh 4.95→8.35 s, tpch_q1 1.33→2.77 s): KB-sized
    # shuffles whose rows carry CPU-heavy work (md5 signatures,
    # array_intersect verification) collapse to ONE task and the
    # compute serializes. Byte-driven coalescing misjudges
    # compute-bound-but-small partitions, so the default keeps
    # Spark's stock parallelism-first behaviour; a real deployment
    # whose partition byte size tracks work passes
    # get_spark(extra_conf={<this key>: "false"}).
    # (OPTIMIZATION_r12.md §session)
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # --- cost-based optimizer + join reorder (reference: Cascades memo)
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # --- runtime filters: bloom filter pushed from join build side to
    #     probe scan (reference: be/src/runtime/runtime_filter.h)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled": "true",
    # --- scan pruning (reference: zone maps / segment stats)
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # --- scan split sizing derives from INPUT BYTES, not a task-count
    #     floor (r12, guide §2.2 "fewer, larger map tasks" / §6).
    #     Spark's default minPartitionNum = defaultParallelism forces
    #     every scan to >= 32 splits, so a KB-sized parquet file
    #     schedules 32 near-empty tasks per scan stage (~60-90 ms of
    #     pure task-launch per stage, measured). With the floor at 1,
    #     split count comes from size alone (maxPartitionBytes /
    #     openCostInBytes packing): tiny inputs scan as 1 task, a
    #     100 TB table still gets size/128MB splits, and the count no
    #     longer changes with the core count (which also makes the
    #     low-core scaling run measure the queries, not the floor).
    #     CPU-heavy scans in this repo (dedup/ANN text+vector stages)
    #     explicitly repartition to full parallelism, so they keep
    #     their cores either way.
    #     r13 three-scale A/B (BENCH_NOTES.md "r13: mid-scale"): at
    #     sf0.1 floor=1 wins (bench 145 vs 167 s — fixed-overhead-
    #     bound); in the 10 MB-4 GB band floor=cores wins up to 1.8×
    #     (bytes/128 MB under-parallelizes there); at >= ~4 GB the
    #     settings converge (splits >> cores). Production guidance:
    #     get_spark(extra_conf={<this key>: <total executor cores>})
    #     — the stock Spark default — whenever hot tables live in that
    #     band.
    "spark.sql.files.minPartitionNum": "1",
    # --- broadcast threshold: dimension tables up to 64 MB broadcast
    #     (reference CBO picks broadcast joins for small build sides)
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # --- codegen class cache (static, JVM-wide), keyed on generated
    #     source. The ParamLiterals strategy (jvm/) keeps comparison
    #     literals in filter and join conditions out of that source, but
    #     Spark still inlines numeric and date literals anywhere else
    #     (projections, aggregates, CASE), so fresh-literal queries keep
    #     adding classes that are never reused. At the stock 100 entries
    #     those evict the literal-free classes of the recurring query
    #     shapes, which then compile again. Measured on perfbench
    #     adhoc_sql seed 1 (8 templates, 4-vCPU VM, local[2]), Janino
    #     compiles per query: 5.1 at 100 entries, 2.3 at 4000, 0.27 at
    #     4000 with ParamLiterals. At 0.27 per query, 4000 entries hold a
    #     shape's classes through ~15,000 fresh-literal queries.
    "spark.sql.codegen.cache.maxEntries": "4000",
    # --- Arrow for any pandas-UDF path (sketches, ANN, multimodal)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- predicate pushdown into Python DataSource connectors
    "spark.sql.python.filterPushdown.enabled": "true",
    # --- determinism: UTC everywhere so results match the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # --- parquet TIMESTAMP(NANOS) (events.ts) is only readable as a raw
    #     long; static here so reads are ordering-independent (the flag is
    #     a no-op for every other table — none carries NANOS timestamps)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- ANSI off: MySQL-ish permissive casts like the reference dialect
    "spark.sql.ansi.enabled": "false",
    # --- size/cardinality of NULL is NULL (reference array_length/
    #     map_size semantics; Spark's legacy default returns -1)
    "spark.sql.legacy.sizeOfNull": "false",
    # --- managed tables (table-model layer): keep the warehouse out of
    #     the repo; dynamic overwrite = rewrite only touched partitions,
    #     the scale-critical behavior for partitioned upserts
    "spark.sql.warehouse.dir": "/tmp/sr_spark_warehouse",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # --- local-mode driver heap: the default 1g OOMs long acceptance
    #     runs (hundreds of suites in one session); on a real cluster
    #     the submit config overrides this
    "spark.driver.memory": "12g",
}


def get_spark(
    app_name: str = "starrocks-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for tests/bench;
    pass an explicit cluster master in production.
    """
    # Python workers resolve pickled-by-reference classes (DuckDB
    # DataSource, pandas-UDF closures) via PYTHONPATH, not the driver's
    # sys.path — an external driver launching from another cwd would
    # otherwise hit PYTHON_DATA_SOURCE_ERROR on the connector scans.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{_DEFAULT_CPUS}]"
    )
    conf = dict(OLAP_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or _DEFAULT_CPUS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# What the engine installs into a session (table frames, temp views,
# UDFs, the ParamLiterals planner strategy) is installed once per
# session and remembered here, like the reference FE's catalog and
# FunctionSet. So are the build-once artifacts' frames
# (queries/llm_pipeline.py: the signature-pairs table, the fulltext,
# IVF and SQ8 indexes); their files live under scratch.scratch_root,
# per process. Keyed on the live session OBJECT (`is` check), so a new
# session (spark.newSession(), or one started after a stop) installs
# its own. A WeakKeyDictionary would free nothing: the cached frames
# hold their session, so stopped sessions are dropped explicitly.
_SESSION_MEMOS: dict[int, tuple[SparkSession, dict]] = {}


def session_memo(spark: SparkSession) -> dict:
    """The engine's per-session state dict for ``spark``; the first
    call for a session installs the ParamLiterals strategy into it."""
    for key, (s, _) in list(_SESSION_MEMOS.items()):
        if s.sparkContext._jsc is None:  # stopped
            del _SESSION_MEMOS[key]
    hit = _SESSION_MEMOS.get(id(spark))
    if hit is None or hit[0] is not spark:
        jvm.install(spark)
        hit = _SESSION_MEMOS[id(spark)] = (spark, {})
    return hit[1]


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


_BYTE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
               "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
               "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}


def _conf_bytes(value: str) -> int:
    """A Spark byte-size conf value (``64m``, ``67108864b``) in bytes,
    parsed here: the JVM's own parser is ~7 py4j round trips away."""
    num, unit = re.fullmatch(r"(\d+)\s*([a-z]*)", value.strip().lower()).groups()
    return int(num) * _BYTE_UNITS[unit]


def plan_small_statically(df: DataFrame) -> DataFrame:
    """Physically plan ``df`` with adaptive execution off when its input
    is below one advisory partition; returns ``df`` itself.

    Input = the sum of ``stats().sizeInBytes`` over the leaves of the
    optimized plan and of its subquery plans. (The optimized plan's own
    estimate is no input size: a join's is the product of its
    children's, 3.7e22 B for a 5-table join over sf0.1.) Below
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` AQE's coalescing
    and skew splitting have next to nothing to act on (on the ad-hoc
    benchmark it coalesced every shuffle to one partition), yet it runs
    each query stage as a job of its own; the broadcast threshold
    already picks joins statically. The static plan is forced
    on ``df``'s own QueryExecution, so ``df``'s actions (``collect``,
    ``toPandas``) run it; the session's ``spark.sql.adaptive.enabled``
    is restored before returning. Frames derived from ``df`` plan anew.
    """
    spark = df.sparkSession
    qe = df._jdf.queryExecution()
    plan = qe.optimizedPlan()
    leaf_bytes = sum(
        int(leaf.stats().sizeInBytes())
        for p in [plan] + _seq(plan.subqueriesAll())
        for leaf in _seq(p.collectLeaves())
    )
    advisory = _conf_bytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    static = leaf_bytes < advisory
    log.info("leaf input %d B, advisory partition %d B -> %s plan",
             leaf_bytes, advisory, "static" if static else "adaptive")
    if static:
        key = "spark.sql.adaptive.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            qe.executedPlan()
        finally:
            spark.conf.set(key, prev)
    return df
