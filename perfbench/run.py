#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop client timing a fixed,
seeded op list per workload.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 30 --trace 0

Each run is one process with one thread, driving Spark pinned to
``local[N]``. It generates its inputs from ``--seed``, sets the engine
up several times, warms it up, times ``max(30, --seconds)`` ops, checks
every result against an oracle outside the timed region, and prints
every metric with its unit. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The full record (per-op latencies, provenance, and with ``--trace 1``
the spans and per-op Spark counts) goes to ``perfbench/out/``.

    python3 perfbench/run.py --steady 10 --sets 2 --workload ingest_curate --seed 1
    python3 perfbench/run.py --diff A.json B.json

``--steady K`` runs K fresh processes on seeds seed..seed+K-1 and
prints each metric's median, quartiles and extremes; ``--sets N`` runs
N such sets on disjoint seeds, interleaved, and compares their medians.
``--diff`` lines up two result files metric by metric. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import pyarrow.parquet as pq

import datagen
import procstat
import spans
import workloads
from results import digest, nearest_rank, spread, tail_rank, warmup_drift

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")
CACHE_DIR = os.path.join(HERE, ".cache")
RUN_DIR = os.path.join(HERE, ".run")

WORKLOADS = ("adhoc_sql", "ingest_curate")
# Spark runs local[CORES] (capped at the machine's core count). At sf0.1
# most stages are one task, so two task slots lose nothing, and the two
# cores left over serve the JIT, GC, the driver and Python workers:
# interleaved runs of local[2] were as fast as local[4] with a narrower
# spread (README.md, "Noise findings").
CORES = 2
MIN_OPS = 30
# the tail percentile: the highest with ten samples beyond it at
# MIN_OPS ops (p66), reported at that percentile for any op count
TAIL_P = tail_rank(MIN_OPS)[0]
SETUP_CYCLES = 3
# Warm-up passes over every template / op kind before timing. A second
# pass halved the run-to-run spread of throughput and CPU; the timed ops
# still get faster through the list after it, but a third pass does not
# fit the run budget (README.md, "Noise findings").
WARMUP_PASSES = 2
# Driver heap. The engine's 12g default let the heap grow to ~5 GB on
# a shared host; 2g cut that but added GC work that widened the spread
# of latency and CPU (README.md, "Noise findings").
HEAP = "4g"
# The driver JVM's collector, with a fixed heap layout. G1 (the JVM's
# default) sizes the heap and the young generation from measured pause
# times, so on a shared host the resident peak followed the host's speed
# (2.1-3.0 GB over twenty runs), and its concurrent threads charged
# background CPU to whichever op was running. The parallel collector
# with a fixed young generation and a fixed heap has no concurrent work
# and touches memory only as the program's allocation and promotion
# demand (README.md, "Noise findings").
JVM_OPTS = ("-XX:+UseParallelGC -XX:ParallelGCThreads=2 -XX:-UseAdaptiveSizePolicy "
            f"-Xms{HEAP} -Xmn1g")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=MIN_OPS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, metavar="K",
                    help="run K fresh processes and report each metric's spread")
    ap.add_argument("--sets", type=int, default=1, metavar="N",
                    help="with --steady: N sets of K runs on disjoint seeds, interleaved")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"),
                    help="compare two result files metric by metric")
    args = ap.parse_args(argv)
    if not args.diff and not args.workload:
        ap.error("--workload is required")
    return args


# --------------------------------------------------------------- one run

def _count_cents(df):
    """Row count and integer-cents total of ``o_totalprice``: what the
    generator's model of the PRIMARY_KEYS table predicts exactly."""
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
                  .alias("cents"))


def _duck_digest(con, sql: str) -> str:
    cur = con.execute(sql)
    return digest([c[0] for c in cur.description], cur.fetchall())


def cached_digests(path: str, sqls: dict[str, str], compute) -> dict[str, str]:
    """``compute(sql)`` for every named oracle SQL, reusing a digest
    cached in ``path`` while the SQL it came from is unchanged (the
    cache stores ``{name: [sha256 of the SQL, digest]}``)."""
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    entries = {}
    for name, sql in sqls.items():
        sha = hashlib.sha256(sql.encode()).hexdigest()
        hit = cached.get(name)
        entries[name] = hit if hit and hit[0] == sha else [sha, compute(sql)]
    if entries != cached:
        with open(path + ".tmp", "w") as f:
            json.dump(entries, f)
        os.replace(path + ".tmp", path)
    return {name: entry[1] for name, entry in entries.items()}


class Run:
    """One benchmark run: inputs, set-up, warm-up, timed ops, checks."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.n_ops = max(MIN_OPS, args.seconds)
        self.cores = min(CORES, os.cpu_count() or 1)
        self.master = f"local[{self.cores}]"
        self.work = os.path.join(RUN_DIR, f"{self.workload}-{args.seed}-{os.getpid()}")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep every file the engine, Spark and its workers write inside
        # this run's directory
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        # every JVM, including the launcher spark-submit runs first:
        # temp files here, no /tmp/hsperfdata_* files
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        tempfile.tempdir = tmp
        self.conf = {
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": JVM_OPTS,
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }

    # ---- inputs (benchmark-side work, not part of setup_s)

    def prepare(self) -> None:
        import duckdb
        from starrocks_spark.catalog import TABLES

        self.corpus = datagen.ensure_corpus(CACHE_DIR)
        seed = self.args.seed
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")
            if self.workload == "adhoc_sql":
                self.ops = workloads.adhoc_ops(seed, self.n_ops)
                self.warm_ops = [op for k in range(WARMUP_PASSES)
                                 for op in workloads.warmup_adhoc_ops(seed, k)]
                self.expected = [_duck_digest(con, op.check) for op in self.ops]
                self.plan = None
            else:
                orders = pq.read_table(os.path.join(self.corpus, "orders.parquet"))
                self.plan = workloads.ingest_ops(
                    seed, self.n_ops, orders, os.path.join(self.work, "batches"))
                self.ops = self.plan.ops
                self.warm_ops = self._ingest_warmup(orders) * WARMUP_PASSES
                oracle = self._curation_digests(con)
                self.expected = [oracle.get(op.label) for op in self.ops]
        finally:
            con.close()
        self.digest = workloads.ops_digest(self.ops)

    def _curation_digests(self, con) -> dict[str, str]:
        """DuckDB oracle digests of the curation operators over the
        corpus, cached beside it."""
        from starrocks_spark import registry

        oracles = registry.all_oracles()
        return cached_digests(os.path.join(self.corpus, "curation-oracle.json"),
                              {n: oracles[n] for n in workloads.CURATION_OPS},
                              lambda sql: _duck_digest(con, sql))

    def _ingest_warmup(self, orders):
        """One warm-up pass: one op of each kind. The warm-up upsert
        re-writes 2000 rows with their current values, so the table
        model is unchanged."""
        path = os.path.join(self.work, "batches", "warmup.parquet")
        pq.write_table(orders.slice(orders.num_rows - workloads.UPSERT_ROWS), path)
        self.warm_batch = path
        k = orders.num_rows - 10
        return ([workloads.Op("upsert", "upsert", -1),
                 workloads.Op("read", "range", [k - 500, k + 500]),
                 workloads.Op("read", "point", [k, k])]
                + [workloads.Op("curate", n, None) for n in workloads.CURATION_OPS])

    # ---- the engine

    def launch_jvm(self) -> None:
        """Start the JVM gateway before timing set-up: JVM start-up is
        host noise (measured 7-15 s), not the engine's work."""
        from pyspark import SparkConf, SparkContext

        conf = (SparkConf(loadDefaults=False).set("spark.driver.memory", HEAP)
                .set("spark.driver.extraJavaOptions", JVM_OPTS))
        SparkContext._ensure_initialized(conf=conf)

    def setup_cycle(self) -> dict[str, float]:
        """Session start plus, for adhoc_sql, registering the corpus
        tables, and for ingest_curate, creating the PRIMARY_KEYS table
        and loading it from ``orders``."""
        from starrocks_spark.catalog import register_tables
        from starrocks_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", master=self.master,
                               shuffle_partitions=self.cores,
                               extra_conf=self.conf)
        t1 = time.perf_counter()
        if self.workload == "adhoc_sql":
            register_tables(self.spark, self.corpus)
        t2 = time.perf_counter()
        if self.workload == "ingest_curate":
            from starrocks_spark.tables.models import ManagedTable, TableModel

            self.table = ManagedTable.create(
                self.spark, TableModel.PRIMARY_KEYS, ["o_orderkey"],
                path=os.path.join(self.work, "orders_pk"))
            self.table.insert(self.spark.read.parquet(
                os.path.join(self.corpus, "orders.parquet")))
        t3 = time.perf_counter()
        return {"start_s": t1 - t0, "register_s": t2 - t1, "load_s": t3 - t2,
                "total_s": t3 - t0}

    def setup(self) -> None:
        self.cycles = []
        for i in range(SETUP_CYCLES):
            if i:
                self.spark.stop()
            self.cycles.append(self.setup_cycle())
        self.warm_latencies = []
        for op in self.warm_ops:
            t0 = time.perf_counter()
            self.run_op(op)
            self.warm_latencies.append(time.perf_counter() - t0)
        self.warmup_s = sum(self.warm_latencies)
        self.setup_s = statistics.median(c["total_s"] for c in self.cycles) + self.warmup_s

    def run_op(self, op):
        """Execute one op; returns (columns, rows) or None for upserts."""
        from pyspark.sql import functions as F

        tr = self.tracer
        if op.kind == "sql":
            from starrocks_spark.plans.dialect import starrocks_sql

            with tr.span("dialect.starrocks_sql"):
                df = starrocks_sql(self.spark, op.arg, self.corpus)
        elif op.kind == "curate":
            with tr.span("queries.build"):
                df = self.queries[op.label](self.spark, self.corpus)
            if self.trace and tr.op_id is not None:
                self.eager_jobs = len(
                    self.spark.sparkContext.statusTracker().getJobIdsForGroup(tr.op_id))
        elif op.kind == "upsert":
            path = self.warm_batch if op.arg < 0 else self.plan.batch_paths[op.arg]
            with tr.span("tables.insert"):
                self.table.insert(self.spark.read.parquet(path))
            self.last_df = None
            return None
        else:
            lo, hi = op.arg
            with tr.span("tables.read"):
                df = _count_cents(self.table.read()
                                  .filter(F.col("o_orderkey").between(lo, hi)))
                with tr.span("session.collect"):
                    rows = df.collect()
            self.last_df = df
            return df.columns, rows
        with tr.span("session.collect"):
            rows = df.collect()
        self.last_df = df
        return df.columns, rows

    def check(self, i: int, op, out) -> bool:
        if op.kind == "upsert":
            return True
        if op.kind == "read":
            row = out[1][0]
            return row["n"] == op.params["n"] and (row["cents"] or 0) == op.params["cents"]
        return digest(*out) == self.expected[i]

    def table_files(self) -> dict[str, int]:
        files = {}
        for d, _, names in os.walk(self.table.path):
            for n in names:
                p = os.path.join(d, n)
                st = os.stat(p)
                files[f"{p}:{st.st_ino}"] = st.st_size
        return files

    def timed(self) -> None:
        sc = self.spark.sparkContext
        root = os.getpid()
        self.latencies, self.op_cpu, self.errors, self.per_op = [], [], [], []
        self.failed = 0
        self.mem_mb = procstat.tree_hwm_mb(root)
        written = {"bytes": 0, "files": 0, "batch_bytes": 0}
        workers = spans.WorkerCpu(root) if self.trace else None
        for i, op in enumerate(self.ops):
            self.tracer.op_id = f"op{i:03d}"
            if self.trace:
                sc.setJobGroup(self.tracer.op_id, op.label)
                self.eager_jobs = 0
            before = self.table_files() if op.kind == "upsert" else None
            cpu0 = procstat.tree_cpu_seconds(root)
            t0 = time.perf_counter()
            out, err = None, None
            try:
                with self.tracer.span("bench.op"):
                    out = self.run_op(op)
            except Exception as e:  # a failed op is counted, the loop goes on
                err = repr(e)[:500]
            lat = time.perf_counter() - t0
            # the op's CPU is read before its result is checked, so the
            # check's digest work is not charged to the engine
            self.op_cpu.append(procstat.tree_cpu_seconds(root) - cpu0)
            if err is None:
                try:
                    ok = self.check(i, op, out)
                except Exception as e:  # a malformed result is a wrong one
                    ok, err = False, f"check: {e!r}"[:500]
            else:
                ok = False
            if not ok:
                self.errors.append({"op": i, "label": op.label,
                                    "error": err or "wrong result"})
            self.latencies.append(lat)
            self.failed += not ok
            if before is not None:
                after = self.table_files()
                new = [k for k in after if k not in before]
                written["bytes"] += sum(after[k] for k in new)
                written["files"] += sum(1 for k in new if k.split(":")[0].endswith(".parquet"))
                written["batch_bytes"] += self.plan.batch_bytes[op.arg]
            rec = {"label": op.label, "kind": op.kind, "latency_s": lat,
                   "cpu_s": self.op_cpu[-1], "ok": ok}
            if self.trace:
                rec.update(self._trace_op(sc, workers))
            self.per_op.append(rec)
            self.mem_mb = max(self.mem_mb, procstat.tree_hwm_mb(root))
        self.mem_by_process = procstat.hwm_mb_by_process(root)
        self.written = written
        if self.plan is not None:
            self._final_check()

    def _trace_op(self, sc, workers) -> dict:
        rec = spans.group_counts(self.spark, self.tracer.op_id)
        rec["eager_jobs"] = self.eager_jobs
        rec["worker_cpu_s"] = workers.delta()
        df = self.last_df
        if df is not None:
            rec["catalyst_ms"] = spans.catalyst_ms(df)
            py = spans.python_udf_metrics(df)
            rec["py_udf_ms"] = py["py_ms"]
            rec["arrow_bytes"] = py["arrow_bytes"]
        return rec

    def _final_check(self) -> None:
        """The table's final row count and cents total must equal the
        generator's model after every upsert."""
        row = _count_cents(self.table.read()).collect()[0]
        if (row["n"], row["cents"]) != (self.plan.final_count, self.plan.final_cents):
            self.failed += 1
            self.errors.append({"op": "final", "error":
                                f"table holds {row['n']} rows / {row['cents']} cents, "
                                f"expected {self.plan.final_count} / {self.plan.final_cents}"})

    # ---- metrics

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lat = self.latencies
        return {
            "throughput_ops": (len(lat) / sum(lat), "1/s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            f"latency_p{TAIL_P}_s": (nearest_rank(lat, TAIL_P), "s"),
            "cpu_s_per_op": (sum(self.op_cpu) / len(lat), "s"),
            "setup_s": (self.setup_s, "s"),
            "mem_peak_mb": (self.mem_mb, "MB"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        n = len(self.per_op)

        def total(key):
            return sum(r.get(key, 0.0) for r in self.per_op)

        recorded = self.tracer.spans

        def span_s(name):
            return sum(s["end"] - s["start"] for s in recorded if s["name"] == name)

        exec_s = total("exec_ms") / 1000
        task_s = total("task_ms") / 1000
        w = self.written
        out = {
            "session.start_s": (statistics.median(c["start_s"] for c in self.cycles), "s"),
            "session.catalyst_ms": (total("catalyst_ms") / n, "ms"),
            "session.jobs_per_op": (total("jobs") / n, "count"),
            "session.stages_per_op": (total("stages") / n, "count"),
            "session.tasks_per_op": (total("tasks") / n, "count"),
            "session.single_task_stages": (total("single_task_stages") / n, "count"),
            "session.exec_s": (exec_s / n, "s"),
            "session.task_s": (task_s / n, "s"),
            "session.parallel_eff": (task_s / (exec_s * self.cores) if exec_s else 0.0, "frac"),
            "session.gc_s": (total("gc_ms") / 1000 / n, "s"),
            "session.shuffle_bytes": (total("shuffle_bytes") / n, "B"),
            "session.spill_bytes": (total("spill_bytes") / n, "B"),
            "session.scan_rows": (total("scan_rows") / n, "count"),
            "dialect.translate_s": (span_s("dialect.translate") / n, "s"),
            "catalog.register_s": (span_s("catalog.register") / n, "s"),
            "queries.build_s": (span_s("queries.build") / n, "s"),
            "queries.eager_jobs": (total("eager_jobs") / n, "count"),
            "operators.py_udf_s": (total("py_udf_ms") / 1000 / n, "s"),
            "operators.arrow_bytes": (total("arrow_bytes") / n, "B"),
            "operators.py_worker_cpu_s": (total("worker_cpu_s") / n, "s"),
            "tables.insert_s": (span_s("tables.insert") / n, "s"),
            "tables.read_s": (span_s("tables.read") / n, "s"),
            "tables.bytes_written": (w["bytes"] / n, "B"),
            "tables.files_written": (w["files"] / n, "count"),
            "tables.write_amp": (w["bytes"] / w["batch_bytes"] if w["batch_bytes"] else 0.0,
                                 "ratio"),
            "trace.throughput_ops": (n / sum(self.latencies), "1/s"),
        }
        for layer, secs in self.tracer.self_time().items():
            out[f"self.{layer}_s"] = (secs / n, "s")
        return out

    def provenance(self, load_before, load_after, steal) -> dict:
        sc = self.spark.sparkContext
        per = len(self.warm_ops) // WARMUP_PASSES
        return {
            "workload": self.workload,
            "seed": self.args.seed,
            "ops": len(self.ops),
            "op_list_digest": self.digest,
            "cpus": os.cpu_count(),
            "master": sc.master,
            "spark": self.spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            "cpu_steal_share": steal,
            "setup_cycles": self.cycles,
            "warmup_s": self.warmup_s,
            "warmup_pass_s": [sum(self.warm_latencies[k * per:(k + 1) * per])
                              for k in range(WARMUP_PASSES)],
            "warmup_latencies_s": [[o.label, t] for o, t in
                                   zip(self.warm_ops, self.warm_latencies)],
            "mem_hwm_mb_by_process": self.mem_by_process,
            "warmup_drift": warmup_drift([o.label for o in self.ops], self.latencies),
            "write_amp": (self.written["bytes"] / self.written["batch_bytes"]
                          if self.written["batch_bytes"] else None),
        }

    # ---- lifecycle

    def execute(self) -> dict:
        from starrocks_spark import registry

        marks = [time.perf_counter()]
        self.queries = registry.all_queries()
        self.prepare()
        procstat.reset_hwm()
        load_before = procstat.loadavg()
        stat_before = procstat.cpu_times()
        marks.append(time.perf_counter())
        self.launch_jvm()
        marks.append(time.perf_counter())
        self.tracer = spans.NullTracer()
        self.setup()
        marks.append(time.perf_counter())
        if self.trace:
            self.tracer = spans.Tracer()
            self._patch_dialect()
        self.timed()
        marks.append(time.perf_counter())
        steal = procstat.steal_share(stat_before, procstat.cpu_times())
        prov = self.provenance(load_before, procstat.loadavg(), steal)
        # where a run's wall time goes (benchmark prep, JVM launch,
        # set-up with warm-up, the timed loop with its checks)
        prov["phases_s"] = dict(zip(("prepare", "jvm", "setup", "timed"),
                                    (b - a for a, b in zip(marks, marks[1:]))))
        record = {
            "provenance": prov,
            "attempted": len(self.ops),
            "failed": self.failed,
            "errors": self.errors,
            "per_op": self.per_op,
        }
        metrics = self.per_layer() if self.trace else self.end_to_end()
        record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        if self.trace:
            record["spans"] = self.tracer.spans
            record["self_time_s"] = self.tracer.self_time()
        return record

    def _patch_dialect(self) -> None:
        """Time the dialect's calls into translation and the catalog
        by wrapping the public functions ``starrocks_sql`` looks up."""
        from starrocks_spark.plans import dialect

        dialect.translate = self.tracer.wrap("dialect.translate", dialect.translate)
        dialect.register_tables = self.tracer.wrap("catalog.register",
                                                   dialect.register_tables)

    def close(self) -> None:
        """Stop Spark and the JVM, wait for every child process to end,
        and remove the run's scratch directory."""
        from pyspark import SparkContext

        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 15
        while time.time() < deadline:
            rest = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
            if not rest:
                break
            time.sleep(0.2)
        else:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        shutil.rmtree(self.work, ignore_errors=True)


def run_once(args) -> int:
    sys.path.insert(0, ROOT)
    # fail fast, before creating or generating anything, when the engine
    # is absent
    if importlib.util.find_spec("starrocks_spark") is None:
        sys.exit(f"perfbench: no starrocks_spark package under {ROOT}")
    run = Run(args)
    try:
        record = run.execute()
    finally:
        run.close()
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT_DIR, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    prov = record["provenance"]
    print(f"workload {prov['workload']} seed {prov['seed']} ops {prov['ops']} "
          f"digest {prov['op_list_digest']} master {prov['master']} "
          f"steal {prov['cpu_steal_share']:.3f} loadavg {prov['loadavg_before'][0]}"
          f"->{prov['loadavg_after'][0]}")
    for k, m in record["metrics"].items():
        print(f"{k:32s} {m['value']:.6g} {m['unit']}")
    print(f"ops_failed_frac {record['failed'] / record['attempted']:.4f}")
    for e in record["errors"]:
        print("error:", e)
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0


# ------------------------------------------------------ steadiness, diff

def _fresh_run(args, seed: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        print(proc.stdout[-2000:], proc.stderr[-4000:], file=sys.stderr)
        raise SystemExit(proc.returncode)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    return {"seed": seed, "wall_s": time.time() - t0, **result}


def steady(args) -> int:
    """Run ``args.steady`` fresh processes per set on consecutive seeds
    (set j uses seeds seed + 1000 j + i) and report each metric's
    median, quartiles and extremes per set. With several sets their
    runs interleave, in alternating order, so a host episode falls on
    every set alike; the last table is each set's median over set 0's."""
    sets = [{"values": {}, "runs": []} for _ in range(args.sets)]
    for i in range(args.steady):
        order = range(args.sets) if i % 2 == 0 else reversed(range(args.sets))
        for j in order:
            run = _fresh_run(args, args.seed + 1000 * j + i)
            sets[j]["runs"].append(run)
            for k, m in run["metrics"].items():
                sets[j]["values"].setdefault(k, []).append(m["value"])
            print(f"set {j} seed {run['seed']}: correct={run['correct']} "
                  f"wall={run['wall_s']:.1f}s "
                  + " ".join(f"{k}={m['value']:.4g}" for k, m in run["metrics"].items()),
                  flush=True)
    for j, st in enumerate(sets):
        st["summary"] = {k: spread(v) for k, v in st.pop("values").items()}
        print(f"set {j}:")
        print(f"{'metric':32s} {'median':>10s} {'q1':>10s} {'q3':>10s} "
              f"{'min':>10s} {'max':>10s} {'iqr/med':>8s}")
        for k, s in st["summary"].items():
            print(f"{k:32s} {s['median']:10.4g} {s['q1']:10.4g} {s['q3']:10.4g} "
                  f"{s['min']:10.4g} {s['max']:10.4g} {s['iqr_frac']:8.3f}")
    if args.sets > 1:
        print("median / set 0's median:")
        for k, s0 in sets[0]["summary"].items():
            print(f"{k:32s} " + " ".join(
                f"{st['summary'][k]['median'] / s0['median']:8.3f}" for st in sets[1:]))
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"steady-{args.workload}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "sets": sets}, f, indent=1)
    print("wrote", path)
    return 0


def diff(a_path: str, b_path: str) -> int:
    """Line up the metrics (and per-layer self times) of two result
    files, e.g. the traced runs of a parent and a change."""
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    print(f"{'metric':32s} {'A':>12s} {'B':>12s} {'B/A':>8s}")
    for k in sorted(set(a["metrics"]) | set(b["metrics"])):
        va = a["metrics"].get(k, {}).get("value")
        vb = b["metrics"].get(k, {}).get("value")
        ratio = f"{vb / va:8.3f}" if va and vb is not None else "       -"
        print(f"{k:32s} {va if va is not None else '-':>12.6} "
              f"{vb if vb is not None else '-':>12.6} {ratio}")
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.diff:
        return diff(*args.diff)
    if args.steady:
        return steady(args)
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
