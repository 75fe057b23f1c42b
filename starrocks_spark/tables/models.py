"""StarRocks table models on Spark: DUP / AGG / UNIQUE / PRIMARY keys.

Reference semantics (SURVEY.md §1.1; gensrc/thrift/Types.thrift:459-462,
fe/fe-core/.../catalog/OlapTable.java, KeysType):

- DUP_KEYS   — append-only fact table; keys are only a sort hint.
- AGG_KEYS   — rows with equal keys are pre-aggregated at ingest /
  compaction time; value columns carry an aggregation type (SUM,
  REPLACE, MIN, MAX, ...). Query-time reads must still aggregate
  across rowsets that haven't been compacted yet — exactly what the
  reference's pre-aggregation phase does
  (be/src/exec/olap_scan_node.h pre-aggregation flag).
- UNIQUE_KEYS / PRIMARY_KEYS — upsert: the newest row per key wins;
  PRIMARY adds delete support (delete-vector merge-on-write,
  be/src/storage/rowset/segment_iterator.cpp delete-vector path).

Spark realization — every mutation is a *declarative DataFrame plan*:

- A table is a parquet directory, the *base rowset* (optionally
  partitioned by a column, written with ``partitionBy``), i.e. the same
  layout Delta/Iceberg manage; the delta-log is replaced by atomic
  directory swap locally and would be a real table format on a cluster.
  The table keeps its schema as metadata (``storage.StoredSchema``), so
  no scan runs Spark's footer-inference job.
- Ingest-time rollup for AGG = ``groupBy(keys).agg(...)`` on the
  incoming batch — a map-side combine that shrinks data *before* it
  hits storage, the property that matters at 100 TB ingest.
- UNIQUE/PRIMARY upsert = merge-on-write into ONE key-deduplicated
  *delta rowset* under ``<path>/_delta/`` (written with the table's
  ``partitionBy``; Spark's scans skip ``_``-prefixed names, so the base
  scan never sees it). The batch replaces the delta's rows for its keys;
  with ``version_cols`` a key's delta row is the newest-by-version of
  its live row and the batch's rows. The delta's key set is the base's
  delete vector: reads return ``base ⋉̸ delta keys ∪ delta``, so an
  upsert writes the delta, never the base — the write costs the batch
  plus the delta, not the table.
- Fold = rewrite the live rows as a new base with no delta. DELETE,
  UPDATE, MERGE and every ``_rewrite`` caller fold; an upsert folds when
  the delta's part-file bytes reach half the base's, which bounds both
  the read-time anti-join and the delta rewritten per upsert.
- Compaction = re-aggregate / re-deduplicate and rewrite — the
  reference's base compaction (be/src/storage/compaction*.cpp).

Aggregation-type registry mirrors Types.thrift TAggregationType:
SUM, MIN, MAX, REPLACE (latest by version), HLL_UNION-style distinct
merge is covered by the sketch UDAFs in operators/aggregates.py.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from starrocks_spark.operators import sketches
from starrocks_spark.tables.partitioning import (
    PART_COL,
    PartitionScheme,
    with_partition_col,
)
from starrocks_spark.tables.storage import StoredSchema, part_file_bytes

log = logging.getLogger(__name__)

# the UNIQUE/PRIMARY delta rowset, inside the table directory
DELTA_DIR = "_delta"


class TableModel(str, Enum):
    DUP_KEYS = "dup"
    AGG_KEYS = "agg"
    UNIQUE_KEYS = "unique"
    PRIMARY_KEYS = "primary"


# value-column aggregation types for AGG_KEYS (Types.thrift TAggregationType)
_AGG_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.sum,  # counts merge by summing partial counts
    # bitmaps are sorted-distinct id arrays; union = merged distinct
    # (types/bitmap_value.h BITMAP_UNION)
    # all-null group stays NULL (a null bitmap is not an empty one:
    # subdivide/unnest emit no rows for NULL, one empty chunk for {})
    "bitmap_union": lambda c: F.when(
        F.count(c) == 0, F.lit(None)).otherwise(F.array_sort(
            F.array_distinct(F.flatten(F.collect_list(c))))),
}


@dataclass
class ManagedTable:
    """A parquet-backed table with StarRocks keys-model semantics.

    ``agg_spec``: for AGG_KEYS, {value_col: "sum"|"min"|"max"|"count"|
    "replace"} — the per-column aggregation type from the DDL.
    ``version_cols``: for UNIQUE/PRIMARY, the ordering that decides
    which row is newest (StarRocks uses load sequence / txn version).
    """

    spark: SparkSession
    path: str
    model: TableModel
    key_cols: list[str]
    agg_spec: dict[str, str] = field(default_factory=dict)
    version_cols: list[str] = field(default_factory=list)
    partition_by: str | None = None
    # range/list/expression partitioning (tables/partitioning.py):
    # derives the generated __part column; insert validates membership,
    # scans prune directories via __part predicates
    partition_scheme: PartitionScheme | None = None
    # synchronous rollup indexes (reference: ALTER TABLE ADD ROLLUP +
    # automatic selection in MaterializedViewRule); maintained on every
    # insert, chosen by read_agg()
    rollups: list = field(default_factory=list)
    #: name of the index the last read_agg() scanned (tests assert it)
    last_index_used: str | None = None
    # schemas of the base and the delta rowset (set in __post_init__)
    _schema: StoredSchema = field(default=None, init=False, repr=False)
    _delta_schema: StoredSchema = field(default=None, init=False, repr=False)

    def __post_init__(self) -> None:
        self._schema = StoredSchema(self.partition_by)
        self._delta_schema = StoredSchema(self.partition_by)

    # ------------------------------------------------------------------ util

    @classmethod
    def create(cls, spark: SparkSession, model: TableModel,
               key_cols: list[str], *, path: str | None = None,
               agg_spec: dict[str, str] | None = None,
               version_cols: list[str] | None = None,
               partition_by: str | None = None,
               partition_scheme: PartitionScheme | None = None) -> "ManagedTable":
        # default location: the per-process scratch root, removed by
        # its atexit hook AFTER the harness materializes results —
        # repeated bench/driver rounds no longer accumulate /tmp copies
        # (round-5 advice)
        from starrocks_spark.scratch import scratch_root

        path = path or os.path.join(
            scratch_root(), f"sr_table_{uuid.uuid4().hex[:12]}"
        )
        if partition_by and partition_scheme:
            raise ValueError("pass partition_by or partition_scheme, not both")
        shutil.rmtree(path, ignore_errors=True)
        return cls(spark, path, model, list(key_cols),
                   dict(agg_spec or {}), list(version_cols or []),
                   PART_COL if partition_scheme else partition_by,
                   partition_scheme)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        for r in self.rollups:
            shutil.rmtree(r["path"], ignore_errors=True)

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(os.scandir(self.path))

    def _delta_path(self) -> str:
        return os.path.join(self.path, DELTA_DIR)

    def _current(self) -> DataFrame:
        """The live rows: the base rowset, minus the rows whose key the
        delta rowset holds (its delete vector), plus the delta's rows.
        Without a delta this is the plain base scan."""
        base = self._schema.scan(self.spark, self.path)
        if not os.path.isdir(self._delta_path()):
            return base
        delta = self._delta_schema.scan(self.spark, self._delta_path())
        return self._key_join(base, delta.select(*self.key_cols),
                              "left_anti").unionByName(delta)

    def _key_join(self, df: DataFrame, keys: DataFrame,
                  how: str) -> DataFrame:
        """Semi/anti join of ``df`` on the key columns of ``keys``. Plain
        SQL equality: a NULL key matches no key (NOT NULL key columns
        never hold one), and a single integral key builds Spark's compact
        long-keyed hash relation where a null-safe key would allocate a
        full memory page per broadcast."""
        cond = [df[k] == keys[k] for k in self.key_cols]
        return df.join(keys, cond, how)

    def _columns(self) -> list[str]:
        """The stored column names in scan order."""
        if self._schema.schema is None:
            self._schema.scan(self.spark, self.path)
        names = self._schema.schema.fieldNames()
        return names + [self.partition_by] if self.partition_by else names

    def _write(self, df: DataFrame, mode: str) -> None:
        w = df.write.mode(mode)
        if self.partition_by:
            w = w.partitionBy(self.partition_by)
        w.parquet(self.path)
        self._schema.wrote(df)

    def _write_swap(self, df: DataFrame, target: str) -> None:
        """Write ``df`` to a staging directory, then swap it in for
        ``target`` (local stand-in for a table-format commit)."""
        out = target + ".staging"
        shutil.rmtree(out, ignore_errors=True)
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(self.partition_by)
        w.parquet(out)
        old = target + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(target):
            os.rename(target, old)
        os.rename(out, target)
        shutil.rmtree(old, ignore_errors=True)

    def _rewrite(self, df: DataFrame) -> None:
        """Full atomic rewrite: ``df`` becomes the base and the delta
        rowset is gone (the fold)."""
        self._write_swap(df, self.path)
        self._schema.wrote(df)

    # ----------------------------------------------------------------- rollup

    def _rollup(self, df: DataFrame, *, ingest: bool = False) -> DataFrame:
        """AGG_KEYS ingest/compaction rollup: one row per key tuple.

        ``ingest=True`` is the raw-batch phase; sketch-typed value
        columns (hll_union / percentile_union) build their state from
        raw values there, and MERGE stored states on the read/compact
        path (reference: hll_union.h / percentile_union.h — ingest
        hashes values into the sketch, compaction unions sketches).
        """
        fallback_ord = None
        if (not self.version_cols
                and {"replace", "replace_if_not_null"}
                & set(self.agg_spec.values())):
            if all(c in df.columns for c in ("_load_batch", "_load_pos")):
                # a loader stamped explicit arrival order — exact under
                # any physical plan (mirrors _latest_per_key)
                fallback_ord = F.struct("_load_batch", "_load_pos")
            else:
                # materialize the fallback ordinal first — Spark rejects
                # nondeterministic expressions INSIDE aggregate functions
                df = df.withColumn("__mono", F.monotonically_increasing_id())
                fallback_ord = F.col("__mono")
        aggs = []
        for col, how in self.agg_spec.items():
            if how == "hll_union":
                aggs.append(
                    (sketches.hll_state(col) if ingest
                     else sketches.hll_merge(col)).alias(col)
                )
                continue
            if isinstance(how, tuple) and how[0] == "percentile_union":
                params = how[1]
                w, b = params["width"], params["buckets"]
                aggs.append(
                    (sketches.pct_state(F.col(col), w, b) if ingest
                     else sketches.pct_merge(col, b)).alias(col)
                )
                continue
            if how == "replace_if_not_null":
                # latest NON-NULL by version wins; all-null keeps NULL
                # (agg REPLACE_IF_NOT_NULL: null loads don't overwrite)
                ordc = (F.struct(*self.version_cols)
                        if self.version_cols
                        # ALTER-added REPLACE columns on a versionless
                        # table: stamped load order when present, else
                        # per-partition-monotone order — the latter is
                        # exact for narrow single-batch frames only
                        # (same caveat as _latest_per_key)
                        else fallback_ord)
                aggs.append(F.max_by(
                    col, F.when(F.col(col).isNotNull(), ordc)
                ).alias(col))
                continue
            if how == "replace":
                # The reference's REPLACE is load-order-defined; a Spark
                # batch groupBy has no such order, so an order-free
                # REPLACE would be nondeterministic (partition-layout
                # dependent). Newest-by-version via max_by when a
                # version exists; the monotonic-id fallback covers
                # ALTER-added REPLACE columns on versionless tables.
                ordc = (F.struct(*self.version_cols)
                        if self.version_cols
                        else fallback_ord)
                aggs.append(F.max_by(col, ordc).alias(col))
            else:
                aggs.append(_AGG_FNS[how](col).alias(col))
        group = self.key_cols + ([self.partition_by] if self.partition_by
                                 and self.partition_by not in self.key_cols
                                 else [])
        has_replace = bool({"replace", "replace_if_not_null"}
                           & set(self.agg_spec.values()))
        has_replace = has_replace and bool(self.version_cols)
        if has_replace:
            # keep the winning version tuple in storage so later
            # cross-rowset merges (read/compaction) can still pick
            # newest-by-version — max(struct) is exactly the version of
            # the row max_by selected
            aggs.append(F.max(F.struct(*self.version_cols)).alias("__v"))
        out = df.groupBy(*group).agg(*aggs)
        if has_replace:
            for vc in self.version_cols:
                if vc not in group and vc not in self.agg_spec:
                    out = out.withColumn(vc, F.col(f"__v.{vc}"))
            out = out.drop("__v")
        return out

    def _latest_per_key(self, df: DataFrame) -> DataFrame:
        if self.version_cols:
            order = [F.desc(c) for c in self.version_cols]
        elif all(c in df.columns for c in ("_load_batch", "_load_pos")):
            # a loader stamped explicit arrival order (plans/sqltester
            # stamps VALUES ordinals at parse time) — exact under any
            # physical plan, unlike the monotonic-id fallback below
            order = [F.desc("_load_batch"), F.desc("_load_pos")]
        else:
            # last resort: without version_cols, arrival order within
            # the batch breaks ties (StarRocks: the last row of a load
            # wins). The id is monotone within each input partition,
            # which equals load order only for narrow single-batch
            # frames (VALUES, a straight file read); after a shuffle
            # (joins/aggregates in an INSERT..SELECT source) per-key
            # winners are arbitrary — matching the reference, where the
            # load order of a distributed INSERT..SELECT is equally
            # undefined.
            order = [F.desc(F.monotonically_increasing_id())]
        w = Window.partitionBy(*self.key_cols).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    # ------------------------------------------------------------------- DML

    def read_partitions(self, names: list[str]) -> DataFrame:
        """Partition-pruned scan: __part IN (names) reaches the parquet
        source as a PartitionFilter → only matching directories are
        read (the FE pruner's output applied to the scan)."""
        return self.read().filter(F.col(PART_COL).isin(*names))

    def insert(self, batch: DataFrame) -> None:
        self._insert_model(batch)
        for r in self.rollups:
            self._rollup_ingest(batch, r)

    def _insert_model(self, batch: DataFrame) -> None:
        """INSERT a batch with model semantics (StarRocks.g4:1346)."""
        if self.partition_scheme is not None and PART_COL not in batch.columns:
            # load-time partition assignment + membership validation
            batch = with_partition_col(batch, self.partition_scheme)
        if self.model == TableModel.DUP_KEYS:
            self._write(batch, "append")
            return
        if self.model == TableModel.AGG_KEYS:
            # map-side combine before storage: the batch is rolled up on
            # its keys; cross-rowset merge happens at read/compaction.
            self._write(self._rollup(batch, ingest=True), "append")
            return
        # UNIQUE / PRIMARY upsert — merge-on-write
        if not self._exists():
            self._write(self._latest_per_key(batch), "append")
            return
        self._upsert(batch)

    def _upsert(self, batch: DataFrame) -> None:
        """UNIQUE/PRIMARY merge of a load batch into the delta rowset,
        partitioned or not: the base is neither read (version-less) nor
        written. With ``version_cols`` the version decides regardless
        of load order (StarRocks sequence column), so a key's new delta
        row is the newest of its live row and the batch's rows. WITHOUT
        a sequence column StarRocks' rule is LOAD ORDER: the batch's row
        replaces the stored one on key match (fe docs: unique key table,
        later load overrides)."""
        batch = self._align(batch)
        keys = batch.select(*self.key_cols)
        if self.version_cols:
            live = self._key_join(self._current(), keys, "left_semi")
            rows = self._latest_per_key(live.unionByName(batch))
        else:
            rows = self._latest_per_key(batch)
        if os.path.isdir(self._delta_path()):
            delta = self._delta_schema.scan(self.spark, self._delta_path())
            rows = self._key_join(delta, keys, "left_anti").unionByName(rows)
        self._write_swap(rows, self._delta_path())
        same = self._schema.stores(rows)
        self._delta_schema = StoredSchema(
            self.partition_by, self._schema.schema if same else None)
        delta_b = part_file_bytes(self._delta_path())
        base_b = part_file_bytes(self.path)
        # fold rule: the delta's bytes reach half the base's (a delta
        # whose column types differ from the base's folds at once)
        fold = not same or 2 * delta_b >= base_b
        log.info("%s: delta %d B, base %d B, same columns %s -> fold %s",
                 self.path, delta_b, base_b, same, fold)
        if fold:
            self._rewrite(self._current())

    def _align(self, batch: DataFrame) -> DataFrame:
        """The batch's columns under the table's names, in its stored
        order (names match case-insensitively, like unionByName)."""
        cols = self._columns()
        by_lower = {c.lower(): c for c in batch.columns}
        if sorted(by_lower) != sorted(c.lower() for c in cols):
            raise ValueError(f"batch columns {batch.columns} do not match "
                             f"the table's {cols}")
        return batch.select(*[
            batch["`" + by_lower[c.lower()].replace("`", "``") + "`"].alias(c)
            for c in cols])

    def _rebuild_rollups(self) -> None:
        """DML (delete/update/merge) rewrites base rows, which an
        append-maintained rollup cannot mirror — rebuild each index
        from the new base (DUP keeps raw rows, so the rebuild is
        exact). The reference handles this the same way: heavyweight
        schema/data change jobs rebuild rollups."""
        if not self.rollups:
            return
        current = self._current()
        for r in self.rollups:
            shutil.rmtree(r["path"], ignore_errors=True)
            self._rollup_ingest(current, r)

    def delete(self, predicate: str) -> None:
        """DELETE WHERE predicate (StarRocks.g4:1367) — copy-on-write
        anti-filter, the batch analog of the PK delete-vector. Only
        rows where the predicate is TRUE are deleted; NULL (unknown)
        keeps the row, like SQL DELETE everywhere."""
        self._rewrite(self._current().filter(
            f"NOT coalesce(({predicate}), false)"))
        self._rebuild_rollups()

    def update(self, assignments: dict[str, str], predicate: str) -> None:
        """UPDATE SET col=expr WHERE predicate (StarRocks.g4:1363)."""
        df = self._current()
        cond = F.expr(predicate)
        for col, expr in assignments.items():
            df = df.withColumn(
                col, F.when(cond, F.expr(expr)).otherwise(F.col(col))
            )
        if self.partition_scheme is not None and \
                self.partition_scheme.column in assignments:
            # partition column changed → re-derive __part (row migration)
            df = with_partition_col(
                df.drop(PART_COL), self.partition_scheme
            )
        self._rewrite(df)
        self._rebuild_rollups()

    def merge_into(self, source: DataFrame, *,
                   update_set: dict[str, str] | None = None,
                   when_matched: list[dict] | None = None,
                   insert_when_missing: bool = True,
                   insert_condition: str | None = None) -> None:
        """MERGE INTO with the full WHEN surface (StarRocks.g4:1372,
        sql/MergeIntoPlanner.java): an ordered list of matched clauses,
        each optionally conditioned on target (t.*) / source (s.*)
        expressions — the FIRST clause whose condition holds wins:

            when_matched=[
                {"condition": "s.v > t.v", "update": {"v": "s.v"}},
                {"condition": "s.v < 0", "delete": True},
                {"update": {...}},          # unconditional fallback
            ]

        plus WHEN NOT MATCHED [AND insert_condition] THEN INSERT.
        ``update_set`` is shorthand for one unconditional update clause.
        The whole merge is ONE full-outer-join plan with a computed
        action column — no per-row driver logic, shuffles once on the
        key columns."""
        if when_matched is None:
            when_matched = (
                [{"update": update_set}] if update_set is not None else []
            )
        elif update_set is not None:
            raise ValueError("pass either update_set or when_matched, not both")

        current = self._current()
        target = current.alias("t")
        src = source.alias("s")
        cond = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in self.key_cols]
        joined = target.join(src, cond, "full_outer")
        t_first = self.key_cols[0]
        matched = F.col(f"t.{t_first}").isNotNull() & \
            F.col(f"s.{self.key_cols[0]}").isNotNull()
        only_target = F.col(f"s.{self.key_cols[0]}").isNull()

        # action: -1 keep target row as-is, -2 insert source row,
        # -3 drop, i>=0 clause i fires (first match wins)
        KEEP, INSERT, DROP = -1, -2, -3
        action = F.when(only_target, F.lit(KEEP))
        for i, clause in enumerate(when_matched):
            fire = matched if clause.get("condition") is None \
                else matched & F.expr(clause["condition"])
            action = action.when(fire, F.lit(i))
        action = action.when(matched, F.lit(KEEP))
        if insert_when_missing:
            ins = F.lit(True) if insert_condition is None \
                else F.expr(insert_condition)
            action = action.when(ins, F.lit(INSERT))
        action = action.otherwise(F.lit(DROP))

        delete_actions = [i for i, c in enumerate(when_matched)
                          if c.get("delete")]
        staged = joined.withColumn("__action", action).filter(
            ~F.col("__action").isin(*(delete_actions + [DROP]))
            if delete_actions else F.col("__action") != DROP
        )

        out_cols = []
        for c in current.columns:
            source_val = F.col(f"s.{c}") if c in source.columns else F.lit(None)
            col_expr = F.when(F.col("__action") == KEEP, F.col(f"t.{c}")) \
                .when(F.col("__action") == INSERT, source_val)
            for i, clause in enumerate(when_matched):
                if clause.get("delete"):
                    continue
                upd = clause.get("update", {}).get(c)
                col_expr = col_expr.when(
                    F.col("__action") == i,
                    F.expr(upd) if upd else F.col(f"t.{c}"),
                )
            out_cols.append(col_expr.alias(c))
        self._rewrite(staged.select(*out_cols))
        self._rebuild_rollups()

    # ------------------------------------------------------------------ read

    # ------------------------------------------------------- rollup indexes

    def add_rollup(self, name: str, key_cols: list[str],
                   agg_spec: dict[str, str]) -> None:
        """Declare a synchronous rollup index: a pre-aggregated copy on
        a SUBSET of the base keys, maintained on every insert (the
        ingest batch is aggregated once more on the rollup keys — a
        second map-side combine) and selected automatically by
        ``read_agg`` when its keys cover the query's grouping.

        Reference: rollup indexes / sync MVs on an OLAP table and their
        automatic selection (fe/.../mv/MaterializedViewRule.java); like
        the reference's ADD ROLLUP, the index starts from the current
        data — here we require declaration before first insert (DDL
        time) so the raw-row count column is exact.

        ``agg_spec``: {value_col: sum|min|max}. A raw-row count column
        (__n) is always stored, so COUNT(*) queries re-aggregate as
        SUM(__n)."""
        if self._exists():
            raise ValueError(
                "add_rollup must run before the first insert (DDL time)"
            )
        if self.model != TableModel.DUP_KEYS:
            raise ValueError(
                "rollup indexes require DUP_KEYS: upsert/aggregate "
                "models rewrite or fold base rows, which an append-"
                "maintained rollup cannot mirror"
            )
        bad = set(key_cols) - set(self.key_cols)
        if bad:
            raise ValueError(f"rollup keys {bad} not in base keys")
        for col, how in agg_spec.items():
            if how not in ("sum", "min", "max"):
                raise ValueError(
                    f"rollup agg '{how}' for {col}: only sum/min/max "
                    "re-aggregate losslessly from stored slices"
                )
        self.rollups.append({
            "name": name,
            "key_cols": list(key_cols),
            "agg_spec": dict(agg_spec),
            "path": self.path + f".rollup_{name}",
            "schema": StoredSchema(),
        })
        shutil.rmtree(self.path + f".rollup_{name}", ignore_errors=True)

    def _rollup_ingest(self, batch: DataFrame, r: dict) -> None:
        aggs = [
            _AGG_FNS[how](c).alias(c) for c, how in r["agg_spec"].items()
        ] + [F.count(F.lit(1)).alias("__n")]
        out = batch.groupBy(*r["key_cols"]).agg(*aggs)
        out.write.mode("append").parquet(r["path"])
        r["schema"].wrote(out)

    def read_agg(self, group_cols: list[str],
                 aggs: dict[str, tuple[str, str]]) -> DataFrame:
        """Aggregate read with automatic index selection: the narrowest
        rollup whose keys cover ``group_cols`` and whose stored aggs
        derive every requested function serves the scan; otherwise the
        base table does. ``aggs``: {out_name: (fn, col)} with fn in
        sum|min|max|count (col '*' for count). The chosen index name is
        recorded in ``last_index_used``.

        At 100 TB this is the difference between scanning an
        |event_type|-row index and the full fact table."""
        for name, (fn, col) in aggs.items():
            if fn == "count" and col != "*":
                # a stored __n slice is COUNT(*); serving it for a
                # non-null COUNT(col) on a nullable column would
                # over-count — reject rather than silently mis-derive
                raise ValueError(
                    f"agg {name}: count only derives COUNT(*) from the "
                    "rollup's __n measure — pass col='*'"
                )

        def covers(r: dict) -> bool:
            if not set(group_cols) <= set(r["key_cols"]):
                return False
            return all(
                fn == "count" or r["agg_spec"].get(col) == fn
                for fn, col in aggs.values()
            )

        candidates = [r for r in self.rollups if covers(r)]
        if candidates:
            r = min(candidates, key=lambda r: len(r["key_cols"]))
            self.last_index_used = r["name"]
            # every stored agg is associative (sum/min/max; count as a
            # __n slice), so one groupBy at the QUERY grain aggregates
            # the raw rowset rows directly — no intermediate full-key
            # merge shuffle
            src = r["schema"].scan(self.spark, r["path"])
            out = [
                (F.sum("__n") if fn == "count" else _AGG_FNS[fn](col))
                .alias(name)
                for name, (fn, col) in aggs.items()
            ]
            return src.groupBy(*group_cols).agg(*out)
        self.last_index_used = "__base__"
        if self.model != TableModel.DUP_KEYS:
            raise ValueError(
                "read_agg base fallback needs raw rows (DUP_KEYS); "
                "aggregate models lose raw multiplicity"
            )
        src = self.read()
        out = [
            (F.count(F.lit(1)) if fn == "count" else _AGG_FNS[fn](col))
            .alias(name)
            for name, (fn, col) in aggs.items()
        ]
        return src.groupBy(*group_cols).agg(*out)

    def read(self) -> DataFrame:
        """Model-aware scan. AGG_KEYS merges un-compacted rowsets by
        re-applying the rollup (the reference's query-time
        pre-aggregation); UNIQUE/PRIMARY apply the delta rowset."""
        df = self._current()
        if self.model == TableModel.AGG_KEYS:
            return self._rollup(df)
        return df

    def compact(self) -> None:
        """Base compaction: fold all rowsets into one fully-merged copy
        (be/src/storage/compaction*.cpp; Delta OPTIMIZE analog)."""
        if self.model == TableModel.AGG_KEYS:
            self._rewrite(self._rollup(self._current()))
        elif self.model in (TableModel.UNIQUE_KEYS, TableModel.PRIMARY_KEYS):
            self._rewrite(self._latest_per_key(self._current()))
        else:
            self._rewrite(self._current().coalesce(
                max(1, self.spark.sparkContext.defaultParallelism // 4)
            ))
