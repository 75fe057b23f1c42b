"""External-system connector via Spark's Python DataSource API (DSv2).

Reference surface: ConnectorScanNode (be/src/exec/connector_scan_node.h,
fe ConnectorType.java:40-48 — JDBC/MySQL/Hive/ES external tables) and
the external table sinks (be/src/data_sink/external/). No external
servers exist in this container, so the connector targets an *embedded*
DuckDB database file — the same shape as a JDBC source: a foreign
system with its own storage, schema catalog, and SQL pushdown, reached
through a narrow wire API.

Spark-first design (mirrors Spark's own JDBC source surface):
- ``spark.read.format("duckdb").option("path", db).option("table", t)``
- JDBC-style parallel reads: ``partitionColumn`` + ``numPartitions``
  split the scan into range slices (bounds auto-derived by a MIN/MAX
  pushdown query at plan time — metadata-only).
- Predicate pushdown: ``pushFilters`` converts Catalyst filters
  (EqualTo/In/comparisons/null tests) into a WHERE clause executed by
  the foreign engine; unsupported filters are returned to Spark to
  re-apply. The scan therefore ships only matching rows.
- Arrow transport: each partition streams RecordBatches out of the
  foreign engine — no per-row Python cost.
- Sink: ``df.write.format("duckdb")`` stages each task's rows as Arrow
  → parquet, and commit() atomically INSERTs all staged files into the
  target table (single-writer commit protocol, the analog of the
  reference's external-sink transaction).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

_TYPE_MAP = {
    "BOOLEAN": "boolean",
    "TINYINT": "byte",
    "SMALLINT": "short",
    "INTEGER": "int",
    "BIGINT": "long",
    "FLOAT": "float",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "BLOB": "binary",
}


def _duck_schema(path: str, relation: str) -> str:
    import duckdb

    con = duckdb.connect(path, read_only=True)
    try:
        desc = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    finally:
        con.close()
    fields = []
    for name, typ, *_ in desc:
        t = typ.upper()
        if t.startswith("DECIMAL"):
            spark_t = t.lower()
        elif t in _TYPE_MAP:
            spark_t = _TYPE_MAP[t]
        else:
            raise ValueError(f"unmapped DuckDB type {typ} for column {name}")
        fields.append(f"{name} {spark_t}")
    return ", ".join(fields)


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return repr(v) if not isinstance(v, (int, float)) else str(v)


@dataclass
class _Slice(InputPartition):
    lo: object | None = None
    hi: object | None = None


class DuckDBReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.path = options["path"]
        self.relation = options.get("table") or f"({options['query']})"
        self.part_col = options.get("partitioncolumn")
        self.num_parts = int(options.get("numpartitions", "1"))
        self.schema = schema
        self.where: list[str] = []

    # ---- predicate pushdown (ConnectorScanNode conjunct pushdown)
    def pushFilters(self, filters):
        for f in filters:
            clause = self._to_sql(f)
            if clause is None:
                yield f  # Spark re-applies what the connector can't run
            else:
                self.where.append(clause)

    @staticmethod
    def _to_sql(f: Filter) -> str | None:
        def col(attr):
            if len(attr) != 1:
                return None
            return '"' + attr[0].replace('"', '""') + '"'

        if isinstance(f, EqualTo):
            c = col(f.attribute)
            return c and f"{c} = {_sql_lit(f.value)}"
        if isinstance(f, GreaterThan):
            c = col(f.attribute)
            return c and f"{c} > {_sql_lit(f.value)}"
        if isinstance(f, GreaterThanOrEqual):
            c = col(f.attribute)
            return c and f"{c} >= {_sql_lit(f.value)}"
        if isinstance(f, LessThan):
            c = col(f.attribute)
            return c and f"{c} < {_sql_lit(f.value)}"
        if isinstance(f, LessThanOrEqual):
            c = col(f.attribute)
            return c and f"{c} <= {_sql_lit(f.value)}"
        if isinstance(f, In):
            c = col(f.attribute)
            vals = ", ".join(_sql_lit(v) for v in f.value)
            return c and f"{c} IN ({vals})"
        if isinstance(f, IsNull):
            c = col(f.attribute)
            return c and f"{c} IS NULL"
        if isinstance(f, IsNotNull):
            c = col(f.attribute)
            return c and f"{c} IS NOT NULL"
        return None

    # ---- JDBC-style range partitioning
    def partitions(self):
        if not self.part_col or self.num_parts <= 1:
            return [_Slice()]
        import duckdb

        con = duckdb.connect(self.path, read_only=True)
        try:
            lo, hi = con.execute(
                f"SELECT MIN({self.part_col}), MAX({self.part_col}) "
                f"FROM {self.relation}"
            ).fetchone()
        finally:
            con.close()
        if lo is None:
            return [_Slice()]
        lo, hi = int(lo), int(hi)
        step = max(1, (hi - lo + self.num_parts) // self.num_parts)
        out = []
        for i in range(self.num_parts):
            a = lo + i * step
            if a > hi:
                break
            out.append(_Slice(a, a + step))
        return out or [_Slice()]

    def read(self, part: _Slice):
        import duckdb

        cols = ", ".join(f'"{f.name}"' for f in self.schema.fields)
        conds = list(self.where)
        if part.lo is not None:
            conds.append(f"{self.part_col} >= {part.lo}")
            conds.append(f"{self.part_col} < {part.hi}")
        sql = f"SELECT {cols} FROM {self.relation}"
        if conds:
            sql += " WHERE " + " AND ".join(conds)
        con = duckdb.connect(self.path, read_only=True)
        try:
            reader = con.execute(sql).fetch_record_batch(8192)
            for batch in reader:
                yield batch  # Arrow transport, zero per-row Python
        finally:
            con.close()


@dataclass
class _Staged(WriterCommitMessage):
    path: str = ""
    rows: int = 0


class DuckDBWriter(DataSourceArrowWriter):
    """External-table sink: tasks stream Arrow RecordBatches straight
    into a staged parquet file (no per-row Python — the batches come
    off the JVM over Arrow and go to the parquet encoder untouched);
    the driver-side commit() INSERTs every staged file in one
    transaction (DuckDB is single-writer, so the commit is the only
    writer — the same shape as the reference's external sink commit).

    Staging location: ``staging_dir`` option, defaulting to the
    database file's directory (where DuckDB keeps its WAL; the writer
    is built in a Python worker process, so the driver's scratch root
    is not known here). Single-node that is always visible to commit();
    on a multi-node cluster pass a shared filesystem path (the same
    requirement as any JDBC-ish staged commit protocol). commit() and
    abort() remove this write's staging dir.
    """

    def __init__(self, options, schema: StructType, overwrite: bool):
        self.path = options["path"]
        self.table = options["table"]
        self.overwrite = overwrite
        self.stage_dir = os.path.join(
            options.get("staging_dir") or os.path.dirname(self.path),
            f"duck_sink_{uuid.uuid4().hex[:12]}",
        )
        os.makedirs(self.stage_dir, exist_ok=True)

    def write(self, batches):
        import pyarrow.parquet as pq

        out = os.path.join(self.stage_dir, f"{uuid.uuid4().hex}.parquet")
        writer = None
        rows = 0
        try:
            for batch in batches:
                if writer is None:
                    writer = pq.ParquetWriter(out, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if rows == 0:
            if writer is not None:
                os.unlink(out)
            return _Staged("", 0)
        return _Staged(out, rows)

    def commit(self, messages):
        import duckdb

        files = [m.path for m in messages if m.rows]
        lst = "[" + ", ".join(_sql_lit(f) for f in files) + "]"
        try:
            if files:
                with duckdb.connect(self.path) as con:
                    if self.overwrite:
                        con.execute(
                            f"CREATE OR REPLACE TABLE {self.table} AS "
                            f"SELECT * FROM read_parquet({lst})"
                        )
                    else:
                        con.execute(
                            f"INSERT INTO {self.table} BY NAME "
                            f"SELECT * FROM read_parquet({lst})"
                        )
        finally:
            self.abort(messages)

    def abort(self, messages):
        shutil.rmtree(self.stage_dir, ignore_errors=True)


class DuckDBDataSource(DataSource):
    @classmethod
    def name(cls):
        return "duckdb"

    def schema(self):
        return _duck_schema(
            self.options["path"],
            self.options.get("table") or f"({self.options['query']})",
        )

    def reader(self, schema: StructType):
        return DuckDBReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return DuckDBWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Idempotently register the connector with a session."""
    try:
        # static in session.py for get_spark() sessions; runtime set
        # covers externally-built sessions
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # older/locked session: reader still works, Spark filters
    spark.dataSource.register(DuckDBDataSource)
