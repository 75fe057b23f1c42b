"""Parquet-directory metadata: the stored schema that lets a scan skip
Spark's inference job, and the byte size of a directory's part files
(the delta fold rule, state-store sizing).

``spark.read.parquet(dir)`` without a schema runs a one-task Spark job
that reads a file footer before the query itself starts. For a short
table read or an upsert that job is a large share of the latency, so
every managed directory keeps its schema as metadata
(``StoredSchema``), the way a table format keeps it in its log
(``lakehouse.SnapshotTable``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _shape(schema: StructType, partition_col: str | None) -> list:
    """Ordered (name, type) of the stored data columns. Nullability is
    left out: parquet reads every column back as nullable."""
    return [(f.name, f.dataType.simpleString())
            for f in schema.fields if f.name != partition_col]


class StoredSchema:
    """The data schema of one parquet directory, kept as metadata.

    The first ``scan`` infers the schema (Spark's footer job) and keeps
    it; later scans pass it to the reader and run no inference job. The
    partition column is left out of the kept schema, so Spark still
    types it from the directory names exactly as inference does. Every
    write reports its frame to ``wrote``: a write that changes the
    stored data columns (names, order or types) drops the schema, and
    the next scan infers it again."""

    def __init__(self, partition_col: str | None = None,
                 schema: StructType | None = None) -> None:
        self.partition_col = partition_col
        self.schema = schema

    def scan(self, spark: SparkSession, path: str) -> DataFrame:
        if self.schema is not None:
            return spark.read.schema(self.schema).parquet(path)
        df = spark.read.parquet(path)
        self.schema = StructType([f for f in df.schema.fields
                                  if f.name != self.partition_col])
        return df

    def stores(self, df: DataFrame) -> bool:
        """True when ``df`` has exactly the kept data columns."""
        return (self.schema is not None
                and _shape(df.schema, self.partition_col)
                == _shape(self.schema, None))

    def wrote(self, df: DataFrame) -> None:
        if not self.stores(df):
            self.schema = None


def part_file_bytes(path: str) -> int:
    """Bytes of the data files under a local ``path``. A file path
    counts itself; a directory counts the files below it whose path
    holds no hidden component (``_SUCCESS``, ``.crc`` checksums,
    ``_temporary``, a table's ``_delta``), the names Spark's scans skip.
    A path that does not resolve to a local file or directory (a
    missing one, or a remote URI) raises FileNotFoundError."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no local file or directory at {path}")
    total = 0
    for d, dirs, names in os.walk(path):
        dirs[:] = [n for n in dirs if not _hidden(n)]
        total += sum(os.path.getsize(os.path.join(d, n))
                     for n in names if not _hidden(n))
    return total


def _hidden(name: str) -> bool:
    """Spark's rule for names a file scan skips
    (InMemoryFileIndex.shouldFilterOutPathName)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)
