"""Vector math over ``array<float>`` embedding columns — the engine's
ANN/similarity surface (reference: FunctionSet.java:198-199
approx_cosine_similarity / approx_l2_distance over the tenann vector
index, be/src/storage/index/vector/).

All operations are built-in higher-order functions (zip_with +
left-fold aggregate) → JVM-side, codegen, row-local. Elements are cast
float→double *before* any arithmetic and folded left-to-right, so
Spark and the DuckDB oracle produce bit-identical doubles.

Random-hyperplane LSH weights are derived from md5 in plain Python
(hashlib) and embedded as literal arrays — identical constants in the
Spark plan and the oracle SQL, nothing recomputed per row.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i] as double (left fold, deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"[{a}[i]::DOUBLE * {b}[i]::DOUBLE FOR i IN generate_series(1, len({a}))]), "
        "(acc, v) -> acc + v)"
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-free inputs assumed (embeddings table)."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)}) / (sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)}))"


def l2_distance(a: Column, b: Column) -> Column:
    diff2 = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.sqrt(F.aggregate(diff2, F.lit(0.0), lambda acc, v: acc + v))


# ---------------------------------------------------------------------------
# fast literal arrays: one F.expr parse instead of one py4j round trip
# per element. F.lit is ~1 ms of driver-side py4j per call, so a 16×64
# centroid matrix built element-wise costs ~1.5 s of pure plan
# CONSTRUCTION before Catalyst ever sees it; the SQL string parses
# JVM-side in ~5 ms and yields a bit-identical tree (repr() is
# shortest-round-trip, and the parser's Double.parseDouble round-trips
# it exactly — verified down to denormals and -0.0).

def _dlit(x: float) -> str:
    """Shortest-round-trip SQL double literal."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def lit_doubles(xs) -> Column:
    """array<double> literal column from a Python list — single parse."""
    return F.expr("array(" + ",".join(_dlit(x) for x in xs) + ")")


def lit_double_matrix(rows) -> Column:
    """array<array<double>> literal column — single parse."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_dlit(x) for x in r) + ")" for r in rows
        )
        + ")"
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH (signed projections → bucket id)

def plane_weights(plane: int, dim: int) -> list[int]:
    """Deterministic pseudo-random integer weights in [-1000, 1000],
    derived from md5 — reproducible in any language/engine."""
    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"{plane},{i}".encode()).hexdigest()[:15], 16)
        out.append(h % 2001 - 1000)
    return out


def lsh_bucket(emb: Column, planes: int = 8, dim: int = 64) -> Column:
    """Bucket id in [0, 2^planes): bit p = sign of the projection onto
    hyperplane p. Row-local; turns ANN search into an equi-join on
    bucket — the scale path for 100 TB corpora."""
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        w = lit_doubles(float(x) for x in plane_weights(p, dim))
        proj = dot(emb, w)
        bucket = bucket + F.when(proj > 0.0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def sql_lsh_bucket(emb: str, planes: int = 8, dim: int = 64) -> str:
    terms = []
    for p in range(planes):
        w = "[" + ", ".join(f"{float(x)!r}" for x in plane_weights(p, dim)) + "]"
        proj = sql_dot(emb, w)
        terms.append(
            f"CASE WHEN ({proj}) > 0.0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END"
        )
    return "(" + " + ".join(terms) + ")"
