"""MurmurHash3 x86 32-bit — the reference's murmur_hash3_32
(be/src/exprs/hash_functions.cpp:24: each argument is rendered as
VARCHAR and folded into a CHAINED hash, the previous arg's hash acting
as the next arg's seed, starting from MURMUR3_32_SEED = 104729
(be/src/base/hash/hash_util.hpp:57); any NULL argument nulls the row).

Verified against the published examples
(docs/en/sql-reference/sql-functions/hash-functions/murmur_hash3_32.md):
murmur_hash3_32('hello') = 1321743225,
murmur_hash3_32('hello', 'world') = 984713481.

The SQL dialect desugars the variadic call into a chain of the
two-argument Arrow-batched UDF registered here; the per-argument
VARCHAR rendering is done SQL-side with CAST(arg AS STRING) so the
UDF only ever hashes bytes.
"""

# NOTE: no `from __future__ import annotations` here — pandas_udf
# resolves the pd.Series type hints at definition time

MURMUR3_32_SEED = 104729


def mmh3_32(data: bytes, seed: int) -> int:
    """Canonical MurmurHash3_x86_32 (public domain reference
    algorithm), returning the UNSIGNED 32-bit hash."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data) // 4
    for i in range(n):
        k = int.from_bytes(data[4 * i:4 * i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[4 * n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _signed32(x: int) -> int:
    return x - (1 << 32) if x >= (1 << 31) else x


def register(spark) -> None:
    """Register the two-arg chained step ``__mmh3_32(str, seed)`` as
    an Arrow-batched pandas UDF into ``spark``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def __mmh3_32(data: pd.Series, seed: pd.Series) -> pd.Series:
        out = []
        for d, s in zip(data, seed):
            if d is None or s is None or (isinstance(s, float) and s != s):
                out.append(None)
            else:
                out.append(_signed32(
                    mmh3_32(str(d).encode("utf-8"), int(s) & 0xFFFFFFFF)))
        return pd.Series(out, dtype="Int64").astype("Int32")

    spark.udf.register("__mmh3_32", __mmh3_32)
