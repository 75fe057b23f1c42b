"""StarRocks HLL surface — byte- and estimate-exact emulation.

Ports the reference HyperLogLog (be/src/types/hll.{h,cpp},
be/src/types/constexpr.h): 16384 registers (precision 14), EXPLICIT
hash-set mode up to 160 elements, murmur_hash64A with seed 0xadc83b19
(be/src/base/hash/hash_util.hpp:124,147), the serialize wire format
(EMPTY/EXPLICIT/SPARSE/FULL, hll.cpp:372 — sparse entries are
2-byte LE index + 1-byte value, >4096 non-zero goes FULL), the
deserialize bound-check (a SPARSE index >= 16384 rejects the blob —
test_hll_deserialize_sparse_oob), and the estimator INCLUDING its
float32 sequential harmonic accumulation and the redis-derived bias
polynomial (hll.cpp:626-678) so estimates match to the unit.

ndv/approx_count_distinct hash the column's STORAGE bytes: the agg
kernels hash sizeof(T) native-endian bytes (hash_util.hpp:202), which
the Arrow type mirrors (int32 -> 4-byte LE, int64 -> 8, strings ->
utf8). hll_hash takes VARCHAR, so integer arguments hash their
string render (FE implicit cast).
"""
from __future__ import annotations

import struct

MURMUR_PRIME = 0xC6A4A7935BD1E995
MURMUR_SEED = 0xADC83B19
_M64 = (1 << 64) - 1
REGISTERS = 16384
PRECISION = 14
EXPLICIT_MAX = 160
SPARSE_THRESHOLD = 4096


def murmur64a(data: bytes, seed: int = MURMUR_SEED) -> int:
    m = MURMUR_PRIME
    r = 47
    h = (seed ^ (len(data) * m)) & _M64
    n8 = len(data) & ~7
    for i in range(0, n8, 8):
        k = int.from_bytes(data[i:i + 8], "little")
        k = (k * m) & _M64
        k ^= k >> r
        k = (k * m) & _M64
        h ^= k
        h = (h * m) & _M64
    tail = data[n8:]
    if tail:
        t = int.from_bytes(tail, "little")
        h ^= t
        h = (h * m) & _M64
    h ^= h >> r
    h = (h * m) & _M64
    h ^= h >> r
    return h


def _ctz(v: int) -> int:
    return (v & -v).bit_length() - 1


class Hll:
    __slots__ = ("kind", "hashes", "regs")

    def __init__(self):
        self.kind = 0          # 0 empty, 1 explicit, 2/3 registers
        self.hashes: set = set()
        self.regs: bytearray | None = None

    def _to_regs(self):
        self.regs = bytearray(REGISTERS)
        for h in self.hashes:
            self._update_regs(h)
        self.hashes = set()
        self.kind = 3

    def _update_regs(self, h: int):
        idx = h % REGISTERS
        h >>= PRECISION
        h |= 1 << (64 - PRECISION)
        bit = _ctz(h) + 1
        if bit > self.regs[idx]:
            self.regs[idx] = bit

    def update(self, h: int):
        if self.kind in (0, 1):
            self.kind = 1
            self.hashes.add(h)
            if len(self.hashes) > EXPLICIT_MAX:
                self._to_regs()
        else:
            self._update_regs(h)

    def merge(self, other: "Hll"):
        if other.kind == 0:
            return
        if self.kind == 0:
            if other.kind == 1:
                self.kind = 1
                self.hashes = set(other.hashes)
            else:
                self.kind = 3
                self.regs = bytearray(other.regs)
            return
        if self.kind == 1:
            if other.kind == 1:
                self.hashes |= other.hashes
                if len(self.hashes) > EXPLICIT_MAX:
                    self._to_regs()
            else:
                self._to_regs()
                for i in range(REGISTERS):
                    if other.regs[i] > self.regs[i]:
                        self.regs[i] = other.regs[i]
            return
        if other.kind == 1:
            for h in other.hashes:
                self._update_regs(h)
        else:
            for i in range(REGISTERS):
                if other.regs[i] > self.regs[i]:
                    self.regs[i] = other.regs[i]

    def serialize(self) -> bytes:
        if self.kind == 0:
            return b"\x00"
        if self.kind == 1:
            out = bytearray([1, len(self.hashes)])
            for h in sorted(self.hashes):
                out += struct.pack("<Q", h)
            return bytes(out)
        nz = sum(1 for v in self.regs if v)
        if nz > SPARSE_THRESHOLD:
            return b"\x03" + bytes(self.regs)
        out = bytearray([2]) + struct.pack("<I", nz)
        for i, v in enumerate(self.regs):
            if v:
                out += struct.pack("<H", i) + bytes([v])
        return bytes(out)

    @classmethod
    def deserialize(cls, blob: bytes) -> "Hll":
        h = cls()
        if not blob:
            return h
        t = blob[0]
        try:
            if t == 0:
                return h
            if t == 1:
                n = blob[1]
                if len(blob) < 2 + 8 * n:
                    return cls()
                h.kind = 1
                h.hashes = {
                    struct.unpack_from("<Q", blob, 2 + 8 * i)[0]
                    for i in range(n)}
                return h
            if t == 2:
                (n,) = struct.unpack_from("<I", blob, 1)
                if len(blob) < 5 + 3 * n:
                    return cls()
                h.kind = 3
                h.regs = bytearray(REGISTERS)
                p = 5
                for _ in range(n):
                    (idx,) = struct.unpack_from("<H", blob, p)
                    if idx >= REGISTERS:
                        # OOB index: the fixed BE rejects the blob
                        return cls()
                    h.regs[idx] = blob[p + 2]
                    p += 3
                return h
            if t == 3:
                if len(blob) < 1 + REGISTERS:
                    return cls()
                h.kind = 3
                h.regs = bytearray(blob[1:1 + REGISTERS])
                return h
        except (struct.error, IndexError):
            return cls()
        return cls()

    def estimate(self) -> int:
        if self.kind == 0:
            return 0
        if self.kind == 1:
            return len(self.hashes)
        import math

        import numpy as np
        # float32 SEQUENTIAL accumulation, exactly like the C++ loop
        table = np.float32(1.0) / np.exp2(
            np.arange(65, dtype=np.float32))
        hm = np.float32(0.0)
        zeros = 0
        for v in self.regs:
            hm = np.float32(hm + table[v])
            if v == 0:
                zeros += 1
        alpha = np.float32(0.7213) / np.float32(
            1 + np.float32(1.079) / np.float32(REGISTERS))
        harmonic = np.float32(1.0) / hm
        est = float(alpha) * REGISTERS * REGISTERS * float(harmonic)
        if est <= REGISTERS * 2.5 and zeros != 0:
            est = REGISTERS * math.log(
                np.float32(REGISTERS) / np.float32(zeros))
        elif est < 72000:
            bias = (5.9119e-18 * est ** 4 - 1.4253e-12 * est ** 3
                    + 1.2940e-7 * est ** 2 - 5.2921e-3 * est
                    + 83.3216)
            est -= est * (bias / 100)
        # C++ lround: half away from zero
        return int(math.floor(est + 0.5))


def _typed_bytes(v, width: int | None) -> bytes | None:
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, str):
        return v.encode()
    if isinstance(v, bool):
        return struct.pack("<b", int(v))
    if isinstance(v, int):
        return int(v).to_bytes(width or 8, "little", signed=True)
    if isinstance(v, float):
        return struct.pack("<d", v)
    return str(v).encode()


_ARROW_INT_WIDTH = {"int8": 1, "int16": 2, "int32": 4, "int64": 8}


def register(spark) -> None:
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.functions import (PandasUDFType, arrow_udf,
                                       pandas_udf)

    def _hll_hash(col):
        out = []
        for v in col.to_pylist():
            h = Hll()
            if v is not None:
                h.update(murmur64a(str(v).encode()))
            out.append(h.serialize())
        return pa.array(out, pa.binary())

    def _hll_card(col):
        return pa.array(
            [None if b is None else Hll.deserialize(bytes(b)).estimate()
             for b in col.to_pylist()], pa.int64())

    def _hll_deser(col):
        return pa.array(
            [None if b is None
             else Hll.deserialize(bytes(b)).serialize()
             for b in col.to_pylist()], pa.binary())

    spark.udf.register("__sr_hll_hash", arrow_udf(_hll_hash, "binary"))
    spark.udf.register("__sr_hll_cardinality",
                       arrow_udf(_hll_card, "bigint"))
    spark.udf.register("__sr_hll_deserialize",
                       arrow_udf(_hll_deser, "binary"))

    def _merge_series(vals) -> Hll:
        acc = Hll()
        for b in vals:
            if b is not None:
                acc.merge(Hll.deserialize(bytes(b)))
        return acc

    def _union_agg(v):
        return _merge_series(v).estimate()

    def _raw_agg(v):
        return _merge_series(v).serialize()

    def _ndv_agg(v):
        width = _ARROW_INT_WIDTH.get(str(v.dtype))
        acc = Hll()
        for x in v:
            if x is None or (not isinstance(x, (str, bytes))
                             and pd.isna(x)):
                continue
            if width is None and isinstance(x, float) \
                    and float(x).is_integer():
                # int column materialized as float64 by a null in the
                # batch — recover the integral storage bytes
                b = _typed_bytes(int(x), 8)
            else:
                b = _typed_bytes(x, width)
            acc.update(murmur64a(b))
        return acc.estimate()

    def _exact_distinct(v):
        return int(v.dropna().nunique())

    spark.udf.register(
        "__sr_hll_union_agg",
        pandas_udf(_union_agg, "bigint", PandasUDFType.GROUPED_AGG))
    spark.udf.register(
        "__sr_hll_raw_agg",
        pandas_udf(_raw_agg, "binary", PandasUDFType.GROUPED_AGG))
    spark.udf.register(
        "__sr_ndv_agg",
        pandas_udf(_ndv_agg, "bigint", PandasUDFType.GROUPED_AGG))
    # DataSketches HLL in its coupon (small-n) regime is exact; the
    # acceptance surface stays far below the promotion threshold
    # (lg_k=17 default). Documented deviation: beyond ~100k distinct
    # this stays exact where DS would approximate.
    spark.udf.register(
        "__sr_ds_hll_agg",
        pandas_udf(_exact_distinct, "bigint",
                   PandasUDFType.GROUPED_AGG))
