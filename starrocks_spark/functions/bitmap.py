"""Bitmap value type + algebra (reference: types/bitmap_value.h
(Roaring), be/src/exprs/bitmap_functions.cpp:844, table functions
unnest_bitmap.h / subdivide_bitmap.h).

Representation: a bitmap is a **sorted array<long> of distinct ids**.
Roaring's value is cache/CPU compression of exactly this set; Spark's
columnar arrays + Tungsten already store it compactly, and every
operation below is a built-in higher-order expression (codegen,
no UDF). At 100 TB the construction aggregates (collect_set) shuffle
only (key, id) pairs and each result bitmap stays bounded by its
group's distinct count — the same memory contract Roaring gives the
reference. For astronomic per-key cardinalities the engine's HLL
sketches (operators/aggregates.py) are the pressure valve, mirroring
the reference's bitmap→HLL guidance.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bitmap_agg(id_col: Column) -> Column:
    """bitmap_agg / bitmap_union of raw ids (bitmap_agg.h)."""
    return F.array_sort(F.collect_set(id_col))


def bitmap_and(a: Column, b: Column) -> Column:
    return F.array_sort(F.array_intersect(a, b))


def bitmap_or(a: Column, b: Column) -> Column:
    return F.array_sort(F.array_union(a, b))


def bitmap_xor(a: Column, b: Column) -> Column:
    return F.array_sort(
        F.array_union(F.array_except(a, b), F.array_except(b, a))
    )


def bitmap_andnot(a: Column, b: Column) -> Column:
    return F.array_sort(F.array_except(a, b))


def bitmap_count(a: Column) -> Column:
    return F.size(a).cast("long")


def bitmap_contains(a: Column, v: Column) -> Column:
    return F.array_contains(a, v)


def bitmap_to_array(a: Column) -> Column:
    """bitmap_to_array — identity under this representation."""
    return a


def subdivide_bitmap(a: Column, chunk: int) -> Column:
    """subdivide_bitmap(bitmap, n) → array of ≤n-element bitmaps
    (subdivide_bitmap.h — used to cap per-row bitmap size before
    shipping)."""
    n_chunks = F.ceil(F.size(a) / F.lit(chunk)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.slice(a, i * chunk + 1, chunk),
    )


# ---------------------------------------------------------------------------
# serialized transport (base64_to_bitmap / bitmap_to_base64)
# ---------------------------------------------------------------------------


def _decode_bitmap(raw: bytes):
    """StarRocks BitmapValue serialization (be/src/util/bitmap_value.h
    BitmapTypeCode): EMPTY=0, SINGLE32=1, SINGLE64=3, SET=10 (u8 tag,
    u32 count, count×u64). BITMAP32/64 (roaring containers, tags 2/4)
    are not decoded — NULL, like any malformed payload."""
    import struct

    if not raw:
        return None
    tag = raw[0]
    try:
        if tag == 0:
            return []
        if tag == 1:
            return [struct.unpack("<I", raw[1:5])[0]]
        if tag == 3:
            return [struct.unpack("<Q", raw[1:9])[0]]
        if tag == 10:
            n = struct.unpack("<I", raw[1:5])[0]
            vals = struct.unpack(f"<{n}Q", raw[5:5 + 8 * n])
            return sorted(set(vals))
        if tag == 2:
            vals, _ = _parse_roaring32(raw, 1)
            return sorted(set(vals))
        if tag == 4:
            off, shift, nmaps = 1, 0, 0
            while True:
                b = raw[off]
                off += 1
                nmaps |= (b & 0x7F) << shift
                shift += 7
                if not b & 0x80:
                    break
            vals = []
            for _ in range(nmaps):
                high = struct.unpack_from("<I", raw, off)[0]
                off += 4
                lows, off = _parse_roaring32(raw, off)
                vals.extend((high << 32) | x for x in lows)
            return sorted(set(vals))
    except (struct.error, ValueError, IndexError):
        return None
    return None


def _runs_of(vals):
    runs = []
    start = prev = vals[0]
    for v in vals[1:]:
        if v == prev + 1:
            prev = v
            continue
        runs.append((start, prev - start))
        start = prev = v
    runs.append((start, prev - start))
    return runs


def _roaring32(vals, use_runs: bool) -> bytes:
    """CRoaring portable serialization (Roaring32) of sorted u32 ids —
    byte-exact with the reference's forked CRoaring (bitmap_value_
    detail.h): run containers only where runOptimize would pick them,
    cookie 12347 (runs, no offsets under 4 containers) / 12346."""
    import struct
    from collections import OrderedDict

    conts = OrderedDict()
    for v in vals:
        conts.setdefault(v >> 16, []).append(v & 0xFFFF)
    reprs = []
    for key, lows in conts.items():
        card = len(lows)
        kind = "array" if card <= 4096 else "bitmap"
        if use_runs:
            runs = _runs_of(lows)
            run_sz = 2 + 4 * len(runs)
            cur_sz = 2 * card if kind == "array" else 8192
            if run_sz < cur_sz:
                kind = "run"
        if kind == "run":
            data = struct.pack("<H", len(runs)) + b"".join(
                struct.pack("<HH", a, ln) for a, ln in runs)
        elif kind == "array":
            data = struct.pack(f"<{card}H", *lows)
        else:
            bits = bytearray(8192)
            for lo in lows:
                bits[lo >> 3] |= 1 << (lo & 7)
            data = bytes(bits)
        reprs.append((key, card, kind, data))
    n = len(reprs)
    has_run = any(k == "run" for _, _, k, _ in reprs)
    out = bytearray()
    if has_run:
        out += struct.pack("<I", 12347 | ((n - 1) << 16))
        flags = bytearray((n + 7) // 8)
        for i, (_, _, k, _) in enumerate(reprs):
            if k == "run":
                flags[i >> 3] |= 1 << (i & 7)
        out += flags
    else:
        out += struct.pack("<I", 12346) + struct.pack("<I", n)
    for key, card, _, _ in reprs:
        out += struct.pack("<HH", key, card - 1)
    if not has_run or n >= 4:
        pos = len(out) + 4 * n
        for _, _, _, data in reprs:
            out += struct.pack("<I", pos)
            pos += len(data)
    for _, _, _, data in reprs:
        out += data
    return bytes(out)


def _parse_roaring32(raw: bytes, off: int):
    """Inverse of _roaring32: returns (sorted low-32 ids, next off)."""
    import struct

    cookie = struct.unpack_from("<I", raw, off)[0]
    off += 4
    if (cookie & 0xFFFF) == 12347:
        n = (cookie >> 16) + 1
        nb = (n + 7) // 8
        flags = raw[off:off + nb]
        off += nb
        is_run = [bool(flags[i >> 3] & (1 << (i & 7)))
                  for i in range(n)]
        with_offsets = n >= 4
    elif cookie == 12346:
        n = struct.unpack_from("<I", raw, off)[0]
        off += 4
        is_run = [False] * n
        with_offsets = True
    else:
        raise ValueError("bad roaring cookie")
    heads = [struct.unpack_from("<HH", raw, off + 4 * i)
             for i in range(n)]
    off += 4 * n
    if with_offsets:
        off += 4 * n
    vals = []
    for i, (key, cm1) in enumerate(heads):
        base = key << 16
        card = cm1 + 1
        if is_run[i]:
            nr = struct.unpack_from("<H", raw, off)[0]
            off += 2
            for _ in range(nr):
                a, ln = struct.unpack_from("<HH", raw, off)
                off += 4
                vals.extend(base + x for x in range(a, a + ln + 1))
        elif card <= 4096:
            vals.extend(base + x for x in
                        struct.unpack_from(f"<{card}H", raw, off))
            off += 2 * card
        else:
            bits = raw[off:off + 8192]
            off += 8192
            vals.extend(base + j for j in range(65536)
                        if bits[j >> 3] & (1 << (j & 7)))
    return vals, off


def _encode_bitmap(vals) -> bytes:
    import struct

    vals = sorted(set(vals))
    if not vals:
        return b"\x00"
    if len(vals) == 1:
        v = vals[0]
        if v < 2 ** 32:
            return b"\x01" + struct.pack("<I", v)
        return b"\x03" + struct.pack("<Q", v)
    if len(vals) <= 32:
        return (b"\x0a" + struct.pack("<I", len(vals))
                + struct.pack(f"<{len(vals)}Q", *vals))
    if vals[-1] < 2 ** 32:
        # the single-map path run-optimizes before serializing
        # (bitmap_value.cpp SET→BITMAP conversion)
        return b"\x02" + _roaring32(vals, use_runs=True)
    maps = {}
    for v in vals:
        maps.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)

    def varint(x: int) -> bytes:
        out = bytearray()
        while True:
            b7 = x & 0x7F
            x >>= 7
            if x:
                out.append(b7 | 0x80)
            else:
                out.append(b7)
                return bytes(out)
    out = bytearray(b"\x04") + varint(len(maps))
    for high in sorted(maps):
        out += struct.pack("<I", high)
        # the 64-bit map path serializes containers as-is (no runs)
        out += _roaring32(maps[high], use_runs=False)
    return bytes(out)


def register(spark) -> None:
    """SQL names for the serialized-bitmap transport pair, into
    ``spark``; the value functions themselves compile to built-in
    array expressions in plans/dialect.py _BITMAP_WRAPS."""
    import base64

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def __b64_to_bitmap(s, throw):
        out = []
        for v, th in zip(s, throw):
            if v is None or v == "":
                out.append(None)
                continue
            try:
                # the reference's decoder accepts unpadded base64 —
                # repad, but keep alphabet errors as NULL
                raw = base64.b64decode(v + "=" * (-len(v) % 4),
                                       validate=True)
            except Exception:  # noqa: BLE001 — malformed → NULL
                out.append(None)
                continue
            got = _decode_bitmap(raw)
            if got is None:
                # undecodable payload: NULL by default; under
                # sql_mode ALLOW_THROW_EXCEPTION the reference raises
                # — match its error text for error-expectation checks
                if th:
                    raise ValueError("base64_to_bitmap: failed to "
                                     "deserialize bitmap")
                out.append(None)
                continue
            out.append(got)
        return pd.Series(out)

    @pandas_udf("string")
    def __bitmap_to_base64(b):
        out = []
        for v in b:
            out.append(None if v is None
                       else base64.b64encode(_encode_bitmap(v))
                       .decode("ascii"))
        return pd.Series(out)

    @pandas_udf("binary")
    def __bitmap_to_binary(b):
        return pd.Series([None if v is None else _encode_bitmap(v)
                          for v in b])

    @pandas_udf("array<bigint>")
    def __bitmap_from_binary(b, throw):
        out = []
        for v, th in zip(b, throw):
            if v is None:
                out.append(None)
                continue
            raw = (v.encode("latin1") if isinstance(v, str)
                   else bytes(v))
            got = _decode_bitmap(raw)
            if got is None:
                if th:
                    raise ValueError("bitmap_from_binary: failed to "
                                     "deserialize bitmap")
                out.append(None)
                continue
            out.append(got)
        return pd.Series(out)

    spark.udf.register("__b64_to_bitmap", __b64_to_bitmap)
    spark.udf.register("__bitmap_to_base64", __bitmap_to_base64)
    spark.udf.register("__bitmap_to_binary", __bitmap_to_binary)
    spark.udf.register("__bitmap_from_binary", __bitmap_from_binary)
