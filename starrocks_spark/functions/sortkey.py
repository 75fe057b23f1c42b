"""encode_sort_key(...) — order-preserving composite binary key.

Mirrors the reference's encoding exactly (byte-for-byte: the
test_make_sort_key R file records the raw key bytes):
- per field, a NULL marker byte (0x01 non-null / 0x00 null)
- integrals: sign-bit flip + big-endian, width = storage width
  (be/src/storage_primitive/primary_key_encoder.h:62 encode_integral)
- floats: flip all bits when negative else flip the sign bit,
  big-endian (be/src/exprs_ext/utility/utility_functions.cpp:459)
- strings: last field appends raw; earlier fields escape 0x00 ->
  0x00 0x01 and terminate with 0x00 0x00 (primary_key_encoder.h:91)
- a 0x00 separator byte between fields
  (utility_functions.cpp:594 encode_sort_key)

Implemented as a variadic Arrow UDF (pyspark arrow_udf): each column
arrives as a pyarrow.Array carrying its TRUE logical type — a
nullable int64 batch stays int64 (a pandas UDF would materialize it
as float64, silently switching the encoding batch-to-batch and losing
precision above 2^53). The per-element loop runs over one Arrow batch
at a time, never row-at-a-time over the wire.
"""
from __future__ import annotations

import struct

_INT_WIDTH = {"int8": 1, "int16": 2, "int32": 4, "int64": 8,
              "uint8": 1, "uint16": 2, "uint32": 4, "uint64": 8}


def _enc_int(v: int, width: int) -> bytes:
    # unsigned sign-bit flip in modular arithmetic — Python ints are
    # infinite-precision so a bare XOR stays negative for negative
    # inputs and to_bytes(signed=False) would raise
    # (encode_integral does this in native unsigned arithmetic)
    u = (int(v) + (1 << (width * 8 - 1))) % (1 << (width * 8))
    return u.to_bytes(width, "big", signed=False)


def _enc_float(v: float, width: int) -> bytes:
    if width == 4:
        (u,) = struct.unpack(">I", struct.pack(">f", v))
        u ^= 0xFFFFFFFF if (u & 0x80000000) else 0x80000000
        return struct.pack(">I", u)
    (u,) = struct.unpack(">Q", struct.pack(">d", v))
    u ^= (0xFFFFFFFFFFFFFFFF if (u & 0x8000000000000000)
          else 0x8000000000000000)
    return struct.pack(">Q", u)


def _enc_slice(v, is_last: bool) -> bytes:
    b = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
    if is_last:
        return bytes(b)
    return bytes(b).replace(b"\x00", b"\x00\x01") + b"\x00\x00"


def _field_width(t) -> int | None:
    """Integral storage width for a pyarrow type, else None."""
    import pyarrow as pa
    w = _INT_WIDTH.get(str(t))
    if w is not None:
        return w
    if pa.types.is_date32(t):
        return 4
    if pa.types.is_date64(t) or pa.types.is_timestamp(t):
        return 8
    return None


def encode_arrays(cols: list) -> "object":
    """cols: list of pyarrow.Array (one per field). Returns a
    pyarrow binary Array of composite key bytes, one per row."""
    import datetime as _dt

    import pyarrow as pa

    n = len(cols[0])
    buffs = [bytearray() for _ in range(n)]
    last = len(cols) - 1
    epoch = _dt.date(1970, 1, 1)
    for j, arr in enumerate(cols):
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        t = arr.type
        width = _field_width(t)
        is_float = pa.types.is_floating(t)
        fwidth = 4 if pa.types.is_float32(t) else 8
        is_bool = pa.types.is_boolean(t)
        for i, v in enumerate(arr.to_pylist()):
            if v is None:
                buffs[i] += b"\x00"
            else:
                buffs[i] += b"\x01"
                if is_bool:
                    buffs[i] += _enc_int(int(v), 1)
                elif width is not None:
                    if isinstance(v, _dt.datetime):
                        v = int(v.timestamp() * 1_000_000)
                    elif isinstance(v, _dt.date):
                        v = (v - epoch).days
                    buffs[i] += _enc_int(v, width)
                elif is_float:
                    buffs[i] += _enc_float(v, fwidth)
                elif isinstance(v, bool):
                    buffs[i] += _enc_int(int(v), 1)
                elif isinstance(v, int):
                    buffs[i] += _enc_int(v, 8)
                elif isinstance(v, float):
                    buffs[i] += _enc_float(v, 8)
                else:
                    buffs[i] += _enc_slice(v, j == last)
            if j != last:
                buffs[i] += b"\x00"
    return pa.array([bytes(b) for b in buffs], pa.binary())


def register(spark) -> None:
    """Register ``__encode_sort_key(*cols) -> binary`` into ``spark``."""
    import math

    import pandas as pd
    from pyspark.sql.functions import (PandasUDFType, arrow_udf,
                                       pandas_udf)

    def _fn(*cols):
        return encode_arrays(list(cols))

    # arrow_udf: columns arrive as pyarrow Arrays with the true
    # logical type (nullable ints stay ints — see module docstring)
    __encode_sort_key = arrow_udf(_fn, "binary")

    def _dstr(v):
        # C++ shortest-round-trip double render (fmt/to_chars) =
        # Python repr; whole values print without the trailing .0
        # (be column cast_to_string; test_full_sort_use_german_string)
        def one(x):
            if x is None or pd.isna(x):
                return None
            f = float(x)
            if f == 0.0 and math.copysign(1.0, f) < 0:
                return "-0"  # to_chars prints the sign of -0.0
            if f == int(f) and abs(f) < 1e16:
                return str(int(f))
            return repr(f)
        return pd.Series([one(x) for x in v])

    # explicit eval type: `from __future__ import annotations` makes
    # the hints strings pandas_udf cannot resolve here
    __sr_dstr = pandas_udf(_dstr, "string", PandasUDFType.SCALAR)
    spark.udf.register("__sr_dstr", __sr_dstr)
    spark.udf.register("__encode_sort_key", __encode_sort_key)
