"""__sr_time_slice(ts, n, unit, base) — period-aligned bucketing.

Port of the reference's time_slice kernels
(be/src/types/timestamp_value.h:194-290 floor_to_*_period;
be/src/exprs/time_functions.cpp:1130 DEFINE_TIME_SLICE_FN):
- fixed units bucket seconds/microseconds since 0001-01-01 00:00:00
  (``seconds -= seconds % period``); week = 7-day periods on the
  same day anchor; CEIL always adds one period, even on an exact
  boundary (the C++ ``if constexpr (end) += period`` has no
  remainder check);
- month/quarter/year bucket the 1-based month/year ordinals with the
  ``(ordinal - 1) % period`` offset;
- a result past 9999-12-31 is NULL (date_valid), an input before
  0001-01-01 raises the reference's error text
  (time_functions.cpp:3459).
"""
from __future__ import annotations

import datetime as _dt

_EPOCH = _dt.datetime(1, 1, 1)
_FIXED_SECONDS = {"second": 1, "minute": 60, "hour": 3600,
                  "day": 86400, "week": 604800}


def time_slice(ts, period: int, unit: str, base: str):
    if ts is None or period is None or unit is None:
        return None
    if ts.tzinfo is not None:
        # session TZ is UTC: the wall clock IS the value
        ts = ts.replace(tzinfo=None)
    if period <= 0:
        return None
    unit = unit.lower()
    end = (base or "floor").lower() == "ceil"
    if ts < _EPOCH:
        raise ValueError(
            "time used with time_slice can't before 0001-01-01 "
            "00:00:00")
    try:
        if unit in ("microsecond", "millisecond"):
            per_us = period * (1 if unit == "microsecond" else 1000)
            delta = ts - _EPOCH
            us = (delta.days * 86400000000 + delta.seconds * 1000000
                  + delta.microseconds)
            us -= us % per_us
            if end:
                us += per_us
            return _EPOCH + _dt.timedelta(microseconds=us)
        if unit in _FIXED_SECONDS:
            per_s = period * _FIXED_SECONDS[unit]
            delta = ts - _EPOCH
            secs = delta.days * 86400 + delta.seconds
            secs -= secs % per_s
            if end:
                secs += per_s
            return _EPOCH + _dt.timedelta(seconds=secs)
        if unit in ("month", "quarter"):
            per_m = period * (3 if unit == "quarter" else 1)
            months = (ts.year - 1) * 12 + ts.month
            months -= (months - 1) % per_m
            if end:
                months += per_m
            year, month = (months - 1) // 12 + 1, (months - 1) % 12 + 1
            return _dt.datetime(year, month, 1)
        if unit == "year":
            year = ts.year - (ts.year - 1) % period
            if end:
                year += period
            return _dt.datetime(year, 1, 1)
    except (OverflowError, ValueError):
        return None  # past 9999-12-31 -> NULL (date_valid)
    return None


def register(spark) -> None:
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def _render(v):
        if v is None:
            return None
        base = (f"{v.year:04d}-{v.month:02d}-{v.day:02d} "
                f"{v.hour:02d}:{v.minute:02d}:{v.second:02d}")
        return base + (f".{v.microsecond:06d}" if v.microsecond
                       else "")

    _EPOCH_US = -62135596800000000  # 0001-01-01 00:00:00 UTC

    def _fn(tss, ns, units, bases):
        import pyarrow.compute as pc
        # probe the RAW microseconds first: a year-0 input (the
        # reference's own error case) is not representable as a
        # Python datetime, so to_pylist would fail with the wrong
        # message before the boundary check could run
        raw = tss.cast(pa.int64())
        if len(raw) and pc.min(raw).as_py() is not None \
                and pc.min(raw).as_py() < _EPOCH_US:
            raise ValueError(
                "time used with time_slice can't before 0001-01-01 "
                "00:00:00")
        out = []
        for t, n, u, b in zip(tss.to_pylist(), ns.to_pylist(),
                              units.to_pylist(), bases.to_pylist()):
            out.append(_render(time_slice(t, n, u, b)))
        # rendered STRING, not TIMESTAMP: the floor of a huge period
        # is 0001-01-01 00:00:00, below what pyspark's TimestampType
        # fromInternal can round-trip (CPython fromtimestamp fails at
        # the year-1 minimum even in UTC); CAST AS DATE/TIMESTAMP on
        # top stays valid for in-range values
        return pa.array(out, pa.string())

    spark.udf.register("__sr_time_slice", arrow_udf(_fn, "string"))
