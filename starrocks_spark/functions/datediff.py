"""__sr_date_diff('unit', to, from) — StarRocks date_diff v2 periods.

``date_diff('year'|'quarter'|'month', a, b)`` dispatches to the
reference's *_diff_v2 kernels (be/src/exprs/time_functions.cpp:1238
years_diff_v2, :1318 months_diff_v2, :1384 quarters_diff_v2 =
trunc(months/3)), which count full periods from b to a with
month-END clamping — from 2016-02-29, one year later counts at
2017-02-28 because both are their month's last day. The fixed-length
units (week/day/hour/minute/second/millisecond) are exact integer
quotients of the microsecond difference and stay on Spark's
``timestampdiff``; only the calendar units need this UDF.

Fidelity notes, deliberately replicated:
- the intra-day comparison uses the BE's mixed-scale formula
  ``hour*3600000 + minute*60000 + second*1000 + usec`` (milliseconds
  for h/m/s but MICROseconds for the fraction — time_functions.cpp
  :1243; not chronologically monotonic, but byte-faithful);
- quarter division truncates toward zero (C++ ``/``), not floor.

Arrow UDF: columns arrive as pyarrow Arrays with true types (the
unit argument is a broadcast literal string column).
"""
from __future__ import annotations

import calendar
import math


def _usq(dt) -> int:
    # BE us_of_day: ms-scale h/m/s plus us fraction (see module doc)
    return (dt.hour * 3600000 + dt.minute * 60000 + dt.second * 1000
            + dt.microsecond)


def period_diff(unit: str, a, b):
    """v2 full-period count from b to a (a = 'to', b = 'from')."""
    if a is None or b is None or unit is None:
        return None
    if getattr(a, "tzinfo", None) is not None:
        a = a.replace(tzinfo=None)
    if getattr(b, "tzinfo", None) is not None:
        b = b.replace(tzinfo=None)
    unit = unit.strip().lower()
    _FIXED = {"week": 604800000000, "day": 86400000000,
              "hour": 3600000000, "minute": 60000000,
              "second": 1000000, "millisecond": 1000,
              "microsecond": 1}
    if unit in _FIXED:
        # exact microsecond quotient, truncation toward zero (C++ /)
        delta = a - b
        us = (delta.days * 86400000000
              + delta.seconds * 1000000 + delta.microseconds)
        f = _FIXED[unit]
        # integer trunc-toward-zero (float / loses precision > 2^53)
        return -(-us // f) if us < 0 else us // f
    if unit not in ("year", "quarter", "month"):
        return None  # unknown unit: NULL (post-insert runtime units)
    sign = 1 if b < a else -1
    lo, hi = (a, b) if a <= b else (b, a)
    us1, us2 = _usq(lo), _usq(hi)
    last1 = calendar.monthrange(lo.year, lo.month)[1]
    last2 = calendar.monthrange(hi.year, hi.month)[1]
    if unit == "year":
        diff = hi.year - lo.year
        if lo.month > hi.month:
            diff -= 1
        elif lo.month == hi.month:
            if last1 != last2:  # Feb leap/normal pairing
                if lo.day > hi.day:
                    if hi.day != last2:
                        diff -= 1
                    elif lo.day == last1 and us1 > us2:
                        diff -= 1
                elif lo.day == hi.day and hi.day != last2 and us1 > us2:
                    diff -= 1
            else:
                if lo.day > hi.day or (lo.day == hi.day and us1 > us2):
                    diff -= 1
        return sign * diff
    # month / quarter share the month kernel
    diff = (hi.year - lo.year) * 12 + (hi.month - lo.month)
    if lo.day > hi.day:
        if hi.day != last2:
            diff -= 1
        elif lo.day == last1 and us1 > us2:
            diff -= 1
    elif lo.day == hi.day:
        if hi.day == last2:
            if lo.day == last1 and us1 > us2:
                diff -= 1
        else:
            if us1 > us2:
                diff -= 1
    d = sign * diff
    return math.trunc(d / 3) if unit == "quarter" else d


def register(spark) -> None:
    """Register ``__sr_date_diff(unit, to, from) -> bigint``."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def _fn(units, tos, froms):
        out = []
        for u, a, b in zip(units.to_pylist(), tos.to_pylist(),
                           froms.to_pylist()):
            out.append(None if u is None else period_diff(u, a, b))
        return pa.array(out, pa.int64())

    spark.udf.register("__sr_date_diff", arrow_udf(_fn, "bigint"))
