"""__sr_joda_format(ts, pattern, tz) — Joda-Time pattern rendering.

Port of the reference's jodatime_format
(be/src/exprs/time_functions.cpp:3015 joda_format over
joda::JodaFormat): letter runs are Joda tokens, quoted spans are
literals (an unclosed quote runs to the end, ``''`` is a single
quote), unknown pattern letters pass through verbatim
(test_jodatime_format pins ``b``/``cc`` surviving literally), and
fractional ``S`` truncates the 6-digit microsecond string to the
token length. ``Z``/``ZZ`` render the SESSION zone offset — the
reference test deployment runs Asia/Shanghai, which the dialect
threads through as the third argument.
"""
from __future__ import annotations

import datetime as _dt

_MONTHS = ["January", "February", "March", "April", "May", "June",
           "July", "August", "September", "October", "November",
           "December"]
_DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
         "Saturday", "Sunday"]


def _offset(tzname: str, ts) -> str:
    try:
        from zoneinfo import ZoneInfo
        off = ZoneInfo(tzname).utcoffset(ts)
    except Exception:  # noqa: BLE001 — unknown zone: UTC
        off = _dt.timedelta(0)
    total = int(off.total_seconds())
    sign = "+" if total >= 0 else "-"
    total = abs(total)
    return sign, total // 3600, (total % 3600) // 60


def joda_format(ts, fmt: str, tzname: str):
    if ts is None or fmt is None:
        return None
    out = []
    i, n = 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch == "'":
            if i + 1 < n and fmt[i + 1] == "'":
                out.append("'")
                i += 2
                continue
            j = fmt.find("'", i + 1)
            if j < 0:  # unclosed: literal to the end
                out.append(fmt[i + 1:])
                break
            out.append(fmt[i + 1:j])
            i = j + 1
            continue
        if not ch.isalpha():
            out.append(ch)
            i += 1
            continue
        j = i
        while j < n and fmt[j] == ch:
            j += 1
        cnt = j - i
        i = j
        iso = ts.isocalendar()
        if ch == "y":
            out.append(str(ts.year).zfill(cnt))
        elif ch in ("Y", "x"):
            out.append(str(iso[0]).zfill(cnt))
        elif ch == "M":
            if cnt >= 4:
                out.append(_MONTHS[ts.month - 1])
            elif cnt == 3:
                out.append(_MONTHS[ts.month - 1][:3])
            else:
                out.append(str(ts.month).zfill(cnt))
        elif ch == "d":
            out.append(str(ts.day).zfill(cnt))
        elif ch == "D":
            out.append(str(ts.timetuple().tm_yday).zfill(cnt))
        elif ch == "H":
            out.append(str(ts.hour).zfill(cnt))
        elif ch == "k":
            out.append(str(ts.hour or 24).zfill(cnt))
        elif ch == "K":
            out.append(str(ts.hour % 12).zfill(cnt))
        elif ch == "h":
            out.append(str(ts.hour % 12 or 12).zfill(cnt))
        elif ch == "m":
            out.append(str(ts.minute).zfill(cnt))
        elif ch == "s":
            out.append(str(ts.second).zfill(cnt))
        elif ch == "a":
            out.append("AM" if ts.hour < 12 else "PM")
        elif ch == "e":
            out.append(str(iso[2]).zfill(cnt))
        elif ch == "E":
            name = _DAYS[iso[2] - 1]
            out.append(name if cnt >= 4 else name[:3])
        elif ch == "w":
            out.append(str(iso[1]).zfill(cnt))
        elif ch == "S":
            frac = f"{ts.microsecond:06d}"
            out.append(frac[:cnt].ljust(cnt, "0"))
        elif ch == "G":
            out.append("AD" if ts.year > 0 else "BC")
        elif ch == "Z":
            sign, hh, mm = _offset(tzname, ts)
            out.append(f"{sign}{hh:02d}:{mm:02d}" if cnt >= 2
                       else f"{sign}{hh:02d}{mm:02d}")
        else:
            # unknown pattern letter: verbatim (JodaFormat contract
            # the R file pins)
            out.append(ch * cnt)
    return "".join(out)


def register(spark) -> None:
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def _fn(tss, fmts, tzs):
        out = []
        for t, f, z in zip(tss.to_pylist(), fmts.to_pylist(),
                           tzs.to_pylist()):
            if t is not None and t.tzinfo is not None:
                t = t.replace(tzinfo=None)
            out.append(joda_format(t, f, z))
        return pa.array(out, pa.string())

    spark.udf.register("__sr_joda_format", arrow_udf(_fn, "string"))
