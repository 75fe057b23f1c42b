"""MySQL-lenient str_to_date twin.

The reference's str_to_date (be/src/exprs/time_functions.cpp, MySQL
semantics) PREFIX-parses: it consumes the input per the format tokens
and silently ignores any trailing text, and %r (12-hour clock) accepts
a missing AM/PM marker (defaults to AM). Java's DateTimeFormatter
(Spark to_timestamp) requires a strict full match, so formats
exercising this leniency go through this Arrow-batched UDF instead.
"""

# NOTE: no `from __future__ import annotations` — pandas_udf resolves
# the pd.Series hints at definition time

import datetime
import re

# token → (regex, field) ; fields merged into a datetime
_TOKENS = {
    "Y": (r"(\d{4})", "year"),
    "y": (r"(\d{2})", "year2"),
    "m": (r"(\d{1,2})", "month"),
    "c": (r"(\d{1,2})", "month"),
    "d": (r"(\d{1,2})", "day"),
    "e": (r"(\d{1,2})", "day"),
    "H": (r"(\d{1,2})", "hour"),
    "k": (r"(\d{1,2})", "hour"),
    "h": (r"(\d{1,2})", "hour12"),
    "I": (r"(\d{1,2})", "hour12"),
    "i": (r"(\d{1,2})", "minute"),
    "s": (r"(\d{1,2})", "second"),
    "S": (r"(\d{1,2})", "second"),
    "f": (r"(\d{1,6})", "micro"),
    "p": (r"(AM|PM)", "meridiem"),
    "j": (r"(\d{1,3})", "yday"),
}


def parse_mysql_datetime(s: str, fmt: str):
    """Parse ``s`` per MySQL format ``fmt``; returns datetime or None.
    Prefix semantics: trailing text in ``s`` beyond the format is
    ignored; parse failure mid-format yields None."""
    fields: dict = {}
    pos, i, n = 0, 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch == "%" and i + 1 < n:
            t = fmt[i + 1]
            i += 2
            if t == "%":
                if pos >= len(s) or s[pos] != "%":
                    return None
                pos += 1
                continue
            if t == "r":
                # hh:mm:ss [AM|PM] — meridiem optional (defaults AM)
                m = re.match(r"(\d{1,2}):(\d{1,2}):(\d{1,2})"
                             r"(?:\s*(AM|PM))?", s[pos:], re.IGNORECASE)
                if not m:
                    return None
                fields["hour12"] = int(m.group(1))
                fields["minute"] = int(m.group(2))
                fields["second"] = int(m.group(3))
                fields["meridiem"] = (m.group(4) or "AM").upper()
                pos += m.end()
                continue
            if t == "T":
                m = re.match(r"(\d{1,2}):(\d{1,2}):(\d{1,2})", s[pos:])
                if not m:
                    return None
                fields["hour"] = int(m.group(1))
                fields["minute"] = int(m.group(2))
                fields["second"] = int(m.group(3))
                pos += m.end()
                continue
            if t in ("W", "a", "b", "M"):
                m = re.match(r"([A-Za-z]+)", s[pos:])
                if not m:
                    return None
                if t in ("W", "a"):
                    wd = ("mon", "tue", "wed", "thu", "fri", "sat",
                          "sun")
                    name_l = m.group(1).lower()[:3]
                    if name_l in wd:
                        fields["isoweekday"] = wd.index(name_l) + 1
                pos += m.end()
                continue
            if t == "X":
                m = re.match(r"(\d{4})", s[pos:])
                if not m:
                    return None
                fields["isoyear"] = int(m.group(1))
                pos += m.end()
                continue
            if t == "V":
                m = re.match(r"(\d{1,2})", s[pos:])
                if not m:
                    return None
                fields["isoweek"] = int(m.group(1))
                pos += m.end()
                continue
            if t == "w":
                # weekday number is parse-only; MySQL returns NULL
                # for %w in str_to_date (not a date-constructing
                # token) — mark the parse unusable
                m = re.match(r"(\d)", s[pos:])
                if not m:
                    return None
                fields["badtoken"] = True
                pos += m.end()
                continue
            spec = _TOKENS.get(t)
            if spec is None:
                return None      # unsupported token
            m = re.match(spec[0], s[pos:], re.IGNORECASE)
            if not m:
                return None
            v = m.group(1)
            fields[spec[1]] = v.upper() if spec[1] == "meridiem" \
                else int(v.ljust(6, "0")) if spec[1] == "micro" \
                else int(v)
            pos += m.end()
        elif ch.isspace():
            # one format space matches any run of input whitespace
            while pos < len(s) and s[pos].isspace():
                pos += 1
            i += 1
        else:
            if pos >= len(s) or s[pos] != ch:
                return None
            pos += 1
            i += 1
    if fields.get("badtoken"):
        return None
    if "isoyear" in fields and "isoweek" in fields \
            and "isoweekday" in fields:
        # %X%V is MySQL's SUNDAY-based week numbering (WEEK mode 6):
        # week 1 is the first Sunday-started week holding ≥4 days of
        # the year; %W names the day within that Sunday-started week
        try:
            jan1 = datetime.date(fields["isoyear"], 1, 1)
            off = (jan1.weekday() + 1) % 7      # days since Sunday
            wk1 = jan1 - datetime.timedelta(days=off)
            if off > 3:
                wk1 += datetime.timedelta(days=7)
            day = wk1 + datetime.timedelta(
                days=(fields["isoweek"] - 1) * 7
                + (fields["isoweekday"] % 7))   # Sun=0, Mon=1, ...
            return datetime.datetime.combine(day, datetime.time())
        except ValueError:
            return None
    year = fields.get("year")
    if year is None and "year2" in fields:
        y2 = fields["year2"]
        year = 2000 + y2 if y2 < 70 else 1900 + y2
    hour = fields.get("hour")
    if hour is None and "hour12" in fields:
        h = fields["hour12"] % 12
        hour = h + 12 if fields.get("meridiem") == "PM" else h
    try:
        base = datetime.datetime(year or 0, fields.get("month") or 1,
                                 fields.get("day") or 1)
        if "yday" in fields:
            base = datetime.datetime(year or 0, 1, 1) \
                + datetime.timedelta(days=fields["yday"] - 1)
        return base.replace(hour=hour or 0,
                            minute=fields.get("minute") or 0,
                            second=fields.get("second") or 0,
                            microsecond=fields.get("micro") or 0)
    except ValueError:
        return None


def register(spark) -> None:
    """Register ``__sr_str_to_date(s, fmt)`` into ``spark``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("timestamp")
    def __sr_str_to_date(s: pd.Series, fmt: pd.Series) -> pd.Series:
        return pd.Series([
            None if a is None or f is None
            else parse_mysql_datetime(str(a), str(f))
            for a, f in zip(s, fmt)])

    spark.udf.register("__sr_str_to_date", __sr_str_to_date)
