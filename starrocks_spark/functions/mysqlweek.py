"""__sr_yearweek(date, mode) — MySQL week numbering, all 8 modes.

Port of MySQL's calc_week (be time_functions year_week follows it):
mode bits: 1 = weeks start Monday; 2 = YEARWEEK form (week 1..53,
days before week 1 belong to the previous year's last week); 4 =
week 1 is the first week with more than 3 days this year (ISO-ish)
vs the first week containing the week's first day. yearweek() ORs
bit 2 in, and flips bit 4 for Sunday-start modes (MySQL
week_mode()). Validated against the reference R recording
test_datetime/test_yearweek (64 pinned values across modes 0-7).
"""
from __future__ import annotations


def _daynr(y: int, m: int, d: int) -> int:
    """MySQL calc_daynr (mysys/my_time.cc) — days since year 0; the
    weekday formula below is calibrated to THIS epoch."""
    if y == 0 and m == 0 and d == 0:
        return 0
    delsum = 365 * y + 31 * (m - 1) + d
    if m <= 2:
        y -= 1
    else:
        delsum -= (m * 4 + 23) // 10
    temp = ((y // 100 + 1) * 3) // 4
    return delsum + y // 4 - temp


def _days_in_year(y: int) -> int:
    return _daynr(y + 1, 1, 1) - _daynr(y, 1, 1)


def _weekday(daynr: int, sunday_first: bool) -> int:
    # 0 = first day of week (Mon, or Sun when sunday_first)
    return (daynr + 5 + (1 if sunday_first else 0)) % 7


def calc_week(y: int, m: int, d: int, behaviour: int):
    """MySQL calc_week: returns (year, week)."""
    daynr = _daynr(y, m, d)
    first_daynr = _daynr(y, 1, 1)
    monday_first = bool(behaviour & 1)
    week_year = bool(behaviour & 2)
    first_weekday = bool(behaviour & 4)
    weekday = _weekday(first_daynr, not monday_first)
    year = y
    if m == 1 and d <= 7 - weekday:
        if not week_year and ((first_weekday and weekday != 0)
                              or (not first_weekday and weekday >= 4)):
            return year, 0
        week_year = True
        year -= 1
        days = _days_in_year(year)
        first_daynr -= days
        weekday = (weekday + 53 * 7 - days) % 7
    if (first_weekday and weekday != 0) \
            or (not first_weekday and weekday >= 4):
        days = daynr - (first_daynr + (7 - weekday))
    else:
        days = daynr - (first_daynr - weekday)
    if week_year and days >= 52 * 7:
        weekday = (weekday + _days_in_year(year)) % 7
        if (not first_weekday and weekday < 4) \
                or (first_weekday and weekday == 0):
            year += 1
            return year, 1
    return year, days // 7 + 1


def _week_mode(mode: int) -> int:
    mode &= 7
    if not (mode & 1):
        mode ^= 4
    return mode


def yearweek(dt, mode: int):
    if dt is None or mode is None:
        return None
    y, w = calc_week(dt.year, dt.month, dt.day, _week_mode(mode) | 2)
    return y * 100 + w


def register(spark) -> None:
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    def _fn(dates, modes):
        return pa.array(
            [yearweek(d, m) for d, m in zip(dates.to_pylist(),
                                            modes.to_pylist())],
            pa.int64())

    spark.udf.register("__sr_yearweek", arrow_udf(_fn, "bigint"))
