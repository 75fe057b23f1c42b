"""StarRocks/MySQL SQL dialect → Spark SQL translation.

The reference parses a MySQL-flavored dialect with its own ANTLR
grammar (fe/fe-grammar/src/main/antlr/com/starrocks/grammar/
StarRocks.g4) and resolves functions against FunctionSet.java. On
Spark, Catalyst is the parser, so compatibility is a source-to-source
rewrite. This module closes the dialect gaps flagged in SURVEY.md
(§4.1 [S] rows, hard parts #4/#5):

- MySQL date-format strings (``%Y-%m-%d`` …) → Java DateTimeFormatter
  patterns, applied to string literals inside date_format /
  str_to_date / from_unixtime calls (reference format handling:
  be/src/exprs/time_functions.cpp).
- Function-name aliases the reference accepts but Spark names
  differently (dayname, monthname, money_format, curdate, adddate, …;
  registry gensrc/script/functions.py).
- ``date_add(x, INTERVAL n unit)`` MySQL call-form → Spark interval
  arithmetic (grammar StarRocks.g4 interval rule).
- ``QUALIFY`` clause (StarRocks.g4:2512) → wrapping subquery with a
  filter (Spark has no QUALIFY).

Everything here is string rewriting ahead of ``spark.sql`` — the
translated query still goes through Catalyst untouched, so pushdown /
pruning / AQE all apply. Translation cost is O(len(sql)) on the
driver: irrelevant at any data scale.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from starrocks_spark.catalog import register_tables
from starrocks_spark.functions import register_all
from starrocks_spark.session import plan_small_statically

# ---------------------------------------------------------------------------
# MySQL date-format token → Java DateTimeFormatter pattern
# (token list: be/src/exprs/time_functions.cpp date_format handling)
# ---------------------------------------------------------------------------

_MYSQL_FMT = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%c": "M",
    "%d": "dd",
    "%e": "d",
    "%H": "HH",
    "%k": "H",
    "%h": "hh",
    "%I": "hh",
    "%i": "mm",
    "%s": "ss",
    "%S": "ss",
    "%f": "SSSSSS",
    "%p": "a",
    "%W": "EEEE",
    "%a": "EEE",
    "%b": "MMM",
    "%M": "MMMM",
    "%j": "DDD",
    "%T": "HH:mm:ss",
    "%r": "hh:mm:ss a",
    "%v": "ww",
    "%%": "%",
}

# Functions whose string-literal arguments are MySQL format strings.
_FMT_FUNCS = {"date_format", "str_to_date", "from_unixtime", "time_format"}


def translate_mysql_format(fmt: str) -> str:
    """'%Y-%m-%d %H:%i:%s' → 'yyyy-MM-dd HH:mm:ss'. Literal text that
    is not a %-token passes through; letters would need quoting in
    Java patterns, so wrap runs of passthrough letters in single
    quotes (pre-escaped for the SQL literal)."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            out.append(_MYSQL_FMT.get(tok, tok[1]))
            i += 2
        elif fmt[i].isalpha():
            # literal letter RUN → one quoted span ('t''t' would mean
            # t-quote-t in a Java pattern; test_date_format pins a
            # 46-letter run)
            j = i
            while j < len(fmt) and fmt[j].isalpha() \
                    and not (fmt[j] == "%" and j + 1 < len(fmt)):
                j += 1
            out.append("'" + fmt[i:j] + "'")
            i = j
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


# ---------------------------------------------------------------------------
# Balanced-call rewriting: find `name( args )` with proper quote/paren
# tracking, hand the top-level-split args to a rewrite callback.
# ---------------------------------------------------------------------------


def _strip_quoted_spans(text: str) -> str:
    """Blank string-literal and backtick-identifier spans (quote
    chars kept) for operator probing — a ``/`` inside a quoted
    identifier must not read as division."""
    out, i = [], 0
    while i < len(text):
        if text[i] in ("'", '"', "`"):
            j = skip_quoted(text, i)
            out.append(text[i] + " " * max(0, j - i - 2)
                       + (text[j - 1] if j - 1 > i else ""))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def skip_quoted(text: str, i: int) -> int:
    """``text[i]`` is a quote char: return the index just past its
    closing quote, honoring backslash escapes and SQL ``''``/``""``
    doubling (the same rules split_statements applies). Shared by
    every paren/bracket scanner so a literal like ``'it''s'`` or
    ``'a\\'b'`` can never mis-balance a rewrite (r7 ADVICE)."""
    q = text[i]
    j, n = i + 1, len(text)
    while j < n:
        ch = text[j]
        if ch == "\\":
            j += 2
            continue
        if ch == q:
            if j + 1 < n and text[j + 1] == q:  # SQL quote doubling
                j += 2
                continue
            return j + 1
        j += 1
    return n


def _split_top_level(args: str) -> list[str]:
    parts, depth, cur, i = [], 0, [], 0
    while i < len(args):
        ch = args[i]
        if ch in ("'", '"'):
            j = skip_quoted(args, i)
            cur.append(args[i:j])
            i = j
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        parts.append("".join(cur).strip())
    return parts


#: per-translate()-run tally of FIRED call rewrites (callback returned
#: a replacement), keyed by function name — the differential fuzz
#: harness asserts its generated statements actually exercise the
#: mapped surface instead of passing through unchanged
REWRITE_HITS: dict[str, int] = {}


def rewrite_calls(sql: str, name: str, fn) -> str:
    """Replace every call of `name(...)` (case-insensitive, balanced
    parens, quote-aware) with fn(args_list) -> str. Processes nested
    calls innermost-last by rescanning until fixpoint."""
    pat = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(sql)
        if m is None:
            return sql
        # find matching close paren
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            ch = sql[i]
            if ch == "'":
                i = skip_quoted(sql, i) - 1
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        inner = sql[m.end() : i - 1]
        repl = fn(_split_top_level(inner))
        if repl is None:  # leave untouched: re-emit with marker to stop loop
            repl = f"\0{name}\0({inner})"
        else:
            REWRITE_HITS[name] = REWRITE_HITS.get(name, 0) + 1
        sql = sql[: m.start()] + repl + sql[i:]
    # unreachable


def rewrite_calls_over(sql: str, name: str, fn) -> str:
    """Like rewrite_calls, but also captures a directly-following
    ``OVER ( ... )`` clause; fn(args, over_text_or_None) must emit the
    COMPLETE replacement (including the window) so it can wrap outside
    the window function — needed when an aggregate's StarRocks result
    shape differs from Spark's (e.g. bool_or's null/false contract)."""
    pat = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(sql)
        if m is None:
            return sql
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            ch = sql[i]
            if ch == "'":
                i = skip_quoted(sql, i) - 1
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        inner = sql[m.end():i - 1]
        over = None
        end = i
        om = re.match(r"\s*OVER\s*\(", sql[i:], re.IGNORECASE)
        if om:
            depth, j = 1, i + om.end()
            while j < len(sql) and depth:
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                j += 1
            over = sql[i + om.end():j - 1]
            end = j
        repl = fn(_split_top_level(inner), over)
        if repl is None:
            repl = f"\0{name}\0({inner})" + sql[i:end]
        else:
            REWRITE_HITS[name] = REWRITE_HITS.get(name, 0) + 1
        sql = sql[:m.start()] + repl + sql[end:]


def _restore_markers(sql: str) -> str:
    return sql.replace("\0", "")


# ---------------------------------------------------------------------------
# Individual rewrites
# ---------------------------------------------------------------------------

_INTERVAL_RE = re.compile(
    r"^INTERVAL\s+(.+?)\s+(YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE"
    r"|SECOND|MILLISECOND|MICROSECOND)S?$",
    re.IGNORECASE | re.DOTALL,
)

# make_interval(years, months, weeks, days, hours, mins, secs)
_MAKE_INTERVAL_SLOT = {
    "YEAR": 0, "MONTH": 1, "WEEK": 2, "DAY": 3,
    "HOUR": 4, "MINUTE": 5, "SECOND": 6,
}


def _interval_expr(n: str, unit: str) -> str:
    """INTERVAL <n> <unit> as a Spark expression. A literal count keeps
    the INTERVAL literal; a computed count (StarRocks allows INTERVAL
    (expr) SECOND — fe IntervalLiteral takes any expression) becomes
    make_interval, whose arguments may be non-constant."""
    if re.fullmatch(r"-?\d+", n.strip()):
        if unit == "QUARTER":  # no QUARTER interval literal in Spark
            return f"INTERVAL {3 * int(n)} MONTH"
        return f"INTERVAL {n.strip()} {unit}"
    args = ["0"] * 7
    if unit == "QUARTER":
        args[_MAKE_INTERVAL_SLOT["MONTH"]] = f"3 * ({n})"
    elif unit == "MILLISECOND":
        args[_MAKE_INTERVAL_SLOT["SECOND"]] = f"({n}) / 1000"
    elif unit == "MICROSECOND":
        args[_MAKE_INTERVAL_SLOT["SECOND"]] = f"({n}) / 1000000"
    else:
        args[_MAKE_INTERVAL_SLOT[unit]] = f"({n})"
    return f"make_interval({', '.join(args)})"


def _fold_interval_arith(arg: str):
    """IntervalLiteral arithmetic the FE folds before typing
    (fe AstBuilder visitArithmeticBinary over IntervalLiteral):
    ``INTERVAL n unit * k``, ``INTERVAL n unit / k``,
    ``k * INTERVAL n unit`` → (count_expr, UNIT); plain
    ``INTERVAL n unit`` passes through; None when not interval-shaped."""
    m = re.match(r"(?is)^INTERVAL\s+(\S+)\s+(\w+?)S?\s*([*/])\s*(.+)$",
                 arg)
    if m:
        return (f"CAST(({m.group(1)}) {m.group(3)} ({m.group(4)}) "
                f"AS INT)", m.group(2).upper())
    m = re.match(r"(?is)^(.+?)\*\s*INTERVAL\s+(\S+)\s+(\w+?)S?$", arg)
    if m:
        return (f"CAST(({m.group(2)}) * ({m.group(1).strip()}) AS INT)",
                m.group(3).upper())
    m = _INTERVAL_RE.match(arg)
    if m:
        return m.group(1), m.group(2).upper()
    return None


def _rw_emitted_ts_in(sql: str) -> str:
    """``<emitted timestamp expr> IN ('lit', ...)``: Spark's IN
    type-coercion widens timestamp-vs-string to STRING, so the
    rendered compare ('1000-01-02 00:00:00' vs '1000-01-02') misses —
    the reference casts the literals to DATETIME instead
    (test_expr_substr_prune_partition). Scoped to expressions THIS
    translator emitted (the int-date-arith family), where the LHS
    type is provably TIMESTAMP."""
    pat = re.compile(r"\0timestampadd\0\(|\(TRY_CAST\(")
    i = 0
    while True:
        m = pat.search(sql, i)
        if m is None:
            return sql
        # balanced scan over the emitted expression
        start = (m.end() - 1 if sql[m.start()] != "("
                 else m.start())
        depth, j = 0, start
        while j < len(sql):
            ch = sql[j]
            if ch == "'":
                j = skip_quoted(sql, j) - 1
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    j += 1
                    break
            j += 1
        expr = sql[start:j]
        if sql[m.start()] == "(" and not (
                "AS TIMESTAMP" in expr.upper()
                and re.search(r"\bINTERVAL\b|\bmake_interval\b", expr,
                              re.IGNORECASE)):
            i = m.end()  # some other TRY_CAST — not our emission
            continue
        im = re.match(r"(\s+(?:NOT\s+)?IN\s*)\(", sql[j:],
                      re.IGNORECASE)
        if not im:
            i = m.end()
            continue
        lo = j + im.end()  # first char of the list body
        depth, k = 1, lo
        while k < len(sql) and depth:
            ch = sql[k]
            if ch == "'":
                k = skip_quoted(sql, k) - 1
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            k += 1
        items = _split_top_level(sql[lo:k - 1])
        new = ", ".join(
            f"CAST({it.strip()} AS TIMESTAMP)"
            if re.fullmatch(r"'[^']*'", it.strip()) else it
            for it in items)
        sql = sql[:lo] + new + sql[k - 1:]
        i = m.end()



_DATE_DIFF_UNITS = {
    "year": "YEAR", "quarter": "QUARTER", "month": "MONTH",
    "week": "WEEK", "day": "DAY", "hour": "HOUR", "minute": "MINUTE",
    "second": "SECOND", "millisecond": "MILLISECOND",
    "microsecond": "MICROSECOND",
}



_INTERVAL_ARITH_L = re.compile(
    r"INTERVAL\s+'?(\d+)'?\s+(YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE"
    r"|SECOND)S?\s*([*/])\s*(\d+)(?!\d)", re.IGNORECASE)
_INTERVAL_ARITH_R = re.compile(
    r"(?<![\w'])(\d+)\s*\*\s*INTERVAL\s+'?(\d+)'?\s+"
    r"(YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND)S?(?!\w)",
    re.IGNORECASE)


def _fold_bare_interval_arith(sql: str) -> str:
    """Constant-fold ``INTERVAL '1' DAY * 3`` / ``3 * INTERVAL '1'
    DAY`` / ``INTERVAL '6' DAY / 3`` into a single interval literal.
    The FE folds IntervalLiteral arithmetic before typing, so
    ``date - interval '1' day * 3`` stays DATE-typed; Spark's
    interval multiplication widens to a day-time interval and flips
    the result to TIMESTAMP (test_intervals_trino)."""
    def l(m):
        n, unit, op, k = (int(m.group(1)), m.group(2).upper(),
                          m.group(3), int(m.group(4)))
        v = n * k if op == "*" else n // k
        return f"INTERVAL {v} {unit}"

    def r(m):
        return (f"INTERVAL {int(m.group(1)) * int(m.group(2))} "
                f"{m.group(3).upper()}")

    sql = _INTERVAL_ARITH_L.sub(l, sql)
    return _INTERVAL_ARITH_R.sub(r, sql)


def _rw_unit_diff(unit: str):
    """N_diff(a, b) = FULL elapsed <unit> periods from b to a, sign-
    aware and sub-second-sensitive (be time_functions years_diff..
    milliseconds_diff, gensrc functions.py:564-591) — exactly Spark's
    timestampdiff(unit, b, a)."""
    def rw(a):
        if len(a) != 2:
            return None
        return (f"\0timestampdiff\0({unit}, "
                f"TRY_CAST({a[1]} AS TIMESTAMP), "
                f"TRY_CAST({a[0]} AS TIMESTAMP))")
    return rw


#: the reference test deployment's session time zone (FE default in
#: its test env) — offset-RENDERING functions (joda Z tokens) expose
#: it; SET time_zone updates it, the runner resets it per script
REF_SESSION_TZ = "Asia/Shanghai"

#: SET sql_dialect='Trino' flips date_diff's argument order
#: (Trino spells date_diff(unit, from, to); StarRocks (unit, to,
#: from) — fe trino parser TrinoParserUtils); the runner's SET
#: interceptor maintains this flag
TRINO_DATE_DIFF = False


def _rw_date_diff(a):
    """date_diff('unit', to, from) — quoted-unit dispatch
    (time_functions.cpp:1238-1387 *_diff_v2). Calendar units
    (year/quarter/month) need the v2 month-end-clamped kernel
    (functions/datediff.py UDF); fixed-length units are exact
    microsecond quotients = Spark's timestampdiff."""
    if len(a) != 3:
        return None
    # Trino's (unit, from, to) order applies only when the analyzer
    # takes the Trino signature — i.e. typed timestamp args; varchar
    # args fall back to the native (unit, to, from) path (observed
    # contract of test_date_diff: scalar `timestamp '...'` rows swap,
    # the varchar-column table rows do not)
    swap = TRINO_DATE_DIFF and any(
        re.match(r"(?is)^\s*timestamp\s*'", x) for x in (a[1], a[2]))
    to_, from_ = (a[2], a[1]) if swap else (a[1], a[2])
    m = re.fullmatch(r"['\"]([\w-]+)['\"]", a[0].strip())
    if m:
        unit = m.group(1).lower()
        u = _DATE_DIFF_UNITS.get(unit)
        if u is None:
            # literal unknown unit is an analyzer error (fe
            # DateDiffFunction; test_date_diff pins the message)
            raise ValueError(
                "date_diff function type column should be one of "
                "day/hour/minute/second/millisecond/month/year/week"
                "/quarter")
        if unit not in ("year", "quarter", "month"):
            return (f"\0timestampdiff\0({u}, "
                    f"TRY_CAST({from_} AS TIMESTAMP), "
                    f"TRY_CAST({to_} AS TIMESTAMP))")
        unit_expr = f"'{unit}'"
    else:
        # runtime unit (column / NULL): dispatch inside the UDF
        unit_expr = f"CAST({a[0]} AS STRING)"
    return (f"\0__sr_date_diff\0({unit_expr}, "
            f"TRY_CAST({to_} AS TIMESTAMP), "
            f"TRY_CAST({from_} AS TIMESTAMP))")





def _rw_substr(name):
    """substr/substring position/length args are INT in the reference:
    an out-of-int32 LITERAL is an analyzer error, an out-of-range
    runtime value becomes NULL (cast failure -> NULL row, not '').
    TRY_CAST(.. AS INT) reproduces the runtime path; literals raise
    the FE's message (test_substr)."""
    def rw(a):
        if len(a) not in (2, 3):
            return None
        out, changed = [a[0]], False
        for x in a[1:]:
            xs = x.strip()
            if re.fullmatch(r"-?\d+", xs):
                if not (-2 ** 31 <= int(xs) <= 2 ** 31 - 1):
                    raise ValueError(
                        f"Cast argument {xs} to int type failed.")
                out.append(xs)
            else:
                out.append(f"TRY_CAST({x} AS INT)")
                changed = True
        if not changed:
            return None
        return f"\0{name}\0({', '.join(out)})"
    return rw




def _sub_hll_aggs(x: str) -> str:
    """Inside an HLL consumer, the HLL-returning aggregates compute
    for real; bare (display-position) ones render NULL like the
    mysql client does for HLL cells."""
    x = re.sub(r"(?i)\bhll_raw_agg\s*\(", "\0__sr_hll_raw_agg\0(", x)
    x = re.sub(r"(?i)\bhll_union\s*\(", "\0__sr_hll_raw_agg\0(", x)
    return x


def _rw_aes(name: str):
    """aes_encrypt/aes_decrypt → the folded-key AES UDF
    (functions/aesfn.py). A 5-arg AAD with a literal non-GCM mode is
    the FE's analyzer error; from_base64 in the data argument stays
    BINARY (the display wrap would mangle ciphertext bytes)."""
    udf = f"__sr_aes_{name.split('_')[1]}"

    def bin_(x):
        x = re.sub(r"(?i)\bfrom_base64\s*\(", "\0unbase64\0(", x)
        return f"CAST({x} AS BINARY)"

    def rw(a):
        if len(a) not in (2, 4, 5):
            return None
        mode = "'AES_128_ECB'" if len(a) == 2 else a[3].strip()
        mm = re.fullmatch(r"['\"](\w+)['\"]", mode)
        if len(a) == 5 and mm and not mm.group(1).upper() \
                .endswith("_GCM"):
            raise ValueError(
                f"Getting analyzing error. Detail message: {name} "
                f"with 5 parameters requires GCM mode to use AAD "
                f"parameter, but got mode: {mm.group(1)}. Only GCM "
                f"modes (AES_128_GCM, AES_192_GCM, AES_256_GCM) "
                f"support AAD parameter..")
        iv = bin_(a[2]) if len(a) >= 4 else "CAST(NULL AS BINARY)"
        aad = bin_(a[4]) if len(a) == 5 else "CAST(NULL AS BINARY)"
        mode_e = mode if mm else f"CAST({mode} AS STRING)"
        call = (f"\0{udf}\0({bin_(a[0])}, {bin_(a[1])}, {iv}, "
                f"{mode_e}, {aad})")
        return (f"CAST({call} AS STRING)"
                if name == "aes_decrypt" else call)
    return rw


def _rw_to_datetime(ntz: bool):
    """to_datetime[_ntz](unix, scale 0|3|6) — epoch at second/milli/
    micro scale (gensrc functions.py:638-649); other scales are NULL.
    The non-ntz form renders in the session zone (REF_SESSION_TZ)."""
    def rw(a):
        if len(a) not in (1, 2):
            return None
        u = a[0]
        sc = a[1].strip() if len(a) == 2 else "0"

        def conv(fn):
            c = f"\0{fn}\0({u})"
            if not ntz:
                c = (f"\0from_utc_timestamp\0({c}, "
                     f"'{REF_SESSION_TZ}')")
            return c

        fns = {"0": "timestamp_seconds", "3": "timestamp_millis",
               "6": "timestamp_micros"}
        if re.fullmatch(r"\d+", sc):
            fn = fns.get(sc)
            return conv(fn) if fn else "CAST(NULL AS TIMESTAMP)"
        return (f"(CASE CAST({sc} AS INT) "
                f"WHEN 0 THEN {conv('timestamp_seconds')} "
                f"WHEN 3 THEN {conv('timestamp_millis')} "
                f"WHEN 6 THEN {conv('timestamp_micros')} "
                f"ELSE CAST(NULL AS TIMESTAMP) END)")
    return rw


def _rw_time_slice(is_date: bool):
    """time_slice/date_slice(x, INTERVAL n unit [, floor|ceil]) →
    period-aligned bucketing UDF (functions/timeslice.py;
    be time_functions.cpp:1012 time_slice dispatch)."""
    def rw(a):
        if len(a) not in (2, 3):
            return None
        im = re.match(r"(?is)^INTERVAL\s+(\S+)\s+(\w+?)S?$",
                      a[1].strip())
        if not im:
            return None
        n, unit = im.group(1), im.group(2).lower()
        if re.fullmatch(r"-?\d+\.\d+", n):
            # fractional period counts are a parse error in the
            # reference (IntervalLiteral takes an integer)
            raise ValueError(
                f"Getting syntax error. Detail message: "
                f"unsupported fractional interval value {n}.")
        if is_date and unit in ("hour", "minute", "second",
                                "millisecond", "microsecond"):
            raise ValueError("can't use time_slice for date with "
                             "time(hour/minute/second)")
        base = "'floor'"
        if len(a) == 3:
            b = a[2].strip().strip("'\"").lower()
            if b not in ("floor", "ceil"):
                return None
            base = f"'{b}'"
        call = (f"\0__sr_time_slice\0(TRY_CAST({a[0]} AS TIMESTAMP), "
                f"CAST({n} AS INT), '{unit}', {base})")
        return f"CAST({call} AS DATE)" if is_date else call
    return rw


def _rw_field(a):
    """MySQL FIELD(x, a, b, ...): 1-based index of the first match,
    0 when absent or x IS NULL. A CASE chain of plain equalities —
    Spark coerces each (x, aN) PAIR like MySQL does (string '01.0'
    matches the numeric 1.0 but '01' != '1' as strings), and a NULL
    x makes every predicate NULL so the chain falls through to 0."""
    if len(a) < 2:
        return None
    # MySQL's mode rule is GLOBAL and type-driven: all-VARCHAR
    # arguments compare as strings; anything else switches EVERY
    # comparison to numeric (FunctionSet field has only VARCHAR-all
    # and DOUBLE-all overloads). Argument types are not knowable
    # textually, so dispatch on Spark's typeof() — constant-folded
    # per column, so the dead branch costs nothing. The double route
    # hops through STRING (Spark disallows date->double casts;
    # non-numeric text becomes NULL, which never matches).
    sgate = " AND ".join(f"\0typeof\0({x}) = 'string'" for x in a)
    def _dbl9(x):
        # MySQL numeric coercions: date -> 20220202, datetime ->
        # 20220202000000, boolean -> 1/0; everything else through the
        # string render (non-numeric text -> NULL, never matches)
        # every branch must TYPE-CHECK for every possible arg type
        # (Spark analyzes dead CASE branches too) — hop through the
        # universally-castable STRING first
        xs = f"CAST({x} AS STRING)"
        return (f"(CASE WHEN \0typeof\0({x}) = 'date' THEN "
                f"TRY_CAST(\0date_format\0(TRY_CAST({xs} AS "
                f"TIMESTAMP), 'yyyyMMdd') AS DOUBLE) "
                f"WHEN \0typeof\0({x}) LIKE 'timestamp%' THEN "
                f"TRY_CAST(\0date_format\0(TRY_CAST({xs} AS "
                f"TIMESTAMP), 'yyyyMMddHHmmss') AS DOUBLE) "
                f"WHEN \0typeof\0({x}) = 'boolean' THEN "
                f"(CASE {xs} WHEN 'true' THEN 1.0D WHEN 'false' "
                f"THEN 0.0D END) "
                f"ELSE TRY_CAST({xs} AS DOUBLE) END)")
    dargs = [_dbl9(x) for x in a]
    # identity casts in the gated branch keep analysis valid for
    # mixed-typed args (the branch only RUNS when all are strings)
    sw = " ".join(f"WHEN CAST({a[0]} AS STRING) = "
                  f"CAST({x} AS STRING) THEN {i}"
                  for i, x in enumerate(a[1:], 1))
    dw = " ".join(f"WHEN ({dargs[0]}) = ({x}) THEN {i}"
                  for i, x in enumerate(dargs[1:], 1))
    return (f"(CASE WHEN {sgate} THEN (CASE {sw} ELSE 0 END) "
            f"ELSE (CASE {dw} ELSE 0 END) END)")


def _rw_int_date_arith(unit: str, sign: str):
    """date_add/adddate/days_add/months_add/years_add family: the
    reference has ONE overload each, (DATETIME, INT) -> DATETIME
    (gensrc/script/functions.py:536-552), so the result keeps the
    time part for ANY input — Spark's native date_add would return
    DATE and silently drop it (found by the r12 differential fuzz).
    Also folds IntervalLiteral arithmetic and reproduces the FE's
    Expr-divide-IntervalLiteral syntax error (test_days_add)."""
    op = "+" if sign == "+" else "-"

    def rw(args: list[str]):
        if len(args) == 3:
            # Trino's date_add('unit', amount, x): x + amount unit,
            # result type FOLLOWS x (date stays DATE, timestamp/
            # datetime-string stays TIMESTAMP — test_intervals_trino)
            um = re.fullmatch(r"['\"](\w+)['\"]", args[0].strip())
            u = um and _DATE_DIFF_UNITS.get(um.group(1).lower())
            if not u:
                return None
            x = args[2].strip()
            datey = re.match(r"(?is)^(date\s*\(|DATE\s+'"
                             r"|'\d{4}-\d{2}-\d{2}'$)", x)
            cast = ("CAST(" + x + " AS DATE)" if datey
                    else "TRY_CAST(" + x + " AS TIMESTAMP)")
            iv = _interval_expr(args[1].strip(), u)
            return f"({cast} {op} {iv})"
        if len(args) != 2:
            return None
        a0, arg = args[0], args[1].strip()
        if re.search(r"(?i)/\s*INTERVAL\b", _strip_quoted_spans(arg)):
            raise ValueError(
                "Getting syntax error. Detail message: Do not support "
                "Expr divide IntervalLiteral syntax.")
        f = _fold_interval_arith(arg)
        if f is not None:
            cnt, u = f
            return (f"(TRY_CAST({a0} AS TIMESTAMP) {op} "
                    f"{_interval_expr(cnt, u)})")
        neg = f"({arg})" if sign == "+" else f"-({arg})"
        return (f"\0timestampadd\0({unit}, {neg}, "
                f"TRY_CAST({a0} AS TIMESTAMP))")

    return rw


def _rw_fmt_func(name: str):
    """Translate the 2nd-arg format literal of date_format-family calls."""

    def rw(args: list[str]):
        if len(args) < 2:
            return None
        lit = args[-1].strip()
        if not (lit.startswith("'") and lit.endswith("'")):
            if name == "str_to_date" and len(args) == 2:
                # runtime (non-literal) format: the Python %-format
                # parser handles it batch-wise
                return _throw_wrap(
                    f"\0__sr_str_to_date\0({args[0]}, {args[1]})",
                    args[0], False)
            return None
        if "%" not in lit:
            return None  # already a Java pattern
        if name == "str_to_date" and re.search(r"%[rwXV]", lit):
            # 12-hour-clock / weekday / ISO-week formats need MySQL's
            # lenient prefix parse (optional meridiem, trailing text
            # ignored, fromisocalendar) — the Java formatter is
            # strict-full-match (functions/strtodate.py)
            call = f"\0__sr_str_to_date\0({args[0]}, {lit})"
            date_t = not re.search(r"%[HhiskIrTSf]", lit[1:-1])
            if date_t:
                call = f"CAST({call} AS DATE)"
            return _throw_wrap(call, args[0], date_t)
        if name in ("date_format", "time_format"):
            # the BE renders into a 128-byte buffer (time_functions
            # .cpp:1866 char buf[128]) — a RENDERED length >= 128 is
            # NULL (test_date_format pins 126 ok / 130 NULL)
            _W = {"%Y": 4, "%y": 2, "%m": 2, "%c": 2, "%d": 2,
                  "%e": 2, "%H": 2, "%k": 2, "%h": 2, "%I": 2,
                  "%i": 2, "%s": 2, "%S": 2, "%f": 6, "%j": 3,
                  "%T": 8, "%v": 2, "%%": 1}
            body, rlen, k = lit[1:-1], 0, 0
            while k < len(body):
                if body[k] == "%" and k + 1 < len(body):
                    w = _W.get(body[k:k + 2])
                    if w is None:
                        rlen = None  # variable-width token: no limit
                        break
                    rlen += w
                    k += 2
                else:
                    rlen += 1
                    k += 1
            if rlen is not None and rlen >= 128:
                return "NULL"
        java = translate_mysql_format(lit[1:-1])
        new_args = args[:-1] + ["'" + java.replace("'", "''") + "'"]
        target = {"str_to_date": "to_timestamp", "time_format": "date_format"}.get(
            name, name
        )
        if name == "str_to_date" and not re.search(
                r"%[HhiskIrTSf]", lit[1:-1]):
            # format has no time parts → the reference returns DATE,
            # not DATETIME (time_functions.cpp str_to_date)
            target = "to_date"
        call = f"\0{target}\0({', '.join(new_args)})"
        if name == "str_to_date":
            return _throw_wrap(call, args[0], target == "to_date")
        return call

    return rw


def _throw_wrap(call: str, a0: str, date_typed: bool) -> str:
    """Under sql_mode ALLOW_THROW_EXCEPTION, a NULL parse of a
    NON-NULL input raises with the reference's message text."""
    if not STRTODATE_THROW:
        return call
    t = "DATE" if date_typed else "TIMESTAMP"
    return (f"IF(({a0}) IS NOT NULL AND ({call}) IS NULL, "
            f"CAST(raise_error('Fail to parse date: input is "
            f"invalid for the format') AS {t}), {call})")


def _rw_split_literal(args: list[str]):
    if len(args) != 2:
        return None
    d = args[1].strip()
    if not (d.startswith("'") and d.endswith("'")) or "'" in d[1:-1]:
        return None  # non-literal delimiter: leave Spark-native
    lit = d[1:-1]
    if lit == "":
        # character split, dropping the zero-width artifacts
        return (f"filter(\0split\0({args[0]}, ''), "
                "x -> x != '')")
    esc = re.escape(lit).replace("\\", "\\\\")
    return f"\0split\0({args[0]}, '{esc}')"


def _rw_yearweek2(args):
    """2-arg yearweek(d, mode): MySQL calc_week across all 8 modes
    (functions/mysqlweek.py UDF; test_datetime/test_yearweek)."""
    if len(args) != 2:
        return None
    return (f"\0__sr_yearweek\0(\0try_to_date\0("
            f"TRY_CAST({args[0]} AS STRING)), "
            f"CAST({args[1]} AS INT))")


def _rw_yearweek(args: list[str]):
    """MySQL/StarRocks yearweek(d) mode 0 (be time_functions
    year_week): weeks start Sunday; week 1 starts at the FIRST Sunday
    of the year, days before it belong to the previous year's last
    week. With ws = the Sunday starting d's week, the result is
    year(ws)*100 + 1 + (ws - first_sunday(year(ws)))/7. Invalid dates
    → NULL (arg goes through try_to_date, MySQL null-on-bad-date)."""
    if len(args) == 2:
        return _rw_yearweek2(args)
    if len(args) != 1:
        return None
    d = f"\0try_to_date\0(TRY_CAST({args[0]} AS STRING))"
    ws = f"\0date_sub\0({d}, \0dayofweek\0({d}) - 1)"
    fs = (f"\0next_day\0(\0make_date\0(\0year\0({ws}) - 1, 12, 31), "
          f"'SU')")
    return (f"(\0year\0({ws}) * 100 + "
            f"CAST(\0floor\0(\0datediff\0({ws}, {fs}) / 7) AS INT)"
            f" + 1)")


def _rw_bool_coerce(name: str):
    """StarRocks implicitly coerces the numeric/string argument of
    boolean aggregates (count_if(v2), bool_or(c0) on ints —
    FunctionSet implicit cast); Spark requires BOOLEAN. TRY_CAST
    keeps MySQL null-on-bad-string semantics (count_if('') counts
    nothing)."""
    def rw(a):
        if len(a) != 1:
            return None
        return f"\0{name}\0(TRY_CAST({a[0]} AS BOOLEAN))"
    return rw


def _rw_bool_agg(name: str):
    """bool_or / booland_agg (be/src/exprs/agg/any_value.h boolor):
    result is TINYINT 1/0, NULL only for a truly EMPTY input — a
    group whose values are all NULL still yields 0/1 (Spark's
    bool_or null-skips to NULL there, and types the result BOOLEAN,
    which sum() then refuses). Wrapped OUTSIDE any OVER clause."""
    def rw(a, over):
        if len(a) != 1:
            return None
        inner = f"\0{name}\0(TRY_CAST({a[0]} AS BOOLEAN))"
        if over is not None:
            return (f"CAST(coalesce({inner} OVER ({over}), false) "
                    f"AS INT)")
        return (f"CAST(CASE WHEN count(*) = 0 THEN NULL "
                f"ELSE coalesce({inner}, false) END AS INT)")
    return rw


def _rw_string_agg(args: list[str]):
    """string_agg(expr, delim [order by ...]) — StarRocks puts the
    ORDER BY inside the call args (grammar aggregationFunction);
    Spark 4's listagg takes it as WITHIN GROUP. The order-by tail
    starts in args[1] and spans the remaining comma-split parts.
    Ordinal order keys reference the call's own args (ORDER BY 1 =
    the aggregated expr — fe group_concat analysis); for DISTINCT,
    keys other than the distinct expr itself only break ties between
    equal (collapsed) values, so they are dropped — which is also
    what Spark's listagg DISTINCT contract requires."""
    if not args:
        return None
    expr = args[0]
    dm = re.match(r"distinct\s+(.*)$", expr,
                  re.IGNORECASE | re.DOTALL)
    if len(args) == 1:
        return f"\0listagg\0({expr})"
    tail = ", ".join(args[1:])
    m = re.search(r"\border\s+by\b", tail, re.IGNORECASE)
    if not m:
        return f"\0listagg\0({expr}, {tail})"
    delim, order = tail[:m.start()].strip(), tail[m.end():].strip()
    bare = (dm.group(1) if dm else expr).strip()
    keys = []
    for k in _split_top_level(order):
        k = k.strip()
        if k == "1":
            k = bare
        if dm and re.sub(r"\s+(?:asc|desc)$", "", k,
                         flags=re.IGNORECASE) != bare:
            continue  # ties between collapsed duplicates — no-op
        if k not in keys:
            keys.append(k)
    if not keys:
        keys = [bare]
    if dm:
        # Spark's listagg(DISTINCT x) implicitly casts x to STRING
        # and then refuses an ORDER BY on the original — sort the
        # distinct values in their NATIVE type instead (array_sort
        # of collect_set), stringify, join. Empty → NULL, matching
        # group_concat.
        arr = f"\0array_sort\0(\0collect_set\0({bare}))"
        if keys and re.search(r"\bdesc$", keys[0], re.IGNORECASE):
            arr = f"\0reverse\0({arr})"
        return (f"nullif(\0array_join\0(\0transform\0({arr}, "
                f"_v -> CAST(_v AS STRING)), {delim}), '')")
    return (f"\0listagg\0({expr}, {delim}) "
            f"WITHIN GROUP (ORDER BY {', '.join(keys)})")


def _rw_session_number(a: list[str], over: str | None):
    """session_number(x, gap) OVER (...) — sessionization window
    function (be/src/exprs/agg/window.h SessionNumberWindowFunction):
    session id starts at 1 and increments when the ordered value
    jumps by MORE than gap from the previous row. Desugared to a
    running sum of boundary flags over the same window."""
    if len(a) != 2 or over is None:
        return None
    x, gap = a
    if not re.fullmatch(r"-?\d+|null", gap.strip(), re.IGNORECASE):
        # fe analyzer: the step must be a constant
        raise ValueError(
            "session_number: analyzing error: the gap argument must "
            "be a constant integer")
    flag = (f"CASE WHEN {x} - \0lag\0({x}) OVER ({over}) > ({gap}) "
            f"THEN 1 ELSE 0 END")
    # a NULL ordered value yields a NULL session id for that row
    return (f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS BIGINT) "
            f"ELSE \0sum\0({flag}) OVER ({over}) + 1 END)")


def _rw_array_lambda(spark_fn: str, args: list[str]):
    """StarRocks array_map accepts the lambda FIRST or LAST
    (fe LambdaFunctionExpr), with 1 or 2 source arrays. Normalize to
    Spark's array-first transform / zip_with."""
    lambdas = [a for a in args if re.search(r"->", a)]
    arrays = [a for a in args if not re.search(r"->", a)]
    if len(lambdas) != 1 or not arrays:
        return None
    if len(arrays) == 1:
        return f"{spark_fn}({arrays[0]}, {lambdas[0]})"
    if len(arrays) == 2 and spark_fn == "transform":
        return f"zip_with({arrays[0]}, {arrays[1]}, {lambdas[0]})"
    return None


def _rw_array_filter(args: list[str]):
    """array_filter: lambda form → Spark filter; two-array MASK form
    (array_functions.cpp array_filter) keeps elements whose mask
    entry is true."""
    if any(re.search(r"->", a) for a in args):
        return _rw_array_lambda("filter", args)
    if len(args) == 2:
        if args[0].strip().upper() == "NULL":
            return "NULL"
        if args[1].strip().upper() == "NULL":
            # NULL mask excludes everything (typed empty result)
            return f"filter({args[0]}, e -> false)"
        # mask semantics (array_functions.cpp array_filter): iterate
        # the SOURCE array, look the mask up by index — a NULL mask,
        # null mask entries, and positions past the mask's end all
        # exclude the element (never pad); int masks coerce 0/1
        return (
            f"transform(filter(transform({args[0]}, "
            f"(e, i) -> struct(e AS e, "
            f"try_element_at({args[1]}, i + 1) AS m)), "
            f"s -> TRY_CAST(s.m AS BOOLEAN)), s -> s.e)"
        )
    return None


def _rw_array_sortby(a: list[str]):
    if len(a) < 2:
        return None
    arr, keys = a[0], a[1:]
    # unequal non-null lengths raise (array_functions.cpp sort_by
    # check, including when OTHER arguments are NULL)
    cards = ", ".join(
        f"CASE WHEN ({x}) IS NULL THEN NULL "
        f"ELSE cardinality({x}) END" for x in a)
    len_guard = (f"size(array_distinct(filter(array({cards}), "
                 f"c -> c IS NOT NULL))) > 1")
    null_guard = " OR ".join(f"({x}) IS NULL" for x in a)
    fields = [f"k AS k0"] + [
        f"try_element_at({k}, i + 1) AS k{j + 1}"
        for j, k in enumerate(keys[1:])
    ] + ["i AS i"]
    return (
        f"CASE WHEN {len_guard} THEN "
        f"raise_error(\"Input arrays' size are not equal in "
        f"array_sortby.\") "
        f"WHEN {null_guard} THEN {arr} ELSE "
        f"transform(array_sort(transform({keys[0]}, "
        f"(k, i) -> struct({', '.join(fields)}))), "
        f"s -> element_at({arr}, s.i + 1)) END"
    )


def _rw_bitmap_union_count(args: list[str]):
    """bitmap_union_count(to_bitmap(x)) → distinct count of x values
    inside the unsigned-64 domain (to_bitmap yields NULL outside it,
    and NULLs never enter the bitmap)."""
    if len(args) != 1:
        return None
    m = re.match(r"^\s*to_bitmap\s*\((.*)\)\s*$", args[0],
                 re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    x = m.group(1)
    v = f"TRY_CAST(({x}) AS DECIMAL(20,0))"
    return (f"count(DISTINCT CASE WHEN {v} BETWEEN 0 AND "
            f"18446744073709551615 THEN {v} END)")


def _rw_group_concat(args: list[str]):
    """group_concat([DISTINCT] expr [, expr...] [ORDER BY ...]
    [SEPARATOR sep]) (fe AggregationAnalyzer; docs string-functions/
    group_concat.md): default separator ',', NULL rows skipped,
    multiple exprs concatenated per row. Normalized onto the
    string_agg rewriter (same ORDER BY-inside-call grammar)."""
    if not args:
        return None
    full = ", ".join(args)
    # sql_mode GROUP_CONCAT_LEGACY restores the pre-3.0 ', ' default
    delim = "', '" if GROUP_CONCAT_LEGACY else "','"
    sm = re.search(r"\bSEPARATOR\s+('(?:[^']|'')*'|\"[^\"]*\")\s*$",
                   full, re.IGNORECASE | re.DOTALL)
    if sm:
        delim = sm.group(1)
        full = full[:sm.start()].rstrip()
    order = None
    op = _find_top_level_keyword(full, r"ORDER\s+BY")
    if op >= 0:
        order = re.sub(r"^\s*ORDER\s+BY\s*", "", full[op:],
                       flags=re.IGNORECASE).strip()
        full = full[:op].rstrip().rstrip(",")
    exprs = _split_top_level(full)
    distinct = ""
    dm = re.match(r"\s*DISTINCT\s+(.*)$", exprs[0],
                  re.IGNORECASE | re.DOTALL)
    if dm:
        distinct, exprs[0] = "DISTINCT ", dm.group(1)
    expr = exprs[0] if len(exprs) == 1 \
        else "concat(" + ", ".join(exprs) + ")"
    sa_args = [f"{distinct}{expr}"]
    sa_args.append(f"{delim} order by {order}" if order else delim)
    return _rw_string_agg(sa_args)


def _rw_array_agg(args: list[str]):
    """array_agg keeps NULL elements (be/src/exprs/agg/array_agg.h);
    Spark's collect_list drops them — wrap each value in a one-field
    struct (never null), unwrap after. DISTINCT dedups afterwards (one
    NULL survives, matching the reference)."""
    if len(args) != 1:
        return None
    if re.search(r"\bSELECT\b", args[0], re.IGNORECASE):
        # Spark rejects subquery expressions anywhere inside a
        # higher-order function — fall back to the null-dropping
        # native collect for subquery-bearing args
        return None
    om = re.search(r"\bORDER\s+BY\b", args[0], re.IGNORECASE)
    if om:
        # array_agg(x ORDER BY k...) — sort collected (keys, value)
        # structs, then project the value; single-direction keys only
        expr = args[0][:om.start()].strip()
        keys, descs = [], []
        for k in _split_top_level(args[0][om.end():].strip()):
            k = k.strip()
            descs.append(bool(re.search(r"\bdesc$", k,
                                        re.IGNORECASE)))
            keys.append(re.sub(r"\s+(?:asc|desc)$", "", k,
                               flags=re.IGNORECASE))
        if len(set(descs)) > 1 or re.match(r"^\s*DISTINCT\b", expr,
                                           re.IGNORECASE):
            return None
        ns = ", ".join(f"'k{i}', {k}" for i, k in enumerate(keys))
        core = (f"transform(\0array_sort\0(\0collect_list\0("
                f"\0named_struct\0({ns}, 'v', \0named_struct\0("
                f"'x', {expr})))), __s -> __s.v.x)")
        return f"\0reverse\0({core})" if descs[0] else core
    dm = re.match(r"^\s*DISTINCT\s+(.*)$", args[0],
                  re.IGNORECASE | re.DOTALL)
    x = dm.group(1) if dm else args[0]
    core = (f"transform(\0collect_list\0(\0named_struct\0"
            f"('v', {x})), s -> s.v)")
    return f"array_distinct({core})" if dm else core


def _rw_array_agg_over(args: list[str], over: str | None):
    """array_agg over a WINDOW (BE window.h: array_agg as a window
    function, incl. DISTINCT and ORDER BY forms — Spark supports
    neither natively). Desugars:
    - array_agg(x) OVER w            → null-preserving collect_list
    - array_agg(DISTINCT x) OVER w   → collect_list + array_distinct
      (outside the window, so one NULL survives like the reference)
    - array_agg(x ORDER BY k) OVER w → sort collected (key, value)
      structs, project the value.
    Without OVER, defers to the plain _rw_array_agg rules."""
    if over is None:
        return _rw_array_agg(args)
    if len(args) != 1 or re.search(r"\bSELECT\b", args[0],
                                   re.IGNORECASE):
        return None
    a0 = args[0]
    w = f" OVER ({over})"
    om = re.search(r"\bORDER\s+BY\b", a0, re.IGNORECASE)
    dm = re.match(r"^\s*DISTINCT\s+(.*)$", a0,
                  re.IGNORECASE | re.DOTALL)
    if om:
        expr = a0[:om.start()].strip()
        if re.match(r"^\s*DISTINCT\b", expr, re.IGNORECASE):
            return None
        keys, descs = [], []
        for k in _split_top_level(a0[om.end():].strip()):
            k = k.strip()
            descs.append(bool(re.search(r"\bdesc$", k,
                                        re.IGNORECASE)))
            keys.append(re.sub(r"\s+(?:asc|desc)$", "", k,
                               flags=re.IGNORECASE))
        if len(set(descs)) > 1:
            return None
        ns = ", ".join(f"'k{i}', {k}" for i, k in enumerate(keys))
        core = (f"transform(\0array_sort\0(\0collect_list\0("
                f"\0named_struct\0({ns}, 'v', \0named_struct\0("
                f"'x', {expr}))){w}), __s -> __s.v.x)")
        return f"\0reverse\0({core})" if descs[0] else core
    if dm:
        return (f"transform(array_distinct(\0collect_list\0("
                f"\0named_struct\0('v', {dm.group(1)})){w}), "
                f"s -> s.v)")
    return (f"transform(\0collect_list\0(\0named_struct\0"
            f"('v', {a0})){w}, s -> s.v)")


def _dw_scale_in(arg: str) -> int | None:
    """Decimal scale of a DISTINCT-agg argument (explicit cast),
    shared by the framed and unbounded desugars. The sqltester's
    int-overflow guard rewrites CAST(x AS BIGINT) into a CASE
    carrying TRY_CAST(... AS DECIMAL(38,0)) comparisons — its ELSE
    branch holds the TRUE target type, so an int-family ELSE wins
    over any decimal text in the guard."""
    guard_int = re.search(
        r"ELSE\s+TRY_CAST\s*\(.*?\bAS\s+(?:big|small|tiny)?int\b",
        arg, re.IGNORECASE | re.DOTALL)
    tmx = None if guard_int else re.search(
        r"\bAS\s+DECIMAL\s*\(\s*\d+\s*,\s*(\d+)\s*\)",
        arg, re.IGNORECASE)
    s = int(tmx.group(1)) if tmx else None
    # scale-0 decimal = LARGEINT's mapped type — integer family
    return None if s == 0 else s


def _exact_avg_render(sum_expr: str, cnt_expr: str, s_in: int) -> str:
    """EXACT decimal division (a double intermediate mangles digits
    beyond ~16): (27,s)/(10,0) divides losslessly at scale >= 17 and
    its result type fits precision 38 even under
    allowPrecisionLoss=false (27-s + max(6, s+11) = 38), then rounds
    half-up to the reference's render scale (sum keeps s capped at
    18, avg widens to s+6 capped at 18 — solved against the recorded
    fingerprints of test_distinct_aggregation_over_framed_window)."""
    s_sum = min(s_in, 18)
    s_out = min(s_in + 6, 18)
    return (f"CAST(CAST({sum_expr} AS DECIMAL(27,{s_sum})) / "
            f"CAST({cnt_expr} AS DECIMAL(10,0)) "
            f"AS DECIMAL(38,{s_out}))")


def _int_avg_render(sum_expr: str, cnt_expr: str) -> str:
    """avg over the integer family: the reference computes at DECIMAL
    scale 6 and renders with trailing zeros stripped — exactly a
    DOUBLE render of the 6-digit rounding. (27,6) keeps the division
    type within precision 38 under allowPrecisionLoss=false."""
    return (f"CAST(CAST(CAST({sum_expr} AS DECIMAL(27,6)) / "
            f"CAST({cnt_expr} AS DECIMAL(10,0)) "
            f"AS DECIMAL(38,6)) AS DOUBLE)")


def _paren_span(text: str, i: int) -> tuple[str | None, int]:
    """``text[i]`` is '(': return (inner text, index past the close),
    quote-aware. (None, i) when unbalanced."""
    depth, j, n = 0, i, len(text)
    while j < n:
        ch = text[j]
        if ch in ("'", '"'):
            j = skip_quoted(text, j)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return text[i + 1:j], j + 1
        j += 1
    return None, i


def _kw_pos(text: str, kw: str, start: int = 0) -> int:
    """First top-level (paren-depth-0, unquoted) position of keyword
    ``kw`` in text, or -1."""
    depth, i, n = 0, start, len(text)
    kl = len(kw)
    while i < n:
        ch = text[i]
        if ch in ("'", '"'):
            i = skip_quoted(text, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (depth == 0 and text[i:i + kl].upper() == kw.upper()
              and (i == 0 or not (text[i - 1].isalnum()
                                  or text[i - 1] == "_"))
              and (i + kl >= n or not (text[i + kl].isalnum()
                                       or text[i + kl] == "_"))):
            return i
        i += 1
    return -1


def _find_distinct_over_unbounded(sql: str):
    """First ``count|sum|avg(DISTINCT x) OVER (...)`` call whose
    window state is UNBOUNDED: partition-only windows, and running
    (ORDER BY) windows with the default or an explicit
    ``UNBOUNDED PRECEDING .. CURRENT ROW|UNBOUNDED FOLLOWING``
    frame. Returns (start, end, fname, arg, over_inner) or None.
    Only explicitly bounded ``BETWEEN n PRECEDING ...`` frames are
    left to the set-based desugar (their state is bounded by the
    frame length)."""
    for m in re.finditer(r"\b(count|sum|avg)\s*\(", sql, re.IGNORECASE):
        arg, after = _paren_span(sql, m.end() - 1)
        if arg is None:
            continue
        dm = re.match(r"\s*DISTINCT\b(.*)$", arg,
                      re.IGNORECASE | re.DOTALL)
        if not dm:
            continue
        om = re.match(r"\s*OVER\s*\(", sql[after:], re.IGNORECASE)
        if not om:
            continue
        over, oafter = _paren_span(sql, after + om.end() - 1)
        if over is None:
            continue
        fm = re.search(r"\b(ROWS|RANGE)\b", over, re.IGNORECASE)
        if fm and not re.match(
                r"\s*(?:BETWEEN\s+)?UNBOUNDED\s+PRECEDING"
                r"(?:\s+AND\s+(?:CURRENT\s+ROW"
                r"|UNBOUNDED\s+FOLLOWING))?\s*$",
                over[fm.end():], re.IGNORECASE):
            continue
        return (m.start(), oafter, m.group(1).lower(),
                dm.group(1).strip(), over.strip())
    return None


def _split_over(ov: str) -> tuple[str, str, str]:
    """(partition_exprs, order_exprs, frame_clause) from an OVER
    body — each '' when absent; exprs verbatim (ASC/DESC kept)."""
    op = _kw_pos(ov, "ORDER")
    fps = [p for p in (_kw_pos(ov, "ROWS"), _kw_pos(ov, "RANGE"))
           if p >= 0]
    fp = min(fps) if fps else -1
    end_p = op if op >= 0 else (fp if fp >= 0 else len(ov))
    pm = re.match(r"\s*PARTITION\s+BY\s+(.*)$", ov[:end_p],
                  re.IGNORECASE | re.DOTALL)
    part = pm.group(1).strip() if pm else ""
    order = ""
    if op >= 0:
        oend = fp if fp >= 0 else len(ov)
        om = re.match(r"\s*ORDER\s+BY\s+(.*)$", ov[op:oend],
                      re.IGNORECASE | re.DOTALL)
        order = om.group(1).strip() if om else ""
    frame = ov[fp:].strip() if fp >= 0 else ""
    return part, order, frame


def _owner_select_pos(sql: str, pos: int) -> tuple[int, int]:
    """(index of the SELECT owning position ``pos``, its paren
    depth) — the nearest preceding SELECT at pos's depth."""
    depth, i = 0, 0
    sel_at: dict[int, int] = {}
    while i < pos:
        ch = sql[i]
        if ch in ("'", '"'):
            i = skip_quoted(sql, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            sel_at.pop(depth, None)
            depth -= 1
        elif (sql[i:i + 6].upper() == "SELECT"
              and (i == 0 or not (sql[i - 1].isalnum()
                                  or sql[i - 1] == "_"))
              and not (sql[i + 6:i + 7].isalnum()
                       or sql[i + 6:i + 7] == "_")):
            sel_at[depth] = i
        i += 1
    return sel_at.get(depth, -1), depth


def _select_block_end(sql: str, owner: int, depth: int) -> int:
    """End of the SELECT block starting at ``owner``: the close-paren
    that drops below its depth, or a same-depth set-op keyword, or
    end of text."""
    d, i, n = 0, owner, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):
            i = skip_quoted(sql, i)
            continue
        if ch == "(":
            d += 1
        elif ch == ")":
            if d == 0:
                return i
            d -= 1
        elif d == 0 and i > owner:
            for kw in ("UNION", "EXCEPT", "INTERSECT"):
                if (sql[i:i + len(kw)].upper() == kw
                        and not (sql[i - 1].isalnum()
                                 or sql[i - 1] == "_")):
                    return i
        i += 1
    return n


def _dw_replace_calls(text: str, helpers: dict) -> str:
    """Rewrite every qualifying DISTINCT-over call in ``text`` into a
    first-occurrence-marker aggregate, registering marker definitions
    in ``helpers`` keyed by (arg, over)."""
    while True:
        h = _find_distinct_over_unbounded(text)
        if h is None:
            return text
        s0, e0, fn, x, ov = h
        pkey = (x.lower(), ov.lower())
        if pkey not in helpers:
            hn = f"__dw{len(helpers)}"
            plist_s, order_s, _ = _split_over(ov)
            plist = ((plist_s + ", ") if plist_s else "") + x
            # running (ORDER BY) windows mark each value's first
            # occurrence in window order; with the outer window's
            # default RANGE frame a peer carrying the marker is in
            # every peer row's frame, so ties resolve exactly as the
            # reference's O(1)-per-row removable-cumulative state
            # (be/src/exprs/agg/window.h)
            helpers[pkey] = (
                hn, f"row_number() OVER (PARTITION BY {plist} "
                    f"ORDER BY {order_s or x}) AS {hn}")
        hn = helpers[pkey][0]
        ow = f" OVER ({ov})"
        first = f"CASE WHEN {hn} = 1 THEN ({x}) END"
        # \0-marked sums: the later set-based desugar pass must not
        # re-match these (the CASE text can contain the original
        # DECIMAL cast, which would trigger its scale renders)
        cnt = (f"\0sum\0(CASE WHEN {hn} = 1 AND ({x}) IS NOT NULL "
               f"THEN 1 END){ow}")
        s_in = _dw_scale_in(x)
        is_float = re.search(r"\bAS\s+(FLOAT|DOUBLE)\b", x,
                             re.IGNORECASE)
        if fn == "count":
            rep = f"coalesce({cnt}, 0)"
        elif fn == "sum":
            if s_in is not None:
                acc_s = min(s_in, 18)
                rep = (f"CAST(\0sum\0(CAST({first} AS "
                       f"DECIMAL(37,{acc_s}))){ow} "
                       f"AS DECIMAL(38,{acc_s}))")
            elif is_float:
                rep = f"\0sum\0(CAST({first} AS DOUBLE)){ow}"
            else:
                rep = f"\0sum\0(CAST({first} AS BIGINT)){ow}"
        else:  # avg
            if s_in is not None:
                acc_s = min(s_in, 18)
                ssum = (f"\0sum\0(CAST({first} AS "
                        f"DECIMAL(37,{acc_s}))){ow}")
                rep = _exact_avg_render(ssum, cnt, s_in)
            elif is_float:
                rep = (f"(\0sum\0(CAST({first} AS DOUBLE)){ow} "
                       f"/ {cnt})")
            else:
                ssum = f"\0sum\0(CAST({first} AS BIGINT)){ow}"
                rep = _int_avg_render(ssum, cnt)
        text = text[:s0] + rep + text[e0:]


def _rw_distinct_over_unbounded(sql: str) -> str:
    """DISTINCT aggregates over an UNBOUNDED window (no ORDER BY, no
    frame — the whole partition, test_distinct_aggregation_over_
    window_without_sliding_frame). The expression-level desugar
    (collect_set over the frame) writes the partition's distinct set
    into EVERY output row — O(n*d) bytes per partition, quadratic
    when d~n — where the reference's window state is O(1)-per-row
    (be/src/exprs/agg/window.h). Restructure instead: an inner
    projection marks each (partition, value) pair's first occurrence
    with row_number(), the outer window SUMS the markers — scalar
    state only, safe at any partition size. Framed (sliding) windows
    keep the set-based desugar: their state is bounded by the frame
    length."""
    for _ in range(16):
        hit = _find_distinct_over_unbounded(sql)
        if hit is None:
            return sql
        owner, depth = _owner_select_pos(sql, hit[0])
        if owner < 0:
            return sql
        end = _select_block_end(sql, owner, depth)
        block = sql[owner:end]
        fp = _kw_pos(block, "FROM")
        if fp < 0 or _kw_pos(block, "GROUP") >= 0:
            return sql
        sel = block[len("SELECT"):fp]
        rest = block[fp:]
        tps = [p for p in (_kw_pos(rest, "ORDER"),
                           _kw_pos(rest, "LIMIT")) if p >= 0]
        tp = min(tps) if tps else -1
        body, tail = ((rest, "") if tp < 0
                      else (rest[:tp], " " + rest[tp:]))
        helpers: dict = {}
        new_sel = _dw_replace_calls(sel, helpers)
        if not helpers:
            return sql
        hdefs = ", ".join(d for _, d in helpers.values())
        new_block = (f"SELECT {new_sel.strip()} FROM (SELECT *, "
                     f"{hdefs} {body.strip()}) __dwsrc{tail}")
        sql = sql[:owner] + new_block + sql[end:]
    return sql


def _binfmt(arg: str | None) -> str:
    """to_binary/from_binary format argument: quoted or bare
    identifier, case-insensitive; default hex
    (be binary_functions.cpp)."""
    if arg is None:
        return "hex"
    return arg.strip().strip("'\"").lower()


def _rw_to_binary(args: list[str]) -> str | None:
    """to_binary(str[, fmt]) — hex (strictly validated, EMPTY binary
    on bad input), base64 (NULL on empty, EMPTY on invalid), utf8."""
    if not args or len(args) > 2:
        return None
    s = args[0]
    fmt = _binfmt(args[1] if len(args) > 1 else None)
    if fmt == "hex":
        return (f"CASE WHEN ({s}) IS NULL THEN CAST(NULL AS BINARY) "
                f"WHEN ({s}) RLIKE '^([0-9a-fA-F]{{2}})*$' "
                f"THEN unhex({s}) ELSE CAST('' AS BINARY) END")
    if fmt == "encode64":
        return (f"CASE WHEN ({s}) IS NULL THEN CAST(NULL AS BINARY) "
                f"WHEN ({s}) = '' THEN CAST(NULL AS BINARY) "
                f"WHEN ({s}) RLIKE '^(?:[A-Za-z0-9+/]{{4}})*"
                f"(?:[A-Za-z0-9+/]{{2}}==|[A-Za-z0-9+/]{{3}}=)?$' "
                f"THEN unbase64({s}) ELSE CAST('' AS BINARY) END")
    if fmt == "utf8":
        return f"CAST(({s}) AS BINARY)"
    return None


def _rw_from_binary(args: list[str]) -> str | None:
    """from_binary(bin[, fmt]) — hex (uppercase), encode64, utf8."""
    if not args or len(args) > 2:
        return None
    b = args[0]
    fmt = _binfmt(args[1] if len(args) > 1 else None)
    if fmt == "hex":
        return f"hex({b})"
    if fmt == "encode64":
        return f"base64({b})"
    if fmt == "utf8":
        return f"CAST(({b}) AS STRING)"
    return None


#: get_variant_<t>(variant, path) → Spark variant_get target types
_VARIANT_GETS = {
    "get_variant_bool": "boolean", "get_variant_int": "bigint",
    "get_variant_bigint": "bigint", "get_variant_double": "double",
    "get_variant_float": "float", "get_variant_string": "string",
    "get_variant_date": "date", "get_variant_datetime": "timestamp",
}


def _rw_get_variant(t: str):
    def fn(args: list[str]) -> str | None:
        if len(args) != 2:
            return None
        return f"variant_get({args[0]}, {args[1]}, '{t}')"
    return fn


def _rw_get_variant_time(args: list[str]) -> str | None:
    # Spark's variant has no TIME member; round-trip via string
    if len(args) != 2:
        return None
    return (f"CAST(variant_get({args[0]}, {args[1]}, 'string') "
            f"AS TIME)")


# variant-to-variant comparisons (the reference's variant is
# comparable; Spark's VariantType has no ordering) — compare the
# canonical JSON renders instead
_VARIANT_CMP_RE = re.compile(
    r"((?:TRY_)?CAST\s*\((?:[^()]|\([^()]*\))*?AS\s+VARIANT\s*\))\s*"
    r"(<=>|!=|<>|=)\s*"
    r"((?:TRY_)?CAST\s*\((?:[^()]|\([^()]*\))*?AS\s+VARIANT\s*\))",
    re.IGNORECASE)


def _rw_cast_variant(args: list[str]) -> str | None:
    """CAST(x AS VARIANT) forms Spark's native cast refuses:
    composites (incl. from_json results and typed-literal casts) go
    through parse_json(to_json(x)) — the same variant value the
    reference builds — and TIME hops through a string. Also handles
    CAST(<variant> AS JSON) (space-after-comma render)."""
    if len(args) != 1:
        return None
    jm = re.match(r"^(.*\bVARIANT\b.*?)\s+AS\s+JSON\s*$", args[0],
                  re.IGNORECASE | re.DOTALL)
    if jm:
        # the reference's JSON render: space after ',' and after ':'
        return (f"regexp_replace(regexp_replace("
                f"CAST(({jm.group(1).strip()}) AS STRING), "
                f"',', ', '), '\":', '\": ')")
    m = re.match(r"^(.*?)\s+AS\s+VARIANT\s*$", args[0],
                 re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    op = m.group(1).strip()
    if re.match(r"^\x00?from_json\x00?\s*\(", op, re.IGNORECASE):
        return (f"parse_json(to_json({op}, "
                f"map('ignoreNullFields', 'false')))")
    if re.match(r"^(\x00?(?:map|named_struct|row|array|struct)"
                r"\x00?\s*[({\[<]|\[)", op, re.IGNORECASE) \
            or re.search(r"\bAS\s+(?:ARRAY|MAP|STRUCT)\s*<.*>\s*\)\s*$",
                         op, re.IGNORECASE | re.DOTALL):
        # ignoreNullFields=false: the reference's variant KEEPS null
        # struct/object fields ({"col1":null})
        return (f"parse_json(to_json({op}, "
                f"map('ignoreNullFields', 'false')))")
    if re.search(r"\bAS\s+TIME\s*\)\s*$", op, re.IGNORECASE):
        return f"CAST(CAST({op} AS STRING) AS VARIANT)"
    return None


def _rw_ngram_search(ci: bool):
    """ngram_search[_case_insensitive](haystack, needle, n)
    (be exprs/ngram.cpp:548): 1 - misses/needle_gram_count with
    MULTISET gram counting over overlapping character n-grams.
    Literal needles expand their gram table at rewrite time."""
    def fn(args: list[str]) -> str | None:
        if len(args) != 3:
            return None
        h = args[0]
        nm = re.match(r"^\s*(['\"])(.*)\1\s*$", args[1], re.DOTALL)
        gm = re.match(r"^\s*(\d+)\s*$", args[2])
        if not gm:
            return None
        if not nm:
            # non-constant needle: fully dynamic gram multisets
            n = int(gm.group(1))
            hx = f"lower({h})" if ci else f"({h})"
            nx = f"lower({args[1]})" if ci else f"({args[1]})"

            def gs(e: str) -> str:
                return (f"IF(length({e}) >= {n}, transform("
                        f"sequence(1, length({e}) - {n} + 1), "
                        f"__i -> substring({e}, __i, {n})), "
                        f"CAST(array() AS ARRAY<STRING>))")

            ng, hg = gs(nx), gs(hx)
            return (
                f"CAST(IF(({h}) IS NULL OR ({args[1]}) IS NULL, NULL,"
                f" 1.0 - aggregate(array_distinct({ng}), "
                f"CAST(0 AS DOUBLE), (__a, __g) -> __a + "
                f"GREATEST(size(filter({ng}, __x -> __x = __g)) - "
                f"size(filter({hg}, __y -> __y = __g)), 0)) / "
                f"GREATEST(size({ng}), 1)) AS FLOAT)")
        nd = nm.group(2)
        if ci:
            nd = nd.lower()
        n = int(gm.group(1))
        grams: dict[str, int] = {}
        for i in range(max(len(nd) - n + 1, 0)):
            g = nd[i:i + n]
            grams[g] = grams.get(g, 0) + 1
        total = sum(grams.values())
        hx = f"lower({h})" if ci else f"({h})"
        if not grams:
            return (f"IF(({h}) IS NULL, CAST(NULL AS FLOAT), "
                    f"CAST(1.0 AS FLOAT))")
        miss = []
        for g, c in grams.items():
            ge = g.replace("'", "''")
            cnt = (f"IF(length({hx}) >= {n}, size(filter("
                   f"sequence(1, length({hx}) - {n} + 1), "
                   f"__i -> substring({hx}, __i, {n}) = '{ge}')), 0)")
            miss.append(f"GREATEST({c} - {cnt}, 0)")
        # NULL haystack → NULL (ngram.cpp union_nullable_column),
        # not 0.0 from the IF(length(...) >= n, ..., 0) fallthrough.
        return (f"IF(({h}) IS NULL, CAST(NULL AS FLOAT), "
                f"CAST(1.0 - ({' + '.join(miss)}) / {total} "
                f"AS FLOAT))")
    return fn


def _rw_map_agg(args: list[str], over=None) -> str | None:
    """map_agg(k, v) (be map_agg.h): one map per group, NULL keys
    skipped, first occurrence wins on duplicate keys."""
    if len(args) != 2 or over is not None:
        return None
    k, v = args[0], args[1]
    ent = (f"\0collect_list\0(CASE WHEN ({k}) IS NOT NULL THEN "
           f"\0named_struct\0('k', ({k}), 'v', ({v})) END)")
    return (f"map_from_entries(filter({ent}, (__e, __i) -> "
            f"NOT exists(slice({ent}, 1, __i), "
            f"__p -> __p.k <=> __e.k)))")


def _rw_url_extract_parameter(args: list[str]) -> str | None:
    """url_extract_parameter(url, name) (be url_functions.cpp):
    first query parameter named exactly ``name`` — '' when present
    without '=', NULL when absent or the URL is malformed (a raw
    space invalidates the whole URI), %XX-decoded value otherwise."""
    if len(args) != 2:
        return None
    u, k = args[0], args[1]
    q = f"parse_url({u}, 'QUERY')"
    arr = (f"filter(transform(split({q}, '&'), __p -> CASE "
           f"WHEN __p = ({k}) THEN '' "
           f"WHEN startswith(__p, concat(({k}), '=')) "
           f"THEN substring(__p, length(({k})) + 2) END), "
           f"__x -> __x IS NOT NULL)")
    first = f"try_element_at({arr}, 1)"
    return (f"CASE WHEN {first} IS NULL THEN NULL "
            f"WHEN {first} = '' THEN '' "
            f"ELSE reflect('java.net.URLDecoder', 'decode', {first}, "
            f"'UTF-8') END")


def _rw_round_single(args: list[str]) -> str | None:
    """round(x) with one argument: BIGINT result via a DOUBLE hop
    (be math_functions.cpp round). Arguments that mention decimals
    keep Spark's decimal round — the reference's decimal overload
    returns DECIMAL(p,0) with the same render."""
    if len(args) != 1:
        return None
    a = args[0]
    if re.search(r"DECIMAL", a, re.IGNORECASE) \
            or re.search(r"(?<![\w.])\d+\.\d+", a):
        return None
    return f"CAST(\0round\0(CAST(({a}) AS DOUBLE)) AS BIGINT)"


def _rw_distinct_agg_over(name: str):
    """DISTINCT scalar aggregates over a window (Spark rejects
    DISTINCT in window functions; the reference evaluates them —
    test_distinct_aggregation_over_*_window). Desugar over the
    frame's distinct set: count → size(collect_set), sum/avg →
    aggregate() over collect_set (DOUBLE accumulator), min/max →
    DISTINCT dropped (identical semantics)."""
    def fn(args, over):
        if over is None or len(args) != 1:
            return None
        dm = re.match(r"^\s*DISTINCT\s+(.*)$", args[0],
                      re.IGNORECASE | re.DOTALL)
        w = f" OVER ({over})"
        # result scales: sum keeps s capped at 18 (decimal128 sum
        # render), avg widens to s+6 capped at 18 — both solved
        # empirically against the recorded fingerprints of
        # test_distinct_aggregation_over_framed_window (s=2 → avg
        # scale 8; s=19 → sum and avg scale 18)
        s_in = _dw_scale_in(args[0] if args else "")
        fp_arg = args[0] if args else ""
        is_float = re.search(r"\bAS\s+(FLOAT|DOUBLE)\b", fp_arg,
                             re.IGNORECASE)
        if not dm:
            if name == "avg" and s_in is not None:
                return _exact_avg_render(f"\0sum\0({args[0]}){w}",
                                         f"\0count\0({args[0]}){w}",
                                         s_in)
            # non-distinct integer avg stays plain: Spark's DOUBLE
            # avg matches the reference render (recorded
            # test_distinct_aggregation_over_window_without_sliding_
            # frame mixed statements)
            if s_in is None:
                return None
            # plain sum over a wide-scale DECIMAL window: Spark keeps
            # scale s; the reference renders capped at 18
            if name == "sum" and s_in > 18:
                return f"CAST(\0sum\0({args[0]}){w} AS DECIMAL(38,18))"
            return None
        x = dm.group(1)
        if name in ("min", "max"):
            return f"\0{name}\0({x}){w}"
        if name == "count":
            return f"size(\0collect_set\0({x}){w})"
        # integer-family args sum as BIGINT (sum_types.h)
        acc = (f"DECIMAL(37,{min(s_in, 18)})" if s_in is not None
               else "BIGINT")
        cs = f"\0collect_set\0(CAST({x} AS {acc})){w}"
        ssum = (f"aggregate({cs}, CAST(NULL AS {acc}), "
                f"(__a, __e) -> CAST(coalesce(__a, 0) + __e "
                f"AS {acc}))")
        if name == "sum":
            if s_in is not None:
                return (f"CAST({ssum} AS "
                        f"DECIMAL(38,{min(s_in, 18)}))")
            return ssum
        if s_in is not None:
            return _exact_avg_render(ssum, f"size({cs})", s_in)
        if not is_float:
            return _int_avg_render(ssum, f"size({cs})")
        return f"(CAST({ssum} AS DOUBLE) / size({cs}))"
    return fn


# ---------------------------------------------------------------------------
# Pure-SQL MurmurHash3_x86_32 twin (JVM-side, lambda-safe)
# ---------------------------------------------------------------------------

_M32 = 4294967295


def _mul32(a: str, b: int) -> str:
    """Low 32 bits of ``a * b`` without 64-bit overflow (a < 2^32):
    16×32 split keeps every intermediate under 2^49."""
    return (f"((((({a}) & 65535) * {b}) + "
            f"((((shiftright(({a}), 16)) & 65535) * {b}) & 65535) "
            f"* 65536) & {_M32})")


def _rotl32(x: str, r: int) -> str:
    return (f"((shiftleft(({x}), {r}) | shiftright(({x}), {32 - r}))"
            f" & {_M32})")


def mmh3_sql(sexpr: str, seed: str) -> str:
    """MurmurHash3_x86_32 of CAST(sexpr AS STRING)'s UTF-8 bytes as a
    pure Spark-SQL expression (signed 32-bit result) — value-identical
    to functions/mmh3.py's pandas UDF but evaluable INSIDE lambda
    functions (Spark rejects Python UDFs there:
    LAMBDA_FUNCTION_WITH_PYTHON_UDF), which the reference's
    fingerprint suites need (array_map(x -> murmur_hash3_32(...))).

    Mechanics: true byte access via encode→substring→ISO-8859-1
    decode→ascii (exact for any UTF-8 input); the 4-byte block loop is
    ``aggregate`` over ``sequence``; the k-mix and h-mix chains hop
    through one-element ``aggregate`` calls so repeated references are
    lambda VARIABLES, not textual copies (keeps the expression ~8 KB
    instead of exponential). All arithmetic stays below 2^49, so ANSI
    BIGINT never overflows. Chained seeds compose linearly (the seed
    is referenced once, in the fold's start position)."""
    # StarRocks' float/double→varchar is C++ shortest-repr: WHOLE
    # values print without the trailing .0 ('4', not Java's '4.0') —
    # type-gated so decimal renders ('4.0' at scale 1) stay intact
    raw = f"CAST(({sexpr}) AS STRING)"
    rnd = (f"IF(typeof({sexpr}) IN ('float', 'double'), "
           f"\0regexp_replace\0({raw}, '^(-?[0-9]+)\\\\.0$', "
           f"'$1'), {raw})")
    b = f"encode({rnd}, 'utf-8')"
    n = f"length({b})"

    def byte(pos: str) -> str:
        # bytes past the end read as 0 (ascii('') = 0) — exactly what
        # the tail mix needs
        return (f"ascii(decode(substring({b}, {pos}, 1), "
                f"'ISO-8859-1'))")

    k0 = (f"(CAST({byte('4 * __b - 3')} AS BIGINT) | "
          f"shiftleft({byte('4 * __b - 2')}, 8) | "
          f"shiftleft({byte('4 * __b - 1')}, 16) | "
          f"shiftleft({byte('4 * __b')}, 24))")
    kmix = _mul32(_rotl32(_mul32("__k", 0xCC9E2D51), 15), 0x1B873593)
    hmix = (f"(({_rotl32('(__h ^ __kk)', 13)} * 5 + 3864292196) "
            f"& {_M32})")
    block = (f"aggregate(array(1), {k0}, "
             f"(__k, __z1) -> {kmix}, __k2 -> "
             f"aggregate(array(1), __k2, (__kk, __z2) -> {hmix}))")
    blocks = (f"aggregate(IF({n} >= 4, sequence(1, {n} div 4), "
              # mask the seed to unsigned-32: chained
              # murmur_hash3_32(a, b) feeds a SIGNED result back in,
              # and an unmasked negative seed sign-extends through
              # shiftright inside _rotl32 (wrong hash whenever the
              # second arg is >= 4 bytes)
              f"array()), (CAST(({seed}) AS BIGINT) & {_M32}), "
              f"(__h, __b) -> {block})")
    base = f"(({n} div 4) * 4)"
    kt0 = (f"(CAST({byte(base + ' + 1')} AS BIGINT) | "
           f"shiftleft({byte(base + ' + 2')}, 8) | "
           f"shiftleft({byte(base + ' + 3')}, 16))")
    ktmix = _mul32(_rotl32(_mul32("__kt", 0xCC9E2D51), 15),
                   0x1B873593)
    # __kt = 0 (no tail bytes) mixes to 0 and h ^ 0 = h — a no-op,
    # so the tail hop needs no length CASE
    tail = (f"aggregate(array(1), {blocks}, (__h, __z3) -> "
            f"aggregate(array(1), {kt0}, "
            f"(__kt, __z4) -> {ktmix}, __kt2 -> (__h ^ __kt2)))")
    f1 = f"((__h ^ {n}) & {_M32})"
    f2 = f"(({f1}) ^ shiftright({f1}, 16))"
    f3 = _mul32(f2, 0x85EBCA6B)
    f4 = f"(({f3}) ^ shiftright({f3}, 13))"
    f5 = _mul32(f4, 0xC2B2AE35)
    f6 = f"(({f5}) ^ shiftright({f5}, 16))"
    # BIGINT result (holding the signed-32 value): the reference
    # promotes int32 arithmetic, so row-level murmur+murmur additions
    # in its fingerprint suites are exact — an INT result here would
    # wrap at 2^31
    fin = (f"aggregate(array(1), {tail}, (__h, __z5) -> {f6}, "
           f"__f -> IF(__f >= 2147483648, __f - 4294967296, __f))")
    return f"IF(({sexpr}) IS NULL, CAST(NULL AS BIGINT), {fin})"


# ---------------------------------------------------------------------------
# BITMAP SQL surface: bitmaps as sorted-distinct ARRAY<BIGINT>
# (be/src/types/bitmap_value.h; value semantics from the recorded
# test_bitmap_functions R files). The unsigned-64 top half beyond
# BIGINT is a documented cap (same class as LARGEINT).
# ---------------------------------------------------------------------------

_EMPTY_BM = "CAST(array() AS ARRAY<BIGINT>)"

# sql_mode ALLOW_THROW_EXCEPTION: deserialization failures raise
# instead of returning NULL (the script runner flips this on
# SET sql_mode=...; plain sessions keep the NULL default)
BITMAP_THROW_MODE = False

#: sql_mode GROUP_CONCAT_LEGACY — group_concat's default separator
#: becomes the pre-3.0 ', ' (fe SqlModeHelper)
GROUP_CONCAT_LEGACY = False

# sql_mode ALLOW_THROW_EXCEPTION: str_to_date/str2date raise the
# reference's 'Fail to parse date' on unparseable NON-NULL input
# instead of returning NULL (be time_functions.cpp throw path)
STRTODATE_THROW = False


def _rw_bitmap_from_string(a):
    if len(a) != 1:
        return None
    s0 = a[0]
    # empty tokens are skipped, not errors ('1,,2' → {1,2} — the
    # reference's parser ignores zero-length splits)
    parts = (f"filter(split({s0}, ','), "
             f"__p -> trim(__p) != '')")
    return (
        f"CASE WHEN ({s0}) IS NULL THEN NULL "
        f"WHEN size({parts}) = 0 THEN {_EMPTY_BM} "
        f"WHEN exists({parts}, __e -> TRY_CAST(trim(__e) AS BIGINT) "
        f"IS NULL OR TRY_CAST(trim(__e) AS BIGINT) < 0) THEN NULL "
        f"ELSE array_sort(array_distinct(transform({parts}, "
        f"__e -> CAST(trim(__e) AS BIGINT)))) END")


def _rw_to_bitmap(a):
    if len(a) != 1:
        return None
    x = a[0]
    return (f"IF(TRY_CAST({x} AS BIGINT) IS NULL OR "
            f"TRY_CAST({x} AS BIGINT) < 0, NULL, "
            f"array(CAST({x} AS BIGINT)))")


def _rw_sub_bitmap(a):
    if len(a) != 3:
        return None
    b, off, ln = a
    return (
        f"CASE WHEN ({b}) IS NULL OR size({b}) = 0 OR ({ln}) <= 0 "
        f"OR ({off}) >= size({b}) "
        f"OR (({off}) < 0 AND -({off}) > size({b})) THEN NULL "
        f"ELSE slice({b}, IF(({off}) >= 0, ({off}) + 1, ({off})), "
        f"({ln})) END")


def _rw_bitmap_subset_limit(a):
    if len(a) != 3:
        return None
    b, start, lim = a
    fge = f"filter({b}, __e -> __e >= ({start}))"
    fle = f"filter({b}, __e -> __e <= ({start}))"
    return (
        f"CASE WHEN ({b}) IS NULL OR size({b}) = 0 OR ({lim}) = 0 "
        f"THEN NULL "
        f"WHEN ({lim}) > 0 THEN IF(size({fge}) = 0, NULL, "
        f"slice({fge}, 1, ({lim}))) "
        f"ELSE IF(size({fle}) = 0, NULL, slice({fle}, "
        f"greatest(size({fle}) + ({lim}) + 1, 1), -({lim}))) END")


def _rw_bitmap_subset_in_range(a):
    if len(a) != 3:
        return None
    b, lo, hi = a
    fr = f"filter({b}, __e -> __e >= ({lo}) AND __e < ({hi}))"
    return (
        f"CASE WHEN ({b}) IS NULL OR size({b}) = 0 OR ({hi}) <= ({lo}) "
        f"THEN NULL ELSE IF(size({fr}) = 0, NULL, {fr}) END")


def _rw_tokenize(a):
    """tokenize(tokenizer, text) → ARRAY<VARCHAR> (inverted-index
    tokenizers, be/src/storage/inverted; recorded semantics from
    test_inverted_index/R/test_tokenize): english/standard lowercase
    and split on non-word runs (standard is unicode-aware), chinese
    emits overlapping CJK bigrams; NULL/'' → NULL."""
    if len(a) != 2:
        return None
    tk = a[0].strip().strip("'\"").lower()
    t = a[1]
    if tk == "chinese":
        return (f"IF(({t}) IS NULL OR ({t}) = '', NULL, "
                f"transform(sequence(1, greatest(char_length({t}) - 1,"
                f" 1)), __i -> substr({t}, __i, 2)))")
    pat = ("'[^a-z0-9]+'" if tk == "english"
           else "'[^\\\\p{L}\\\\p{N}]+'")
    return (f"IF(({t}) IS NULL OR ({t}) = '', NULL, "
            f"filter(\0split\0(lower({t}), {pat}), "
            f"__x -> __x != ''))")


def _rw_approx_l2(a):
    if len(a) != 2:
        return None
    return (f"sqrt(aggregate(zip_with({a[0]}, {a[1]}, "
            f"(__x, __y) -> (CAST(__x AS DOUBLE) - __y) * "
            f"(CAST(__x AS DOUBLE) - __y)), CAST(0 AS DOUBLE), "
            f"(__acc, __v) -> __acc + __v))")


def _rw_approx_cos(a):
    if len(a) != 2:
        return None
    def dot(x, y):
        return (f"aggregate(zip_with({x}, {y}, (__x, __y) -> "
                f"CAST(__x AS DOUBLE) * __y), CAST(0 AS DOUBLE), "
                f"(__acc, __v) -> __acc + __v)")
    return (f"({dot(a[0], a[1])}) / (sqrt({dot(a[0], a[0])}) * "
            f"sqrt({dot(a[1], a[1])}))")


_BITMAP_WRAPS = {
    # StarRocks array_sort places NULL elements FIRST (ascending,
    # nulls smallest — be sorting); Spark's array_sort puts them
    # last. sort_array(asc) has the reference's order. (Exposed when
    # the r8 multiset-fallback restriction made element order count.)
    "array_sort": lambda a: (f"sort_array({a[0]})"
                             if len(a) == 1 else None),
    # general aggregate forms over array-represented bitmaps (the
    # to_bitmap rewrite below runs before the legacy
    # bitmap_union_count(to_bitmap(x)) fast path, so the general
    # form must exist here)
    "bitmap_union_count": lambda a: (
        f"size(array_distinct(flatten(collect_list({a[0]}))))"
        if len(a) == 1 else None),
    "bitmap_from_string": _rw_bitmap_from_string,
    "to_bitmap": _rw_to_bitmap,
    "bitmap_empty": lambda a: _EMPTY_BM if not a or a == [""] else None,
    "bitmap_to_string": lambda a: (
        f"IF(({a[0]}) IS NULL, NULL, array_join({a[0]}, ','))"
        if len(a) == 1 else None),
    "bitmap_count": lambda a: (
        f"IF(({a[0]}) IS NULL, 0, size({a[0]}))"
        if len(a) == 1 else None),
    "bitmap_min": lambda a: (f"array_min({a[0]})"
                             if len(a) == 1 else None),
    "bitmap_max": lambda a: (f"array_max({a[0]})"
                             if len(a) == 1 else None),
    "bitmap_contains": lambda a: (
        f"array_contains({a[0]}, CAST({a[1]} AS BIGINT))"
        if len(a) == 2 else None),
    "bitmap_and": lambda a: (
        f"array_sort(array_intersect({a[0]}, {a[1]}))"
        if len(a) == 2 else None),
    "bitmap_or": lambda a: (
        f"array_sort(array_distinct(concat({a[0]}, {a[1]})))"
        if len(a) == 2 else None),
    "bitmap_xor": lambda a: (
        f"array_sort(concat(array_except({a[0]}, {a[1]}), "
        f"array_except({a[1]}, {a[0]})))"
        if len(a) == 2 else None),
    "bitmap_andnot": lambda a: (
        f"array_sort(array_except({a[0]}, {a[1]}))"
        if len(a) == 2 else None),
    "bitmap_remove": lambda a: (
        f"array_sort(array_except({a[0]}, "
        f"array(CAST({a[1]} AS BIGINT))))" if len(a) == 2 else None),
    "bitmap_has_any": lambda a: (
        f"arrays_overlap({a[0]}, {a[1]})" if len(a) == 2 else None),
    "sub_bitmap": _rw_sub_bitmap,
    "bitmap_subset_limit": _rw_bitmap_subset_limit,
    "bitmap_subset_in_range": _rw_bitmap_subset_in_range,
    # bitmap_to_array of NULL is an empty result set element-wise —
    # NULL array, which the unnest/TVF layer already drops
    "bitmap_to_array": lambda a: (f"({a[0]})"
                                  if len(a) == 1 else None),
    # aggregates over the array representation
    "bitmap_agg": lambda a: (
        f"array_sort(collect_set(CAST({a[0]} AS BIGINT)))"
        if len(a) == 1 else None),
    "bitmap_union": lambda a: (
        f"array_sort(array_distinct(flatten(collect_list({a[0]}))))"
        if len(a) == 1 else None),
    # serialized transport forms (functions/bitmap.py UDF pair)
    "bitmap_to_binary": lambda a: (
        f"\0__bitmap_to_binary\0({a[0]})" if len(a) == 1 else None),
    "bitmap_from_binary": lambda a: (
        f"\0__bitmap_from_binary\0({a[0]}, "
        f"{str(bool(BITMAP_THROW_MODE)).lower()})"
        if len(a) == 1 else None),
    # ANN distance names (VECTORINDEX path, tenann_index_reader.h;
    # exact formulas — the index ROUTING happens in the script runner)
    "approx_l2_distance": _rw_approx_l2,
    "approx_cosine_similarity": _rw_approx_cos,
    "tokenize": _rw_tokenize,
    "base64_to_bitmap": lambda a: (
        f"\0__b64_to_bitmap\0(CAST({a[0]} AS STRING), "
        f"{str(bool(BITMAP_THROW_MODE)).lower()})"
        if len(a) == 1 else None),
    "bitmap_to_base64": lambda a: (
        f"\0__bitmap_to_base64\0({a[0]})" if len(a) == 1 else None),
}


def _rw_murmur(args: list[str]):
    """murmur_hash3_32(a, b, ...) → chained two-arg UDF calls
    (functions/mmh3.py — seed 104729, previous hash seeds the next
    argument, NULL poisons the row, exactly hash_functions.cpp:24)."""
    if not args:
        return None
    # pure-SQL twin (mmh3_sql): value-identical to the __mmh3_32
    # pandas UDF, but JVM-evaluable inside lambda functions and free
    # of the Arrow round-trip. Chained args seed left-to-right.
    # Three-plus chained args nest the HOF expression deep enough to
    # exhaust the analyzer's Resolution iterations — those fall back
    # to the UDF chain (multi-arg murmur never appears inside the
    # suites' lambdas, so lambda-safety isn't needed there).
    if len(args) > 2:
        expr = "104729"
        for x in args:
            expr = f"\0__mmh3_32\0(CAST({x} AS STRING), {expr})"
        return expr
    expr = "104729"
    for x in args:
        expr = mmh3_sql(x, expr)
    return expr


_SIMPLE_WRAPS = {
    # StarRocks name → template over args
    "group_concat": _rw_group_concat,
    "murmur_hash3_32": _rw_murmur,
    # reference initcap capitalizes after ANY non-alphanumeric
    # (functions/strcase.py UDF; Spark's builtin splits on whitespace)
    "initcap": lambda a: (
        f"\0__sr_initcap\0(CAST({a[0]} AS STRING))"
        if len(a) == 1 else None
    ),
    # reference BOOLEAN is tinyint(1): the implicit bool→varchar cast
    # yields '1'/'0', so reverse(true) = '1' (boolean COLUMNS already
    # land as TINYINT via the tester's type mapping; this covers the
    # literal form, where Spark would cast to 'true'/'false')
    "reverse": lambda a: (
        {"true": "'1'", "false": "'0'"}.get(a[0].strip().lower())
        if len(a) == 1 else None
    ),
    # arrays_zip: col1..colN field names, longest-input padding
    "arrays_zip": lambda a: _rw_arrays_zip(a),
    # NULL search values: the reference matches null ELEMENTS
    # (array_functions.cpp array_contains/array_position); Spark's
    # builtins reject a NULL needle. position-of-absent is 0 in both.
    # not-found is FALSE even when the array holds nulls (no 3VL —
    # R test_array_fn: contains(['a',NULL,...], 1) = 0); NULL array
    # stays NULL; a NULL needle matches null ELEMENTS
    "array_contains": lambda a: (
        (f"exists({a[0]}, __e -> __e IS NULL)"
         if a[1].strip().upper() == "NULL" else
         f"CASE WHEN ({a[0]}) IS NULL THEN NULL ELSE "
         f"coalesce(\0array_contains\0({a[0]}, {a[1]}), false) END")
        if len(a) == 2 else None
    ),
    "array_position": lambda a: (
        f"\0array_position\0(transform({a[0]}, __e -> __e IS NULL), "
        f"true)"
        if len(a) == 2 and a[1].strip().upper() == "NULL" else None
    ),
    # subset / contiguous-subsequence tests (array_functions.cpp
    # array_contains_all / array_contains_seq); null elements match
    # null (<=>), empty needle is TRUE, NULL input is NULL
    "array_contains_all": lambda a: _rw_array_contains_all(a),
    "array_contains_seq": lambda a: (
        f"CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
        f"WHEN size({a[1]}) = 0 THEN true "
        f"WHEN size({a[0]}) < size({a[1]}) THEN false "
        f"ELSE exists(\0sequence\0(1, size({a[0]}) - size({a[1]}) + 1)"
        f", __s -> forall(\0sequence\0(1, size({a[1]})), __j -> "
        f"try_element_at({a[0]}, __s + __j - 1) <=> "
        f"try_element_at({a[1]}, __j))) END"
        if len(a) == 2 else None
    ),
    # greatest/least have no DATE overload in the reference
    # (FunctionSet) — DATE args coerce to DATETIME. Spark keeps DATE
    # when all args are dates; wrap when an arg is a visible date
    # constructor (column types aren't knowable textually — mixed
    # date/datetime args already promote in Spark).
    "greatest": lambda a: _rw_datefn_promote("greatest", a),
    "least": lambda a: _rw_datefn_promote("least", a),
    # typeof returns StarRocks type names (datetime/varchar, not
    # Spark's timestamp/string) — map inside nested type strings too
    "typeof": lambda a: (
        "replace(replace(\0typeof\0(" + a[0] + "), 'timestamp', "
        "'datetime'), 'string', 'varchar')" if len(a) == 1 else None
    ),
    # md5sum(a, b, ...) = md5 of all inputs concatenated, args
    # implicitly cast to varchar (encryption_functions.cpp md5sum)
    "md5sum": lambda a: (
        "md5(concat(" + ", ".join(f"CAST({x} AS STRING)" for x in a)
        + "))"
    ),
    "dayname": lambda a: f"\0date_format\0({a[0]}, 'EEEE')",
    "yearweek": _rw_yearweek,
    # convert_tz(dt, from, to): reinterpret dt from one zone into
    # another (be time_functions convert_tz) — via UTC round-trip
    "convert_tz": lambda a: (
        f"\0from_utc_timestamp\0(\0to_utc_timestamp\0("
        f"TRY_CAST({a[0]} AS TIMESTAMP), {a[1]}), {a[2]})"
        if len(a) == 3 else None
    ),
    "count_if": _rw_bool_coerce("count_if"),
    "string_agg": _rw_string_agg,
    # multi-arg GROUPING(a, b) is the bit-vector form — Spark names
    # that grouping_id (FunctionSet GROUPING_ID; same MSB-first order)
    "grouping": lambda a: (None if len(a) == 1 else
                           f"\0grouping_id\0({', '.join(a)})"),
    # single-pass multi-distinct aggregates are an execution detail
    # (be/src/exprs/agg/distinct.h) — semantics are DISTINCT aggs
    "multi_distinct_count": lambda a: f"count(DISTINCT {', '.join(a)})",
    "multi_distinct_sum": lambda a: f"sum(DISTINCT {a[0]})",
    "get_json_int": lambda a: (
        f"CAST(\0get_json_object\0({_jp(a)}) AS BIGINT)"),
    "get_json_double": lambda a: (
        f"CAST(\0get_json_object\0({_jp(a)}) AS DOUBLE)"),
    "get_json_string": lambda a: f"\0get_json_object\0({_jp(a)})",
    "monthname": lambda a: f"\0date_format\0({a[0]}, 'MMMM')",
    "money_format": lambda a: f"format_number(CAST({a[0]} AS DOUBLE), 2)",
    "curdate": lambda a: "current_date()",
    "utc_timestamp": lambda a: "current_timestamp()",
    "strleft": lambda a: f"left({', '.join(a)})",
    "strright": lambda a: f"right({', '.join(a)})",
    "adddate": _rw_int_date_arith("DAY", "+"),
    "subdate": _rw_int_date_arith("DAY", "-"),
    "days_add": _rw_int_date_arith("DAY", "+"),
    "days_sub": _rw_int_date_arith("DAY", "-"),
    "milliseconds_add": lambda a: (
        f"\0timestampadd\0(MILLISECOND, {a[1]}, {a[0]})"),
    "milliseconds_sub": lambda a: (
        f"\0timestampadd\0(MILLISECOND, -({a[1]}), {a[0]})"),
    "substr": _rw_substr("substr"),
    "substring": _rw_substr("substring"),
    "to_datetime": _rw_to_datetime(False),
    "to_datetime_ntz": _rw_to_datetime(True),
    "jodatime_format": lambda a: (
        f"\0__sr_joda_format\0(TRY_CAST({a[0]} AS TIMESTAMP), "
        f"{a[1]}, '{REF_SESSION_TZ}')" if len(a) == 2 else None),
    "time_slice": _rw_time_slice(False),
    "date_slice": _rw_time_slice(True),
    # yearweek with an explicit mode goes through the MySQL calc_week
    # UDF (functions/mysqlweek.py); 1-arg keeps the proven mode-0 SQL
    "materialize": lambda a: (f"({a[0]})" if len(a) == 1 else None),
    # HLL surface (functions/hllfn.py) — consumers first so nested
    # HLL-returning aggregates convert before the display-NULL pass
    "hll_cardinality": lambda a: (
        f"\0__sr_hll_cardinality\0({_sub_hll_aggs(a[0])})"
        if len(a) == 1 else None),
    "hll_serialize": lambda a: (f"({_sub_hll_aggs(a[0])})"
                                if len(a) == 1 else None),
    "hll_deserialize": lambda a: (
        f"\0__sr_hll_deserialize\0({_sub_hll_aggs(a[0])})"
        if len(a) == 1 else None),
    "hll_hash": lambda a: (
        f"\0__sr_hll_hash\0(CAST({a[0]} AS STRING))"
        if len(a) == 1 else None),
    "hll_empty": lambda a: ("CAST(X'00' AS BINARY)"
                            if len(a) == 0 else None),
    "hll_union_agg": lambda a: (
        f"\0__sr_hll_union_agg\0({_sub_hll_aggs(a[0])})"
        if len(a) == 1 else None),
    "ndv": lambda a: (f"\0__sr_ndv_agg\0({a[0]})"
                      if len(a) == 1 else None),
    "approx_count_distinct": lambda a: (
        f"\0__sr_ndv_agg\0({a[0]})" if len(a) == 1 else None),
    "approx_count_distinct_hll_sketch": lambda a: (
        f"\0__sr_ds_hll_agg\0({a[0]})" if len(a) == 1 else None),
    "ds_hll_count_distinct": lambda a: (
        f"\0__sr_ds_hll_agg\0({a[0]})" if 1 <= len(a) <= 3
        else None),
    "hll_union": lambda a: "max(CAST(NULL AS STRING))",
    "hll_raw_agg": lambda a: "max(CAST(NULL AS STRING))",
    "aes_encrypt": _rw_aes("aes_encrypt"),
    "aes_decrypt": _rw_aes("aes_decrypt"),
    "to_base64": lambda a: (f"\0base64\0(CAST({a[0]} AS STRING))"
                            if len(a) == 1 else None),
    "from_base64": lambda a: (
        f"CAST(\0unbase64\0({a[0]}) AS STRING)"
        if len(a) == 1 else None),
    "bit_shift_left": lambda a: (
        f"\0shiftleft\0({a[0]}, CAST({a[1]} AS INT))"
        if len(a) == 2 else None),
    "bit_shift_right": lambda a: (
        f"\0shiftright\0({a[0]}, CAST({a[1]} AS INT))"
        if len(a) == 2 else None),
    "bit_shift_right_logical": lambda a: (
        f"\0shiftrightunsigned\0({a[0]}, CAST({a[1]} AS INT))"
        if len(a) == 2 else None),
    "field": _rw_field,
    "years_diff": _rw_unit_diff("YEAR"),
    "months_diff": _rw_unit_diff("MONTH"),
    "weeks_diff": _rw_unit_diff("WEEK"),
    "days_diff": _rw_unit_diff("DAY"),
    "hours_diff": _rw_unit_diff("HOUR"),
    "minutes_diff": _rw_unit_diff("MINUTE"),
    "seconds_diff": _rw_unit_diff("SECOND"),
    "milliseconds_diff": _rw_unit_diff("MILLISECOND"),
    "date_diff": _rw_date_diff,
    "months_add": _rw_int_date_arith("MONTH", "+"),
    "months_sub": _rw_int_date_arith("MONTH", "-"),
    "years_add": _rw_int_date_arith("YEAR", "+"),
    "years_sub": _rw_int_date_arith("YEAR", "-"),
    "ucase": lambda a: f"upper({', '.join(a)})",
    "lcase": lambda a: f"lower({', '.join(a)})",
    # array family names the reference spells differently
    # (gensrc/script/functions.py; be/src/exprs/array_functions.cpp)
    "array_length": lambda a: f"cardinality({', '.join(a)})",
    # array_agg KEEPS NULL elements (be/src/exprs/agg/array_agg.h);
    # Spark's collect_list/array_agg drops them — wrap each value in a
    # struct (never null) and unwrap after. DISTINCT form dedups after
    # (one NULL survives, as the reference keeps). ORDER BY-inside
    # forms fall through untouched.
    "array_map": lambda a: _rw_array_lambda("transform", a),
    "array_filter": lambda a: _rw_array_filter(a),
    # array_sortby(a1, k1 [, k2...]): a1 STABLY sorted by the key
    # arrays' tuples (ties keep source order — array_functions.cpp
    # sort_by stable_sort); a NULL array leaves a1 unsorted. The
    # source index rides last in the sort struct for stability.
    "array_sortby": _rw_array_sortby,
    # array_top_n: n largest, descending, nulls sort last and pad the
    # result when fewer than n non-null values exist; n < 0 → empty,
    # NULL literal input → NULL
    "array_top_n": lambda a: (
        ("NULL" if a[0].strip().upper() == "NULL" else
         f"slice(array_sort({a[0]}, (a, b) -> "
         f"CASE WHEN a IS NULL AND b IS NULL THEN 0 "
         f"WHEN a IS NULL THEN 1 WHEN b IS NULL THEN -1 "
         f"WHEN a > b THEN -1 WHEN a < b THEN 1 ELSE 0 END), "
         f"1, greatest({a[1]}, 0))")
        if len(a) == 2 else None
    ),
    "map_size": lambda a: f"size({', '.join(a)})",
    # bitmap-based distinct counting: no bitmap TYPE on Spark — the
    # composed bitmap_union_count(to_bitmap(x)) / bitmap_union_int(x)
    # forms ARE distinct counts of valid (unsigned-range) values
    # (be/src/exprs/agg bitmap_union; to_bitmap null on bad input)
    "bitmap_union_count": lambda a: _rw_bitmap_union_count(a),
    # bitmap_union_int counts distinct values of an INT column —
    # signed values included (FunctionSet BITMAP_UNION_INT wraps the
    # raw int into the bitmap without a to_bitmap validity gate)
    "bitmap_union_int": lambda a: (
        f"count(DISTINCT ({a[0]}))" if len(a) == 1 else None
    ),
    # array_unique_agg: distinct elements across all grouped arrays
    "array_unique_agg": lambda a: (
        f"array_distinct(flatten(\0collect_list\0({a[0]})))"
        if len(a) == 1 else None
    ),
    # min_n / max_n: the n smallest / largest values as a sorted array
    # (be/src/exprs/agg/min_max_n.h)
    "min_n": lambda a: (
        f"slice(array_sort(\0collect_list\0({a[0]})), 1, {a[1]})"
        if len(a) == 2 else None
    ),
    "max_n": lambda a: (
        f"slice(reverse(array_sort(\0collect_list\0({a[0]}))), "
        f"1, {a[1]})" if len(a) == 2 else None
    ),
    "array_sum": lambda a: _rw_array_sumavg("sum", a),
    "array_avg": lambda a: _rw_array_sumavg("avg", a),
    # array_concat: Spark's concat covers arrays 1:1
    "array_concat": lambda a: f"concat({', '.join(a)})",
    # array_slice(a, offset[, len]) is 1-based with negative offsets
    # from the end — Spark's slice has the same convention; the 2-arg
    # form runs to the end (slice caps length at the array bound)
    # a negative offset beyond the front clamps to the first element
    # (array_functions.cpp slice; Spark returns [] there)
    "array_slice": lambda a: (
        f"slice({a[0]}, {a[1]}, {a[2]})" if len(a) == 3
        else f"slice({a[0]}, CASE WHEN ({a[1]}) < 0 THEN "
             f"greatest({a[1]}, -size({a[0]})) ELSE {a[1]} END, "
             f"size({a[0]}))" if len(a) == 2
        else None
    ),
    # array_difference: deltas between consecutive elements, first = 0
    "array_difference": lambda a: (
        f"transform({a[0]}, (__x, __i) -> CASE WHEN __i = 0 "
        f"THEN __x - __x ELSE __x - try_element_at({a[0]}, __i) END)"
        if len(a) == 1 else None
    ),
    # any_match/all_match(lambda, arr...) — lambda FIRST
    # (fe HigherOrderFunction); multi-array forms zip positionally
    "any_match": lambda a: _rw_match_fn("exists", a),
    "all_match": lambda a: _rw_match_fn("forall", a),
    # row(a, b) value constructor (MySQL/StarRocks) → struct
    # row()/struct() name every field positionally col1..colN (the
    # reference's unnamed-struct constructors); Spark's struct()
    # keeps column-ref names (struct(1, v1) → col1, v1)
    "row": lambda a: "named_struct(" + ", ".join(
        f"'col{i + 1}', {x}" for i, x in enumerate(a)) + ")",
    "struct": lambda a: "named_struct(" + ", ".join(
        f"'col{i + 1}', {x}" for i, x in enumerate(a)) + ")",
    # json_query(j, path) returns the matched subtree as JSON
    "json_query": lambda a: f"\0get_json_object\0({', '.join(a)})",
    # json_exists(j, path): TRUE when the path resolves
    # (json_functions.cpp json_exists)
    "json_exists": lambda a: (
        "(\0get_json_object\0("
        + _jp(["CAST(" + a[0] + " AS STRING)"] + a[1:])
        + ") IS NOT NULL)"),
    "json_object": lambda a: _rw_json_object(a),
    # assert_true returns TRUE in the reference (utility_functions);
    # Spark's returns NULL on success (both throw on failure)
    "assert_true": lambda a:
        f"(\0assert_true\0({', '.join(a)}) IS NULL)",
    # RE2-faithful twins (functions/regexfn.py): POSIX classes,
    # no-empty-match-after-match GlobalReplace, \\1 backreferences,
    # patterns arriving as column data
    "regexp_replace": lambda a: (
        # 4th arg: FE constant-fold flag (all-literal args) — the two
        # paths treat an EMPTY pattern differently (regexfn.py)
        f"\0__sr_regexp_replace\0({', '.join(a)}, "
        + ("true" if all(re.fullmatch(r"'[^']*'", x.strip())
                         for x in a) else "false") + ")"
        if len(a) == 3 else None
    ),
    "regexp_extract_all": lambda a: (
        f"\0__sr_regexp_extract_all\0({', '.join(a)})"
        if len(a) == 3 else
        f"\0__sr_regexp_extract_all\0({', '.join(a)}, 1)"
        if len(a) == 2 else None
    ),
    "regexp_position": lambda a: (
        f"\0__sr_regexp_position\0({a[0]}, {a[1]}, "
        + (a[2] if len(a) >= 3 else "1") + ", "
        + (a[3] if len(a) == 4 else "1") + ")"
        if 2 <= len(a) <= 4 else None
    ),
    # split_part with the EMPTY delimiter addresses single characters
    # (string_functions.cpp split_part: '' splits into chars); Spark
    # raises on an empty delimiter
    "split_part": lambda a: (
        f"substr({a[0]}, {a[2]}, 1)"
        if len(a) == 3 and a[1].strip() in ("''", '""') else None
    ),
    # array_remove(arr, NULL) removes the null elements in StarRocks;
    # Spark's returns NULL — desugar the null-target form to a filter
    "array_remove": lambda a: (
        f"filter({a[0]}, e -> e IS NOT NULL)"
        if len(a) == 2 and a[1].strip().upper() == "NULL" else None
    ),
    "array_generate": lambda a: (
        f"sequence(1, {a[0]})" if len(a) == 1
        else f"sequence({', '.join(a)})"
    ),
    # StarRocks split() treats the delimiter LITERALLY ('' = split
    # into characters, no empties); Spark's is a Java regex — escape
    # literal delimiters (string_functions.cpp split)
    "split": lambda a: _rw_split_literal(a),
    # StarRocks percentile_xxx(col, p) call form → ANSI WITHIN GROUP
    # (Spark 4 implements the ANSI form only). The \0 markers stop
    # rewrite_calls from re-matching its own single-arg output.
    "percentile_disc": lambda a: (
        f"\0percentile_disc\0({a[1]}) WITHIN GROUP (ORDER BY {a[0]})"
        if len(a) == 2 else None
    ),
    "percentile_cont": lambda a: (
        f"\0percentile_cont\0({a[1]}) WITHIN GROUP (ORDER BY {a[0]})"
        if len(a) == 2 else None
    ),
    # low-cardinality-dict variant: same result, different storage path
    "percentile_disc_lc": lambda a:
        f"\0percentile_disc\0({a[1]}) WITHIN GROUP (ORDER BY {a[0]})",
    # t-digest percentile_approx → exact convergence-limit twin
    # (functions/percentile.py); optional 3rd compression arg ignored
    "percentile_approx": lambda a: _rw_percentile_approx(a),
}


def _rw_json_object(a: list[str]) -> str:
    """json_object(k1, v1, k2, v2, ...) with literal string keys →
    to_json(named_struct(...)) with keys SORTED (the reference stores
    flat-json objects key-ordered — json_functions.cpp json_object)
    and nulls kept. Other arities/arg shapes are left unresolved (the
    tester records them as honest skips)."""
    if len(a) == 0 or len(a) % 2:
        raise ValueError("json_object: unsupported arity")
    pairs = list(zip(a[::2], a[1::2]))
    if not all(re.fullmatch(r"\s*'[^']*'\s*", k) or
               re.fullmatch(r'\s*"[^"]*"\s*', k) for k, _ in pairs):
        raise ValueError("json_object: non-literal key")
    pairs.sort(key=lambda kv: kv[0].strip().strip("'\""))
    fields = ", ".join(f"{k}, {v}" for k, v in pairs)
    return (f"to_json(named_struct({fields}), "
            f"map('ignoreNullFields', 'false'))")


# MySQL chained comparison: `1 < num < 10` parses as `(1 < num) < 10`
# with the boolean coerced to 0/1 (the reference's tinyint(1) BOOLEAN).
# Spark rejects boolean<int — make the coercion explicit. Operands are
# restricted to identifiers/literals, and type constructors are
# excluded so generic types (array<array<int>>) never match.
_CHAINED_CMP_RE = re.compile(
    r"(?<![<>=!\w.`'])"
    r"([\w.`]+)((?:\s*(?:<=|>=|<|>)\s*[\w.`]+){2,})"
    r"(?![\w.<>=])")
_CMP_STEP_RE = re.compile(r"\s*(<=|>=|<|>)\s*([\w.`]+)")
_TYPE_WORDS = {"array", "map", "struct"}


def _rw_chained_cmp(sql: str) -> str:
    def fix(m):
        first, rest = m.group(1), m.group(2)
        steps = _CMP_STEP_RE.findall(rest)
        terms = [first] + [t for _, t in steps]
        if any(t.lower().strip("`") in _TYPE_WORDS for t in terms):
            return m.group(0)
        # MySQL folds left-to-right with each boolean coerced to 0/1:
        # a < b < c < d == ((a<b) < c) < d. Fold the WHOLE chain (r8
        # ADVICE, low: the old single-pair pass left 3+-operand chains
        # as Spark-rejected boolean<int).
        expr = first
        for op, t in steps[:-1]:
            expr = f"CAST({expr} {op} {t} AS INT)"
        last_op, last_t = steps[-1]
        return f"{expr} {last_op} {last_t}"
    return _CHAINED_CMP_RE.sub(fix, sql)


def _rw_json_arrow(sql: str) -> str:
    """StarRocks JSON arrow access: ``expr->'$.path'`` →
    get_json_object (json_functions.cpp arrow operator; the FE parses
    -> only for JSON access when the RHS is a string literal). HOF
    lambdas (``x -> expr``) never have a string-literal body in the
    suites, so the literal-RHS condition is the disambiguator; a
    constant-string lambda body would be misread (documented cap)."""
    i = 0
    while True:
        n = len(sql)
        # find the next -> whose RHS is a string literal, outside quotes
        pos = -1
        j = i
        while j < n - 1:
            ch = sql[j]
            if ch in ("'", '"'):
                j = skip_quoted(sql, j)
                continue
            if ch == "-" and sql[j + 1] == ">":
                k = j + 2
                while k < n and sql[k].isspace():
                    k += 1
                if k < n and sql[k] == "'":
                    pos = j
                    break
            j += 1
        if pos < 0:
            return sql
        qstart = sql.index("'", pos + 2)
        qend = skip_quoted(sql, qstart)
        path = sql[qstart:qend]
        # LHS operand: spaces, then a balanced call/subscript or a
        # (possibly qualified) identifier — include rewrite markers
        # (\0) so chained arrows fold left-to-right
        i2 = pos - 1
        while i2 >= 0 and sql[i2].isspace():
            i2 -= 1
        end_lhs = i2 + 1
        if i2 >= 0 and sql[i2] in ")]":
            close = sql[i2]
            open_ = "(" if close == ")" else "["
            depth = 0
            while i2 >= 0:
                if sql[i2] == close:
                    depth += 1
                elif sql[i2] == open_:
                    depth -= 1
                    if depth == 0:
                        i2 -= 1
                        break
                elif sql[i2] in ("'", '"'):
                    # scan left out of the literal
                    k2 = i2 - 1
                    while k2 >= 0 and sql[k2] != sql[i2]:
                        k2 -= 1
                    i2 = k2
                i2 -= 1
        while i2 >= 0 and (sql[i2].isalnum()
                           or sql[i2] in "_.`$\0"):
            i2 -= 1
        start_lhs = i2 + 1
        lhs = sql[start_lhs:end_lhs]
        if not lhs.strip():
            i = qend
            continue
        repl = f"\0get_json_object\0({_jp([lhs, path])})"
        sql = sql[:start_lhs] + repl + sql[qend:]
        i = start_lhs + len(repl)


def _jp(a: list[str]) -> str:
    """Normalize a get_json_* path LITERAL: bare keys get the '$.'
    root (the reference auto-prefixes — json_functions.cpp), and
    dotted quoted keys ($."a.b") become bracket form ($['a.b'],
    which Spark's get_json_object understands)."""
    if len(a) == 2:
        p = a[1].strip()
        if p.startswith("'") and p.endswith("'"):
            body = re.sub(r'\."([^"]+)"', r"['\1']", p[1:-1])
            if not body.startswith("$"):
                body = "$." + body
            return f"{a[0]}, '{body}'"
    return ", ".join(a)


def _rw_array_sumavg(which: str, a: list[str]):
    """array_sum/array_avg. NULL (or numerically uncastable) elements
    are SKIPPED from the sum; all-null/empty arrays yield NULL; avg
    divides by the FULL element count, nulls included (agg
    array_avg). A VARCHAR array resolves to the BOOLEAN overload in
    the reference's analyzer (R test_array_fn: array_sum of
    ['-1','10','1','100','2'] = 5) — each parseable element counts
    its truthiness."""
    if len(a) != 1:
        return None
    arr = a[0]
    val = (f"CASE WHEN \0typeof\0({arr}) = 'array<string>' THEN "
           f"CASE WHEN CAST(__e AS DOUBLE) IS NULL THEN "
           f"CAST(NULL AS DOUBLE) WHEN CAST(__e AS DOUBLE) <> 0.0 "
           f"THEN 1.0 ELSE 0.0 END "
           f"ELSE CAST(__e AS DOUBLE) END")
    vals = f"transform({arr}, __e -> {val})"
    nn = f"coalesce(size(filter({vals}, __v -> __v IS NOT NULL)), 0)"
    s = (f"aggregate({vals}, CAST(0.0 AS DOUBLE), "
         f"(acc, __v) -> acc + coalesce(__v, 0.0))")
    if which == "sum":
        return f"CASE WHEN {nn} <= 0 THEN NULL ELSE {s} END"
    return (f"CASE WHEN {nn} <= 0 THEN NULL ELSE "
            f"({s} / CAST(size({arr}) AS DOUBLE)) END")


def _rw_match_fn(hof: str, a: list[str]):
    """any_match/all_match(lambda, a1[, a2]) → exists/forall; the
    two-array form evaluates the lambda over zip_with pairs."""
    if any(x.strip().upper() == "NULL" for x in a[1:]):
        return "CAST(NULL AS BOOLEAN)"   # typed-NULL array arg
    if len(a) == 2:
        return f"{hof}({a[1]}, {a[0]})"
    if len(a) == 3:
        return (f"{hof}(zip_with({a[1]}, {a[2]}, {a[0]}), "
                f"__m -> __m)")
    return None


def _rw_array_contains_all(a: list[str]):
    """array_contains_all(haystack, needles): subset test, null
    needles matching null elements. The reference's BE path
    (column haystack) is 3VL-pessimistic in a specific recorded way
    (test_array_fn/R/test_array_contains:1649,1727 vs the
    all_and_seq fixture): a MISSING needle is FALSE, but "all found"
    over a null-containing haystack with all-non-null needles is
    NULL. FE constant folding (literal haystack) uses the plain
    subset answer (R: array_contains_all([1,2,3,4,null], arr_1)=1).
    Both paths modeled; the found-subset core is shared."""
    if len(a) != 2:
        return None
    hay, need = a[0], a[1]
    allfound = (f"forall({need}, __e -> CASE WHEN __e IS NULL THEN "
                f"exists({hay}, __x -> __x IS NULL) ELSE "
                f"coalesce(\0array_contains\0({hay}, __e), false) "
                f"END)")
    literal_hay = re.match(
        r"\s*(\[|array\s*\(|(?:try_)?cast\s*\(\s*array\s*\()",
        hay.replace("\0", ""), re.IGNORECASE)
    if literal_hay:
        return (f"CASE WHEN ({hay}) IS NULL OR ({need}) IS NULL "
                f"THEN NULL ELSE {allfound} END")
    return (f"CASE WHEN ({hay}) IS NULL OR ({need}) IS NULL THEN "
            f"NULL WHEN size({need}) = 0 THEN true "
            f"WHEN NOT {allfound} THEN false "
            f"WHEN exists({hay}, __x -> __x IS NULL) AND "
            f"forall({need}, __e -> __e IS NOT NULL) "
            f"THEN CAST(NULL AS BOOLEAN) ELSE true END")


def _rw_arrays_zip(args: list[str]):
    """arrays_zip names its struct fields col1..colN
    (array_functions.cpp arrays_zip) and pads to the LONGEST input;
    Spark's arrays_zip names fields after the inputs (literal arrays
    get positional indexes '0','1'). Rebuilt as an index transform so
    the field names match; NULL input array → NULL."""
    if not args:
        return None
    if any(x.strip().upper() == "NULL" for x in args):
        return "NULL"
    g = ("greatest(" + ", ".join(f"size({x})" for x in args) + ")"
         if len(args) > 1 else f"size({args[0]})")
    fields = ", ".join(f"'col{i + 1}', try_element_at({x}, __zi)"
                       for i, x in enumerate(args))
    isnull = " OR ".join(f"({x}) IS NULL" for x in args)
    return (f"CASE WHEN {isnull} THEN NULL ELSE "
            f"transform(slice(\0sequence\0(1, greatest({g}, 1)), 1, "
            f"{g}), __zi -> named_struct({fields})) END")


def _rw_datefn_promote(name: str, args: list[str]):
    if not any(re.match(r"\s*(?:(?:to_)?date\s*\(|DATE\s+')", x,
                        re.IGNORECASE) for x in args):
        return None
    return (f"CAST(\0{name}\0({', '.join(args)}) AS TIMESTAMP)")


def _rw_percentile_approx(args: list[str]):
    """percentile_approx(v, q[, compression]) → the grouped-agg UDF
    twin of the reference's t-digest (interpolation at rank q*n-0.5,
    float32-rounded — functions/percentile.py). The array-of-quantiles
    form takes a LITERAL numeric array (matching the reference, whose
    array form requires a const array — percentile_approx has no
    per-row quantile mode); non-literal arrays fall through."""
    if len(args) not in (2, 3):
        return None
    # strip \0 protection markers earlier rewrites may have left —
    # the output below is rebuilt from the extracted numbers only
    q = args[1].replace("\0", "").strip()
    # literal quantile arrays in any of the forms earlier rewrites may
    # have left them: [..], array<double>[..], array(..),
    # try_cast(array(..) as array<..>)
    m = (re.match(r"^(?:array\s*<\s*\w+\s*>\s*)?\[(.*)\]$", q,
                  re.IGNORECASE | re.DOTALL)
         or re.match(r"^(?:try_)?cast\s*\(\s*array\s*\((.*)\)\s*as\s+"
                     r"array\s*<\s*\w+\s*>\s*\)$", q,
                     re.IGNORECASE | re.DOTALL)
         or re.match(r"^array\s*\((.*)\)$", q,
                     re.IGNORECASE | re.DOTALL))
    if m:
        # unwrap per-element literal casts the decimal-literal rewrite
        # inserts (cast(0.5 as decimal(2,2)) → 0.5)
        inner = re.sub(
            r"(?:try_)?cast\s*\(\s*([0-9.eE+-]+)\s+as\s+\w+"
            r"(?:\([\d,\s]*\))?\s*\)", r"\1", m.group(1),
            flags=re.IGNORECASE)
        if not re.fullmatch(r"[\d\s.,eE+-]*", inner):
            return None
        lit = ",".join(x.strip() for x in inner.split(","))
        return (f"from_json(\0__sr_percentile_approx_arr\0("
                f"CAST({args[0]} AS DOUBLE), '{lit}'), 'array<double>')")
    return (f"\0__sr_percentile_approx\0(CAST({args[0]} AS DOUBLE), "
            f"CAST({q} AS DOUBLE))")


# ---------------------------------------------------------------------------
# QUALIFY desugar
# ---------------------------------------------------------------------------

def _find_top_level_keyword(sql: str, kw: str) -> int:
    """Index of keyword at paren-depth 0 outside quotes, or -1."""
    depth, i, n = 0, 0, len(sql)
    kw_re = re.compile(rf"\b{kw}\b", re.IGNORECASE)
    while i < n:
        ch = sql[i]
        if ch == "'":
            i = skip_quoted(sql, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = kw_re.match(sql, i)
            if m:
                return i
        i += 1
    return -1


def desugar_qualify(sql: str) -> str:
    """SELECT ... QUALIFY pred [ORDER BY ...] [LIMIT n]
    → SELECT * EXCEPT(__q) FROM ( SELECT ..., (pred) AS __q ) WHERE __q
      [ORDER BY ...] [LIMIT n]
    Window expressions in pred evaluate inside the subquery, which is
    exactly StarRocks' QUALIFY semantics (StarRocks.g4:2512)."""
    pos = _find_top_level_keyword(sql, "QUALIFY")
    if pos < 0:
        return sql
    head = sql[:pos].rstrip()
    rest = sql[pos + len("QUALIFY") :]
    cut = len(rest)
    for kw in (r"ORDER\s+BY", "LIMIT"):
        p = _find_top_level_keyword(rest, kw)
        if 0 <= p < cut:
            cut = p
    pred, tail = rest[:cut], rest[cut:]
    from_pos = _find_top_level_keyword(head, "FROM")
    if from_pos < 0:
        return sql
    inner = (
        f"{head[:from_pos].rstrip()}, ({pred.strip()}) AS __q "
        f"{head[from_pos:]}"
    )
    return f"SELECT * EXCEPT(__q) FROM ({inner}) WHERE __q {tail}"


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


# StarRocks accepts IGNORE NULLS *inside* the call parens
# (first_value(x IGNORE NULLS)); ANSI/Spark put it after the call
_INNER_IGNORE_NULLS = ("first_value", "last_value", "lead", "lag")


def _rw_inner_ignore_nulls(name: str):
    def rw(a):
        pat = re.compile(r"\s*\bIGNORE\s+NULLS\s*$", re.IGNORECASE)
        if not any(pat.search(x) for x in a):
            return None
        args = [pat.sub("", x) for x in a]
        return f"\0{name}\0({', '.join(args)}) IGNORE NULLS"
    return rw


# bare computed interval in arithmetic: ts + INTERVAL (expr) UNIT —
# Spark's INTERVAL literal takes constants only; make_interval doesn't
_BARE_INTERVAL_RE = re.compile(
    r"\bINTERVAL\s+(\([^()]*\)|\d+\s*[*+/-]\s*\d+"
    r"|(?![0-9'\"])[A-Za-z_]\w*(?:\.\w+)?)\s+"
    r"(YEAR|QUARTER|MONTH|WEEK|DAY|HOUR|MINUTE|SECOND)S?\b",
    re.IGNORECASE,
)


def translate(sql: str) -> str:
    """StarRocks/MySQL-flavored SQL → Spark SQL."""
    # session hints are environment directives (SET_VAR(k=v) bodies
    # don't parse in Spark); recursion depth stays native here —
    # Spark's recursion evaluates self-terminating CTEs exactly
    sql = re.sub(r"/\*\+\s*SET_VAR\s*\([^)]*\)\s*\*/", "", sql,
                 flags=re.IGNORECASE)
    # bare key=value planner hints (new_planner_agg_stage = 3, ...)
    # are FE execution directives — semantics-neutral here
    sql = re.sub(r"/\*\+\s*\w+\s*=\s*\w+\s*\*/", "", sql)
    sql = _rw_json_arrow(sql)
    sql = _rw_chained_cmp(sql)
    # SELECT * EXCLUDE (cols) — StarRocks' spelling of Spark's
    # star-EXCEPT (fe AstBuilder excludeClause; test_others
    # test_all_column_exclude). Only after a star so EXCLUDE stays
    # usable as an identifier elsewhere.
    sql = re.sub(r"(\*\s*)EXCLUDE(\s*\()", r"\1EXCEPT\2", sql,
                 flags=re.IGNORECASE)
    # MySQL two-arg LIMIT: `LIMIT offset, count` (StarRocks.g4
    # limitElement) — Spark spells it LIMIT count OFFSET offset
    sql = re.sub(r"\bLIMIT\s+(\d+)\s*,\s*(\d+)",
                 r"LIMIT \2 OFFSET \1", sql, flags=re.IGNORECASE)
    sql = desugar_qualify(sql)
    # order-preserving composite binary sort key (functions/sortkey.py
    # pandas UDF; be utility_functions.cpp encode_sort_key)
    sql = re.sub(r"\bencode_sort_key\s*\(", "\0__encode_sort_key\0(",
                 sql, flags=re.IGNORECASE)

    def _rw_concat_dbl(args):
        # StarRocks' implicit double->varchar inside concat is C++
        # shortest-repr, not Spark's scientific render. `/` always
        # produces double/decimal in StarRocks, so a bare `/` in an
        # argument marks the double-typed case — route those through
        # the repr-faithful UDF and leave every other arg native.
        hit = False
        out = []
        for a in args:
            t = (_strip_quoted_spans(a)
                 if any(q in a for q in ("'", '"', "`")) else a)
            # decimal-typed division renders with full decimal scale
            # in the reference (trailing zeros), not double shortest-
            # repr — leave args with decimal literals or explicit
            # DECIMAL types on the native renderer
            if re.search(r"(?i)\bdecimal|\d\.\d", t):
                out.append(a)
                continue
            if "/" in t and not re.search(r"(?i)\bcast\s*\(", t):
                out.append(f"\0__sr_dstr\0(CAST(({a}) AS DOUBLE))")
                hit = True
            else:
                out.append(a)
        return f"\0concat\0({', '.join(out)})" if hit else None

    sql = rewrite_calls(sql, "concat", _rw_concat_dbl)
    for name in _INNER_IGNORE_NULLS:
        sql = rewrite_calls(sql, name, _rw_inner_ignore_nulls(name))
    if re.search(r"\bINTERVAL\b", sql, re.IGNORECASE):
        sql = _fold_bare_interval_arith(sql)
        # a date-ONLY string literal in interval arithmetic coerces
        # to DATE in the reference (ArithmeticExpr); Spark's string
        # coercion goes to TIMESTAMP and changes the render
        def _datelit(m):
            # not when the quote belongs to a DATE/TIMESTAMP literal
            if re.search(r"(?i)\b(date|timestamp)\s*$",
                         m.string[:m.start()]):
                return m.group(0)
            return f"CAST({m.group(1)} AS DATE) {m.group(2)} "
        sql = re.sub(
            r"('\d{4}-\d{2}-\d{2}')\s*([+-])\s*(?=INTERVAL\b)",
            _datelit, sql, flags=re.IGNORECASE)
    sql = rewrite_calls(sql, "date_add", _rw_int_date_arith("DAY", "+"))
    sql = rewrite_calls(sql, "date_sub", _rw_int_date_arith("DAY", "-"))
    # AFTER date_add/date_sub (their rewriter consumes the INTERVAL
    # form itself): remaining bare computed intervals in arithmetic
    sql = _BARE_INTERVAL_RE.sub(
        lambda m: _interval_expr(m.group(1), m.group(2).upper()), sql)
    # ranking functions with an empty OVER () — MySQL/StarRocks allow
    # it (arbitrary order); Spark demands ORDER BY
    sql = re.sub(
        r"\brow_number\s*\(\s*\)\s*"
        r"(?:OVER|\0OVER\0)\s*\(\s*\)",
        r"row_number() OVER (ORDER BY monotonically_increasing_id())",
        sql, flags=re.IGNORECASE)
    # rank/dense_rank WITHOUT an ORDER BY (empty or partition-only
    # window): every row is a peer — the reference assigns rank 1 to
    # all (window.h rank over unordered peers); row_number keeps an
    # arbitrary 1..n
    sql = re.sub(
        r"\b(?:rank|dense_rank)\s*\(\s*\)\s*(?:OVER|\0OVER\0)\s*"
        r"\(\s*((?:PARTITION\s+BY\s+(?:(?!ORDER\s+BY)[^()])*)?)\)",
        "CAST(1 AS BIGINT)", sql, flags=re.IGNORECASE)
    sql = re.sub(
        r"\brow_number\s*\(\s*\)\s*(?:OVER|\0OVER\0)\s*"
        r"\(\s*(PARTITION\s+BY\s+(?:(?!ORDER\s+BY)[^()])*)\)",
        r"row_number() OVER (\1 "
        r"ORDER BY monotonically_increasing_id())",
        sql, flags=re.IGNORECASE)
    # single-arg round over the double/integer family returns BIGINT
    # in the reference (be math_functions round(double)->bigint; FE
    # coerces integer args to DOUBLE first, so int64 values beyond
    # 2^53 LOSE precision — reproduced by the explicit double hop).
    # Decimal args keep Spark's decimal round (scale-0 decimal, which
    # already matches the decimal overload).
    def _rw_round_chain(a):
        r0 = _rw_round_single(a)
        if r0 is not None:
            return r0
        if len(a) == 2 and not re.fullmatch(r"-?\d+", a[1].strip()):
            # non-foldable scale: Spark's round() rejects it; the
            # reference rounds half-away-from-zero at a per-row scale
            x, sc = a[0], a[1]
            p10 = f"pow(10, CAST({sc} AS INT))"
            return (f"(CASE WHEN ({x}) IS NULL OR ({sc}) IS NULL "
                    f"THEN NULL ELSE sign(CAST({x} AS DOUBLE)) * "
                    f"floor(abs(CAST({x} AS DOUBLE)) * {p10} + 0.5) "
                    f"/ {p10} END)")
        return None

    if re.search(r"\bround\s*\(", sql, re.IGNORECASE):
        sql = rewrite_calls(sql, "round", _rw_round_chain)
    if re.search(r"\bdround\s*\(", sql, re.IGNORECASE):
        # dround is round's alias (FunctionSet DROUND)
        sql = rewrite_calls(
            sql, "dround",
            lambda a: (_rw_round_chain(a)
                       or f"\0round\0({', '.join(a)})"))
    if re.search(r"\burl_extract_parameter\s*\(", sql, re.IGNORECASE):
        sql = rewrite_calls(sql, "url_extract_parameter",
                            _rw_url_extract_parameter)
    if re.search(r"\bfrom_binary\s*\(", sql, re.IGNORECASE):
        sql = rewrite_calls(sql, "from_binary", _rw_from_binary)
    if re.search(r"\bmap_agg\s*\(", sql, re.IGNORECASE):
        sql = rewrite_calls_over(sql, "map_agg", _rw_map_agg)
    if re.search(r"\bngram_search", sql, re.IGNORECASE):
        sql = rewrite_calls(sql, "ngram_search_case_insensitive",
                            _rw_ngram_search(True))
        sql = rewrite_calls(sql, "ngram_search", _rw_ngram_search(False))
    if re.search(r"\bVARIANT\b", sql, re.IGNORECASE):
        sql = _VARIANT_CMP_RE.sub(
            r"to_json(\1) \2 to_json(\3)", sql)
        sql = rewrite_calls(sql, "cast", _rw_cast_variant)
        sql = rewrite_calls(sql, "try_cast", _rw_cast_variant)
        # bare VARCHAR inside cast target types needs no length
        sql = re.sub(r"\bVARCHAR\b(?!\s*\()", "STRING", sql,
                     flags=re.IGNORECASE)
    if re.search(r"\bget_variant_\w+\s*\(", sql, re.IGNORECASE):
        for gname, gt in _VARIANT_GETS.items():
            sql = rewrite_calls(sql, gname, _rw_get_variant(gt))
        sql = rewrite_calls(sql, "get_variant_time",
                            _rw_get_variant_time)
    if re.search(r"\bto_binary\s*\(", sql, re.IGNORECASE):
        sql = rewrite_calls(sql, "to_binary", _rw_to_binary)
    sql = rewrite_calls(
        sql, "str2date",
        lambda a: (f"CAST(str_to_date({', '.join(a)}) AS DATE)"
                   if len(a) == 2 else None))
    for name in sorted(_FMT_FUNCS):
        sql = rewrite_calls(sql, name, _rw_fmt_func(name))
    for name, fn in _BITMAP_WRAPS.items():
        if re.search(rf"\b{name}\s*\(", sql, re.IGNORECASE):
            sql = rewrite_calls(sql, name, fn)
    sql = rewrite_calls_over(sql, "array_agg", _rw_array_agg_over)
    # unbounded DISTINCT-over windows restructure into marker sums
    # (scalar window state) BEFORE the set-based desugar, which then
    # only sees the frame-bounded (sliding) forms. Gate the desugar
    # pass on the PRE-restructure text: _rw_distinct_agg_over also
    # normalizes the NON-distinct sum/avg renders of a statement that
    # mixes both, and must keep firing when the restructure consumed
    # every DISTINCT form.
    gated = [name for name in ("sum", "count", "avg", "min", "max")
             if re.search(rf"\b{name}\s*\(\s*DISTINCT\b", sql,
                          re.IGNORECASE)]
    if re.search(r"\(\s*DISTINCT\b", sql, re.IGNORECASE) \
            and re.search(r"\bOVER\b", sql, re.IGNORECASE):
        new0 = _rw_distinct_over_unbounded(sql)
        if new0 != sql:
            REWRITE_HITS["distinct_over_unbounded"] = \
                REWRITE_HITS.get("distinct_over_unbounded", 0) + 1
        sql = new0
    for name in gated:
        sql = rewrite_calls_over(sql, name,
                                 _rw_distinct_agg_over(name))
    for name, tmpl in _SIMPLE_WRAPS.items():
        sql = rewrite_calls(sql, name, lambda a, t=tmpl: t(a))
    for sr_name, spark_name in (("boolor_agg", "bool_or"),
                                ("bool_or", "bool_or"),
                                ("booland_agg", "bool_and")):
        sql = rewrite_calls_over(sql, sr_name, _rw_bool_agg(spark_name))
    sql = rewrite_calls_over(sql, "session_number", _rw_session_number)
    # length-less VARCHAR cast target (CAST(x AS VARCHAR)): Spark
    # requires a length — the reference treats it as unbounded string
    sql = re.sub(r"\bAS\s+VARCHAR\s*\)", "AS STRING)", sql,
                 flags=re.IGNORECASE)
    sql = re.sub(r"\bAS\s+VARBINARY\s*\)", "AS BINARY)", sql,
                 flags=re.IGNORECASE)
    if re.search(r"\bIN\s*\(", sql, re.IGNORECASE):
        sql = _rw_emitted_ts_in(sql)
    return _restore_markers(sql)


def starrocks_sql(spark: SparkSession, sql: str, sf_dir: str) -> DataFrame:
    """Run a StarRocks-dialect query against the registered tables.

    The returned frame is already physically planned: with adaptive
    execution off when the query's leaf input is below one advisory
    partition, else adaptively (``session.plan_small_statically``).
    """
    register_tables(spark, sf_dir)
    register_all(spark)
    return plan_small_statically(spark.sql(translate(sql)))
