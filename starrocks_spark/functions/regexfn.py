"""RE2-faithful regexp_replace / regexp_extract_all twins.

The reference's regex engine is RE2 (be/src/exprs/string_functions.cpp
via re2::RE2):
- POSIX character classes ([[:lower:]]) are supported; Java/Spark
  rejects them silently-as-literal and Python lacks them — both need
  preprocessing (→ \\p-free portable classes).
- GlobalReplace never replaces an EMPTY match directly after a
  previous match ('.*' over 'abcd' → one replacement, not two);
  Java/Python replace the trailing empty match too.
- replacement backreferences are \\1..\\9 (Java uses $1).
- an empty PATTERN returns the input unchanged (recorded:
  regexp_replace('', '', 'xx') = '').

Because suite patterns also arrive as COLUMN DATA, translation-time
pattern rewriting can't cover them — these run as Arrow-batched UDFs
with the preprocessing applied per value.
"""

# NOTE: no `from __future__ import annotations` — pandas_udf resolves
# the pd.Series hints at definition time

import re

_POSIX = {
    "lower": "a-z", "upper": "A-Z", "digit": "0-9",
    "alpha": "a-zA-Z", "alnum": "a-zA-Z0-9", "space": r" \t\r\n\f\v",
    "punct": r"!-/:-@\[-`{-~", "xdigit": "0-9A-Fa-f",
    "blank": r" \t", "word": r"\w", "cntrl": r"\x00-\x1f\x7f",
}

_POSIX_RE = re.compile(r"\[:(\w+):\]")

# \p{Han} (RE2 unicode scripts) → explicit CJK ranges (Python's re
# has no script properties); the common blocks suffice for text data
_HAN = ("\\u2e80-\\u2eff\\u3005\\u3007\\u3400-\\u4dbf"
        "\\u4e00-\\u9fff\\uf900-\\ufaff")


def _pat(p: str):
    """POSIX classes / \\p{Han} → Python classes; compiled, or raises
    the reference's invalid-pattern error."""
    q = _POSIX_RE.sub(lambda m: _POSIX.get(m.group(1), m.group(0)), p)
    q = q.replace(r"\p{Han}", _HAN)
    try:
        return re.compile(q)
    except re.error:
        raise ValueError(f"Invalid regex expression: {p}")


def re2_global_replace(s: str, pat: str, repl: str, fe: bool = False):
    if pat == "" and fe:
        # the FE constant-folds an empty pattern to the input
        # unchanged; the BE's RE2 GlobalReplace inserts the
        # replacement at every position (recorded both ways)
        return s
    rx = _pat(pat)
    out, pos, prev_end = [], 0, -1
    while pos <= len(s):
        m = rx.search(s, pos)
        if not m:
            break
        if m.start() == m.end():
            if m.start() == prev_end:
                # RE2: no empty match right after a previous match
                if m.start() >= len(s):
                    break
                out.append(s[m.start()])
                pos = m.start() + 1
                continue
            out.append(s[pos:m.start()])
            out.append(m.expand(repl))
            prev_end = m.end()
            if m.start() >= len(s):
                pos = m.start() + 1
                break
            out.append(s[m.start()])
            pos = m.start() + 1
            continue
        out.append(s[pos:m.start()])
        out.append(m.expand(repl))
        pos = prev_end = m.end()
    out.append(s[pos:] if pos <= len(s) else "")
    return "".join(out)


def re2_position(s: str, pat: str, start: int, occ: int):
    """1-based position of the occ-th match at/after start; -1 when
    absent or the start/occurrence is out of range."""
    rx = _pat(pat)
    if start < 1 or occ < 1 or start > len(s) + 1:
        return -1
    n = 0
    for m in rx.finditer(s, start - 1):
        n += 1
        if n == occ:
            return m.start() + 1
    return -1


def re2_extract_all(s: str, pat: str, pos: int):
    rx = _pat(pat)
    out = []
    for m in rx.finditer(s):
        if pos < 0 or pos > rx.groups:
            return []
        out.append(m.group(pos))
    return out


def register(spark) -> None:
    """Register ``__sr_regexp_replace`` / ``__sr_regexp_extract_all``
    into ``spark``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def __sr_regexp_replace(s: pd.Series, p: pd.Series,
                            r: pd.Series,
                            fe: pd.Series) -> pd.Series:
        return pd.Series([
            None if a is None or b is None or c is None
            else re2_global_replace(str(a), str(b), str(c), bool(f))
            for a, b, c, f in zip(s, p, r, fe)])

    @pandas_udf("int")
    def __sr_regexp_position(s: pd.Series, p: pd.Series,
                             st: pd.Series,
                             oc: pd.Series) -> pd.Series:
        return pd.Series([
            None if a is None or b is None or c is None or d is None
            else re2_position(str(a), str(b), int(c), int(d))
            for a, b, c, d in zip(s, p, st, oc)])

    spark.udf.register("__sr_regexp_position", __sr_regexp_position)

    @pandas_udf("array<string>")
    def __sr_regexp_extract_all(s: pd.Series, p: pd.Series,
                                g: pd.Series) -> pd.Series:
        return pd.Series([
            None if a is None or b is None or c is None
            else re2_extract_all(str(a), str(b), int(c))
            for a, b, c in zip(s, p, g)])

    spark.udf.register("__sr_regexp_replace", __sr_regexp_replace)
    spark.udf.register("__sr_regexp_extract_all",
                       __sr_regexp_extract_all)
