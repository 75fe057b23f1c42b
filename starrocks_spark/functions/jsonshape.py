"""CAST(json AS struct<...>) twin.

The reference casts JSON to STRUCT with semantics Spark's from_json
lacks (be/src/exprs/cast_expr_struct.cpp):
- a JSON ARRAY maps POSITIONALLY onto the struct's fields (at any
  nesting level), padding missing positions with NULL;
- scalar coercions truncate (3.3 → int 3) instead of nulling;
- field names containing '.' never match (the reference resolves
  struct fields through its json-path, where dots split);
- json-typed targets re-render the subtree as compact JSON text.

This module shapes the JSON Python-side into an OBJECT keyed exactly
like the target struct, then ``from_json`` applies the final Spark
types: ``from_json(__sr_json_shape(x, '<sr-type>'), '<spark-type>')``.
"""

# NOTE: no `from __future__ import annotations` — pandas_udf resolves
# the pd.Series hints at definition time

import json
import re


def parse_sr_type(t: str):
    """StarRocks type text → nested descriptor:
    ('struct', [(name, node), ...]) | ('array', node) | ('scalar', base)
    """
    t = t.strip()
    low = t.lower()
    if low.startswith("struct<") and t.endswith(">"):
        fields = []
        for item in _split_generic(t[len("struct<"):-1]):
            item = item.strip()
            m = re.match(r"`([^`]*)`\s+(.*)$", item, re.DOTALL) or \
                re.match(r"(\w+)\s+(.*)$", item, re.DOTALL)
            if not m:
                raise ValueError(f"unparsed struct field: {item!r}")
            name = m.group(1)
            if "[" in name or "]" in name:
                # the reference rejects bracket characters in struct
                # field names for this cast (cast_expr_struct.cpp)
                raise ValueError(
                    "Not support cast JSON to STRUCT with field name "
                    f"{name!r}")
            fields.append((name, parse_sr_type(m.group(2))))
        return ("struct", fields)
    if low.startswith("array<") and t.endswith(">"):
        return ("array", parse_sr_type(t[len("array<"):-1]))
    return ("scalar", re.split(r"[(\s]", low, 1)[0])


def _split_generic(body: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(body[start:i])
            start = i + 1
    parts.append(body[start:])
    return parts


_INTS = {"tinyint", "smallint", "int", "integer", "bigint", "largeint"}


def shape(data, node):
    """Coerce parsed JSON onto the descriptor; unmappable → None."""
    kind, payload = node
    if kind == "struct":
        if isinstance(data, list):
            vals = list(data) + [None] * (len(payload) - len(data))
            return {n: shape(v, t)
                    for (n, t), v in zip(payload, vals)}
        if isinstance(data, dict):
            return {n: (None if "." in n
                        else shape(data.get(n), t))
                    for n, t in payload}
        return None
    if kind == "array":
        if isinstance(data, list):
            return [shape(x, payload) for x in data]
        return None
    base = payload
    if data is None:
        return None
    if base == "json":
        return json.dumps(data, ensure_ascii=False)
    if base in _INTS:
        try:
            return int(float(data)) if not isinstance(data, bool) \
                else int(data)
        except (TypeError, ValueError):
            return None
    if base in ("double", "float", "decimal"):
        try:
            return float(data)
        except (TypeError, ValueError):
            return None
    if base in ("varchar", "char", "string", "text"):
        if isinstance(data, str):
            return data
        if isinstance(data, bool):
            return "1" if data else "0"
        if isinstance(data, (int, float)):
            return json.dumps(data)
        return json.dumps(data, ensure_ascii=False)
    if base == "boolean":
        return bool(data) if isinstance(data, (bool, int)) else None
    return data if isinstance(data, (str, int, float)) else \
        json.dumps(data, ensure_ascii=False)


def shape_json(txt, desc: str):
    if txt is None:
        return None
    try:
        data = json.loads(txt)
    except (ValueError, TypeError):
        return None
    out = shape(data, parse_sr_type(desc))
    return None if out is None else json.dumps(out, ensure_ascii=False)


def norm_json(txt):
    """Normalize a JSON text the way the reference stores/prints the
    JSON type: objects key-sorted, ``", "``/``": "`` separators
    (be JsonValue to_string over sorted vpack objects;
    test_make_sort_key records the spaced form)."""
    if txt is None:
        return None
    try:
        data = json.loads(txt)
    except (ValueError, TypeError):
        return txt
    return json.dumps(data, ensure_ascii=False, sort_keys=True)


def register(spark) -> None:
    """Register ``__sr_json_shape(txt, desc)`` and
    ``__sr_json_norm(txt)`` into ``spark``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def __sr_json_shape(txt: pd.Series, desc: pd.Series) -> pd.Series:
        return pd.Series([shape_json(t, d)
                          for t, d in zip(txt, desc)])

    @pandas_udf("string")
    def __sr_json_norm(txt: pd.Series) -> pd.Series:
        return pd.Series([norm_json(t) for t in txt])

    spark.udf.register("__sr_json_shape", __sr_json_shape)
    spark.udf.register("__sr_json_norm", __sr_json_norm)
