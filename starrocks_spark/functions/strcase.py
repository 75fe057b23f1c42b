"""String case helpers whose reference semantics differ from Spark's
built-ins.

``initcap``: the reference capitalizes a letter that follows ANY
non-alphanumeric character (be/src/exprs/string_functions.cpp initcap
— `initcap('one,two')` = 'One,Two', `initcap('1st place')` =
'1st Place'); Spark's built-in initcap is whitespace-delimited
('One,two'). Registered as an Arrow-batched pandas UDF — this is an
acceptance-surface scalar, not a hot-path operator.
"""

# NOTE: no `from __future__ import annotations` — pandas_udf resolves
# the pd.Series hints at definition time

import re

_BOUNDARY = re.compile(r"(^|[^a-zA-Z0-9])([a-z])")


def sr_initcap(s: str) -> str:
    return _BOUNDARY.sub(lambda m: m.group(1) + m.group(2).upper(),
                         s.lower())


def register(spark) -> None:
    """Register ``__sr_initcap(str)`` into ``spark``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def __sr_initcap(col: pd.Series) -> pd.Series:
        return col.map(lambda v: None if v is None else sr_initcap(str(v)))

    spark.udf.register("__sr_initcap", __sr_initcap)
