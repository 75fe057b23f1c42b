"""Scalar/array function library: text processing, sketches, vector
math — the pieces Spark lacks from the reference's function registry
(gensrc/script/functions.py) plus the LLM-data-pipeline primitives.
"""

from starrocks_spark.session import session_memo


def register_all(spark) -> None:
    """Register the UDFs behind the ``__``-prefixed names ``translate``
    emits into ``spark``, once per session."""
    memo = session_memo(spark)
    if memo.get("udfs"):
        return
    # imported on first use, not with the package: Python workers
    # import the package to unpickle any one of its UDFs
    from starrocks_spark.functions import (aesfn, bitmap, datediff, hllfn,
                                           jodafmt, jsonshape, mmh3,
                                           mysqlweek, percentile, regexfn,
                                           sortkey, strcase, strtodate,
                                           timeslice)

    for mod in (aesfn, bitmap, datediff, hllfn, jodafmt, jsonshape, mmh3,
                mysqlweek, percentile, regexfn, sortkey, strcase, strtodate,
                timeslice):
        mod.register(spark)
    memo["udfs"] = True
