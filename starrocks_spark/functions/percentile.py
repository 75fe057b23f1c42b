"""percentile_approx twin of the reference's t-digest aggregate.

The reference's percentile_approx is a t-digest (be/src/util/tdigest.h,
be/src/exprs/agg/percentile_approx.h) whose centroids sit at the mean
rank of the points they absorb — at high compression (default 10000)
its inverse-quantile converges to LINEAR INTERPOLATION at position
``q*n - 0.5`` over the sorted values (each point occupies the rank
interval [i, i+1) with its centroid at i+0.5).  The t-digest stores
values as ``float`` (tdigest.h ``Value = float``), so results carry
float32 rounding (e.g. 45000.4 → 45000.3984375), which the recorded
suite expectations preserve.

Spark's percentile_approx (Greenwald-Khanna) returns an exact dataset
VALUE near the rank instead of interpolating, so it disagrees with the
recorded results by a few ranks.  This module registers grouped-agg
pandas UDFs implementing the convergence-limit semantics exactly —
deterministic, so suite expectations are stable, and strictly more
accurate than any sketch at the same scale.  Compression arguments are
accepted and ignored (the limit is compression-independent).
"""

# NOTE: no `from __future__ import annotations` — pandas_udf resolves
# the pd.Series hints at definition time

import json

import numpy as np
import pandas as pd


def tdigest_quantile(vals: np.ndarray, q: float):
    """Interpolated quantile at rank ``q*n - 0.5`` (vals pre-sorted),
    rounded through float32 like the reference's t-digest storage."""
    n = len(vals)
    if n == 0:
        return None
    pos = q * n - 0.5
    if pos <= 0:
        r = vals[0]
    elif pos >= n - 1:
        r = vals[-1]
    else:
        lo = int(pos)
        frac = pos - lo
        r = vals[lo] * (1.0 - frac) + vals[lo + 1] * frac
    return float(np.float32(r))


def register(spark) -> None:
    """Register ``__sr_percentile_approx(v, q)`` (double) and
    ``__sr_percentile_approx_arr(v, 'q1,q2,...')`` (JSON string the
    caller wraps with from_json) into ``spark``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def __sr_percentile_approx(v: pd.Series, q: pd.Series) -> float:
        vals = np.sort(v.dropna().to_numpy(dtype="float64"))
        qs = q.dropna()
        if qs.empty:
            return None
        return tdigest_quantile(vals, float(qs.iloc[0]))

    @pandas_udf("string")
    def __sr_percentile_approx_arr(v: pd.Series, qs: pd.Series) -> str:
        vals = np.sort(v.dropna().to_numpy(dtype="float64"))
        s = qs.dropna()
        if s.empty:
            return None
        out = [tdigest_quantile(vals, float(x))
               for x in str(s.iloc[0]).split(",")]
        return json.dumps(out)

    spark.udf.register("__sr_percentile_approx", __sr_percentile_approx)
    spark.udf.register("__sr_percentile_approx_arr",
                       __sr_percentile_approx_arr)
