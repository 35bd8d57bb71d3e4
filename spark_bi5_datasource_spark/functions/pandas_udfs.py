"""Arrow-vectorized pandas UDF surface (SURVEY §2: "where Python is
needed use pandas_udf") — demonstration kernels that complement the
native-expression versions.

These exist to exercise/benchmark the Arrow boundary, not to replace
the JVM expressions: `vector_norm` has a pure-Catalyst twin in
operators/similarity.py (with_norm).  Rule of thumb proven by the
bench: JVM higher-order functions win for per-element math on small
arrays; Arrow UDFs win when NumPy can batch across rows (matrix
kernels, codecs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql.functions import pandas_udf

__all__ = ["vector_norm", "trimmed_mean"]


@pandas_udf("double")
def vector_norm(vecs: pd.Series) -> pd.Series:
    """L2 norm of an array<float> column, one Arrow batch at a time —
    the whole batch becomes a single NumPy matrix operation."""
    mat = np.asarray(vecs.tolist(), dtype=np.float64)
    if mat.ndim == 1:  # empty batch guard
        return pd.Series(np.zeros(0))
    return pd.Series(np.sqrt((mat * mat).sum(axis=1)))


@pandas_udf("double")
def trimmed_mean(v: pd.Series) -> float:
    """10%-trimmed mean as a GROUPED_AGG pandas UDF — the group's
    whole value set arrives as one Arrow series and reduces to one
    scalar.  This is the aggregation cell of the Python-boundary
    matrix (scalar pandas_udf, grouped-agg pandas_udf, grouped-map
    applyInPandas, mapInPandas, applyInPandasWithState, UDTF, Arrow
    source).  Deterministic: sort, drop floor(n*0.1) from each end,
    mean — no RNG, no order dependence.

    Scale note: GROUPED_AGG materializes each group in memory (no
    partial aggregation), so it is for robust statistics over
    BOUNDED groups; unbounded-group trims belong to the exact
    two-pass quantile form (events_winsorize)."""
    a = np.sort(v.to_numpy(dtype=np.float64))
    k = int(len(a) * 0.1)
    core = a[k : len(a) - k] if len(a) > 2 * k else a
    return float(core.mean()) if len(core) else float("nan")
