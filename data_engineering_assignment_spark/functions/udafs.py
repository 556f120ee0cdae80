"""Pandas GROUPED_AGG UDAFs (SURVEY.md §2.9 — the UDAF leg of the
UDF/UDAF/UDTF surface).

``weighted_median`` is deliberately exact-arithmetic so it can be gated by
the cross-engine oracle: values and weights are small exact doubles (prices
with 2 decimals, integer quantities), the cumulative weight is a float64
cumsum of integers (exact below 2^53), and the result is an EXISTING input
value selected by comparison — no interpolation, no rounding. The Arrow
batch transfer moves each group once; inside the group it is one numpy
sort + cumsum + searchsorted.

Scale note: a grouped-agg pandas UDF materializes each group on one
executor — right for group counts x group sizes that fit a worker (here:
|returnflag| groups). For huge groups the histogram-pruning pattern of
``operators.quantiles.rank_values_pruned`` keeps every stage splittable
(the cumulative-window formulation the oracle uses also works but sorts
each group in one window partition).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


@pandas_udf(DoubleType())
def weighted_median(values: pd.Series, weights: pd.Series) -> float:
    """Smallest value whose cumulative weight (in ascending value order)
    reaches half the total weight — percentile_disc(0.5) generalized to
    weighted rows."""
    v = values.to_numpy(dtype=np.float64)
    w = weights.to_numpy(dtype=np.float64)
    order = np.argsort(v, kind="stable")
    vv, ww = v[order], w[order]
    cw = np.cumsum(ww)
    return float(vv[np.searchsorted(cw, cw[-1] / 2.0, side="left")])
