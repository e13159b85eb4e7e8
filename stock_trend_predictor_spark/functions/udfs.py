"""User-defined function surface (SURVEY §2.10): the complete PySpark
UDF family, with the engine's usage policy.

Policy: native expressions > Arrow-vectorized (`pandas_udf`,
`applyInPandas`, `mapInPandas`) > row-at-a-time `udf` / `udtf` (last
resort — one Python round trip per ROW; ~10-100× slower than Arrow
batching). The hot paths in this engine use only the first two tiers;
the row-at-a-time forms below exist to complete the API surface and
as the template for logic that genuinely cannot be vectorized
(recursive parsers, per-row external calls).

Where each tier is used in anger:
- scalar pandas_udf:      ml/vectorized.py (BLAS cosine kernels)
- grouped-agg pandas_udf: here (weighted_avg_udaf)
- applyInPandas:          ml/blobs.py (per-key opaque estimator fit)
- applyInPandasWithState: streaming/windows.py (high-watermark state)
- mapInPandas:            operators/multimodal.py (decode kernels)
- mapInArrow:             operators/multimodal.py (byte-level CRC —
                          zero-copy, no pandas materialization)
- plain udf / udtf:       this module only
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf
from pyspark.sql.types import DoubleType


@udf(returnType=DoubleType())
def py_change_pct(open_: float, close: float) -> float | None:
    """Row-at-a-time fallback twin of functions/stock.py::change_pct —
    kept ONLY as the API-surface demo; the expression form is the one
    used in queries (JVM-side, codegen)."""
    if open_ is None or close is None or open_ == 0.0:
        return None
    import math

    return math.floor((close - open_) / open_ * 100 * 100 + 0.5) / 100


def weighted_avg_udaf():
    """Grouped-aggregate pandas UDF (UDAF): volume-weighted average —
    one Arrow batch per group, numpy reduction inside."""

    @pandas_udf("double")
    def _vwap(price: pd.Series, volume: pd.Series) -> float:
        v = volume.fillna(0.0)
        total = float(v.sum())
        if total == 0.0:
            return float("nan")
        return float((price.fillna(0.0) * v).sum() / total)

    return _vwap


@udtf(returnType="bar_start: timestamp, is_gap: boolean")
class BarGapFiller:
    """Python UDTF (table function): given a symbol's first/last bar
    times and the bucket width, emit the full bar grid flagging gaps.
    The template for row→many-rows logic that needs imperative Python;
    the native twin is sequence()+explode (used in
    operators/multimodal.py::sample_frames)."""

    def eval(self, first_ts, last_ts, step_minutes: int, present_csv: str):
        import datetime as dt

        if first_ts is None or last_ts is None:
            return
        present = set(present_csv.split("|")) if present_csv else set()
        step = dt.timedelta(minutes=step_minutes)
        t = first_ts
        while t <= last_ts:
            yield t, t.strftime("%Y-%m-%d %H:%M:%S") not in present
            t = t + step
