"""Per-key model training/scoring — the Spark-first form of the
reference's sequential per-symbol loop (ml_model/predict_from_vm4.py:29-39
trains one RandomForest per symbol in a driver for-loop; :47-65 scores
one document at a time).

Here one native ``groupBy(symbol)`` aggregation builds every key's
sufficient statistics (n, Σx, Σy, Σxy, Σxx) in a single pass, the
closed-form solve runs as Catalyst expressions over that one-row-per-
key table, the fitted models land in a tiny models DataFrame, and
scoring is a broadcast join + native expressions — set-oriented end
to end, with no Python stage anywhere on the path.

The models intentionally have a closed form (OLS, or ridge, of close
on open): with sums accumulated in quantized Decimal (the engine's
decimal(27,6) aggregation), the fitted coefficients are bit-exact
reproducible — so even the *training* step has a DuckDB oracle
(plans/ml_queries.py). Estimators without a sufficient-statistic form
plug into the applyInPandas harness in ml/blobs.py instead (and
ml/pipeline.py holds the MLlib pipeline variant).

Scale note (SURVEY §7 phase 4 hard part): thousands of per-key models
stay in a DataFrame keyed by symbol; scoring broadcasts that table —
never a driver-side dict.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _fit(ticks: DataFrame, slope: Callable[..., Column]) -> DataFrame:
    """Fit close = intercept + slope*open per symbol.

    The sufficient statistics are a native decimal groupBy aggregation:
    JVM-side, map-side combinable and order-independent (the decimal
    trick from functions/exact.py). It is the only pass over the raw
    ticks and shuffles 5 numbers per key, not rows. ``slope(n, sx, sy,
    sxy, sxx)`` builds the slope column from the double-cast sums; the
    intercept is (Σy - slope*Σx)/n for every model.
    """
    from stock_trend_predictor_spark.functions.exact import DECIMAL_T

    x, y = F.col("open"), F.col("close")
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    return (
        ticks.where(x.isNotNull() & y.isNotNull())
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(x.cast(DECIMAL_T)).cast("double").alias("sx"),
            F.sum(y.cast(DECIMAL_T)).cast("double").alias("sy"),
            F.sum((x * y).cast(DECIMAL_T)).cast("double").alias("sxy"),
            F.sum((x * x).cast(DECIMAL_T)).cast("double").alias("sxx"),
        )
        .withColumn("n", F.col("n_rows").cast("double"))
        .withColumn("slope", slope(n, sx, sy, sxy, sxx))
        .select(
            "symbol",
            "n_rows",
            "slope",
            ((sy - F.col("slope") * sx) / n).alias("intercept"),
        )
    )


def train_linreg_closed_form(ticks: DataFrame) -> DataFrame:
    """Per-key OLS of close on open: slope = (n*Σxy - Σx*Σy) /
    (n*Σxx - Σx*Σx), the expression order of the oracle SQL, so the
    coefficients are bit-identical to DuckDB's. A constant-open key
    has a zero denominator and gets slope 0 (its model predicts the
    mean close)."""

    def ols(n, sx, sy, sxy, sxx):
        denom = n * sxx - sx * sx
        return F.when(denom != 0, (n * sxy - sx * sy) / denom).otherwise(
            F.lit(0.0)
        )

    return _fit(ticks, ols)


def score_with_models(ticks: DataFrame, models: DataFrame) -> DataFrame:
    """Broadcast-join scoring + the reference's derived outputs
    (movement prediction law predict_from_vm4.py:31, change%
    predict_from_vm4.py:61) — no Python in the scoring path."""
    from stock_trend_predictor_spark.functions.exact import stable_round
    from stock_trend_predictor_spark.functions.stock import change_pct

    # The inner broadcast join IS the model-known-key filter (P10,
    # predict_from_vm4.py:53-55): ticks whose symbol has no model drop
    # out here — no separate semi-join pass needed.
    scored = ticks.join(F.broadcast(models), "symbol")
    predicted = F.col("intercept") + F.col("slope") * F.col("open")
    return scored.select(
        "symbol",
        "ts",
        "open",
        "close",
        stable_round(predicted, 6).alias("predicted_close"),
        (predicted > F.col("open")).cast("int").alias("prediction"),
        change_pct().alias("change_pct"),
    )


def train_ridge_per_key(ticks: DataFrame, lam: float = 10.0) -> DataFrame:
    """Per-key ridge regression (L2 penalty on the slope) over the same
    decimal sufficient statistics as :func:`train_linreg_closed_form`,
    because ridge still HAS a sufficient-statistic form: slope =
    Sxy_c / (Sxx_c + lam) on centered moments. Shrinkage toward 0
    regularizes the near-constant-x keys where plain OLS is
    ill-conditioned (the denominator guard case in the OLS solve).
    The expression order mirrors the oracle SQL text exactly (IEEE
    evaluation-order parity)."""

    def ridge(n, sx, sy, sxy, sxx):
        return (sxy - sx * sy / n) / (sxx - sx * sx / n + lam)

    return _fit(ticks, ridge)
