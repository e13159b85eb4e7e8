"""Per-key OPAQUE-model training/scoring — the pickled-blob variant of
ml/pergroup.py (SURVEY §7 phase 4 hard part, demonstrated beyond the
closed-form model).

The closed-form OLS and ridge models need no Python stage: their
sufficient statistics solve as Catalyst expressions. This module is
the harness for an ARBITRARY Python estimator with no such form:
``groupBy(key).applyInPandas`` fits one estimator per key, pickles it
into a ``binary`` column of a models DataFrame, and scoring
broadcast-joins that table and unpickles inside an Arrow-batched
pandas UDF (once per distinct blob per batch, never per row). No driver-side dict anywhere — the models table IS the model
registry, exactly like the reference's per-symbol loop output
(ml_model/predict_from_vm4.py:29-39) but set-oriented and parallel.

Estimator: sklearn's LinearRegression when the library is installed;
otherwise a numpy least-squares estimator with the same fit/predict
surface (this container has no sklearn — the fallback keeps the blob
transport, Arrow boundary, and broadcast-scoring path fully real and
tested; swapping in any sklearn/xgboost estimator changes only
``default_estimator``).

Scale: one task per key at fit time (thousands of keys → thousands of
tasks), blobs are kilobytes so the models table broadcasts; scoring is
one narrow pass over the data with no shuffle beyond the broadcast.
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)


class NumpyLinReg:
    """Minimal sklearn-compatible estimator (fit/predict, intercept
    via augmented column, np.linalg.lstsq) used when sklearn is not
    installed. Deterministic for a given group's rows."""

    def fit(self, X: np.ndarray, y: np.ndarray) -> "NumpyLinReg":
        A = np.column_stack([np.ones(len(X)), np.asarray(X, dtype=np.float64)])
        coef, *_ = np.linalg.lstsq(A, np.asarray(y, dtype=np.float64), rcond=None)
        self.intercept_ = float(coef[0])
        self.coef_ = coef[1:]
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        return self.intercept_ + np.asarray(X, dtype=np.float64) @ self.coef_


def default_estimator():
    """sklearn LinearRegression when available, numpy fallback here."""
    try:
        from sklearn.linear_model import LinearRegression

        return LinearRegression()
    except ImportError:
        return NumpyLinReg()


def blob_model_schema(key_field: StructField) -> StructType:
    return StructType(
        [
            key_field,
            StructField("n_rows", LongType()),
            StructField("model", BinaryType()),
        ]
    )


def train_pickled_models(
    df: DataFrame,
    key: str,
    x_cols: list[str],
    y_col: str,
    estimator_factory=default_estimator,
) -> DataFrame:
    """One fitted, pickled estimator per key: groupBy(key).applyInPandas
    — each group's rows arrive as one pandas frame, the estimator fits
    there, and only (key, n_rows, blob) leaves the task."""
    out_schema = blob_model_schema(df.schema[key])

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        est = estimator_factory()
        est.fit(pdf[x_cols].to_numpy(), pdf[y_col].to_numpy())
        return pd.DataFrame(
            {
                key: [pdf[key].iloc[0]],
                "n_rows": [len(pdf)],
                "model": [pickle.dumps(est)],
            }
        )

    return df.groupBy(key).applyInPandas(fit, schema=out_schema)


def score_with_pickled_models(
    data: DataFrame,
    models: DataFrame,
    key: str,
    x_cols: list[str],
    out_col: str = "predicted",
) -> DataFrame:
    """Broadcast the (small) models table onto the data and evaluate
    each row's own key's estimator inside an Arrow-batched pandas UDF.
    Blobs are unpickled once per distinct blob per batch (cached by
    bytes), so the per-row cost is a vectorized predict — no
    row-at-a-time Python, no driver dict."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _score(model: pd.Series, *xs: pd.Series) -> pd.Series:
        X = np.column_stack([x.to_numpy(dtype=np.float64) for x in xs])
        preds = np.full(len(model), np.nan)
        cache: dict[bytes, object] = {}
        # group rows by blob so each estimator predicts its slice
        # vectorized (a batch typically holds few distinct keys)
        codes, uniques = pd.factorize(model.map(bytes))
        for u_idx, blob in enumerate(uniques):
            est = cache.setdefault(blob, pickle.loads(blob))
            mask = codes == u_idx
            preds[mask] = est.predict(X[mask])
        return pd.Series(preds)

    joined = data.join(F.broadcast(models), key)
    return joined.withColumn(
        out_col, _score(F.col("model"), *[F.col(c) for c in x_cols])
    ).drop("model")
