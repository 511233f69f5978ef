"""Model protocol + test models.

The engine scores any *duck-typed* sklearn-style object (SURVEY.md §2.10
U3 dispatch): ``predict_proba`` → classifier, ``predict`` → regressor,
plain callable → generic. sklearn itself is optional — these numpy-only
models exercise every dispatch branch deterministically.

The four linear-family models below also state their prediction as Spark
Columns (``spark_columns``), next to the numpy formula it must match, so
``operators.scoring.score`` can run them as one Catalyst projection. Its
argument ``x`` maps a feature name to that feature as a double Column
(the counterpart of ``x[c].to_numpy(dtype="float64")``). Every formula
evaluates in numpy's order and uses typed double literals (a bare ``0.1``
in Spark SQL is a DECIMAL).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

Feature = Callable[[str], Column]


def _left_sum(first: Column, rest: list[Column]) -> Column:
    """``first + rest[0] + rest[1] + ...``, added left to right as numpy does."""
    for t in rest:
        first = first + t
    return first


def simple_model(x: pd.DataFrame) -> pd.Series:
    """Toy callable model: product of two feature columns.

    Parity with the reference test fixture (``sparktools/simple_model.py:
    1-2``: ``x.f1 * x.f2``), generalized to named columns.
    """
    return x["f1"] * x["f2"]


class LinearModel:
    """Deterministic regressor: dot(features, coef) + intercept."""

    def __init__(self, coef: dict[str, float], intercept: float = 0.0) -> None:
        self.coef = dict(coef)
        self.intercept = float(intercept)

    def predict(self, x: pd.DataFrame) -> np.ndarray:
        out = np.full(len(x), self.intercept, dtype="float64")
        for c, w in self.coef.items():
            out += w * x[c].to_numpy(dtype="float64")
        return out

    def spark_columns(self, x: Feature) -> list[Column]:
        """``[pred]``: intercept first, then the features in ``coef`` order."""
        terms = [F.lit(float(w)) * x(c) for c, w in self.coef.items()]
        return [_left_sum(F.lit(self.intercept), terms)]


class LogisticModel:
    """Deterministic binary classifier: sigmoid of a linear score."""

    def __init__(self, coef: dict[str, float], intercept: float = 0.0) -> None:
        self.linear = LinearModel(coef, intercept)
        self.classes_ = np.array([0, 1])

    def predict_proba(self, x: pd.DataFrame) -> np.ndarray:
        z = self.linear.predict(x)
        p1 = 1.0 / (1.0 + np.exp(-z))
        return np.column_stack([1.0 - p1, p1])

    def predict(self, x: pd.DataFrame) -> np.ndarray:
        return (self.predict_proba(x)[:, 1] >= 0.5).astype("int64")

    def spark_columns(self, x: Feature) -> list[Column]:
        """``predict_proba`` as ``[1 - p1, p1]`` (``classes_`` order)."""
        (z,) = self.linear.spark_columns(x)
        p1 = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        return [F.lit(1.0) - p1, p1]


class OLSModel:
    """Fittable ordinary-least-squares regressor (numpy closed form).

    The engine's deterministic stand-in for an sklearn pipeline in the
    trainer verb: ``fit(X, y)`` solves the centered normal equations —
    for a single feature that is exactly ``covar_pop(y,x)/var_pop(x)``
    (the ANSI ``regr_slope``/``regr_intercept`` definition, which is what
    makes trained coefficients oracle-verifiable in SQL).
    """

    def __init__(self, feature_cols: list[str] | None = None) -> None:
        self.feature_cols = list(feature_cols) if feature_cols else None
        self.coef_: np.ndarray | None = None
        self.intercept_: float = 0.0

    def fit(self, x: pd.DataFrame, y: pd.Series) -> "OLSModel":
        cols = self.feature_cols or list(x.columns)
        self.feature_cols = cols
        xm = x[cols].to_numpy(dtype="float64")
        ym = np.asarray(y, dtype="float64")
        x_mean = xm.mean(axis=0)
        y_mean = ym.mean()
        xc = xm - x_mean
        yc = ym - y_mean
        self.coef_ = np.linalg.solve(xc.T @ xc, xc.T @ yc)
        self.intercept_ = float(y_mean - x_mean @ self.coef_)
        return self

    def predict(self, x: pd.DataFrame) -> np.ndarray:
        if self.coef_ is None:
            raise RuntimeError("OLSModel is not fitted")
        xm = x[self.feature_cols].to_numpy(dtype="float64")
        return xm @ self.coef_ + self.intercept_

    def spark_columns(self, x: Feature) -> list[Column]:
        """``[pred]``: the dot product in ``feature_cols`` order, then the
        intercept. Raises when unfitted, as ``predict`` does."""
        if self.coef_ is None:
            raise RuntimeError("OLSModel is not fitted")
        terms = [x(c) * F.lit(float(w)) for c, w in zip(self.feature_cols, self.coef_)]
        return [_left_sum(terms[0], terms[1:]) + F.lit(self.intercept_)]


def new_ols() -> "OLSModel":
    """Model factory for the trainer CLI (``model-definition.factory =
    "spark_pipeline_spark.models:new_ols"``) — the reference's
    ``pipeline.new_pipeline`` contract (``sparktools/trainer.py:58``)."""
    return OLSModel()


class MulticlassModel:
    """Deterministic softmax classifier over per-class linear scores."""

    def __init__(self, class_coefs: dict[str, dict[str, float]]) -> None:
        self.class_names = list(class_coefs)
        self.models = {k: LinearModel(v) for k, v in class_coefs.items()}
        self.classes_ = np.arange(len(self.class_names))

    def predict_proba(self, x: pd.DataFrame) -> np.ndarray:
        scores = np.column_stack([self.models[k].predict(x) for k in self.class_names])
        scores -= scores.max(axis=1, keepdims=True)
        e = np.exp(scores)
        return e / e.sum(axis=1, keepdims=True)

    def spark_columns(self, x: Feature) -> list[Column]:
        """``predict_proba`` as one softmax Column per class, in
        ``class_names`` order. A null or NaN score nulls the whole row,
        as the NaN does in numpy: ``greatest`` skips nulls, but the
        denominator sums every class."""
        scores = [self.models[k].spark_columns(x)[0] for k in self.class_names]
        top = F.greatest(*scores) if len(scores) > 1 else scores[0]
        e = [F.exp(s - top) for s in scores]
        total = _left_sum(e[0], e[1:])
        return [v / total for v in e]
