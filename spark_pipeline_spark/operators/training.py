"""Trainer verb: collect a (small) training set, fit, persist, reload.

Parity with the reference's third CLI verb (``sparktools/trainer.py:29-65``,
traced in SURVEY.md §3.3):

1. build the dataset DataFrame → ``pandify`` → collect to the driver
   (Arrow ``toPandas`` — the reference's plain collect, vectorized);
2. pandas hygiene: drop all-null columns (``trainer.py:50``), split
   features/target by the configured target column (``trainer.py:52-54``);
3. ``fit`` the user-supplied estimator (``trainer.py:58-60``);
4. persist with joblib when available, stdlib pickle otherwise
   (``trainer.py:62-65``; joblib isn't a hard dependency here).

Scale posture: training is the ONE deliberately driver-side verb — the
training set must fit in driver memory by contract (the reference's
design, kept). What stays distributed is everything around it: feature
construction and sampling run as Spark plans before the collect, and the
fitted model goes back out through `operators/scoring.score` for
distributed inference (a Catalyst projection for the linear-family models,
mapInPandas for the rest). ``max_rows`` guards against
accidentally collecting a 100 TB table.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame

from spark_pipeline_spark.operators.columns import pandify

__all__ = [
    "collect_training_frame",
    "train",
    "save_model",
    "load_model",
    "fit_logistic_gd",
]


def collect_training_frame(
    df: DataFrame, target_col: str, max_rows: int | None = 10_000_000
) -> tuple[pd.DataFrame, pd.Series]:
    """Collect a Spark DataFrame into driver-side (features, target).

    ``pandify`` first (dotted renames, decimal→double, ``core.py:1-20``),
    Arrow ``toPandas``, drop all-null columns (``trainer.py:50``), then
    split off ``target_col``. ``max_rows`` is a safety rail: a count
    exceeding it raises instead of OOMing the driver — sample/aggregate
    upstream (the distributed part of the pipeline) and retry.
    """
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"training set has {n} rows > max_rows={max_rows}; "
                "sample or aggregate before collecting (training is "
                "driver-side by contract)"
            )
    pdf = pandify(df).toPandas()
    pdf = pdf.dropna(axis=1, how="all")
    if target_col not in pdf.columns:
        raise KeyError(f"target column {target_col!r} not in collected frame")
    target = pdf[target_col]
    features = pdf.drop(columns=[target_col])
    return features, target


def train(
    df: DataFrame,
    target_col: str,
    new_model: Callable[[], Any],
    model_path: str | None = None,
    max_rows: int | None = 10_000_000,
) -> Any:
    """End-to-end trainer: collect → fit → (optionally) persist.

    ``new_model`` is the user-supplied factory (the reference's
    ``pipeline.new_pipeline``, ``trainer.py:58``); anything with
    ``fit(X, y)`` works. Returns the fitted model.
    """
    features, target = collect_training_frame(df, target_col, max_rows)
    model = new_model()
    model.fit(features, target)
    if model_path:
        save_model(model, model_path)
    return model


def save_model(model: Any, path: str, compress: int = 3) -> None:
    """Persist a fitted model (``joblib.dump(..., compress=3)`` parity,
    ``trainer.py:62-65``; stdlib pickle when joblib is absent)."""
    try:
        import joblib

        joblib.dump(model, path, compress=compress)
    except ImportError:
        with open(path, "wb") as fh:
            pickle.dump(model, fh)


def load_model(path: str) -> Any:
    """Reload a persisted model (scorer entry contract,
    ``sparktools/scorer.py:39``)."""
    try:
        import joblib

        return joblib.load(path)
    except ImportError:
        with open(path, "rb") as fh:
            return pickle.load(fh)


def fit_logistic_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 0.5,
    iters: int = 3,
) -> DataFrame:
    """Distributed full-batch logistic regression by gradient descent —
    the scale path the reference's collect-to-driver trainer cannot
    take: the training table NEVER leaves the executors.

    Each iteration is one aggregate over the data computing the mean
    gradient ``avg((σ(b + w·x) − y) · x_j)``; the running weights ride
    as a one-row broadcast-joined DataFrame, so the whole fit is a
    single lazy plan with ``iters`` chained aggregates — no driver
    collect, no Python workers, all codegen. At 100 TB each step is a
    map-side partial aggregation (the shuffle carries one row per
    partition); persist ``df`` before calling so the scan isn't repeated
    per iteration against cold storage.

    Returns a one-row DataFrame with columns ``w_<feature>`` and
    ``intercept``. Deterministic up to float accumulation order —
    round for cross-engine comparison.
    """
    from pyspark.sql import functions as F

    weights = df.sparkSession.range(1).select(
        *[F.lit(0.0).alias(f"w_{c}") for c in feature_cols],
        F.lit(0.0).alias("intercept"),
    )
    y = F.col(label_col).cast("double")
    for _ in range(iters):
        joined = df.join(F.broadcast(weights))
        z = F.col("intercept") + sum(
            (F.col(f"w_{c}") * F.col(c) for c in feature_cols), start=F.lit(0.0)
        )
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - y
        weights = joined.agg(
            *[
                (F.first(f"w_{c}") - lr * F.avg(resid * F.col(c))).alias(f"w_{c}")
                for c in feature_cols
            ],
            (F.first("intercept") - lr * F.avg(resid)).alias("intercept"),
        )
    return weights
