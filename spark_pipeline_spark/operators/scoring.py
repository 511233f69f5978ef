"""Distributed batch model inference (scorer parity).

The heart of the reference (SURVEY.md §2.10): apply a pickled sklearn-style
Python model to a big DataFrame. The reference ships two paths —

- ``score``: ``rdd.mapPartitions`` + hand-rolled 10k-row batching + a JSON
  round-trip + inferred ``toDF()`` (``sparktools/core.py:87-118``) — loses
  dtypes, defeats column pruning, row-at-a-time serialization;
- ``score_udf``: ``mapInPandas`` with an explicit DDL schema
  (``sparktools/core.py:30-44``) — the modern form.

This engine has one ``score`` with two paths, chosen per model:

- **Catalyst projection** for a model over at most 64 numeric or boolean
  features that states its prediction as Spark Columns
  (``spark_columns``, the linear family in ``models.py``): one ``select``
  under whole-stage codegen, no Python worker, no Arrow round-trip (the
  GLM-as-native-arithmetic view of MLlib*, PAPERS.md).
- **Arrow** ``mapInPandas`` for every other model (sklearn pickles, plain
  callables, wider linear models). Batching is Arrow's
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` supersedes
  ``block_iterator``, ``core.py:76-84``); the model rides to executors
  inside the serialized closure of the UDF (broadcast join of reference
  ``core.py:93-97`` semantics — use ``spark.sparkContext.broadcast``
  explicitly for very large models via ``broadcast_model=True``).

Both paths produce the same column names and types, so nothing is
inferred, and the same values: a prediction that is NaN (a null or NaN
feature) comes out null, because Arrow turns pandas NaN into null; ``inf``
passes through.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    NumericType,
)


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _output_names(
    mdl: Any, n_outputs: int, target_class_names: list[str] | None
) -> list[str]:
    """Name a model's ``n_outputs`` outputs (``sparktools/core.py:57-69``),
    for both paths.

    Classifier (has ``predict_proba``; one output per class): ≤2 classes →
    ``target_proba``; ≥3 classes → one column per class name (auto
    ``class{i}`` when names are absent). Regressor or callable → ``pred``.
    """
    if not hasattr(mdl, "predict_proba"):
        return ["pred"]
    if n_outputs <= 2:
        return ["target_proba"]
    return list(target_class_names or [f"class{i}" for i in range(n_outputs)])


def _named_outputs(names: list[str], outputs: Sequence) -> list[tuple[str, Any]]:
    """Pair ``names`` with ``outputs``; a binary classifier keeps only its
    positive (last) class."""
    return list(zip(names, outputs[-1:] if len(outputs) <= 2 else outputs))


def predict(
    features_df: pd.DataFrame,
    mdl: Any,
    target_class_names: list[str] | None = None,
    cols_to_save: list[str] | None = None,
) -> pd.DataFrame:
    """The pandas scoring kernel — duck-typed model dispatch.

    Parity with ``sparktools/core.py:47-73``: ``predict_proba`` →
    classifier, ``predict`` → regressor, plain callable →
    ``mdl(features_df)``; outputs named by ``_output_names``, after the
    passthrough of ``cols_to_save ∩ columns``.
    """
    saved = [c for c in (cols_to_save or []) if c in features_df.columns]
    out = features_df[saved].copy() if saved else pd.DataFrame(index=features_df.index)

    if hasattr(mdl, "predict_proba"):
        outputs = list(mdl.predict_proba(features_df).T)
    elif hasattr(mdl, "predict"):
        outputs = [mdl.predict(features_df)]
    elif callable(mdl):
        outputs = [mdl(features_df)]
    else:
        raise TypeError(f"model {type(mdl)!r} has no predict_proba/predict and is not callable")
    names = _output_names(mdl, len(outputs), target_class_names)
    for name, values in _named_outputs(names, outputs):
        out[name] = pd.Series(values, index=features_df.index).astype("float64")
    return out


def _declared_outputs(mdl: Any, target_class_names: list[str] | None) -> int:
    """How many outputs the model declares (``sparktools/core.py:31-36``
    approach) — nothing schema-inferred, so floats stay floats and nulls
    stay typed.

    The class count is never guessed: a ``predict_proba`` model must carry
    ``classes_`` or the caller must pass ``target_class_names`` — otherwise
    the declared schema could disagree with the runtime batch width, which
    would only surface as an Arrow error deep inside an executor
    (SURVEY.md §2.13.9 — the schema-inference class of bug this engine
    rejects).
    """
    if not hasattr(mdl, "predict_proba"):
        return 1
    if target_class_names is not None:
        return len(target_class_names)
    if hasattr(mdl, "classes_"):
        return len(mdl.classes_)
    raise ValueError(
        "model has predict_proba but no classes_ attribute; pass "
        "target_class_names so the output schema is explicit "
        "(binary models: pass ['neg','pos'] or expose classes_)"
    )


def _nan_to_null(col: Column, dtype: DataType) -> Column:
    """What Arrow does to a pandas float column on its way back: NaN → null."""
    if isinstance(dtype, (DoubleType, FloatType)):
        return F.nanvl(col, F.lit(None).cast(dtype))
    return col


# The widest model that is lowered. Each feature adds one level to a
# left-deep chain of additions, and a chain of a few hundred overflows the
# JVM stack; wider models take the Arrow path.
_MAX_LOWERED_FEATURES = 64


def _spark_outputs(types: dict[str, DataType], mdl: Any) -> list[Column] | None:
    """The model's outputs as Spark Columns over input columns ``types``,
    or None when the model has no ``spark_columns``, references more than
    ``_MAX_LOWERED_FEATURES`` features, or references a feature that is
    not a numeric or boolean input column (those take the Arrow path,
    which reads them the way pandas does)."""
    to_columns = getattr(mdl, "spark_columns", None)
    if to_columns is None:
        return None
    used: set[str] = set()
    opaque: list[str] = []

    def feature(name: str) -> Column:
        used.add(name)
        if not isinstance(types.get(name), (NumericType, BooleanType)):
            opaque.append(name)
        return F.col(_quote(name)).cast("double")

    outputs = to_columns(feature)
    return None if opaque or len(used) > _MAX_LOWERED_FEATURES else outputs


def score(
    df: DataFrame,
    mdl: Any,
    cols_to_save: list[str] | None = None,
    target_class_names: list[str] | None = None,
    feature_cols: list[str] | None = None,
    broadcast_model: bool = False,
) -> DataFrame:
    """Distributed inference: DataFrame → DataFrame with prediction columns.

    Single implementation replacing both reference paths (``score`` /
    ``score_udf``, SURVEY.md §2.10 U1/U2). ``feature_cols`` optionally
    projects the input first — at 100 TB, not selecting the 5 feature
    columns out of 500 is the difference between reading 1 TB and 100 TB
    (column pruning reaches the parquet scan because this stays a
    DataFrame plan).

    A model with ``spark_columns`` over at most 64 features, all numeric
    or boolean columns of ``df``, is lowered to one ``select`` of
    ``cols_to_save`` plus its predictions, every double or float column
    wrapped in ``nanvl(x, NULL)`` so NaN reads as null, exactly as on the
    Arrow path; ``broadcast_model`` is a no-op for it (nothing is shipped).
    A lowered classifier that scores a different number of classes than
    ``target_class_names`` names raises ``ValueError``. Every other
    model runs in ``mapInPandas``. Either way the output columns are
    ``cols_to_save ∩ columns`` followed by ``target_proba`` (binary), one
    column per class (≥3 classes) or ``pred`` (regressor), all double.
    """
    if feature_cols:
        keep = list(dict.fromkeys((cols_to_save or []) + feature_cols))
        df = df.select(*[c for c in keep if c in df.columns])

    types = {f.name: f.dataType for f in df.schema.fields}
    saved = [c for c in (cols_to_save or []) if c in types]
    n_outputs = _declared_outputs(mdl, target_class_names)
    names = _output_names(mdl, n_outputs, target_class_names)

    lowered = _spark_outputs(types, mdl)
    if lowered is not None:
        if len(lowered) != n_outputs:
            raise ValueError(
                f"model scores {len(lowered)} classes but target_class_names "
                f"declares {n_outputs}: {target_class_names}"
            )
        named = _named_outputs(names, lowered)
        return df.select(
            *[_nan_to_null(F.col(_quote(c)), types[c]).alias(c) for c in saved],
            *[_nan_to_null(c, DoubleType()).alias(n) for n, c in named],
        )

    schema = ", ".join(
        [f"{_quote(c)} {types[c].simpleString()}" for c in saved]
        + [f"{_quote(n)} double" for n in names]
    )

    if broadcast_model:
        bc = df.sparkSession.sparkContext.broadcast(mdl)

        def get_model() -> Any:
            return bc.value

    else:

        def get_model() -> Any:
            return mdl

    def apply_model(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = get_model()
        for batch in batches:
            yield predict(batch, model, target_class_names=target_class_names,
                          cols_to_save=saved)

    return df.mapInPandas(apply_model, schema=schema)


# Back-compat alias: the reference exposes the Arrow path as `score_udf`
# (`sparktools/core.py:30`).
score_udf = score
