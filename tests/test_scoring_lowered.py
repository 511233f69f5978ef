"""The Catalyst-projection scorer must equal the Arrow ``mapInPandas``
scorer: same output schema, values within rtol 1e-12, nulls in the same
places. ``opaque`` hides ``spark_columns`` so the same model takes the
Python path as the reference."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spark_pipeline_spark.models import (
    LinearModel,
    LogisticModel,
    MulticlassModel,
    OLSModel,
)
from spark_pipeline_spark.operators.scoring import score

SPECIALS = [None, float("nan"), float("inf"), float("-inf")]
FEATURES = ["a", "b", "n", "flag"]


def opaque(mdl):
    """``mdl`` without ``spark_columns``, so ``score`` runs it in
    mapInPandas. The class is local so the pickle carries it by value:
    Python workers cannot import test modules."""

    class Opaque:
        def __init__(self, inner):
            self.inner = inner

        def __getattr__(self, name):
            if name in ("inner", "spark_columns"):
                raise AttributeError(name)
            return getattr(self.inner, name)

    return Opaque(mdl)


def features_frame(spark, seed: int, n_rows: int = 240):
    """uid + two doubles, a bigint and a boolean; about one cell in eight
    of each feature is null, NaN or ±inf (bigint and boolean: null)."""
    rng = np.random.default_rng(seed)

    def cell(value, allowed):
        return allowed[rng.integers(len(allowed))] if rng.random() < 0.125 else value

    rows = [
        (
            f"u{i:04d}",
            cell(float(rng.normal(0, 2)), SPECIALS),
            cell(float(rng.normal(0, 2)), SPECIALS),
            cell(int(rng.integers(-5, 6)), [None]),
            cell(bool(rng.integers(2)), [None]),
        )
        for i in range(n_rows)
    ]
    schema = StructType([
        StructField("uid", StringType()),
        StructField("a", DoubleType()),
        StructField("b", DoubleType()),
        StructField("n", LongType()),
        StructField("flag", BooleanType()),
    ])
    return spark.createDataFrame(rows, schema)


def random_coef(rng, cols):
    return {c: float(rng.normal(0, 1)) for c in cols}


def fitted_ols(rng):
    x = pd.DataFrame({c: rng.normal(0, 1, 64) for c in FEATURES})
    y = x.to_numpy() @ rng.normal(0, 1, len(FEATURES)) + rng.normal(0, 0.1, 64)
    return OLSModel(FEATURES).fit(x, pd.Series(y))


MODELS = {
    "binary": lambda rng: (LogisticModel(random_coef(rng, FEATURES), rng.normal()), None),
    "multiclass_named": lambda rng: (
        MulticlassModel({k: random_coef(rng, FEATURES) for k in ("lo", "mid", "hi")}),
        ["lo", "mid", "hi"],
    ),
    "multiclass_auto": lambda rng: (
        MulticlassModel({k: random_coef(rng, FEATURES) for k in "pqrs"}),
        None,
    ),
    "linear": lambda rng: (LinearModel(random_coef(rng, FEATURES), rng.normal()), None),
    "ols": lambda rng: (fitted_ols(rng), None),
}


def assert_same_scores(lowered, reference, key="uid"):
    """Equal schema (names and types); per column, nulls in the same rows
    and the other values equal within rtol 1e-12 (±inf exactly)."""
    assert [(f.name, f.dataType) for f in lowered.schema] == [
        (f.name, f.dataType) for f in reference.schema
    ]
    got = sorted(lowered.collect(), key=lambda r: r[key])
    want = sorted(reference.collect(), key=lambda r: r[key])
    assert len(got) == len(want) and len(got) > 0
    for field in lowered.schema:
        g = [r[field.name] for r in got]
        w = [r[field.name] for r in want]
        assert [v is None for v in g] == [v is None for v in w], field.name
        if isinstance(field.dataType, DoubleType):
            gv = np.array([v for v in g if v is not None], dtype="float64")
            wv = np.array([v for v in w if v is not None], dtype="float64")
            assert not np.isnan(gv).any(), f"{field.name}: NaN left unnulled"
            np.testing.assert_allclose(gv, wv, rtol=1e-12, atol=0, err_msg=field.name)
        else:
            assert g == w, field.name


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.parametrize("kind", sorted(MODELS))
def test_lowered_equals_python_path(spark, kind, seed):
    rng = np.random.default_rng([seed, 7])
    mdl, names = MODELS[kind](rng)
    df = features_frame(spark, seed)
    saved = ["b", "uid", "not_a_column", "flag"]
    lowered = score(df, mdl, cols_to_save=saved, target_class_names=names)
    reference = score(df, opaque(mdl), cols_to_save=saved, target_class_names=names)
    assert lowered.columns[:3] == ["b", "uid", "flag"]
    assert_same_scores(lowered, reference)
    # the planted specials really reach the outputs: some null, some not
    outs = [c for c in lowered.columns if c not in saved]
    nulls = lowered.filter(F.col(outs[0]).isNull()).count()
    assert 0 < nulls < df.count()


@pytest.mark.parametrize("width, lowered_plan", [(64, True), (512, False)])
def test_wide_model_equals_python_path(spark, width, lowered_plan):
    """The widest lowered model (64 features) matches the Python path; a
    512-feature model takes the Python path itself."""
    rng = np.random.default_rng(width)
    cols = [f"x{i}" for i in range(width)]
    x = rng.normal(0, 1, (48, len(cols)))
    x[3, 10], x[5, 7], x[9, width - 1] = math.nan, math.inf, -math.inf
    rows = [(f"u{i:02d}", *map(float, x[i])) for i in range(len(x))]
    df = spark.createDataFrame(rows, ["uid", *cols])
    mdl = LogisticModel(random_coef(rng, cols), intercept=0.25)
    scored = score(df, mdl, cols_to_save=["uid"])
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert ("MapInPandas" not in plan) == lowered_plan
    assert_same_scores(scored, score(df, opaque(mdl), cols_to_save=["uid"]))
    assert scored.filter(F.col("target_proba").isNull()).count() >= 1


def test_non_numeric_feature_takes_python_path(spark):
    """A string feature is read the way pandas reads it, so the model is
    not lowered."""
    df = spark.createDataFrame([("u1", "1.5"), ("u2", "2.0")], ["uid", "a"])
    scored = score(df, LinearModel({"a": 2.0}), cols_to_save=["uid"])
    assert "MapInPandas" in scored._jdf.queryExecution().executedPlan().toString()
    assert sorted(r["pred"] for r in scored.collect()) == [3.0, 4.0]


def test_unfitted_ols_raises_at_score_time(spark):
    df = spark.createDataFrame([("u1", 1.0)], ["uid", "a"])
    with pytest.raises(RuntimeError, match="not fitted"):
        score(df, OLSModel(["a"]), cols_to_save=["uid"])


def test_class_names_must_cover_lowered_classes(spark):
    df = spark.createDataFrame([("u1", 1.0)], ["uid", "a"])
    mdl = MulticlassModel({"p": {"a": 1.0}, "q": {}, "r": {"a": -1.0}})
    with pytest.raises(ValueError, match="target_class_names"):
        score(df, mdl, cols_to_save=["uid"], target_class_names=["p", "q", "r", "s"])
