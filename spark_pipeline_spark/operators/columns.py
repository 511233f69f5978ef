"""Column-level operators: renames, casts, audit columns.

Parity targets (SURVEY.md §2.3): ``pandify`` (``sparktools/core.py:1-20``),
uid filter/cast (``sparktools/scorer.py:31-32``), literal audit columns
(``sparktools/scorer.py:53-57``). All pure Catalyst expressions — column
pruning and predicate pushdown see straight through them.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from spark_pipeline_spark.gate import local_frame


def pandify(df: DataFrame) -> DataFrame:
    """Make a DataFrame pandas/sklearn-friendly.

    Reference semantics (``sparktools/core.py:1-20``): rename dotted column
    names ``a.b`` → ``a__b`` (pandas attribute access can't hold dots) and
    downcast every decimal column to double (sklearn can't consume
    ``decimal.Decimal``). One single ``select`` — no chained
    ``withColumn`` (each adds a projection node).
    """
    cols: list[Column] = []
    for field in df.schema.fields:
        name = field.name
        col = F.col(f"`{name}`")
        if isinstance(field.dataType, DecimalType):
            col = col.cast("double")
        cols.append(col.alias(name.replace(".", "__")))
    return df.select(*cols)


def flatten_struct(df: DataFrame, sep: str = "__") -> DataFrame:
    """Flatten one level of struct columns into top-level ``parent__child``
    columns; non-struct columns pass through.

    The modern counterpart of pandify's dotted-name handling: nested data
    stays first-class in the engine, flattening is an explicit opt-in
    before pandas/sklearn handoff.
    """
    cols: list[Column] = []
    for field in df.schema.fields:
        if field.dataType.typeName() == "struct":
            for sub in field.dataType.fields:  # type: ignore[attr-defined]
                cols.append(F.col(f"`{field.name}`.`{sub.name}`").alias(f"{field.name}{sep}{sub.name}"))
        else:
            cols.append(F.col(f"`{field.name}`"))
    return df.select(*cols)


def require_key(df: DataFrame, key: str = "uid") -> DataFrame:
    """Drop rows with a null key and cast it to string.

    Scoring-input contract (``sparktools/scorer.py:31-32``). The filter is
    a plain predicate, so Catalyst pushes it into the source scan.
    """
    return df.filter(F.col(key).isNotNull()).withColumn(key, F.col(key).cast("string"))


def with_audit_columns(
    df: DataFrame,
    model_name: str,
    current_dt: str | None = None,
    author: str | None = None,
) -> DataFrame:
    """Prepend literal audit columns to a scoring output.

    Parity with ``sparktools/scorer.py:50-57`` (``model_name``,
    ``current_dt`` literals ahead of ``*``). The reference's README also
    promises an ``author`` column its code never emits (``README.md:36`` —
    SURVEY.md §2.13.8); here it is an explicit optional.
    """
    if current_dt is None:
        current_dt = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    front = [
        F.lit(model_name).alias("model_name"),
        F.lit(current_dt).alias("current_dt"),
    ]
    if author is not None:
        front.append(F.lit(author).alias("author"))
    return df.select(*front, "*")


def cast_columns(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """Cast named columns to new types in a single projection."""
    return df.select(
        *[
            (F.col(f"`{c}`").cast(casts[c]).alias(c) if c in casts else F.col(f"`{c}`"))
            for c in df.columns
        ]
    )


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema drift report between two table versions: one row per
    column that was ``added`` / ``removed`` / ``retyped`` (with both
    type strings). The structural complement of ``merge.table_diff``
    (row-level) and ``datadiff`` (distribution-level) — an ingest gate
    checks all three before promoting a new feed version.

    Pure metadata: built from the two schemas on the driver, returned as
    a DataFrame so it composes with the other report-shaped operators
    (union into one audit output, write to the same sink).
    """
    spark = old.sparkSession
    o = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    n = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = (
        [(c, "removed", o[c], None) for c in o if c not in n]
        + [(c, "added", None, n[c]) for c in n if c not in o]
        + [
            (c, "retyped", o[c], n[c])
            for c in o
            if c in n and o[c] != n[c]
        ]
    )
    return local_frame(
        spark, rows, "col_name string, change string, old_type string, new_type string"
    )
