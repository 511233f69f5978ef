"""Sources: config → DataFrame factories.

Parity with the reference's ``define_data_frame`` dispatcher
(``sparktools/core.py:121-168``) and partitioned JDBC reader
(``sparktools/core.py:414-445``), re-expressed Spark-first:

- every source returns a *lazy* DataFrame (the reference's ``single-csv``
  path executes pandas on the driver immediately, ``core.py:148-149`` —
  kept only as an explicit opt-in);
- the JDBC auto-bounds bug (lower/upper swapped, ``core.py:437-438``) is
  fixed to the intended min→lowerBound, max→upperBound;
- post-ops (distribute-by / transform-sql / sample / limit,
  ``core.py:155-166``) compose as plan transformations, so Catalyst still
  sees through them for pushdown/pruning.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_pipeline_spark.operators.sampling import hash_sample
from spark_pipeline_spark.session import read_parquet_catalog


def read_file(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    options: Mapping[str, str] | None = None,
) -> DataFrame:
    """Distributed file scan (parquet/orc/csv/json/text).

    Mirrors ``core.py:135-142`` (format default parquet). For CSV, pass an
    explicit ``schema`` DDL string at scale — ``inferSchema`` runs an extra
    full pass over the data. Parquet with no schema and no options reads
    through the session's schema memo (``read_parquet_catalog``), so a
    repeated load of an unchanged path plans no inference job.
    """
    if fmt == "parquet" and not schema and not options:
        return read_parquet_catalog(spark, path)
    reader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    opts = dict(options or {})
    if fmt == "csv":
        opts.setdefault("header", "true")
        if not schema:
            opts.setdefault("inferSchema", "true")
    if opts:
        reader = reader.options(**opts)
    return reader.load(path)


def read_parquet_nanos(
    spark: SparkSession, path: str, nanos_cols: list[str]
) -> DataFrame:
    """Parquet scan that normalizes timestamp columns to TIMESTAMP_LTZ
    regardless of how the file encodes them.

    Handles every physical encoding the event feed has shipped with:

    - ``TIMESTAMP(NANOS)`` — Spark's reader rejects it outright
      (PARQUET_TYPE_ILLEGAL), so the legacy conf maps nano columns to
      bigint at the scan and the named columns are truncated to
      microsecond timestamps — truncation, not rounding (``div 1000``),
      matching how engines with native µs timestamps (DuckDB, Arrow
      casts) coerce nanos.
    - ``timestamp[us]`` without a timezone — Spark reads TIMESTAMP_NTZ,
      which cannot be cast to DOUBLE and breaks every epoch-arithmetic
      expression downstream. Cast to TIMESTAMP_LTZ at the scan; the
      session timezone is pinned to UTC (session.py), so the instant is
      unchanged and both encodings produce identical values.
    - ``timestamp[us, tz=UTC]`` — already TIMESTAMP_LTZ; no-op.

    Conversion is a codegen expression on the scan output; everything
    else about the scan (pushdown on other columns, pruning) is
    unchanged.

    The legacy conf is captured at DataFrame definition (schema
    resolution) time, so it is restored immediately afterwards — later
    unrelated parquet reads in the same session still fail loudly on
    nano columns instead of silently surfacing them as bigint.
    """
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
    dtypes = dict(df.dtypes)
    for c in nanos_cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_jdbc(
    spark: SparkSession,
    query: str,
    url: str,
    properties: Mapping[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 10,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    fetch_size: int = 100_000,
) -> DataFrame:
    """Parallel JDBC scan with range partitioning.

    Parity with ``jdbc_load`` (``sparktools/core.py:414-445``): wraps the
    query as a subselect, splits on ``partition_column`` into
    ``num_partitions`` ranges. When bounds are not given they are
    discovered with a pushed-down ``SELECT min(c), max(c)`` side query
    (``core.py:431-438``) — with the reference's swapped-bounds bug fixed
    (min→lowerBound, max→upperBound).

    ``fetch_size`` defaults to 100k rows (the reference's 10M,
    ``core.py:421``, makes most JDBC drivers buffer entire partitions).
    """
    dbtable = f"({query}) spark_pipeline_subq"
    props = dict(properties or {})
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", dbtable)
        .option("fetchsize", str(fetch_size))
        .options(**props)
    )
    if partition_column and num_partitions > 1:
        if lower_bound is None or upper_bound is None:
            bounds_q = (
                f"(SELECT min({partition_column}) mn, max({partition_column}) mx "
                f"FROM ({query}) b) spark_pipeline_bounds"
            )
            row = (
                spark.read.format("jdbc")
                .option("url", url)
                .option("dbtable", bounds_q)
                .options(**props)
                .load()
                .collect()[0]
            )
            # positional access: identifier case-folding is dialect-
            # specific (Derby/Oracle uppercase unquoted aliases, Postgres
            # lowercases), so row["mn"] would break per-database
            lower_bound = row[0] if lower_bound is None else lower_bound
            upper_bound = row[1] if upper_bound is None else upper_bound
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


def read_single_csv(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    options: Mapping[str, str] | None = None,
) -> DataFrame:
    """Small single-file CSV.

    The reference reads it with driver-side pandas (``core.py:143-149``);
    Spark's own CSV reader handles a single file fine and stays
    distributed, so that bottleneck is dropped — "single" semantics only
    matter on the write side (:func:`~spark_pipeline_spark.io.sinks.write_single_csv`).
    """
    opts = {"header": "true", "inferSchema": "true", "sep": sep}
    opts.update(options or {})
    return spark.read.options(**opts).csv(path)


def read_sql(spark: SparkSession, query: str) -> DataFrame:
    """Arbitrary SQL against the session catalog (hive scan parity,
    ``sparktools/core.py:150-151``)."""
    return spark.sql(query)


def load(spark: SparkSession, conf: Mapping[str, Any]) -> DataFrame:
    """Config-driven source façade (``define_data_frame`` parity,
    ``sparktools/core.py:121-168``).

    ``conf`` keys::

        storage: jdbc | file | hdfs | local | single-csv | hive | sql
        path / query / url / format / options ...      (per-storage)
        distribute-by: {num-partitions, key?}          repartition before use
        transform-sql: SQL over temp view `dataset_temp`
        sample: {fraction, key?}                       deterministic hash sample
        limit: int

    Post-ops apply in the reference's order: distribute-by → transform-sql
    → sample → limit (``core.py:155-166``).
    """
    storage = conf.get("storage", "file")
    if storage == "jdbc":
        df = read_jdbc(
            spark,
            query=conf["query"],
            url=conf["url"],
            properties=conf.get("properties"),
            partition_column=conf.get("partition-column"),
            num_partitions=int(conf.get("num-partitions", 10)),
            lower_bound=conf.get("lower-bound"),
            upper_bound=conf.get("upper-bound"),
            fetch_size=int(conf.get("fetch-size", 100_000)),
        )
    elif storage in ("file", "hdfs", "local"):
        df = read_file(
            spark,
            path=conf["path"],
            fmt=conf.get("format", "parquet"),
            schema=conf.get("schema"),
            options=conf.get("options"),
        )
    elif storage == "single-csv":
        df = read_single_csv(
            spark, conf["path"], sep=conf.get("sep", "\t"), options=conf.get("options")
        )
    elif storage in ("hive", "sql"):
        df = read_sql(spark, conf["query"])
    else:
        raise ValueError(f"unknown storage type: {storage!r}")

    dist = conf.get("distribute-by")
    if dist:
        n = int(dist["num-partitions"])
        key = dist.get("key")
        df = df.repartition(n, key) if key else df.repartition(n)

    transform = conf.get("transform-sql")
    if transform:
        df.createOrReplaceTempView("dataset_temp")
        df = spark.sql(transform)

    sample = conf.get("sample")
    if sample is not None:
        if isinstance(sample, Mapping):
            fraction, key = float(sample["fraction"]), sample.get("key")
        else:
            fraction, key = float(sample), None
        key_cols = [key] if key else list(df.columns)
        df = hash_sample(df, fraction, key_cols)

    limit = conf.get("limit")
    if limit is not None:
        df = df.limit(int(limit))
    return df
