"""Sinks: DataFrame → storage writers.

Parity with the reference's ``write`` dispatcher (``sparktools/core.py:
171-231``) and hive alignment rule (``core.py:234-250``):

- file sink keeps format default ``orc``-able but defaults to parquet+zstd
  (the modern lake default);
- JDBC write parallelism is a real ``num_partitions`` option instead of the
  reference's hardwired ``repartition(1)`` (``core.py:206``) — one
  connection per partition, sized by the caller;
- table sink preserves the column-order-alignment contract on insert into
  an existing table (``core.py:236-242``);
- the driver-side CSV writers (``core.py:217-229,253-263``) survive as
  explicit small-result APIs.
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from typing import Any

from pyspark.sql import DataFrame


def write_file(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | str | None = None,
    options: Mapping[str, str] | None = None,
) -> None:
    """Distributed file sink (``core.py:183-200`` parity).

    ``partition_by`` produces hive-style directory partitioning — the
    primary partition-pruning lever at scale: a reader filtering on the
    partition column scans only matching directories.
    """
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
    if options:
        writer = writer.options(**options)
    writer.save(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: Mapping[str, str] | None = None,
    num_partitions: int | None = None,
    batch_size: int = 10_000,
) -> None:
    """JDBC sink with controllable connection parallelism.

    The reference forces ``repartition(1)`` — every row through a single
    executor connection (``core.py:206``). Here ``num_partitions`` maps to
    the writer's ``numPartitions`` option (Spark coalesces before writing);
    ``None`` keeps the input parallelism.
    """
    writer = df.write.mode(mode).format("jdbc").option("url", url).option("dbtable", table)
    writer = writer.option("batchsize", str(batch_size))
    if num_partitions:
        writer = writer.option("numPartitions", str(num_partitions))
    if properties:
        writer = writer.options(**dict(properties))
    writer.save()


def write_table(
    df: DataFrame,
    table: str,
    mode: str = "append",
    partition_by: list[str] | str | None = None,
) -> None:
    """Catalog-table sink with schema alignment (``core.py:210-216,234-250``).

    If the table exists, columns are reordered to the table's column order
    before ``insertInto`` (positional resolution) — the reference's
    ``show columns in t`` contract. Otherwise ``saveAsTable``.
    """
    spark = df.sparkSession
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
    if spark.catalog.tableExists(table):
        column_order = spark.table(table).columns
        df.select(*column_order).write.mode(mode).insertInto(table)
    else:
        writer = df.write.mode(mode)
        if cols:
            writer = writer.partitionBy(*cols)
        writer.saveAsTable(table)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    num_buckets: int,
    sort_cols: list[str] | str | None = None,
    path: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed table sink (``bucketBy`` + ``saveAsTable``) — the
    co-located-join lever.

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT a shuffle: each task reads matching buckets from both sides
    (``sortBy`` additionally removes the sort from sort-merge joins).
    At 100 TB, pre-bucketing the fact tables on their join keys turns
    every subsequent join on those keys into a scan-side merge — the
    single biggest repeated-shuffle eliminator a lakehouse layout offers.
    """
    bcols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode(mode).format(fmt).bucketBy(num_buckets, *bcols)
    if sort_cols:
        scols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*scols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_single_csv(
    df: DataFrame,
    path: str,
    sep: str = "\t",
    header: bool = True,
    streaming: bool = False,
) -> None:
    """One local CSV file on the driver — an explicit small-result API.

    ``streaming=False`` → Arrow ``toPandas().to_csv`` (``core.py:217-223``
    parity, minus the Hive-CLI detour). ``streaming=True`` → constant
    driver memory via ``toLocalIterator`` (``core.py:253-263`` parity,
    modern text-mode IO instead of the py2 ``'wb'`` + manual encode).
    """
    parent = os.path.dirname(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    if not streaming:
        df.toPandas().to_csv(path, sep=sep, header=header, index=False, encoding="utf-8")
        return
    import csv

    with open(path, "w", newline="", encoding="utf-8") as fh:
        writer = csv.DictWriter(fh, fieldnames=df.columns, delimiter=sep)
        if header:
            writer.writeheader()
        for row in df.toLocalIterator():
            writer.writerow(row.asDict())


def save(df: DataFrame, conf: Mapping[str, Any]) -> None:
    """Config-driven sink façade (``write`` parity, ``core.py:171-231``).

    Honors the reference's pre-write knobs: ``disabled`` no-op
    (``core.py:172-173``), ``distribute-by`` keyed repartition
    (``core.py:177-178``), ``n-partitions`` output-file-count control
    (``core.py:180-181``).
    """
    if conf.get("disabled", False):
        return
    dist = conf.get("distribute-by")
    if dist:
        # Same mapping shape as sources.load: {num-partitions, key?} — or a
        # bare string key for convenience. Keeps load/save contracts
        # symmetric (reference core.py:177-178 is repartition(n, key)).
        if isinstance(dist, str):
            df = df.repartition(dist)
        else:
            n = int(dist["num-partitions"])
            key = dist.get("key")
            df = df.repartition(n, key) if key else df.repartition(n)
    n_parts = conf.get("n-partitions")
    if n_parts:
        # repartition, not coalesce: coalesce cannot increase the count and
        # collapses upstream stage parallelism (n-partitions=1 would run the
        # whole upstream computation in a single task). The shuffle is the
        # price of preserving parallelism (reference core.py:180-181).
        df = df.repartition(int(n_parts))

    storage = conf.get("storage", "file")
    if storage in ("file", "hdfs", "local"):
        write_file(
            df,
            path=conf["path"],
            fmt=conf.get("format", "parquet"),
            mode=conf.get("mode", "overwrite"),
            partition_by=conf.get("partition-by"),
            options=conf.get("options"),
        )
    elif storage == "jdbc":
        write_jdbc(
            df,
            url=conf["url"],
            table=conf["table"],
            mode=conf.get("mode", "append"),
            properties=conf.get("properties"),
            num_partitions=conf.get("num-partitions"),
        )
    elif storage in ("hive", "table"):
        write_table(
            df,
            table=conf["table"],
            mode=conf.get("mode", "append"),
            partition_by=conf.get("partition-by"),
        )
    elif storage == "single-csv":
        write_single_csv(df, conf["path"], sep=conf.get("sep", "\t"))
    elif storage == "csv":
        write_single_csv(df, conf["path"], sep=conf.get("sep", "\t"), streaming=True)
    else:
        raise ValueError(f"unknown storage type: {storage!r}")


def save_counted(df: DataFrame, conf: Mapping[str, Any]) -> int:
    """``save`` that also returns the number of rows in ``df``.

    The count rides the write through an ``Observation``: it accumulates
    inside the one write job, so it costs no extra scan, cache or action.
    An ``Observation`` is only filled when an action runs the whole plan,
    and its ``get`` blocks until then. A ``disabled`` target runs no
    action, and the streaming ``csv`` sink pulls partitions through
    ``toLocalIterator``, which never fills it; those two count with a
    plain, uncached ``count()`` instead.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if conf.get("disabled", False) or conf.get("storage") == "csv":
        n_rows = df.count()
        save(df, conf)
        return n_rows
    obs = Observation()
    save(df.observe(obs, F.count(F.lit(1)).alias("n_rows")), conf)
    return obs.get["n_rows"]
