"""Table maintenance: small-file inspection and compaction.

Scale story: a 100 TB table written by thousands of streaming
micro-batches or over-parallel jobs accumulates millions of tiny files;
every downstream scan then pays per-file open/footer costs and the
driver pays listing costs. Without a transactional table format the
remedy is periodic rewrite at a target file size.

``file_stats`` inspects a directory tree through the Hadoop FS API (so
it works on HDFS/S3A, not just local paths). ``compact_parquet``
rewrites data at ``target_mb`` per file, sizing the partition count from
the MEASURED input bytes — not a guess — and commits through
``io.commit.commit``: the rewrite lands once in a hidden staging
sidecar and is renamed over the table (an overwrite that read its own
input lazily would corrupt the table). ``purge_ids_from_tables`` is the
right-to-be-forgotten engine of the streaming dedup indexes and the IVF
index: an anti-join per table, committed the same way.

Partitioned layouts: pass ``partition_by`` to keep the directory
structure; compaction then repartitions on the partition columns so each
output task writes one directory.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession

from spark_pipeline_spark.io.commit import (
    commit,
    delete_path,
    filesystem,
    heal,
    open_table,
    require_jvm,
)

__all__ = ["file_stats", "compact_parquet", "purge_ids_from_tables"]


def _sizes_via_read(spark: SparkSession, path: str, suffix: str) -> list[int]:
    """Connect-compatible recursive listing: ``binaryFile`` exposes
    (path, length) as metadata columns — no content bytes move — and
    hides ``_``/``.`` entries, matching the classic filter."""
    rows = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*{suffix}")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("length")
        .collect()
    )
    return [int(r["length"]) for r in rows]


def file_stats(spark: SparkSession, path: str, suffix: str = ".parquet") -> dict:
    """Recursive data-file census of ``path``: count, total/min/max/mean
    bytes. Driver-side listing via the Hadoop FS API — the same listing
    every scan's planning phase performs (a metadata-only ``binaryFile``
    listing on Spark Connect); fine for maintenance cadence, not for
    per-query hot paths."""
    if getattr(spark, "_jvm", None) is None:
        sizes = _sizes_via_read(spark, path, suffix)
    else:
        fs, hpath = filesystem(spark, path)
        # qualify BEFORE comparing: listFiles returns fully-qualified
        # URIs, so a relative caller path would never prefix-match and
        # every ancestor of the cwd would be scanned for hidden segments
        base = fs.makeQualified(hpath).toUri().getPath()
        sizes = []
        it = fs.listFiles(hpath, True)  # recursive
        while it.hasNext():
            status = it.next()
            p = status.getPath()
            name = p.getName()
            # skip hidden ANCESTOR DIRECTORIES too (_temporary/ debris from
            # a crashed write, .staging/), not just hidden file names —
            # matching the FileIndex semantics the Connect binaryFile
            # fallback inherits; without this the two session types report
            # different censuses on a torn table (ADVICE r7)
            rel = p.toUri().getPath()
            if rel.startswith(base):
                rel = rel[len(base):]
            hidden_dir = any(
                seg.startswith(("_", ".")) for seg in rel.split("/")[:-1] if seg
            )
            if (
                status.isFile()
                and name.endswith(suffix)
                and not name.startswith(("_", "."))
                and not hidden_dir
            ):
                sizes.append(int(status.getLen()))
    if not sizes:
        return {"n_files": 0, "total_bytes": 0, "min_bytes": 0, "max_bytes": 0, "mean_bytes": 0.0}
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes),
        "max_bytes": max(sizes),
        "mean_bytes": sum(sizes) / len(sizes),
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 512,
    partition_by: list[str] | None = None,
    min_skip_files: int = 2,
) -> dict:
    """Rewrite the parquet table at ``path`` into ~``target_mb`` files.

    Returns the before/after :func:`file_stats`. No-op (returns with
    ``compacted=False``) when the table already has fewer than
    ``min_skip_files`` files — rewriting one file buys nothing.

    The partition count comes from measured bytes:
    ``ceil(total_bytes / target_mb)``. That sizes OUTPUT files by INPUT
    bytes, which for parquet→parquet rewrites is the right first-order
    estimate (same encoding, same compression family).
    """
    # fail fast BEFORE any mutation: the commit renames through the
    # Hadoop FS API
    require_jvm(spark, "compact_parquet")

    heal(spark, path)
    df = open_table(spark, path)
    before = file_stats(spark, path)
    if df is None or before["n_files"] < min_skip_files:
        return {"before": before, "after": before, "compacted": False}

    n_parts = max(1, math.ceil(before["total_bytes"] / (target_mb * 1024 * 1024)))
    parts = partition_by or ()
    commit(spark, path, df.repartition(n_parts, *parts).write.partitionBy(*parts).parquet)
    after = file_stats(spark, path)
    return {"before": before, "after": after, "compacted": True}


def purge_ids_from_tables(
    spark: SparkSession,
    tables: Iterable[tuple[str, str, str, Sequence[str]]],
    ids: DataFrame,
) -> dict:
    """Shared purge engine for the ``batch=<id>``-partitioned index
    tables (the LSH and semantic dedup indexes, the IVF index): for each
    ``(name, path, id_col, partition_cols)``, anti-join the table against
    the one-column tombstone frame ``ids`` and commit the survivors with
    the same partition columns, so the sinks' batch replay exclusion and
    the IVF search's cell pruning keep working. A table whose rows are
    ALL purged is deleted outright (a row-less parquet table has no
    schema to re-read; absence is the empty state every reader of these
    layouts handles). Returns ``{f"{name}_removed": n}``."""
    require_jvm(spark, "purge_ids_from_tables")
    tomb = ids.toDF("__purge_id")
    out = {}
    for name, path, col, parts in tables:
        heal(spark, path)
        df = open_table(spark, path)
        if df is None:
            out[f"{name}_removed"] = 0
            continue
        before = df.count()
        survivors = df.join(
            tomb, df[col] == tomb["__purge_id"], "left_anti"
        ).persist()
        try:
            n_surv = survivors.count()
            if n_surv == 0:
                delete_path(spark, path)
            else:
                commit(spark, path, survivors.write.partitionBy(*parts).parquet)
        finally:
            survivors.unpersist()
        out[f"{name}_removed"] = before - n_surv
    return out
