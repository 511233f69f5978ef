"""One way to commit a persisted artifact: write once, then rename.

Every artifact the package replaces in place commits through
:func:`commit` and is read through :func:`open_table`: the streaming
sinks' snapshots, the refresher snapshot, purge and compaction output,
the IVF index, the BPE vocabulary and the near-dup graph index. This is
the only module that touches the Hadoop FileSystem API.

Protocol for a live directory ``<parent>/<name>``:

1. ``write(staging)`` writes the new content once, into the sidecar
   ``<parent>/.<name>__staging``; commit then marks it complete with a
   ``_SUCCESS`` file;
2. rename live -> ``<parent>/.<name>__old``;
3. rename staging -> live;
4. delete the old copy.

Every rename's return flag is checked (Hadoop reports most failures as
``False``, not as an exception): a failed staging -> live rename moves
the old copy back and raises. The bytes are written once and moved by
rename, which is atomic per directory on HDFS and local filesystems (on
an object store a rename is copy + delete; put a table format in front
of such a deployment).

A crash leaves one of three states. :func:`heal` finishes it, and every
writer (the sinks' batches, refresh, purge, compaction, expiry, build
and rebuild) calls it before it opens what it replaces or appends to:

- after step 1 live is intact: the complete staging copy is dropped;
- after step 2 live is missing: the complete staging copy is promoted
  (roll forward), or else the old copy is moved back;
- after step 3 live is new: the old copy is dropped.

Healing never promotes or deletes an unmarked staging copy. It renames
and deletes, so writers of one artifact run one at a time; that is the
caller's contract. Readers need no coordination: :func:`open_table`
changes nothing. Until a writer heals, it reads the copy a heal would
keep (the complete staging copy, else the old copy), so a reader after a
crash sees exactly the old or the new content. A reader that races the
renames of a live commit can find the files it listed moved; it then
fails and the read can be retried.

The sidecars start with a dot, so Spark's file listing skips them. A
commit of one partition directory (compaction commits ``batch=<id>``)
keeps its sidecars inside the table without readers seeing them: a
visible ``batch=2__old`` would turn the ``batch`` partition column into
a string for every reader. The commit unit may be an artifact root (the
IVF index, the BPE vocabulary, the graph index), a table, or one
partition directory; :func:`heal` and :func:`open_table` handle all
three levels around the path they are given.

Spark Connect sessions have no ``spark._jvm`` and cannot rename. There
:func:`commit` rewrites live from the staging copy and keeps that copy as
the recovery copy: :func:`open_table` reads it while live is torn, and
:func:`heal` restores live from it. Only flat table commits run there;
the artifacts that rename a root or a partition call :func:`require_jvm`
before they write anything.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "commit",
    "heal",
    "open_table",
    "sidecars",
    "require_jvm",
    "filesystem",
    "hadoop_path_exists",
    "committed_snapshot_exists",
    "delete_path",
]


#: A filesystem root ("", "/", "hdfs://nn", "file:"): no directory to heal.
_FS_ROOT = re.compile(r"(?:[A-Za-z][\w+.-]*:(?://[^/]*)?)?/*")


def sidecars(path: str) -> tuple[str, str]:
    """``(staging, old)``: the hidden sidecar directories of ``path``."""
    head, sep, name = path.rstrip("/").rpartition("/")
    return f"{head}{sep}.{name}__staging", f"{head}{sep}.{name}__old"


def require_jvm(spark: SparkSession, op: str) -> None:
    """Raise before ``op`` writes anything on a session that cannot rename."""
    if getattr(spark, "_jvm", None) is None:
        raise RuntimeError(
            f"{op} needs a classic SparkSession (it commits by renaming "
            "directories through the Hadoop FS API); Spark Connect sessions "
            "don't expose spark._jvm"
        )


class _Fs:
    """The Hadoop FileSystem a path's scheme resolves to (local, HDFS,
    s3a, ...), on the cluster's side rather than through ``os.path``."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self.fs = filesystem(spark, path)[0]

    def path(self, p: str):
        return self._path(p)

    def exists(self, p: str) -> bool:
        return bool(self.fs.exists(self._path(p)))

    def delete(self, p: str) -> None:
        self.fs.delete(self._path(p), True)

    def glob(self, pattern: str) -> list[str]:
        return [s.getPath().toString() for s in self.fs.globStatus(self._path(pattern)) or []]

    def committed(self, p: str) -> bool:
        """``p`` holds a ``_SUCCESS`` marker or any visible entry (a data
        file or a partition directory); a crashed overwrite leaves only
        ``_temporary``."""
        return self.exists(p + "/_SUCCESS") or bool(self.glob(_escape(p) + "/[!_.]*"))


def _rename(fs: _Fs, src: str, dst: str) -> bool:
    return bool(fs.fs.rename(fs.path(src), fs.path(dst)))


def _escape(path: str) -> str:
    """``path`` as a literal prefix of a Hadoop glob pattern."""
    return "".join("\\" + c if c in "\\{}[]*?" else c for c in path)


def filesystem(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the JVM Hadoop API."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` if it exists."""
    require_jvm(spark, "delete_path")
    _Fs(spark, path).delete(path)


def _path_exists_via_read(spark: SparkSession, path: str) -> bool:
    """Connect-compatible existence probe: ask the server to *analyze* a
    ``binaryFile`` scan of ``path``. Analysis resolves the path on the
    cluster's filesystem and raises ``PATH_NOT_FOUND`` when it is absent;
    no file content is read (binaryFile has a fixed schema, so an empty
    but existing directory analyzes fine)."""
    from pyspark.errors import AnalysisException

    try:
        spark.read.format("binaryFile").load(path).schema
        return True
    except AnalysisException as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return False
        raise


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on the filesystem its scheme resolves to:
    the JVM Hadoop FS API on a classic session, a ``binaryFile`` analysis
    probe on Spark Connect."""
    if getattr(spark, "_jvm", None) is None:
        return _path_exists_via_read(spark, path)
    return _Fs(spark, path).exists(path)


def committed_snapshot_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds a committed parquet snapshot: the directory
    exists and contains a ``_SUCCESS`` marker or a visible data file or
    partition directory. A crashed overwrite that left only
    ``_temporary`` reads as absent.

    On Spark Connect the check lists visible files with a column-pruned
    ``binaryFile`` scan (file sources hide ``_SUCCESS``, so a committed
    snapshot with zero data files reads as absent there)."""
    if getattr(spark, "_jvm", None) is None:
        if not _path_exists_via_read(spark, path):
            return False
        return bool(
            spark.read.format("binaryFile").load(path).select("path").collect()
        )
    return _Fs(spark, path).committed(path.rstrip("/"))


def _read(spark: SparkSession, path: str) -> DataFrame | None:
    """Parquet at ``path``, or None when it is absent (missing path, or
    nothing to infer a schema from). Any other AnalysisException, e.g.
    conflicting schemas across partitions, re-raises: treating it as
    absent would turn corruption into a silent no-op."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis on Connect
        return df
    except AnalysisException as exc:
        msg = str(exc)
        if (
            "PATH_NOT_FOUND" in msg
            or "Path does not exist" in msg
            or "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


def _heal(fs: _Fs, live: str) -> bool:
    """Finish an interrupted commit of ``live`` (module docstring); True
    when live was restored from a sidecar."""
    staging, old = sidecars(live)
    has_old = fs.exists(old)
    ready = fs.exists(staging + "/_SUCCESS")
    if not (has_old or ready):
        return False
    if fs.committed(live):
        fs.delete(old)
        if ready:
            fs.delete(staging)
        return False
    src = staging if ready else old
    fs.delete(live)  # crashed-overwrite debris, if any
    if not _rename(fs, src, live) and not fs.committed(live):
        raise IOError(
            f"could not restore {live!r} from {src!r}: move it back by hand"
        )
    fs.delete(old)
    return True


def _children(fs: _Fs, live: str) -> list[str]:
    """Names of the directories under ``live`` that have sidecars."""
    return sorted({
        p.rpartition("/")[2][1:].rpartition("__")[0]
        for p in fs.glob(_escape(live) + "/.*__{staging,old}")
    })


def heal(spark: SparkSession, path: str) -> bool:
    """Finish any interrupted commit around ``path``: of its parent
    directory (an artifact committed as a whole root), of ``path``
    itself, and of the directories under it (a table's partitions, or a
    root's tables). True when something was restored from a sidecar.

    Writers only: call it before opening what you are about to replace
    or append to. It renames and deletes sidecars, so it must not run
    beside another writer's commit of the same artifact; readers use
    :func:`open_table`, which changes nothing."""
    live = path.rstrip("/")
    if getattr(spark, "_jvm", None) is None:
        staging = sidecars(live)[0]
        if _read(spark, live) is not None or _read(spark, staging) is None:
            return False
        spark.read.parquet(staging).write.mode("overwrite").parquet(live)
        return True
    fs = _Fs(spark, live)
    parent = live.rpartition("/")[0]
    healed = not _FS_ROOT.fullmatch(parent) and _heal(fs, parent)
    healed = _heal(fs, live) or healed
    for name in _children(fs, live):
        healed = _heal(fs, f"{live}/{name}") or healed
    return healed


def _debris(live: str) -> RuntimeError:
    return RuntimeError(
        f"{live!r} exists but holds no committed files (crashed overwrite "
        "debris) and no committed copy to recover from; refusing to treat "
        "it as absent: inspect or remove the debris manually"
    )


class _Moved(Exception):
    """A sidecar an open was reading was renamed by a commit."""


def _copy(fs: _Fs, live: str) -> str | None:
    """Where ``live``'s committed content sits while a commit of it is
    unfinished: the complete staging copy (the commit rolls forward),
    else the old copy; None when there is neither."""
    staging, old = sidecars(live)
    if fs.exists(staging + "/_SUCCESS"):
        return staging
    return old if fs.exists(old) else None


def _read_copy(spark: SparkSession, fs: _Fs, src: str, root: str):
    """``_read(src)``, raising :class:`_Moved` when ``src``'s sidecar
    ``root`` was renamed away in the meantime."""
    df = _read(spark, src)
    if df is None and not fs.exists(root):
        raise _Moved(src)
    return df


def _open(spark: SparkSession, fs: _Fs, live: str) -> DataFrame | None:
    from pyspark.sql import functions as F

    df = _read(spark, live)
    if df is None:
        src = _copy(fs, live)
        if src is not None:
            return _read_copy(spark, fs, src, src)
        parent, _, name = live.rpartition("/")
        if not _FS_ROOT.fullmatch(parent) and not fs.exists(parent):
            src = _copy(fs, parent)
            if src is not None:
                return _read_copy(spark, fs, f"{src}/{name}", src)
        if fs.exists(live + "/_temporary"):
            raise _debris(live)
        return None
    # a partition directory moved aside by an unfinished commit
    for name in _children(fs, live):
        col, eq, value = name.partition("=")
        src = None if not eq or fs.exists(f"{live}/{name}") else _copy(fs, f"{live}/{name}")
        part = None if src is None else _read_copy(spark, fs, src, src)
        if part is not None and col in df.columns:
            part = part.withColumn(col, F.lit(value).cast(df.schema[col].dataType))
            df = df.unionByName(part).select(*df.columns)
    return df


def open_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The committed parquet table at ``path``, or None when it is absent.

    Read-only: it never renames or deletes anything. Where a commit of
    ``path``, of its parent root or of one of its partitions is unfinished
    (crashed, or in flight), it reads the copy the commit rolls forward
    to, else the old copy. Raises on crashed-overwrite debris (only
    ``_temporary`` left) with no copy to read."""
    live = path.rstrip("/")
    if getattr(spark, "_jvm", None) is None:
        df = _read(spark, live)
        if df is None:
            df = _read(spark, sidecars(live)[0])  # the recovery copy
            if df is None and _path_exists_via_read(spark, live + "/_temporary"):
                raise _debris(live)
        return df
    fs = _Fs(spark, live)
    for _ in range(3):
        try:
            return _open(spark, fs, live)
        except _Moved:
            continue  # a commit renamed the copy we were reading: look again
    raise IOError(f"{live!r} kept moving while it was opened; retry the read")


def commit(
    spark: SparkSession, live: str, write: Callable[[str], None]
) -> None:
    """Replace the directory ``live`` with what ``write(staging)`` writes.

    ``write`` is called exactly once, with the staging path, and may read
    ``live`` (lazily or not): live is untouched until it returns. A
    writer that reads live opens it after :func:`heal`, so what it read
    is not moved under it by the heal this commit starts with. On a
    classic session the staging copy then becomes live by rename and is
    never read back (if ``write`` raises, the staging copy is removed and
    live stays as it was); on Spark Connect live is rewritten from it."""
    live = live.rstrip("/")
    staging, old = sidecars(live)
    if getattr(spark, "_jvm", None) is None:
        write(staging)
        spark.read.parquet(staging).write.mode("overwrite").parquet(live)
        return
    fs = _Fs(spark, live)
    _heal(fs, live)
    fs.delete(staging)  # a crashed write's partial copy
    try:
        write(staging)
    except BaseException:
        fs.delete(staging)
        raise
    fs.fs.create(fs.path(staging + "/_SUCCESS"), True).close()
    moved = fs.exists(live)
    if moved and not _rename(fs, live, old):
        raise IOError(f"commit: rename {live} -> {old} failed; live untouched")
    if not _rename(fs, staging, live) and (
        fs.exists(staging) or not fs.committed(live)
    ):
        # A False flag with staging gone and live committed means the
        # staged copy was already promoted (a heal ran in between): done.
        # Otherwise staging is still there (or live empty): it failed.
        # Put the old copy back; never delete it, it is the only copy.
        if moved and not _rename(fs, old, live):
            raise IOError(
                f"commit: rename {staging} -> {live} failed and so did the "
                f"rollback {old} -> {live}; the previous copy survives at "
                f"{old}: move it back by hand"
            )
        fs.delete(staging)
        raise IOError(
            f"commit: rename {staging} -> {live} failed; live rolled back"
        )
    fs.delete(old)
