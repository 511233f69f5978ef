"""The write-once, rename-commit primitive (spark_pipeline_spark/io/commit.py)
and the kill-point matrix: every persisted artifact, killed at every step
of its commit, reads back as exactly its old or its new content without
the read changing any file, and its next writer leaves no sidecar
behind."""

from __future__ import annotations

import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from spark_pipeline_spark.io import commit as commit_mod
from spark_pipeline_spark.io.commit import commit, heal, open_table, sidecars
from tests.commit_kill import CommitKilled, kill_commit, sidecar_residue
from tests.conftest import SF_SMALL

PKG = pathlib.Path(__file__).resolve().parent.parent / "spark_pipeline_spark"


def _rows(df, *cols) -> frozenset | None:
    if df is None:
        return None
    df = df.select(*cols) if cols else df
    return frozenset(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def _tables(spark, root: str, names: tuple[str, ...]) -> dict:
    return {n: _rows(open_table(spark, f"{root}/{n}")) for n in names}


def _tree(root) -> dict:
    """Every file under ``root`` with its size: what a read must not change."""
    return {
        os.path.relpath(os.path.join(d, f), str(root)): os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(str(root))
        for f in files
    }


# --------------------------------------------------------------------------
# artifacts: setup() commits the old content, run() commits the new
# content (killed in the matrix), content() reopens and reads it back
# --------------------------------------------------------------------------

_SPEC = {"total": ("sum", "value"), "n": ("count", "value")}


class _Snapshot:
    """A foreachBatch sink snapshot (``_replay_guarded_swap``)."""

    changes = True

    def __init__(self, additive: bool) -> None:
        self.additive = additive

    def _merge(self, spark, batch_id):
        from spark_pipeline_spark.operators.incremental import (
            aggregate_snapshot,
            incremental_agg_merge,
        )
        from spark_pipeline_spark.operators.merge import merge_upsert

        rows = [[("a", 1.0, 0), ("b", 2.0, 0)], [("a", 10.0, 1)]][batch_id]
        batch = spark.createDataFrame(rows, "k string, value double, version int")
        if self.additive:
            batch = batch.drop("version")
            return lambda cur: (
                aggregate_snapshot(batch, ["k"], _SPEC) if cur is None
                else incremental_agg_merge(cur, batch, ["k"], _SPEC)
            )
        return lambda cur: merge_upsert(
            batch.limit(0) if cur is None else cur, batch, ["k"], "version"
        )

    def setup(self, spark, root):
        from spark_pipeline_spark.streaming import _replay_guarded_swap

        _replay_guarded_swap(spark, root, 0, self._merge(spark, 0))

    def run(self, spark, root):
        from spark_pipeline_spark.streaming import _replay_guarded_swap

        _replay_guarded_swap(spark, root, 1, self._merge(spark, 1))

    def content(self, spark, root):
        return {"snapshot": _rows(open_table(spark, root))}


class _Refresher:
    changes = True

    def _conf(self, root, day):
        import json

        conf = pathlib.Path(root + f"_{day}.json")
        conf.write_text(json.dumps({
            "snapshot": {"path": root},
            "delta": {"storage": "file", "path": root + f"_{day}_delta"},
            "delta-id": day,
            "keys": ["o_orderstatus"],
            "aggregates": {"n_orders": {"kind": "count", "column": "o_orderkey"}},
        }))
        return str(conf)

    def _run(self, spark, root, day):
        from spark_pipeline_spark.cli import main_refresher
        from spark_pipeline_spark.queries import t

        delta = root + f"_{day}_delta"
        if not os.path.exists(delta):
            cut = F.col("o_orderdate") < "1996-01-01"
            t(spark, SF_SMALL, "orders").filter(cut if day == "day1" else ~cut).write.parquet(delta)
        assert main_refresher(["--conf", self._conf(root, day)]) == 0

    def setup(self, spark, root):
        self._run(spark, root, "day1")

    def run(self, spark, root):
        self._run(spark, root, "day2")

    def content(self, spark, root):
        return {"snapshot": _rows(open_table(spark, root), "o_orderstatus", "n_orders")}


class _LshPurge:
    changes = True
    tables = ("bands", "shingles")

    def setup(self, spark, root):
        for name in self.tables:
            spark.createDataFrame(
                [(i, f"{name}{i}", i % 3) for i in range(9)], "__id int, v string, batch int"
            ).write.partitionBy("batch").parquet(f"{root}/{name}")

    def run(self, spark, root):
        from spark_pipeline_spark.streaming import purge_ids_from_dedup_index

        purge_ids_from_dedup_index(spark, root, spark.createDataFrame([(4,)], "id int"))

    def content(self, spark, root):
        return _tables(spark, root, self.tables)


class _CompactBatches:
    # compaction must not change what readers see: old and new content
    # are the same distinct rows, only the directory layout differs
    changes = False

    def setup(self, spark, root):
        rows = [(i % 5, f"k{i % 5}", i % 3) for i in range(12)]
        spark.createDataFrame(rows, "__id int, __key string, batch int").write.partitionBy(
            "batch"
        ).parquet(f"{root}/bands")

    def run(self, spark, root):
        from spark_pipeline_spark.streaming import compact_index_batches

        assert compact_index_batches(spark, root, 0, ("bands",)) in (
            {"bands": [0, 1, 2]}, {"bands": []},
        )

    def content(self, spark, root):
        return {"bands": _rows(open_table(spark, f"{root}/bands"), "__id", "__key")}


class _CompactParquet:
    changes = False

    def setup(self, spark, root):
        spark.range(200).repartition(8).write.parquet(root)

    def run(self, spark, root):
        from spark_pipeline_spark.io.maintenance import compact_parquet

        compact_parquet(spark, root, target_mb=512)

    def content(self, spark, root):
        return {"table": _rows(open_table(spark, root))}


_IVF_TABLES = ("centroids", "assignments", "codes", "pq_codebook", "codes_pq")


def _vectors(spark, n: int):
    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(4)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


class _IvfBuild:
    changes = True

    def setup(self, spark, root):
        from spark_pipeline_spark.ann_index import build_ivf_index

        build_ivf_index(spark, _vectors(spark, 40), root, k_cells=3, pq_m=2)

    def run(self, spark, root):
        from spark_pipeline_spark.ann_index import build_ivf_index

        build_ivf_index(spark, _vectors(spark, 60), root, k_cells=4)

    def content(self, spark, root):
        return _tables(spark, root, _IVF_TABLES)


class _IvfRebuild(_IvfBuild):
    def run(self, spark, root):
        from spark_pipeline_spark.ann_index import rebuild_ivf_index

        rebuild_ivf_index(spark, root, k_cells=5)


class _IvfPurge(_IvfBuild):
    def run(self, spark, root):
        from spark_pipeline_spark.ann_index import purge_ids_from_ivf_index

        purge_ids_from_ivf_index(spark, root, spark.createDataFrame([(3,), (17,)], "id long"))


class _BpeRetrain:
    changes = True

    def setup(self, spark, root):
        from spark_pipeline_spark.operators.bpe import build_bpe_vocab

        build_bpe_vocab(spark, spark.createDataFrame([("abab", 10)], "term string, n long"), root, 2)

    def run(self, spark, root):
        from spark_pipeline_spark.operators.bpe import retrain_bpe_vocab

        words = spark.createDataFrame([("zzzz", 8), ("zzq", 4)], "term string, n long")
        assert retrain_bpe_vocab(spark, root, words)["swapped"] == ["merges", "symbols", "stats"]

    def content(self, spark, root):
        return _tables(spark, root, ("merges", "symbols", "stats"))


class _GraphIndex:
    changes = True

    def _docs(self, spark, n):
        base = "a shared sentence about spark pipelines and parquet tables"
        rows = [(i, base + ("" if i % 2 else f" tail {i // 2}")) for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def setup(self, spark, root):
        from spark_pipeline_spark.graph_index import build_neardup_graph_index

        build_neardup_graph_index(spark, self._docs(spark, 8), root, "fp1")

    def run(self, spark, root):
        from spark_pipeline_spark.graph_index import build_neardup_graph_index

        build_neardup_graph_index(spark, self._docs(spark, 6), root, "fp2")

    def content(self, spark, root):
        return _tables(spark, root, (
            "manifest", "shingles", "bands", "edges", "components", "communities",
        ))


ARTIFACTS = {
    "upsert_snapshot": _Snapshot(additive=False),
    "incremental_agg_snapshot": _Snapshot(additive=True),
    "refresher": _Refresher(),
    "lsh_purge": _LshPurge(),
    "compact_index_batches": _CompactBatches(),
    "compact_parquet": _CompactParquet(),
    "ivf_build": _IvfBuild(),
    "ivf_rebuild": _IvfRebuild(),
    "ivf_purge": _IvfPurge(),
    "bpe_retrain": _BpeRetrain(),
    "graph_index": _GraphIndex(),
}


@pytest.mark.parametrize("step", [1, 2, 3])
@pytest.mark.parametrize("name", sorted(ARTIFACTS))
def test_kill_point_matrix(spark, tmp_path, monkeypatch, name, step):
    """Kill the artifact's commit at ``step``, read it, then retry the
    operation: the read sees exactly the old content (step 1) or the new
    content (steps 2 and 3) — per committed table, never torn or empty —
    and changes no file; the retried operation, a writer, heals the
    crash and leaves no sidecar."""
    art = ARTIFACTS[name]
    root = str(tmp_path / "artifact")
    art.setup(spark, root)
    old = art.content(spark, root)
    assert all(v for v in old.values()), old

    with kill_commit(monkeypatch, step), pytest.raises(CommitKilled):
        art.run(spark, root)
    crashed = _tree(tmp_path)
    assert sidecar_residue(tmp_path)  # the crash left its sidecars
    got = art.content(spark, root)
    assert _tree(tmp_path) == crashed  # reading changes nothing

    art.run(spark, root)  # the retried operation heals, then completes
    new = art.content(spark, root)
    assert sidecar_residue(tmp_path) == []
    assert (new != old) == art.changes
    for table, rows in got.items():
        assert rows in (old[table], new[table]), table
    if step == 1:
        assert got == old
    elif art.changes:
        assert got != old  # the killed commit rolled forward


def test_kill_point_snapshot_replay_merges_exactly_once(spark, tmp_path, monkeypatch):
    """A batch whose commit rolled forward is replayed by foreachBatch:
    the replay is skipped, so the additive snapshot holds it once; a
    batch killed before its first rename merges on replay, once."""
    art = ARTIFACTS["incremental_agg_snapshot"]
    for step in (1, 2):
        root = str(tmp_path / f"snap{step}")
        art.setup(spark, root)
        with kill_commit(monkeypatch, step), pytest.raises(CommitKilled):
            art.run(spark, root)
        art.run(spark, root)
        art.run(spark, root)
        got = {r["k"]: (r["total"], r["n"]) for r in open_table(spark, root).collect()}
        assert got == {"a": (11.0, 2), "b": (2.0, 1)}


def test_commit_renames_and_never_reads_staging(spark, tmp_path, monkeypatch):
    """On a JVM session the staged bytes are written once and moved by
    rename: no read of the staging copy, no second write of the data."""
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    live = str(tmp_path / "t")
    spark.range(3).write.parquet(live)
    reads, writes = [], []
    real_read, real_write = DataFrameReader.parquet, DataFrameWriter.parquet

    def read(self, *paths, **kw):
        reads.extend(paths)
        return real_read(self, *paths, **kw)

    def write(self, path, *a, **kw):
        writes.append(path)
        return real_write(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", read)
    monkeypatch.setattr(DataFrameWriter, "parquet", write)
    commit(spark, live, spark.range(5).write.parquet)
    monkeypatch.undo()
    assert reads == []
    assert writes == [sidecars(live)[0]]
    assert spark.read.parquet(live).count() == 5
    assert sidecar_residue(tmp_path) == []


def test_commit_failed_write_leaves_live_and_no_staging(spark, tmp_path):
    live = str(tmp_path / "t")
    spark.range(3).write.parquet(live)

    def write(staging):
        spark.range(9).write.parquet(staging)
        raise ValueError("validation failed after a partial write")

    with pytest.raises(ValueError, match="validation failed"):
        commit(spark, live, write)
    assert spark.read.parquet(live).count() == 3
    assert sidecar_residue(tmp_path) == []


def test_commit_false_rename_rolls_back(spark, tmp_path, monkeypatch):
    """Hadoop reports most rename failures as False: a failed staging ->
    live rename puts the old copy back and raises."""
    live = str(tmp_path / "t")
    spark.range(3).write.parquet(live)
    real = commit_mod._rename
    monkeypatch.setattr(
        commit_mod, "_rename",
        lambda fs, src, dst: False if src.endswith("__staging") else real(fs, src, dst),
    )
    with pytest.raises(IOError, match="rolled back"):
        commit(spark, live, spark.range(5).write.parquet)
    monkeypatch.undo()
    assert not os.path.exists(sidecars(live)[1])
    assert open_table(spark, live).count() == 3
    assert sidecar_residue(tmp_path) == []


def test_commit_counts_a_concurrent_heal_as_success(spark, tmp_path, monkeypatch):
    """A heal that runs between the two renames promotes the staged copy
    itself; the writer's staging -> live rename then fails, and the
    commit accepts it because live holds its staged copy."""
    live = str(tmp_path / "t")
    spark.range(3).write.parquet(live)
    real = commit_mod._rename

    def rename(fs, src, dst):
        if src.endswith("__staging"):
            monkeypatch.setattr(commit_mod, "_rename", real)
            assert heal(spark, live) is True  # the interleaved heal
            assert open_table(spark, live).count() == 5
            return False
        return real(fs, src, dst)

    monkeypatch.setattr(commit_mod, "_rename", rename)
    commit(spark, live, spark.range(5).write.parquet)
    assert open_table(spark, live).count() == 5
    assert sidecar_residue(tmp_path) == []


def test_heal_restores_old_when_staging_is_lost(spark, tmp_path, monkeypatch):
    """Live moved aside and no complete staging copy: a read serves the
    old copy where it lies, and a writer's heal moves it back."""
    live = str(tmp_path / "t")
    spark.range(3).write.parquet(live)
    with kill_commit(monkeypatch, 2), pytest.raises(CommitKilled):
        commit(spark, live, spark.range(5).write.parquet)
    staging, old = sidecars(live)
    commit_mod.delete_path(spark, staging)
    assert not os.path.exists(live) and os.path.exists(old)
    assert open_table(spark, live).count() == 3
    assert not os.path.exists(live) and os.path.exists(old)
    assert heal(spark, live) is True
    assert heal(spark, live) is False
    assert open_table(spark, live).count() == 3
    assert sidecar_residue(tmp_path) == []


def test_reads_during_a_commit_change_nothing(spark, tmp_path, monkeypatch):
    """Reads interleaved with every step of a live commit: after the
    staging copy is marked complete (live still committed), between the
    two renames, and before the old copy is deleted. Each read sees the
    old or the new rows and moves or deletes nothing, so the commit
    completes and no copy is lost."""
    live = str(tmp_path / "t")
    spark.range(3).write.parquet(live)
    real = commit_mod._rename
    seen = []

    def read():
        before = _tree(tmp_path)
        seen.append(open_table(spark, live).count())
        assert _tree(tmp_path) == before

    def rename(fs, src, dst):
        read()
        ok = real(fs, src, dst)
        read()
        return ok

    monkeypatch.setattr(commit_mod, "_rename", rename)
    commit(spark, live, spark.range(5).write.parquet)
    monkeypatch.undo()
    assert seen == [3, 5, 5, 5]
    assert open_table(spark, live).count() == 5
    assert sidecar_residue(tmp_path) == []


def test_partition_commit_killed_mid_swap_reads_whole_table(spark, tmp_path, monkeypatch):
    """A commit of one partition directory killed after live -> old: the
    table read still holds that partition's rows (from the complete
    staging copy, typed like the live partition column), and the read
    changes nothing until a writer heals it."""
    table = str(tmp_path / "t")
    spark.range(6).select("id", (F.col("id") % 3).cast("int").alias("batch")).write.partitionBy(
        "batch"
    ).parquet(table)
    with kill_commit(monkeypatch, 2), pytest.raises(CommitKilled):
        commit(spark, f"{table}/batch=1", spark.range(10, 13).write.parquet)
    assert not os.path.exists(f"{table}/batch=1")
    crashed = _tree(tmp_path)
    df = open_table(spark, table)
    assert _tree(tmp_path) == crashed
    assert df.dtypes == [("id", "bigint"), ("batch", "int")]
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [(0, 0), (2, 2), (3, 0), (5, 2), (10, 1), (11, 1), (12, 1)]
    assert heal(spark, table) is True
    assert sorted(tuple(r) for r in open_table(spark, table).collect()) == rows
    assert sidecar_residue(tmp_path) == []


def test_open_table_raises_on_unrecoverable_debris(spark, tmp_path):
    debris = tmp_path / "t"
    (debris / "_temporary").mkdir(parents=True)
    with pytest.raises(RuntimeError, match="crashed overwrite debris"):
        open_table(spark, str(debris))
    (tmp_path / "empty").mkdir()
    assert open_table(spark, str(tmp_path / "empty")) is None
    assert open_table(spark, str(tmp_path / "absent")) is None


def test_partition_sidecars_stay_hidden_from_readers(spark, tmp_path):
    """A sidecar inside a ``partitionBy("batch")`` table must not change
    what readers see: a visible ``batch=2__old`` directory would turn the
    ``batch`` column into a string; the dot-prefixed sidecar is skipped
    by the listing and still readable by its explicit path."""
    table = str(tmp_path / "t")
    spark.range(6).select("id", (F.col("id") % 3).cast("int").alias("batch")).write.partitionBy(
        "batch"
    ).parquet(table)
    spark.range(2).write.parquet(f"{table}/batch=2__old")
    assert dict(spark.read.parquet(table).dtypes)["batch"] == "string"
    commit_mod.delete_path(spark, f"{table}/batch=2__old")

    staging = sidecars(f"{table}/batch=1")[0]
    assert staging == f"{table}/.batch=1__staging"
    spark.range(100, 104).write.parquet(staging)
    df = spark.read.parquet(table)
    assert dict(df.dtypes)["batch"] == "int" and df.count() == 6
    assert spark.read.parquet(staging).count() == 4


def test_memoized_read_sees_schema_of_new_commit(spark, tmp_path):
    """``read_parquet_catalog`` memoizes schemas by (path, modification
    time); a rename commit of a new schema must not be served the old
    one."""
    from spark_pipeline_spark.session import read_parquet_catalog

    live = str(tmp_path / "t")
    spark.range(3).write.parquet(live)
    assert read_parquet_catalog(spark, live).columns == ["id"]
    commit(spark, live, spark.range(3).select("id", F.lit("x").alias("tag")).write.parquet)
    assert read_parquet_catalog(spark, live).columns == ["id", "tag"]


def test_only_io_commit_touches_the_filesystem():
    """``getFileSystem(`` and the sidecar suffixes appear only in
    io/commit.py: every other module commits and opens through it."""
    pattern = re.compile(r"getFileSystem\(|__staging|__old")
    hits = [
        f"{path.relative_to(PKG)}:{i}"
        for path in PKG.rglob("*.py")
        if path.relative_to(PKG).as_posix() != "io/commit.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []
