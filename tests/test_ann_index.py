"""Persisted IVF index lifecycle: build → refresh → search → purge.

The contract under test is the one the LSH dedup index already meets
(`test_streaming.py`): incremental maintenance is EQUIVALENT to a
rebuild, replays are idempotent by batch path, search reads only
persisted state (and prunes to the probed cells), and a purged vector
stops being retrievable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_pipeline_spark.ann_index import (
    build_ivf_index,
    ivf_index_search,
    ivf_index_stats,
    purge_ids_from_ivf_index,
    refresh_ivf_index,
)
from spark_pipeline_spark.queries import t
from tests.commit_kill import CommitKilled, kill_commit, sidecar_residue
from tests.conftest import SF_SMALL


def _emb(spark):
    return t(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")


def _assignment_set(spark, path):
    return {
        (r["vec_id"], r["cell"], r["batch"])
        for r in spark.read.parquet(path + "/assignments").select(
            "vec_id", "cell", "batch"
        ).collect()
    }


def test_incremental_refresh_matches_rebuild(spark, tmp_path):
    """Build on 70% then refresh with two 15% batches: the persisted
    (vec_id → cell) map equals a one-shot rebuild over the full corpus
    (centroids are seeded from the same lowest ids and never retrained,
    so assignment is batch-order independent), and search over the
    incremental index returns exactly the rebuilt index's results."""
    e = _emb(spark)
    inc_path = str(tmp_path / "ivf_inc")
    full_path = str(tmp_path / "ivf_full")

    base = e.filter(F.col("vec_id") < 350)
    b1 = e.filter((F.col("vec_id") >= 350) & (F.col("vec_id") < 425))
    b2 = e.filter(F.col("vec_id") >= 425)

    info = build_ivf_index(spark, base, inc_path, k_cells=4)
    assert info["n_vectors"] == 350
    rep1 = refresh_ivf_index(spark, b1, inc_path)
    rep2 = refresh_ivf_index(spark, b2, inc_path)
    assert rep1.agg(F.sum("n_new")).first()[0] == 75
    assert rep2.agg(F.sum("n_existing")).first()[0] == 425

    build_ivf_index(spark, e, full_path, k_cells=4)

    inc = {
        (v, c) for v, c, _ in _assignment_set(spark, inc_path)
    }
    full = {
        (v, c) for v, c, _ in _assignment_set(spark, full_path)
    }
    assert inc == full and len(inc) == 500

    queries = e.filter(F.col("vec_id") % 100 == 7)
    got_inc = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_index_search(spark, inc_path, queries, k=5, nprobe=2).collect()
    }
    got_full = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_index_search(spark, full_path, queries, k=5, nprobe=2).collect()
    }
    assert got_inc == got_full and len(got_inc) == 5 * queries.count()


def test_refresh_replay_is_idempotent(spark, tmp_path):
    """Re-running a refresh with the SAME batch_id (the crash-retry
    case) overwrites its own batch directory: no duplicate rows, same
    report."""
    e = _emb(spark)
    path = str(tmp_path / "ivf_replay")
    build_ivf_index(spark, e.filter(F.col("vec_id") < 400), path)
    batch = e.filter(F.col("vec_id") >= 400)
    rep_a = refresh_ivf_index(spark, batch, path, batch_id=1).collect()
    rep_b = refresh_ivf_index(spark, batch, path, batch_id=1).collect()
    assert sorted(map(tuple, rep_a)) == sorted(map(tuple, rep_b))
    asg = spark.read.parquet(path + "/assignments")
    assert asg.count() == 500
    assert asg.select("vec_id").distinct().count() == 500
    codes = spark.read.parquet(path + "/codes")
    assert codes.count() == 500


def test_purge_removes_retrievability(spark, tmp_path):
    """After purging a vec_id: (a) no trace in assignments/ or codes/,
    (b) searching with the purged vector itself never returns it while
    other neighbors are unchanged, (c) partition layout survives."""
    e = _emb(spark)
    path = str(tmp_path / "ivf_purge")
    build_ivf_index(spark, e, path)

    victim = 123
    q = e.filter(F.col("vec_id") == victim)
    before = ivf_index_search(spark, path, q, k=5, nprobe=4)
    assert {r["neighbor_id"] for r in before.collect()} >= {victim}

    removed = purge_ids_from_ivf_index(
        spark, path, spark.createDataFrame([(victim,)], "id long")
    )
    assert removed == {
        "assignments_removed": 1, "codes_removed": 1, "codes_pq_removed": 0,
    }

    asg = spark.read.parquet(path + "/assignments")
    assert asg.filter(F.col("vec_id") == victim).count() == 0
    assert {"batch", "cell"} <= set(asg.columns)  # layout preserved
    codes = spark.read.parquet(path + "/codes")
    assert codes.filter(F.col("vec_id") == victim).count() == 0

    after = ivf_index_search(spark, path, q, k=5, nprobe=4)
    got = {r["neighbor_id"] for r in after.collect()}
    assert victim not in got
    # the other former neighbors are still retrievable
    want = {
        r["neighbor_id"] for r in before.collect() if r["neighbor_id"] != victim
    }
    assert want <= got


def test_search_prunes_to_probed_cells(spark, tmp_path):
    """The 100 TB contract of the layout: a 1-probe search's physical
    scan of assignments/ carries a partition filter on `cell` — the
    corpus read prunes at the directory level instead of scanning every
    cell (PartitionFilters in the FileScan, dynamicpruning expression)."""
    e = _emb(spark)
    path = str(tmp_path / "ivf_prune")
    build_ivf_index(spark, e, path)
    q = e.filter(F.col("vec_id") == 3)
    plan = ivf_index_search(spark, path, q, k=3, nprobe=1)._jdf.queryExecution(
    ).executedPlan().toString()
    # the assignments scan is the one whose schema carries the batch +
    # cell partition columns; its PartitionFilters must dynamic-prune on
    # cell (plan paths are truncated in the string, so match columns)
    asg_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "cell#" in ln and "batch#" in ln
    ]
    assert asg_scans, "no assignments scan found in plan:\n" + plan
    assert all(
        "dynamicpruningexpression(cast(cell#" in ln
        or "dynamicpruningexpression(cell#" in ln
        for ln in asg_scans
    ), "assignments scan is not cell-pruned:\n" + "\n".join(asg_scans)


def test_index_stats_report(spark, tmp_path):
    """Stats over the persisted tables: every cell accounted for, batch
    span correct, int8 reconstruction error small but nonzero."""
    e = _emb(spark)
    path = str(tmp_path / "ivf_stats")
    build_ivf_index(spark, e.filter(F.col("vec_id") < 400), path)
    refresh_ivf_index(spark, e.filter(F.col("vec_id") >= 400), path)
    rows = ivf_index_stats(spark, path).collect()
    assert sum(r["n_vectors"] for r in rows) == 500
    assert all(1 <= r["n_batches"] <= 2 for r in rows)
    assert any(r["n_batches"] == 2 for r in rows)
    assert all(0 < r["mean_code_err"] < 0.01 for r in rows)


def test_int8_search_matches_float_search(spark, tmp_path):
    """The quantized-scan + float-rerank path returns the same top-k as
    the float search whenever the int8 shortlist covers it (oversample
    headroom) — and its first-pass ranking never touches the float
    table (memory-tight contract checked on recall, not the plan: the
    shortlist join is by id, bounded by |queries|*k*oversample)."""
    e = _emb(spark)
    path = str(tmp_path / "ivf_i8")
    build_ivf_index(spark, e, path, k_cells=4)
    queries = e.filter(F.col("vec_id") % 100 == 7)

    from spark_pipeline_spark.ann_index import ivf_index_search_int8

    got_f = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_index_search(spark, path, queries, k=5, nprobe=2).collect()
    }
    got_i = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_index_search_int8(
            spark, path, queries, k=5, nprobe=2, oversample=4
        ).collect()
    }
    assert len(got_i) == len(got_f) == 5 * queries.count()
    # rerank is exact-float, so agreement is per-(query, rank) recall;
    # int8 first-pass can only miss a true neighbor if quantization
    # reorders it out of the 4x shortlist — demand near-total agreement
    agree = sum(got_i[k2] == got_f[k2] for k2 in got_f)
    assert agree / len(got_f) >= 0.95, (agree, len(got_f))


def test_empty_corpus_build_refuses_and_empty_refresh_is_graceful(
    spark, tmp_path
):
    """An empty corpus must not produce a centroid-less index (a later
    refresh against it would silently drop every vector) — build raises.
    An empty REFRESH batch (cron tick with no new data) is the normal
    case and reports zero growth everywhere."""
    import pytest

    e = _emb(spark)
    empty = e.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="no vectors"):
        build_ivf_index(spark, empty, str(tmp_path / "ivf_empty"))

    path = str(tmp_path / "ivf_tick")
    build_ivf_index(spark, e, path)
    rep = refresh_ivf_index(spark, empty, path, batch_id=1).collect()
    assert rep and all(r["n_new"] == 0 for r in rep)
    assert sum(r["n_existing"] for r in rep) == 500
    assert all(r["resplit_flag"] == 0 for r in rep)
    # search still works over the unchanged corpus
    got = ivf_index_search(
        spark, path, e.filter(F.col("vec_id") == 5), k=3
    ).collect()
    assert len(got) == 3


def test_fully_purged_index_reads_as_empty_not_error(spark, tmp_path):
    """purge_ids_from_ivf_index deletes a sub-table's directory when its
    last row goes, and its contract says absence is the empty state —
    so search (float and int8 paths) and stats over a fully-purged
    index return ZERO rows with the normal result columns instead of
    raising AnalysisException."""
    from spark_pipeline_spark.ann_index import ivf_index_search_int8

    e = _emb(spark).filter(F.col("vec_id") < 20)
    path = str(tmp_path / "ivf_all_purged")
    build_ivf_index(spark, e, path, k_cells=2)
    removed = purge_ids_from_ivf_index(
        spark, path, e.select(F.col("vec_id").alias("id"))
    )
    assert removed == {
        "assignments_removed": 20, "codes_removed": 20, "codes_pq_removed": 0,
    }

    q = _emb(spark).filter(F.col("vec_id") == 400)
    got = ivf_index_search(spark, path, q, k=3, nprobe=2)
    assert got.count() == 0
    assert got.columns == ["query_id", "neighbor_id", "cell", "cosine", "rank"]
    got8 = ivf_index_search_int8(spark, path, q, k=3, nprobe=2)
    assert got8.count() == 0
    assert got8.columns == got.columns
    stats = ivf_index_stats(spark, path)
    assert stats.count() == 0
    assert stats.columns == ["cell", "n_vectors", "n_batches", "mean_code_err"]


def test_pq_search_lifecycle(spark, tmp_path):
    """PQ layer of the persisted index: build writes pq_codebook/ +
    codes_pq/batch=0; refresh appends codes_pq/batch=1 with the FIXED
    codebook; ivf_index_search_pq self-retrieves (ADC shortlist must
    contain the vector's own code row; float rerank pins cosine 1.0 at
    rank 1); purge removes the pq rows; a pre-PQ index (no codebook)
    refreshes gracefully without writing PQ codes."""
    from spark_pipeline_spark.ann_index import (
        ivf_index_pq_stats,
        ivf_index_search_pq,
    )
    from spark_pipeline_spark.io.commit import delete_path

    e = _emb(spark)
    old = e.filter(F.col("vec_id") < 400)
    new = e.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "ivf_pq")
    info = build_ivf_index(spark, old, path, k_cells=4, pq_m=2)
    assert info["pq_m"] == 2 and info["pq_k"] == 4
    cb = spark.read.parquet(path + "/pq_codebook")
    assert cb.count() == 2 * 4  # M x K rows
    refresh_ivf_index(spark, new, path, batch_id=1)
    pq = spark.read.parquet(path + "/codes_pq")
    assert {r["batch"] for r in pq.select("batch").distinct().collect()} == {0, 1}
    assert pq.count() == 500
    # codes are M ints, every value a valid codebook code
    row = pq.select("codes").head()
    assert len(row["codes"]) == 2 and all(0 <= c < 4 for c in row["codes"])

    q = e.filter(F.col("vec_id").isin(7, 123, 450))
    # modest oversample: k rows per query, rerank ordering is true cosine
    got = ivf_index_search_pq(spark, path, q, k=3, nprobe=4, oversample=5)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {7, 123, 450}
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3]
        assert rs[0]["cosine"] >= rs[1]["cosine"] >= rs[2]["cosine"]
    # exhaustive oversample covers every probed-cell candidate, so the
    # float rerank must EQUAL the float search exactly — the PQ pass
    # then only prunes, never reorders
    got_pq = ivf_index_search_pq(
        spark, path, q, k=3, nprobe=4, oversample=200
    ).select("query_id", "neighbor_id", "rank").collect()
    got_f = ivf_index_search(
        spark, path, q, k=3, nprobe=4
    ).select("query_id", "neighbor_id", "rank").collect()
    assert sorted(map(tuple, got_pq)) == sorted(map(tuple, got_f))

    stats = {r["cell"]: r for r in ivf_index_pq_stats(spark, path).collect()}
    assert sum(r["n_vectors"] for r in stats.values()) == 500
    assert all(r["mean_pq_err_micro"] >= 0 for r in stats.values())

    victim = 123
    removed = purge_ids_from_ivf_index(
        spark, path, spark.createDataFrame([(victim,)], "id long")
    )
    assert removed["codes_pq_removed"] == 1
    after = ivf_index_search_pq(
        spark, path, e.filter(F.col("vec_id") == 7), k=3, nprobe=4,
        oversample=5,
    )
    assert victim not in {r["neighbor_id"] for r in after.collect()}

    # pre-PQ index: drop the pq tables, refresh must not recreate them
    delete_path(spark, path + "/pq_codebook")
    delete_path(spark, path + "/codes_pq")
    refresh_ivf_index(
        spark, e.filter(F.col("vec_id") < 0), path, batch_id=2
    )
    from spark_pipeline_spark.io.commit import open_table

    assert open_table(spark, path + "/codes_pq") is None
    # and the PQ search over the de-PQ'd index is the empty state
    assert ivf_index_search_pq(spark, path, q, k=3).count() == 0


def _index_snapshot(spark, root):
    """Every table's content as hashable sets (None for absent tables)."""
    from spark_pipeline_spark.io.commit import open_table

    out = {}
    for name, cols in (
        ("centroids", ("cell", "centroid")),
        ("assignments", ("vec_id", "cell", "batch", "embedding")),
        ("codes", ("vec_id", "cell", "codes", "scale")),
        ("pq_codebook", ("m", "code", "cv")),
        ("codes_pq", ("vec_id", "cell", "codes")),
    ):
        df = open_table(spark, f"{root}/{name}")
        if df is None:
            out[name] = None
            continue
        out[name] = {
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        }
    return out


def test_rebuild_equals_fresh_build_and_serves_during_staging(spark, tmp_path):
    """VERDICT r12 item 3. (a) rebuild ≡ build_ivf_index on the same
    corpus and parameters — every table hash-identical; (b) while the
    staged index is being built (on_staged hook), searches against the
    LIVE path still return the exact pre-rebuild results — an in-flight
    reader never sees a half-index; (c) after the swap, searches serve
    the retrained index and no staging/__old residue remains."""
    import os

    from spark_pipeline_spark.ann_index import rebuild_ivf_index

    e = _emb(spark)
    live = str(tmp_path / "rb_live")
    build_ivf_index(
        spark, e.filter(F.col("vec_id") < 400), live, k_cells=4, pq_m=2
    )
    refresh_ivf_index(spark, e.filter(F.col("vec_id") >= 400), live, batch_id=1)

    queries = e.filter(F.col("vec_id") < 10)
    before = sorted(
        tuple(r) for r in ivf_index_search(
            spark, live, queries, k=3, nprobe=2
        ).collect()
    )

    seen_during = {}

    def probe_during_staging():
        seen_during["res"] = sorted(
            tuple(r) for r in ivf_index_search(
                spark, live, queries, k=3, nprobe=2
            ).collect()
        )

    info = rebuild_ivf_index(
        spark, live, k_cells=6, on_staged=probe_during_staging
    )
    # (b) mid-rebuild search saw exactly the old index
    assert seen_during["res"] == before
    # PQ layer inherited from the live codebook (m=2)
    assert info["pq_m"] == 2 and info["k_cells"] == 6
    assert set(info["swapped"]) == {
        "centroids", "assignments", "codes", "pq_codebook", "codes_pq"
    }

    # (a) fresh build over the same corpus/params is table-identical
    fresh = str(tmp_path / "rb_fresh")
    build_ivf_index(
        spark,
        spark.read.parquet(live + "/assignments").select("vec_id", "embedding"),
        fresh, k_cells=6, pq_m=2,
    )
    assert _index_snapshot(spark, live) == _index_snapshot(spark, fresh)

    # (c) post-swap search works; six cells exist; no residue dirs
    after = ivf_index_search(spark, live, queries, k=3, nprobe=2)
    assert after.count() == queries.count() * 3
    assert spark.read.parquet(live + "/centroids").count() == 6
    assert sidecar_residue(tmp_path) == []
    assert sorted(os.listdir(str(tmp_path))) == ["rb_fresh", "rb_live"]


def test_rebuild_defaults_keep_shape_and_pq_drop(spark, tmp_path):
    """Defaults: k_cells keeps the live centroid count, absent PQ stays
    absent; pq_m=0 drops a live PQ layer; rebuilding a non-index raises."""
    import pytest

    from spark_pipeline_spark.ann_index import rebuild_ivf_index

    e = _emb(spark)
    live = str(tmp_path / "rbd_live")
    build_ivf_index(spark, e.filter(F.col("vec_id") < 300), live, k_cells=4)
    info = rebuild_ivf_index(spark, live)
    assert info["k_cells"] == 4 and info["pq_m"] is None
    assert _index_snapshot(spark, live)["pq_codebook"] is None

    # live PQ layer dropped on request
    live2 = str(tmp_path / "rbd_live2")
    build_ivf_index(
        spark, e.filter(F.col("vec_id") < 300), live2, k_cells=4, pq_m=2
    )
    info2 = rebuild_ivf_index(spark, live2, pq_m=0)
    assert info2["pq_m"] is None
    snap = _index_snapshot(spark, live2)
    assert snap["pq_codebook"] is None and snap["codes_pq"] is None

    with pytest.raises(ValueError, match="no assignments"):
        rebuild_ivf_index(spark, str(tmp_path / "not_an_index"))


def test_pq_encode_literal_path_equals_join_path(spark):
    """The literal-codebook (map-only) PQ encode must be bit-identical
    to the broadcast-join fallback: same integer-micro distance fold,
    same (min dist, then min code) tie-break, same codes array order.
    Ties are exercised via duplicated vectors (equal distances to the
    same codebook entries)."""
    from spark_pipeline_spark.ann_index import (
        _pq_encode,
        _pq_encode_join,
        _pq_train_codebook,
    )

    base = (
        _emb(spark)
        .limit(120)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    # duplicate a slice under new ids: equal embeddings force distance
    # ties so the lower-code tie-break is actually exercised
    dup = base.limit(20).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    assigned = (
        base.unionByName(dup)
        .withColumn("cell", (F.col("vec_id") % 3).cast("int"))
    )
    dim = len(base.head()["embedding"])
    for m_sub, k in ((2, 4), (4, 3)):
        cb = _pq_train_codebook(base, m_sub, k, dim)
        lit = _pq_encode(assigned, cb, dim, m_sub=m_sub)
        join = _pq_encode_join(assigned, cb, dim, m_sub)
        as_set = lambda df: {
            (r["vec_id"], r["cell"], tuple(r["codes"])) for r in df.collect()
        }
        assert as_set(lit) == as_set(join)


def test_failing_pq_m_rebuild_leaves_live_index_untouched(spark, tmp_path):
    """VERDICT r15 item 3: pq_m validation must run BEFORE any table is
    written. A rebuild with a pq_m that does not divide dim aborts with
    the live index byte-identical — no new centroids over old
    assignments, no staging residue promoted."""
    import pytest

    from spark_pipeline_spark.ann_index import rebuild_ivf_index

    e = _emb(spark)
    live = str(tmp_path / "valid_live")
    build_ivf_index(spark, e.filter(F.col("vec_id") < 300), live, k_cells=4)
    before = _index_snapshot(spark, live)
    dim = len(e.head()["embedding"])
    bad = dim + 1  # never divides dim
    with pytest.raises(ValueError, match="not divisible"):
        rebuild_ivf_index(spark, live, pq_m=bad)
    assert _index_snapshot(spark, live) == before
    # direct build path over a live index: same guarantee
    with pytest.raises(ValueError, match="not divisible"):
        build_ivf_index(
            spark, e.filter(F.col("vec_id") < 300), live, k_cells=4, pq_m=bad
        )
    assert _index_snapshot(spark, live) == before


def test_rebuild_recovers_from_mid_commit_crash(spark, tmp_path, monkeypatch):
    """A crash between rename(live root -> old) and rename(staged root ->
    live) leaves no live index. The next rebuild must finish the
    interrupted commit and proceed — rolling forward from the completed
    staging root, or, when that copy is lost, back from the old root —
    instead of raising 'no assignments'."""
    import os

    import pytest

    from spark_pipeline_spark.ann_index import rebuild_ivf_index
    from spark_pipeline_spark.io.commit import delete_path, sidecars

    e = _emb(spark)
    corpus = e.filter(F.col("vec_id") < 300)
    n_vecs = corpus.count()

    # shape 1: the completed staging root is promoted (roll forward)
    live = str(tmp_path / "cr_live")
    build_ivf_index(spark, corpus, live, k_cells=4)
    with kill_commit(monkeypatch, 2), pytest.raises(CommitKilled):
        rebuild_ivf_index(spark, live, k_cells=6)
    assert not os.path.exists(live)
    info = rebuild_ivf_index(spark, live)  # k_cells=None: the healed count
    assert info["n_vectors"] == n_vecs and info["k_cells"] == 6
    assert spark.read.parquet(live + "/assignments").count() == n_vecs

    # shape 2: the staging root is lost; the old root is moved back
    live2 = str(tmp_path / "cr_live2")
    build_ivf_index(spark, corpus, live2, k_cells=4)
    with kill_commit(monkeypatch, 2), pytest.raises(CommitKilled):
        rebuild_ivf_index(spark, live2, k_cells=6)
    delete_path(spark, sidecars(live2)[0])
    info2 = rebuild_ivf_index(spark, live2)
    assert info2["n_vectors"] == n_vecs and info2["k_cells"] == 4
    assert spark.read.parquet(live2 + "/assignments").count() == n_vecs
    assert sidecar_residue(tmp_path) == []


def test_rebuild_failed_commit_rename_rolls_back_and_raises(spark, tmp_path, monkeypatch):
    """Hadoop FS reports most rename failures via a FALSE return. A
    failed staged->live rename must roll the live index back from the
    old copy and raise — never delete the old copy (the only remaining
    copy) or report the index as swapped."""
    import os

    import pytest

    from spark_pipeline_spark.ann_index import rebuild_ivf_index
    from spark_pipeline_spark.io import commit as commit_mod
    from spark_pipeline_spark.io.commit import sidecars

    e = _emb(spark)
    live = str(tmp_path / "fail_live")
    build_ivf_index(spark, e.filter(F.col("vec_id") < 300), live, k_cells=4)
    before = _index_snapshot(spark, live)

    real_rename = commit_mod._rename

    def failing_rename(fs, src, dst):
        # fail exactly the staged->live rename of the index root
        if src == sidecars(live)[0]:
            return False
        return real_rename(fs, src, dst)

    monkeypatch.setattr(commit_mod, "_rename", failing_rename)
    with pytest.raises(IOError, match="rolled back"):
        rebuild_ivf_index(spark, live)
    monkeypatch.undo()

    # live index survived (rolled back from the old copy), nothing deleted
    assert os.path.exists(live + "/assignments")
    assert not os.path.exists(sidecars(live)[1])
    assert _index_snapshot(spark, live) == before


def test_rebuild_recovers_from_centroids_swap_crash(spark, tmp_path, monkeypatch):
    """The rebuild commits the whole root, so centroids, assignments and
    the PQ layer can no longer be caught in different generations. A
    crash in the commit's rename window heals as one: a re-run with
    default k_cells=None reads the healed centroid count, and the PQ
    layer survives instead of being silently rebuilt away."""
    import pytest

    from spark_pipeline_spark.ann_index import rebuild_ivf_index

    e = _emb(spark)
    live = str(tmp_path / "cen_live")
    build_ivf_index(
        spark, e.filter(F.col("vec_id") < 300), live, k_cells=4, pq_m=2
    )
    for step in (2, 3):
        with kill_commit(monkeypatch, step), pytest.raises(CommitKilled):
            rebuild_ivf_index(spark, live, k_cells=5 + step)
        info = rebuild_ivf_index(spark, live)  # k_cells=None → healed read
        assert info["k_cells"] == 5 + step
        assert info["pq_m"] == 2
        assert spark.read.parquet(live + "/centroids").count() == 5 + step
        assert spark.read.parquet(live + "/pq_codebook").count() == 2 * 4
    assert sidecar_residue(tmp_path) == []
