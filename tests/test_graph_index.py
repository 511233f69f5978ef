"""Persisted near-dup graph index (`graph_index.py`) — the base-state
artifact the incremental graph queries fold deltas into (VERDICT r14
top item). Contract under test: build→load round-trip with the builder
params surviving the parquet round-trip, fingerprint staleness, atomic
publish (no partial index ever visible, stale staging cleaned up), and
the headline property — stored base state + delta path ≡ from-scratch
batch, label for label."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_pipeline_spark.graph_index import (
    GRAPH_INDEX_VERSION,
    build_neardup_graph_index,
    dataset_fingerprint,
    load_neardup_graph_index,
)
from tests.commit_kill import sidecar_residue


def _docs(spark):
    # three near-dup families + singletons; enough shared 3-gram
    # shingles for banding to pair family members
    rows = []
    for fam in range(6):
        base = (
            f"family {fam} shares a long common sentence about spark "
            f"pipelines and parquet tables across all of its members"
        )
        for m in range(4):
            suffix = "" if m == 0 else f" variant tail {fam}"
            rows.append((fam * 10 + m, base + suffix))
    for i in range(100, 110):
        rows.append((i, f"unique document {i} " + " ".join(
            f"tok{i}_{j}" for j in range(20))))
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_build_load_roundtrip_and_staleness(spark, tmp_path):
    d = _docs(spark)
    path = str(tmp_path / "gidx")
    idx = build_neardup_graph_index(spark, d, path, "fp-v1")
    assert set(idx) == {"shingles", "bands", "edges", "components",
                       "communities"}
    # no staging residue after the commit
    assert sidecar_residue(tmp_path) == []
    assert os.listdir(str(tmp_path)) == ["gidx"]

    # loaded = built (same live tables)
    loaded = load_neardup_graph_index(spark, path, "fp-v1")
    assert loaded is not None
    for name in idx:
        assert idx[name].count() == loaded[name].count()
    # labels are min-id components over the edges
    comp = {(r["id"], r["component"])
            for r in loaded["components"].collect()}
    assert comp, "near-dup families must produce edges and labels"
    for _id, c in comp:
        assert c <= _id

    # wrong fingerprint or wrong version ⇒ stale ⇒ None
    assert load_neardup_graph_index(spark, path, "fp-v2") is None
    assert load_neardup_graph_index(
        spark, str(tmp_path / "absent"), "fp-v1") is None

    # rebuild under the new fingerprint replaces the live copy (the old
    # build's lazy frames die with it — count BEFORE, per the contract
    # that a stale index is only deleted when the data changed)
    n_shingles_v1 = idx["shingles"].count()
    idx2 = build_neardup_graph_index(spark, d.filter("doc_id < 50"),
                                     path, "fp-v2")
    assert load_neardup_graph_index(spark, path, "fp-v1") is None
    assert load_neardup_graph_index(spark, path, "fp-v2") is not None
    assert idx2["shingles"].count() < n_shingles_v1


def test_builder_params_survive_parquet(spark, tmp_path):
    """minhash consumers refuse mismatched index tables via column
    metadata stamped at build; that stamp must survive the artifact's
    parquet round-trip or loaded tables lose the refusal."""
    from spark_pipeline_spark.operators.dedup import minhash_index_params

    path = str(tmp_path / "gidx_meta")
    build_neardup_graph_index(spark, _docs(spark), path, "fp")
    loaded = load_neardup_graph_index(spark, path, "fp")
    assert minhash_index_params(loaded["shingles"]) == (3, 16, 4)
    assert minhash_index_params(loaded["bands"]) == (3, 16, 4)


def test_stored_state_plus_delta_equals_batch(spark, tmp_path):
    """The headline property: components/communities folded out of the
    PERSISTED artifact + today's delta equal the from-scratch batch run
    over the union corpus."""
    from spark_pipeline_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_index_tables,
        minhash_near_dup_pairs,
    )
    from spark_pipeline_spark.operators.graph import (
        connected_components_star,
        label_propagation,
        label_propagation_incremental,
        merge_components_incremental,
    )

    d = _docs(spark)
    old, new = d.filter("doc_id % 10 != 3"), d.filter("doc_id % 10 = 3")
    path = str(tmp_path / "gidx_delta")
    idx = build_neardup_graph_index(spark, old, path, "fp")
    idx = load_neardup_graph_index(spark, path, "fp")  # the on-disk copy

    base_n, banded_n = minhash_index_tables(new, "doc_id", "text")
    bridges = minhash_incremental_pairs(
        None, None, "doc_id", "text", threshold=0.7,
        corpus_bands=idx["bands"], corpus_shingles=idx["shingles"],
        new_bands=banded_n, new_shingles=base_n,
    ).select(F.col("corpus_id").alias("src"), F.col("new_id").alias("dst"))
    new_new = minhash_near_dup_pairs(
        None, "doc_id", "text", threshold=0.7,
        shingles=base_n, bands_table=banded_n,
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    delta = bridges.unionByName(new_new)

    inc_comp = {
        tuple(r) for r in merge_components_incremental(
            idx["components"], delta).collect()
    }
    batch_edges = minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.7)
    batch_comp = {
        tuple(r) for r in connected_components_star(
            batch_edges, src="id_a", dst="id_b").collect()
    }
    assert inc_comp == batch_comp

    inc_lpa = {
        tuple(r) for r in label_propagation_incremental(
            idx["communities"], idx["edges"], delta, n_iter=3).collect()
    }
    batch_lpa = {
        tuple(r) for r in label_propagation(
            batch_edges, src="id_a", dst="id_b", n_iter=3).collect()
    }
    assert inc_lpa == batch_lpa


def test_stale_staging_leftovers_are_clobbered(spark, tmp_path):
    from spark_pipeline_spark.io.commit import sidecars

    path = str(tmp_path / "gidx_crash")
    staging = sidecars(path)[0]
    os.makedirs(staging + "/edges")
    with open(staging + "/edges/garbage", "w") as fh:
        fh.write("not parquet")
    idx = build_neardup_graph_index(spark, _docs(spark), path, "fp")
    assert idx["edges"].count() > 0
    assert not os.path.exists(staging)


def test_dataset_fingerprint_tracks_content(tmp_path):
    sf = tmp_path / "sf"
    os.makedirs(sf)
    f = sf / "documents.parquet"
    f.write_bytes(b"aaaa")
    fp1 = dataset_fingerprint(str(sf))
    assert fp1 == dataset_fingerprint(str(sf))  # stable
    f.write_bytes(b"bbbbbb")  # size change
    assert dataset_fingerprint(str(sf)) != fp1
    assert isinstance(GRAPH_INDEX_VERSION, int)
