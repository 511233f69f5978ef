"""Driver-built frames (spark_pipeline_spark/gate.py), the SQL-text
MinHash expressions (operators/dedup.py) and the parquet read memo."""

from __future__ import annotations

import ast
import pathlib
import random

import pytest

from spark_pipeline_spark.gate import gate_rows, local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "spark_pipeline_spark"


def _node(df) -> str:
    return df._jdf.queryExecution().analyzed().nodeName()


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


PAIRS = [(1, 2), (2, 3), (10, 11), (11, 12), (20, 21), (30, 30)]


def test_local_frame_zero_rows_nulls_and_arrays(spark):
    for rows, ddl, want in [
        ([], "id bigint, component bigint", "struct<id:bigint,component:bigint>"),
        ([(1, None), (None, 2)], "a int, b bigint", "struct<a:int,b:bigint>"),
        ([("ab", 3, ["a", "b"]), ("x", 1, None), ("y", 2, [])],
         "term string, n bigint, s array<string>",
         "struct<term:string,n:bigint,s:array<string>>"),
    ]:
        df = local_frame(spark, rows, ddl)
        assert _node(df) == "LocalRelation"
        assert df.schema.simpleString() == want
        assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_keeps_struct_nullability(spark):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType([StructField("k", IntegerType(), False),
                         StructField("v", StringType(), True)])
    df = local_frame(spark, [(1, "a")], schema)
    assert _node(df) == "LocalRelation" and df.schema == schema


def test_gate_rows_refuses_unmaterialized_frame(spark):
    with pytest.raises(AssertionError, match="persisted or checkpointed"):
        gate_rows(spark.range(3), 10)
    df = spark.range(3).persist()
    try:
        assert len(gate_rows(df, 10)) == 3 and gate_rows(df, 2) is None
    finally:
        df.unpersist()


@pytest.mark.parametrize("which", ["cc", "star", "lpa"])
def test_graph_driver_solves_return_local_relations(spark, which):
    from spark_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
        label_propagation,
    )

    fn, schema = {
        "cc": (connected_components, "struct<id:bigint,component:bigint>"),
        "star": (connected_components_star, "struct<id:bigint,component:bigint>"),
        "lpa": (label_propagation, "struct<node:bigint,community:bigint>"),
    }[which]
    out = fn(_edges(spark, PAIRS))
    assert _node(out) == "LocalRelation"
    assert out.schema.simpleString() == schema


def test_incremental_graph_driver_solves_return_local_relations(spark):
    from spark_pipeline_spark.operators.graph import (
        connected_components_star,
        label_propagation,
        label_propagation_incremental,
        merge_components_incremental,
    )

    old = _edges(spark, PAIRS)
    new = _edges(spark, [(3, 40), (41, 42)])
    old_labels = connected_components_star(old)
    merged = merge_components_incremental(old_labels, new)
    # the driver-built sub-result feeds a join; its leaf is the local frame
    assert "LocalRelation" in merged._jdf.queryExecution().analyzed().toString()
    assert merged.schema.simpleString() == "struct<id:bigint,component:bigint>"
    inc = label_propagation_incremental(
        label_propagation(old), old, new, old_components=old_labels
    )
    assert "LocalRelation" in inc._jdf.queryExecution().analyzed().toString()
    assert inc.schema.simpleString() == "struct<node:bigint,community:bigint>"


def test_bpe_driver_symbols_are_a_local_relation(spark):
    from spark_pipeline_spark.operators.bpe import bpe_train

    wc = spark.createDataFrame([("low", 5), ("lower", 2)], "term string, n bigint")
    _, sym = bpe_train(wc, 2)
    assert _node(sym) == "LocalRelation"
    assert sym.schema.simpleString() == "struct<term:string,n:bigint,s:array<string>>"


def test_report_frames_are_local_relations(spark):
    from spark_pipeline_spark.operators.columns import schema_diff
    from spark_pipeline_spark.operators.similarity import kcenter_select

    a = spark.createDataFrame([(1, "x")], "k int, v string")
    b = spark.createDataFrame([(1, 2.0)], "k bigint, w double")
    d = schema_diff(a, b)
    assert _node(d) == "LocalRelation"
    assert d.schema.simpleString() == (
        "struct<col_name:string,change:string,old_type:string,new_type:string>"
    )
    assert len(d.collect()) == 3
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])], "id long, v array<double>"
    )
    for src in (vecs, vecs.limit(0)):
        k = kcenter_select(src, "id", "v", 2)
        assert _node(k) == "LocalRelation"
        assert k.schema.simpleString() == "struct<sel_round:int,id:bigint,coverage_sim:double>"


def test_package_builds_no_frame_from_a_python_list():
    """Every driver-built frame goes through ``local_frame``: the only
    ``createDataFrame`` call in the package is the one inside it."""
    calls = []
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                calls.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert len(calls) == 1 and calls[0].startswith("gate.py:"), calls


def _corpus(seed: int, n_docs: int = 80) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)] + ["The", "dog,", "CAT", "a-b"]
    docs = []
    for i in range(n_docs):
        if i % 9 == 0 and docs:  # near-duplicate of an earlier doc
            words = docs[rng.randrange(len(docs))][1].split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(1, 14))]
        docs.append((i, "  ".join(words) if i % 7 == 0 else " ".join(words)))
    return docs


@pytest.mark.parametrize("num_hashes,bands", [(16, 4), (16, 8)])
def test_sql_band_keys_match_duckdb_oracle(spark, duck, num_hashes, bands):
    import pandas as pd

    from spark_pipeline_spark.operators.dedup import minhash_index_tables
    from spark_pipeline_spark.queries import _sql_minhash_cte

    docs = _corpus(seed=20 + bands)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    _, banded = minhash_index_tables(df, "doc_id", "text", 3, num_hashes, bands)
    got = {(r["__id"], r["__band"], r["__key"]) for r in banded.collect()}

    duck.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    try:
        want = set(duck.execute(
            f"WITH {_sql_minhash_cte(num_hashes, bands)} "
            "SELECT doc_id, band, key FROM banded"
        ).fetchall())
    finally:
        duck.unregister("documents")
    assert got == want and len(want) > bands * 40


def test_minhash_band_keys_wrapper_matches_index_table(spark):
    from spark_pipeline_spark.operators.dedup import (
        minhash_band_keys,
        minhash_index_tables,
        shingle_table,
    )

    df = spark.createDataFrame(_corpus(seed=3, n_docs=30), "doc_id long, text string")
    sh = shingle_table(df, "doc_id", "text").withColumnRenamed("__sh", "my shingles")
    got = {
        (r["__id"], b, k)
        for r in sh.select("__id", minhash_band_keys("my shingles").alias("k")).collect()
        for b, k in enumerate(r["k"])
    }
    _, banded = minhash_index_tables(df, "doc_id", "text")
    assert got == {tuple(r) for r in banded.select("__id", "__band", "__key").collect()}
    with pytest.raises(ValueError, match="divisible"):
        minhash_index_tables(df, "doc_id", "text", num_hashes=10, bands=4)


def test_read_file_memo_reinfers_after_overwrite(spark, tmp_path):
    from spark_pipeline_spark.io.sources import read_file

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "a int, b string").write.parquet(path)
    assert read_file(spark, path).schema.simpleString() == "struct<a:int,b:string>"
    assert read_file(spark, path).collect()[0]["b"] == "a"
    spark.createDataFrame([(2.5,)], "c double").write.mode("overwrite").parquet(path)
    back = read_file(spark, path)
    assert back.schema.simpleString() == "struct<c:double>"
    assert back.collect()[0]["c"] == 2.5
