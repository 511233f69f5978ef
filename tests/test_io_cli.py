"""IO round-trips (sources/sinks façades) and CLI end-to-end runs
(mover/scorer/trainer verbs over real sf0.001 parquet)."""

from __future__ import annotations

import json
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_pipeline_spark.io.sinks import save, write_file, write_single_csv, write_table
from spark_pipeline_spark.io.sources import load, read_file
from tests.conftest import SF_SMALL


def _hashsum(df, col):
    return df.agg(F.sum(F.crc32(F.col(col).cast("string"))).alias("h")).collect()[0]["h"]


# ---------------------------------------------------------------------------
# sink/source round-trips
# ---------------------------------------------------------------------------


def test_parquet_roundtrip(spark, tmp_path):
    src = read_file(spark, f"{SF_SMALL}/nation.parquet")
    out = str(tmp_path / "nation_pq")
    write_file(src, out, fmt="parquet")
    back = read_file(spark, out)
    assert back.count() == src.count()
    assert _hashsum(back, "n_name") == _hashsum(src, "n_name")


def test_partitioned_write_prunes_directories(spark, tmp_path):
    src = read_file(spark, f"{SF_SMALL}/nation.parquet")
    out = str(tmp_path / "nation_part")
    write_file(src, out, fmt="parquet", partition_by="n_regionkey")
    back = read_file(spark, out).filter(F.col("n_regionkey") == 0)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == src.filter(F.col("n_regionkey") == 0).count()
    # hive-style partition dirs exist -> partition pruning is available
    assert any(p.name.startswith("n_regionkey=") for p in (tmp_path / "nation_part").iterdir())
    assert "n_regionkey=0" not in plan or True  # plan text varies; dirs are the contract


def test_csv_roundtrip_with_schema(spark, tmp_path):
    src = read_file(spark, f"{SF_SMALL}/region.parquet")
    out = str(tmp_path / "region_csv")
    write_file(src, out, fmt="csv", options={"header": "true"})
    back = read_file(
        spark, out, fmt="csv",
        schema=", ".join(f"{n} {t}" for n, t in src.dtypes),
    )
    assert back.count() == src.count()
    assert dict(back.dtypes) == dict(src.dtypes)


def test_single_csv_both_modes(spark, tmp_path):
    src = read_file(spark, f"{SF_SMALL}/region.parquet").select("r_regionkey", "r_name")
    p1, p2 = str(tmp_path / "a.csv"), str(tmp_path / "b.csv")
    write_single_csv(src, p1)                      # Arrow toPandas path
    write_single_csv(src, p2, streaming=True)      # toLocalIterator path
    a = pd.read_csv(p1, sep="\t").sort_values("r_regionkey", ignore_index=True)
    b = pd.read_csv(p2, sep="\t").sort_values("r_regionkey", ignore_index=True)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == src.count()


def test_write_table_aligns_column_order(spark, tmp_path):
    """Insert with permuted columns must align by the table's order
    (reference core.py:234-250 contract)."""
    spark.sql("DROP TABLE IF EXISTS t_align")
    base = spark.createDataFrame([(1, "x"), (2, "y")], "id bigint, name string")
    base.write.option("path", str(tmp_path / "t_align")).saveAsTable("t_align")
    permuted = spark.createDataFrame([("z", 3)], "name string, id bigint")
    write_table(permuted, "t_align", mode="append")
    got = {r["id"]: r["name"] for r in spark.table("t_align").collect()}
    assert got == {1: "x", 2: "y", 3: "z"}
    spark.sql("DROP TABLE t_align")


def test_load_facade_postops(spark):
    conf = {
        "storage": "file",
        "path": f"{SF_SMALL}/orders.parquet",
        "distribute-by": {"num-partitions": 4, "key": "o_custkey"},
        "transform-sql": "SELECT o_orderkey, o_custkey FROM dataset_temp WHERE o_custkey % 2 = 0",
        "sample": {"fraction": 0.5, "key": "o_orderkey"},
        "limit": 50,
    }
    df = load(spark, conf)
    assert df.count() <= 50
    assert df.columns == ["o_orderkey", "o_custkey"]
    assert df.filter(F.col("o_custkey") % 2 != 0).count() == 0


def test_save_facade_distribute_by_mapping(spark, tmp_path):
    src = read_file(spark, f"{SF_SMALL}/region.parquet")
    out = str(tmp_path / "region_dist")
    save(src, {"storage": "file", "path": out, "distribute-by": {"num-partitions": 3}})
    back = read_file(spark, out)
    assert back.count() == src.count()
    files = [p for p in (tmp_path / "region_dist").iterdir() if p.name.endswith(".parquet")]
    assert len(files) == 3


def test_save_disabled_is_noop(spark, tmp_path):
    src = read_file(spark, f"{SF_SMALL}/region.parquet")
    out = tmp_path / "never_written"
    save(src, {"storage": "file", "path": str(out), "disabled": True})
    assert not out.exists()


# ---------------------------------------------------------------------------
# CLI verbs end-to-end
# ---------------------------------------------------------------------------


def _write_conf(tmp_path, name, conf):
    p = tmp_path / name
    p.write_text(json.dumps(conf))
    return str(p)


def test_mover_cli_end_to_end(spark, tmp_path, capsys):
    from spark_pipeline_spark.cli import main_mover

    out = str(tmp_path / "moved")
    conf = _write_conf(
        tmp_path,
        "move.json",
        {
            "source": {
                "storage": "file",
                "path": f"{SF_SMALL}/customer.parquet",
                "transform-sql": "SELECT c_custkey, c_name, c_acctbal FROM dataset_temp",
            },
            "target": {"storage": "file", "path": out},
            "log-count": True,
        },
    )
    # key=value override redirects the sink — with_fallback semantics
    out2 = str(tmp_path / "moved2")
    assert main_mover(["--conf", conf, f"target.path={out2}"]) == 0
    back = read_file(spark, out2)
    n_src = read_file(spark, f"{SF_SMALL}/customer.parquet").count()
    assert back.count() == n_src
    assert back.columns == ["c_custkey", "c_name", "c_acctbal"]
    # log-count rides the write via Observation — the printed count must
    # be the real moved-row count, with no second scan to produce it
    assert f"moved rows: {n_src}" in capsys.readouterr().out


def test_scorer_cli_end_to_end(spark, tmp_path):
    from spark_pipeline_spark.cli import main_scorer
    from spark_pipeline_spark.models import LogisticModel
    from spark_pipeline_spark.operators.training import save_model

    model_path = str(tmp_path / "logit.bin")
    save_model(LogisticModel({"c_acctbal": 0.001}, intercept=-2.0), model_path)
    out = str(tmp_path / "scored")
    conf = _write_conf(
        tmp_path,
        "score.json",
        {
            "source": {
                "storage": "file",
                "path": f"{SF_SMALL}/customer.parquet",
                "transform-sql": "SELECT c_custkey AS uid, c_acctbal FROM dataset_temp",
            },
            "model": {"path": model_path, "name": "logit-v1", "cols-to-save": ["uid"]},
            "target": {"storage": "file", "path": out},
        },
    )
    assert main_scorer(["--conf", conf]) == 0
    back = read_file(spark, out)
    assert back.count() == read_file(spark, f"{SF_SMALL}/customer.parquet").count()
    assert {"model_name", "current_dt", "uid", "target_proba"} <= set(back.columns)
    assert back.filter(F.col("model_name") != "logit-v1").count() == 0
    probs = back.select("target_proba").toPandas()["target_proba"]
    assert ((probs >= 0) & (probs <= 1)).all()


def _returns_within(seconds, fn, *args):
    """``fn(*args)`` run on a daemon thread: a call that blocks for ever
    fails the test instead of hanging the suite."""
    result = []
    worker = threading.Thread(target=lambda: result.append(fn(*args)), daemon=True)
    worker.start()
    worker.join(seconds)
    assert result, f"{fn.__name__} did not return within {seconds}s"
    return result[0]


@pytest.mark.parametrize(
    "target",
    [
        {"storage": "file"},
        {"storage": "file", "disabled": True},
        {"storage": "csv"},
        {"storage": "single-csv"},
    ],
    ids=["file", "disabled", "csv", "single-csv"],
)
def test_scorer_cli_counts_rows_without_caching(spark, tmp_path, capsys, target):
    """``scored rows: N`` is the input row count on every sink, including
    a disabled target (no write action runs) and the streaming ``csv``
    sink (``toLocalIterator``); the scorer leaves no cached data behind."""
    from spark_pipeline_spark.cli import main_scorer
    from spark_pipeline_spark.models import LinearModel
    from spark_pipeline_spark.operators.training import save_model

    model_path = str(tmp_path / "linear.bin")
    save_model(LinearModel({"o_totalprice": 0.5}, intercept=1.0), model_path)
    out = tmp_path / "scored"
    conf = _write_conf(
        tmp_path,
        "score_count.json",
        {
            "source": {
                "storage": "file",
                "path": f"{SF_SMALL}/orders.parquet",
                "transform-sql": "SELECT o_orderkey AS uid, o_totalprice FROM dataset_temp",
            },
            "model": {"path": model_path, "cols-to-save": ["uid"]},
            "target": {**target, "path": str(out)},
        },
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert _returns_within(300, main_scorer, ["--conf", conf]) == 0
    n_src = read_file(spark, f"{SF_SMALL}/orders.parquet").count()
    assert f"scored rows: {n_src}" in capsys.readouterr().out
    if target.get("disabled"):
        assert not out.exists()
    elif target["storage"] == "file":
        assert read_file(spark, str(out)).count() == n_src
    else:
        assert len(out.read_text().splitlines()) == n_src + 1  # header
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_mover_cli_log_count_on_disabled_target(spark, tmp_path, capsys):
    """``log-count`` still prints when the target is disabled and nothing
    is written."""
    from spark_pipeline_spark.cli import main_mover

    out = tmp_path / "moved"
    conf = _write_conf(
        tmp_path,
        "move_disabled.json",
        {
            "source": {"storage": "file", "path": f"{SF_SMALL}/nation.parquet"},
            "target": {"storage": "file", "path": str(out), "disabled": True},
            "log-count": True,
        },
    )
    assert _returns_within(300, main_mover, ["--conf", conf]) == 0
    assert "moved rows: 25" in capsys.readouterr().out
    assert not out.exists()


def test_trainer_cli_end_to_end(spark, tmp_path):
    from spark_pipeline_spark.cli import main_trainer
    from spark_pipeline_spark.operators.training import load_model

    model_path = str(tmp_path / "ols.bin")
    conf = _write_conf(
        tmp_path,
        "train.json",
        {
            "model-definition": {
                "dataset": {
                    "storage": "file",
                    "path": f"{SF_SMALL}/lineitem.parquet",
                    "transform-sql": (
                        "SELECT l_quantity, l_extendedprice FROM dataset_temp "
                        "WHERE l_linenumber = 1"
                    ),
                },
                "target-column": "l_extendedprice",
                "factory": "spark_pipeline_spark.models:new_ols",
                "path": model_path,
            },
        },
    )
    assert main_trainer(["--conf", conf]) == 0
    model = load_model(model_path)
    assert model.feature_cols == ["l_quantity"]
    assert model.coef_ is not None and abs(model.coef_[0]) > 0


def test_apply_overrides_nested_and_scalar_parsing():
    from spark_pipeline_spark.cli import apply_overrides

    conf = {"a": {"b": 1}, "keep": "yes"}
    out = apply_overrides(conf, ["a.b=2", "a.c.d=true", "name=plain-string"])
    assert out["a"]["b"] == 2
    assert out["a"]["c"]["d"] is True
    assert out["name"] == "plain-string"
    assert out["keep"] == "yes"
    with pytest.raises(ValueError, match="key=value"):
        apply_overrides({}, ["oops"])


def test_validator_cli_end_to_end(spark, tmp_path):
    """Clean table passes (exit 0); an impossible range rule fails the
    gate (exit 1) and reports the violation count."""
    from spark_pipeline_spark.cli import main_validator

    conf = _write_conf(
        tmp_path,
        "validate.json",
        {
            "source": {"storage": "file", "path": f"{SF_SMALL}/orders.parquet"},
            "rules": [
                {"kind": "not_null", "column": "o_custkey"},
                {"kind": "unique", "columns": ["o_orderkey"]},
                {"kind": "in_range", "column": "o_totalprice", "lo": 0, "hi": 10000000},
            ],
        },
    )
    assert main_validator(["--conf", conf]) == 0
    bad = _write_conf(
        tmp_path,
        "validate_bad.json",
        {
            "source": {"storage": "file", "path": f"{SF_SMALL}/orders.parquet"},
            "rules": [{"kind": "in_range", "column": "o_totalprice", "lo": 0, "hi": 1}],
        },
    )
    assert main_validator(["--conf", bad]) == 1


def test_file_stats_and_compact_parquet(spark, tmp_path):
    from spark_pipeline_spark.io.maintenance import compact_parquet, file_stats

    p = str(tmp_path / "frag")
    # fragment: 64 tiny files
    spark.range(0, 10_000).repartition(64).write.mode("overwrite").parquet(p)
    before = file_stats(spark, p)
    assert before["n_files"] == 64

    report = compact_parquet(spark, p, target_mb=512)
    assert report["compacted"] is True
    after = report["after"]
    assert after["n_files"] < 64
    assert after["total_bytes"] > 0
    # no rows lost, values intact
    assert sorted(r["id"] for r in spark.read.parquet(p).collect()) == list(range(10_000))
    # no staging or old copy left behind
    import os

    from tests.commit_kill import sidecar_residue
    assert sidecar_residue(tmp_path) == []
    assert os.listdir(str(tmp_path)) == ["frag"]


def test_compact_parquet_partitioned_preserves_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from spark_pipeline_spark.io.maintenance import compact_parquet

    p = str(tmp_path / "frag_part")
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    df.repartition(32).write.mode("overwrite").partitionBy("part").parquet(p)
    report = compact_parquet(spark, p, target_mb=512, partition_by=["part"])
    assert report["compacted"]
    import os
    assert sorted(
        d for d in os.listdir(p) if d.startswith("part=")
    ) == ["part=0", "part=1", "part=2"]
    assert spark.read.parquet(p).count() == 1000


def test_compact_parquet_skips_single_file(spark, tmp_path):
    from spark_pipeline_spark.io.maintenance import compact_parquet

    p = str(tmp_path / "single")
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(p)
    report = compact_parquet(spark, p, target_mb=512)
    assert report["compacted"] is False


def test_schema_diff_reports_added_removed_retyped(spark):
    from spark_pipeline_spark.operators.columns import schema_diff

    old = spark.createDataFrame([(1, "x", 1.0)], "a int, b string, c double")
    new = spark.createDataFrame([(1, 2, "y")], "a int, c int, d string")
    rows = {
        r["col_name"]: (r["change"], r["old_type"], r["new_type"])
        for r in schema_diff(old, new).collect()
    }
    assert rows == {
        "b": ("removed", "string", None),
        "d": ("added", None, "string"),
        "c": ("retyped", "double", "int"),
    }


def test_read_parquet_nanos_normalizes_every_encoding(spark, tmp_path):
    """The event feed has shipped as ns, us-NTZ, and us-UTC parquet;
    read_parquet_nanos must land TIMESTAMP_LTZ with the same instant for
    all three (UTC session), so downstream epoch arithmetic never
    breaks on a testdata re-generation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_pipeline_spark.io.sources import read_parquet_nanos

    micros = 1_700_000_000_123_456  # 2023-11-14T22:13:20.123456Z
    cases = {
        "ns": pa.array([micros * 1000], type=pa.timestamp("ns")),
        "us_ntz": pa.array([micros], type=pa.timestamp("us")),
        "us_utc": pa.array([micros], type=pa.timestamp("us", tz="UTC")),
    }
    got = {}
    for name, arr in cases.items():
        p = str(tmp_path / f"enc_{name}.parquet")
        pq.write_table(pa.table({"ts": arr}), p)
        df = read_parquet_nanos(spark, p, ["ts"])
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        got[name] = df.select(
            (df["ts"].cast("double") * 1_000_000).cast("long").alias("us")
        ).collect()[0]["us"]
    assert got["ns"] == got["us_ntz"] == got["us_utc"] == micros, got


def test_validator_cli_empty_but_clean_table_passes(spark, tmp_path):
    """Zero-row input: every sum-shaped rule aggregates over nothing; the
    gate must exit 0 (passed), not fail on NULL violations."""
    from pyspark.sql import functions as F

    from spark_pipeline_spark.cli import main_validator
    from spark_pipeline_spark.queries import t
    from tests.conftest import SF_SMALL

    empty = str(tmp_path / "empty_orders")
    t(spark, SF_SMALL, "orders").filter(F.lit(False)).write.parquet(empty)
    conf = _write_conf(
        tmp_path,
        "validate_empty.json",
        {
            "source": {"storage": "file", "path": empty},
            "rules": [
                {"kind": "not_null", "column": "o_custkey"},
                {"kind": "unique", "columns": ["o_orderkey"]},
                {"kind": "in_range", "column": "o_totalprice", "lo": 0, "hi": 1e7},
            ],
        },
    )
    assert main_validator(["--conf", conf]) == 0


def test_orc_round_trip(spark, tmp_path):
    """read_file/write_file speak ORC as well as parquet/csv — the other
    columnar format a warehouse migration hits."""
    from spark_pipeline_spark.io.sinks import write_file
    from spark_pipeline_spark.io.sources import read_file
    from spark_pipeline_spark.queries import t
    from tests.conftest import SF_SMALL

    src = t(spark, SF_SMALL, "nation")
    p = str(tmp_path / "nation_orc")
    write_file(src, p, fmt="orc")
    back = read_file(spark, p, fmt="orc")
    assert back.schema == src.schema
    assert sorted(r["n_nationkey"] for r in back.collect()) == sorted(
        r["n_nationkey"] for r in src.collect()
    )


def test_pipeline_cli_multi_step_dag(spark, tmp_path):
    """Three steps — load, aggregate, join back — with one sink: the
    intermediate views materialize nothing, the saved output equals the
    same chain written by hand, and a duplicate/malformed step fails
    loudly."""
    import pytest as _pytest

    from spark_pipeline_spark.cli import main_pipeline

    out = str(tmp_path / "pipe_out")
    conf = _write_conf(
        tmp_path,
        "pipe.json",
        {
            "steps": [
                {
                    "name": "raw",
                    "source": {
                        "storage": "file",
                        "path": f"{SF_SMALL}/orders.parquet",
                    },
                },
                {
                    "name": "per_cust",
                    "sql": "SELECT o_custkey, count(*) AS n, "
                    "round(sum(o_totalprice), 2) AS total "
                    "FROM raw GROUP BY o_custkey",
                },
                {
                    "name": "flagged",
                    "sql": "SELECT r.o_orderkey, p.n, p.total FROM raw r "
                    "JOIN per_cust p USING (o_custkey) WHERE p.n >= 5",
                    "target": {"storage": "file", "path": out},
                },
            ]
        },
    )
    assert main_pipeline(["--conf", conf]) == 0

    o = read_file(spark, f"{SF_SMALL}/orders.parquet")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )
    want = (
        o.join(per, "o_custkey")
        .filter(F.col("n") >= 5)
        .select("o_orderkey", "n", "total")
    )
    back = read_file(spark, out)
    assert back.count() == want.count() > 0
    assert sorted(back.columns) == sorted(want.columns)

    bad = _write_conf(
        tmp_path,
        "pipe_bad.json",
        {"steps": [{"name": "a", "sql": "SELECT 1"}, {"name": "a", "sql": "SELECT 2"}]},
    )
    with _pytest.raises(ValueError, match="duplicate step name"):
        main_pipeline(["--conf", bad])


def test_file_stats_connect_fallback_matches_classic(spark, tmp_path):
    """Without a JVM gateway, file_stats must fall back to the
    binaryFile metadata listing and report the same census — including
    recursive partition directories."""
    from spark_pipeline_spark.io.maintenance import file_stats

    class FakeConnectSession:
        _jvm = None

        def __init__(self, real):
            self._real = real

        @property
        def read(self):
            return self._real.read

    p = str(tmp_path / "census")
    from pyspark.sql import functions as F

    df = spark.range(0, 2000).select("id", (F.col("id") % 2).alias("part"))
    df.repartition(8).write.mode("overwrite").partitionBy("part").parquet(p)

    classic = file_stats(spark, p)
    connect = file_stats(FakeConnectSession(spark), p)
    assert connect == classic
    assert connect["n_files"] >= 2 and connect["total_bytes"] > 0


def test_refresher_cli_bootstrap_then_merge(spark, tmp_path):
    """First run bootstraps the snapshot from the delta; the second run
    merges new rows in; the final snapshot equals a from-scratch groupBy
    over everything — without ever rescanning history."""
    from pyspark.sql import functions as F

    from spark_pipeline_spark.cli import main_refresher
    from spark_pipeline_spark.queries import t as _t

    o = _t(spark, SF_SMALL, "orders")
    hist = o.filter(F.col("o_orderdate") < "1996-01-01")
    late = o.filter(F.col("o_orderdate") >= "1996-01-01")
    d1 = str(tmp_path / "delta1")
    d2 = str(tmp_path / "delta2")
    hist.write.parquet(d1)
    late.write.parquet(d2)
    snap = str(tmp_path / "rollup_snapshot")

    def conf_for(delta_path):
        return _write_conf(
            tmp_path,
            f"refresh_{abs(hash(delta_path)) % 1000}.json",
            {
                "snapshot": {"path": snap},
                "delta": {"storage": "file", "path": delta_path},
                "keys": ["o_orderstatus"],
                "aggregates": {
                    "total_price": {"kind": "sum", "column": "o_totalprice"},
                    "n_orders": {"kind": "count", "column": "o_orderkey"},
                    "max_key": {"kind": "max", "column": "o_orderkey"},
                },
            },
        )

    assert main_refresher(["--conf", conf_for(d1)]) == 0
    assert main_refresher(["--conf", conf_for(d2)]) == 0

    got = {
        r["o_orderstatus"]: (round(r["total_price"], 2), r["n_orders"], r["max_key"])
        for r in spark.read.parquet(snap).collect()
    }
    want = {
        r["o_orderstatus"]: (round(r["total_price"], 2), r["n_orders"], r["max_key"])
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.sum("o_totalprice").alias("total_price"),
            F.count("o_orderkey").alias("n_orders"),
            F.max("o_orderkey").alias("max_key"),
        )
        .collect()
    }
    assert got == want
    # the commit renamed its staging copy into place: nothing is left
    from tests.commit_kill import sidecar_residue

    assert sidecar_residue(tmp_path) == []


def test_refresher_recovers_torn_snapshot_and_skips_replayed_delta(
    spark, tmp_path, capsys, monkeypatch
):
    """A crash between the commit's renames (no live snapshot, staging
    committed) must roll the commit forward instead of silently
    bootstrapping from the delta; and a rerun with the same delta-id
    must be a no-op, not a double merge."""
    import os

    from pyspark.sql import functions as F

    from tests.commit_kill import CommitKilled, kill_commit, sidecar_residue

    from spark_pipeline_spark.cli import main_refresher
    from spark_pipeline_spark.queries import t as _t

    o = _t(spark, SF_SMALL, "orders")
    d1 = str(tmp_path / "delta1")
    o.filter(F.col("o_orderdate") < "1996-01-01").write.parquet(d1)
    d2 = str(tmp_path / "delta2")
    o.filter(F.col("o_orderdate") >= "1996-01-01").write.parquet(d2)
    snap = str(tmp_path / "snapshot")

    def conf_for(delta_path, delta_id):
        return _write_conf(
            tmp_path,
            f"refresh_{delta_id}.json",
            {
                "snapshot": {"path": snap},
                "delta": {"storage": "file", "path": delta_path},
                "delta-id": delta_id,
                "keys": ["o_orderstatus"],
                "aggregates": {
                    "n_orders": {"kind": "count", "column": "o_orderkey"}
                },
            },
        )

    assert main_refresher(["--conf", conf_for(d1, "day1")]) == 0
    want = {
        r["o_orderstatus"]: r["n_orders"]
        for r in o.groupBy("o_orderstatus").agg(
            F.count("o_orderkey").alias("n_orders")
        ).collect()
    }

    # the crash: day2's commit dies after moving the live snapshot aside
    with kill_commit(monkeypatch, 2), pytest.raises(CommitKilled):
        main_refresher(["--conf", conf_for(d2, "day2")])
    assert not os.path.exists(snap)
    capsys.readouterr()
    assert main_refresher(["--conf", conf_for(d2, "day2")]) == 0
    out = capsys.readouterr().out
    assert "recovered snapshot" in out
    assert "already applied: no-op" in out  # day2 was already merged
    got = {
        r["o_orderstatus"]: r["n_orders"]
        for r in spark.read.parquet(snap).collect()
    }
    assert got == want  # history intact, delta NOT double-counted
    assert sidecar_residue(tmp_path) == []

    # replaying day2 again on a healthy snapshot is also a no-op
    assert main_refresher(["--conf", conf_for(d2, "day2")]) == 0
    assert "no-op" in capsys.readouterr().out

    # a delta-id containing the reserved ledger separator must be
    # rejected up front (it would split into fragments on the next read
    # and make a later matching delta a silent false no-op)
    with pytest.raises(SystemExit, match="ledger separator"):
        main_refresher(["--conf", conf_for(d2, "day\x1f3")])

def test_refresher_out_of_order_replay_is_noop(spark, tmp_path, capsys):
    """ADVICE r7: replaying an OLDER delta after newer ones applied (the
    out-of-order cron retry) must be a no-op too — the bounded ledger
    remembers more than just the latest id."""
    from pyspark.sql import functions as F

    from spark_pipeline_spark.cli import main_refresher
    from spark_pipeline_spark.queries import t as _t

    o = _t(spark, SF_SMALL, "orders")
    d1 = str(tmp_path / "delta1")
    o.filter(F.col("o_orderdate") < "1996-01-01").write.parquet(d1)
    d2 = str(tmp_path / "delta2")
    o.filter(F.col("o_orderdate") >= "1996-01-01").write.parquet(d2)
    snap = str(tmp_path / "snapshot")

    def conf_for(delta_path, delta_id):
        return _write_conf(
            tmp_path,
            f"refresh_ooo_{delta_id}.json",
            {
                "snapshot": {"path": snap},
                "delta": {"storage": "file", "path": delta_path},
                "delta-id": delta_id,
                "keys": ["o_orderstatus"],
                "aggregates": {
                    "n_orders": {"kind": "count", "column": "o_orderkey"}
                },
            },
        )

    assert main_refresher(["--conf", conf_for(d1, "day1")]) == 0
    assert main_refresher(["--conf", conf_for(d2, "day2")]) == 0
    want = {
        r["o_orderstatus"]: r["n_orders"]
        for r in spark.read.parquet(snap).collect()
    }
    capsys.readouterr()
    # day1 retry arrives AFTER day2 applied: latest-id-only guards miss this
    assert main_refresher(["--conf", conf_for(d1, "day1")]) == 0
    assert "already applied: no-op" in capsys.readouterr().out
    got = {
        r["o_orderstatus"]: r["n_orders"]
        for r in spark.read.parquet(snap).collect()
    }
    assert got == want  # day1 NOT double-counted


def test_query_cli_runs_registry_query_to_sink(spark, tmp_path):
    """The query verb materializes a registered query to a parquet sink
    and rejects unknown names with suggestions (exit 2)."""
    import json

    from spark_pipeline_spark.cli import main_query

    out = str(tmp_path / "q_out")
    conf = {
        "query": "agg_orders_by_status",
        "sf-dir": SF_SMALL,
        "sink": {"format": "parquet", "path": out},
    }
    cpath = tmp_path / "q.json"
    cpath.write_text(json.dumps(conf))
    assert main_query(["--conf", str(cpath)]) == 0
    got = spark.read.parquet(out)
    assert got.count() > 0 and "o_orderstatus" in got.columns

    conf["query"] = "agg_orders_by_statuss"
    cpath.write_text(json.dumps(conf))
    assert main_query(["--conf", str(cpath)]) == 2


def test_query_cli_missing_required_keys_exit_2(tmp_path, capsys):
    """Missing 'query' / 'sf-dir' is a config error (exit 2 + message),
    never a bare KeyError traceback; an unordered 'limit' warns."""
    import json

    from spark_pipeline_spark.cli import main_query

    cpath = tmp_path / "bad.json"
    cpath.write_text(json.dumps({"sf-dir": SF_SMALL}))
    assert main_query(["--conf", str(cpath)]) == 2
    assert "missing required key(s): query" in capsys.readouterr().out

    cpath.write_text(json.dumps({"query": "agg_orders_by_status"}))
    assert main_query(["--conf", str(cpath)]) == 2
    assert "missing required key(s): sf-dir" in capsys.readouterr().out

    cpath.write_text(json.dumps(
        {"query": "agg_orders_by_status", "sf-dir": SF_SMALL, "limit": 2}
    ))
    assert main_query(["--conf", str(cpath)]) == 0
    assert "arbitrary row subset" in capsys.readouterr().out


def test_jsonl_roundtrip_through_dispatchers(spark, tmp_path):
    """JSONL — the training-data interchange format — round-trips through
    the config-driven save()/load() dispatchers with an explicit schema
    (no inference pass) and gzip compression (text codecs for JSON are
    bzip2/deflate/snappy/lz4/gzip — zstd is parquet-only here)."""
    from spark_pipeline_spark.io.sinks import save
    from spark_pipeline_spark.io.sources import load

    src = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    out = str(tmp_path / "docs_jsonl")
    save(src, {"format": "json", "path": out,
               "options": {"compression": "gzip"}})
    back = load(
        spark,
        {"storage": "file", "format": "json", "path": out,
         "schema": "doc_id bigint, text string, lang string"},
    )
    assert back.count() == src.count()
    a = {r["doc_id"]: (r["text"], r["lang"]) for r in src.collect()}
    b = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
    assert a == b


def test_main_ann_lifecycle_e2e(spark, tmp_path, capsys):
    """The `ann` verb drives the whole persisted-index lifecycle from
    configs: build → refresh (report to a sink) → expire → purge →
    stats, with exit-2 (not tracebacks) on malformed configs."""
    import json as _json

    from spark_pipeline_spark.cli import main_ann

    idx = str(tmp_path / "ann_idx")
    emb = f"{SF_SMALL}/embeddings.parquet"

    def conf(d):
        p = tmp_path / f"ann_{len(list(tmp_path.iterdir()))}.json"
        p.write_text(_json.dumps(d))
        return str(p)

    src_base = {
        "storage": "file", "format": "parquet", "path": emb,
        "transform-sql": "SELECT vec_id, embedding FROM dataset_temp WHERE vec_id < 400",
    }
    src_new = {
        "storage": "file", "format": "parquet", "path": emb,
        "transform-sql": "SELECT vec_id, embedding FROM dataset_temp WHERE vec_id >= 400",
    }
    # bad configs exit 2 with a message
    assert main_ann(["--conf", conf({"action": "bogus", "index-path": idx})]) == 2
    assert main_ann(["--conf", conf({"action": "build"})]) == 2
    assert main_ann(["--conf", conf({"action": "build", "index-path": idx})]) == 2
    capsys.readouterr()

    assert main_ann(["--conf", conf(
        {"action": "build", "index-path": idx, "source": src_base}
    )]) == 0
    assert "built index" in capsys.readouterr().out

    report_out = str(tmp_path / "refresh_report")
    assert main_ann(["--conf", conf(
        {"action": "refresh", "index-path": idx, "source": src_new,
         "batch-id": 1, "sink": {"format": "parquet", "path": report_out}}
    )]) == 0
    rep = spark.read.parquet(report_out)
    assert rep.agg(F.sum("n_new")).first()[0] == 100
    assert spark.read.parquet(idx + "/assignments").count() == 500

    assert main_ann(["--conf", conf(
        {"action": "purge", "index-path": idx, "ids": [7]}
    )]) == 0
    assert "purged: {'assignments_removed': 1" in capsys.readouterr().out

    assert main_ann(["--conf", conf(
        {"action": "expire", "index-path": idx, "keep-last-n": 1}
    )]) == 0
    batches = {
        r["batch"] for r in spark.read.parquet(idx + "/assignments")
        .select("batch").distinct().collect()
    }
    assert batches == {1}

    assert main_ann(["--conf", conf(
        {"action": "stats", "index-path": idx}
    )]) == 0
    assert "mean_code_err" in capsys.readouterr().out

    # search: both the float path and the quantized-scan path, to a sink
    hits_out = str(tmp_path / "search_hits")
    q_src = {
        "storage": "file", "format": "parquet", "path": emb,
        "transform-sql": "SELECT vec_id, embedding FROM dataset_temp "
                         "WHERE vec_id = 450",
    }
    assert main_ann(["--conf", conf(
        {"action": "search", "index-path": idx, "source": q_src,
         "k": 3, "nprobe": 2,
         "sink": {"format": "parquet", "path": hits_out}}
    )]) == 0
    hits = spark.read.parquet(hits_out)
    assert hits.count() == 3
    assert {r["neighbor_id"] for r in hits.collect()} >= {450}
    assert main_ann(["--conf", conf(
        {"action": "search", "index-path": idx, "source": q_src,
         "k": 3, "nprobe": 2, "quantized": True}
    )]) == 0
    assert "neighbor_id" in capsys.readouterr().out


def test_main_ann_pq_search_and_stats(spark, tmp_path, capsys):
    """The `ann` verb's PQ faces: quantized="pq" routes search through
    the persisted ADC scan + float rerank, and stats with pq=true
    reports the PQ reconstruction error table."""
    import json as _json

    from spark_pipeline_spark.cli import main_ann

    idx = str(tmp_path / "ann_pq_idx")
    emb = f"{SF_SMALL}/embeddings.parquet"

    def conf(d):
        p = tmp_path / f"annpq_{len(list(tmp_path.iterdir()))}.json"
        p.write_text(_json.dumps(d))
        return str(p)

    assert main_ann(["--conf", conf(
        {"action": "build", "index-path": idx, "pq-m": 2,
         "source": {"storage": "file", "format": "parquet", "path": emb}}
    )]) == 0
    capsys.readouterr()
    hits_out = str(tmp_path / "pq_hits")
    q_src = {
        "storage": "file", "format": "parquet", "path": emb,
        "transform-sql": "SELECT vec_id, embedding FROM dataset_temp "
                         "WHERE vec_id = 42",
    }
    assert main_ann(["--conf", conf(
        {"action": "search", "index-path": idx, "source": q_src,
         "k": 3, "nprobe": 4, "quantized": "pq",
         "sink": {"format": "parquet", "path": hits_out}}
    )]) == 0
    hits = spark.read.parquet(hits_out)
    assert hits.count() == 3
    assert set(hits.columns) == {"query_id", "neighbor_id", "cell",
                                 "cosine", "rank"}
    assert main_ann(["--conf", conf(
        {"action": "stats", "index-path": idx, "pq": True}
    )]) == 0
    assert "mean_pq_err_micro" in capsys.readouterr().out


def test_main_ann_compact_codes(spark, tmp_path, capsys):
    """The `ann compact` action collapses old code batches (flat tables
    only) and the searches still work over the compacted index."""
    import json as _json

    from spark_pipeline_spark.cli import main_ann

    idx = str(tmp_path / "ann_cp_idx")
    emb = f"{SF_SMALL}/embeddings.parquet"

    def conf(d):
        p = tmp_path / f"anncp_{len(list(tmp_path.iterdir()))}.json"
        p.write_text(_json.dumps(d))
        return str(p)

    def sel(cond):
        return {
            "storage": "file", "format": "parquet", "path": emb,
            "transform-sql": "SELECT vec_id, embedding FROM dataset_temp "
                             f"WHERE {cond}",
        }

    assert main_ann(["--conf", conf(
        {"action": "build", "index-path": idx, "pq-m": 2,
         "source": sel("vec_id < 300")}
    )]) == 0
    for b, cond in ((1, "vec_id >= 300 AND vec_id < 400"),
                    (2, "vec_id >= 400")):
        assert main_ann(["--conf", conf(
            {"action": "refresh", "index-path": idx, "batch-id": b,
             "source": sel(cond)}
        )]) == 0
    capsys.readouterr()
    assert main_ann(["--conf", conf(
        {"action": "compact", "index-path": idx, "keep-last-n": 1}
    )]) == 0
    assert "compacted: {'codes': [0, 1], 'codes_pq': [0, 1]}" in \
        capsys.readouterr().out
    codes = spark.read.parquet(idx + "/codes")
    assert {r["batch"] for r in codes.select("batch").distinct().collect()} \
        == {0, 2}
    assert codes.count() == 500
    # the quantized searches read the compacted tables fine
    assert main_ann(["--conf", conf(
        {"action": "search", "index-path": idx, "source": sel("vec_id = 42"),
         "k": 3, "nprobe": 4, "quantized": True}
    )]) == 0
    assert main_ann(["--conf", conf(
        {"action": "search", "index-path": idx, "source": sel("vec_id = 42"),
         "k": 3, "nprobe": 4, "quantized": "pq"}
    )]) == 0


def test_main_ann_rebuild(spark, tmp_path, capsys):
    """`ann rebuild` retrains from the index's own corpus (build 300 +
    refresh 200 collapse to one batch), honors k-cells, keeps the PQ
    layer by default, and searches still work afterwards."""
    import json as _json

    from spark_pipeline_spark.cli import main_ann

    idx = str(tmp_path / "ann_rb_idx")
    emb = f"{SF_SMALL}/embeddings.parquet"

    def conf(d):
        p = tmp_path / f"annrb_{len(list(tmp_path.iterdir()))}.json"
        p.write_text(_json.dumps(d))
        return str(p)

    def sel(cond):
        return {
            "storage": "file", "format": "parquet", "path": emb,
            "transform-sql": "SELECT vec_id, embedding FROM dataset_temp "
                             f"WHERE {cond}",
        }

    assert main_ann(["--conf", conf(
        {"action": "build", "index-path": idx, "pq-m": 2,
         "source": sel("vec_id < 300")}
    )]) == 0
    assert main_ann(["--conf", conf(
        {"action": "refresh", "index-path": idx, "batch-id": 1,
         "source": sel("vec_id >= 300 AND vec_id < 500")}
    )]) == 0
    capsys.readouterr()
    assert main_ann(["--conf", conf(
        {"action": "rebuild", "index-path": idx, "k-cells": 6}
    )]) == 0
    out = capsys.readouterr().out
    assert "rebuilt index:" in out and "'k_cells': 6" in out \
        and "'pq_m': 2" in out
    asg = spark.read.parquet(idx + "/assignments")
    assert {r["batch"] for r in asg.select("batch").distinct().collect()} == {0}
    assert asg.count() == 500
    assert spark.read.parquet(idx + "/centroids").count() == 6
    capsys.readouterr()
    assert main_ann(["--conf", conf(
        {"action": "search", "index-path": idx, "k": 3, "nprobe": 2,
         "source": sel("vec_id < 5")}
    )]) == 0


def test_main_bpe_lifecycle_e2e(spark, tmp_path, capsys):
    """The `bpe` verb drives the persisted-vocab lifecycle from configs:
    build → drift (exit 0 quiet / exit 3 on alarm, the cron-chainable
    contract) → retrain → stats, exit-2 on malformed configs."""
    import json as _json

    from spark_pipeline_spark.cli import main_bpe

    vocab = str(tmp_path / "bpe_vocab")
    docs = f"{SF_SMALL}/documents.parquet"

    def conf(d):
        p = tmp_path / f"bpe_{len(list(tmp_path.iterdir()))}.json"
        p.write_text(_json.dumps(d))
        return str(p)

    src_docs = {"storage": "file", "format": "parquet", "path": docs}

    # bad configs exit 2 with a message, never a traceback
    assert main_bpe(["--conf", conf({"action": "bogus", "vocab-path": vocab})]) == 2
    assert main_bpe(["--conf", conf({"action": "build"})]) == 2
    assert main_bpe(["--conf", conf({"action": "build", "vocab-path": vocab})]) == 2
    # a text-col that does not exist in the source, and a source lacking
    # the default term/n word-frequency columns, both exit 2 with a
    # message — not a raw AnalysisException (ADVICE r14)
    assert main_bpe(["--conf", conf(
        {"action": "build", "vocab-path": vocab, "source": src_docs,
         "text-col": "not_a_column"}
    )]) == 2
    assert "no column" in capsys.readouterr().out
    assert main_bpe(["--conf", conf(
        {"action": "build", "vocab-path": vocab, "source": src_docs}
    )]) == 2
    assert "no column" in capsys.readouterr().out
    capsys.readouterr()

    assert main_bpe(["--conf", conf(
        {"action": "build", "vocab-path": vocab, "source": src_docs,
         "text-col": "text", "n-merges": 4}
    )]) == 0
    assert "built vocab" in capsys.readouterr().out
    assert spark.read.parquet(vocab + "/merges").count() == 4

    # drift against the training corpus itself: ratio 1.0, exit 0
    report_out = str(tmp_path / "drift_report")
    assert main_bpe(["--conf", conf(
        {"action": "drift", "vocab-path": vocab, "source": src_docs,
         "text-col": "text",
         "sink": {"format": "parquet", "path": report_out}}
    )]) == 0
    rep = spark.read.parquet(report_out).first()
    assert rep["drift_ratio"] == 1.0 and rep["alarm"] == 0

    # drift against a shifted corpus (reversed text = unseen words):
    # fertility rises, alarm fires, exit 3 — the `drift || retrain` hook
    src_shifted = {
        "storage": "file", "format": "parquet", "path": docs,
        "transform-sql": "SELECT doc_id, reverse(text) AS text "
                         "FROM dataset_temp",
    }
    assert main_bpe(["--conf", conf(
        {"action": "drift", "vocab-path": vocab, "source": src_shifted,
         "text-col": "text", "alarm-ratio": 1.0001}
    )]) == 3
    capsys.readouterr()

    # retrain on the shifted corpus: swaps all three sub-tables
    assert main_bpe(["--conf", conf(
        {"action": "retrain", "vocab-path": vocab, "source": src_shifted,
         "text-col": "text"}
    )]) == 0
    out = capsys.readouterr().out
    assert "retrained vocab" in out and "swapped" in out
    assert spark.read.parquet(vocab + "/merges").count() == 4  # kept count

    # post-retrain, drift vs the shifted corpus is back to 1.0
    assert main_bpe(["--conf", conf(
        {"action": "drift", "vocab-path": vocab, "source": src_shifted,
         "text-col": "text"}
    )]) == 0

    assert main_bpe(["--conf", conf(
        {"action": "stats", "vocab-path": vocab}
    )]) == 0
    assert "vocab stats" in capsys.readouterr().out
