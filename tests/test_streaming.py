"""Structured Streaming e2e: file source → windowed agg → memory sink,
asserting exact batch/stream parity (the module's design contract: batch
and stream share the window expressions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_pipeline_spark.queries import t
from tests.conftest import SF_SMALL


def test_stream_tumbling_matches_batch(spark, tmp_path):
    from spark_pipeline_spark.operators.windows import tumbling_window
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        run_available_now_to_memory,
        stream_tumbling_agg,
    )

    # Land the events table (µs timestamps) as a streaming source dir.
    events = t(spark, SF_SMALL, "events")
    src = str(tmp_path / "events_stream")
    events.write.mode("overwrite").parquet(src)

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    stream = read_parquet_stream(spark, src, schema, max_files_per_trigger=2)
    assert stream.isStreaming

    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ]
    streamed = run_available_now_to_memory(
        stream_tumbling_agg(stream, "ts", "1 day", keys=["event_type"], aggs=aggs),
        "stream_tumbling_test",
    )
    batch = tumbling_window(events, "ts", "1 day", keys=["event_type"], aggs=aggs)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in streamed.collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want
    assert len(want) > 0


def test_stream_sessions_match_batch(spark, tmp_path):
    from spark_pipeline_spark.operators.windows import session_windows
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        run_available_now_to_memory,
        stream_session_agg,
    )

    events = t(spark, SF_SMALL, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "events_sessions")
    events.write.mode("overwrite").parquet(src)

    stream = read_parquet_stream(
        spark, src, "user_id bigint, ts timestamp, value double"
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    streamed = run_available_now_to_memory(
        stream_session_agg(stream, "ts", "30 minutes", keys=["user_id"], aggs=aggs),
        "stream_sessions_test",
    )
    batch = session_windows(events, "ts", "30 minutes", keys=["user_id"], aggs=aggs)
    got = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in streamed.collect()
    }
    want = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """Exact duplicates arriving in DIFFERENT micro-batches must be
    dropped while the key is inside the watermark horizon."""
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        run_available_now_to_memory,
        stream_dedup,
    )

    events = t(spark, SF_SMALL, "events").select("event_id", "ts", "user_id")
    src = str(tmp_path / "events_dup")
    # the same rows land twice, in separate files -> separate micro-batches
    events.coalesce(1).write.mode("overwrite").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)

    stream = read_parquet_stream(
        spark, src, "event_id bigint, ts timestamp, user_id bigint",
        max_files_per_trigger=1,
    )
    deduped = run_available_now_to_memory(
        stream_dedup(stream, ["event_id"], "ts", watermark="365 days"),
        "stream_dedup_test",
        output_mode="append",
    )
    assert deduped.count() == events.count()
    assert deduped.select("event_id").distinct().count() == events.count()


def test_stream_drift_monitor_flags_shift_not_noise(spark, tmp_path):
    """Per-micro-batch TVD vs a reference histogram: near zero for
    batches drawn from the same distribution, large for a shifted
    reference."""
    from spark_pipeline_spark.operators.datadiff import hash_histograms
    from spark_pipeline_spark.streaming import read_parquet_stream, stream_drift_monitor

    events = t(spark, SF_SMALL, "events").select("event_type", "value")
    src = str(tmp_path / "events_drift")
    events.repartition(4).write.mode("overwrite").parquet(src)

    ref_same = hash_histograms(events, ["event_type"], max_bins=64)
    shifted = events.withColumn("event_type", F.concat(F.lit("X_"), "event_type"))
    ref_shifted = hash_histograms(shifted, ["event_type"], max_bins=64)

    results: dict[str, list] = {"same": [], "shifted": []}
    for tag, ref in (("same", ref_same), ("shifted", ref_shifted)):
        stream = read_parquet_stream(
            spark, src, "event_type string, value double", max_files_per_trigger=2
        )
        q = stream_drift_monitor(
            stream,
            ref,
            ["event_type"],
            on_batch=lambda bid, d, tag=tag: results[tag].append(d["event_type"]),
            max_bins=64,
        )
        q.awaitTermination(120)

    assert len(results["same"]) >= 2  # multiple micro-batches ran
    assert all(d < 0.15 for d in results["same"]), results["same"]
    assert all(d > 0.9 for d in results["shifted"]), results["shifted"]


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state survives micro-batch boundaries —
    the final update per key equals the batch aggregate."""
    from pyspark.sql import functions as F2

    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        run_available_now_to_memory,
        stream_stateful_running_totals,
    )

    events = t(spark, SF_SMALL, "events").select("user_id", "value")
    src = str(tmp_path / "events_stateful")
    # 4 files + maxFilesPerTrigger=1 -> 4 micro-batches, so state MUST
    # carry across batches for totals to come out right
    events.repartition(4).write.mode("overwrite").parquet(src)

    stream = read_parquet_stream(
        spark, src, "user_id bigint, value double", max_files_per_trigger=1
    )
    updates = run_available_now_to_memory(
        stream_stateful_running_totals(stream, ["user_id"], "value"),
        "stateful_totals_test",
        output_mode="update",
    )
    # multiple updates per user (one per micro-batch it appeared in);
    # the final one is the running total = max n_events
    final = (
        updates.groupBy("user_id")
        .agg(F2.max("n_events").alias("n_events"))
        .collect()
    )
    got = {r["user_id"]: r["n_events"] for r in final}
    want = {
        r["user_id"]: r["n"]
        for r in events.groupBy("user_id").agg(F2.count(F2.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_stream_enrich_matches_batch_join(spark, tmp_path):
    """Stream-static enrichment must produce exactly the batch join's
    rows (left join against a small broadcast dimension)."""
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        run_available_now_to_memory,
        stream_enrich,
    )

    events = t(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    dim = (
        events.select("user_id").distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("int"))
    )
    src = str(tmp_path / "events_enrich")
    events.write.mode("overwrite").parquet(src)

    stream = read_parquet_stream(
        spark, src, "event_id bigint, user_id bigint, value double"
    )
    streamed = run_available_now_to_memory(
        stream_enrich(stream, dim, on="user_id"),
        "stream_enrich_test",
        output_mode="append",
    )
    batch = events.join(F.broadcast(dim), "user_id", "left")
    assert streamed.count() == batch.count()
    a = {(r["event_id"], r["segment"]) for r in streamed.collect()}
    b = {(r["event_id"], r["segment"]) for r in batch.collect()}
    assert a == b


def test_stream_upsert_sink_latest_wins_across_batches(spark, tmp_path):
    """Two micro-batches with overlapping keys: the maintained snapshot
    must hold exactly one row per key, highest version winning."""
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_upsert_sink,
    )

    src = str(tmp_path / "changes")
    target = str(tmp_path / "snapshot")
    b1 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k int, v string, version int"
    )
    b2 = spark.createDataFrame(
        [(2, "b2", 2), (3, "c", 1)], "k int, v string, version int"
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = read_parquet_stream(
        spark, src, "k int, v string, version int", max_files_per_trigger=1
    )
    q = stream_upsert_sink(stream, target, ["k"], "version")
    q.awaitTermination(120)

    snap = {r["k"]: (r["v"], r["version"]) for r in spark.read.parquet(target).collect()}
    assert snap == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 1)}


def test_stream_scoring_matches_batch(spark, tmp_path):
    """The scoring operator (mapInPandas + explicit DDL) must run
    unchanged on a streaming DataFrame and produce the batch result —
    online inference is the same plan under a streaming source."""
    from spark_pipeline_spark.models import LogisticModel
    from spark_pipeline_spark.operators.columns import require_key
    from spark_pipeline_spark.operators.scoring import score
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        run_available_now_to_memory,
    )

    c = (
        t(spark, SF_SMALL, "customer")
        .select(F.col("c_custkey").cast("string").alias("uid"), "c_acctbal")
    )
    src = str(tmp_path / "score_src")
    c.write.mode("overwrite").parquet(src)
    mdl = LogisticModel({"c_acctbal": 0.001}, intercept=-2.0)

    stream = read_parquet_stream(spark, src, "uid string, c_acctbal double")
    streamed = run_available_now_to_memory(
        score(require_key(stream, "uid"), mdl, cols_to_save=["uid"]),
        "stream_score_test",
        output_mode="append",
    )
    batch = score(require_key(c, "uid"), mdl, cols_to_save=["uid"])
    a = {(r["uid"], round(r["target_proba"], 9)) for r in streamed.collect()}
    b = {(r["uid"], round(r["target_proba"], 9)) for r in batch.collect()}
    assert a == b and len(a) == c.count()


def test_stream_lowered_scoring_matches_python_path(spark, tmp_path):
    """A lowered (Catalyst-projection) model over a streaming source must
    equal the Arrow path over the same rows in batch, with null, NaN and
    ±inf features in the input."""
    from spark_pipeline_spark.models import MulticlassModel
    from spark_pipeline_spark.operators.scoring import score
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        run_available_now_to_memory,
    )
    from tests.test_scoring_lowered import assert_same_scores, features_frame, opaque

    df = features_frame(spark, seed=5)
    src = str(tmp_path / "lowered_src")
    df.write.mode("overwrite").parquet(src)
    mdl = MulticlassModel({
        "lo": {"a": -0.7, "n": 0.2},
        "mid": {"b": 0.4, "flag": 1.5},
        "hi": {"a": 0.9, "b": -0.3, "n": -0.1},
    })
    stream = read_parquet_stream(
        spark, src, "uid string, a double, b double, n bigint, flag boolean"
    )
    streamed = run_available_now_to_memory(
        score(stream, mdl, cols_to_save=["uid", "a"]),
        "stream_lowered_score_test",
        output_mode="append",
    )
    assert_same_scores(streamed, score(df, opaque(mdl), cols_to_save=["uid", "a"]))


def test_committed_snapshot_exists_distinguishes_crash_debris(spark, tmp_path):
    """A bare directory (crashed overwrite debris) must read as 'no
    snapshot' so the upsert sink restarts as first-batch instead of
    wedging; a committed write must read as present."""
    from spark_pipeline_spark.io.commit import (
        committed_snapshot_exists,
        hadoop_path_exists,
    )

    p = tmp_path / "snap"
    assert not hadoop_path_exists(spark, str(p))
    assert not committed_snapshot_exists(spark, str(p))

    p.mkdir()  # crash debris: directory with no committed files
    (p / "_temporary").mkdir()
    # bare existence says yes — exactly why the sink must NOT use it
    assert hadoop_path_exists(spark, str(p))
    assert not committed_snapshot_exists(spark, str(p))

    spark.range(3).write.mode("overwrite").parquet(str(p))
    assert committed_snapshot_exists(spark, str(p))


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Attribution join (view -> purchase within 2h) on two file-source
    streams must equal the equivalent batch interval join."""
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        run_available_now_to_memory,
        stream_stream_interval_join,
    )

    events = t(spark, SF_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("buy_ts"), F.col("event_id").alias("buy_id")
    )
    vsrc, psrc = str(tmp_path / "views"), str(tmp_path / "purchases")
    views.write.mode("overwrite").parquet(vsrc)
    purchases.write.mode("overwrite").parquet(psrc)

    vstream = read_parquet_stream(
        spark, vsrc, "user_id bigint, view_ts timestamp, view_id bigint"
    )
    pstream = read_parquet_stream(
        spark, psrc, "user_id bigint, buy_ts timestamp, buy_id bigint"
    )
    joined = stream_stream_interval_join(
        vstream, pstream, "user_id", "view_ts", "buy_ts",
        max_delay="2 hours", left_watermark="1 hour", right_watermark="3 hours",
    )
    streamed = run_available_now_to_memory(
        joined, "stream_interval_join_test", output_mode="append", timeout_sec=180
    )

    batch = views.join(purchases, "user_id").filter(
        (F.col("buy_ts") >= F.col("view_ts"))
        & (F.col("buy_ts") <= F.col("view_ts") + F.expr("interval 2 hours"))
    )
    got = {(r["view_id"], r["buy_id"]) for r in streamed.collect()}
    want = {(r["view_id"], r["buy_id"]) for r in batch.collect()}
    assert got == want
    assert len(want) > 0


def test_stream_stream_interval_join_rejects_same_ts_names(spark):
    import pytest
    from spark_pipeline_spark.streaming import stream_stream_interval_join

    s = t(spark, SF_SMALL, "events").select("user_id", "ts")
    with pytest.raises(ValueError, match="distinct"):
        stream_stream_interval_join(s, s, "user_id", "ts", "ts")


def test_stream_incremental_agg_sink_equals_batch_aggregate(spark, tmp_path):
    """After draining the stream, the maintained snapshot must equal the
    from-scratch aggregate over all rows — arbitrarily split into
    micro-batches (maxFilesPerTrigger=1 forces several merges)."""
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_incremental_agg_sink,
    )

    events = t(spark, SF_SMALL, "events").select("event_type", "value")
    src = str(tmp_path / "events_inc")
    events.repartition(5).write.mode("overwrite").parquet(src)

    stream = read_parquet_stream(
        spark, src, "event_type string, value double", max_files_per_trigger=1
    )
    target = str(tmp_path / "agg_snapshot")
    spec = {
        "total_value": ("sum", "value"),
        "n_events": ("count", "value"),
        "max_value": ("max", "value"),
    }
    q = stream_incremental_agg_sink(
        stream, target, ["event_type"], spec,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: (
            round(r["total_value"], 6), r["n_events"], round(r["max_value"], 6)
        )
        for r in spark.read.parquet(target).collect()
    }
    want = {
        r["event_type"]: (
            round(r["total_value"], 6), r["n_events"], round(r["max_value"], 6)
        )
        for r in events.groupBy("event_type")
        .agg(
            F.sum("value").alias("total_value"),
            F.count("value").alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def _inc_merge_fn(batch_df, keys, spec):
    """merge_fn closure matching stream_incremental_agg_sink's process."""
    from spark_pipeline_spark.operators.incremental import (
        aggregate_snapshot,
        incremental_agg_merge,
    )

    def merge(current):
        if current is None:
            return aggregate_snapshot(batch_df, keys, spec)
        return incremental_agg_merge(current, batch_df, keys, spec)

    return merge


_SPEC = {"total": ("sum", "value"), "n": ("count", "value")}


def test_replay_guarded_swap_skips_replayed_batch(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering an already-merged
    batch_id must be a no-op, not a double-count of sums/counts."""
    from spark_pipeline_spark.streaming import _replay_guarded_swap

    target = str(tmp_path / "snap")
    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, value double")
    b1 = spark.createDataFrame([("a", 10.0)], "k string, value double")

    _replay_guarded_swap(spark, target, 0, _inc_merge_fn(b0, ["k"], _SPEC))
    _replay_guarded_swap(spark, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))
    # crash between swap and checkpoint commit -> batch 1 replays
    _replay_guarded_swap(spark, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))

    got = {
        r["k"]: (r["total"], r["n"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {"a": (11.0, 2), "b": (2.0, 1)}  # 10.0 merged ONCE


def test_replay_guarded_swap_recovers_crashed_overwrite(spark, tmp_path, monkeypatch):
    """A crash between the commit's two renames leaves no live snapshot,
    only the committed staging copy — here with a crashed overwrite's
    ``_temporary`` debris at the target path too. The replayed batch
    must roll the commit forward (not silently restart as first-batch,
    not wedge), skip the merge it already holds, and the NEXT batch
    merges on top."""
    import pytest as _pytest

    from spark_pipeline_spark.io.commit import sidecars
    from spark_pipeline_spark.streaming import (
        SNAPSHOT_BATCH_COL,
        _replay_guarded_swap,
    )
    from tests.commit_kill import CommitKilled, kill_commit, sidecar_residue

    target = str(tmp_path / "snap")
    b0 = spark.createDataFrame([("a", 1.0)], "k string, value double")
    b1 = spark.createDataFrame([("a", 10.0), ("b", 5.0)], "k string, value double")
    _replay_guarded_swap(spark, target, 0, _inc_merge_fn(b0, ["k"], _SPEC))
    with kill_commit(monkeypatch, 2), _pytest.raises(CommitKilled):
        _replay_guarded_swap(spark, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))
    import os

    assert not os.path.exists(target) and os.path.exists(sidecars(target)[0])
    os.makedirs(target + "/_temporary")

    # replay of batch 1 -> roll forward from staging, merge skipped
    _replay_guarded_swap(spark, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))
    got = {
        r["k"]: (r["total"], r["n"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {"a": (11.0, 2), "b": (5.0, 1)}
    last = spark.read.parquet(target).agg(F.max(SNAPSHOT_BATCH_COL)).first()[0]
    assert last == 1
    assert sidecar_residue(tmp_path) == []

    # and the NEXT batch merges on top of the restored snapshot
    b2 = spark.createDataFrame([("b", 1.0)], "k string, value double")
    _replay_guarded_swap(spark, target, 2, _inc_merge_fn(b2, ["k"], _SPEC))
    got = {
        r["k"]: (r["total"], r["n"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {"a": (11.0, 2), "b": (6.0, 2)}


def test_replay_guarded_swap_raises_on_unrecoverable_debris(spark, tmp_path):
    """Debris target with NO committed staging copy is not mechanically
    recoverable: the sink must refuse loudly instead of overwriting
    whatever a human could still salvage."""
    import pytest as _pytest

    from spark_pipeline_spark.streaming import _replay_guarded_swap

    target = tmp_path / "snap"
    target.mkdir()
    (target / "_temporary").mkdir()
    b0 = spark.createDataFrame([("a", 1.0)], "k string, value double")
    with _pytest.raises(RuntimeError, match="crashed overwrite debris"):
        _replay_guarded_swap(spark, str(target), 0, _inc_merge_fn(b0, ["k"], _SPEC))


def test_upsert_sink_replay_and_recovery_via_guard(spark, tmp_path):
    """The upsert sink shares the guard: a replayed upsert batch is
    skipped (harmless either way — latest-wins is idempotent) and the
    snapshot carries the batch-id metadata column."""
    from spark_pipeline_spark.operators.merge import merge_upsert
    from spark_pipeline_spark.streaming import (
        SNAPSHOT_BATCH_COL,
        _replay_guarded_swap,
    )

    target = str(tmp_path / "snap")
    b0 = spark.createDataFrame([(1, "a", 1)], "k int, v string, version int")

    def merge(current):
        base = b0.limit(0) if current is None else current
        return merge_upsert(base, b0, ["k"], "version")

    _replay_guarded_swap(spark, target, 0, merge)
    snap = spark.read.parquet(target)
    assert SNAPSHOT_BATCH_COL in snap.columns
    assert snap.count() == 1


def test_fs_helpers_work_without_jvm_gateway(spark, tmp_path):
    """Spark Connect sessions expose no _jvm gateway: both FS helpers
    must fall back to the binaryFile read-probe (analysis-only, no file
    content) and return the same answers as the Hadoop FS API path."""
    from spark_pipeline_spark.io.commit import (
        committed_snapshot_exists,
        hadoop_path_exists,
    )

    class FakeConnectSession:
        """The DataFrame reader surface of a Connect session, no JVM."""

        _jvm = None

        def __init__(self, real):
            self._real = real

        @property
        def read(self):
            return self._real.read

    fake = FakeConnectSession(spark)

    missing = str(tmp_path / "nope")
    assert hadoop_path_exists(fake, missing) is False
    assert committed_snapshot_exists(fake, missing) is False

    committed = str(tmp_path / "snap")
    spark.createDataFrame([("a", 1)], "k string, v int").write.parquet(committed)
    assert hadoop_path_exists(fake, committed) is True
    assert committed_snapshot_exists(fake, committed) is True
    # parity with the classic JVM path on the same dirs
    assert hadoop_path_exists(spark, committed) is True
    assert committed_snapshot_exists(spark, committed) is True

    # a crash-torn dir (exists, only hidden/_temporary content) is
    # "present" as a path but NOT a committed snapshot
    torn = tmp_path / "torn"
    (torn / "_temporary").mkdir(parents=True)
    assert hadoop_path_exists(fake, str(torn)) is True
    assert committed_snapshot_exists(fake, str(torn)) is False
    assert committed_snapshot_exists(spark, str(torn)) is False

    # the sink's commit runs on Connect too: no rename there, so live is
    # rewritten from the staging copy, which stays as the recovery copy
    import os
    import shutil

    import pytest as _pytest

    from spark_pipeline_spark.io.commit import sidecars
    from spark_pipeline_spark.streaming import _replay_guarded_swap

    def snap(path):
        return {r["k"]: (r["total"], r["n"]) for r in spark.read.parquet(path).collect()}

    target = str(tmp_path / "connect_snap")
    b0 = spark.createDataFrame([("a", 1.0)], "k string, value double")
    b1 = spark.createDataFrame([("a", 10.0), ("b", 5.0)], "k string, value double")
    _replay_guarded_swap(fake, target, 0, _inc_merge_fn(b0, ["k"], _SPEC))
    _replay_guarded_swap(fake, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))
    want = {"a": (11.0, 2), "b": (5.0, 1)}
    assert snap(target) == want == snap(sidecars(target)[0])
    # a crash mid-rewrite tears live: the replay restores it from the
    # recovery copy and skips the batch it already holds
    shutil.rmtree(target)
    os.makedirs(target + "/_temporary")
    _replay_guarded_swap(fake, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))
    assert snap(target) == want
    # debris with no recovery copy is refused
    shutil.rmtree(sidecars(target)[0])
    shutil.rmtree(target)
    os.makedirs(target + "/_temporary")
    with _pytest.raises(RuntimeError, match="crashed overwrite debris"):
        _replay_guarded_swap(fake, target, 2, _inc_merge_fn(b1, ["k"], _SPEC))


def test_replay_guarded_swap_merges_when_staging_ahead_of_target(spark, tmp_path, monkeypatch):
    """Crash AFTER the staging write but BEFORE the first rename: the
    target still holds batch N-1 (committed), staging holds batch N.
    The replay of batch N must merge from the committed target — once —
    and the complete-but-uncommitted staging copy must not confuse it."""
    import pytest as _pytest

    from spark_pipeline_spark.io.commit import sidecars
    from spark_pipeline_spark.streaming import _replay_guarded_swap
    from tests.commit_kill import CommitKilled, kill_commit, sidecar_residue

    target = str(tmp_path / "snap")
    b0 = spark.createDataFrame([("a", 1.0)], "k string, value double")
    b1 = spark.createDataFrame([("a", 10.0)], "k string, value double")
    _replay_guarded_swap(spark, target, 0, _inc_merge_fn(b0, ["k"], _SPEC))
    with kill_commit(monkeypatch, 1), _pytest.raises(CommitKilled):
        _replay_guarded_swap(spark, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))
    import os

    assert os.path.exists(sidecars(target)[0] + "/_SUCCESS")

    _replay_guarded_swap(spark, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))
    got = {
        r["k"]: (r["total"], r["n"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {"a": (11.0, 2)}
    assert sidecar_residue(tmp_path) == []


def test_replay_guarded_swap_restores_when_target_fully_absent(spark, tmp_path, monkeypatch):
    """A crash between the commit's renames leaves the target path
    absent, with the old copy and the committed staging copy beside it.
    The state must be recovered (history included, NOT just batch 1),
    not treated as first-batch, and both sidecars dropped."""
    import pytest as _pytest

    from spark_pipeline_spark.io.commit import sidecars
    from spark_pipeline_spark.streaming import _replay_guarded_swap
    from tests.commit_kill import CommitKilled, kill_commit, sidecar_residue

    target = str(tmp_path / "snap")
    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, value double")
    b1 = spark.createDataFrame([("a", 10.0)], "k string, value double")
    _replay_guarded_swap(spark, target, 0, _inc_merge_fn(b0, ["k"], _SPEC))
    with kill_commit(monkeypatch, 2), _pytest.raises(CommitKilled):
        _replay_guarded_swap(spark, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))
    import os

    assert not os.path.exists(target)
    assert all(os.path.exists(p) for p in sidecars(target))

    _replay_guarded_swap(spark, target, 1, _inc_merge_fn(b1, ["k"], _SPEC))
    got = {
        r["k"]: (r["total"], r["n"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {"a": (11.0, 2), "b": (2.0, 1)}  # NOT just batch 1
    assert sidecar_residue(tmp_path) == []


def test_replay_guarded_swap_accepts_legacy_snapshot_without_batch_col(spark, tmp_path):
    """Snapshots written before the batch-id column existed must keep
    working: treated as last=-1 (at-least-once, the old behavior) and
    upgraded with the column on the next merge."""
    from spark_pipeline_spark.streaming import (
        SNAPSHOT_BATCH_COL,
        _replay_guarded_swap,
    )

    target = str(tmp_path / "snap")
    legacy = spark.createDataFrame(
        [("a", 5.0, 2), ("b", 1.0, 1)], "k string, total double, n long"
    )
    legacy.write.mode("overwrite").parquet(target)

    b = spark.createDataFrame([("b", 4.0)], "k string, value double")
    _replay_guarded_swap(spark, target, 7, _inc_merge_fn(b, ["k"], _SPEC))
    snap = spark.read.parquet(target)
    assert SNAPSHOT_BATCH_COL in snap.columns
    got = {r["k"]: (r["total"], r["n"]) for r in snap.collect()}
    assert got == {"a": (5.0, 2), "b": (5.0, 2)}


def test_stream_upsert_sink_cdc_tombstones(spark, tmp_path):
    """CDC mode (op_col): across micro-batches, a key whose latest
    change is a delete leaves the snapshot; a later re-insert survives;
    the op column never reaches the stored snapshot."""
    from spark_pipeline_spark.streaming import (
        SNAPSHOT_BATCH_COL,
        read_parquet_stream,
        stream_upsert_sink,
    )

    src = str(tmp_path / "cdc")
    target = str(tmp_path / "snapshot")
    b1 = spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 1, "I"), (3, "c", 1, "I")],
        "k int, v string, version int, op string",
    )
    b2 = spark.createDataFrame(
        [(2, "b", 2, "D"), (3, "c", 2, "D"), (3, "c3", 3, "I"), (4, "d", 1, "I")],
        "k int, v string, version int, op string",
    )
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = read_parquet_stream(
        spark, src, "k int, v string, version int, op string",
        max_files_per_trigger=1,
    )
    q = stream_upsert_sink(
        stream, target, ["k"], "version",
        checkpoint=str(tmp_path / "ckpt"), op_col="op",
    )
    q.awaitTermination(120)

    snap = spark.read.parquet(target)
    assert "op" not in snap.columns and SNAPSHOT_BATCH_COL in snap.columns
    got = {r["k"]: (r["v"], r["version"]) for r in snap.collect()}
    assert got == {1: ("a", 1), 3: ("c3", 3), 4: ("d", 1)}


def test_streaming_maintained_bin_partials_yield_batch_p95(spark, tmp_path):
    """Streaming quantile maintenance by composition: the sliding-P95
    operator's mergeable state is an additive (day, bin)→count
    aggregate, so the EXISTING incremental-agg sink maintains it under
    arbitrary micro-batching; the P95 readout over the drained snapshot
    must equal the batch estimator's answer on the same rows."""
    from pyspark.sql import Window

    from spark_pipeline_spark.io.sources import read_parquet_nanos
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_incremental_agg_sink,
    )

    events = read_parquet_nanos(
        spark, f"{SF_SMALL}/events.parquet", ["ts"]
    ).select(
        F.date_trunc("day", "ts").alias("day"),
        F.least(F.greatest(F.floor(F.col("value") / 4.0), F.lit(0)), F.lit(199))
        .cast("long")
        .alias("bin"),
    )
    src = str(tmp_path / "events_bins")
    events.repartition(4).write.mode("overwrite").parquet(src)

    stream = read_parquet_stream(
        spark, src, "day timestamp, bin bigint", max_files_per_trigger=1
    )
    target = str(tmp_path / "bin_snapshot")
    q = stream_incremental_agg_sink(
        stream,
        target,
        ["day", "bin"],
        {"n": ("count", "bin")},
        checkpoint=str(tmp_path / "ckpt_bins"),
    )
    q.awaitTermination(120)

    def p95_from_partials(partials):
        w_cum = (
            Window.partitionBy("day").orderBy("bin").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        w_all = Window.partitionBy("day")
        cum = partials.select(
            "day",
            "bin",
            F.sum("n").over(w_cum).alias("cum_n"),
            F.sum("n").over(w_all).alias("tot"),
        )
        hit = F.when(F.col("cum_n") >= 0.95 * F.col("tot"), F.col("bin"))
        return {
            r["day"]: r["p95_bin"]
            for r in cum.groupBy("day")
            .agg(F.min(hit).cast("long").alias("p95_bin"))
            .collect()
        }

    got = p95_from_partials(
        spark.read.parquet(target).select("day", "bin", "n")
    )
    want = p95_from_partials(
        events.groupBy("day", "bin").agg(F.count(F.lit(1)).alias("n"))
    )
    assert got == want and len(want) > 0


def test_stream_topk_sink_matches_batch_topk(spark, tmp_path):
    """After draining, the maintained leaderboard must equal the batch
    top-k over all rows — whatever the micro-batch split — and the
    deterministic tie-break makes the file content reproducible."""
    from spark_pipeline_spark.streaming import read_parquet_stream, stream_topk_sink

    o = t(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    src = str(tmp_path / "orders_topk_src")
    o.repartition(6).write.mode("overwrite").parquet(src)

    stream = read_parquet_stream(
        spark, src, "o_orderkey bigint, o_totalprice double", max_files_per_trigger=1
    )
    target = str(tmp_path / "leaderboard")
    q = stream_topk_sink(
        stream, target, "o_totalprice", 25, checkpoint=str(tmp_path / "ckpt_topk")
    )
    q.awaitTermination(120)

    got = sorted(
        (r["o_orderkey"], r["o_totalprice"])
        for r in spark.read.parquet(target)
        .select("o_orderkey", "o_totalprice")
        .collect()
    )
    # tie-break the batch expectation with the SAME md5-of-full-row
    # expression the sink uses, so a price tie at the rank-25 boundary
    # resolves identically on both sides (not by o_orderkey)
    tie = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_totalprice").cast("string"),
        )
    )
    want = sorted(
        (r["o_orderkey"], r["o_totalprice"])
        for r in o.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), tie)
        .limit(25)
        .collect()
    )
    assert got == want and len(got) == 25


def test_topk_merge_fold_equals_global_for_any_split(spark):
    """The sink's top-k merge algebra, SEQUENTIALLY folded (the actual
    micro-batch order of stream_topk_sink) over several split shapes,
    must equal the one-shot global top-k under the same md5 tie-break —
    the associativity/idempotence claim `streaming_topk_merge_replay`
    hashes for one split, checked here for uneven and single-batch
    splits too."""
    from pyspark.sql import Window

    o = t(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    tie = F.md5(F.col("o_orderkey").cast("string"))

    def topk(df):
        w = Window.orderBy(F.desc("o_totalprice"), tie)
        return (
            df.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= 25)
            .drop("__r")
        )

    want = {tuple(r) for r in topk(o).collect()}
    for mod in (1, 3, 7):
        state = None
        for i in range(mod):
            batch = o.filter(F.pmod(F.col("o_orderkey"), F.lit(mod)) == i)
            merged = (
                batch if state is None else state.unionByName(topk(batch))
            )
            state = topk(merged)
        got = {tuple(r) for r in state.collect()}
        assert got == want and len(got) == 25, f"mod={mod}"


def test_stream_quality_gate_routes_batches(spark, tmp_path):
    """Batches violating an expectation land WHOLE in quarantine;
    passing batches land WHOLE in the target; nothing is lost and both
    sides stay queryable with batch-partition discovery."""
    from spark_pipeline_spark.operators import quality as Q
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_quality_gate_sink,
    )

    events = t(spark, SF_SMALL, "events").select("event_id", "value")
    src = str(tmp_path / "events_gate")
    # one clean file and one poisoned file -> one passing and one
    # failing micro-batch
    clean = events.filter(F.col("value") >= 0)
    poisoned = events.limit(50).withColumn("value", F.lit(-1.0))
    clean.coalesce(1).write.mode("overwrite").parquet(src)
    poisoned.coalesce(1).write.mode("append").parquet(src)

    stream = read_parquet_stream(
        spark, src, "event_id bigint, value double", max_files_per_trigger=1
    )
    target = str(tmp_path / "accepted")
    quarantine = str(tmp_path / "quarantine")
    reports: list[tuple[int, bool, dict]] = []
    q = stream_quality_gate_sink(
        stream,
        target,
        quarantine,
        [Q.not_null("event_id"), Q.in_range("value", 0, 1e12)],
        checkpoint=str(tmp_path / "ckpt_gate"),
        on_batch=lambda bid, ok, rep: reports.append((bid, ok, rep)),
    )
    q.awaitTermination(120)

    assert len(reports) == 2
    outcomes = {ok for _, ok, _ in reports}
    assert outcomes == {True, False}
    accepted = spark.read.parquet(target)
    rejected = spark.read.parquet(quarantine)
    assert "batch" in accepted.columns and "batch" in rejected.columns
    assert accepted.count() == clean.count()
    assert rejected.count() == poisoned.count()
    assert rejected.filter(F.col("value") >= 0).count() == 0
    failing = [rep for _, ok, rep in reports if not ok][0]
    assert failing["in_range:value"] == poisoned.count()
    assert failing["not_null:event_id"] == 0


def test_stream_dedup_lsh_sink_drops_cross_batch_near_dups(spark, tmp_path):
    """Streaming LSH dedup against the persisted index: a near-copy
    arriving in a LATER micro-batch is dropped, a within-batch copy is
    dropped (lowest id survives), genuinely new documents are accepted,
    and the index accumulates only accepted documents."""
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_dedup_lsh_sink,
    )

    d = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    first = d.filter(F.col("doc_id") < 200)
    # batch 2: new docs + a replant of doc 7 (cross-batch dup) + an
    # intra-batch near-identical pair (9001 ~ copy of 9000's text)
    base_new = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
    replant = first.filter(F.col("doc_id") == 7).withColumn(
        "doc_id", F.lit(9007).cast("long")
    )
    intra_a = d.filter(F.col("doc_id") == 300).withColumn(
        "doc_id", F.lit(9000).cast("long")
    )
    intra_b = d.filter(F.col("doc_id") == 300).withColumn(
        "doc_id", F.lit(9001).cast("long")
    )
    second = base_new.unionByName(replant).unionByName(intra_a).unionByName(intra_b)

    src = str(tmp_path / "docs_stream")
    first.coalesce(1).write.mode("overwrite").parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)

    stream = read_parquet_stream(
        spark, src, "doc_id bigint, text string", max_files_per_trigger=1
    )
    index = str(tmp_path / "dedup_index")
    accepted = str(tmp_path / "accepted")
    counts: list[tuple[int, int]] = []
    q = stream_dedup_lsh_sink(
        stream,
        index,
        accepted,
        "doc_id",
        "text",
        threshold=0.9,
        checkpoint=str(tmp_path / "ckpt_lsh"),
        on_batch=lambda bid, n: counts.append((bid, n)),
    )
    q.awaitTermination(240)

    out = spark.read.parquet(accepted)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 9007 not in ids  # cross-batch near-copy dropped via the index
    assert 9001 not in ids  # intra-batch copy dropped (higher id)
    # of the identical trio {300, 9000, 9001} in batch 2, exactly the
    # lowest surviving id remains
    assert len({300, 9000} & ids) == 1

    # batch-1 drops are exactly the higher ids of its own verified
    # near-dup pairs (the test corpus ships natural planted near-dups)
    from spark_pipeline_spark.operators.dedup import minhash_near_dup_pairs

    first_pairs = minhash_near_dup_pairs(first, "doc_id", "text", threshold=0.9)
    expected_first_drops = {r["id_b"] for r in first_pairs.collect()}
    first_ids = {r["doc_id"] for r in first.select("doc_id").collect()}
    assert first_ids - ids == expected_first_drops

    # the index holds only accepted ids
    idx_ids = {
        r["__id"] for r in spark.read.parquet(index + "/bands").select("__id").collect()
    }
    assert idx_ids == ids
    assert len(counts) == 2

def test_stream_dedup_lsh_sink_matches_batch_replay_query(spark, tmp_path):
    """The registered `streaming_dedup_lsh_replay` oracle query claims to
    encode the sink's accept/reject protocol — prove it: drive the REAL
    sink over the same doc_id-mod-3 batch split (in batch order) and
    assert the per-batch accepted counts and the final accepted id set
    equal the replay query's answer."""
    from spark_pipeline_spark.queries import REGISTRY
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_dedup_lsh_sink,
    )

    d = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_stream_replay")
    for b in range(3):
        d.filter(F.pmod("doc_id", F.lit(3)) == b).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # one file per batch, in write order: maxFilesPerTrigger=1 replays the
    # same 3-batch sequence the registered query folds
    stream = read_parquet_stream(
        spark, src, "doc_id bigint, text string", max_files_per_trigger=1
    )
    counts: dict[int, int] = {}
    q = stream_dedup_lsh_sink(
        stream,
        str(tmp_path / "idx"),
        str(tmp_path / "acc"),
        "doc_id",
        "text",
        threshold=0.7,
        checkpoint=str(tmp_path / "ckpt_replay"),
        on_batch=lambda bid, n: counts.__setitem__(bid, n),
    )
    q.awaitTermination(240)

    replay = {
        r["batch"]: (r["n_in"], r["n_accepted"])
        for r in REGISTRY["streaming_dedup_lsh_replay"].fn(spark, SF_SMALL).collect()
    }
    # parquet file listing order == write order here, so stream batch id
    # b corresponds to doc_id%3==b; verify via n_in to catch reordering
    sink_sizes = {
        b: d.filter(F.pmod("doc_id", F.lit(3)) == b).count() for b in range(3)
    }
    for b in range(3):
        n_in, n_accepted = replay[b]
        assert sink_sizes[b] == n_in
        assert counts[b] == n_accepted, (b, counts, replay)

def test_purge_ids_from_dedup_index_forgets_vetoes(spark, tmp_path):
    """GDPR delete-propagation into DERIVED state: after purging a doc
    from the LSH index, (a) no trace of it remains in bands/shingles/
    accepted, (b) the batch partition layout survives, and (c) a
    near-copy arriving later is ACCEPTED — the forgotten doc no longer
    vetoes near-duplicates."""
    from spark_pipeline_spark.streaming import (
        purge_ids_from_dedup_index,
        read_parquet_stream,
        stream_dedup_lsh_sink,
    )

    d = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    index = str(tmp_path / "purge_idx")
    accepted = str(tmp_path / "purge_acc")
    ckpt = str(tmp_path / "purge_ckpt")

    def run_once():
        stream = read_parquet_stream(
            spark, src, "doc_id bigint, text string", max_files_per_trigger=100
        )
        q = stream_dedup_lsh_sink(
            stream, index, accepted, "doc_id", "text",
            threshold=0.9, checkpoint=ckpt,
        )
        q.awaitTermination(240)

    # batch 0: the base corpus slice (doc 7 gets accepted)
    d.filter(F.col("doc_id") < 100).coalesce(1).write.mode("append").parquet(src)
    run_once()
    # batch 1: a near-copy of doc 7 → vetoed by the index
    d.filter(F.col("doc_id") == 7).withColumn(
        "doc_id", F.lit(9007).cast("long")
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    acc_ids = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert 7 in acc_ids and 9007 not in acc_ids

    removed = purge_ids_from_dedup_index(
        spark,
        index,
        spark.createDataFrame([(7,)], "id long"),
        accepted_path=accepted,
    )
    assert removed["bands_removed"] > 0
    assert removed["shingles_removed"] > 0
    assert removed["accepted_removed"] == 1

    bands = spark.read.parquet(index + "/bands")
    shingles = spark.read.parquet(index + "/shingles")
    acc2 = spark.read.parquet(accepted)
    assert bands.filter(F.col("__id") == 7).count() == 0
    assert shingles.filter(F.col("__id") == 7).count() == 0
    assert acc2.filter(F.col("doc_id") == 7).count() == 0
    # partition layout preserved (batch column still discoverable)
    assert "batch" in bands.columns and bands.select("batch").distinct().count() >= 1

    # batch 2: the same text again under a new id → now ACCEPTED
    d.filter(F.col("doc_id") == 7).withColumn(
        "doc_id", F.lit(9107).cast("long")
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    final_ids = {r["doc_id"] for r in spark.read.parquet(accepted).collect()}
    assert 9107 in final_ids, "purged doc still vetoes near-duplicates"


def test_stream_quality_gate_sink_matches_batch_replay_query(spark, tmp_path):
    """The registered `streaming_quality_gate_replay` oracle claims to
    encode the quality-gate sink's verdicts and routing — prove it:
    drive the REAL sink over the same event_id-mod-4 batch split (batch
    2 poisoned exactly as the query poisons it) and assert each batch's
    pass verdict, violation counts, and routed row counts equal the
    replay query's rows."""
    from spark_pipeline_spark.operators import quality as Q
    from spark_pipeline_spark.queries import REGISTRY
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_quality_gate_sink,
    )

    e = t(spark, SF_SMALL, "events").select("event_id", "value")
    poisoned = e.withColumn(
        "value",
        F.when(
            F.pmod("event_id", F.lit(4)) == 2, -F.abs(F.col("value"))
        ).otherwise(F.col("value")),
    )
    src = str(tmp_path / "events_gate_replay")
    for b in range(4):
        poisoned.filter(F.pmod("event_id", F.lit(4)) == b).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = read_parquet_stream(
        spark, src, "event_id bigint, value double", max_files_per_trigger=1
    )
    target = str(tmp_path / "gate_target")
    quarantine = str(tmp_path / "gate_quarantine")
    reports: dict[int, tuple[bool, dict]] = {}
    q = stream_quality_gate_sink(
        stream,
        target,
        quarantine,
        [Q.not_null("event_id"), Q.in_range("value", 0, 1e12)],
        checkpoint=str(tmp_path / "ckpt_gate_replay"),
        on_batch=lambda bid, ok, rep: reports.__setitem__(bid, (ok, rep)),
    )
    q.awaitTermination(240)

    replay = {
        r["batch"]: r
        for r in REGISTRY["streaming_quality_gate_replay"].fn(spark, SF_SMALL).collect()
    }
    assert set(reports) == set(replay) == {0, 1, 2, 3}
    for b in range(4):
        ok, rep = reports[b]
        row = replay[b]
        assert ok == row["passed"], (b, reports, row)
        assert rep["not_null:event_id"] == row["v_null_id"]
        assert rep["in_range:value"] == row["v_range_value"]
    # routing: whole batches land where the replay's route column says
    routed_target = spark.read.parquet(target)
    routed_quarantine = spark.read.parquet(quarantine)
    want_target = sum(
        replay[b]["n_in"] for b in range(4) if replay[b]["route"] == "target"
    )
    want_quarantine = sum(
        replay[b]["n_in"] for b in range(4) if replay[b]["route"] == "quarantine"
    )
    assert routed_target.count() == want_target
    assert routed_quarantine.count() == want_quarantine


def test_stateful_closed_sessions_match_batch(spark, tmp_path):
    """EventTimeTimeout sessionizer: closed sessions emitted by the
    stateful operator equal the batch gaps-and-islands sessions once the
    watermark has swept past every close. Run 1 drains the real events
    (watermark too early — nothing closes); run 2 resumes the same
    checkpoint with two far-future sentinel files, advancing the
    watermark so every real session closes via state timeout."""
    import datetime as dt

    from pyspark.sql import functions as F2

    from spark_pipeline_spark.operators.windows import session_windows
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        run_available_now_to_parquet,
        stream_stateful_closed_sessions,
    )

    events = t(spark, SF_SMALL, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "events_closed_sessions")
    ckpt = str(tmp_path / "ckpt")
    # watermark delay exceeds the data's full ts span, so nothing in the
    # real stream is ever late no matter how files split into batches
    events.repartition(3).write.mode("overwrite").parquet(src)
    schema = "user_id bigint, ts timestamp, value double"

    out_path = str(tmp_path / "closed_sessions_out")
    out1 = run_available_now_to_parquet(
        stream_stateful_closed_sessions(
            read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
            "user_id",
            "ts",
            gap_seconds=1800,
            watermark="400 days",
        ),
        out_path,
        ckpt,
    )
    # watermark never reached any close during run 1
    assert out1 is None or out1.count() == 0

    max_ts = events.agg(F2.max("ts")).collect()[0][0]
    for i, days in enumerate((401, 402)):
        spark.createDataFrame(
            [(-1, max_ts + dt.timedelta(days=days), 0.0)], schema
        ).write.mode("append").parquet(str(tmp_path / f"sentinel{i}"))
        # separate dirs can't feed one file source; copy into src
        spark.read.parquet(str(tmp_path / f"sentinel{i}")).write.mode(
            "append"
        ).parquet(src)

    out2 = run_available_now_to_parquet(
        stream_stateful_closed_sessions(
            read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
            "user_id",
            "ts",
            gap_seconds=1800,
            watermark="400 days",
        ),
        out_path,
        ckpt,
    )
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in out2.filter(F2.col("user_id") != -1).collect()
    }
    batch = session_windows(
        events,
        "ts",
        "30 minutes",
        keys=["user_id"],
        aggs=[
            F2.count(F2.lit(1)).alias("n_events"),
            F2.sum("value").alias("sum_value"),
        ],
    )
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert len(want) > 0
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0], k
        assert abs(got[k][1] - want[k][1]) < 1e-6, k


def test_stream_dedup_lsh_sink_failed_batch_leaks_no_cached_blocks(
    spark, tmp_path
):
    """An exception thrown mid-batch (here: from the on_batch callback,
    which runs AFTER the sink's three persists) must not leak cached
    blocks for the life of the session — the foreachBatch body releases
    every persist in a finally. This is the failure-path completion of
    r10's session-lifetime memory work (SCALE.md: the sf0.1 sweep OOM)."""
    import pytest

    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_dedup_lsh_sink,
    )

    def cached_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    d = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = str(tmp_path / "leak_src")
    d.filter(F.col("doc_id") < 50).coalesce(1).write.mode("overwrite").parquet(src)

    baseline = cached_ids()

    def boom(batch_id: int, n: int) -> None:
        raise RuntimeError("injected batch failure")

    q = stream_dedup_lsh_sink(
        read_parquet_stream(
            spark, src, "doc_id bigint, text string", max_files_per_trigger=100
        ),
        str(tmp_path / "leak_idx"),
        str(tmp_path / "leak_acc"),
        "doc_id",
        "text",
        threshold=0.9,
        checkpoint=str(tmp_path / "leak_ckpt"),
        on_batch=boom,
    )
    with pytest.raises(Exception, match="injected batch failure"):
        q.awaitTermination(240)
        # if awaitTermination returned without raising, surface the
        # query's terminal exception explicitly
        if q.exception() is not None:
            raise q.exception()

    assert cached_ids() == baseline, (
        "failed micro-batch left cached RDD blocks behind"
    )


def _seed_centroids(spark):
    return (
        t(spark, SF_SMALL, "embeddings")
        .filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("cell"),
                F.col("embedding").cast("array<double>").alias("centroid"))
    )


def test_stream_semantic_dedup_sink_matches_batch_replay_query(spark, tmp_path):
    """The registered `streaming_semdedup_replay` oracle query claims to
    encode the semantic sink's accept/reject protocol — prove it: drive
    the REAL sink over the same vec_id-mod-3 batch split (in batch
    order) and assert per-batch accepted counts match the replay."""
    from spark_pipeline_spark.queries import REGISTRY
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_semantic_dedup_sink,
    )

    e = t(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "emb_stream_replay")
    for b in range(3):
        e.filter(F.pmod("vec_id", F.lit(3)) == b).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = read_parquet_stream(
        spark, src, "vec_id bigint, embedding array<float>",
        max_files_per_trigger=1,
    )
    counts: dict[int, int] = {}
    q = stream_semantic_dedup_sink(
        stream,
        _seed_centroids(spark),
        str(tmp_path / "sem_idx"),
        str(tmp_path / "sem_acc"),
        threshold=0.4,
        checkpoint=str(tmp_path / "sem_ckpt"),
        on_batch=lambda bid, n: counts.__setitem__(bid, n),
    )
    q.awaitTermination(240)

    replay = {
        r["batch"]: (r["n_in"], r["n_accepted"])
        for r in REGISTRY["streaming_semdedup_replay"].fn(spark, SF_SMALL).collect()
    }
    sink_sizes = {
        b: e.filter(F.pmod("vec_id", F.lit(3)) == b).count() for b in range(3)
    }
    for b in range(3):
        n_in, n_accepted = replay[b]
        assert sink_sizes[b] == n_in
        assert counts[b] == n_accepted, (b, counts, replay)


def test_stream_semantic_dedup_sink_single_batch_matches_semdedup_policy(
    spark, tmp_path
):
    """One batch holding the whole corpus: the sink's rejected set must
    equal `semdedup_prune_embeddings`'s kept=0 set — intra-batch drops
    ARE the SemDeDup policy (same centroids, threshold, tie-breaks)."""
    from spark_pipeline_spark.queries import REGISTRY
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_semantic_dedup_sink,
    )

    e = t(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "emb_stream_one")
    e.coalesce(1).write.mode("overwrite").parquet(src)

    q = stream_semantic_dedup_sink(
        read_parquet_stream(
            spark, src, "vec_id bigint, embedding array<float>",
            max_files_per_trigger=10,
        ),
        _seed_centroids(spark),
        str(tmp_path / "one_idx"),
        str(tmp_path / "one_acc"),
        threshold=0.4,
        checkpoint=str(tmp_path / "one_ckpt"),
    )
    q.awaitTermination(240)

    accepted = {
        r["vec_id"]
        for r in spark.read.parquet(str(tmp_path / "one_acc")).collect()
    }
    want_kept = {
        r["vec_id"]
        for r in REGISTRY["semdedup_prune_embeddings"].fn(spark, SF_SMALL)
        .filter(F.col("kept") == 1).collect()
    }
    assert accepted == want_kept


def test_stream_semantic_dedup_sink_cross_batch_veto_and_forgiveness(
    spark, tmp_path
):
    """Cross-batch semantics: an exact copy of a vector the index holds
    is VETOED in a later batch (first-accepted-wins), while a copy of a
    REJECTED batch-1 vector is judged only against accepted state. Also
    pins the intra-batch tie-break: identical newcomers (equal centroid
    sim) keep the lowest id."""
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_semantic_dedup_sink,
    )

    e = t(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "emb_stream_cross")
    idx = str(tmp_path / "cross_idx")
    acc = str(tmp_path / "cross_acc")
    ckpt = str(tmp_path / "cross_ckpt")
    cen = _seed_centroids(spark)

    def run_once():
        q = stream_semantic_dedup_sink(
            read_parquet_stream(
                spark, src, "vec_id bigint, embedding array<float>",
                max_files_per_trigger=1,
            ),
            cen, idx, acc, threshold=0.4, checkpoint=ckpt,
        )
        q.awaitTermination(240)

    first = e.filter(F.col("vec_id") < 400)
    first.coalesce(1).write.mode("append").parquet(src)
    run_once()
    acc1 = {r["vec_id"] for r in spark.read.parquet(acc).collect()}
    assert acc1, "batch 1 accepted nothing"
    survivor = min(acc1)

    # batch 2: fresh vectors + a replant of an ACCEPTED vector (vetoed
    # by the index) + an identical intra-batch trio seeded from a fresh
    # vector (tie-break: lowest id survives)
    fresh = e.filter(F.col("vec_id") >= 400)
    replant = e.filter(F.col("vec_id") == survivor).withColumn(
        "vec_id", F.lit(9007).cast("long")
    )
    twin_a = e.filter(F.col("vec_id") == 450).withColumn(
        "vec_id", F.lit(9000).cast("long")
    )
    twin_b = e.filter(F.col("vec_id") == 450).withColumn(
        "vec_id", F.lit(9001).cast("long")
    )
    fresh.unionByName(replant).unionByName(twin_a).unionByName(
        twin_b
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    ids = {r["vec_id"] for r in spark.read.parquet(acc).collect()}
    assert 9007 not in ids  # exact copy of indexed vector: vetoed
    # the identical trio {450, 9000, 9001}: ties drop higher ids, so at
    # most the lowest of those present can survive
    assert 9000 not in ids and 9001 not in ids
    # the index holds only accepted ids
    idx_ids = {
        r["__id"]
        for r in spark.read.parquet(idx + "/vectors").select("__id").collect()
    }
    assert idx_ids == ids


def test_purge_ids_from_semantic_index_forgets_vetoes(spark, tmp_path):
    """GDPR delete-propagation for the SEMANTIC sink's derived state:
    after purging a vector, (a) no trace remains in vectors/ or the
    accepted table, (b) batch layout survives, and (c) an exact copy
    arriving later is ACCEPTED — the forgotten vector no longer vetoes."""
    from spark_pipeline_spark.streaming import (
        purge_ids_from_semantic_index,
        read_parquet_stream,
        stream_semantic_dedup_sink,
    )

    e = t(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "sem_purge_src")
    idx = str(tmp_path / "sem_purge_idx")
    acc = str(tmp_path / "sem_purge_acc")
    ckpt = str(tmp_path / "sem_purge_ckpt")
    cen = _seed_centroids(spark)

    def run_once():
        q = stream_semantic_dedup_sink(
            read_parquet_stream(
                spark, src, "vec_id bigint, embedding array<float>",
                max_files_per_trigger=100,
            ),
            cen, idx, acc, threshold=0.4, checkpoint=ckpt,
        )
        q.awaitTermination(240)

    e.filter(F.col("vec_id") < 100).coalesce(1).write.mode("append").parquet(src)
    run_once()
    acc1 = {r["vec_id"] for r in spark.read.parquet(acc).collect()}
    assert acc1
    victim = min(acc1)

    removed = purge_ids_from_semantic_index(
        spark, idx, spark.createDataFrame([(victim,)], "id long"),
        accepted_path=acc,
    )
    assert removed["vectors_removed"] == 1
    assert removed["accepted_removed"] == 1
    vecs = spark.read.parquet(idx + "/vectors")
    assert vecs.filter(F.col("__id") == victim).count() == 0
    assert "batch" in vecs.columns

    # an exact copy of the forgotten vector is accepted now — unless it
    # cosine-matches some OTHER still-indexed vector IN ITS CELL (the
    # sink's blocking key); compute that veto count first
    from spark_pipeline_spark.operators.similarity import (
        cosine_similarity,
        ivf_assign,
    )

    v = ivf_assign(
        e.filter(F.col("vec_id") == victim), cen, "vec_id", "embedding"
    ).select(F.col("embedding").alias("__pv"), F.col("cell").alias("__pcell"))
    still_vetoed = (
        vecs.join(v, vecs["cell"] == F.col("__pcell"))
        .filter(F.round(cosine_similarity("__v", "__pv"), 6) >= 0.4)
        .count()
    )
    e.filter(F.col("vec_id") == victim).withColumn(
        "vec_id", F.lit(8888).cast("long")
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    ids = {r["vec_id"] for r in spark.read.parquet(acc).collect()}
    if still_vetoed:
        assert 8888 not in ids  # some other survivor still vetoes it
    else:
        assert 8888 in ids  # the purge restored acceptability


def test_stream_semantic_dedup_sink_replay_excludes_self_batch(spark, tmp_path):
    """Crash-replay safety: re-processing the SAME batch id with the
    index already holding that batch's rows (the crashed-after-index-
    write case, simulated by wiping the checkpoint) must not let the
    batch veto itself — accepted output is identical, not empty."""
    import shutil

    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_semantic_dedup_sink,
    )

    e = t(spark, SF_SMALL, "embeddings").select("vec_id", "embedding").filter(
        F.col("vec_id") < 200
    )
    src = str(tmp_path / "sem_replay_src")
    idx = str(tmp_path / "sem_replay_idx")
    acc = str(tmp_path / "sem_replay_acc")
    ckpt = str(tmp_path / "sem_replay_ckpt")
    e.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        q = stream_semantic_dedup_sink(
            read_parquet_stream(
                spark, src, "vec_id bigint, embedding array<float>",
                max_files_per_trigger=100,
            ),
            _seed_centroids(spark), idx, acc,
            threshold=0.4, checkpoint=ckpt,
        )
        q.awaitTermination(240)

    run_once()
    first = {r["vec_id"] for r in spark.read.parquet(acc).collect()}
    assert first and first < {r["vec_id"] for r in e.collect()} | first

    # wipe the checkpoint: the file source re-discovers the same file as
    # batch 0 while vectors/batch=0 already exists — the replay case
    shutil.rmtree(ckpt)
    run_once()
    second = {r["vec_id"] for r in spark.read.parquet(acc).collect()}
    assert second == first, "replay changed the accepted set (self-veto?)"


def test_expire_keep_more_than_exists_deletes_nothing(spark, tmp_path):
    """Regression: keep_last_n GREATER than the number of existing
    batches must expire nothing. The unclamped slice
    ``ids[: len(ids) - keep_last_n]`` goes negative there, and a
    negative stop trims from the END — i.e. asking to retain MORE
    history than exists would silently delete the OLDEST batches
    (the documented `ann expire` config example is keep-last-n: 30,
    far above a young index's batch count)."""
    from spark_pipeline_spark.streaming import expire_index_batches

    idx = str(tmp_path / "idx")
    for b in range(3):
        spark.range(5).selectExpr("id AS doc_id").write.parquet(
            f"{idx}/bands/batch={b}"
        )
    assert expire_index_batches(spark, idx, 4, ("bands",)) == {"bands": []}
    batches = {
        r["batch"]
        for r in spark.read.parquet(idx + "/bands")
        .select("batch").distinct().collect()
    }
    assert batches == {0, 1, 2}
    # boundary: keep exactly what exists — still nothing expired
    assert expire_index_batches(spark, idx, 3, ("bands",)) == {"bands": []}
    # and one fewer keeps the NEWEST two, dropping only batch 0
    assert expire_index_batches(spark, idx, 2, ("bands",)) == {"bands": [0]}


def test_expire_index_batches_sliding_window_dedup(spark, tmp_path):
    """TTL retention: after expiring the oldest batch, (a) its
    directories are gone from every sub-table, (b) a near-copy of a doc
    the EXPIRED batch accepted is now ACCEPTED (the veto horizon slid
    past it), (c) docs in retained batches still veto, and (d) the call
    is idempotent."""
    from spark_pipeline_spark.streaming import (
        expire_index_batches,
        read_parquet_stream,
        stream_dedup_lsh_sink,
    )

    d = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = str(tmp_path / "ttl_src")
    idx = str(tmp_path / "ttl_idx")
    acc = str(tmp_path / "ttl_acc")
    ckpt = str(tmp_path / "ttl_ckpt")

    def run_once():
        q = stream_dedup_lsh_sink(
            read_parquet_stream(
                spark, src, "doc_id bigint, text string",
                max_files_per_trigger=1,
            ),
            idx, acc, "doc_id", "text", threshold=0.9, checkpoint=ckpt,
        )
        q.awaitTermination(240)

    # batch 0 and batch 1, distinct doc populations
    d.filter(F.col("doc_id") < 100).coalesce(1).write.mode("append").parquet(src)
    d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 200)).coalesce(
        1
    ).write.mode("append").parquet(src)
    run_once()
    acc_ids = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    batch0_doc = min(i for i in acc_ids if i < 100)
    batch1_doc = min(i for i in acc_ids if i >= 100)

    expired = expire_index_batches(spark, idx, 1, ("bands", "shingles"))
    assert expired == {"bands": [0], "shingles": [0]}
    batches = {
        r["batch"]
        for r in spark.read.parquet(idx + "/bands").select("batch").distinct().collect()
    }
    assert batches == {1}
    # idempotent: nothing older than the horizon remains
    assert expire_index_batches(spark, idx, 1, ("bands", "shingles")) == {
        "bands": [], "shingles": [],
    }

    # batch 2: copies of one expired-batch doc and one retained-batch doc
    d.filter(F.col("doc_id") == batch0_doc).withColumn(
        "doc_id", F.lit(9100).cast("long")
    ).unionByName(
        d.filter(F.col("doc_id") == batch1_doc).withColumn(
            "doc_id", F.lit(9101).cast("long")
        )
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    ids = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert 9100 in ids  # expired doc no longer vetoes: horizon slid past
    assert 9101 not in ids  # retained doc still vetoes


def test_stream_ann_refresh_sink_grows_searchable_index(spark, tmp_path):
    """Streaming ANN ingest: after a build bootstrap, each micro-batch
    lands as its own index batch dir, newly-streamed vectors become
    retrievable between batches, the per-cell skew report reaches
    on_batch, a replayed batch is idempotent (directory overwritten,
    vector count unchanged), and a missing bootstrap fails loudly."""
    import shutil

    import pytest

    from spark_pipeline_spark.ann_index import (
        build_ivf_index,
        ivf_index_search,
    )
    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_ann_refresh_sink,
    )

    e = t(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "ann_src")
    idx = str(tmp_path / "ann_idx")
    ckpt = str(tmp_path / "ann_ckpt")
    schema = "vec_id bigint, embedding array<float>"

    # no bootstrap -> the sink refuses rather than inventing centroids
    e.filter((F.col("vec_id") >= 290) & (F.col("vec_id") < 300)).coalesce(
        1
    ).write.mode("append").parquet(src)
    q = stream_ann_refresh_sink(
        read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
        idx, checkpoint=ckpt,
    )
    with pytest.raises(Exception, match="bootstrap with build_ivf_index"):
        q.awaitTermination(240)
        q.processAllAvailable()
    shutil.rmtree(ckpt, ignore_errors=True)

    build_ivf_index(spark, e.filter(F.col("vec_id") < 290), idx, k_cells=4)

    reports = []
    # two more files -> two micro-batches
    e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)).coalesce(
        1
    ).write.mode("append").parquet(src)
    e.filter(F.col("vec_id") >= 400).coalesce(1).write.mode("append").parquet(
        src
    )
    q = stream_ann_refresh_sink(
        read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
        idx, checkpoint=ckpt,
        on_batch=lambda b, rows: reports.append((b, rows)),
    )
    q.awaitTermination(240)

    asg = spark.read.parquet(idx + "/assignments")
    assert asg.count() == 500
    batches = {r["batch"] for r in asg.select("batch").distinct().collect()}
    assert 0 in batches and len(batches) == 4  # build + 3 stream batches
    # the build corpus is intact: stream batch ids were offset past it
    assert asg.filter(F.col("batch") == 0).count() == 290
    assert reports and all(rows for _, rows in reports)
    # a streamed vector is retrievable from the persisted state
    got = ivf_index_search(
        spark, idx, e.filter(F.col("vec_id") == 450), k=3, nprobe=4
    ).collect()
    assert {r["neighbor_id"] for r in got} >= {450}

    # replay: wipe the checkpoint; the file source redelivers the same
    # files with the same batch ids -> directories overwritten, no growth
    shutil.rmtree(ckpt)
    q = stream_ann_refresh_sink(
        read_parquet_stream(spark, src, schema, max_files_per_trigger=1),
        idx, checkpoint=ckpt,
    )
    q.awaitTermination(240)
    assert spark.read.parquet(idx + "/assignments").count() == 500


def test_stream_row_gate_sink_routes_rows_with_reasons(spark, tmp_path):
    """Per-row routing: clean rows land in target WITHOUT the helper
    column, failing rows land in quarantine carrying __violations that
    names EVERY failed predicate (NULL predicate = violation), the
    union round-trips the batch exactly, per-rule counts reach
    on_batch, and a replay overwrites idempotently."""
    import shutil

    from spark_pipeline_spark.streaming import (
        read_parquet_stream,
        stream_row_gate_sink,
    )

    d = t(spark, SF_SMALL, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    src = str(tmp_path / "rg_src")
    tgt = str(tmp_path / "rg_tgt")
    quar = str(tmp_path / "rg_quar")
    ckpt = str(tmp_path / "rg_ckpt")
    d.filter(F.col("doc_id") < 200).coalesce(1).write.parquet(src)

    preds = [
        ("min_chars", F.col("n_chars") >= 120),
        ("lang_known", F.col("lang").isin("en", "de", "fr")),
    ]
    reports = []

    def run_once():
        q = stream_row_gate_sink(
            read_parquet_stream(
                spark, src,
                "doc_id bigint, text string, lang string, n_chars bigint",
            ),
            tgt, quar, preds, checkpoint=ckpt,
            on_batch=lambda *a: reports.append(a),
        )
        q.awaitTermination(240)

    run_once()
    ok = spark.read.parquet(tgt).persist()
    bad = spark.read.parquet(quar).persist()
    n_in = d.filter(F.col("doc_id") < 200).count()
    n_ok, n_bad = ok.count(), bad.count()
    assert n_ok + n_bad == n_in
    assert "__violations" not in ok.columns
    # routing matches the batch predicates exactly
    assert ok.filter(
        (F.col("n_chars") < 120) | ~F.col("lang").isin("en", "de", "fr")
    ).count() == 0
    assert bad.filter(
        (F.col("n_chars") >= 120) & F.col("lang").isin("en", "de", "fr")
    ).count() == 0
    # reasons are complete per row
    both = bad.filter(
        (F.col("n_chars") < 120) & ~F.col("lang").isin("en", "de", "fr")
    )
    if both.head(1):
        r = both.head()
        assert set(r["__violations"]) == {"min_chars", "lang_known"}
    # on_batch counts line up
    (batch_id, rep_n, rep_ok, per_rule) = reports[0]
    assert rep_n == n_in and rep_ok == n_ok
    assert per_rule["min_chars"] == bad.filter(
        F.array_contains("__violations", "min_chars")
    ).count()
    ok.unpersist()
    bad.unpersist()

    # replay: same file redelivered under a fresh checkpoint -> same state
    shutil.rmtree(ckpt)
    run_once()
    assert spark.read.parquet(tgt).count() == n_ok
    assert spark.read.parquet(quar).count() == n_bad


def test_compact_index_batches_preserves_vetoes(spark, tmp_path):
    """History compaction: all but the newest keep_last_n batch dirs
    collapse into the oldest compacted id; the sink's veto semantics
    survive (a near-copy of an old accepted doc is still rejected), a
    rerun is a no-op (idempotent via the DISTINCT), keep_last_n larger
    than history compacts nothing, and the newest batches stay intact
    for replay safety."""
    from spark_pipeline_spark.streaming import (
        compact_index_batches,
        read_parquet_stream,
        stream_dedup_lsh_sink,
    )

    d = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    src = str(tmp_path / "cp_src")
    idx = str(tmp_path / "cp_idx")
    acc = str(tmp_path / "cp_acc")
    ckpt = str(tmp_path / "cp_ckpt")

    def run_once():
        q = stream_dedup_lsh_sink(
            read_parquet_stream(
                spark, src, "doc_id bigint, text string",
                max_files_per_trigger=1,
            ),
            idx, acc, "doc_id", "text", threshold=0.9, checkpoint=ckpt,
        )
        q.awaitTermination(240)

    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)
    run_once()
    bands0 = spark.read.parquet(idx + "/bands")
    rows_before = bands0.select("__id", "__band", "__key").distinct().count()
    acc_ids = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    old_doc = min(i for i in acc_ids if i < 100)

    # keep_last_n > history: nothing compacts
    assert compact_index_batches(spark, idx, 5) == {
        "bands": [], "shingles": [],
    }
    got = compact_index_batches(spark, idx, 1)
    assert got == {"bands": [0, 1], "shingles": [0, 1]}
    bands = spark.read.parquet(idx + "/bands")
    assert {
        r["batch"] for r in bands.select("batch").distinct().collect()
    } == {0, 2}
    # no rows lost or duplicated
    assert bands.select("__id", "__band", "__key").distinct().count() == \
        rows_before
    assert bands.count() == rows_before
    # idempotent rerun (only {0,2} remain; cut would be len<2)
    assert compact_index_batches(spark, idx, 1) == {
        "bands": [], "shingles": [],
    }

    # veto semantics survive: a near-copy of a compacted-batch doc
    # (batch 0, now inside the merged dir) is still rejected
    d.filter(F.col("doc_id") == old_doc).withColumn(
        "doc_id", F.lit(9300).cast("long")
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    ids = {r["doc_id"] for r in spark.read.parquet(acc).collect()}
    assert 9300 not in ids


def test_compaction_family_wrappers_and_cell_refusal(spark, tmp_path):
    """VERDICT r12 item 7: the per-family wrappers own their sub-table
    lists, and the engine REFUSES a cell-partitioned table (the ANN
    assignments layout) — silently flattening its cell=<k> directories
    would turn every probe into a full-index scan."""
    import pytest

    from spark_pipeline_spark.streaming import (
        compact_ann_index,
        compact_index_batches,
        compact_lsh_index,
        compact_semantic_index,
    )

    root = str(tmp_path / "fam_idx")
    # three batches of a flat vectors table (semantic-index layout)
    for b in range(3):
        spark.createDataFrame(
            [(b * 10 + i, [float(b), float(i)]) for i in range(4)],
            "__id long, __vec array<double>",
        ).write.parquet(f"{root}/vectors/batch={b}")
    got = compact_semantic_index(spark, root, 1)
    assert got == {"vectors": [0, 1]}
    v = spark.read.parquet(root + "/vectors")
    assert {r["batch"] for r in v.select("batch").distinct().collect()} == {0, 2}
    assert v.count() == 12

    # LSH wrapper: absent sub-tables report empty (engine contract)
    assert compact_lsh_index(spark, str(tmp_path / "nope"), 1) == {
        "bands": [], "shingles": [],
    }

    # a cell-partitioned table is refused, whatever name it's given
    for b in range(3):
        spark.createDataFrame(
            [(b * 10 + i, i % 2) for i in range(4)], "vec_id long, cell int"
        ).write.partitionBy("cell").parquet(f"{root}/assignments/batch={b}")
    with pytest.raises(ValueError, match="cell-partitioned"):
        compact_index_batches(spark, root, 1, ("assignments",))
    # the ANN wrapper never names assignments — codes/codes_pq only
    assert compact_ann_index(spark, root, 1) == {"codes": [], "codes_pq": []}
