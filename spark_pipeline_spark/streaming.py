"""Structured Streaming surface: the batch window operators, streaming.

The reference has zero streaming (SURVEY.md §2.11); this module is the
north-star addition. Design rule: **batch and stream share expressions** —
`operators/windows.py` builds the same ``F.window`` / ``session_window``
aggregations used here, so a pipeline validated in batch runs as a stream
by swapping ``read`` for ``readStream`` and adding a watermark.

Scale notes (1000-executor posture):

- watermarks bound state: without one, a windowed aggregation keeps every
  window open forever; ``withWatermark`` lets Spark drop state for
  windows older than (max event time - delay);
- file-source streams discover new files per micro-batch — partition the
  landing directory by arrival time so discovery doesn't list the world;
- ``Trigger.AvailableNow`` drains a backlog with bounded batches and
  stops — the batch-parity mode used in tests.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_pipeline_spark.gate import local_frame
from spark_pipeline_spark.io.commit import (
    commit,
    delete_path,
    heal,
    open_table,
    require_jvm,
)

__all__ = [
    "stream_enrich",
    "stream_upsert_sink",
    "stream_incremental_agg_sink",
    "stream_topk_sink",
    "stream_quality_gate_sink",
    "stream_row_gate_sink",
    "stream_dedup_lsh_sink",
    "stream_semantic_dedup_sink",
    "stream_ann_refresh_sink",
    "purge_ids_from_dedup_index",
    "purge_ids_from_semantic_index",
    "expire_index_batches",
    "compact_index_batches",
    "compact_lsh_index",
    "compact_semantic_index",
    "compact_ann_index",
    "read_parquet_stream",
    "stream_tumbling_agg",
    "stream_session_agg",
    "stream_stream_interval_join",
    "run_available_now_to_memory",
    "SNAPSHOT_BATCH_COL",
]


#: Metadata column stamped onto every row of a maintained parquet
#: snapshot by the foreachBatch sinks below: the id of the last
#: micro-batch merged in. Stored as a data column so it commits
#: ATOMICALLY with the snapshot content (a sidecar meta file would
#: reintroduce the crash window between data commit and meta commit).
SNAPSHOT_BATCH_COL = "__last_batch_id"


def _replay_guarded_swap(spark, target_path: str, batch_id: int, merge_fn) -> None:
    """Shared exactly-once commit for the foreachBatch parquet sinks
    (:func:`stream_upsert_sink`, :func:`stream_incremental_agg_sink`,
    :func:`stream_topk_sink`).

    ``foreachBatch`` is at-least-once: after a crash between the
    snapshot commit and the checkpoint commit, the same ``batch_id`` is
    delivered again (with identical content — replays re-read the same
    checkpointed source offsets). Without a guard, an additive merge
    applies that batch twice and double-counts. The guard: every
    snapshot row carries ``SNAPSHOT_BATCH_COL`` = the last merged batch
    id, so a replayed ``batch_id <= last`` is recognized and skipped.

    The merged result is written once and renamed into place by
    :func:`~spark_pipeline_spark.io.commit.commit` (distributed, never
    through the driver). :func:`~spark_pipeline_spark.io.commit.heal`
    first finishes a commit a crash interrupted, so the guard reads the
    newest committed snapshot; crashed-overwrite debris that nothing can
    restore raises instead of restarting as first-batch, which would
    overwrite whatever a human could still salvage.

    Legacy snapshots written before this column existed merge with
    ``last = -1`` (at-least-once, the old behavior), documented over
    failing.
    """
    heal(spark, target_path)
    current = open_table(spark, target_path)
    last = -1
    if current is not None and SNAPSHOT_BATCH_COL in current.columns:
        got = current.agg(F.max(SNAPSHOT_BATCH_COL)).first()[0]
        last = -1 if got is None else int(got)

    if last >= batch_id:
        return  # at-least-once replay of an already-merged batch: no-op

    data = current.drop(SNAPSHOT_BATCH_COL) if current is not None else None
    merged = merge_fn(data).withColumn(SNAPSHOT_BATCH_COL, F.lit(batch_id))
    commit(spark, target_path, merged.write.mode("overwrite").parquet)


def read_parquet_stream(
    spark: SparkSession, path: str, schema_ddl: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a parquet directory (explicit schema —
    streaming sources cannot infer, and inference would be a full pass)."""
    reader = spark.readStream.schema(schema_ddl)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def stream_tumbling_agg(
    stream: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming tumbling-window aggregation with bounded state.

    Identical grouping expression to ``windows.tumbling_window``; the
    watermark is what makes it runnable forever (state for windows older
    than the watermark is finalized and dropped).
    """
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("window"), *keys)
        .agg(*aggs)
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "*",
    ).drop("window")


def stream_session_agg(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str] = (),
    aggs: Sequence[Column] = (),
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming session windows (same semantics as
    ``windows.session_windows``); the watermark finalizes sessions whose
    close time has passed."""
    out = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *keys)
        .agg(*aggs)
    )
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "*",
    ).drop("session_window")


def stream_stateful_running_totals(
    stream: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-key event count and value sum, maintained across micro-batches.

    The state (one ``(n, total)`` pair per key) lives in the state store;
    each micro-batch folds its Arrow batches into it and emits the
    updated totals ("update" output mode). This is the escape hatch for
    stateful logic that windows/aggregations can't express (custom
    decay, per-key ML state, CEP-ish logic) — bounded state per key,
    executor-side, no driver involvement.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_cols = list(keys)
    in_types = dict(stream.dtypes)
    out_schema = ", ".join(
        [f"{k} {in_types[k]}" for k in key_cols]
        + ["n_events bigint", "total_value double"]
    )
    state_schema = "n bigint, total double"

    def fn(
        key: tuple, pdfs: "Iterator[pd.DataFrame]", state: GroupState
    ) -> "Iterator[pd.DataFrame]":
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        row = dict(zip(key_cols, key))
        row["n_events"] = n
        row["total_value"] = total
        yield pd.DataFrame([row])

    return stream.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_stateful_closed_sessions(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
    value_col: str = "value",
    watermark: str = "1 day",
) -> DataFrame:
    """CLOSED-session emission via ``applyInPandasWithState`` with
    **EventTimeTimeout** — the state-timeout side of the arbitrary-state
    API that ``stream_stateful_running_totals`` (NoTimeout, update mode)
    does not exercise. Per key, open session FRAGMENTS ``[start, last]``
    live in the state store; each micro-batch merges its events into the
    fragments exactly like ``session_window``'s merge rule (an
    out-of-order event inside the watermark can extend a fragment or
    bridge two of them — two events share a session iff their gap chain
    stays under ``gap_seconds``); a session row is emitted exactly ONCE,
    when the event-time watermark passes its close (``last + gap``) —
    either eagerly while processing data or via the state timeout when
    the key goes quiet. Emitted rows therefore match the batch
    gaps-and-islands result on every session the watermark has closed,
    and `tests/test_streaming.py` asserts that parity.

    Scale shape: state per key is the OPEN fragments only (bounded by
    activity inside one watermark horizon, integer-microsecond exact);
    closed sessions leave the store immediately via timeout, so state
    does not grow with stream length. Timestamps are carried as int64
    micros end-to-end — no float epoch rounding.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    in_types = dict(stream.dtypes)
    out_schema = (
        f"{key_col} {in_types[key_col]}, session_start timestamp,"
        " n_events bigint, sum_value double"
    )
    state_schema = (
        "starts array<bigint>, lasts array<bigint>,"
        " ns array<bigint>, totals array<double>"
    )
    gap_us = int(gap_seconds) * 1_000_000

    def _emit(key, closed) -> "pd.DataFrame":
        return pd.DataFrame(
            {
                key_col: [key[0]] * len(closed),
                "session_start": [
                    pd.to_datetime(s * 1000) for (s, _, _, _) in closed
                ],
                "n_events": [n for (_, _, n, _) in closed],
                "sum_value": [v for (_, _, _, v) in closed],
            }
        )

    def fn(
        key: tuple, pdfs: "Iterator[pd.DataFrame]", state: GroupState
    ) -> "Iterator[pd.DataFrame]":
        frags = (
            [list(f) for f in zip(*state.get)] if state.exists else []
        )  # [start_us, last_us, n, total] per open fragment
        wm_us = state.getCurrentWatermarkMs() * 1000

        if not state.hasTimedOut:
            for pdf in pdfs:
                pdf = pdf.dropna(subset=[ts_col])
                ts_us = (pdf[ts_col].astype("int64") // 1000).tolist()
                vals = pdf[value_col].astype("float64").tolist()
                for t, v in zip(ts_us, vals):
                    hit = [
                        f
                        for f in frags
                        if t - f[1] < gap_us and f[0] - t < gap_us
                    ]
                    merged = [
                        min([t] + [f[0] for f in hit]),
                        max([t] + [f[1] for f in hit]),
                        1 + sum(f[2] for f in hit),
                        v + sum(f[3] for f in hit),
                    ]
                    hit_ids = {id(f) for f in hit}
                    frags = [f for f in frags if id(f) not in hit_ids] + [
                        merged
                    ]

        closed = [f for f in frags if f[1] + gap_us <= wm_us]
        kept = [f for f in frags if f[1] + gap_us > wm_us]
        if kept:
            state.update(
                (
                    [f[0] for f in kept],
                    [f[1] for f in kept],
                    [f[2] for f in kept],
                    [f[3] for f in kept],
                )
            )
            state.setTimeoutTimestamp(min(f[1] for f in kept) // 1000 + gap_seconds * 1000)
        else:
            state.remove()
        if closed:
            yield _emit(key, sorted(closed))

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose ``keys`` were already seen
    within the watermark window (``dropDuplicatesWithinWatermark``).

    The streaming member of the dedup family: state holds one entry per
    key seen inside the watermark horizon, and the watermark is what
    BOUNDS that state — an unbounded ``dropDuplicates`` on a stream would
    accumulate every key forever. Choose the delay as the maximum
    duplicate-arrival skew (e.g. an at-least-once ingestion's redelivery
    window), not the full stream history.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_drift_monitor(
    stream: DataFrame,
    reference_hist: DataFrame,
    columns: Sequence[str],
    on_batch,
    max_bins: int = 1000,
    metric: str = "tvd",
    available_now: bool = True,
):
    """Productized drift detection on a stream: every micro-batch is
    histogrammed (one-pass, multi-column — `operators.datadiff`) and
    compared against a precomputed reference histogram; per-column
    distances go to ``on_batch(batch_id, {col: distance})``.

    The reference histogram is a tiny static frame (≤ cols × bins rows)
    computed ONCE from the baseline dataset — the stream side never
    rescans the baseline. ``foreachBatch`` is the right hook: histogram +
    join are ordinary batch plans per micro-batch, and the alert callback
    runs on the driver with a ≤ one-row-per-column result.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from spark_pipeline_spark.operators.datadiff import (
        hash_histograms,
        histogram_distance_df,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        h = hash_histograms(batch_df, list(columns), max_bins)
        d = histogram_distance_df(reference_hist, h, metric)
        on_batch(batch_id, {r["col_name"]: float(r["distance"]) for r in d.collect()})

    writer = stream.writeStream.foreachBatch(process).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: annotate a stream with a static
    dimension table (user → segment, item → category).

    Structured Streaming plans this as a per-micro-batch join where the
    static side is re-resolved each batch — with a small dimension Spark
    broadcasts it, so the stream side never shuffles. The static frame
    should be persisted by the caller when its compute is expensive
    (it is re-read per micro-batch otherwise).
    """
    keys = [on] if isinstance(on, str) else list(on)
    return stream.join(F.broadcast(dim), keys, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "1 hour",
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join bounded by an event-time interval: each
    left row matches right rows with the same ``key`` whose timestamp
    falls in ``[left_ts, left_ts + max_delay]`` (attribution shape:
    impression → clicks within the attribution window).

    The time-range predicate is not a nicety — it is what makes a
    stream-stream join RUNNABLE: together with the two watermarks it
    bounds how long each side's rows are held in join state, so state
    size is O(rate × window), not O(stream history). Size the right
    watermark ≥ left watermark + max_delay so no match is dropped
    mid-window.

    ``left_ts`` and ``right_ts`` must be distinct names (both survive in
    the output; matches are meaningless otherwise). Key equality keeps
    the state shuffle an ordinary hash exchange on ``key``.
    """
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct column names")
    l = left.withWatermark(left_ts, left_watermark).alias("l")
    r = right.withWatermark(right_ts, right_watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND r.{right_ts} >= l.{left_ts} "
        f"AND r.{right_ts} <= l.{left_ts} + interval {max_delay}"
    )
    return l.join(r, cond, how).drop(r[key])


def _start_foreach_batch(
    stream: DataFrame, process, checkpoint: str | None, available_now: bool
):
    """Shared writer tail for every foreachBatch sink: attach the batch
    callback, optional checkpoint, optional AvailableNow trigger, start.
    One place to grow sink-wide options (trigger intervals, query names)
    instead of six copies."""
    writer = stream.writeStream.foreachBatch(process).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _accept_reject_batch(
    batch_df: DataFrame,
    batch_id: int,
    id_col: str,
    accepted_path: str,
    prepare,
    on_batch,
) -> None:
    """Shared accept/persist/replay-idempotence engine for the
    index-backed dedup sinks (LSH and semantic), the write-side sibling
    of :func:`~spark_pipeline_spark.io.maintenance.purge_ids_from_tables`:

    - every persist goes through ``pin`` and is released in the finally
      — an exception mid-batch must not leak cached blocks for the life
      of the session (SCALE.md: the r10 sf0.1 sweep OOM was exactly
      this class of driver-lifetime leak);
    - ``prepare(pin, batch_df, batch_id)`` runs the family-specific
      candidate generation and returns ``(drops, write_index)`` where
      ``drops`` carries the batch ids to reject as ``__drop_id`` and
      ``write_index(kept_ids)`` appends the family's index rows for the
      ACCEPTED ids under their ``batch=<id>`` directories;
    - the accepted set lands at ``accepted_path/batch=<id>`` with
      overwrite semantics — idempotent by path, so a foreachBatch
      replay rewrites the same files;
    - ``on_batch(batch_id, n_accepted)`` reports one scalar.

    The self-batch index exclusion (a replay must not match a batch
    against its own half-committed rows) stays INSIDE each family's
    ``prepare`` — it is part of candidate generation, not of this
    accept protocol."""
    pinned: list[DataFrame] = []

    def pin(frame: DataFrame) -> DataFrame:
        pinned.append(frame.persist())
        return frame

    try:
        drops, write_index = prepare(pin, batch_df, batch_id)
        accepted = pin(
            batch_df.join(
                drops, batch_df[id_col] == drops["__drop_id"], "left_anti"
            )
        )
        accepted.write.mode("overwrite").parquet(
            f"{accepted_path}/batch={batch_id}"
        )
        write_index(accepted.select(F.col(id_col).alias("__id")))
        if on_batch is not None:
            on_batch(batch_id, accepted.count())
    finally:
        for df_ in pinned:
            df_.unpersist()


def stream_upsert_sink(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    version_col: str,
    available_now: bool = True,
    checkpoint: str | None = None,
    op_col: str | None = None,
    delete_op: str = "D",
):
    """Streaming CDC apply: maintain a latest-wins keyed snapshot at
    ``target_path`` (parquet) from a stream of change rows.

    ``foreachBatch`` is the standard pattern for MERGE semantics without
    a transactional table format: each micro-batch runs the batch
    :func:`~spark_pipeline_spark.operators.merge.merge_upsert` of the
    existing snapshot with the batch's rows, writes the result once with
    a distributed write (never through the driver) into a staging
    sidecar, and renames it into place
    (:func:`~spark_pipeline_spark.io.commit.commit`) — the snapshot being
    read lazily is never overwritten in place. A transactional format
    (Delta/Iceberg) turns this into one MERGE; the plan shape per batch
    is identical either way: one exchange keyed on the merge key.
    Returns the started StreamingQuery.

    With ``op_col`` the stream is a full CDC feed (Debezium-style): the
    batch merge becomes
    :func:`~spark_pipeline_spark.operators.merge.merge_apply_cdc`, so a
    key whose latest change is ``delete_op`` is REMOVED from the
    snapshot instead of resurrected — delete ordering still comes from
    ``version_col``, so a stale tombstone in a replayed or out-of-order
    batch cannot remove a newer row. The stored snapshot never carries
    the op column.
    """
    from spark_pipeline_spark.operators.merge import merge_apply_cdc, merge_upsert

    spark = stream.sparkSession
    key_list = list(keys)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Missing-snapshot detection is EXPLICIT (open_table), never a
        # catch-all around the read: a bare `except Exception` would
        # treat any transient FS error / corrupt snapshot / schema
        # mismatch as "first batch" and overwrite the accumulated
        # snapshot with just this micro-batch. Crash recovery + replay
        # skip live in _replay_guarded_swap; the keyed latest-wins merge
        # is replay-idempotent on its own, but opening the snapshot also
        # finishes a commit a crash interrupted.
        def merge(current: DataFrame | None) -> DataFrame:
            if op_col is not None:
                base = (
                    batch_df.drop(op_col).limit(0) if current is None else current
                )
                return merge_apply_cdc(
                    base, batch_df, key_list, version_col,
                    op_col=op_col, delete_op=delete_op,
                )
            base = batch_df.limit(0) if current is None else current
            return merge_upsert(base, batch_df, key_list, version_col)

        _replay_guarded_swap(spark, target_path, batch_id, merge)

    return _start_foreach_batch(stream, process, checkpoint, available_now)


def stream_incremental_agg_sink(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    spec: Mapping[str, tuple[str, str]],
    available_now: bool = True,
    checkpoint: str | None = None,
):
    """Streaming continuous aggregate: maintain an additive-aggregate
    snapshot at ``target_path`` (parquet) from a stream of raw rows —
    the streaming face of
    :func:`~spark_pipeline_spark.operators.incremental.incremental_agg_merge`.

    Per micro-batch: aggregate the batch (map-side partial combine),
    merge with the snapshot on ``keys``, commit — the identical
    write-once-and-rename commit as :func:`stream_upsert_sink`, and the identical
    invariant as the batch operator: after draining any stream, the
    snapshot equals the from-scratch aggregate of all rows. Unlike a
    watermarked streaming aggregation this keeps NO per-key state in the
    streaming engine — the snapshot file IS the state, sized one row per
    key, so arbitrarily late data still merges correctly (there is no
    watermark to be late against). Trade-off: the per-batch merge cost
    is O(|snapshot|), the right shape when batches arrive at human
    cadence, not per-second.
    """
    from spark_pipeline_spark.operators.incremental import (
        aggregate_snapshot,
        incremental_agg_merge,
    )

    spark = stream.sparkSession
    key_list = list(keys)
    spec_d = dict(spec)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # The additive merge is NOT replay-idempotent (a re-merged batch
        # double-counts sums/counts), so the batch-id guard in
        # _replay_guarded_swap is what upholds this sink's invariant —
        # "after draining, the snapshot equals the from-scratch
        # aggregate" — under foreachBatch's at-least-once replays.
        def merge(current: DataFrame | None) -> DataFrame:
            if current is None:
                return aggregate_snapshot(batch_df, key_list, spec_d)
            return incremental_agg_merge(current, batch_df, key_list, spec_d)

        _replay_guarded_swap(spark, target_path, batch_id, merge)

    return _start_foreach_batch(stream, process, checkpoint, available_now)


def stream_dedup_lsh_sink(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    available_now: bool = True,
    checkpoint: str | None = None,
    on_batch=None,
):
    """Streaming NEAR-duplicate dedup against a persisted LSH index —
    the arriving-crawl regime: each micro-batch is (1) deduped within
    itself (lowest id survives a verified near-dup pair), (2) checked
    against every PREVIOUSLY accepted document via the index, and (3)
    its accepted documents' bands + shingles are appended to the index
    for future batches. The index is exactly the structure
    ``dedup.minhash_incremental_pairs`` reads: a ``bands/`` table of
    (id, band, key) plus a ``shingles/`` table for exact-Jaccard verify
    — each a few fixed-width rows per document, NEVER the text itself.

    Exactly-once discipline: every write lands under ``batch=<id>``
    with overwrite semantics (idempotent by path, same as
    :func:`stream_quality_gate_sink`), and the index lookup EXCLUDES
    the current batch id — so a foreachBatch replay that crashed after
    writing its index rows does not match the batch against its own
    half-committed state and drop everything.

    Scale: per batch the cost is O(|batch|) shingling + banded bucket
    joins against the index — the corpus is never re-paired with
    itself, and index reads prune nothing-in-common batches to bucket
    collisions only.
    """
    from spark_pipeline_spark.operators.dedup import (
        jaccard_similarity,
        minhash_sql,
        shingle_table,
    )
    from spark_pipeline_spark.operators.partitions import ensure_min_partitions

    sql = minhash_sql(n, num_hashes, bands)  # raises on a bad banding first

    spark = stream.sparkSession
    bands_path = index_path.rstrip("/") + "/bands"
    shingles_path = index_path.rstrip("/") + "/shingles"
    index_tables = (bands_path, shingles_path)

    # builder parameters ride the persisted index as column metadata
    # (parquet keeps it), so dedup.minhash_incremental_pairs can refuse
    # a mismatched (n, num_hashes, bands) instead of silently matching
    # nothing (dedup.minhash_index_params reads this stamp)
    _idx_meta = {
        "minhash_n": n,
        "minhash_num_hashes": num_hashes,
        "minhash_bands": bands,
    }

    def prepare(pin, batch_df: DataFrame, batch_id: int):
        base = pin(
            shingle_table(
                ensure_min_partitions(batch_df.select(id_col, text_col)),
                id_col,
                text_col,
                n,
            ).select("__id", F.col("__sh").alias("__sh", metadata=_idx_meta))
        )
        # materialize the hash array as its own projection before fanning
        # it into the signature slots — an inlined transform re-evaluates
        # per slot (dedup.py: measured 2.5× for 16 slots)
        hashed = base.select("__id", F.expr(sql.hashes).alias("__h"))
        banded = pin(
            hashed.select(
                "__id",
                F.posexplode(F.expr(sql.keys)).alias("__band", "__key"),
            ).select(
                "__id", F.col("__band").alias("__band", metadata=_idx_meta), "__key"
            )
        )

        # (1) within-batch dedup: verified near-dup pairs, higher id drops
        cand = (
            banded.alias("a")
            .join(
                banded.alias("b"),
                (F.col("a.__band") == F.col("b.__band"))
                & (F.col("a.__key") == F.col("b.__key"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
            .distinct()
        )
        sa = base.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
        sb = base.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
        intra_drop = (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(jaccard_similarity("__sh_a", "__sh_b") >= threshold)
            .select(F.col("id_b").alias("__drop_id"))
            .distinct()
        )

        # (2) cross-batch dedup against the index (excluding THIS batch's
        # possibly half-committed replay rows). The index holds
        # batch=<id> SUBDIRECTORIES, so "exists" means "has readable
        # committed parquet", probed by the read itself — a crash that
        # left only _temporary content reads as absent.
        idx_bands = open_table(spark, bands_path)
        idx_sh = open_table(spark, shingles_path)
        if idx_bands is not None and idx_sh is not None:
            idx_bands = idx_bands.filter(F.col("batch") != batch_id)
            idx_sh = idx_sh.filter(F.col("batch") != batch_id)
            xcand = (
                banded.join(
                    idx_bands,
                    (banded["__band"] == idx_bands["__band"])
                    & (banded["__key"] == idx_bands["__key"]),
                )
                .select(banded["__id"], idx_bands["__id"].alias("__cid"))
                .distinct()
            )
            cross_drop = (
                xcand.join(base.select("__id", "__sh"), "__id")
                .join(
                    idx_sh.select(
                        F.col("__id").alias("__cid"), F.col("__sh").alias("__csh")
                    ),
                    "__cid",
                )
                .filter(jaccard_similarity("__sh", "__csh") >= threshold)
                .select(F.col("__id").alias("__drop_id"))
                .distinct()
            )
            drops = intra_drop.unionByName(cross_drop).distinct()
        else:
            drops = intra_drop

        def write_index(kept_ids: DataFrame) -> None:
            banded.join(kept_ids, "__id").write.mode("overwrite").parquet(
                f"{bands_path}/batch={batch_id}"
            )
            base.join(kept_ids, "__id").write.mode("overwrite").parquet(
                f"{shingles_path}/batch={batch_id}"
            )

        return drops, write_index

    def process(batch_df: DataFrame, batch_id: int) -> None:
        for path in index_tables:
            heal(spark, path)  # this sink is the index's writer
        _accept_reject_batch(
            batch_df, batch_id, id_col, accepted_path, prepare, on_batch
        )

    return _start_foreach_batch(stream, process, checkpoint, available_now)


def stream_semantic_dedup_sink(
    stream: DataFrame,
    centroids: DataFrame,
    index_path: str,
    accepted_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    available_now: bool = True,
    checkpoint: str | None = None,
    on_batch=None,
):
    """Streaming SEMANTIC (embedding-cosine) dedup against a persisted
    cell-bucketed index — the embedding analogue of
    :func:`stream_dedup_lsh_sink`, mirroring `semdedup_prune_embeddings`
    the way that sink mirrors MinHash. Each micro-batch is:

    1. assigned to the FIXED ``centroids`` cells (`ivf_assign`; the
       blocking key — candidates form only within a cell, never
       all-pairs) with its cosine-to-own-centroid recorded;
    2. deduped WITHIN itself under SemDeDup's keep-least-like-centroid
       policy: any same-cell pair with cosine ≥ ``threshold`` drops the
       member with the HIGHER centroid similarity (tie → higher id) —
       the same single-pass order-free rule the batch query pins;
    3. checked against every PREVIOUSLY accepted vector in the index
       (same cell, cosine ≥ threshold ⇒ the NEW vector drops —
       first-accepted-wins, exactly the LSH sink's cross-batch rule);
    4. its accepted vectors appended to ``index_path/vectors/batch=<id>``
       for future batches.

    Centroids are a bounded, caller-owned frame (k cells — typically the
    persisted `ann_index.py` centroid table) and are NEVER retrained by
    the sink: assignment must stay comparable across the index lifetime.
    Cosines are rounded to 6dp before every compare so the replay oracle
    (`streaming_semdedup_replay`) hashes identically.

    Exactly-once discipline: writes land under ``batch=<id>`` with
    overwrite semantics and the index lookup EXCLUDES the current batch
    id, so a foreachBatch replay never matches a batch against its own
    half-committed rows. Scale: per batch O(|batch| × k) assignment
    (centroids broadcast) plus within-cell pair joins against batch +
    index — the corpus is never re-paired with itself.
    """
    from spark_pipeline_spark.functions import dot_product, l2_norm
    from spark_pipeline_spark.operators.similarity import (
        cosine_similarity,
        ivf_assign,
    )

    spark = stream.sparkSession
    vectors_path = index_path.rstrip("/") + "/vectors"
    index_tables = (vectors_path,)

    def prepare(pin, batch_df: DataFrame, batch_id: int):
        assigned = pin(
            ivf_assign(
                batch_df.select(
                    F.col(id_col).alias("__id"),
                    F.col(vec_col).cast("array<double>").alias("__v"),
                ),
                centroids.select(
                    F.col("cell"), F.col("centroid")
                ),
                "__id",
                "__v",
            )
            .join(F.broadcast(centroids), "cell")
            .select(
                "__id",
                "__v",
                "cell",
                F.round(cosine_similarity("__v", "centroid"), 6).alias(
                    "__csim"
                ),
                # norm materialized once per row: the pair joins below
                # then pay only the dot fold per pair (HOF folds get
                # no codegen CSE — operators/similarity.py's argument)
                l2_norm("__v").alias("__n"),
            )
        )

        # (1) within-batch: SemDeDup policy — pair loss drops the
        # higher-centroid-sim member (tie: higher id), order-free
        a = assigned.select(
            F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
            "cell", F.col("__csim").alias("sa"),
            F.col("__n").alias("__na"),
        )
        b = assigned.select(
            F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
            F.col("cell").alias("cell_b"), F.col("__csim").alias("sb"),
            F.col("__n").alias("__nb"),
        )
        pair_denom = F.col("__na") * F.col("__nb")
        pair_cos = F.when(
            pair_denom != 0, dot_product("__va", "__vb") / pair_denom
        )
        intra_drop = (
            a.join(
                b,
                (F.col("cell") == F.col("cell_b"))
                & (F.col("id_a") != F.col("id_b")),
            )
            .filter(F.round(pair_cos, 6) >= threshold)
            .filter(
                (F.col("sa") < F.col("sb"))
                | ((F.col("sa") == F.col("sb")) & (F.col("id_a") < F.col("id_b")))
            )
            .select(F.col("id_b").alias("__drop_id"))
            .distinct()
        )

        # (2) cross-batch vs the persisted index (self-batch excluded:
        # a replay's half-committed rows must not veto the batch)
        idx = open_table(spark, vectors_path)
        if idx is not None:
            idx = idx.filter(F.col("batch") != batch_id)
            cross_denom = F.col("__n") * F.col("__ni")
            cross_cos = F.when(
                cross_denom != 0, dot_product("__v", "__vi") / cross_denom
            )
            cross_drop = (
                assigned.join(
                    idx.select(
                        F.col("cell").alias("cell_i"),
                        F.col("__v").alias("__vi"),
                    ).withColumn("__ni", l2_norm("__vi")),
                    F.col("cell") == F.col("cell_i"),
                )
                .filter(F.round(cross_cos, 6) >= threshold)
                .select(F.col("__id").alias("__drop_id"))
                .distinct()
            )
            drops = intra_drop.unionByName(cross_drop).distinct()
        else:
            drops = intra_drop

        def write_index(kept_ids: DataFrame) -> None:
            assigned.join(kept_ids, "__id").select(
                "__id", "__v", "cell", "__csim"
            ).write.mode("overwrite").parquet(f"{vectors_path}/batch={batch_id}")

        return drops, write_index

    def process(batch_df: DataFrame, batch_id: int) -> None:
        for path in index_tables:
            heal(spark, path)  # this sink is the index's writer
        _accept_reject_batch(
            batch_df, batch_id, id_col, accepted_path, prepare, on_batch
        )

    return _start_foreach_batch(stream, process, checkpoint, available_now)


def stream_quality_gate_sink(
    stream: DataFrame,
    target_path: str,
    quarantine_path: str,
    rules: Sequence[tuple[str, Column]],
    available_now: bool = True,
    checkpoint: str | None = None,
    on_batch=None,
):
    """Quality-gated streaming ingest with quarantine — the
    expectation-suite pattern applied per micro-batch: every batch is
    scored against ``rules`` (``operators/quality.py`` shapes, evaluated
    in ONE aggregate over the batch), then lands WHOLE in
    ``target_path/batch=<id>`` when every rule passes or WHOLE in
    ``quarantine_path/batch=<id>`` otherwise — a batch is never half
    applied, and quarantined data stays queryable for triage instead of
    being dropped. Readers get Hive-style partition discovery on the
    ``batch`` column for free.

    Exactly-once without a guard column: each batch writes ONLY its own
    ``batch=<id>`` subdirectory with overwrite semantics, so a
    foreachBatch replay (same batch id, same content) rewrites the same
    files — idempotent by path, the standard partitioned-append
    discipline. The per-batch report reaches ``on_batch(batch_id,
    passed, {rule: violations})``; only ``len(rules)`` report rows ever
    touch the driver."""
    from spark_pipeline_spark.operators.quality import check

    rules = list(rules)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # two actions consume the batch (rules aggregate, then the
        # write) — persist so the upstream batch plan computes once
        batch_df = batch_df.persist()
        try:
            report = check(batch_df, rules).collect()
            ok = all(r["passed"] for r in report)
            dest = target_path if ok else quarantine_path
            batch_df.write.mode("overwrite").parquet(f"{dest}/batch={batch_id}")
        finally:
            batch_df.unpersist()
        if on_batch is not None:
            on_batch(
                batch_id, ok, {r["rule"]: r["violations"] for r in report}
            )

    return _start_foreach_batch(stream, process, checkpoint, available_now)


def stream_row_gate_sink(
    stream: DataFrame,
    target_path: str,
    quarantine_path: str,
    predicates: Sequence[tuple[str, Column]],
    available_now: bool = True,
    checkpoint: str | None = None,
    on_batch=None,
):
    """Per-ROW quality routing — the row-granular sibling of
    :func:`stream_quality_gate_sink` (which lands each batch WHOLE on
    one side): every row satisfying ALL ``predicates`` (row-level
    booleans) lands in ``target_path/batch=<id>``; every failing row
    lands in ``quarantine_path/batch=<id>`` carrying a
    ``__violations`` array naming each predicate it failed — quarantine
    keeps the reason, so triage never re-derives it. A NULL predicate
    result counts as a violation (unknown is not clean — the standard
    expectation-suite posture).

    Use the batch gate when a bad batch means a bad SOURCE (schema
    drift, upstream corruption — you want the whole delivery held);
    use this one when bad rows are routine (crawl noise) and the good
    rows shouldn't wait.

    Exactly-once: both sides write only their own ``batch=<id>``
    directory with overwrite semantics — idempotent by path.
    ``on_batch(batch_id, n_in, n_ok, {rule: violations})`` gets one
    aggregate row; only |rules|+2 scalars touch the driver."""
    preds = list(predicates)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        viol = F.array_compact(
            F.array(
                *[
                    F.when(
                        F.coalesce(cond, F.lit(False)),
                        F.lit(None).cast("string"),
                    ).otherwise(F.lit(name))
                    for name, cond in preds
                ]
            )
        )
        tagged = batch_df.withColumn("__violations", viol).persist()
        try:
            tagged.filter(F.size("__violations") == 0).drop(
                "__violations"
            ).write.mode("overwrite").parquet(f"{target_path}/batch={batch_id}")
            tagged.filter(F.size("__violations") > 0).write.mode(
                "overwrite"
            ).parquet(f"{quarantine_path}/batch={batch_id}")
            if on_batch is not None:
                row = tagged.agg(
                    F.count(F.lit(1)).alias("__n"),
                    F.sum(
                        (F.size("__violations") == 0).cast("long")
                    ).alias("__ok"),
                    *[
                        F.sum(
                            F.array_contains("__violations", name).cast("long")
                        ).alias(f"__v{i}")
                        for i, (name, _) in enumerate(preds)
                    ],
                ).first()
                on_batch(
                    batch_id,
                    row["__n"],
                    row["__ok"] or 0,
                    {
                        name: (row[f"__v{i}"] or 0)
                        for i, (name, _) in enumerate(preds)
                    },
                )
        finally:
            tagged.unpersist()

    return _start_foreach_batch(stream, process, checkpoint, available_now)


def stream_topk_sink(
    stream: DataFrame,
    target_path: str,
    order_col: str,
    k: int,
    available_now: bool = True,
    checkpoint: str | None = None,
):
    """Streaming global top-k: maintain the k highest-``order_col`` rows
    seen so far at ``target_path`` (parquet) — a leaderboard sink.

    The maintained state is BOUNDED and non-keyed (exactly k rows), the
    third state shape next to the keyed upsert (one row per key) and the
    additive aggregate (one row per group): per micro-batch, the batch
    reduces to ITS top-k first (rank window over batch rows only — the
    partial-top-k discipline), then merges with the stored k rows and
    re-ranks 2k rows. Top-k merge is idempotent for re-applied identical
    batches, but the batch-id guard still applies so replays cost
    nothing. Ties beyond row equality break by the full row's md5 (NOT
    arbitrary), so the snapshot is deterministic under any batching.
    """
    from pyspark.sql import Window

    spark = stream.sparkSession
    cols = stream.columns
    # collision-free rank column: the snapshot must round-trip the user's
    # schema untouched, so a stream already carrying "__r" must not have
    # that column silently dropped by our helper
    rank_col = "__r"
    while rank_col in cols:
        rank_col += "_"

    def topk(df: DataFrame) -> DataFrame:
        tie = F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))
        w = Window.orderBy(F.desc(order_col), tie)
        return (
            df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k)
            .drop(rank_col)
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_top = topk(batch_df.select(*cols))

        def merge(current: DataFrame | None) -> DataFrame:
            if current is None:
                return batch_top
            return topk(current.select(*cols).unionByName(batch_top))

        _replay_guarded_swap(spark, target_path, batch_id, merge)

    return _start_foreach_batch(stream, process, checkpoint, available_now)


def run_available_now_to_memory(
    df: DataFrame, query_name: str, output_mode: str = "complete", timeout_sec: int = 120
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into an in-memory table
    and return it as a DataFrame (test/debug sink — bounded run, exact
    batch parity). The memory sink cannot recover a checkpoint — for a
    resumable drain (state carried across calls) use
    :func:`run_available_now_to_parquet`."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        # Guarded: if stop() itself throws (session torn down mid-test),
        # the timeout diagnostic must still surface, not the stop error.
        try:
            q.stop()
        except Exception:
            pass
        raise TimeoutError(
            f"availableNow drain did not finish within {timeout_sec}s "
            f"(memory sink {query_name!r}); stopped the query"
        )
    spark = df.sparkSession
    return spark.table(query_name)


def run_available_now_to_parquet(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> DataFrame | None:
    """Drain the stream with Trigger.AvailableNow into a parquet sink
    with a real checkpoint, and return whatever the sink holds so far
    (None if the sink is still empty). Unlike the memory sink this IS
    recoverable: calling it again with the same checkpoint resumes source
    offsets and the state store, which is how tests drive a stateful
    operator through multiple bounded runs (e.g. to advance the
    watermark past a session close between runs).

    A timeout is an ERROR, not a partial result: the query would still
    hold the checkpoint lock, so a resumed call could fail on concurrent
    checkpoint use or read a torn sink — stop it and raise instead."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        # Guarded: a failing stop() must not mask the timeout diagnostic.
        try:
            q.stop()
        except Exception:
            pass
        raise TimeoutError(
            f"availableNow drain did not finish within {timeout_sec}s "
            f"(checkpoint={checkpoint}); stopped the query to release "
            "the checkpoint lock"
        )
    return open_table(df.sparkSession, out_path)


def stream_ann_refresh_sink(
    stream: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    checkpoint: str | None = None,
    on_batch=None,
):
    """Streaming ingest into the PERSISTED IVF index (`ann_index.py`):
    each micro-batch runs `refresh_ivf_index` with the STREAMING batch
    id as the index batch id, so the durable ANN state grows one
    ``batch=<n>`` directory per micro-batch — searchable between
    batches, refresh-idempotent under foreachBatch replay (same batch
    id → the same directory overwritten, the discipline every sink in
    this module shares), and retirable by `expire_index_batches` /
    `purge_ids_from_ivf_index` like the dedup indexes.

    The index must already exist (one `build_ivf_index` bootstrap):
    assignment needs centroids, and training them per-batch would make
    assignments incomparable across the index lifetime — the same
    fixed-centroids contract the batch refresh pins. A batch arriving
    before the bootstrap fails loudly rather than inventing cells.

    Batch-id mapping: streaming batch ids start at 0, which would
    collide with the build's ``batch=0`` directory (a replayed stream
    batch would then OVERWRITE the build corpus — idempotence by path
    cuts both ways). The sink therefore persists a one-row
    ``stream_base/`` marker on its first batch: index batch id =
    base + streaming batch id. The marker is written before the first
    refresh and only if absent, so crash/replay reads the same mapping
    forever; a fresh checkpoint resets streaming ids to 0 AND reuses
    the same base — redelivered content overwrites the stream's own
    directories, never the build's.

    ``on_batch(batch_id, skew_report_rows)`` receives the per-cell
    growth-skew report (the resplit alarm) as collected rows — |cells|
    rows, the deliberate driver-side scalar of this sink."""
    from spark_pipeline_spark.ann_index import refresh_ivf_index

    spark = stream.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        root = index_path.rstrip("/")
        heal(spark, root)  # before stream_base lands under the root
        if open_table(spark, root + "/centroids") is None:
            raise RuntimeError(
                "stream_ann_refresh_sink: no index at "
                f"{index_path!r} — bootstrap with build_ivf_index first "
                "(per-batch centroid training would make assignments "
                "incomparable across batches)"
            )
        base_df = open_table(spark, root + "/stream_base")
        if base_df is None:
            existing = open_table(spark, root + "/assignments")
            base = (
                0 if existing is None
                else existing.agg(F.max("batch")).first()[0] + 1
            )
            local_frame(spark, [(base,)], "base int").coalesce(
                1
            ).write.mode("overwrite").parquet(root + "/stream_base")
        else:
            base = base_df.first()["base"]
        report = refresh_ivf_index(
            spark, batch_df, index_path, batch_id=base + batch_id,
            id_col=id_col, vec_col=vec_col,
        )
        # the index writes inside refresh_ivf_index are eager actions;
        # the returned report is only materialized when someone listens
        if on_batch is not None:
            on_batch(batch_id, report.collect())

    return _start_foreach_batch(stream, process, checkpoint, available_now)


def purge_ids_from_dedup_index(
    spark: SparkSession,
    index_path: str,
    ids,
    accepted_path: str | None = None,
    id_col: str = "doc_id",
) -> dict:
    """Right-to-be-forgotten for the streaming LSH dedup state: remove
    every trace of the given doc ids from the persisted index
    (``bands/`` + ``shingles/``) and, when ``accepted_path`` is given,
    from the accepted-documents table — the delete-propagation step that
    makes `delete_propagation_customers`-style compliance cover DERIVED
    state, not just primary tables. A forgotten document stops vetoing
    future near-duplicates: its bands can no longer generate candidates.

    ``ids`` is a one-column DataFrame of ids to forget (an arbitrary-size
    tombstone set — it joins, it is never collected or broadcast by
    hint).

    Crash safety: each sub-table commits separately through
    :func:`~spark_pipeline_spark.io.maintenance.purge_ids_from_tables`
    (write once, rename into place). The ``batch=<id>`` partition layout
    is preserved via ``partitionBy`` so the sink's self-batch replay
    exclusion keeps working; a batch whose rows are all purged disappears entirely, which
    readers already treat as absent. Scale: anti-joins keyed on the id —
    cost O(|index|); the index rewrite moves only fixed-width band keys
    and shingle arrays (the optional ``accepted_path`` rewrite does move
    document payloads — that IS the table being redacted).
    """
    from spark_pipeline_spark.io.maintenance import purge_ids_from_tables

    root = index_path.rstrip("/")
    tables = [(name, f"{root}/{name}", "__id", ["batch"])
              for name in ("bands", "shingles")]
    if accepted_path is not None:
        tables.append(("accepted", accepted_path, id_col, ["batch"]))
    return purge_ids_from_tables(spark, tables, ids)


def purge_ids_from_semantic_index(
    spark: SparkSession,
    index_path: str,
    ids,
    accepted_path: str | None = None,
    id_col: str = "vec_id",
) -> dict:
    """Right-to-be-forgotten for the streaming SEMANTIC dedup state
    (`stream_semantic_dedup_sink`'s ``vectors/`` table and, optionally,
    its accepted table) — the same contract `purge_ids_from_dedup_index`
    gives the LSH sink: a forgotten vector stops vetoing future
    near-duplicates because its row leaves the only table the sink's
    cross-batch check reads. Commit discipline and ``batch=<id>`` layout
    preservation are identical (shared engine)."""
    from spark_pipeline_spark.io.maintenance import purge_ids_from_tables

    tables = [("vectors", index_path.rstrip("/") + "/vectors", "__id", ["batch"])]
    if accepted_path is not None:
        tables.append(("accepted", accepted_path, id_col, ["batch"]))
    return purge_ids_from_tables(spark, tables, ids)


def expire_index_batches(
    spark: SparkSession,
    index_path: str,
    keep_last_n: int,
    sub_dirs: Sequence[str],
) -> dict:
    """Retention/TTL for the ``batch=<id>``-partitioned index layouts —
    the bounded-state policy that keeps a forever-running dedup sink's
    state from growing with stream length: keep only the newest
    ``keep_last_n`` batches of each sub-table and DELETE the older
    ``batch=<id>`` directories outright (sliding-window dedup: a
    document older than the horizon stops vetoing new near-duplicates,
    the standard trade for bounded state). Applies to the LSH index
    (``sub_dirs=("bands", "shingles")``), the semantic index
    (``("vectors",)``), and the ANN index (``("assignments", "codes")``).

    Each sub-table's batch ids are discovered from its own partition
    column (a few distinct values — never row data) and expired
    oldest-first, directory by directory. A crash mid-expiry leaves a
    batch half-present across sub-tables, which only WEAKENS dedup for
    that batch (unverifiable candidates drop out of either join side);
    re-running the expiry is idempotent and heals it. Returns
    ``{sub_dir: [expired batch ids]}``."""
    if keep_last_n < 0:
        raise ValueError(f"keep_last_n must be >= 0, got {keep_last_n}")
    root = index_path.rstrip("/")
    out: dict = {}
    for name in sub_dirs:
        path = f"{root}/{name}"
        heal(spark, path)
        df = open_table(spark, path)
        if df is None:
            out[name] = []
            continue
        ids = sorted(r["batch"] for r in df.select("batch").distinct().collect())
        # clamp the cut point: keep_last_n > len(ids) must drop NOTHING
        # (a negative slice stop would trim from the END — i.e. asking to
        # retain MORE batches than exist would delete the oldest ones)
        drop = ids[: max(0, len(ids) - keep_last_n)] if keep_last_n else ids
        for b in drop:
            delete_path(spark, f"{path}/batch={b}")
        if len(drop) == len(ids):
            # every batch expired: remove the now-empty parent so readers
            # see the absent-table empty state instead of a schemaless dir
            delete_path(spark, path)
        out[name] = drop
    return out


def compact_index_batches(
    spark: SparkSession,
    index_path: str,
    keep_last_n: int,
    sub_dirs: Sequence[str] = ("bands", "shingles"),
) -> dict:
    """Compact a batch-partitioned index's HISTORY: all batches except
    the newest ``keep_last_n`` collapse into one directory (the OLDEST
    compacted batch's id, so future stream batch ids never collide).
    After months of daily/streaming appends the directory count is the
    scan cost — file listing, parquet footers, task granularity — and
    the veto/search semantics never needed per-batch separation for
    FROZEN history, only for batches young enough to replay.

    ``keep_last_n`` must cover every batch the stream's checkpoint
    could still redeliver (the sinks' self-batch replay exclusion
    filters on batch id — a replayed batch whose rows were folded into
    an older id would veto ITSELF). Newer batches are untouched.

    Crash discipline: the combined rows commit as the oldest batch's
    directory (:func:`~spark_pipeline_spark.io.commit.commit`: written
    once into a hidden sidecar inside the table, renamed into place),
    THEN the other compacted dirs are deleted. A crash between those
    steps leaves duplicate rows across directories — harmless to dedup
    semantics (vetoes are idempotent) and healed by re-running:
    compaction DISTINCTs the non-batch columns, so a rerun is
    idempotent. Returns ``{sub_dir: [compacted batch ids]}``.

    Scope: the FLAT batch-partitioned tables only (LSH ``bands``/
    ``shingles``, the semantic sink's ``vectors``, ANN ``codes``/
    ``codes_pq``). The ANN ``assignments`` table is ALSO partitioned by
    ``cell`` — compacting it here would flatten the cell directories
    and break the search's partition pruning; leave it to a rebuild."""
    if keep_last_n < 0:
        raise ValueError(f"keep_last_n must be >= 0, got {keep_last_n}")
    require_jvm(spark, "compact_index_batches")
    root = index_path.rstrip("/")
    out: dict = {}
    for name in sub_dirs:
        path = f"{root}/{name}"
        heal(spark, path)
        df = open_table(spark, path)
        if df is None:
            out[name] = []
            continue
        if any("/cell=" in f for f in df.inputFiles()):
            # the ANN assignments table (and any other cell-PARTITIONED
            # layout — files under cell=<k> directories; a plain `cell`
            # DATA column like the flat codes tables' is fine):
            # compacting would flatten the directories the search's
            # partition pruning depends on. Refuse loudly — a silent
            # flatten turns every probe into a full-index scan.
            raise ValueError(
                f"{path} is cell-partitioned (files under cell=<k> "
                f"directories) — compaction would destroy its pruning "
                f"layout; rebuild the index instead (ann rebuild)."
            )
        ids = sorted(r["batch"] for r in df.select("batch").distinct().collect())
        cut = ids[: max(0, len(ids) - keep_last_n)]
        if len(cut) < 2:
            out[name] = []
            continue
        data_cols = [c for c in df.columns if c != "batch"]
        combined = (
            df.filter(F.col("batch").isin([int(b) for b in cut]))
            .select(*data_cols)
            .distinct()
        )
        commit(spark, f"{path}/batch={cut[0]}", combined.write.parquet)
        for b in cut[1:]:
            delete_path(spark, f"{path}/batch={b}")
        out[name] = cut
    return out


def compact_lsh_index(
    spark: SparkSession, index_path: str, keep_last_n: int
) -> dict:
    """History compaction for the LSH dedup index
    (:func:`stream_dedup_lsh_sink`'s ``bands/`` + ``shingles/``) — the
    per-family front door to :func:`compact_index_batches` that knows
    its own sub-table layout, so callers cannot compact half an index
    or point the engine at a layout it would corrupt. ``keep_last_n``
    must cover every batch the stream's checkpoint could redeliver."""
    return compact_index_batches(
        spark, index_path, keep_last_n, ("bands", "shingles")
    )


def compact_semantic_index(
    spark: SparkSession, index_path: str, keep_last_n: int
) -> dict:
    """History compaction for the semantic dedup index
    (:func:`stream_semantic_dedup_sink`'s ``vectors/`` table)."""
    return compact_index_batches(spark, index_path, keep_last_n, ("vectors",))


def compact_ann_index(
    spark: SparkSession, index_path: str, keep_last_n: int
) -> dict:
    """History compaction for the persisted ANN index's FLAT code
    tables (``codes/`` + ``codes_pq/``). The cell-partitioned
    ``assignments/`` table is deliberately NOT in scope — the engine
    refuses it outright (its ``cell=<k>`` directories are the search's
    partition pruning); reshaping assignments is a rebuild, not a
    compaction."""
    return compact_index_batches(
        spark, index_path, keep_last_n, ("codes", "codes_pq")
    )
