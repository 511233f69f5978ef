"""Persisted IVF index lifecycle — the ANN analogue of the streaming
LSH dedup index (`streaming.py`): durable (centroids, cell assignments,
int8 codes) tables committed by rename, an incremental refresh verb, a
right-to-be-forgotten purge path, and a search entry point that reads
ONLY the persisted state.

Reference parity: the reference engine has no ANN at all — this module
extends the repo's ivf_* query family (see `operators/similarity.py`,
ref-free) with the operational state the queries recompute per run.

Layout under ``index_path``::

    centroids/                      (cell int, centroid array<double>)
    assignments/batch=<n>/cell=<c>/ (vec_id, embedding)
    codes/batch=<n>/                (vec_id, cell, codes array<int>, scale)
    pq_codebook/                    (m int, code int, cv array<double>)
    codes_pq/batch=<n>/             (vec_id, cell, codes array<int> by m)

Why this shape at 100 TB:

- ``assignments`` is partitioned by ``batch`` (replay-idempotent
  appends: a refresh retry overwrites its own ``batch=<n>`` directory
  and nothing else — the `stream_dedup_lsh_sink` discipline) and by
  ``cell`` (an ``nprobe``-cell search prunes at the DIRECTORY level:
  Spark's partition discovery turns ``cell`` into a partition column,
  so probing 2 of 1024 cells reads ~2/1024 of the corpus bytes,
  verified by `tests/test_ann_index.py`'s plan assertion).
- ``codes`` carries the 4× -smaller int8 representation (symmetric
  per-vector scale = 127/max|x|, code = floor(x*scale + 0.5) — exactly
  `embedding_quantize_int8`'s scheme so the two reports reconcile); a
  memory-tight reranker scans codes and only fetches float vectors for
  the short list.
- a build or rebuild replaces the whole root through `io.commit`
  (every table written once under a staging root, then one rename
  pair), so ``centroids`` and the batch tables never mix generations;
  a purge commits each table the same way.
- Refresh NEVER retrains centroids per batch (assignment must stay
  comparable across batches); instead it returns the per-cell
  growth-skew report (`ivf_incremental_assign_embeddings`'s logic made
  durable) whose ``resplit_flag`` tells the operator when a full
  rebuild is due.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_pipeline_spark.gate import local_frame
from spark_pipeline_spark.io.commit import commit, heal, open_table, require_jvm

__all__ = [
    "build_ivf_index",
    "refresh_ivf_index",
    "rebuild_ivf_index",
    "purge_ids_from_ivf_index",
    "ivf_index_search",
    "ivf_index_search_int8",
    "ivf_index_search_pq",
    "ivf_index_stats",
    "ivf_index_pq_stats",
]


def _paths(index_path: str) -> tuple[str, str, str]:
    root = index_path.rstrip("/")
    return root + "/centroids", root + "/assignments", root + "/codes"


def _empty_search_frame(
    spark: SparkSession, queries: DataFrame, query_id: str,
    cen: DataFrame | None,
) -> DataFrame:
    """The empty-index search result: purge/expire helpers delete a
    sub-table's directory when its last row goes, and their contract is
    that ABSENCE is the empty state every reader handles — so search
    over a fully-purged index returns zero rows with the normal result
    schema instead of raising AnalysisException. neighbor_id takes the
    query id's type (one id domain per index by construction)."""
    from pyspark.sql import types as T

    qt = queries.schema[query_id].dataType
    ct = cen.schema["cell"].dataType if cen is not None else T.IntegerType()
    schema = T.StructType(
        [
            T.StructField("query_id", qt),
            T.StructField("neighbor_id", qt),
            T.StructField("cell", ct),
            T.StructField("cosine", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    return local_frame(spark, [], schema)


def _rank_probes(
    q: DataFrame, cen_raw: DataFrame, nprobe: int, keep: list[str]
) -> DataFrame:
    """Each query's ``nprobe`` nearest cells: returns ``keep`` columns
    plus ``cell``, ordered/tied exactly like the historical
    broadcast+window path (descending ``struct(cosine, -cell)`` —
    ties impossible, cell ids are unique).

    The centroid table is bounded by construction (k_cells rows — the
    operator-chosen cell count, tiny relative to the corpus), so it is
    COLLECTED and inlined as literal vectors: probe ranking becomes a
    map-only projection over the queries — no centroid broadcast
    exchange, no per-query ``row_number`` window shuffle (guide §2.4).
    Above the literal budget it falls back to the broadcast+window
    plan unchanged."""
    from pyspark.sql import Window

    from spark_pipeline_spark.operators.similarity import cosine_similarity

    rows = None
    head = cen_raw.select("cell", "centroid").take(2049)
    if len(head) <= 2048:
        n_doubles = sum(len(r["centroid"]) for r in head)
        if n_doubles <= _PQ_LITERAL_MAX_DOUBLES:
            rows = head
    if rows is not None:
        cands = F.array(*[
            F.struct(
                F.struct(
                    cosine_similarity(
                        "__qv",
                        F.array(*[F.lit(float(x)) for x in r["centroid"]]),
                    ).alias("s"),
                    F.lit(-r["cell"]).alias("c"),
                ).alias("o"),
                F.lit(r["cell"]).alias("cell"),
            )
            for r in rows
        ])
        top = F.slice(F.sort_array(cands, asc=False), 1, nprobe)
        return q.withColumn("__probe", F.explode(top)).select(
            *keep, F.col("__probe.cell").alias("cell")
        )
    cen = cen_raw.select("cell", F.col("centroid").alias("__cenv"))
    probe_w = F.struct(
        cosine_similarity("__qv", "__cenv").alias("s"),
        (-F.col("cell")).alias("c"),
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("__probe_ord"))
    return (
        q.join(F.broadcast(cen), how="cross")
        .withColumn("__probe_ord", probe_w)
        .withColumn("__pr", F.row_number().over(pw))
        .filter(F.col("__pr") <= nprobe)
        .select(*keep, "cell")
    )


def _int8_codes(df: DataFrame, vec_col: str) -> DataFrame:
    """Append symmetric int8 codes + the per-vector scale.

    Same arithmetic as `embedding_quantize_int8` (queries.py): floor(x·
    scale + 0.5) rather than round() so codes are IEEE-exact across
    engines. Codes are stored as int (parquet INT32) — a production
    build would pack tinyint, but the CODE VALUES are the contract the
    tests pin, and int keeps DuckDB list arithmetic loss-free."""
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    return df.withColumn("scale", scale).withColumn(
        "codes",
        F.transform(
            v,
            lambda x: F.when(
                F.col("scale") > 0,
                F.floor(x * F.col("scale") + F.lit(0.5)).cast("int"),
            ).otherwise(F.lit(0)),
        ),
    )


def _pq_paths(index_path: str) -> tuple[str, str]:
    root = index_path.rstrip("/")
    return root + "/pq_codebook", root + "/codes_pq"


def _sq_dist_micro(a, b):
    """Squared L2 in integer MICROS — `ann_pq_recall_report`'s
    determinism contract: every distance rounds to a long BEFORE any
    ranking or summation, so codes and ADC sums are engine-exact."""
    fold = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(fold * F.lit(1000000.0), 0).cast("long")


def _pq_subspaces(df: DataFrame, vec_col: str, m_sub: int, dim: int):
    """Explode ``vec_col`` into ``m_sub`` equal contiguous subvectors:
    one row per (input row, m) with the slice as ``__sv``."""
    sub_dim = dim // m_sub
    parts = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(vec_col, m * sub_dim + 1, sub_dim).alias("__sv"),
            )
            for m in range(m_sub)
        ]
    )
    return df.withColumn("__part", F.explode(parts)).select(
        *[c for c in df.columns if c != vec_col],
        F.col("__part.m").alias("m"),
        F.col("__part.__sv").alias("__sv"),
    )


def _pq_train_codebook(
    base: DataFrame, m_sub: int, k_codes: int, dim: int
) -> DataFrame:
    """Seed PQ codebook: the ``k_codes`` lowest-id vectors' subvectors
    (the deterministic stand-in for trained sub-centroids —
    `ann_pq_recall_report`'s convention, made durable). Returns
    ``(m, code, cv)`` with code = the seed's rank by vec_id (0-based),
    so the codebook is engine-independent regardless of which ids the
    build corpus happens to contain."""
    from pyspark.sql import Window

    seeds = (
        base.orderBy("vec_id")
        .limit(k_codes)
        .withColumn(
            "code",
            F.row_number().over(Window.orderBy("vec_id")).cast("int") - 1,
        )
    )
    return _pq_subspaces(seeds, "embedding", m_sub, dim).select(
        "m", "code", F.col("__sv").alias("cv")
    )


def _pq_meta(codebook: DataFrame) -> tuple[int, int, int]:
    """(m_sub, k_codes, dim) discovered from a codebook frame in ONE
    job — the sub-centroid length times the subspace count reconstructs
    the embedding dim (slices are equal-width by the build-time
    ``dim % pq_m == 0`` guard), so callers no longer pay a separate
    centroids ``head()`` job just to learn the dimension."""
    r = codebook.agg(F.max("m"), F.max("code"), F.max(F.size("cv"))).first()
    m_sub = int(r[0]) + 1
    return m_sub, int(r[1]) + 1, m_sub * int(r[2])


# Literal-codebook budget for `_pq_encode`: above this many inlined
# doubles (M·K·sub_dim) the plan would bloat, so encoding falls back to
# the broadcast-join path. Registered configs are far below (2·4·32).
_PQ_LITERAL_MAX_DOUBLES = 65536


def _pq_encode(
    assigned: DataFrame, codebook: DataFrame, dim: int,
    m_sub: int | None = None,
) -> DataFrame:
    """PQ-encode ``(vec_id, cell, embedding)`` against the codebook:
    per subspace, the nearest sub-centroid by integer-micro squared L2
    (tie → lower code); one ``codes`` array ordered by m.

    The codebook (M·K rows, bounded by construction — the same
    contract-bounded collect as the graph driver gates) is COLLECTED
    and inlined as literal sub-centroids, making the encode a MAP-ONLY
    projection fused into its consumer: no subspace explode, no
    broadcast exchange, no per-(vec, m) aggregation shuffle — the
    corpus truly never shuffles or re-keys to be encoded (guide §2.3/
    §2.4; the former join path shuffled |corpus|·M intermediate rows
    through two aggregates). Distances use the identical
    ``_sq_dist_micro`` fold, so codes are bit-equal to the join path
    (kept as :func:`_pq_encode_join` for oversized codebooks).

    Callers that know ``m_sub`` pass it and skip the discovery job."""
    if m_sub is None:
        m_sub = codebook.select(F.max("m")).first()[0] + 1
    sub_dim = dim // m_sub
    rows = None
    if m_sub * sub_dim > 0:
        cb_rows = codebook.select("m", "code", "cv").collect()
        if len(cb_rows) * sub_dim <= _PQ_LITERAL_MAX_DOUBLES:
            rows = cb_rows
    if rows is not None:
        by_m: dict[int, list] = {}
        for r in rows:
            by_m.setdefault(r["m"], []).append((r["code"], list(r["cv"])))
        if set(by_m) == set(range(m_sub)):
            def code_for(m: int):
                sl = F.slice(F.col("embedding"), m * sub_dim + 1, sub_dim)
                cands = F.array(*[
                    F.struct(
                        _sq_dist_micro(
                            sl, F.array(*[F.lit(float(x)) for x in cv])
                        ).alias("d"),
                        F.lit(int(code)).alias("c"),
                    )
                    for code, cv in sorted(by_m[m])
                ])
                # ascending (d, c) struct sort ≡ min dist, tie → lower code
                return F.array_sort(cands)[0]["c"]

            return assigned.select(
                "vec_id", "cell",
                F.array(*[code_for(m) for m in range(m_sub)]).alias("codes"),
            )
    return _pq_encode_join(assigned, codebook, dim, m_sub)


def _pq_encode_join(
    assigned: DataFrame, codebook: DataFrame, dim: int, m_sub: int
) -> DataFrame:
    """Broadcast-join PQ encode — the fallback for codebooks too large
    to inline as literals (see ``_PQ_LITERAL_MAX_DOUBLES``). Identical
    output to the literal path (same micro-rounded distance fold, same
    tie-break), property-tested equal."""
    sub = _pq_subspaces(
        assigned.select("vec_id", "cell", "embedding"), "embedding", m_sub, dim
    )
    d = sub.join(F.broadcast(codebook), "m").select(
        "vec_id",
        "cell",
        "m",
        "code",
        _sq_dist_micro(F.col("__sv"), F.col("cv")).alias("__d"),
    )
    best = d.groupBy("vec_id", "cell", "m").agg(
        F.min_by("code", F.struct(F.col("__d"), F.col("code"))).alias("code")
    )
    return best.groupBy("vec_id", "cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def build_ivf_index(
    spark: SparkSession,
    df: DataFrame,
    index_path: str,
    k_cells: int = 4,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pq_m: int | None = None,
    pq_k: int = 4,
) -> dict:
    """(Re)build the persisted index from scratch: seed centroids from
    the ``k_cells`` lowest-id vectors (deterministic — the convention
    every registered ivf_* query uses), optionally refine with
    ``iters`` Lloyd rounds, assign every vector, encode int8 codes, and
    write all three tables. The full corpus lands as ``batch=0``;
    refreshes append ``batch=1..n``.

    A rebuild REPLACES the whole index root in one commit
    (`io.commit.commit`: every table is written once under a staging
    root, then one rename pair swaps the roots), so the tables never
    mix generations — it is the resplit story: when refresh reports
    persistent skew, rebuild with larger ``k_cells``.
    """
    base = df.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).cast("array<double>").alias("embedding"))
    return _build(spark, base, index_path, k_cells, iters, pq_m, pq_k)


def _build(
    spark: SparkSession, base: DataFrame, index_path: str, k_cells: int,
    iters: int, pq_m: int | None, pq_k: int, on_staged=None,
) -> dict:
    """`build_ivf_index` over a ``(vec_id, embedding)`` frame;
    ``on_staged`` runs after every table is staged, before the commit
    renames anything."""
    from spark_pipeline_spark.operators.similarity import ivf_assign, kmeans_fit

    require_jvm(spark, "build_ivf_index")
    w = F.col("vec_id")
    seeds = (
        base.orderBy(w).limit(k_cells)
        .select(w.alias("cell"), F.col("embedding").alias("centroid"))
    )
    cen = kmeans_fit(base, seeds, iters=iters) if iters > 0 else seeds
    # ONE eager checkpoint materializes the (tiny, ≤ k_cells-row)
    # centroid frame: the parquet write, the assignment broadcast, and
    # the dim/emptiness probe all reuse it instead of each re-running
    # the corpus sort-limit.
    cen = cen.localCheckpoint(eager=True)
    # An empty corpus must refuse loudly: a centroid-less index silently
    # drops every vector a later refresh assigns (ivf_assign against zero
    # cells keeps nothing) — the worst failure mode is the quiet one.
    # nonempty(base) ⇔ nonempty(cen), and the checkpointed head also
    # supplies the embedding dim the PQ layer needs.
    probe = cen.head(1)
    if not probe:
        raise ValueError(
            "build_ivf_index: source has no vectors — refusing to write a "
            "centroid-less index (refreshes against it would silently drop "
            "every vector)"
        )
    dim = len(probe[0]["centroid"])
    if pq_m is not None and dim % pq_m:
        # validated before anything is staged: a failed build leaves the
        # live index untouched
        raise ValueError(
            f"build_ivf_index: dim {dim} not divisible by pq_m={pq_m}"
        )

    assigned = ivf_assign(
        base, cen, "vec_id", "embedding", cell_id="cell", cell_vec="centroid",
    )
    # PQ is an OPT-IN layer (pq_m set): the codebook trains once at
    # build (M·K subvector rows, seeded like the centroids) and stays
    # FIXED across refreshes — codes must stay comparable across the
    # index lifetime, same contract as centroids. Opt-in because the
    # encode pass costs an extra write job a float/int8-only index never
    # needs (it showed up as a measured +75% on the lifecycle bench when
    # it briefly defaulted on).
    pq = None
    if pq_m is not None:
        pq = (_pq_train_codebook(base, pq_m, pq_k, dim), dim, pq_m)
    info = {"n_vectors": 0, "k_cells": k_cells, "batch_id": 0,
            "pq_m": pq_m, "pq_k": pq_k if pq_m is not None else None}

    def write(root: str) -> None:
        cen.coalesce(1).write.parquet(_paths(root)[0])
        if pq is not None:
            pq[0].coalesce(1).write.parquet(_pq_paths(root)[0])
        info["n_vectors"] = _write_batch(spark, assigned, root, 0, pq)
        if on_staged is not None:
            on_staged()

    commit(spark, index_path, write)
    return info


def _write_batch(
    spark: SparkSession,
    assigned: DataFrame,
    index_path: str,
    batch_id: int,
    pq: tuple[DataFrame, int, int] | None,
) -> int:
    """Write one batch's assignment, int8 code and — with ``pq`` =
    ``(codebook, dim, m_sub)`` — PQ code rows under their own
    ``batch=<id>`` directories, idempotent by path (a replay of the
    same batch overwrites the same directories and nothing else). The
    tables agree because they read ONE persisted frame; an empty batch
    encodes no PQ codes."""
    _, asg_path, code_path = _paths(index_path)
    assigned = assigned.persist()
    try:
        n = assigned.count()
        assigned.write.mode("overwrite").partitionBy("cell").parquet(
            f"{asg_path}/batch={batch_id}"
        )
        # scale is persisted at FULL precision: readers reconstruct
        # x ≈ code/scale, and the parity oracles reconstruct with the
        # unrounded 127/max|x| — rounding here would drift the 6th
        # decimal of downstream round(avg(err),6) cells. Round only
        # in display/report columns, never in the stored value.
        _int8_codes(assigned, "embedding").select(
            "vec_id", "cell", "codes", "scale"
        ).write.mode("overwrite").parquet(f"{code_path}/batch={batch_id}")
        if pq is not None and n:
            codebook, dim, m_sub = pq
            _pq_encode(assigned, codebook, dim, m_sub=m_sub).write.mode(
                "overwrite"
            ).parquet(f"{_pq_paths(index_path)[1]}/batch={batch_id}")
    finally:
        assigned.unpersist()
    return n


def refresh_ivf_index(
    spark: SparkSession,
    new_df: DataFrame,
    index_path: str,
    batch_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    resplit_skew: float = 1.5,
) -> DataFrame:
    """Incrementally add a batch of new vectors: assign to the EXISTING
    centroids (never retrained — assignments stay comparable across the
    index's lifetime), append ``batch=<n>`` assignment + code dirs, and
    return the per-cell growth-skew report (the durable form of
    `ivf_incremental_assign_embeddings`): ``(cell, n_existing, n_new,
    share_existing, share_new, growth_skew, resplit_flag)``.

    O(|new| + |cells|) Spark work plus one count over the persisted
    assignment table's metadata for ``n_existing`` — the corpus is
    never reassigned. ``batch_id`` defaults to (max existing batch)+1;
    passing an explicit id makes the call replay-idempotent (same id →
    same directory overwritten)."""
    from spark_pipeline_spark.operators.similarity import ivf_assign

    cen_path, asg_path, _ = _paths(index_path)
    heal(spark, index_path)  # the root and its tables, before appending
    cen = open_table(spark, cen_path)
    if cen is None:
        raise ValueError(
            f"refresh_ivf_index: no index at {index_path!r} — build it "
            "with build_ivf_index first"
        )
    existing = open_table(spark, asg_path)
    if batch_id is None:
        batch_id = (
            0 if existing is None
            else existing.agg(F.max("batch")).first()[0] + 1
        )

    assigned = ivf_assign(
        new_df.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("embedding")),
        cen, "vec_id", "embedding", cell_id="cell", cell_vec="centroid",
    )

    # PQ codes for the batch, against the FIXED persisted codebook (an
    # index built before the PQ layout existed has none — skip, the
    # documented backward-compat posture; rebuild to add PQ), encoded
    # from the same persisted frame the assignment write reads. m_sub
    # and dim come from the codebook in ONE job (`_pq_meta`).
    codebook = open_table(spark, _pq_paths(index_path)[0])
    pq = None
    if codebook is not None:
        m_sub, _, dim = _pq_meta(codebook)
        pq = (codebook, dim, m_sub)
    _write_batch(spark, assigned, index_path, batch_id, pq)

    # growth-skew report: persisted history (excluding this batch — a
    # replay must not count its own half-written rows as "existing")
    # vs the batch just written, read back from its committed directory.
    # An EMPTY batch (cron tick with no new data) writes no data files,
    # so its dir can't be re-read — the zero-new report is built directly.
    new_batch = open_table(spark, f"{asg_path}/batch={batch_id}")
    if new_batch is not None:
        new_counts = new_batch.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_new")
        )
    else:
        new_counts = cen.select(
            "cell", F.lit(0).cast("long").alias("n_new")
        ).limit(0)
    if existing is not None:
        old_counts = (
            existing.filter(F.col("batch") != batch_id)
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n_existing"))
        )
    else:
        old_counts = new_counts.select(
            "cell", F.lit(0).cast("long").alias("n_existing")
        ).limit(0)
    cells = (
        cen.select("cell")
        .join(old_counts, "cell", "left")
        .join(new_counts, "cell", "left")
        .select(
            "cell",
            F.coalesce("n_existing", F.lit(0)).cast("long").alias("n_existing"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
    )
    tot = cells.agg(
        F.greatest(F.sum("n_existing"), F.lit(1)).cast("double").alias("__te"),
        F.greatest(F.sum("n_new"), F.lit(1)).cast("double").alias("__tn"),
    )
    skew = (F.col("n_new") / F.col("__tn")) / F.greatest(
        F.col("n_existing") / F.col("__te"), F.lit(1e-12)
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_existing",
        "n_new",
        F.round(F.col("n_existing") / F.col("__te"), 6).alias("share_existing"),
        F.round(F.col("n_new") / F.col("__tn"), 6).alias("share_new"),
        F.round(skew, 6).alias("growth_skew"),
        F.when(skew >= resplit_skew, F.lit(1)).otherwise(F.lit(0)).alias(
            "resplit_flag"
        ),
    )


def rebuild_ivf_index(
    spark: SparkSession,
    index_path: str,
    k_cells: int | None = None,
    iters: int = 0,
    pq_m: int | None = None,
    pq_k: int | None = None,
    on_staged=None,
) -> dict:
    """Centroid-RETRAIN rebuild of a live index — the acted-on path for
    the drift alarms (`ivf_index_pq_code_drift_report`, the refresh
    skew report's ``resplit_flag``), which only observe: read the
    current corpus out of the persisted ``assignments/`` tables (all
    batches — i.e. exactly the vectors the index holds today, post-
    refresh, post-purge), train fresh centroids on it, reassign,
    re-encode int8 and PQ, and replace the WHOLE index root in one
    commit (`build_ivf_index`'s).

    The complete new index is written under a staging root while the
    LIVE tables are never touched, so in-flight searches keep reading
    a fully consistent old index for the entire (expensive) retrain;
    the commit is one rename pair (no data movement). A crash at any
    point leaves either the old or the new root: searches read whichever
    the commit rolls to, and the next writer of the index (refresh,
    purge, rebuild) finishes the commit (`io.commit.heal`). The commit
    replaces everything under the root: a `stream_ann_refresh_sink`'s
    ``stream_base`` marker is re-derived on its next batch.

    Parameters default to "keep the index's current shape": ``k_cells``
    None → the live centroid count (pass a larger value on persistent
    skew — the resplit story); ``pq_m``/``pq_k`` None → inferred from
    the live ``pq_codebook/`` (absent → rebuilt without PQ);
    ``pq_m=0`` drops the PQ layer explicitly. ``iters`` > 0 adds Lloyd
    refinement rounds on the fresh seeds (`kmeans_fit`). The result is
    bit-identical to `build_ivf_index` on the same corpus and
    parameters — the invariant the tests hash-verify. ``on_staged``
    (optional callable, no args) runs after staging completes and
    before the live root is touched — the quiesce/verify hook.
    ``swapped`` lists the tables the committed root holds.

    Caller contract: quiesce refresh/purge writers for the swap (same
    as compaction). Searches need no quiesce and never change the
    index; a search that lists the live tables just before the rename
    pair can fail on the moved files, and can then be retried. vec_ids
    are unique across batches by the refresh/purge contract, so the
    corpus read needs no dedup. Scale: one full-corpus scan + the
    standard build (centroids broadcast, corpus never shuffles except
    the k-means aggregates); the commit moves zero data bytes."""
    from spark_pipeline_spark.session import cached

    root = index_path.rstrip("/")
    cen_path, asg_path, _ = _paths(root)
    heal(spark, root)  # the corpus read below must not move under the build
    corpus = open_table(spark, asg_path)
    if corpus is None:
        raise ValueError(
            f"rebuild_ivf_index: no assignments under {root} — nothing to "
            f"rebuild (build_ivf_index creates a new index)"
        )
    if k_cells is None:
        k_cells = open_table(spark, cen_path).count()
    codebook = open_table(spark, _pq_paths(root)[0])
    if pq_m is None:
        if codebook is not None:
            agg = codebook.agg(F.max("m"), F.max("code")).first()
            pq_m = int(agg[0]) + 1
            if pq_k is None:
                pq_k = int(agg[1]) + 1
    elif pq_m == 0:
        pq_m = None
    # the corpus frame is scanned several times inside the build (seed
    # selection, assignment, PQ codebook training) and here it is a
    # parquet re-read of the live assignments — cache it for the build's
    # duration instead of re-scanning per pass
    with cached(corpus.select("vec_id", "embedding")) as corpus_cached:
        info = _build(
            spark, corpus_cached, root, k_cells, iters, pq_m,
            4 if pq_k is None else pq_k, on_staged,
        )
    swapped = ["centroids", "assignments", "codes"]
    if pq_m is not None:
        swapped += ["pq_codebook", "codes_pq"]
    return {**info, "swapped": swapped}


def purge_ids_from_ivf_index(
    spark: SparkSession, index_path: str, ids: DataFrame
) -> dict:
    """Right-to-be-forgotten for the ANN state (the embeddings gap the
    relational `delete_propagation_customers` and LSH
    `purge_ids_from_dedup_index` paths already cover): remove every
    trace of the given vec_ids from ``assignments/``, ``codes/`` and
    ``codes_pq/``. A purged vector stops being retrievable —
    `ivf_index_search` can never return it because its row is gone from
    the only table search reads. Centroids are NOT rewritten (they are
    aggregates, not member data — the standard GDPR posture for
    model-side state; a rebuild refreshes them).

    Same engine as the LSH purge
    (`io.maintenance.purge_ids_from_tables`): each table commits once
    through a rename, partition layout (batch, cell) preserved."""
    from spark_pipeline_spark.io.maintenance import purge_ids_from_tables

    _, asg_path, code_path = _paths(index_path)
    return purge_ids_from_tables(
        spark,
        [
            ("assignments", asg_path, "vec_id", ["batch", "cell"]),
            ("codes", code_path, "vec_id", ["batch"]),
            ("codes_pq", _pq_paths(index_path)[1], "vec_id", ["batch"]),
        ],
        ids,
    )


def ivf_index_search(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k cosine search against the PERSISTED index — no corpus
    reassignment, no recompute: read ``centroids/``, rank each query's
    ``nprobe`` nearest cells, equi-join the (broadcast) query×cell
    frame to ``assignments/`` on the PARTITION column ``cell`` (the
    scan prunes to the probed cell directories), exact cosine on the
    stored float vectors, per-query top-k window.

    Returns ``(query_id, neighbor_id, cell, cosine, rank)`` — the same
    shape as the per-run `ivf_topk`, so recall harnesses apply
    unchanged."""
    from pyspark.sql import Window

    from spark_pipeline_spark.operators.similarity import cosine_similarity

    cen_path, asg_path, _ = _paths(index_path)
    cen_raw = open_table(spark, cen_path)
    asg_raw = open_table(spark, asg_path)
    if cen_raw is None or asg_raw is None:
        return _empty_search_frame(spark, queries, query_id, cen_raw)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    q_probes = _rank_probes(q, cen_raw, nprobe, ["query_id", "__qv"])
    corpus = asg_raw.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"),
        "cell",
    )
    scored = corpus.join(F.broadcast(q_probes), on="cell")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.select(
        "query_id", "neighbor_id", "cell",
        cosine_similarity("__qv", "__cv").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_index_search_int8(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    oversample: int = 3,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Memory-tight search against the persisted index: candidate
    generation + first-pass ranking scan ONLY the int8 ``codes/`` table
    (4× smaller than the float vectors), then the top ``k·oversample``
    shortlist per query fetches float vectors from ``assignments/`` BY
    ID for the exact rerank — the classic quantized-scan + float-rerank
    retrieval layout, here over the durable tables.

    Determinism: code dot products and norms are exact integers (dim·
    127² « 2^53 — the `ann_int8_recall_report` argument), so the
    shortlist is engine-exact; the returned ``cosine`` is the float
    rerank value, same output shape as :func:`ivf_index_search`.

    Scale: the codes table is NOT cell-partitioned (codes rows are
    fixed-width and 4× smaller — the probe filter is a pushed data
    filter, not directory pruning), the float table is touched only for
    |queries|·k·oversample rows via an id equi-join."""
    from pyspark.sql import Window

    from spark_pipeline_spark.operators.similarity import cosine_similarity

    cen_path, asg_path, code_path = _paths(index_path)
    cen_raw = open_table(spark, cen_path)
    code_raw = open_table(spark, code_path)
    asg_raw = open_table(spark, asg_path)
    if cen_raw is None or code_raw is None or asg_raw is None:
        return _empty_search_frame(spark, queries, query_id, cen_raw)
    q = _int8_codes(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        ),
        "__qv",
    ).select(
        "query_id", "__qv",
        F.transform("codes", lambda c: c.cast("long")).alias("__qc"),
        F.aggregate(
            F.transform("codes", lambda c: c.cast("long")),
            F.lit(0).cast("long"), lambda a, c: a + c * c,
        ).alias("__qn2"),
    )
    q_probes = _rank_probes(q, cen_raw, nprobe, ["query_id", "__qc", "__qn2"])

    codes = code_raw.select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform("codes", lambda c: c.cast("long")).alias("__nc"),
        "cell",
    ).withColumn(
        "__nn2",
        F.aggregate("__nc", F.lit(0).cast("long"), lambda a, c: a + c * c),
    )
    dot = F.aggregate(
        F.zip_with("__qc", "__nc", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda a, x: a + x,
    )
    denom = (F.col("__qn2") * F.col("__nn2")).cast("double")
    int8_cos = F.when(denom > 0, dot.cast("double") / F.sqrt(denom)).otherwise(
        F.lit(-2.0)
    )
    scored = codes.join(F.broadcast(q_probes), on="cell")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    sw = Window.partitionBy("query_id").orderBy(
        F.desc("__icos"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("__icos", int8_cos)
        .withColumn("__sr", F.row_number().over(sw))
        .filter(F.col("__sr") <= k * oversample)
        .select("query_id", "neighbor_id", "cell")
    )

    floats = asg_raw.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
    )
    qv = q.select("query_id", "__qv")
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        shortlist.join(floats, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "neighbor_id", "cell",
            cosine_similarity("__qv", "__cv").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
    )


def ivf_index_search_pq(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    oversample: int = 3,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """PQ (ADC) search against the persisted index: candidate
    generation + first-pass ranking scan ONLY ``codes_pq/`` (M small
    ints per vector — the 32× shrink PQ exists for), ranking candidates
    by asymmetric-distance computation: the query's per-(subspace,
    code) integer-micro distance table, summed by code lookup. The top
    ``k·oversample`` shortlist per query then fetches float vectors
    from ``assignments/`` BY ID for the exact cosine rerank — the same
    quantized-scan + float-rerank layout as
    :func:`ivf_index_search_int8`, with PQ as the first pass.

    Determinism: sub-distances round to integer micros before any
    ranking or summation (`ann_pq_recall_report`'s contract), so codes,
    ADC sums, and the shortlist are engine-exact; ties break by lower
    code / lower neighbor_id. Returns the standard
    ``(query_id, neighbor_id, cell, cosine, rank)`` shape.

    Scale: the ADC table is |queries|·M·K rows (broadcast); the codes
    scan carries M ints per corpus row and prunes to probed cells via
    the pushed cell filter; the float table is touched only for
    |queries|·k·oversample rows via an id equi-join."""
    from pyspark.sql import Window

    from spark_pipeline_spark.operators.similarity import cosine_similarity

    cen_path, asg_path, _ = _paths(index_path)
    pq_cb_path, pq_codes_path = _pq_paths(index_path)
    cen_raw = open_table(spark, cen_path)
    cb = open_table(spark, pq_cb_path)
    pq_raw = open_table(spark, pq_codes_path)
    asg_raw = open_table(spark, asg_path)
    if cen_raw is None or cb is None or pq_raw is None or asg_raw is None:
        return _empty_search_frame(spark, queries, query_id, cen_raw)

    # one discovery job for (m_sub, dim) — the codebook's geometry
    # reconstructs the embedding dim, so no centroids head() job
    m_sub, _, dim = _pq_meta(cb)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    # probe ranking: nprobe nearest cells by centroid cosine (ties →
    # lower cell), identical to the float/int8 paths
    q_probes = _rank_probes(q, cen_raw, nprobe, ["query_id"])

    # ADC table: |queries|·M·K integer-micro sub-distances, broadcast
    adc = (
        _pq_subspaces(q.withColumnRenamed("__qv", "embedding"),
                      "embedding", m_sub, dim)
        .join(F.broadcast(cb), "m")
        .select(
            "query_id", "m", "code",
            _sq_dist_micro(F.col("__sv"), F.col("cv")).alias("__d"),
        )
    )

    cand = (
        pq_raw.select(
            F.col("vec_id").alias("neighbor_id"), "cell",
            F.posexplode("codes").alias("m", "code"),
        )
        .join(F.broadcast(q_probes), "cell")
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    approx = (
        cand.join(F.broadcast(adc), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id", "cell")
        .agg(F.sum("__d").alias("__adc"))
    )
    sw = Window.partitionBy("query_id").orderBy(
        F.asc("__adc"), F.asc("neighbor_id")
    )
    shortlist = (
        approx.withColumn("__sr", F.row_number().over(sw))
        .filter(F.col("__sr") <= k * oversample)
        .select("query_id", "neighbor_id", "cell")
    )

    floats = asg_raw.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        shortlist.join(floats, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id", "neighbor_id", "cell",
            cosine_similarity("__qv", "__cv").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
    )


def ivf_index_pq_stats(spark: SparkSession, index_path: str) -> DataFrame:
    """Per-cell PQ health report from the persisted tables: member
    count and the mean PQ reconstruction error — mean integer-micro
    squared L2 between each vector and its codebook reconstruction,
    divided by dim, averaged per cell (the PQ sibling of
    `ivf_index_stats`' int8 ``mean_code_err``). Absent tables (fully
    purged / pre-PQ index) read as zero cells, not an error."""
    from pyspark.sql import types as T

    cen_path, asg_path, _ = _paths(index_path)
    pq_cb_path, pq_codes_path = _pq_paths(index_path)
    asg = open_table(spark, asg_path)
    cb = open_table(spark, pq_cb_path)
    pq = open_table(spark, pq_codes_path)
    if asg is None or cb is None or pq is None:
        cen = open_table(spark, cen_path)
        ct = cen.schema["cell"].dataType if cen is not None else T.IntegerType()
        return local_frame(
            spark,
            [],
            T.StructType(
                [
                    T.StructField("cell", ct),
                    T.StructField("n_vectors", T.LongType()),
                    T.StructField("mean_pq_err_micro", T.DoubleType()),
                ]
            ),
        )
    m_sub, _, dim = _pq_meta(cb)
    sub = _pq_subspaces(
        asg.select("vec_id", "cell", "embedding"), "embedding", m_sub, dim
    )
    coded = pq.select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )
    err = (
        sub.join(coded, ["vec_id", "m"])
        .join(F.broadcast(cb), ["m", "code"])
        .select(
            "vec_id", "cell",
            _sq_dist_micro(F.col("__sv"), F.col("cv")).alias("__d"),
        )
        .groupBy("vec_id", "cell")
        .agg((F.sum("__d") / F.lit(dim)).alias("__verr"))
    )
    return err.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg("__verr"), 6).alias("mean_pq_err_micro"),
    )


def ivf_index_stats(spark: SparkSession, index_path: str) -> DataFrame:
    """Per-cell health report over the persisted tables: member count,
    batch span, and the int8 codes' mean reconstruction error (mean
    |x - code/scale| per vector, averaged over the cell) — the
    operational dashboard row an index owner watches between rebuilds."""
    cen_path, asg_path, code_path = _paths(index_path)
    asg = open_table(spark, asg_path)
    codes = open_table(spark, code_path)
    if asg is None or codes is None:
        # purge/expire delete an emptied sub-table's directory; the
        # stats view of that state is zero cells, not AnalysisException
        from pyspark.sql import types as T

        cen = open_table(spark, cen_path)
        ct = cen.schema["cell"].dataType if cen is not None else T.IntegerType()
        return local_frame(
            spark,
            [],
            T.StructType(
                [
                    T.StructField("cell", ct),
                    T.StructField("n_vectors", T.LongType()),
                    T.StructField("n_batches", T.LongType()),
                    T.StructField("mean_code_err", T.DoubleType()),
                ]
            ),
        )
    err = F.when(
        F.col("scale") > 0,
        F.aggregate(
            F.zip_with(
                "embedding", "codes",
                lambda x, c: F.abs(x - c.cast("double") / F.col("scale")),
            ),
            F.lit(0.0), lambda a, x: a + x,
        ) / F.size("codes"),
    ).otherwise(F.lit(0.0))
    per_vec = (
        asg.select("vec_id", "cell", "batch", "embedding")
        .join(codes.select("vec_id", "codes", "scale"), "vec_id")
        .select("cell", "batch", err.alias("__err"))
    )
    return per_vec.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct("batch").cast("long").alias("n_batches"),
        F.round(F.avg("__err"), 6).alias("mean_code_err"),
    )
