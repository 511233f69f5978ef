"""Similarity search over embedding columns: exact top-k and IVF ANN.

North-star capability (SURVEY.md §2.11 — absent from the reference).
Embeddings are plain ``array<float>`` columns; similarity is the engine's
JVM-side ``cosine_similarity`` expression
(`spark_pipeline_spark.functions`, Catalyst ``zip_with``+``aggregate`` —
no Python in the hot loop).

100 TB design:

- **Exact search broadcasts the small side.** The query set (thousands)
  broadcasts; the corpus (billions) streams through a
  BroadcastNestedLoopJoin without ever shuffling its vectors. The only
  shuffle is the per-query top-k window over scored (query_id,
  neighbor_id, sim) triples — fixed-width rows, not vectors.
- **IVF is the scale path.** Vectors are assigned to their nearest
  centroid once (centroids broadcast; ``max_by`` aggregation with
  map-side partial combine); search joins query cells to corpus cells so
  each query scores ~N/cells candidates instead of N. Assignment is
  deterministic (ties broken toward the lowest cell id), so results are
  reproducible and oracle-verifiable.
- Centroids are caller-provided (any small DataFrame of (cell, vector)).
  Real deployments k-means them; the mechanism — assign, bucket, search
  within buckets — is identical and is what this module owns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_pipeline_spark.functions import cosine_similarity

__all__ = [
    "cosine_topk",
    "ivf_assign",
    "ivf_topk",
    "ivf_topk_multiprobe",
    "kmeans_fit",
    "power_iteration_pc1",
    "embedding_near_dup_pairs",
    "hyperplane_coeffs",
    "hyperplane_signature",
    "hyperplane_near_dup_pairs",
    "kcenter_select",
]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact brute-force cosine top-k: for every query vector, the ``k``
    most similar corpus vectors.

    Returns ``(query_id, neighbor_id, cosine, rank)``. Deterministic
    ordering: cosine desc, neighbor id asc on ties.
    """
    from spark_pipeline_spark.functions import dot_product, l2_norm

    # Norms are materialized BELOW the join, once per row per side:
    # higher-order-function folds (aggregate/zip_with) run interpreted —
    # no whole-stage-codegen subexpression elimination — so an inlined
    # cosine_similarity would re-fold both norms for every (query,
    # corpus) pair (measured 2.4× on the brute-force bench query). The
    # join itself then pays exactly ONE fold per pair: the dot product.
    # Float semantics are unchanged (same ops on the same values, just
    # evaluated once), so oracle hashes are identical.
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
    ).withColumn("__qn", l2_norm("__qv"))
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
    ).withColumn("__cn", l2_norm("__cv"))
    scored = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    denom = F.col("__qn") * F.col("__cn")
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.when(denom != 0, dot_product("__qv", "__cv") / denom).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_id: str = "cell",
    cell_vec: str = "centroid",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (IVF cell).

    Returns the input ids + vectors + a ``cell`` column. Shape: centroids
    broadcast, one ``groupBy(id).agg(max_by(...))`` — partial combine
    means the shuffle carries one candidate per (partition × id), and the
    vector rides inside the max_by struct so no second join is needed.
    Ties break toward the lowest cell id (deterministic).
    """
    from spark_pipeline_spark.functions import dot_product, l2_norm

    # norms below the join (the cosine_topk argument: interpreted HOF
    # folds get no codegen CSE, so inlining the full cosine re-folds the
    # vector norm k× per row); per (row, centroid) pair only the dot runs
    cen = centroids.select(
        F.col(cell_id).alias("__cell"), F.col(cell_vec).alias("__cenv")
    ).withColumn("__cenn", l2_norm("__cenv"))
    scored = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn("__vn", l2_norm("__v")).join(F.broadcast(cen), how="cross")
    denom = F.col("__vn") * F.col("__cenn")
    sim = F.when(denom != 0, dot_product("__v", "__cenv") / denom)
    order = F.struct(sim.alias("s"), (-F.col("__cell")).alias("c"))
    best = scored.groupBy("__id").agg(
        F.max_by(F.struct(F.col("__cell").alias("cell"), F.col("__v").alias("v")), order).alias(
            "__best"
        )
    )
    return best.select(
        F.col("__id").alias(id_col),
        F.col("__best.v").alias(vec_col),
        F.col("__best.cell").alias("cell"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    cell_id: str = "cell",
    cell_vec: str = "centroid",
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k via IVF: search only the query's cell (nprobe=1).

    Returns ``(query_id, neighbor_id, cell, cosine, rank)``. Each query
    scores ~N/cells corpus vectors instead of N — the standard
    recall-for-throughput ANN trade. Candidate generation is an equi-join
    on the cell id (queries broadcast), so the corpus again never
    shuffles its vectors.
    """
    c_assigned = ivf_assign(corpus, centroids, corpus_id, vec_col, cell_id, cell_vec)
    q_assigned = ivf_assign(queries, centroids, query_id, vec_col, cell_id, cell_vec)
    from spark_pipeline_spark.functions import dot_product, l2_norm

    c = c_assigned.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "cell"
    ).withColumn("__cn", l2_norm("__cv"))
    q = q_assigned.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv"), "cell"
    ).withColumn("__qn", l2_norm("__qv"))
    scored = c.join(F.broadcast(q), on="cell")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    denom = F.col("__qn") * F.col("__cn")
    scored = scored.select(
        "query_id",
        "neighbor_id",
        "cell",
        F.when(denom != 0, dot_product("__qv", "__cv") / denom).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_id: str = "cell",
    cell_vec: str = "centroid",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucketed by IVF cell.

    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b`` and
    ``cosine >= threshold``, comparing only pairs assigned to the same
    cell — the embedding-space member of the dedup family (same
    never-all-pairs discipline as MinHash/SimHash blocking; near-dups
    have near-identical vectors, so same-cell assignment is the standard
    recall assumption).

    The assignment table feeds both join sides, so it is persisted for
    the job — one assignment pass, not two."""
    from pyspark.storagelevel import StorageLevel

    assigned = ivf_assign(df, centroids, id_col, vec_col, cell_id, cell_vec).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    from spark_pipeline_spark.functions import dot_product, l2_norm

    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "cell"
    ).withColumn("__na", l2_norm("__va"))
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "cell"
    ).withColumn("__nb", l2_norm("__vb"))
    denom = F.col("__na") * F.col("__nb")
    return (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.when(denom != 0, dot_product("__va", "__vb") / denom).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (sign-random-projection)
# ---------------------------------------------------------------------------


def hyperplane_coeffs(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic md5-derived hyperplane components in [-1, 1).

    A symmetric component distribution is all sign-random-projection
    needs; md5 derivation makes the planes reproducible in any engine
    (the oracle embeds the identical literals), with no RNG state.
    """
    import hashlib

    def unit(s: str) -> float:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 4294967296.0

    return [
        [unit(f"hp|{b}|{i}") * 2.0 - 1.0 for i in range(dim)]
        for b in range(n_bits)
    ]


def hyperplane_signature(vec_col, n_bits: int, dim: int):
    """``n_bits``-bit sign-random-projection signature (bigint): bit b is
    set iff dot(v, plane_b) >= 0. Cosine-similar vectors agree on most
    signs (Goemans-Williamson: P[bit differs] = angle/π), so hamming
    distance on signatures approximates angular distance — the
    embedding-space analogue of SimHash."""
    from spark_pipeline_spark.functions import dot_product

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    sig = F.lit(0).cast("bigint")
    for b, plane in enumerate(hyperplane_coeffs(n_bits, dim)):
        g = F.array(*[F.lit(x) for x in plane])
        sig = sig + F.when(
            dot_product(v, g) >= 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return sig


def hyperplane_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    n_bits: int = 16,
    blocks: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs via hyperplane-LSH blocking: pairs
    sharing any signature bit-block are candidates (pigeonhole, as in
    SimHash blocking), verified with exact cosine >= ``threshold``.

    The centroid-free alternative to the IVF bucketing of
    :func:`embedding_near_dup_pairs`: no training/centroids needed, and
    candidate volume is controlled by n_bits/blocks instead of cell
    count. Same never-all-pairs discipline — candidates come from an
    equi-join on (block, value)."""
    from pyspark.storagelevel import StorageLevel

    from spark_pipeline_spark.operators.partitions import ensure_min_partitions

    if n_bits % blocks:
        raise ValueError(f"n_bits={n_bits} not divisible by blocks={blocks}")
    width = n_bits // blocks
    mask = (1 << width) - 1
    # ensure_min_partitions: the 16×dim multiply-adds per row serialize on
    # a single-partition small-file scan (no-op at real scale).
    sig = ensure_min_partitions(df.select(id_col, vec_col)).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        hyperplane_signature(vec_col, n_bits, dim).alias("__sig"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    block_vals = F.array(
        *[
            F.shiftright(F.col("__sig"), i * width).bitwiseAND(F.lit(mask))
            for i in range(blocks)
        ]
    )
    # Candidates carry ids ONLY ("shuffle hashes, not payloads"): the
    # distinct shuffles fixed-width id pairs; vectors re-join afterwards
    # by candidate id — each vector crosses the wire once, not blocks×.
    blocked = sig.select("__id", F.posexplode(block_vals).alias("__block", "__val"))
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__block") == F.col("b.__block"))
            & (F.col("a.__val") == F.col("b.__val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    from spark_pipeline_spark.functions import dot_product, l2_norm

    va = sig.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va")
    ).withColumn("__na", l2_norm("__va"))
    vb = sig.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb")
    ).withColumn("__nb", l2_norm("__vb"))
    denom = F.col("__na") * F.col("__nb")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(denom != 0, dot_product("__va", "__vb") / denom).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def kmeans_fit(
    df: DataFrame,
    seed_centroids: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over an embedding column: ``iters`` rounds of
    (assign to nearest centroid by cosine → recompute centroids as the
    element-wise member mean). Returns the final ``(cell, centroid)``
    frame.

    Fully distributed and lazy: each round is the broadcast + ``max_by``
    assignment (:func:`ivf_assign`) followed by a ``posexplode`` →
    ``groupBy(cell, pos)`` mean whose output cardinality is k × dim —
    independent of corpus size — which then re-broadcasts as the next
    round's centroids. The corpus is scanned once per iteration and
    never collected; persist ``df`` before calling so iterations don't
    re-read cold storage. Empty cells drop out (their centroid is
    removed), matching standard Lloyd behavior.
    """
    cen = seed_centroids
    for _ in range(iters):
        a = ivf_assign(df, cen, id_col=id_col, vec_col=vec_col)
        px = a.select("cell", F.posexplode(vec_col).alias("pos", "val"))
        means = px.groupBy("cell", "pos").agg(F.avg("val").alias("val"))
        cen = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda x: x["val"],
            ).alias("centroid")
        )
    return cen


def power_iteration_pc1(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = None,
    iters: int = 3,
) -> DataFrame:
    """Top principal direction of an embedding table by distributed
    power iteration: v ← normalize(Xᵀ(Xv)), starting from the uniform
    unit vector. Returns a ONE-ROW frame with the final direction
    (array column ``pc1``).

    The PCA building block at corpus scale with no covariance matrix
    materialized and no driver linear algebra: each iteration is one
    dot-product projection (Catalyst fold) and one ``posexplode`` →
    ``groupBy(pos)`` weighted sum whose cardinality is the embedding
    dimension; the running direction rides a one-row broadcast, exactly
    like the GD-trainer weights. Sign and result are deterministic
    (fixed start vector, deterministic arithmetic)."""
    import math

    spark = df.sparkSession
    if dim is None:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    x = df.select(
        F.transform(F.col(vec_col), lambda t: t.cast("double")).alias("__x")
    )
    pv = spark.range(1).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda _: F.lit(1.0 / math.sqrt(dim)),
        ).alias("__pv")
    )
    for _ in range(iters):
        j = x.join(F.broadcast(pv))
        s = F.aggregate(
            F.zip_with("__x", "__pv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        ex = j.select(s.alias("__s"), F.posexplode("__x").alias("__pos", "__val"))
        y = ex.groupBy("__pos").agg(F.sum(F.col("__s") * F.col("__val")).alias("__y"))
        yv = y.groupBy().agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__y"))),
                lambda t: t["__y"],
            ).alias("__yv")
        )
        norm = F.sqrt(
            F.aggregate("__yv", F.lit(0.0), lambda acc, t: acc + t * t)
        )
        pv = yv.select(
            F.transform(F.col("__yv"), lambda t: t / norm).alias("__pv")
        )
    return pv.select(F.col("__pv").alias("pc1"))


def ivf_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    query_id: str = "vec_id",
    vec_col: str = "embedding",
    cell_id: str = "cell",
    cell_vec: str = "centroid",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF top-k with multi-probe search: each query probes its
    ``nprobe`` nearest cells instead of one — the standard recall knob
    (recall climbs toward exact as nprobe → cells while cost stays
    nprobe/cells of brute force).

    The corpus side is still single-assigned (one row per vector), so a
    corpus vector meets a query through exactly one cell — no dedup
    needed. Probing replicates only the tiny broadcast query side
    nprobe×; the corpus never shuffles its vectors.
    """
    cen = centroids.select(
        F.col(cell_id).alias("__cell"), F.col(cell_vec).alias("__cenv")
    )
    q_scored = (
        queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv"))
        .join(F.broadcast(cen), how="cross")
        .select(
            "query_id",
            "__qv",
            F.col("__cell").alias("cell"),
            cosine_similarity("__qv", "__cenv").alias("__csim"),
        )
    )
    from pyspark.sql import Window

    wq = Window.partitionBy("query_id").orderBy(F.desc("__csim"), F.asc("cell"))
    q_probes = (
        q_scored.withColumn("__pr", F.row_number().over(wq))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qv", "cell")
    )
    from spark_pipeline_spark.functions import dot_product, l2_norm

    c_assigned = ivf_assign(corpus, centroids, corpus_id, vec_col, cell_id, cell_vec)
    c = c_assigned.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "cell"
    ).withColumn("__cn", l2_norm("__cv"))
    qn = q_probes.withColumn("__qn", l2_norm("__qv"))
    scored = c.join(F.broadcast(qn), on="cell")
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    denom = F.col("__qn") * F.col("__cn")
    scored = scored.select(
        "query_id",
        "neighbor_id",
        "cell",
        F.when(denom != 0, dot_product("__qv", "__cv") / denom).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kcenter_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point
    traversal) over an embedding column — the diversity-maximizing data
    pruning step of an LLM corpus pipeline: the selected k vectors
    2-approximate the optimal k-center cover, so they are the
    "spanning" exemplars a curation pass keeps (or the probe set an
    eval pass labels) when the budget is k items.

    Returns a k-row frame ``(sel_round, id, coverage_sim)``:
    round 0 is the seed (the smallest id — deterministic, no RNG),
    rounds 1..k-1 pick the point with the LOWEST max-similarity to the
    centers chosen so far (cosine, rounded to 6dp before every
    comparison so selection decisions are engine-portable; ties break
    on the smallest id). ``coverage_sim`` is that max-similarity at
    selection time (-1.0 for the seed): the similarity "radius" the
    next center was outside of — monotonically non-decreasing, the
    stopping diagnostic for choosing k.

    Scale shape: the selected-set state lives in the PLAN, not in a
    join — each round folds the newly chosen center into a running
    per-row ``greatest(smax, cos(v, lit(center)))`` against a 64-float
    literal, so a round is ONE corpus scan with no shuffle at all;
    ``localCheckpoint`` truncates the k-deep expression lineage. The
    k-1 driver round-trips fetch exactly ONE row each (the argmin) —
    the same bounded-scalar discipline as the components convergence
    probe; k is a fixed small budget, never data-sized.

    Zero-norm vectors are EXCLUDED up front: cosine against them is
    NULL (``functions.cosine_similarity``), and a NULL running max
    would otherwise win the ascending argmin on Spark (nulls-first)
    while losing it on DuckDB (nulls-last) — the filter, not a
    null-ordering choice, is what keeps selection engine-portable (a
    directionless vector is meaningless as a coverage exemplar anyway).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    from spark_pipeline_spark.functions import l2_norm
    from spark_pipeline_spark.gate import local_frame
    from spark_pipeline_spark.operators.graph import _free_local_checkpoint

    e = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    e = e.filter(l2_norm("__v") > 0)
    # id keeps the caller's type (string keys are legal)
    out_schema = StructType(
        [
            StructField("sel_round", IntegerType(), False),
            StructField("id", e.schema["__id"].dataType, True),
            StructField("coverage_sim", DoubleType(), True),
        ]
    )
    seed = e.orderBy("__id").limit(1).collect()
    if not seed:
        return local_frame(e.sparkSession, [], out_schema)
    picked = [(0, seed[0]["__id"], -1.0)]
    cvec = F.array(*[F.lit(float(x)) for x in seed[0]["__v"]])
    state = None
    if k > 1:  # the fold state is only needed when another pick follows
        state = (
            e.filter(F.col("__id") != seed[0]["__id"])
            .withColumn("__smax", F.round(cosine_similarity("__v", cvec), 6))
            .localCheckpoint(eager=True)
        )
    for r in range(1, k):
        top = state.orderBy(F.asc("__smax"), F.asc("__id")).limit(1).collect()
        if not top:
            break  # corpus exhausted before the budget
        picked.append((r, top[0]["__id"], float(top[0]["__smax"])))
        if r == k - 1:
            break  # last pick made: folding its center in would be a
            # full scan + checkpoint nobody ever reads
        cvec = F.array(*[F.lit(float(x)) for x in top[0]["__v"]])
        new_state = (
            state.filter(F.col("__id") != top[0]["__id"])
            .withColumn(
                "__smax",
                F.greatest(
                    "__smax", F.round(cosine_similarity("__v", cvec), 6)
                ),
            )
            .localCheckpoint(eager=True)
        )
        _free_local_checkpoint(state, successor=new_state)
        state = new_state
    if state is not None:
        # the final state is never read again; free its only copy
        # (no successor to assert — the loop is over)
        _free_local_checkpoint(state)
    return local_frame(e.sparkSession, picked, out_schema)
