"""Connected components over an edge list — the dedup *clustering* step.

Near-dup detection (MinHash/SimHash/embedding pairs) yields EDGES; a
dedup pipeline needs CLUSTERS: if A≈B and B≈C, then {A,B,C} is one
duplicate group even when A-C never collided. Components make the
"keep one representative per group" decision well-defined.

Algorithm: iterative min-label propagation (each node repeatedly adopts
the smallest label among itself and its neighbors) — converges in
O(graph diameter) rounds to component id = min node id, a value that is
engine- and partitioning-independent (hence oracle-verifiable).

100 TB posture:

- each round is one join + one aggregation on the edge list — all
  shuffles on node ids; no per-node driver work;
- lineage MUST be truncated between rounds (``localCheckpoint``), or
  round k replays rounds 1..k-1 and the plan grows without bound — the
  classic iterative-Spark failure. On a cluster with a checkpoint dir,
  prefer reliable ``checkpoint()`` (configurable here);
- near-dup graphs are sparse forests of small cliques — diameter is
  tiny (converges in ~3 rounds); the ``max_iter`` rail guards
  pathological chains;
- convergence is detected with one small count per round (changed
  labels), the deliberate driver-side scalar of an iterative algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_pipeline_spark.gate import gate_rows, local_frame

__all__ = [
    "connected_components",
    "connected_components_star",
    "merge_components_incremental",
    "dedup_representatives",
    "pagerank",
    "label_propagation",
]


def _free_local_checkpoint(
    df: DataFrame, successor: DataFrame | None = None
) -> None:
    """Release the cached blocks behind a SUPERSEDED localCheckpoint
    round. ContextCleaner only reclaims them once the JVM-side RDD is
    garbage, which py4j defers until Python GC — so an iterative loop
    would otherwise hold every round's blocks for the life of the
    caller. PRECONDITION — only call on frames that are never read
    again (the next round is already eagerly materialized): for a
    localCheckpoint, freeing deletes the only copy and the truncated
    lineage cannot recompute it. Callers pass the frame that REPLACES
    ``df`` as ``successor`` and the precondition is asserted, not
    trusted: an eager (local)checkpoint analyzes to a LogicalRDD, so a
    non-LogicalRDD successor means the new round was never
    materialized and ``df`` could still be read. Reliable-checkpoint
    frames are ALSO LogicalRDD nodes, so their blocks are unpersisted
    too — harmless there (data recomputes from the checkpoint files),
    not skipped. No-op only for frames that are not checkpoints at all.
    """
    if successor is not None:
        assert (
            successor._jdf.queryExecution().analyzed().nodeName()
            == "LogicalRDD"
        ), "freeing a checkpoint whose successor is not yet materialized"
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.nodeName() == "LogicalRDD":
            node.rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    use_reliable_checkpoint: bool = False,
    driver_solve_cap: int = 2_000_000,
) -> DataFrame:
    """Label every node of an undirected edge list with its component id
    (= the minimum node id in the component).

    Returns ``(id, component)`` for every node that appears in an edge.
    Raises if not converged within ``max_iter`` rounds (graph diameter
    exceeded the rail — raise it for long chains).

    Below ``driver_solve_cap`` distinct edges the closure is solved with
    driver-side union-find in one collect (bit-identical labels — see
    :func:`merge_components_incremental`, which pioneered the gate: the
    per-round scheduling floor of O(diameter) distributed rounds
    dominates small graphs on ANY scheduler, local or cluster). Past
    the cap (default 2M edges ≈ 32 MB collected) the distributed rounds
    run unchanged; pass ``driver_solve_cap=0`` to force them.
    """
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .persist()
    )
    if driver_solve_cap:
        head = gate_rows(sym, driver_solve_cap)
        if head is not None:
            labels = _union_find_min_labels((r[0], r[1]) for r in head)
            id_type = sym.schema[0].dataType.simpleString()
            out = local_frame(
                edges.sparkSession,
                sorted(labels.items()),
                f"id {id_type}, component {id_type}",
            )
            sym.unpersist()
            return out
    labels = (
        sym.select(F.col("s").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.d == labels.id)
            .groupBy("s")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.s, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
                F.col("label").alias("__prev"),
            )
        )
        if use_reliable_checkpoint:
            new_labels = new_labels.checkpoint(eager=True)
        else:
            new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("label") != F.col("__prev")).count()
        _free_local_checkpoint(labels, successor=new_labels)  # superseded round
        labels = new_labels.drop("__prev")
        if changed == 0:
            sym.unpersist()
            return labels.select("id", F.col("label").alias("component"))
    sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "graph diameter exceeds the rail — raise max_iter"
    )


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star alternation over a (u, v) edge frame.

    Large-star: every neighbor of u STRICTLY LARGER than u links to
    m = min(N(u) ∪ {u}).  Small-star: with edges oriented big→small,
    every smaller-side neighbor (and u itself) links to the minimum
    neighbor. Each half is one groupBy + one equi-join on node ids.
    """
    u, v = F.col("u"), F.col("v")
    # large-star over the symmetric neighbor list
    sym = e.union(e.select(v.alias("u"), u.alias("v")))
    lmin = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select("u", F.least("__mv", "u").alias("m"))
    )
    large = (
        sym.join(lmin, "u")
        .filter(v > u)
        .select(v.alias("u"), F.col("m").alias("v"))
        .distinct()
    )
    # small-star over big→small orientation of the large-star output
    o = large.select(
        F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
    ).filter(u != v).distinct()
    smin = o.groupBy("u").agg(F.min("v").alias("m"))
    j = o.join(smin, "u")
    return (
        j.select(v.alias("u"), F.col("m").alias("v"))
        .union(smin.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    use_reliable_checkpoint: bool = False,
    driver_solve_cap: int = 2_000_000,
) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — converges in O(log n) ROUNDS regardless of graph
    diameter, where :func:`connected_components`' min-label propagation
    needs O(diameter) rounds and a boilerplate-heavy crawl's near-dup
    graph can chain far past any fixed rail.

    Same contract as :func:`connected_components`: returns
    ``(id, component)`` for every node appearing in an edge, component
    id = the minimum node id in the component (engine-independent, so
    the two implementations are interchangeable and property-tested
    equal). Use THIS one when cluster shapes are unknown; the min-label
    path stays the small-graph default (fewer shuffles per round on
    tiny-diameter clique forests).

    Convergence: the edge set is a fixed point exactly when every edge
    points child→component-min; detected with two scalars per round
    (count + order-independent xxhash sum), the deliberate driver-side
    check of an iterative algorithm. Lineage is truncated per round
    (``localCheckpoint``; reliable ``checkpoint`` for cluster runs).

    Below ``driver_solve_cap`` distinct edges (default 2M ≈ 32 MB
    collected — bounded by construction) the closure is solved with
    driver-side union-find in ONE collect over the already-materialized
    distinct edge set: O(log n) star rounds each cost ~4 shuffles + a
    convergence collect, a per-round scheduling floor that dominates
    small graphs on any scheduler. Labels are bit-identical (min-id
    roots, self-loop-only nodes stay singletons — property-tested
    against the distributed rounds). Past the cap the rounds run
    unchanged; ``driver_solve_cap=0`` forces them.
    """
    e0 = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if driver_solve_cap:
        head = gate_rows(e0, driver_solve_cap)
        if head is not None:
            labels = _union_find_min_labels((r[0], r[1]) for r in head)
            id_type = e0.schema[0].dataType.simpleString()
            return local_frame(
                edges.sparkSession,
                sorted(labels.items()),
                f"id {id_type}, component {id_type}",
            )
    # a plain filter over the checkpointed e0 — already materialized,
    # no second checkpoint copy needed (round 1's _free_local_checkpoint
    # is a no-op on a non-LogicalRDD frame)
    e = e0.filter(F.col("u") != F.col("v"))
    singleton_free_nodes = None  # nodes all of whose edges were self-loops
    prev_sig = None
    for _ in range(max_iter):
        e2 = _star_round(e)
        if use_reliable_checkpoint:
            e2 = e2.checkpoint(eager=True)
        else:
            e2 = e2.localCheckpoint(eager=True)
        # bit_xor, not sum: order-independent over the DISTINCT edge set
        # and immune to ANSI long-overflow
        sig = e2.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        _free_local_checkpoint(e, successor=e2)  # superseded round
        if prev_sig == (sig["n"], sig["h"]):
            e = e2
            break
        prev_sig = (sig["n"], sig["h"])
        e = e2
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — O(log n) bound exceeded; raise max_iter"
        )
    # fixed point: e holds (member, root) stars; roots label themselves.
    # Nodes whose every original edge was a self-loop form singletons.
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("component")).union(
        e.select(F.col("v").alias("id"), F.col("v").alias("component"))
    ).distinct()
    # node list from the checkpointed distinct edge set (e0), not the
    # caller's `edges` frame — re-scanning `edges` would re-execute the
    # (often expensive, e.g. banded-join + verify) upstream a third time
    all_nodes = (
        e0.select(F.col("u").alias("id"))
        .union(e0.select(F.col("v").alias("id")))
        .distinct()
    )
    return all_nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def dedup_representatives(
    df: DataFrame,
    components: DataFrame,
    id_col: str,
) -> DataFrame:
    """Resolve near-dup clusters to survivors: rows whose id is NOT a
    non-representative member of any component (the component id itself —
    the minimum — is the kept representative; singletons, which never
    appear in an edge, are all kept)."""
    losers = components.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("__loser")
    )
    # No broadcast hint: `losers` scales with the corpus duplicate count
    # (a boilerplate-heavy crawl can have most rows in a component), so a
    # forced broadcast could exceed driver/executor limits at 100 TB.
    # AQE picks broadcast when the frame is actually small.
    return df.join(losers, df[id_col] == F.col("__loser"), "left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list; returns
    ``(node, rank)``.

    Each iteration is one join + one aggregation, both shuffling on node
    ids — the same discipline as :func:`connected_components`, with
    ``localCheckpoint`` truncating lineage between rounds. Fixed
    ``n_iter`` (not convergence-tested) keeps the result a pure
    function of the input, so a DuckDB oracle can replay the identical
    float recurrence as chained CTEs.

    Semantics: uniform init 1/N, per-iteration
    ``rank = (1-d)/N + d * Σ rank(in)/outdeg(in)``. Nodes appearing
    only as destinations still receive and emit nothing (outdeg 0 —
    their mass is dropped, the simple variant); feed symmetric edges
    for the undirected behavior, which also eliminates dangling mass.
    """
    # persisted: each of the n_iter rounds joins the edge list, and the
    # caller's edge plan can be an expensive join (the trade graph is
    # orders⋈lineitem + distinct) — without this, that upstream
    # re-executes once per round plus once each for nodes/outdeg
    # (measured 18.8 s → 9.3 s on the customer↔supplier query at sf0.1)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .persist()
    )
    # try/finally: an exception mid-iteration (e.g. a cancelled job) must
    # not leak the cached edge list for the life of the session
    try:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        n = nodes.count()
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        base = (1.0 - damping) / n
        for _ in range(n_iter):
            contribs = (
                e.join(ranks, e["src"] == ranks["node"])
                .join(outdeg, "src")
                .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("in_mass"))
            )
            new_ranks = (
                nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
            _free_local_checkpoint(ranks, successor=new_ranks)  # superseded round
            ranks = new_ranks
    finally:
        e.unpersist()
    return ranks


def _union_find_min_labels(pairs) -> dict:
    """Driver-side union-find with min-id roots over an edge list of
    (src, dst) pairs: returns {node: component_min_id} for every node
    seen — bit-identical semantics to `connected_components_star`
    (component id = min member id; a self-loop-only node is its own
    singleton). Union always attaches the LARGER root under the
    smaller, so a root is the minimum of its tree by invariant."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for s, d in pairs:
        nodes.add(s)
        nodes.add(d)
        ra, rb = find(s), find(d)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return {n: find(n) for n in nodes}


def merge_components_incremental(
    old_labels: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_solve_cap: int = 2_000_000,
) -> DataFrame:
    """Incrementally fold a batch of NEW edges into an existing
    component labelling — the daily-increment regime for the near-dup
    graph: yesterday's corpus graph must not recompute, yet a new doc
    can bridge two old components and the labels must merge.

    Contract: returns ``(id, component)`` for every node in
    ``old_labels`` or in a new edge, with component = the global
    minimum node id — IDENTICAL to a from-scratch run over
    (old edges ∪ new edges). Why the contraction is sound: old
    components are closed under old edges, so replacing each new
    edge's endpoints by their existing label (identity for nodes
    without one) yields a contracted graph whose components correspond
    1:1 to the merged components; and because an old label IS its
    component's min id, the contracted min composes to the global min.

    Cost: O(|new edges| + |touched components|) — the contracted edge
    set has at most ONE edge per new edge (increment-sized, never
    corpus-sized), so below ``driver_solve_cap`` edges it is solved
    with driver-side union-find in one collect (2 Spark jobs total for
    the closure instead of ~2 per star round — the scheduling floor of
    3-5 distributed rounds dominated the whole query at bench scale);
    past the cap, distributed star rounds take over unchanged. The
    collect is bounded BY CONSTRUCTION (≤ cap rows of two ids — at the
    default cap ≈ 32 MB driver-side), the same contract-bounded
    pattern as MMR's candidate set; pass ``driver_solve_cap=0`` to
    force the distributed path. Untouched components never move either
    way. (`connected_components_star` at 100× measured 51 s on the
    full graph; an increment touches a sliver of that.)
    """
    e = new_edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    lu = old_labels.select(F.col("id").alias("u"), F.col("component").alias("__cu"))
    lv = old_labels.select(F.col("id").alias("v"), F.col("component").alias("__cv"))
    contracted = (
        e.join(lu, "u", "left")
        .join(lv, "v", "left")
        .select(
            F.coalesce("__cu", F.col("u")).alias("src"),
            F.coalesce("__cv", F.col("v")).alias("dst"),
        )
        .distinct()
    )
    sub = None
    if driver_solve_cap:
        # one eager checkpoint materializes the contraction joins once;
        # the gate count and collect read its blocks, and the star
        # fallback (if the cap is exceeded) reuses the same blocks
        # instead of re-running the joins
        contracted = contracted.localCheckpoint(eager=True)
        head = gate_rows(contracted, driver_solve_cap)
        if head is not None:
            labels = _union_find_min_labels((r[0], r[1]) for r in head)
            id_type = contracted.schema[0].dataType.simpleString()
            sub = local_frame(
                old_labels.sparkSession,
                labels.items(),
                f"id {id_type}, component {id_type}",
            )
    if sub is None:
        sub = connected_components_star(contracted, max_iter=max_iter)

    # old nodes: relabel any component whose LABEL participated in the
    # contracted graph (it may have merged into a smaller min)
    relabel = sub.select(
        F.col("id").alias("component"), F.col("component").alias("__new")
    )
    old_out = old_labels.join(relabel, "component", "left").select(
        "id", F.coalesce("__new", F.col("component")).alias("component")
    )
    # new-edge nodes without an old label: their contracted id is
    # themselves, so sub carries their final label directly
    nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
        .join(old_labels.select("id"), "id", "left_anti")
    )
    new_out = nodes.join(sub, "id").select("id", "component")
    return old_out.unionByName(new_out)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    driver_solve_cap: int = 2_000_000,
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (LPA, Raghavan et
    al. 2007) over an undirected edge list; returns ``(node, community)``.

    Communities are FINER than connected components on dense near-dup
    graphs: a component that chains two cliques through one bridge pair
    splits at the bridge, because each side's mode-label vote is
    dominated by its own clique. Components answer "transitively
    duplicated with"; LPA answers "densely duplicated with" — the
    distinction that matters when choosing how many representatives a
    blob of templated text deserves.

    Determinism (the property the DuckDB oracle hashes): synchronous
    updates (round k+1 reads only round k), a SELF-vote alongside the
    neighbor votes (the standard oscillation damper for bipartite-ish
    structures), and ties broken by the SMALLEST label — no randomness,
    no visit order. Fixed ``n_iter`` keeps the result a pure function
    of the input, replayable as unrolled SQL CTEs.

    Each round is one equi-join (edges × labels, shuffling on node ids)
    + one count aggregation + one per-node top-1 window (partitioned by
    node — never global), with ``localCheckpoint`` truncating lineage
    between rounds, the same iterative discipline as
    :func:`connected_components` / :func:`pagerank`.
    """
    from pyspark.sql import Window

    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # distinct AFTER symmetrizing (connected_components' order too): an
    # input carrying both orientations of an undirected edge must not
    # double that edge's vote weight. persisted: every round's join
    # rescans the edge list — without this, an expensive upstream
    # (e.g. a MinHash candidate join + verify) re-executes once per
    # round.
    sym = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .persist()
    )
    # Below the cap, run the EXACT same synchronous rounds on the driver
    # over one collect of the symmetric edge set (`_lpa_driver` is
    # property-tested bit-identical): n_iter distributed rounds each pay
    # a join + aggregation + window + checkpoint — a per-round
    # scheduling floor that dominates small graphs on any scheduler.
    # The collect is bounded (cap rows of two ids, default 2M ≈ 32 MB);
    # past it the distributed rounds run unchanged.
    if driver_solve_cap:
        head = gate_rows(sym, driver_solve_cap)
        if head is not None:
            labels = _lpa_driver(((r[0], r[1]) for r in head), n_iter)
            id_type = sym.schema[0].dataType.simpleString()
            out = local_frame(
                edges.sparkSession,
                sorted(labels.items()),
                f"node {id_type}, community {id_type}",
            )
            sym.unpersist()
            return out
    # try/finally: an exception mid-iteration must not leak the cached
    # symmetric edge list for the life of the session
    try:
        nodes = sym.select(F.col("s").alias("node")).distinct()
        labels = nodes.withColumn("label", F.col("node"))
        w = Window.partitionBy("node").orderBy(F.desc("votes"), F.asc("label"))
        for _ in range(n_iter):
            neighbor_votes = (
                sym.join(labels, sym["s"] == labels["node"])
                .select(F.col("d").alias("node"), "label")
            )
            ballots = neighbor_votes.unionByName(labels)  # self-vote
            new_labels = (
                ballots.groupBy("node", "label")
                .agg(F.count(F.lit(1)).alias("votes"))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("node", "label")
                .localCheckpoint(eager=True)
            )
            _free_local_checkpoint(labels, successor=new_labels)
            labels = new_labels
    finally:
        sym.unpersist()
    return labels.select("node", F.col("label").alias("community"))


def _lpa_driver(pairs, n_iter: int) -> dict:
    """Driver-side replica of :func:`label_propagation`'s exact
    semantics (synchronous rounds, self-vote, ties to the smallest
    label, symmetric-distinct neighbor sets) over a collected edge
    list — used by the incremental path when the recompute subgraph is
    increment-neighborhood-sized. Must stay bit-identical to the
    distributed version: `tests/test_graph.py` compares them on
    bridged cliques, chains and self-loops."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    nodes = set()
    for s, d in pairs:
        nodes.add(s)
        nodes.add(d)
        adj[s].add(d)
        adj[d].add(s)
    labels = {n: n for n in nodes}
    for _ in range(n_iter):
        new = {}
        for n in nodes:
            votes = Counter(labels[nb] for nb in adj[n])
            votes[labels[n]] += 1  # self-vote
            new[n] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return labels


def label_propagation_incremental(
    old_communities: DataFrame,
    old_edges: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 3,
    old_components: DataFrame | None = None,
    driver_solve_cap: int = 2_000_000,
) -> DataFrame:
    """Communities under daily edge increments — EXACTLY equal to
    re-running :func:`label_propagation` on (old ∪ new) edges, while
    touching only the increment's neighborhood. The LPA sibling of
    :func:`merge_components_incremental`.

    Two exactness arguments, picked by what the caller can supply:

    **Partition path** (``old_components`` given — the (id, component)
    labels over the SAME old edges, e.g. the persisted graph index's
    components table): the union graph splits into the subgraph of
    components TOUCHED by a delta endpoint (plus the delta edges,
    which by definition only touch touched components) and the
    untouched components, with NO edge between the two parts — old
    edges never cross components, and any component incident to a
    delta edge is touched. LPA is a per-connected-subgraph
    computation (rounds only read neighbor labels), so batch LPA over
    the union = LPA over the touched subgraph ⊎ old labels everywhere
    else. No ball BFS, no locality bound: one membership semi-join
    selects the recompute subgraph. When that subgraph fits
    ``driver_solve_cap`` edges it is solved by `_lpa_driver` in one
    collect (the 3 distributed rounds × per-round scheduling floor
    dominated the bench query); bigger slivers run distributed
    :func:`label_propagation`. The collect is bounded by the touched
    components' edge count — near-dup components are small cliques by
    construction (banding + verify), and the cap (default 2M edges ≈
    32 MB) falls back to the distributed path, never truncates.

    **Ball path** (no ``old_components``): fixed-``n_iter``
    SYNCHRONOUS LPA is strictly LOCAL — a node's final label is a
    function of its ``n_iter``-hop ball, so:

    - only nodes within ``n_iter`` hops of a new edge can change label
      (every other node's ball contains no new edge → its batch label
      equals its old label, which ``old_communities`` already holds);
    - those labels are recomputed EXACTLY by running the same rounds on
      the subgraph induced by the ``2·n_iter``-hop ball around the new
      edges' endpoints: round-0 labels are the identity everywhere (no
      history needed), and boundary-truncation errors enter at the ball
      surface and travel at most one hop per round — after ``n_iter``
      rounds they reach only depth ``2·n_iter − n_iter``, never the
      inner ``n_iter``-ball whose labels we keep.

    Inputs: ``old_communities`` = ``(node, community)`` from the
    previous run (n_iter must match); ``old_edges``/``new_edges`` =
    edge lists (at 100 TB the old side is the persisted corpus edge
    table — it is scanned for the ball BFS and the induced subgraph,
    never globally re-labelled). Returns ``(node, community)`` for
    every old node and every new-edge node.

    Cost: a ``2·n_iter``-round BFS (keyed equi-joins on the frontier,
    which only grows with the increment's neighborhood, not the
    corpus) + LPA rounds over the induced ball subgraph — the
    incremental-agg discipline applied to vote-based labelling.
    Untouched-community stability and incremental ≡ batch are pinned
    by `tests/test_graph.py`; the registered oracle query hashes the
    incremental path against the BATCH unrolled-CTE replay."""
    o = old_edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    nw = new_edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))

    if old_components is not None:
        delta_nodes = (
            nw.select(F.col("s").alias("id"))
            .unionByName(nw.select(F.col("d").alias("id")))
            .distinct()
        )
        touched = (
            old_components.join(delta_nodes, "id")
            .select("component")
            .distinct()
        )
        member = old_components.join(touched, "component").select("id")
        # old edges live entirely inside one component, so src-side
        # membership selects exactly the touched components' edges
        sub_edges = (
            o.join(member.withColumnRenamed("id", "s"), "s", "left_semi")
            .unionByName(nw)
            .localCheckpoint(eager=True)
        )
        relabeled = None
        if driver_solve_cap:
            head = gate_rows(sub_edges, driver_solve_cap)
            if head is not None:
                labels = _lpa_driver(((r[0], r[1]) for r in head), n_iter)
                id_type = sub_edges.schema[0].dataType.simpleString()
                relabeled = local_frame(
                    old_communities.sparkSession,
                    labels.items(),
                    f"node {id_type}, community {id_type}",
                )
        if relabeled is None:
            relabeled = label_propagation(
                sub_edges, src="s", dst="d", n_iter=n_iter
            )
        kept = old_communities.select("node", "community").join(
            member.withColumnRenamed("id", "node"), "node", "left_anti"
        )
        return kept.unionByName(relabeled)

    e = o.unionByName(nw)
    sym = (
        e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .persist()
    )
    try:
        seeds = (
            nw.select(F.col("s").alias("node"))
            .unionByName(nw.select(F.col("d").alias("node")))
            .distinct()
        )
        # BFS to depth 2·n_iter over the union graph
        visited = seeds.withColumn("__dist", F.lit(0)).localCheckpoint(
            eager=True
        )
        frontier = visited.select("node")
        for depth in range(1, 2 * n_iter + 1):
            nxt = (
                sym.join(frontier, sym["s"] == frontier["node"])
                .select(F.col("d").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("__dist", F.lit(depth))
            )
            new_visited = visited.unionByName(nxt).localCheckpoint(eager=True)
            _free_local_checkpoint(visited, successor=new_visited)
            visited = new_visited
            frontier = visited.filter(F.col("__dist") == depth).select("node")
            if not frontier.head(1):
                break
        ball = visited.select("node")
        inner = visited.filter(F.col("__dist") <= n_iter).select("node")
        sub = (
            sym.join(ball.select(F.col("node").alias("s")), "s")
            .join(ball.select(F.col("node").alias("d")), "d")
            .select("s", "d")
        )
        recomputed = (
            label_propagation(sub, src="s", dst="d", n_iter=n_iter)
            .join(inner, "node")
        )
        kept = old_communities.select("node", "community").join(
            inner, "node", "left_anti"
        )
        return kept.unionByName(recomputed)
    finally:
        sym.unpersist()
