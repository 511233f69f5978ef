"""Physical-plan regression gates: the scale properties SCALE.md claims
must stay true as queries evolve. Plan text is checked on the optimized
physical plan at sf0.001 (shape, not timing)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from spark_pipeline_spark.queries import REGISTRY, t
from tests.conftest import SF_SMALL

# The only queries allowed a nested-loop join: the deliberate brute-force
# similarity baseline and the IVF variant are NOT in this set — their
# joins are broadcast NLJ on the *tiny query side* by design. The
# quantile/GD entries cross-join a provably ONE-ROW broadcast (the
# percentile-boundary array / the running GD weights) — a keyless
# broadcast of a single row is O(n), not a cartesian blowup.
_NLJ_ALLOWED = {
    "embedding_topk_bruteforce",
    "embedding_ann_ivf",
    "embedding_near_dup_ivf",
    "embedding_ann_ivf_nprobe2",
    "quantile_bucket_orders",
    "train_logistic_gd_lineitem",
    # one-row broadcast bounds / vocabulary total / k-centroid frames:
    "zorder_orders_locality",
    "text_unigram_nll_documents",
    "kmeans_update_centroids",
    "length_bucket_padding_documents",
    "vocab_coverage_documents",  # 3-row coverage-levels frame
    "power_iteration_pc1_embeddings",  # one-row direction broadcast
    "pmi_term_pairs_documents",  # one-row doc-count broadcast
    "join_skew_advisor_lineitem",  # one-row total/mean broadcast
    "joint_histogram_lineitem",  # one-row bounds broadcast
    "user_survival_curve",  # one-row total broadcast
    "global_row_number_documents",  # one-row quantile-bounds broadcast
    "embedding_outlier_zscore_report",  # one-row moments-frame broadcast
    "ivf_index_pq_report",  # fixed query set x k centroids (probe side)
    "lsh_band_tuning_report",  # one-row count aggregates crossJoined
    "corpus_filter_funnel_documents",  # one-row stage-count aggregates
    "dedup_pipeline_end_to_end_documents",  # one-row stage aggregates crossJoined
    "bloom_pruned_join_revenue",  # one-row bloom-bitmap broadcast
    "psi_quantile_drift_lineitem",  # one-row decile-bounds broadcast (×2 sides)
    "temperature_mixture_documents",  # one-row token-total + α-weight-sum broadcasts
    "dsir_importance_documents",  # one-row corpus/target totals broadcast
    "epoch_allocation_documents",  # one-row total + weight-sum broadcasts
    "unimax_allocation_documents",  # one-row budget + capped-mass broadcasts
    "hard_negative_mining_embeddings",  # anchors broadcast (exact-topk shape)
    "semantic_decontaminate_embeddings",  # 8-row benchmark set broadcast
    "ann_int8_recall_report",  # seed centroid codes + fixed query set
    "ivf_cell_balance_embeddings",  # seed centroids + one-row totals broadcast
    "ann_pq_recall_report",  # 8-row codebook + fixed query set broadcast
    "neardup_threshold_sweep_documents",  # 5-row threshold frame + one-row total
    "ann_truncated_dim_recall_report",  # 3-row dims frame + fixed query set
    "tfidf_top_terms_documents",  # one-row corpus-count broadcast
    "neardup_graph_stats_documents",  # one-row stat frames combined
    "freshness_report_events",  # one-row global-max anchor broadcast
    "benford_audit_orders",  # 9-digit grid + one-row total broadcast
    "source_concentration_documents",  # one-row totals broadcast
    "bootstrap_ci_tokens_documents",  # B-row replicate frame + one-row stats
    "q22_dormant_high_balance",  # one-row scalar-average broadcast
    "q11_important_parts",  # one-row global-total broadcast (HAVING fraction)
    "bm25_search_documents",  # one-row df/N/avgdl stats broadcast
    "eval_roc_auc_binned",  # one-row pos/neg totals broadcast over ≤200 bins
    "eval_calibration_ece_binned",  # one-row total + ECE broadcasts over ≤10 bins
    "pagerank_neardup_documents",  # one-row node-count broadcast per iteration
    "eval_average_precision_binned",  # one-row positives-total broadcast over ≤200 bins
    "target_encode_oof_orders",  # one-row global-prior broadcast over |cats|×5 rows
    "cusum_changepoint_daily_value",  # one-row global-mean + peak broadcasts over day rows
    "backfill_gaps_orders_daily",  # one-row bounds/mean broadcasts over |days| rows
    "ivf_recall_report",  # brute-force exact side (tiny query set broadcast, by design)
    "ivf_probe_sweep_report",  # same exact-vs-approx shape, swept over nprobe
    "ann_ndcg_mrr_report",  # same exact-vs-approx shape as ivf_recall_report
    "source_term_drift_kl",  # |sources|×topV grid from tiny broadcast aggregates
    "semi_anti_join_customers",  # cross of two ONE-ROW count aggregates
    "semdedup_prune_embeddings",  # k-centroid frames broadcast (ivf_assign shape)
    "doremi_domain_reweight_documents",  # one-row vocab-total/ref-bits/Z broadcasts
    "nll_quartile_bucket_documents",  # one-row vocabulary-total broadcast
    "nll_boundary_bucket_documents",  # one-row vocabulary-total broadcast
    "rrf_fusion_search_documents",  # one-row query-vector + bm25-stats broadcasts
    "text_bigram_backoff_nll_documents",  # one-row vocabulary-total broadcast
    "assoc_rules_parts_orders",  # one-row order-count broadcast
    "embedding_drift_report",  # cross of three ONE-ROW stat aggregates
    "ivf_incremental_assign_embeddings",  # centroid broadcast + one-row totals
    "streaming_semdedup_replay",  # k-centroid frames broadcast (ivf_assign shape)
    "ivf_index_lifecycle_report",  # k-centroid frames broadcast (ivf_assign shape)
    "ks_drift_price_halves",  # one-row totals broadcast over |values| rows
    "bpe_fertility_drift_report",  # one-row persisted-stats frame crossJoined
}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_cartesian_product_anywhere(spark, name):
    """CartesianProduct = both sides big with no join key — unrunnable at
    scale; it must never appear in any registered query."""
    plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in _NLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} fell back to a nested-loop join"
        )


def test_q1_filter_pushed_and_pruned(spark):
    plan = _plan(REGISTRY["q1_pricing_summary"].fn(spark, SF_SMALL))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_text_stats_scan_prunes_to_two_columns(spark):
    plan = _plan(REGISTRY["text_stats_documents"].fn(spark, SF_SMALL))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    for unused in ("lang", "source", "n_chars"):
        assert unused not in read_schema, f"scan reads unused column {unused}"


def test_asof_join_is_single_window_no_join_node(spark):
    """The as-of operator must stay union + window — no join node, one
    Window over the unioned stream (two for nearest: backward + forward
    carries over the same partitioning, still joinless)."""
    for name in ("events_asof_last_purchase", "events_asof_nearest_purchase"):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
        assert "Join" not in plan, name
        assert plan.count("Window") >= 1, name


def test_topk_window_gets_group_limit_pushdown(spark):
    """Rank-limit queries must keep Spark's WindowGroupLimit (partial
    top-k before the shuffle)."""
    plan = _plan(REGISTRY["grouped_topk_orders"].fn(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan


def test_scoring_projects_features_before_python(spark):
    """The Python stage must see only cols_to_save + features — column
    pruning reaching the scan is the 1%-of-bytes-read guarantee."""
    plan = _plan(REGISTRY["score_callable_model"].fn(spark, SF_SMALL))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    for unused in ("l_partkey", "l_suppkey", "l_extendedprice", "l_shipdate"):
        assert unused not in read_schema


_PYTHON_NODES = {"MapInPandas", "PythonMapInArrow", "ArrowEvalPython", "BatchEvalPython"}


def _plan_node_names(df):
    def walk(node):
        yield node.nodeName()
        for c in _plan_kids(node):
            yield from walk(c)

    return set(walk(df._jdf.queryExecution().executedPlan()))


@pytest.mark.parametrize(
    "name",
    [
        "score_logistic_model",
        "score_regressor_model",
        "score_multiclass_model",
        "train_ols_score_lineitem",
    ],
)
def test_linear_models_score_without_python(spark, name):
    """The linear-family models score as one Catalyst projection: no
    Python worker, no Arrow round-trip anywhere in the executed plan."""
    nodes = _plan_node_names(REGISTRY[name].fn(spark, SF_SMALL))
    assert not nodes & _PYTHON_NODES, f"{name} plans {nodes & _PYTHON_NODES}"


def test_opaque_models_keep_map_in_pandas(spark):
    """A plain callable, or a linear model without ``spark_columns``,
    still takes the Arrow mapInPandas path."""
    from spark_pipeline_spark.models import LogisticModel
    from spark_pipeline_spark.operators.scoring import score
    from tests.test_scoring_lowered import opaque

    assert "MapInPandas" in _plan_node_names(
        REGISTRY["score_callable_model"].fn(spark, SF_SMALL)
    )
    c = t(spark, SF_SMALL, "customer").select("c_custkey", "c_acctbal")
    mdl = opaque(LogisticModel({"c_acctbal": 0.001}, intercept=-2.0))
    assert "MapInPandas" in _plan_node_names(score(c, mdl, cols_to_save=["c_custkey"]))


def test_token_budget_sample_no_global_sort(spark):
    """The bucketed prefix plan must never fall back to a global
    running-sum window: no single-partition Sort/Window over the corpus
    (the tiny per-bucket window is partitioned by __bucket), and the
    prefix-sum frame must come back via a broadcast join."""
    plan = _plan(REGISTRY["token_budget_sample_documents"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # a global window shows as 'Window [...], []' partitioning on nothing
    # over the full input; every Sort here must be bucket-partitioned
    for line in plan.splitlines():
        if "Sort [" in line and "__bucket" not in line:
            raise AssertionError(f"unexpected non-bucket sort: {line.strip()}")


def test_mixture_sample_fact_side_never_shuffles(spark):
    """The corpus side of mixture sampling must reach the filter through
    a broadcast join only — the single Exchange allowed is the tiny
    per-stratum aggregate (plus its broadcast)."""
    plan = _plan(REGISTRY["mixture_sample_documents"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    # one hash exchange for the groupBy(source) aggregate; none for the corpus
    assert len(shuffles) <= 1, f"fact table shuffled: {shuffles}"


def test_quality_check_is_single_scan(spark):
    """N expectation rules must evaluate in ONE aggregate over ONE scan —
    a job per rule is the anti-pattern the operator exists to avoid."""
    from spark_pipeline_spark.operators import quality as Q

    o = t(spark, SF_SMALL, "orders")
    report = Q.check(
        o,
        [
            Q.not_null("o_custkey"),
            Q.in_range("o_totalprice", 0, 1_000_000),
            Q.accepted_values("o_orderstatus", ["O", "F", "P"]),
            Q.unique("o_orderkey"),
        ],
    )
    plan = _plan(report)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_merge_upsert_partial_aggregates_before_exchange(spark):
    """The merge winner must be a partial-combining aggregate (skew-proof),
    not a rank window."""
    plan = _plan(REGISTRY["merge_upsert_orders"].fn(spark, SF_SMALL))
    assert "Window" not in plan
    agg_nodes = [l for l in plan.splitlines() if "Aggregate (" in l]
    assert len(agg_nodes) >= 2, plan  # partial + final around the exchange


@pytest.mark.parametrize(
    "name",
    [
        "boilerplate_ngrams_documents",
        # r8: the BPE pair counter and the LSH shingle path claim the same
        # materialize-once shape in their docstrings — pin it here so a
        # refactor can't silently re-inline split() per element.
        "bpe_merge_candidates_documents",
        "dedup_minhash_lsh_documents",
        # r8: span scrub builds positional grams through the same
        # materialize-once projection (its docstring claims the barrier)
        "span_scrub_documents",
        # r9: the span/gram family additions claim the identical
        # materialize-once shape (shingle_table / positional-gram
        # projection barrier) — pin each
        "longest_shared_span_documents",
        "span_scrub_min_length_documents",
        "gram_dup_fraction_documents",
        # r10: the winnowing pair join explodes the inline
        # winnow_fingerprints(gram_hashes(...)) expression — pin the
        # explode_outer barrier (ADVICE r9)
        "winnowing_overlap_pairs_documents",
    ],
)
def test_gram_expression_not_reinlined(spark, name):
    """Regression gate for the Generate pushdown trap: no Filter may
    re-derive the gram/pair TRANSFORM expression (split re-inlined per
    element — measured 9–20×). A Filter on the cheap token-count
    (`size(split(...)) >= n`) is the intended design and is allowed; the
    failure mode is `transform(...)` appearing in a Condition, or the
    split expression multiplying through the lambda (count > 2: one
    Project materialization + at most one pushed size-filter).

    Cache cleared first: queries that persist their shingle frame render
    any still-cached InMemoryRelation's build plan inline, which would
    double-count split() occurrences depending on test order."""
    spark.catalog.clearCache()
    plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
    for line in plan.splitlines():
        if line.strip().startswith("Condition :"):
            assert "transform" not in line, f"re-inlined gram filter: {line[:200]}"
    assert plan.count("split(") <= 2, (
        f"{name}: split() appears {plan.count('split(')}× — token array no "
        f"longer materialized once before the gram/pair lambda"
    )


def test_partitioned_write_prunes_partitions_at_read(spark, tmp_path):
    """A Hive-partitioned write must let a reader's partition-column
    filter become a PartitionFilter (directory pruning — zero bytes read
    from non-matching partitions), not a post-scan Filter."""
    from spark_pipeline_spark.io.sinks import write_file

    out = str(tmp_path / "orders_by_status")
    o = t(spark, SF_SMALL, "orders")
    write_file(o, out, partition_by=["o_orderstatus"])

    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = _plan(back)
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines, "scan has no PartitionFilters section"
    assert "o_orderstatus" in pf_lines[0], pf_lines[0]
    # the data filter must NOT be re-applied row-wise after the scan
    assert back.count() == o.filter(F.col("o_orderstatus") == "F").count()


# ---------------------------------------------------------------------------
# Broadcast-hint audit: no forced F.broadcast() on SF-growing frames.
# A hint on part/supplier/customer/orders/lineitem (or the doc/embedding/
# event tables) is an OOM at the 100 TB target; AQE converts to broadcast
# at runtime iff the build side is actually small, so the hint buys
# nothing at small SF and breaks at large SF. Allowed: hints whose leaves
# are only the fixed-size nation/region dims, hints over a GLOBAL (no
# grouping) aggregate (provably ≤1 row at any SF), and an annotated
# allowlist of grouped aggregates whose group count is bounded by
# construction (status codes, hour-of-day, fixed k, top-V limit).
# ---------------------------------------------------------------------------

# First column of each SF-growing table — a leaf whose output contains one
# of these reads a table that scales with the data.
_BIG_LEAF_MARKERS = {
    "l_orderkey", "o_orderkey", "c_custkey", "p_partkey", "s_suppkey",
    "event_id", "doc_id", "vec_id",
}

# query name -> why its broadcast side stays bounded at any SF even though
# the frame derives from an SF-growing table. Two legitimate shapes:
#  (a) grouped aggregate / distinct whose GROUP COUNT is bounded by
#      construction (status codes, hour-of-day, fixed bucket count,
#      LIMIT-bounded vocabulary);
#  (b) a side bounded by an EXTERNAL CONTRACT, not by SF (a fixed query
#      set, seed centroids, a benchmark suite) — the corpus scales, the
#      broadcast side doesn't.
# Anything NOT here must be a global (no grouping) aggregate to carry a
# hint; a raw/filtered/deduplicated scan of a big table never may.
_BOUNDED_HINTS = {
    # (a) bounded group count
    "robust_outliers_orders": "median/MAD grouped by o_orderstatus (3 codes)",
    "winsorize_orders_prices": "percentile bounds grouped by o_orderstatus",
    "quantile_bucket_orders": "one approx_percentile array row per status",
    "events_hourly_seasonality": "profile grouped by hour-of-day (24 rows)",
    "null_safe_join_status": "distinct over nullif(status): ≤4 keys",
    "mixture_sample_documents": "per-source proportions: |sources| rows",
    "mixture_resample_documents": "per-source rates: |sources| rows",
    "token_budget_sample_documents": "per-bucket totals: fixed bucket count",
    "pack_sequences_documents": "per-bucket offsets: fixed bucket count",
    "global_row_number_documents": "per-bucket counts: fixed bucket count",
    "source_term_drift_kl": "top-V vocabulary (LIMIT-bounded)",
    "vocab_coverage_documents": "top-V vocabulary (LIMIT-bounded)",
    "percentile_rank_orders": "percentile grid per status (fixed grid)",
    "text_unigram_nll_documents": "top-V vocabulary (LIMIT-bounded)",
    "fuzzy_match_part_names": "blocking-key buckets bounded by alphabet",
    "joint_histogram_lineitem": "fixed histogram grid bounds",
    "seasonal_anomaly_hours_events": "hour-of-day profile (24 rows)",
    "backfill_gaps_orders_daily": "per-day frame over a fixed date range",
    "cusum_changepoint_daily_value": "per-day frame over a fixed date range",
    "seasonal_naive_backtest_events": "hour-of-day profile (24 rows)",
    "eval_roc_auc_binned": "fixed 200-bin score grid",
    "target_encode_oof_orders": "|status|x5-fold encoding table",
    "pit_dimension_join_shipments": "SCD dimension keyed by small dim",
    # (b) contract-bounded side (corpus scales, broadcast side doesn't)
    "decontaminate_documents": "benchmark-suite grams: bounded by the "
                               "benchmark, not the corpus (the contaminated-"
                               "id anti-join is un-hinted; AQE decides)",
    "embedding_topk_bruteforce": "fixed query set broadcast by design",
    "embedding_ann_ivf": "seed centroids + fixed query set",
    "embedding_ann_ivf_nprobe2": "seed centroids + fixed query set",
    "embedding_near_dup_ivf": "seed centroids (fixed k cells)",
    "semdedup_prune_embeddings": "seed centroids (fixed k cells)",
    "streaming_semdedup_replay": "seed centroids (fixed k cells)",
    "ks_drift_price_halves": "per-bucket ECDF offsets: fixed bucket count "
    "(price-range/1e5 buckets, the packing.py two-pass prefix-sum shape)",
    "kmeans_update_centroids": "k seed centroids",
    "ivf_recall_report": "seed centroids + fixed query set",
    "ann_ndcg_mrr_report": "seed centroids + fixed query set",
    "ivf_probe_sweep_report": "seed centroids + fixed query set",
    "ann_int8_recall_report": "seed centroid codes (4 rows) + fixed query set",
    "ivf_cell_balance_embeddings": "seed centroids (fixed k cells)",
    "ann_pq_recall_report": "M*K=8 codebook rows + fixed query set",
    "ann_truncated_dim_recall_report": "3-row dims frame + fixed query set",
    "ivf_incremental_assign_embeddings": "seed centroids (fixed k cells)",
    "bootstrap_ci_tokens_documents": "fixed 50-row replicate frame",
    "hard_negative_mining_embeddings": "fixed anchor set broadcast",
    "semantic_decontaminate_embeddings": "benchmark embedding set: bounded "
    "by the eval-suite contract, not the corpus",
    "rrf_fusion_search_documents": "single query vector by key equality",
    "ivf_index_pq_report": "M*K codebook + |queries|*M*K ADC table + "
    "fixed query set (persisted-index PQ search contract)",
}


def _iter_with_topmost_agg(root):
    """Yield (node, topmost_aggregate_on_path) over a logical plan."""
    stack = [(root, None)]
    while stack:
        node, top_agg = stack.pop()
        yield node, top_agg
        if top_agg is None and node.nodeName() == "Aggregate":
            top_agg = node
        ch = node.children()
        for i in range(ch.size()):
            stack.append((ch.apply(i), top_agg))


def _leaf_cols(node):
    out = node.output()
    return {out.apply(i).name() for i in range(out.size())}


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_forced_broadcast_of_sf_growing_frames(spark, name):
    df = REGISTRY[name].fn(spark, SF_SMALL)
    analyzed = df._jdf.queryExecution().analyzed()
    hints = [n for n, _ in _iter_with_topmost_agg(analyzed)
             if n.nodeName() == "ResolvedHint"]
    for hint in hints:
        for node, top_agg in _iter_with_topmost_agg(hint):
            if node.children().size() != 0:
                continue
            cols = _leaf_cols(node)
            if not (cols & _BIG_LEAF_MARKERS):
                continue  # nation/region/local-relation leaf: always fine
            if top_agg is not None and top_agg.groupingExpressions().isEmpty():
                continue  # global aggregate: provably ≤1 row at any SF
            assert name in _BOUNDED_HINTS, (
                f"{name}: F.broadcast() over an SF-growing frame (leaf "
                f"columns {sorted(cols)[:4]}…, "
                f"{'grouped aggregate' if top_agg is not None else 'raw/filtered scan'}). "
                f"Either remove the hint and let AQE decide, or — if the "
                f"side is bounded by construction or by an external "
                f"contract — add it to _BOUNDED_HINTS with a justification"
            )


def test_source_cap_and_zipf_get_group_limit_pushdown(spark):
    """The per-source cap and the zipf top-200 both claim their rank
    windows execute as WindowGroupLimit (per-partition top-k before the
    shuffle) — the property that makes a cap a data REDUCTION instead of
    a full-corpus window sort."""
    for name in (
        "source_cap_documents",
        "zipf_fit_documents",
        # r8: rrf's two top-25 lists rely on the same rewrite
        # (docstring claim at queries.py rrf_fusion_search_documents).
        "rrf_fusion_search_documents",
        # r9: per-doc TF-IDF top-3 claims the same WindowGroupLimit shape
        "tfidf_top_terms_documents",
    ):
        plan = _plan(REGISTRY[name].fn(spark, SF_SMALL))
        # an unpartitioned rank window optimizes further, to TakeOrdered
        # (partial top-k per partition + driver merge of k×P rows)
        assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan, (
            f"{name} lost rank-limit pushdown"
        )


def test_window_showcase_single_window_single_exchange(spark):
    """Six analytic functions over one partitioning must collapse into a
    single Window node (plus the frame-variant sibling) over ONE
    hash exchange on o_custkey — per-function exchanges would be a 6×
    shuffle regression."""
    plan = _plan(REGISTRY["window_functions_showcase_orders"].fn(spark, SF_SMALL))
    exchanges = [
        l for l in plan.splitlines()
        if "Arguments: hashpartitioning" in l or "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) == 1, f"expected one exchange, saw: {exchanges}"


# Global (empty-partitionSpec) Window nodes with NO rank-limit rescue
# (WindowGroupLimit / TakeOrderedAndProject below them) run in ONE task —
# fine only when the windowed frame is provably bounded, never when it
# grows with the data. Every entry documents its bound; a query not
# listed here must not plan one.
_BOUNDED_GLOBAL_WINDOWS = {
    # grand-total / normalizing window over a contingency or bin frame
    "chi_square_orders_status_priority",  # |status|x|priority| cells
    "entropy_profile_orders",  # |distinct values per profiled column|
    "psi_quantile_drift_lineitem",  # |quantile bins|
    "shard_assign_documents",  # |shards| totals
    "eval_average_precision_binned",  # |score bins|
    "eval_roc_auc_binned",  # |score bins|
    # cumulative series over a calendar/ordinal frame
    "compaction_plan_orders",  # |days|
    "cusum_changepoint_daily_value",  # |days|
    "user_growth_accounting",  # |days|
    "user_survival_curve",  # |weeks|
    "streaming_late_arrival_report",  # |batches|
    # two-pass bucket-offset prefix sums: the global window runs over the
    # per-BUCKET totals frame only (|buckets|, not |rows|)
    "global_row_number_documents",
    "ks_drift_price_halves",
    "pack_sequences_documents",
    "token_budget_sample_documents",
    "vocab_coverage_documents",  # ~8*log2(max term freq) octave buckets
    # rank over the source catalog (|sources|, a corpus-mix constant)
    "source_concentration_documents",
    "unimax_allocation_documents",
}


def _plan_kids(node):
    if node.nodeName() == "AdaptiveSparkPlan":
        return [node.inputPlan()]
    return [node.children().apply(i) for i in range(node.children().size())]


def _subtree_has(node, name):
    return node.nodeName() == name or any(
        _subtree_has(c, name) for c in _plan_kids(node)
    )


def _unrescued_global_windows(df):
    out = []

    def walk(node):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            rescued = any(
                _subtree_has(c, "WindowGroupLimit")
                or _subtree_has(c, "TakeOrderedAndProject")
                for c in _plan_kids(node)
            )
            if not rescued:
                out.append(node.simpleString(120))
        for c in _plan_kids(node):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return out


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unbounded_global_window(spark, name):
    """An empty-partitionSpec Window without a rank-limit rescue is a
    single-task sort of its whole input — unrunnable at scale unless
    the input frame is provably bounded. Every such site must be in
    _BOUNDED_GLOBAL_WINDOWS with its bound documented (the r11 verdict
    found vocab_coverage_documents cumsumming the full vocabulary in
    one task; this gate keeps that class out)."""
    hits = _unrescued_global_windows(REGISTRY[name].fn(spark, SF_SMALL))
    if name in _BOUNDED_GLOBAL_WINDOWS:
        assert hits, (
            f"{name} is allowlisted but plans no unrescued global window "
            "— remove it from _BOUNDED_GLOBAL_WINDOWS"
        )
    else:
        assert not hits, (
            f"{name} plans an unrescued single-partition window: {hits[0]} "
            "— bound the frame (bucket-offset prefix sums / rank<=k) or "
            "document the bound in _BOUNDED_GLOBAL_WINDOWS"
        )
