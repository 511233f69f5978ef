"""Every registered query must match its DuckDB oracle — the driver's t2
gate, run locally at the driver's own scale (sf0.01, override with
SPARK_GRAFT_PARITY_SF) and with dtype-family strictness so that
driver-hash artifacts (int64 vs float64) fail here first."""

from __future__ import annotations

import os

import pytest

from spark_pipeline_spark.queries import REGISTRY
from spark_pipeline_spark.session import release_query_caches
from tests.conftest import SF_ORACLE
from tests.oracle import compare, register_views

PARITY_SF = os.environ.get("SPARK_GRAFT_PARITY_SF", SF_ORACLE)


def _check_parity(spark, duck, name):
    q = REGISTRY[name]
    try:
        df = q.fn(spark, PARITY_SF)
        if q.oracle is None:
            assert df.count() >= 0  # rows-only check (driver's weaker gate)
            return
        register_views(duck, PARITY_SF)
        problems = compare(df, duck, q.oracle)
        assert not problems, f"{name}: {problems}"
    finally:
        release_query_caches()


# The FULL sweep is the slow tier (280 queries ≈ 40 min — it is why the
# driver's default pytest run never finished in r15; VERDICT item 2).
# Excluded from the default run by pyproject addopts; invoke explicitly:
#   python -m pytest tests/test_oracle_parity.py -m oracle_full -q
@pytest.mark.oracle_full
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name):
    _check_parity(spark, duck, name)


# Default-tier smoke: one representative per operator family, fixed so
# a default `pytest tests/` still exercises the Spark↔DuckDB parity
# machinery end-to-end without the full sweep's runtime. Full coverage
# lives in the oracle_full tier + the driver's own CORRECTNESS gate.
PARITY_SMOKE = [
    "q6_forecast_revenue",            # relational core
    "grouped_topk_with_ties",         # grouped/window
    "dedup_minhash_lsh_documents",    # dedup/similarity
    "dedup_components_star_documents",  # graph components (r15 rewrite)
    "lpa_communities_documents",      # LPA (r15 rewrite)
    "dedup_containment_documents",    # containment join (r15 rewrite)
    "lsh_band_tuning_report",         # band tuning (r15 rewrite)
    "bpe_train_n_merges_documents",   # BPE driver gate
    "text_bigram_backoff_nll_documents",  # text LM
    "ivf_index_lifecycle_report",     # persisted ANN lifecycle
    "multimodal_frame_sample",        # multimodal decode
    "merge_cdc_tombstones_orders",    # merge/CDC
    "stratified_fraction_documents",  # sampling
    "datadiff_hash_histogram_orders",  # datadiff/sketches
    "score_logistic_model",           # scoring (Catalyst projection)
    "score_callable_model",           # scoring (Arrow boundary)
    "ewma_user_value",                # event windows
]


@pytest.mark.parametrize("name", PARITY_SMOKE)
def test_query_matches_oracle_smoke(spark, duck, name):
    assert name in REGISTRY, f"smoke list names unknown query {name}"
    _check_parity(spark, duck, name)
