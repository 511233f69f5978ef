"""Tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import metrics
from perfbench.gen import GENERATORS
from perfbench.trace import Span, layer_totals, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = {
    "etl_move": {"lineitem_rows": 2_000, "customers": 50},
    "batch_score": {"rows": 1_000},
    "corpus_dedup": {"docs": 200},
    "ann_serve": {"corpus": 300, "delta": 30},
}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_same_seed_same_bytes(workload, tmp_path):
    gen = GENERATORS[workload]
    runs = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = tmp_path / name
        out.mkdir()
        runs.append(gen(seed, str(out), SMALL[workload]))
    a, b, c = runs
    assert a["sha256_16"] == b["sha256_16"]
    assert a["bytes"] == b["bytes"] and a["rows"] == b["rows"]
    assert a["sha256_16"] != c["sha256_16"]


def test_corpus_plants_its_near_duplicate_share(tmp_path):
    info = GENERATORS["corpus_dedup"](3, str(tmp_path), {"docs": 500})
    assert info["rows"] == 500
    assert 0.18 <= info["planted_near_dup_share"] <= 0.2


def _span(i, parent, start, end, layer="l", op="op", **counters):
    return Span(i, layer, op, parent, start, end, counters)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0, layer="bench"),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),       # overlaps span 1: covered is [1, 5]
        _span(3, 2, 2.5, 3.0),       # grandchild: counts against span 2 only
        _span(4, 0, 9.0, 12.0),      # runs past its parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)


def test_layer_totals_sum_self_time_counters_and_idle_slots():
    spans = [
        _span(0, None, 0.0, 4.0, layer="bench", op="iteration"),
        _span(1, 0, 0.0, 1.0, layer="io.sinks", op="save", jobs=2.0, executor_run_s=1.5),
        _span(2, 0, 1.0, 3.0, layer="io.sinks", op="save", jobs=1.0, executor_run_s=6.0),
    ]
    t = layer_totals(spans, cores=4)
    assert t["bench"]["self_s"] == pytest.approx(1.0)
    assert t["bench"]["idle_slot_s"] == pytest.approx(4.0)
    assert t["io.sinks"]["save_s"] == pytest.approx(3.0)
    assert t["io.sinks"]["jobs"] == 3.0
    assert t["io.sinks"]["idle_slot_s"] == pytest.approx(3.0 * 4 - 7.5)


def test_catalog_matches_benchmark_json():
    bench = _bench()
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER
    ]
    for w in bench["workloads"]:
        assert w["name"] in GENERATORS


def test_benchmark_json_is_within_its_limits():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= len(bench["per_layer"]) <= 128
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in bench[k]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
        assert m["better"] in ("higher", "lower")
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_printed_metrics_match_benchmark_json():
    bench = _bench()
    e2e = metrics.end_to_end(setup_s=20.0, times=[4.5, 2.0, 3.0, 2.5], rows=1000,
                             peak_rss_mb=900.0)
    assert list(e2e) == [m["name"] for m in bench["end_to_end"]]
    assert e2e["iter_s_p50"]["value"] == 2.75 and e2e["iter_s_tail"]["value"] == 4.5
    assert e2e["rows_per_s"]["value"] == pytest.approx(1000 / 2.75)

    iteration = [
        _span(0, None, 0.0, 3.0, layer="bench", op="iteration"),
        _span(1, 0, 0.0, 1.0, layer="operators.dedup", op="pairs", jobs=3.0),
        _span(2, 0, 1.0, 2.0, layer="ann_index", op="search", input_records=400.0),
    ]
    session = [_span(3, None, 3.0, 3.1, layer="session", op="floor_job", jobs=1.0)]
    fixed = {"session.get_session_s": 8.0, "session.floor_job_s": 0.1,
             "bench.oracle_s": 1.0, "trace.iter_s_p50": 3.0, "trace.overhead_s": 0.1}
    per = metrics.per_layer(
        iterations=[iteration], session_spans=session, cores=4,
        extras={"candidate_pairs": 10, "verified_pairs": 5, "recall_at_10": 0.9},
        inputs={"bytes": 100, "rows": 50, "queries": 4}, fixed=fixed,
    )
    assert list(per) == [m["name"] for m in bench["per_layer"]]
    assert all(v["unit"] == metrics.UNITS[k] for k, v in per.items())
    assert per["operators.dedup.verify_ratio"]["value"] == 0.5
    assert per["operators.dedup.jobs"]["value"] == 3.0
    assert per["session.jobs"]["value"] == 1.0
    assert per["ann_index.rows_examined_per_result"]["value"] == 400.0 / 40
