"""The benchmark's metric catalog and the arithmetic that fills it.

``END_TO_END`` and ``PER_LAYER`` are the names, units and directions that
BENCHMARK.json lists (a test keeps the two equal). ``LAYERS`` records, per
layer, which end-to-end metric its counters should move, on which
workload, and where they should stay flat.
"""

from __future__ import annotations

import statistics

from perfbench.trace import Span, layer_totals

# name, unit, better, bound (share of the parent's median it may worsen by)
# Run-to-run spread on a shared 4-core host is 10-20% for every metric, so
# every bound is the largest allowed.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("iter_s_p50", "s", "lower", 0.25),
    ("iter_s_tail", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

# layer -> (end-to-end metrics it moves, workload it moves them on, flat on)
LAYERS = {
    "session": (["setup_s", "iter_s_p50"], "ann_serve", "batch_score"),
    "io.sources": (["iter_s_p50"], "batch_score", "corpus_dedup"),
    "io.sinks": (["rows_per_s"], "batch_score", "ann_serve"),
    "operators.training": (["rows_per_s"], "batch_score", "corpus_dedup"),
    "operators.scoring": (["rows_per_s"], "batch_score", "corpus_dedup"),
    "operators.dedup": (["rows_per_s"], "corpus_dedup", "ann_serve"),
    "operators.graph": (["iter_s_tail"], "corpus_dedup", "batch_score"),
    "ann_index": (["iter_s_p50"], "ann_serve", "batch_score"),
}

# every span also records these; the unit and direction of each
GENERIC = [
    ("self_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("idle_slot_s", "s", "lower"),
]

SPECIFIC = [
    ("session.get_session_s", "s", "lower"),
    ("session.floor_job_s", "s", "lower"),
    ("io.sources.load_s", "s", "lower"),
    ("io.sinks.save_s", "s", "lower"),
    ("io.sinks.bytes_written", "bytes", "lower"),
    ("io.sinks.files_written", "count", "lower"),
    ("io.sinks.write_amp", "ratio", "lower"),
    ("operators.training.train_s", "s", "lower"),
    ("operators.training.collected_rows", "count", "lower"),
    ("operators.scoring.score_s", "s", "lower"),
    ("operators.scoring.rows_per_s", "rows/s", "higher"),
    ("operators.dedup.exact_s", "s", "lower"),
    ("operators.dedup.index_s", "s", "lower"),
    ("operators.dedup.pairs_s", "s", "lower"),
    ("operators.dedup.candidate_pairs", "count", "lower"),
    ("operators.dedup.verified_pairs", "count", "higher"),
    ("operators.dedup.verify_ratio", "ratio", "higher"),
    ("operators.graph.components_s", "s", "lower"),
    ("ann_index.build_s", "s", "lower"),
    ("ann_index.refresh_s", "s", "lower"),
    ("ann_index.search_s", "s", "lower"),
    ("ann_index.bytes_written", "bytes", "lower"),
    ("ann_index.rows_examined_per_result", "ratio", "lower"),
    ("ann_index.recall_at_10", "ratio", "higher"),
    ("bench.self_s", "s", "lower"),
    ("bench.oracle_s", "s", "lower"),
    ("trace.iter_s_p50", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

PER_LAYER = SPECIFIC + [
    (f"{layer}.{suffix}", unit, better)
    for layer in LAYERS
    for suffix, unit, better in GENERIC
]

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}


def _with_units(values: dict[str, float]) -> dict[str, dict]:
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()}


def end_to_end(setup_s: float, times: list[float], rows: int,
               peak_rss_mb: float) -> dict[str, dict]:
    """Iteration times are of untraced, timed iterations. Throughput is the
    input rows over the median iteration, not over their total: the first
    timed iterations still run slower while the JIT warms. A run holds too
    few iterations for a percentile with ten samples beyond it, so the tail
    is the slowest iteration; ``attempted`` gives the sample count."""
    p50 = statistics.median(times)
    return _with_units({
        "setup_s": setup_s,
        "rows_per_s": rows / p50,
        "iter_s_p50": p50,
        "iter_s_tail": max(times),
        "peak_rss_mb": peak_rss_mb,
    })


def per_layer(iterations: list[list[Span]], session_spans: list[Span], cores: int,
              extras: dict, inputs: dict, fixed: dict[str, float]) -> dict[str, dict]:
    """Per-iteration layer sums from the traced iterations, as medians;
    counts that depend only on the inputs come from ``extras``."""
    from perfbench.workloads import ANN_K, dir_stats

    totals = [layer_totals(spans, cores) for spans in iterations]
    session = layer_totals(session_spans, cores)

    def med(layer: str, key: str) -> float:
        if layer == "session":
            return session["session"].get(key, 0.0) if "session" in session else 0.0
        return statistics.median(t[layer].get(key, 0.0) if layer in t else 0.0
                                 for t in totals)

    values = dict(fixed)
    for layer in LAYERS:
        for suffix, _, _ in GENERIC:
            values[f"{layer}.{suffix}"] = med(layer, suffix)
    for name, _, _ in SPECIFIC:
        if name in values:
            continue
        layer, _, op = name.rpartition(".")
        if op.endswith("_s"):
            values[name] = med(layer, op)

    sink_bytes, sink_files = dir_stats(extras["sink_dir"]) if "sink_dir" in extras else (0, 0)
    values["io.sinks.bytes_written"] = sink_bytes
    values["io.sinks.files_written"] = sink_files
    values["io.sinks.write_amp"] = sink_bytes / inputs["bytes"]
    values["operators.training.collected_rows"] = extras.get("collected_rows", 0)
    score_s = values["operators.scoring.score_s"]
    values["operators.scoring.rows_per_s"] = inputs["rows"] / score_s if score_s else 0.0
    cand = extras.get("candidate_pairs", 0)
    values["operators.dedup.candidate_pairs"] = cand
    values["operators.dedup.verified_pairs"] = extras.get("verified_pairs", 0)
    values["operators.dedup.verify_ratio"] = extras.get("verified_pairs", 0) / cand if cand else 0.0
    values["ann_index.bytes_written"] = (
        dir_stats(extras["index_dir"])[0] if "index_dir" in extras else 0
    )
    examined = statistics.median(
        sum(s.counters.get("input_records", 0.0) for s in spans if s.name == "ann_index.search")
        for spans in iterations
    )
    results = inputs.get("queries", 0) * ANN_K
    values["ann_index.rows_examined_per_result"] = examined / results if results else 0.0
    values["ann_index.recall_at_10"] = extras.get("recall_at_10", 0.0)
    return _with_units({name: values[name] for name, _, _ in PER_LAYER})
