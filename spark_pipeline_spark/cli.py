"""CLI entry points: ``mover`` / ``scorer`` / ``trainer``.

Parity with the reference's console scripts (``pyproject.toml:56-59``;
``sparktools/mover.py:11-38``, ``scorer.py:12-65``, ``trainer.py:12-69``),
with the reference's bugs fixed by construction:

- ``main()`` is guarded — the reference executes it at *import* time
  (``mover.py:41``, ``scorer.py:83``, ``trainer.py:72``; SURVEY.md
  §2.13.7);
- config overrides are parsed once, in ``main``'s scope — the
  reference's ``run_scorer`` reads ``args`` from the wrong scope and
  NameErrors when ``pipeline-file`` is set (``scorer.py:20-25``;
  SURVEY.md §2.13.5).

Config files: JSON natively; HOCON when ``pyhocon`` is installed
(import-try — it is not a hard dependency). ``key=value`` CLI extras
override file values with dotted-path addressing
(``spark.conf.x=y``), reproducing ``overrides.with_fallback(base)``
semantics (``scorer.py:69-76``).
"""

from __future__ import annotations

import argparse
import json
import time
from collections.abc import Mapping
from typing import Any

from spark_pipeline_spark.gate import local_frame

# Refresher replay-guard horizon: how many recent delta ids the snapshot
# remembers. Bounded so the per-row ledger string stays ~O(1 KB) on the
# (aggregate, rows==groups) snapshot; 64 covers any realistic cron retry
# skew while keeping a 100 TB-scale snapshot's metadata overhead trivial.
_LEDGER_CAP = 64

__all__ = [
    "load_config",
    "apply_overrides",
    "main_mover",
    "main_scorer",
    "main_trainer",
    "main_validator",
    "main_pipeline",
    "main_refresher",
    "main_query",
    "main_ann",
]


def load_config(path: str) -> dict[str, Any]:
    """Parse a config file: HOCON via pyhocon when available, else JSON."""
    try:
        from pyhocon import ConfigFactory  # optional dependency

        return ConfigFactory.parse_file(path).as_plain_ordered_dict()
    except ImportError:
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)


def _parse_scalar(text: str) -> Any:
    try:
        return json.loads(text)
    except (json.JSONDecodeError, ValueError):
        return text


def apply_overrides(conf: dict[str, Any], overrides: list[str]) -> dict[str, Any]:
    """Apply ``a.b.c=value`` CLI overrides onto a nested config dict —
    override wins (``with_fallback`` orientation, ``scorer.py:74-76``)."""
    for item in overrides:
        if "=" not in item:
            raise ValueError(f"override {item!r} is not key=value")
        key, value = item.split("=", 1)
        node = conf
        parts = key.split(".")
        for p in parts[:-1]:
            node = node.setdefault(p, {})
            if not isinstance(node, dict):
                raise ValueError(f"override {key!r} descends through a non-dict")
        node[parts[-1]] = _parse_scalar(value)
    return conf


def _parse_args(argv: list[str] | None, prog: str) -> tuple[dict[str, Any], Any]:
    parser = argparse.ArgumentParser(prog=prog)
    parser.add_argument("--conf", required=True, help="config file (JSON; HOCON if pyhocon present)")
    args, extras = parser.parse_known_args(argv)
    conf = apply_overrides(load_config(args.conf), extras)
    return conf, args


def _session(conf: Mapping[str, Any], app_name: str):
    from spark_pipeline_spark.session import get_session

    spark_conf = conf.get("spark", {})
    return get_session(
        app_name=spark_conf.get("app-name", app_name),
        master=spark_conf.get("master"),
        conf=spark_conf.get("conf"),
    )


def main_mover(argv: list[str] | None = None) -> int:
    """Declarative ETL: config source → config sink (``mover.py:11-38``).

    Unlike the reference — which writes, then ``count()``s the *source
    plan again* (a second full scan, ``mover.py:33-35``) — the row count
    rides the write itself via the ``Observation`` API
    (``io.sinks.save_counted``): metrics accumulate inside the one write
    job, so ``log-count`` costs ZERO extra scans, zero cache memory, and
    zero extra actions (a ``disabled`` or streaming ``csv`` target, which
    runs no write action over the plan, counts with one ``count()``).
    """
    conf, _ = _parse_args(argv, "mover")
    t0 = time.time()
    spark = _session(conf, "mover")
    from spark_pipeline_spark.io.sinks import save, save_counted
    from spark_pipeline_spark.io.sources import load

    df = load(spark, conf["source"])
    if conf.get("log-count", False):
        print(f"moved rows: {save_counted(df, conf['target'])}")
    else:
        save(df, conf["target"])
    print(f"execution time: {time.time() - t0:.1f}s")
    return 0


def main_scorer(argv: list[str] | None = None) -> int:
    """Distributed batch inference (``scorer.py:12-65``): load → key
    hygiene → pandify → score → audit columns → sink.

    ``score`` runs a linear-family model as one Catalyst projection and
    any other model in Arrow ``mapInPandas``; a NaN prediction is written
    as null on both paths. The printed row count comes from
    ``io.sinks.save_counted``: nothing is cached."""
    conf, _ = _parse_args(argv, "scorer")
    t0 = time.time()
    spark = _session(conf, "scorer")
    from spark_pipeline_spark.io.sinks import save_counted
    from spark_pipeline_spark.io.sources import load
    from spark_pipeline_spark.operators.columns import (
        pandify,
        require_key,
        with_audit_columns,
    )
    from spark_pipeline_spark.operators.scoring import score
    from spark_pipeline_spark.operators.training import load_model

    mconf = conf["model"]
    model = load_model(mconf["path"])
    df = pandify(require_key(load(spark, conf["source"]), mconf.get("uid-column", "uid")))
    scored = score(
        df,
        model,
        cols_to_save=mconf.get("cols-to-save", ["uid", "true_target", "business_dt"]),
        target_class_names=mconf.get("target-class-names"),
        feature_cols=mconf.get("feature-columns"),
        broadcast_model=bool(mconf.get("broadcast-model", False)),
    )
    scored = with_audit_columns(scored, model_name=mconf.get("name", "model"))
    print(f"scored rows: {save_counted(scored, conf['target'])}")
    print(f"execution time: {time.time() - t0:.1f}s")
    return 0


def main_trainer(argv: list[str] | None = None) -> int:
    """Collect-fit-persist (``trainer.py:12-69``): the model factory is an
    importable ``module:function`` path in config (the reference loads a
    ``pipeline.py`` next to the conf; an import path is the
    spark-submit-friendly equivalent)."""
    conf, _ = _parse_args(argv, "trainer")
    t0 = time.time()
    spark = _session(conf, "trainer")
    import importlib

    from spark_pipeline_spark.io.sources import load
    from spark_pipeline_spark.operators.training import train

    mconf = conf["model-definition"]
    mod_name, _, fn_name = mconf["factory"].partition(":")
    factory = getattr(importlib.import_module(mod_name), fn_name or "new_pipeline")
    df = load(spark, mconf["dataset"])
    train(
        df,
        target_col=mconf["target-column"],
        new_model=factory,
        model_path=mconf["path"],
        max_rows=mconf.get("max-rows", 10_000_000),
    )
    print(f"model saved: {mconf['path']}")
    print(f"execution time: {time.time() - t0:.1f}s")
    return 0


def main_validator(argv: list[str] | None = None) -> int:
    """Config-driven data-quality gate (no reference counterpart — the
    expectation verb a training-data warehouse runs before every
    promote): load a source, evaluate the configured rules in one
    aggregate pass, print the report, exit non-zero on any violation.

    Config shape::

        {"source": {...},                      # any load() source
         "rules": [
           {"kind": "not_null", "column": "uid"},
           {"kind": "in_range", "column": "price", "lo": 0, "hi": 1e6},
           {"kind": "accepted_values", "column": "status", "values": ["O"]},
           {"kind": "unique", "columns": ["uid"]}]}
    """
    conf, _ = _parse_args(argv, "validator")
    t0 = time.time()
    spark = _session(conf, "validator")
    from spark_pipeline_spark.io.sources import load
    from spark_pipeline_spark.operators import quality as Q

    builders = {
        "not_null": lambda r: Q.not_null(r["column"]),
        "in_range": lambda r: Q.in_range(r["column"], r["lo"], r["hi"]),
        "accepted_values": lambda r: Q.accepted_values(r["column"], r["values"]),
        "unique": lambda r: Q.unique(*r["columns"]),
    }
    df = load(spark, conf["source"])
    rules = [builders[r["kind"]](r) for r in conf["rules"]]
    report = Q.check(df, rules).collect()
    failed = 0
    for row in report:
        status = "PASS" if row["passed"] else "FAIL"
        failed += 0 if row["passed"] else 1
        print(f"{status} {row['rule']} violations={row['violations']}")
    print(f"execution time: {time.time() - t0:.1f}s")
    return 1 if failed else 0


def main_pipeline(argv: list[str] | None = None) -> int:
    """Config-driven MULTI-step dataflow (north-star extension of the
    reference's single-step mover, which moves exactly one source to one
    sink per invocation — ``mover.py:11-38``): an ordered list of named
    steps, each loading a source and/or running SQL over the steps
    before it. Every step registers as a temp view, so a sink-less step
    costs NOTHING at runtime — the whole pipeline collapses into one
    lazy Catalyst plan per sink, and the optimizer sees across step
    boundaries (filters placed in a late step push down into the first
    step's scan).

    Config shape::

        {"steps": [
           {"name": "raw",  "source": {...}},             # any load() source
           {"name": "agg",  "sql": "SELECT ... FROM raw"},
           {"name": "out",  "sql": "SELECT ... FROM agg JOIN raw USING (k)",
            "cache": true,                                # optional: reused 2+ times
            "target": {...}}]}                            # any save() sink

    Steps may combine ``source`` + ``target`` (a mover step), ``sql`` +
    ``target`` (transform step), or just ``sql`` (pure intermediate
    view). ``cache: true`` persists a step consumed by several later
    steps/sinks so it computes once.
    """
    conf, _ = _parse_args(argv, "pipeline")
    t0 = time.time()
    spark = _session(conf, "pipeline")
    from spark_pipeline_spark.io.sinks import save
    from spark_pipeline_spark.io.sources import load

    seen: set[str] = set()
    for step in conf["steps"]:
        name = step.get("name")
        if not name:
            raise ValueError("every pipeline step needs a name")
        if name in seen:
            raise ValueError(f"duplicate step name {name!r}")
        seen.add(name)
        if ("source" in step) == ("sql" in step):
            raise ValueError(f"step {name!r} needs exactly one of source|sql")
        df = load(spark, step["source"]) if "source" in step else spark.sql(step["sql"])
        if step.get("cache", False):
            df = df.cache()
        df.createOrReplaceTempView(name)
        if "target" in step:
            save(df, step["target"])
            print(f"step {name}: saved")
        else:
            print(f"step {name}: registered")
    print(f"execution time: {time.time() - t0:.1f}s")
    return 0


def main_query(argv: list[str] | None = None) -> int:
    """Run any registered analytics query by name against a parquet
    table directory and write the result to a config sink — the verb
    that turns the 240+-query registry into an operable surface
    (cron a dedup report, materialize a drift table) without writing
    Spark code.

    Config shape::

        {"query": "dedup_minhash_lsh_documents",   # registry name
         "sf-dir": "/data/tables",                 # parquet table dir
         "limit": 1000,                            # optional
         "sink": {...}}                            # any save() sink;
                                                   # omit to print 20 rows

    ``--conf file.json`` plus ``key=value`` dotted overrides, like every
    other verb. Unknown names and missing required keys exit 2 with a
    message (never a bare traceback). ``limit`` without an ordering
    materializes an ARBITRARY row subset — the row set may differ across
    runs; a warning says so.
    """
    conf, _ = _parse_args(argv, "query")
    t0 = time.time()
    from spark_pipeline_spark.queries import REGISTRY

    missing = [k for k in ("query", "sf-dir") if not conf.get(k)]
    if missing:
        print(f"query config missing required key(s): {', '.join(missing)}")
        return 2
    name = conf["query"]
    if name not in REGISTRY:
        import difflib

        close = difflib.get_close_matches(name, REGISTRY, n=5, cutoff=0.4)
        print(f"unknown query {name!r}; closest: {', '.join(close) or '-'}")
        return 2
    spark = _session(conf, "query")
    df = REGISTRY[name].fn(spark, conf["sf-dir"])
    if conf.get("limit") is not None:
        print(
            "warning: 'limit' on an unordered result keeps an arbitrary "
            "row subset (may differ across runs)"
        )
        df = df.limit(int(conf["limit"]))
    if "sink" in conf:
        from spark_pipeline_spark.io.sinks import save

        save(df, conf["sink"])
    else:
        df.show(20, truncate=False)
    print(f"execution time: {time.time() - t0:.1f}s")
    return 0


def main_ann(argv: list[str] | None = None) -> int:
    """Operate the persisted IVF index (`ann_index.py`) from a config —
    the verb that turns the ANN lifecycle into a config + cron line,
    exactly like ``refresher`` does for aggregate snapshots.

    Config shape::

        {"index-path": "/data/ann_index",
         "action": "build" | "refresh" | "search" | "purge" | "expire"
                   | "rebuild" | "stats",
         # build / refresh / search:
         "source": {...},              # any load() source of vectors
         "id-col": "vec_id",           # default
         "vec-col": "embedding",       # default
         "k-cells": 4,                 # build (default 4) / rebuild
                                       #   (default: keep current count)
         "pq-m": 2, "pq-k": 4,         # build: opt-in PQ layer; rebuild:
                                       #   default keep, pq-m 0 drops it
         "iters": 0,                   # build/rebuild: Lloyd rounds
         "batch-id": 7,                # refresh only: replay-idempotent id
         # search: source = the query vectors
         "k": 5, "nprobe": 1,
         "quantized": true | "pq",    # int8 or PQ-ADC scan + float rerank
         # purge:
         "ids": [1, 2, 3],             # or "ids-source": {...} one-col source
         # expire / compact (compact: flat code tables only):
         "keep-last-n": 30,
         # refresh / search / stats: optional result sink
         "sink": {...}}

    Missing/unknown keys exit 2 with a message, never a bare traceback.
    """
    conf, _ = _parse_args(argv, "ann")
    t0 = time.time()
    action = conf.get("action")
    if action not in (
        "build", "refresh", "search", "purge", "expire", "compact",
        "rebuild", "stats",
    ):
        print(
            f"ann config 'action' must be build/refresh/search/purge/expire/"
            f"compact/rebuild/stats, got {action!r}"
        )
        return 2
    if not conf.get("index-path"):
        print("ann config missing required key: index-path")
        return 2
    index_path = conf["index-path"]
    spark = _session(conf, "ann")
    from spark_pipeline_spark import ann_index
    from spark_pipeline_spark.io.sources import load

    id_col = conf.get("id-col", "vec_id")
    vec_col = conf.get("vec-col", "embedding")
    report = None
    if action == "build":
        if not conf.get("source"):
            print("ann build requires 'source'")
            return 2
        pq_m = conf.get("pq-m")
        info = ann_index.build_ivf_index(
            spark, load(spark, conf["source"]), index_path,
            k_cells=int(conf.get("k-cells", 4)),
            iters=int(conf.get("iters", 0)),
            id_col=id_col, vec_col=vec_col,
            pq_m=None if pq_m is None else int(pq_m),
            pq_k=int(conf.get("pq-k", 4)),
        )
        print(f"built index: {info}")
    elif action == "refresh":
        if not conf.get("source"):
            print("ann refresh requires 'source'")
            return 2
        batch_id = conf.get("batch-id")
        report = ann_index.refresh_ivf_index(
            spark, load(spark, conf["source"]), index_path,
            batch_id=None if batch_id is None else int(batch_id),
            id_col=id_col, vec_col=vec_col,
        )
    elif action == "search":
        if not conf.get("source"):
            print("ann search requires 'source' (the query vectors)")
            return 2
        # quantized: false/absent = float scan; true = int8 scan +
        # float rerank; "pq" = ADC codes_pq scan + float rerank
        quant = conf.get("quantized")
        if quant == "pq":
            fn = ann_index.ivf_index_search_pq
        elif quant:
            fn = ann_index.ivf_index_search_int8
        else:
            fn = ann_index.ivf_index_search
        report = fn(
            spark, index_path, load(spark, conf["source"]),
            k=int(conf.get("k", 5)), nprobe=int(conf.get("nprobe", 1)),
            query_id=id_col, vec_col=vec_col,
        )
    elif action == "purge":
        if conf.get("ids") is not None:
            ids = local_frame(
                spark, [(int(i),) for i in conf["ids"]], f"{id_col} long"
            )
        elif conf.get("ids-source"):
            ids = load(spark, conf["ids-source"])
        else:
            print("ann purge requires 'ids' or 'ids-source'")
            return 2
        print(
            "purged:",
            ann_index.purge_ids_from_ivf_index(spark, index_path, ids),
        )
    elif action == "expire":
        if conf.get("keep-last-n") is None:
            print("ann expire requires 'keep-last-n'")
            return 2
        from spark_pipeline_spark.streaming import expire_index_batches

        print(
            "expired:",
            expire_index_batches(
                spark, index_path, int(conf["keep-last-n"]),
                ("assignments", "codes", "codes_pq"),
            ),
        )
    elif action == "rebuild":
        # retrain centroids from the index's own corpus; one commit of
        # the whole index root — the acted-on path for the drift alarms
        k_cells = conf.get("k-cells")
        pq_m = conf.get("pq-m")
        info = ann_index.rebuild_ivf_index(
            spark, index_path,
            k_cells=None if k_cells is None else int(k_cells),
            iters=int(conf.get("iters", 0)),
            pq_m=None if pq_m is None else int(pq_m),
            pq_k=None if conf.get("pq-k") is None else int(conf["pq-k"]),
        )
        print(f"rebuilt index: {info}")
    elif action == "compact":
        if conf.get("keep-last-n") is None:
            print("ann compact requires 'keep-last-n'")
            return 2
        from spark_pipeline_spark.streaming import compact_ann_index

        # the per-family wrapper owns the sub-table list: flat code
        # tables only — assignments/ is cell-partitioned and the engine
        # refuses it (its layout is the search's partition pruning)
        print(
            "compacted:",
            compact_ann_index(spark, index_path, int(conf["keep-last-n"])),
        )
    else:  # stats
        report = (
            ann_index.ivf_index_pq_stats(spark, index_path)
            if conf.get("pq")
            else ann_index.ivf_index_stats(spark, index_path)
        )
    if report is not None:
        if "sink" in conf:
            from spark_pipeline_spark.io.sinks import save

            save(report, conf["sink"])
        else:
            report.show(50, truncate=False)
    print(f"execution time: {time.time() - t0:.1f}s")
    return 0


def main_bpe(argv: list[str] | None = None) -> int:
    """Operate a persisted BPE vocabulary (`operators/bpe.py`) from a
    config — the tokenizer-lifecycle verb that mirrors ``ann`` for the
    IVF index: build it, watch fertility drift, retrain on alarm.

    Config shape::

        {"vocab-path": "/data/bpe_vocab",
         "action": "build" | "drift" | "retrain" | "stats",
         # build / drift / retrain need a corpus:
         "source": {...},              # any load() source
         # EITHER a raw text column (word counts derived here):
         "text-col": "text",
         # OR a precomputed word-frequency table:
         "term-col": "term", "count-col": "n",
         "n-merges": 8,                # build (default 8); retrain
                                       #   (default: keep current count)
         "alarm-ratio": 1.02,          # drift (default 1.02)
         "sink": {...}}                # drift: optional result sink

    ``drift`` exits 3 (not 0) when the alarm fires, so a cron line can
    chain ``bpe drift || bpe retrain`` without parsing output.
    Missing/unknown keys exit 2 with a message, never a bare traceback.
    """
    from pyspark.sql import functions as F

    conf, _ = _parse_args(argv, "bpe")
    t0 = time.time()
    action = conf.get("action")
    if action not in ("build", "drift", "retrain", "stats"):
        print(
            f"bpe config 'action' must be build/drift/retrain/stats, "
            f"got {action!r}"
        )
        return 2
    if not conf.get("vocab-path"):
        print("bpe config missing required key: vocab-path")
        return 2
    vocab_path = conf["vocab-path"]
    spark = _session(conf, "bpe")
    from spark_pipeline_spark.operators import bpe
    from spark_pipeline_spark.io.sources import load

    def word_counts():
        df = load(spark, conf["source"])
        text_col = conf.get("text-col")
        # resolved column names are validated against the source's
        # actual schema BEFORE the plan is built: a typo'd text-col or
        # a word-frequency table lacking term/n must exit 2 with a
        # message, not escape as a raw AnalysisException (ADVICE r14)
        if text_col:
            need = [text_col]
        else:
            need = [conf.get("term-col", "term"), conf.get("count-col", "n")]
        missing = [c for c in need if c not in df.columns]
        if missing:
            raise _BpeConfigError(
                f"bpe source has no column(s) {missing} "
                f"(source columns: {df.columns}; set "
                f"{'text-col' if text_col else 'term-col/count-col'} "
                f"to match)"
            )
        if text_col:
            return (
                df.select(
                    F.explode(
                        F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
                    ).alias("term")
                )
                .filter(F.col("term") != "")
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("n"))
            )
        return df.select(
            F.col(need[0]).alias("term"),
            F.col(need[1]).cast("long").alias("n"),
        )

    if action in ("build", "drift", "retrain") and not conf.get("source"):
        print(f"bpe {action} requires 'source'")
        return 2

    rc = 0
    try:
        rc = _bpe_dispatch(spark, bpe, conf, action, vocab_path, word_counts)
    except _BpeConfigError as exc:
        print(str(exc))
        return 2
    print(f"execution time: {time.time() - t0:.1f}s")
    return rc


class _BpeConfigError(Exception):
    """A bpe config error detected after session startup (e.g. a column
    name that does not exist in the resolved source) — mapped to exit 2
    by ``main_bpe``, honoring its no-bare-traceback contract."""


def _bpe_dispatch(spark, bpe, conf, action, vocab_path, word_counts) -> int:
    rc = 0
    if action == "build":
        info = bpe.build_bpe_vocab(
            spark, word_counts(), vocab_path,
            n_merges=int(conf.get("n-merges", 8)),
        )
        print(f"built vocab: {info}")
    elif action == "drift":
        report = bpe.bpe_fertility_drift(
            spark, vocab_path, word_counts(),
            alarm_ratio=float(conf.get("alarm-ratio", 1.02)),
        )
        row = report.first().asDict()
        if "sink" in conf:
            from spark_pipeline_spark.io.sinks import save

            save(report, conf["sink"])
        print(f"drift: {row}")
        rc = 3 if row["alarm"] else 0
    elif action == "retrain":
        n_merges = conf.get("n-merges")
        info = bpe.retrain_bpe_vocab(
            spark, vocab_path, word_counts(),
            n_merges=None if n_merges is None else int(n_merges),
        )
        print(f"retrained vocab: {info}")
    else:  # stats
        print(f"vocab stats: {bpe.bpe_vocab_stats(spark, vocab_path)}")
    return rc


def main_refresher(argv: list[str] | None = None) -> int:
    """Incrementally refresh a persisted aggregate snapshot from a delta
    source — the operational wrapper over ``operators/incremental.py``
    that turns "maintain this rollup nightly" into a config + cron line
    instead of a full-history recompute. First run (no snapshot yet)
    bootstraps ``aggregate_snapshot(delta)``; every later run costs
    O(|delta| + |snapshot|), never O(|history|).

    Config shape::

        {"snapshot": {"path": "..."},          # parquet snapshot dir
         "delta":    {...},                    # any load() source
         "delta-id": "2026-08-14",             # optional: retry guard id
         "keys":     ["k1", ...],
         "aggregates": {"out_col": {"kind": "sum|count|min|max",
                                    "column": "src_col"}, ...}}

    Crash safety (the streaming sinks' commit, ``io.commit``): the
    merged result is written once into a staging sidecar and renamed
    over the snapshot, so the snapshot is never torn. A crash mid-commit
    is finished when the next run opens the snapshot (it reports
    "recovered snapshot"), before anything else happens; history is never
    silently discarded into a delta-only bootstrap. With ``delta-id``
    set, the snapshot carries a bounded ledger of the last ``_LEDGER_CAP``
    applied ids (``__applied_delta_ids``, plus ``__last_delta_id`` for
    inspection) and a rerun with ANY ledgered id is a NO-OP — covering
    both "re-run the failed cron job" and the out-of-order retry of an
    older delta after newer ones applied. Replays older than the ledger
    horizon (> ``_LEDGER_CAP`` refreshes back) are not detectable.
    """
    conf, _ = _parse_args(argv, "refresher")
    t0 = time.time()
    spark = _session(conf, "refresher")
    from pyspark.sql import functions as F

    from spark_pipeline_spark.io.commit import commit, heal, open_table
    from spark_pipeline_spark.io.sources import load
    from spark_pipeline_spark.operators.incremental import (
        aggregate_snapshot,
        incremental_agg_merge,
    )

    keys = list(conf["keys"])
    spec = {
        out: (a["kind"], a["column"]) for out, a in conf["aggregates"].items()
    }
    delta_id = conf.get("delta-id")
    if delta_id is not None and "\x1f" in str(delta_id):
        # \x1f is the ledger separator; an id containing it would split
        # into multiple ledger entries on the next read and make a later
        # delta matching one fragment a silent false no-op
        raise SystemExit(
            f"delta-id {delta_id!r} contains the reserved ledger separator "
            "U+001F; choose an id without control characters"
        )
    path = conf["snapshot"]["path"]

    if heal(spark, path):
        print("recovered snapshot from an interrupted commit")
    snap_full = open_table(spark, path)

    applied: list[str] = []
    if snap_full is not None:
        # replay ledger: the last _LEDGER_CAP applied delta ids ride in the
        # snapshot itself (same column value on every row — the snapshot is
        # an aggregate, so rows = groups, and the ledger string is bounded),
        # which keeps the guard inside the commit's atomicity. A
        # bounded ledger protects against ANY retry within the last
        # _LEDGER_CAP refreshes — including out-of-order cron retries of an
        # OLDER delta after newer ones applied, which a latest-id-only
        # guard silently double-merges (ADVICE r7). Replays older than the
        # ledger horizon are operator error and documented as such.
        if "__applied_delta_ids" in snap_full.columns:
            row = snap_full.select("__applied_delta_ids").first()
            if row and row[0]:
                applied = row[0].split("\x1f")
        elif "__last_delta_id" in snap_full.columns:  # pre-ledger snapshots
            last = snap_full.select(F.max("__last_delta_id")).collect()[0][0]
            if last is not None:
                applied = [last]
        if delta_id is not None and str(delta_id) in applied:
            print(f"delta {delta_id!r} already applied: no-op")
            print(f"execution time: {time.time() - t0:.1f}s")
            return 0
        delta = load(spark, conf["delta"])
        snap = snap_full.select(*keys, *spec)
        new = incremental_agg_merge(snap, delta, keys, spec)
        action = "merged"
    else:
        delta = load(spark, conf["delta"])
        new = aggregate_snapshot(delta, keys, spec)
        action = "bootstrapped"
    if delta_id is not None:
        ledger = (applied + [str(delta_id)])[-_LEDGER_CAP:]
        new = new.withColumn(
            "__applied_delta_ids", F.lit("\x1f".join(ledger))
        ).withColumn("__last_delta_id", F.lit(str(delta_id)))
    commit(spark, path, new.write.mode("overwrite").parquet)
    print(f"{action} snapshot rows: {spark.read.parquet(path).count()}")
    print(f"execution time: {time.time() - t0:.1f}s")
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(
        "invoke via the mover/scorer/trainer/validator/pipeline/refresher/"
        "query/ann console scripts or call main_mover/main_scorer/"
        "main_trainer/main_validator/main_pipeline/main_refresher/"
        "main_query/main_ann directly"
    )
