"""The four workloads: one iteration each, its correctness check and its
DuckDB / numpy oracle.

Each iteration calls the package's public functions in the order its CLI
verb does, with a span around every call into a layer:

- ``etl_move``: ``main_pipeline`` — two ``load`` steps, a SQL join and
  aggregate, a partitioned ``save``, then filtered read-backs.
- ``batch_score``: ``main_trainer`` then ``main_scorer`` — ``train``
  (collect + fit ``OLSModel``), ``score`` with ``LogisticModel``,
  ``with_audit_columns``, cache + count, ``save``.
- ``corpus_dedup``: the ``corpus_prep_end_to_end`` quality filter and exact
  dedup, ``minhash_index_tables``, ``minhash_near_dup_pairs``,
  ``connected_components_star``, keep-set ``save``.
- ``ann_serve``: ``main_ann`` build, refresh, then a top-k search batch.

An oracle runs once per seed before the session starts; every iteration
is checked against it.
"""

from __future__ import annotations

import os
from typing import Callable

import numpy as np

from perfbench.gen import BATCH_FEATURES


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Workload:
    name = ""

    def __init__(self, spark, tracer, inputs: dict, expect: dict, work_dir: str) -> None:
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.expect = expect
        self.work = work_dir
        self.extras: dict = {}  # per-layer values the trace cannot see

    def iterate(self, i: int) -> Callable[[], list[str]]:
        """Run one iteration; return its check, which lists the problems
        found. The caller times the iteration without the check."""
        raise NotImplementedError

    def after_loop(self) -> None:
        """Traced runs only: per-layer values measured once, after the loop."""


# --------------------------------------------------------------------------
# etl_move
# --------------------------------------------------------------------------

ETL_SQL = """
SELECT o.o_custkey AS customer, o.o_month AS month,
       count(*) AS n_lines, count(DISTINCT o.o_orderkey) AS n_orders,
       sum(l.l_quantity) AS qty,
       sum(l.l_price_cents * (100 - l.l_discount_pct)) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_status <> 'P'
GROUP BY o.o_custkey, o.o_month
"""
ETL_COLS = ["customer", "month", "n_lines", "n_orders", "qty", "revenue"]


class EtlMove(Workload):
    name = "etl_move"

    @staticmethod
    def oracle(con, inputs: dict, seed: int) -> dict:
        p = inputs["paths"]
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{p['orders']}')")
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{p['lineitem']}')")
        rows = con.execute(ETL_SQL).fetchall()
        months = np.random.default_rng([seed, 11]).choice(inputs["months"], 2, replace=False)
        by_month = {int(m): sorted(r for r in rows if r[1] == m) for m in months}
        return {"groups": len(rows), "revenue": sum(r[5] for r in rows), "by_month": by_month}

    def iterate(self, i: int) -> Callable[[], list[str]]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from spark_pipeline_spark.io.sinks import save
        from spark_pipeline_spark.io.sources import load

        spark, tr, p = self.spark, self.tr, self.inputs["paths"]
        out = f"{self.work}/etl_out"
        for name in ("orders", "lineitem"):
            with tr.span("io.sources", "load"):
                df = load(spark, {"storage": "file", "path": p[name]})
            df.createOrReplaceTempView(name)
        obs = Observation()
        agg = spark.sql(ETL_SQL).observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("revenue").alias("revenue")
        )
        with tr.span("io.sinks", "save"):
            save(agg, {"storage": "file", "path": out, "partition-by": "month"})
        self.extras["sink_dir"] = out
        got = {}
        for month in self.expect["by_month"]:
            with tr.span("io.sources", "load"):
                got[month] = load(spark, {
                    "storage": "file", "path": out,
                    "transform-sql": f"SELECT * FROM dataset_temp WHERE month = {month}",
                }).select(*ETL_COLS).collect()

        def check() -> list[str]:
            problems = []
            written = (obs.get["n"], obs.get["revenue"])
            if written != (self.expect["groups"], self.expect["revenue"]):
                problems.append(f"written groups/revenue {written} != oracle")
            for month, want in self.expect["by_month"].items():
                if sorted(tuple(r) for r in got[month]) != [tuple(r) for r in want]:
                    problems.append(f"month {month}: rows differ from oracle")
            return problems
        return check


# --------------------------------------------------------------------------
# batch_score
# --------------------------------------------------------------------------

AUDIT_DT = "2026-01-01 00:00:00"


def _ols(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, float]:
    xm, ym = x.mean(axis=0), y.mean()
    coef = np.linalg.solve((x - xm).T @ (x - xm), (x - xm).T @ (y - ym))
    return coef, float(ym - xm @ coef)


class BatchScore(Workload):
    name = "batch_score"

    @staticmethod
    def oracle(con, inputs: dict, seed: int) -> dict:
        import pyarrow.parquet as pq

        t = pq.read_table(inputs["paths"]["features"])
        x = np.column_stack([t[f].to_numpy() for f in BATCH_FEATURES])
        y = t["y"].to_numpy()
        every = inputs["train_every"]
        coef, icpt = _ols(x[::every], y[::every])
        proba = 1.0 / (1.0 + np.exp(-(x @ coef + icpt)))
        starts = np.random.default_rng([seed, 12]).integers(0, len(y) - 100, 2)
        return {
            "coef": coef, "intercept": icpt, "n": len(y), "sum": float(proba.sum()),
            "windows": {int(s): proba[s:s + 100] for s in starts},
        }

    def iterate(self, i: int) -> Callable[[], list[str]]:
        from pyspark.sql import functions as F

        from spark_pipeline_spark.io.sinks import save
        from spark_pipeline_spark.io.sources import load
        from spark_pipeline_spark.models import LogisticModel, OLSModel
        from spark_pipeline_spark.operators.columns import (
            pandify, require_key, with_audit_columns,
        )
        from spark_pipeline_spark.operators.scoring import score
        from spark_pipeline_spark.operators.training import train

        spark, tr, e = self.spark, self.tr, self.expect
        path = self.inputs["paths"]["features"]
        out = f"{self.work}/scores"
        every = self.inputs["train_every"]
        feats = ", ".join(BATCH_FEATURES)
        with tr.span("io.sources", "load"):
            train_df = load(spark, {
                "storage": "file", "path": path,
                "transform-sql": f"SELECT {feats}, y FROM dataset_temp WHERE uid % {every} = 0",
            })
        with tr.span("operators.training", "train"):
            ols = train(train_df, target_col="y", new_model=lambda: OLSModel(BATCH_FEATURES))
        self.extras["collected_rows"] = self.inputs["train_rows"]
        model = LogisticModel(dict(zip(BATCH_FEATURES, ols.coef_)), ols.intercept_)
        with tr.span("io.sources", "load"):
            df = pandify(require_key(load(spark, {"storage": "file", "path": path}), "uid"))
        with tr.span("operators.scoring", "score"):
            scored = with_audit_columns(
                score(df, model, cols_to_save=["uid"], feature_cols=BATCH_FEATURES),
                model_name="ols-logistic", current_dt=AUDIT_DT,
            ).cache()
            n, total = scored.agg(F.count(F.lit(1)), F.sum("target_proba")).first()
        with tr.span("io.sinks", "save"):
            save(scored, {"storage": "file", "path": out})
        scored.unpersist()
        self.extras["sink_dir"] = out
        got = {}
        for start, want in e["windows"].items():
            last = start + len(want) - 1
            with tr.span("io.sources", "load"):
                got[start] = load(spark, {
                    "storage": "file", "path": out,
                    "transform-sql": "SELECT CAST(uid AS BIGINT) AS uid, target_proba "
                    f"FROM dataset_temp WHERE CAST(uid AS BIGINT) BETWEEN {start} AND {last}",
                }).toPandas()

        def check() -> list[str]:
            problems = []
            if not np.allclose(ols.coef_, e["coef"], rtol=1e-9, atol=1e-12):
                problems.append("OLS coefficients differ from numpy")
            if n != e["n"] or abs(total - e["sum"]) > 1e-9 * n:
                problems.append(f"scored n={n} sum={total} != oracle {e['n']} {e['sum']}")
            for start, want in e["windows"].items():
                proba = got[start].sort_values("uid")["target_proba"].to_numpy()
                if proba.shape != want.shape or not np.allclose(proba, want, rtol=1e-9,
                                                                atol=1e-12):
                    problems.append(f"scores at uid {start}.. differ from numpy")
            return problems
        return check


# --------------------------------------------------------------------------
# corpus_dedup
# --------------------------------------------------------------------------

def _prep_sql() -> str:
    """DuckDB form of corpus_prep_end_to_end's quality filter + exact dedup."""
    from spark_pipeline_spark.queries import _SQL_QUALITY

    return rf"""
        SELECT doc_id, source, text FROM raw_documents
        WHERE {_SQL_QUALITY} >= 0.5
        QUALIFY row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))
          ORDER BY doc_id) = 1
    """


def _pairs_sql() -> str:
    from spark_pipeline_spark.queries import _sql_minhash_cte

    return f"""
        WITH {_sql_minhash_cte(16, 4)},
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               len(list_intersect(sa.sh, sb.sh))::DOUBLE
               / greatest(len(sa.sh) + len(sb.sh)
                          - len(list_intersect(sa.sh, sb.sh)), 1) AS j
        FROM cand
          JOIN nonempty sa ON sa.doc_id = id_a
          JOIN nonempty sb ON sb.doc_id = id_b
    """


def _min_roots(pairs: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _prep(docs):
    """corpus_prep_end_to_end's quality filter and normalized exact dedup."""
    from pyspark.sql import functions as F

    from spark_pipeline_spark.operators import text as T
    from spark_pipeline_spark.operators.dedup import dedup_exact

    kept = docs.select("doc_id", "source", "text").filter(T.quality_score("text") >= 0.5)
    fp = kept.withColumn("__fp", F.md5(T.normalize_text(F.col("text"))))
    return dedup_exact(fp, ["__fp"], "doc_id").drop("__fp")


class CorpusDedup(Workload):
    name = "corpus_dedup"

    @staticmethod
    def oracle(con, inputs: dict, seed: int) -> dict:
        """Candidates and verified pairs from the MinHash CTEs of the
        ``dedup_pipeline_end_to_end_documents`` oracle; components by
        union-find here (that oracle's recursive-CTE closure takes ~45 s)."""
        path = inputs["paths"]["documents"]
        con.execute(f"CREATE VIEW raw_documents AS SELECT * FROM read_parquet('{path}')")
        con.execute(f"CREATE TABLE documents AS {_prep_sql()}")
        prepped = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
        scored = con.execute(_pairs_sql()).fetchall()
        pairs = [(a, b) for a, b, j in scored if j >= 0.7]
        roots = _min_roots(pairs)
        keep = sorted(d for d in prepped if roots.get(d, d) == d)
        lo = int(np.random.default_rng([seed, 13]).integers(0, inputs["rows"] - 200))
        return {
            "prepped": len(prepped), "pairs": len(pairs),
            "keep": len(keep), "window": (lo, lo + 199),
            "window_keep": [d for d in keep if lo <= d <= lo + 199],
            "near_dup_share_measured": round((len(prepped) - len(keep)) / inputs["rows"], 4),
        }

    def iterate(self, i: int) -> Callable[[], list[str]]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from spark_pipeline_spark.io.sinks import save
        from spark_pipeline_spark.io.sources import load
        from spark_pipeline_spark.operators.dedup import (
            minhash_index_tables, minhash_near_dup_pairs,
        )
        from spark_pipeline_spark.operators.graph import (
            connected_components_star, dedup_representatives,
        )
        from spark_pipeline_spark.session import query_persist

        spark, tr, e = self.spark, self.tr, self.expect
        out = f"{self.work}/keep"
        with tr.span("io.sources", "load"):
            docs = load(spark, {"storage": "file", "path": self.inputs["paths"]["documents"]})
        with tr.span("operators.dedup", "exact"):
            prepped = query_persist(_prep(docs))
            n_prepped = prepped.count()
        with tr.span("operators.dedup", "index"):
            shingles, bands = minhash_index_tables(prepped, "doc_id", "text")
            bands.count()
        with tr.span("operators.dedup", "pairs"):
            pairs = query_persist(minhash_near_dup_pairs(
                None, "doc_id", "text", threshold=0.7, shingles=shingles, bands_table=bands,
            ).select("id_a", "id_b"))
            n_pairs = pairs.count()
        self.extras["verified_pairs"] = n_pairs
        with tr.span("operators.graph", "components"):
            comp = connected_components_star(pairs, src="id_a", dst="id_b")
            keep = dedup_representatives(prepped, comp, "doc_id")
        obs = Observation()
        with tr.span("io.sinks", "save"):
            save(keep.observe(obs, F.count(F.lit(1)).alias("n")),
                 {"storage": "file", "path": out})
        self.extras["sink_dir"] = out
        lo, hi = e["window"]

        with tr.span("io.sources", "load"):
            window = load(spark, {
                "storage": "file", "path": out,
                "transform-sql": f"SELECT doc_id FROM dataset_temp "
                f"WHERE doc_id BETWEEN {lo} AND {hi}",
            }).collect()

        def check() -> list[str]:
            problems = []
            got = (n_prepped, n_pairs, obs.get["n"])
            if got != (e["prepped"], e["pairs"], e["keep"]):
                problems.append(f"prepped/pairs/keep {got} != oracle")
            if sorted(r[0] for r in window) != e["window_keep"]:
                problems.append("keep-set window differs from oracle")
            return problems
        return check

    def after_loop(self) -> None:
        """Candidate pairs: the banded self-join before verification."""
        from pyspark.sql import functions as F

        from spark_pipeline_spark.io.sources import load
        from spark_pipeline_spark.operators.dedup import minhash_index_tables
        from spark_pipeline_spark.session import release_query_caches

        docs = load(self.spark, {"storage": "file", "path": self.inputs["paths"]["documents"]})
        _, bands = minhash_index_tables(_prep(docs), "doc_id", "text")
        a, b = bands.alias("a"), bands.alias("b")
        self.extras["candidate_pairs"] = a.join(
            b,
            (F.col("a.__band") == F.col("b.__band")) & (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.__id") < F.col("b.__id")),
        ).select("a.__id", "b.__id").distinct().count()
        release_query_caches()


# --------------------------------------------------------------------------
# ann_serve
# --------------------------------------------------------------------------

# recall@10 of this index over seeds 1-300 (numpy replay): min 0.74, median 0.95
ANN_K, ANN_NPROBE, ANN_MIN_RECALL = 10, 2, 0.6


class AnnServe(Workload):
    name = "ann_serve"

    @staticmethod
    def oracle(con, inputs: dict, seed: int) -> dict:
        import pyarrow.parquet as pq

        def vecs(name: str) -> tuple[np.ndarray, np.ndarray]:
            t = pq.read_table(inputs["paths"][name])
            v = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype("float64")
            return t["vec_id"].to_numpy(), v

        cid, cv = vecs("corpus")
        did, dv = vecs("delta")
        qid, qv = vecs("queries")
        ids, base = np.concatenate([cid, did]), np.concatenate([cv, dv])
        base_n = base / np.linalg.norm(base, axis=1, keepdims=True)
        q_n = qv / np.linalg.norm(qv, axis=1, keepdims=True)
        sims = q_n @ base_n.T
        top = ids[np.argsort(-sims, axis=1, kind="stable")[:, :ANN_K]]
        return {
            "truth": {int(q): set(top[r].tolist()) for r, q in enumerate(qid)},
            "sims": sims, "qpos": {int(q): r for r, q in enumerate(qid)},
            "idpos": {int(x): c for c, x in enumerate(ids)},
        }

    def iterate(self, i: int) -> Callable[[], list[str]]:
        from spark_pipeline_spark import ann_index
        from spark_pipeline_spark.io.sources import load

        spark, tr, e, p = self.spark, self.tr, self.expect, self.inputs["paths"]
        idx = f"{self.work}/ann_index"
        with tr.span("io.sources", "load"):
            corpus = load(spark, {"storage": "file", "path": p["corpus"]})
            delta = load(spark, {"storage": "file", "path": p["delta"]})
        with tr.span("ann_index", "build"):
            ann_index.build_ivf_index(spark, corpus, idx, k_cells=self.inputs["k_cells"])
        with tr.span("ann_index", "refresh"):
            report = ann_index.refresh_ivf_index(spark, delta, idx, batch_id=1).collect()
        self.extras["index_dir"] = idx
        nq = self.inputs["queries"]

        with tr.span("ann_index", "search"):
            q = load(spark, {"storage": "file", "path": p["queries"]})
            rows = ann_index.ivf_index_search(spark, idx, q, k=ANN_K, nprobe=ANN_NPROBE).collect()

        def check() -> list[str]:
            problems = []
            if sum(r["n_new"] for r in report) != self.inputs["delta"]:
                problems.append("refresh report lost delta rows")
            got: dict[int, list] = {}
            for r in rows:
                got.setdefault(r["query_id"], []).append(r)
            if len(got) != nq or any(
                sorted(x["rank"] for x in v) != list(range(1, ANN_K + 1)) for v in got.values()
            ):
                problems.append("search result shape wrong")
            hits = 0
            for qid, v in got.items():
                hits += sum(x["neighbor_id"] in e["truth"][qid] for x in v)
                sims = e["sims"][e["qpos"][qid]]
                if any(abs(x["cosine"] - sims[e["idpos"][x["neighbor_id"]]]) > 1e-6 for x in v):
                    problems.append(f"query {qid}: cosine differs from numpy")
            recall = hits / (nq * ANN_K)
            self.extras["recall_at_10"] = recall
            if recall < ANN_MIN_RECALL:
                problems.append(f"recall@10 {recall:.3f} < {ANN_MIN_RECALL}")
            return problems
        return check


WORKLOADS = {w.name: w for w in (EtlMove, BatchScore, CorpusDedup, AnnServe)}
