"""Seeded input generators, one per workload.

Every generator is a pure function of ``(seed, size)`` that writes parquet
files with numpy + pyarrow only (no Spark), so the program under test only
ever sees the generated files. The same seed gives byte-identical files;
``describe`` records their hash, sizes and the input property the workload
depends on.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Starting sizes. They are small because one run, JVM start and warm-up
# included, must stay within about a minute on 4 cores: at these sizes
# Spark's per-job scheduling floor, not the data volume, sets most
# iteration times.
SIZES = {
    "etl_move": {"lineitem_rows": 300_000, "customers": 5_000, "months": 24},
    "batch_score": {"rows": 200_000, "features": 8, "train_every": 20},
    "corpus_dedup": {"docs": 2_500, "near_dup_share": 0.2, "exact_dup_share": 0.03,
                     "low_quality_share": 0.05},
    "ann_serve": {"corpus": 4_000, "delta": 400, "dim": 32, "clusters": 16,
                  "k_cells": 8, "queries": 16},
}

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "that")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd", row_group_size=1 << 20)


def _file_hash(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def describe(paths: dict[str, str], props: dict) -> dict:
    files = list(paths.values())
    return {
        "paths": paths,
        "bytes": sum(os.path.getsize(p) for p in files),
        "sha256_16": _file_hash(files),
        **props,
    }


def gen_etl_move(seed: int, out_dir: str, size: dict | None = None) -> dict:
    """Orders + lineitem with a Zipf-skewed customer key."""
    s = dict(SIZES["etl_move"], **(size or {}))
    rng = np.random.default_rng([seed, 1])
    n_li = s["lineitem_rows"]
    n_ord = n_li // 4
    n_cust = s["customers"]
    # Zipf(1.3) ranks folded onto the customer range, then permuted so the
    # heavy customers are not simply the lowest ids
    ranks = (rng.zipf(1.3, n_ord) - 1) % n_cust
    cust = rng.permutation(n_cust)[ranks].astype("int64")
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": cust,
        "o_month": rng.integers(0, s["months"], n_ord).astype("int32"),
        "o_status": rng.choice(np.array(["F", "O", "P"]), n_ord),
    })
    li_order = np.sort(rng.integers(0, n_ord, n_li)).astype("int64")
    lineitem = pa.table({
        "l_orderkey": li_order,
        "l_quantity": rng.integers(1, 51, n_li).astype("int64"),
        "l_price_cents": rng.integers(100, 10_000_000, n_li).astype("int64"),
        "l_discount_pct": rng.integers(0, 11, n_li).astype("int64"),
    })
    paths = {"orders": f"{out_dir}/orders.parquet", "lineitem": f"{out_dir}/lineitem.parquet"}
    _write(orders, paths["orders"])
    _write(lineitem, paths["lineitem"])
    li_cust = cust[li_order]
    top_share = np.bincount(li_cust, minlength=n_cust).max() / n_li
    return describe(paths, {
        "rows": n_li,
        "orders": n_ord,
        "months": s["months"],
        "customers": n_cust,
        "top_customer_share": round(float(top_share), 4),
    })


BATCH_FEATURES = [f"f{i}" for i in range(SIZES["batch_score"]["features"])]


def gen_batch_score(seed: int, out_dir: str, size: dict | None = None) -> dict:
    """A feature table ``(uid, f0..f7, y)`` with a linear target plus noise."""
    s = dict(SIZES["batch_score"], **(size or {}))
    rng = np.random.default_rng([seed, 2])
    n = s["rows"]
    x = rng.normal(0.0, 1.0, (n, len(BATCH_FEATURES)))
    w = rng.normal(0.0, 0.5, len(BATCH_FEATURES))
    y = x @ w + 0.25 + rng.normal(0.0, 0.1, n)
    cols = {"uid": np.arange(n, dtype="int64")}
    cols.update({f: x[:, i] for i, f in enumerate(BATCH_FEATURES)})
    cols["y"] = y
    paths = {"features": f"{out_dir}/features.parquet"}
    _write(pa.table(cols), paths["features"])
    return describe(paths, {
        "rows": n,
        "features": len(BATCH_FEATURES),
        "train_rows": len(range(0, n, s["train_every"])),
        "train_every": s["train_every"],
    })


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    words -= set(STOPWORDS_EN)
    return np.array(sorted(words))


def gen_corpus_dedup(seed: int, out_dir: str, size: dict | None = None) -> dict:
    """A text corpus with planted near-duplicate clusters of 2-5 documents,
    some case/punctuation-only exact copies and some low-quality docs.

    Near-duplicates substitute one or two words of a ~60-word base
    document, which keeps their 3-shingle Jaccard well above 0.7.
    """
    s = dict(SIZES["corpus_dedup"], **(size or {}))
    rng = np.random.default_rng([seed, 3])
    n = s["docs"]
    vocab = _vocab(rng, 3000)
    stop = np.array(STOPWORDS_EN)

    def fresh_doc() -> list[str]:
        k = int(rng.integers(40, 90))
        words = rng.choice(vocab, k)
        is_stop = rng.random(k) < 0.25
        words[is_stop] = rng.choice(stop, int(is_stop.sum()))
        return list(words)

    texts: list[str] = []
    planted = 0
    n_near = int(n * s["near_dup_share"])
    while planted < n_near:
        size_c = int(min(rng.integers(2, 6), n_near - planted))
        if size_c < 2:
            break
        base = fresh_doc()
        texts.append(" ".join(base))
        for _ in range(size_c - 1):
            variant = list(base)
            for pos in rng.choice(len(variant), int(rng.integers(1, 3)), replace=False):
                variant[pos] = str(rng.choice(vocab))
            texts.append(" ".join(variant))
        planted += size_c
    n_exact = int(n * s["exact_dup_share"])
    n_low = int(n * s["low_quality_share"])
    while len(texts) < n - n_exact - n_low:
        texts.append(" ".join(fresh_doc()))
    # copies that differ only in case and punctuation: exact dedup drops them
    for src in rng.choice(len(texts), n_exact):
        texts.append(texts[src][0].upper() + texts[src][1:] + ".")
    for _ in range(n_low):
        texts.append(" ".join(f"#{w}!!" for w in rng.choice(vocab, int(rng.integers(3, 8)))))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    table = pa.table({
        "doc_id": np.arange(len(texts), dtype="int64"),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts), pa.string()),
        "source": pa.array([f"src{i % 4}" for i in range(len(texts))], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    paths = {"documents": f"{out_dir}/documents.parquet"}
    _write(table, paths["documents"])
    return describe(paths, {
        "rows": len(texts),
        "planted_near_dup_share": round(planted / len(texts), 4),
        "planted_exact_dups": n_exact,
        "planted_low_quality": n_low,
    })


def gen_ann_serve(seed: int, out_dir: str, size: dict | None = None) -> dict:
    """Clustered unit vectors: a corpus, a delta batch and a query batch."""
    s = dict(SIZES["ann_serve"], **(size or {}))
    rng = np.random.default_rng([seed, 4])
    dim, n_c = s["dim"], s["clusters"]
    centers = rng.normal(0.0, 1.0, (n_c, dim))

    def draw(n: int) -> np.ndarray:
        v = centers[rng.integers(0, n_c, n)] + rng.normal(0.0, 0.35, (n, dim))
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")

    n, n_delta = s["corpus"], s["delta"]
    corpus, delta = draw(n), draw(n_delta)
    queries = draw(s["queries"])

    def table(vecs: np.ndarray, first_id: int) -> pa.Table:
        return pa.table({
            "vec_id": np.arange(first_id, first_id + len(vecs), dtype="int64"),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), dim).cast(
                pa.list_(pa.float32())
            ),
        })

    paths = {
        "corpus": f"{out_dir}/corpus.parquet",
        "delta": f"{out_dir}/delta.parquet",
        "queries": f"{out_dir}/queries.parquet",
    }
    _write(table(corpus, 0), paths["corpus"])
    _write(table(delta, n), paths["delta"])
    _write(table(queries, 0), paths["queries"])
    return describe(paths, {
        "rows": n + n_delta,
        "corpus": n,
        "delta": n_delta,
        "dim": dim,
        "clusters": n_c,
        "k_cells": s["k_cells"],
        "queries": s["queries"],
    })


GENERATORS = {
    "etl_move": gen_etl_move,
    "batch_score": gen_batch_score,
    "corpus_dedup": gen_corpus_dedup,
    "ann_serve": gen_ann_serve,
}
