"""A/B scale probe for the r16 winnowing pair rewrite (OPTIMIZATION_r16
§10): the OLD shape (df-cap join-back + posting self-join + two count
aggregate towers, verbatim from the pre-rewrite query) vs the NEW shape
(anti-join df cap + map-side pair explosion from bounded posting arrays
+ `size(fps)` counts, verbatim from the committed query), on a
cipher-synth corpus at N× sf0.1 — the same structure-preserving
synthesis as `tools/scale_probe.py` (documents only), so true near-dup
pair counts grow LINEARLY with the replica count.

Both shapes are timed cold (caches released between runs, best-of-N in
one session) and their outputs asserted IDENTICAL (row count +
order-independent ``bit_xor(xxhash64(...))`` over every column, floats
pinned through the same ``round(,6)``).

Usage::

    python tools/winnow_shape_probe.py [--replicas 10] [--repeat 2]
        [--out DIR] [--json PATH] [--skip-build]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_probe import _SRC_ALPHABET, _cipher_alphabet, ID_OFFSET  # noqa: E402


def build_docs_synth(spark, src_dir: str, out_dir: str, replicas: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    d = spark.read.parquet(f"{src_dir}/documents.parquet")
    parts = []
    for k in range(replicas):
        p = d.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(k * ID_OFFSET)).cast("long")
        )
        if k > 0:
            p = p.withColumn(
                "text",
                F.translate(F.col("text"), _SRC_ALPHABET, _cipher_alphabet(k)),
            )
        parts.append(p)
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    u.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def old_shape(spark, sf_dir: str):
    """Pre-r16 `winnowing_overlap_pairs_documents`, verbatim
    (git 25526f9^): posting explode persisted, df cap as a join-back
    against the ≤cap fingerprint set, pairs via posting self-join,
    per-doc counts via TWO aggregate-tower joins."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from spark_pipeline_spark.operators import text as T
    from spark_pipeline_spark.queries import _WIN_MAXDF, _WIN_MIN_SHARED
    from spark_pipeline_spark.session import query_persist

    f = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        T.winnow_fingerprints(T.gram_hashes("text", 8), 16).alias("fps"),
    )
    e = query_persist(
        f.select("doc_id", F.explode_outer("fps").alias("fp")).filter(
            F.col("fp").isNotNull()
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    keep = e.groupBy("fp").agg(F.count(F.lit(1)).alias("__df")).filter(
        F.col("__df") <= _WIN_MAXDF
    )
    ee = e.join(keep.select("fp"), "fp")
    a = ee.select(F.col("doc_id").alias("id_a"), "fp")
    b = ee.select(F.col("doc_id").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )
    cnt = e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    return (
        pairs.join(
            cnt.select(F.col("doc_id").alias("id_a"), F.col("nf").alias("__nfa")),
            "id_a",
        )
        .join(
            cnt.select(F.col("doc_id").alias("id_b"), F.col("nf").alias("__nfb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.least("__nfa", "__nfb"), 6
            ).alias("containment"),
        )
    )


def new_shape(spark, sf_dir: str):
    """The committed r16 query, via the registry (so the probe can
    never drift from the shipped code)."""
    from spark_pipeline_spark.queries import REGISTRY

    return REGISTRY["winnowing_overlap_pairs_documents"].fn(spark, sf_dir)


def sig_of(df):
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(
            F.xxhash64(
                "id_a", "id_b", "n_shared",
                F.format_number("containment", 6),
            )
        ).alias("h"),
    ).first()
    return r["n"], r["h"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="")
    ap.add_argument("--json", default="")
    ap.add_argument("--skip-build", action="store_true")
    args = ap.parse_args()
    if args.repeat < 1:
        ap.error("--repeat must be at least 1")
    out_dir = args.out or f"/tmp/spark_graft_winnow_synth_{args.replicas}x"

    from spark_pipeline_spark import get_session
    from spark_pipeline_spark.session import release_query_caches

    spark = get_session("winnow_shape_probe",
                        conf={"spark.driver.memory": "12g"})
    spark.sparkContext.setLogLevel("ERROR")

    if not args.skip_build:
        build_docs_synth(spark, args.src, out_dir, args.replicas)

    result = {"replicas": args.replicas, "sf_dir": out_dir}
    for name, fn in (("old_selfjoin", old_shape), ("new_mapside", new_shape)):
        walls, sig = [], None
        for i in range(args.repeat):
            spark.sparkContext.setJobGroup(f"{name}_{i}", name)
            t0 = time.perf_counter()
            sig = sig_of(fn(spark, out_dir))
            walls.append(round(time.perf_counter() - t0, 2))
            release_query_caches()
        result[name] = {"best_s": min(walls), "walls": walls,
                        "n_pairs": sig[0], "sig": sig[1]}
        print(json.dumps({name: result[name]}), flush=True)
    assert (
        result["old_selfjoin"]["sig"] == result["new_mapside"]["sig"]
        and result["old_selfjoin"]["n_pairs"] == result["new_mapside"]["n_pairs"]
    ), "old and new shapes disagree — the rewrite is NOT equivalent"
    result["speedup"] = round(
        result["old_selfjoin"]["best_s"] / result["new_mapside"]["best_s"], 2
    )
    print(json.dumps({"replicas": args.replicas,
                      "speedup_old_over_new": result["speedup"],
                      "outputs_equal": True}), flush=True)
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(result, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
