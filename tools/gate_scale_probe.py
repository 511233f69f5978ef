"""Prove the graph driver-solve gates HAND BACK to the distributed path
at scale (VERDICT r15 item 5 — the missing scale-evidence half of the
r15 cap-gate change).

Builds a deterministic random graph whose DISTINCT edge count exceeds
``driver_solve_cap`` (default 2M), so `connected_components_star` /
`label_propagation` must fall through their gate probe (count-based,
`gate.gate_rows`) to the unchanged distributed rounds. Three runs per
operator:

- 32 cores, default cap   (gate probes, then hands back)
- 32 cores, cap=0         (distributed path forced — the control)
- 8 cores, default cap    (core-scaling run)

Evidence captured per run: wall, output row count, and an
order-independent ``bit_xor(xxhash64(...))`` signature. The default-cap
and cap=0 signatures must be EQUAL (same labels ⇒ same path semantics),
their walls near-equal (the gate costs one JVM-only count), and the
8v32 ratio on a graph this size should approach the core ratio —
the gated families are data-bound once past the gate.

Each run executes in a fresh subprocess so ``SPARK_GRAFT_CPUS`` takes
effect (master is fixed at session build).

Usage::

    python tools/gate_scale_probe.py [--edges 20000000] [--json PATH]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def worker(args) -> int:
    from pyspark.sql import functions as F

    from spark_pipeline_spark import get_session
    from spark_pipeline_spark.operators.graph import (
        connected_components_star,
        label_propagation,
    )

    spark = get_session("gate_probe", conf={"spark.driver.memory": "12g"})
    spark.sparkContext.setLogLevel("ERROR")
    n_nodes = max(args.edges // 2, 1000)
    # deterministic pseudo-random graph: avg degree ~4 -> one giant
    # component, O(log n) diameter; no RNG (retry-safe, guide §2.5)
    e = (
        spark.range(args.edges)
        .select(
            F.pmod(F.xxhash64(F.col("id") * 2 + 1), F.lit(n_nodes)).alias("src"),
            F.pmod(F.xxhash64(F.col("id") * 2), F.lit(n_nodes)).alias("dst"),
        )
        .persist()
    )
    n_e = e.count()  # materialize the synth input OUTSIDE the timed region
    t0 = time.perf_counter()
    if args.op == "cc":
        out = connected_components_star(e, driver_solve_cap=args.cap)
    else:
        out = label_propagation(e, driver_solve_cap=args.cap)
    sig = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*out.columns)).alias("h"),
    ).first()
    wall = round(time.perf_counter() - t0, 2)
    print(json.dumps({
        "op": args.op, "cap": args.cap,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "edges_in": n_e, "wall_s": wall,
        "n_out": sig["n"], "sig": sig["h"],
    }))
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=20_000_000)
    ap.add_argument("--json", default="")
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--op", choices=("cc", "lpa"), default="cc")
    ap.add_argument("--cap", type=int, default=2_000_000)
    args = ap.parse_args()
    if args.worker:
        return worker(args)

    def run(op: str, cap: int, cpus: int) -> dict:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             "--op", op, "--cap", str(cap), "--edges", str(args.edges)],
            capture_output=True, text=True, env=env,
        )
        line = out.stdout.strip().splitlines()[-1]
        r = json.loads(line)
        print(json.dumps(r), flush=True)
        return r

    result = {"edges": args.edges, "runs": {}, "summary": {}}
    for op in ("cc", "lpa"):
        d32 = run(op, 2_000_000, 32)
        f32 = run(op, 0, 32)
        d8 = run(op, 2_000_000, 8)
        assert d32["sig"] == f32["sig"] and d32["n_out"] == f32["n_out"], (
            f"{op}: default-cap vs cap=0 labels differ — gate did not "
            f"hand back to the distributed path"
        )
        result["runs"][op] = {"c32_default": d32, "c32_cap0": f32,
                              "c8_default": d8}
        result["summary"][op] = {
            "ratio_8v32": round(d8["wall_s"] / d32["wall_s"], 2),
            "gate_overhead_vs_cap0": round(
                d32["wall_s"] - f32["wall_s"], 2
            ),
            "labels_equal_cap0": True,
        }
    print(json.dumps(result["summary"]))
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(result, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
