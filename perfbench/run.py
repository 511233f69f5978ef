"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload batch_score --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The last line of
stdout is ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Everything else goes to stderr. Inputs,
Spark scratch space and outputs live in ``.perfbench_work/`` under the
checkout and are removed at exit; the traced run writes its spans to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import metrics  # noqa: E402
from perfbench.gen import GENERATORS  # noqa: E402


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def prepare_env(work: str, cores: int) -> None:
    """Keep every file the run writes inside ``work`` and give the Python
    workers the checkout on their import path."""
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def start_session(work: str, cores: int, trace: bool):
    from spark_pipeline_spark.session import get_session

    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
        ),
    }
    if trace:
        # counters are read after each traced iteration: keep all its jobs
        conf.update({"spark.ui.retainedJobs": "1000", "spark.ui.retainedStages": "1000"})
    spark = get_session(app_name="perfbench", master=f"local[{cores}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: PySpark
    keeps the JVM alive after ``stop`` until its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:")) / 1024.0


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so that the input
    generator and the oracle, which run first, do not set the peak."""
    try:
        with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
            fh.write("5")
    except OSError as exc:
        log(f"could not reset the peak RSS ({exc}): the oracle's peak counts")


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus the Python driver's since the session
    start."""
    jvm = vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    py = vm_hwm_mb("self")
    log(f"peak rss: driver JVM {jvm:.1f} MB, Python driver {py:.1f} MB")
    return jvm + py


def run(args, work: str) -> dict:
    import duckdb

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    from spark_pipeline_spark.session import release_query_caches

    cores = len(os.sched_getaffinity(0))
    prepare_env(work, cores)
    cls = WORKLOADS[args.workload]

    t0 = time.perf_counter()
    os.makedirs(f"{work}/inputs")
    inputs = GENERATORS[args.workload](args.seed, f"{work}/inputs")
    gen_s = time.perf_counter() - t0
    log("inputs:", json.dumps({k: v for k, v in inputs.items() if k != "paths"}))

    t0 = time.perf_counter()
    con = duckdb.connect()
    con.execute(f"SET threads = {cores}")
    con.execute(f"SET temp_directory = '{work}/tmp'")
    expect = cls.oracle(con, inputs, args.seed)
    con.close()
    oracle_s = time.perf_counter() - t0
    summary = {k: v for k, v in expect.items() if isinstance(v, (int, float, str))}
    log("oracle:", json.dumps(summary))

    reset_peak_rss()
    t0 = time.perf_counter()
    spark = start_session(work, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, cores)
        wl = cls(spark, tracer, inputs, expect, work)
        t0 = time.perf_counter()
        warm_check = wl.iterate(-1)
        warm_s = time.perf_counter() - t0
        warm_problems = warm_check()
        release_query_caches()
        setup_s = gen_s + session_s + warm_s
        log(f"setup_s={setup_s:.3f} (gen {gen_s:.3f}, session {session_s:.3f}, "
            f"warm-up {warm_s:.3f}); oracle_s={oracle_s:.3f}")
        if warm_problems:
            log("warm-up check failed:", warm_problems)

        # traced runs alternate untraced and traced iterations in ABBA order,
        # so a warm-up trend does not land on one side of the overhead. At
        # least three timed iterations: the first still runs slower while
        # the JIT warms, and with two the median would be half that one.
        min_iters = 4 if args.trace else 3
        times, traced_times, traced_spans, failed = [], [], [], 0
        start = time.perf_counter()
        i = 0
        while i < min_iters or time.perf_counter() - start < args.seconds:
            tracer.enabled = bool(args.trace) and i % 4 in (1, 2)
            first_span = len(tracer.spans)
            t = time.perf_counter()
            try:
                with tracer.span("bench", "iteration"):
                    check = wl.iterate(i)
                dt = time.perf_counter() - t
                problems = check()
            except Exception as exc:  # a failed iteration is counted, not fatal
                dt = time.perf_counter() - t
                problems = [f"raised {type(exc).__name__}: {exc}"]
            if problems:
                failed += 1
                log(f"iteration {i} failed:", problems)
            (traced_times if tracer.enabled else times).append(dt)
            if tracer.enabled:
                traced_spans.append(tracer.spans[first_span:])
                tracer.collect(traced_spans[-1])
            log(f"iteration {i}: {dt:.3f}s{' traced' if tracer.enabled else ''}")
            release_query_caches()
            i += 1
        tracer.enabled = False

        result = {
            "correct": not warm_problems and failed == 0,
            "attempted": i,
            "failed": failed,
        }
        if not args.trace:
            result["metrics"] = metrics.end_to_end(
                setup_s=setup_s, times=times, rows=inputs["rows"],
                peak_rss_mb=peak_rss_mb(spark),
            )
            return result

        tracer.enabled = True
        floor = []
        for _ in range(3):
            t = time.perf_counter()
            with tracer.span("session", "floor_job"):
                spark.range(1).count()
            floor.append(time.perf_counter() - t)
        session_spans = tracer.spans[-1:]
        tracer.collect(session_spans)
        tracer.enabled = False
        wl.after_loop()
        result["metrics"] = metrics.per_layer(
            iterations=traced_spans, session_spans=session_spans, cores=cores,
            extras=wl.extras, inputs=inputs,
            fixed={
                "session.get_session_s": session_s,
                "session.floor_job_s": statistics.median(floor),
                "bench.oracle_s": oracle_s,
                "trace.iter_s_p50": statistics.median(traced_times),
                "trace.overhead_s": statistics.median(traced_times) - statistics.median(times),
            },
        )
        os.makedirs(f"{ROOT}/.perfbench_out", exist_ok=True)
        trace_path = f"{ROOT}/.perfbench_out/trace-{args.workload}-seed{args.seed}.json"
        with open(trace_path, "w", encoding="utf-8") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "inputs": inputs,
                       "oracle": summary,
                       "spans": tracer.dump()}, fh, indent=1, default=str)
        log("trace written to", trace_path)
        return result
    finally:
        stop_session(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "spark_pipeline_spark", "__init__.py")):
        log(f"no spark_pipeline_spark package under {ROOT}: run from the repository root")
        return 2
    os.makedirs(f"{ROOT}/.perfbench_work", exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=f"{ROOT}/.perfbench_work")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(f"{ROOT}/.perfbench_work")
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
