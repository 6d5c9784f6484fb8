"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload html_pages --seed 1 --seconds 15 --trace 0

Run from the repository root.  The run builds its inputs from ``--seed``
in ``.bench_work/`` (removed at exit), starts a ``local[nproc]`` Spark
session, sets up, warms up (including a few untimed iterations), then runs a fixed number of iterations sized
so the measured window lasts about ``--seconds`` on a 4-core host; the
count depends only on ``--seconds``, so two commits do the same work.
Every output is checked.  Metric names and units come from
``BENCHMARK.json``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer ones (see ``perfbench/README.md``).  Each
metric is printed on its own line, then the last line is one JSON
object.  The exit code is 0 only when every check passed.

``--trace 1`` runs the same iterations, alternately untraced and
traced, reports the gap between the two ``docs_per_s`` medians as
``bench.trace_overhead``, runs the per-layer probes and writes the
spans with per-name self times to ``.bench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a run stops iterating after this multiple of --seconds even if the
# fixed iteration count is not reached, so a much slower program still
# ends inside the time a run is allowed
MAX_OVERRUN = 4


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def end_to_end(run, setup_s: float) -> dict:
    from perfbench.trace import median

    return {
        "docs_per_s": (median(run.docs_per_s), len(run.docs_per_s)),
        "resume_s": (median(run.resume_s), len(run.resume_s)),
        "setup_s": (setup_s, 1),
        "peak_rss_mb": (run.rss.mb, 1),
        "success_rate": (1.0 - run.failed / max(1, run.attempted), run.attempted),
    }


def measure(run, wl, iterations: int, seconds: float, alternate_trace: bool = False):
    """The closed loop: one iteration at a time, same count every run.
    With ``alternate_trace`` the iterations alternate untraced and
    traced, so both halves see the same warm-up state."""
    from perfbench.sparkenv import job_counters

    run.spark.sparkContext.setJobGroup("measure", "measure")
    deadline = time.perf_counter() + MAX_OVERRUN * seconds
    for i in range(iterations):
        if alternate_trace:
            run.tracer.enabled = i % 2 == 1
        with run.tracer.span("bench.iteration"):
            wl.iteration(run)
        run.rss.sample()
        if time.perf_counter() > deadline:
            print(f"stopped early: {MAX_OVERRUN}x --seconds reached", flush=True)
            break
    return job_counters(run.spark, "measure")


def execute(args, spec: dict) -> dict:
    from perfbench import layers
    from perfbench.sparkenv import PeakRss, host_cpus
    from perfbench.trace import Tracer, median
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    tracer = Tracer(enabled=bool(args.trace))
    run = Run(None, tracer, work, args.seed, None)
    try:
        # the JVM boots while this thread builds the inputs
        with ThreadPoolExecutor(max_workers=1) as pool:
            session = pool.submit(start_session, work, host_cpus())
            try:
                with tracer.span("bench.prepare"):
                    data_s = wl.prepare(run)
            finally:
                with tracer.span("bench.session"):
                    run.spark, session_s = session.result()
        run.rss = PeakRss(run.spark)
        t0 = time.perf_counter()
        with tracer.span("bench.warm"):
            wl.warm(run)
            # checked but not measured
            for _ in range(wl.warm_iterations):
                wl.iteration(run)
            run.clear_samples()
        warm_s = time.perf_counter() - t0
        run.rss.sample()
        print(
            f"set-up: session {session_s:.2f} s alongside data {data_s:.2f} s, "
            f"then warm-up {warm_s:.2f} s",
            flush=True,
        )
        iterations = max(2, round(args.seconds / wl.nominal_iter_s))
        if not args.trace:
            counters = measure(run, wl, iterations, args.seconds)
            run.fail(counters.failed_tasks, "failed Spark tasks")
            values = end_to_end(run, max(session_s, data_s) + warm_s)
            names = spec["end_to_end"]
        else:
            counters = measure(run, wl, iterations, args.seconds, alternate_trace=True)
            run.fail(counters.failed_tasks, "failed Spark tasks")
            layer = layers.layer_metrics(run, wl)
            untraced, traced = run.docs_per_s[0::2], run.docs_per_s[1::2]
            layer["bench.trace_overhead"] = 1.0 - median(traced) / median(untraced)
            layer["spark.tasks"] = counters.tasks / iterations
            layer["spark.failed_tasks"] = counters.failed_tasks
            layer["spark.shuffle_bytes"] = counters.shuffle_write_bytes / iterations
            names = spec["per_layer"]
            values = {m["name"]: (layer.get(m["name"], 0.0), 1) for m in names}
            path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
            tracer.write(path)
            print(f"spans and self times written to {path}", flush=True)
        metrics = {}
        for m in names:
            value, n = values[m["name"]]
            print(f"{m['name']} = {value:.6g} {m['unit']}  (n={n})", flush=True)
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        return {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        try:
            if run.spark is not None:
                stop_spark(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def start_session(work: str, cpus: int):
    from perfbench.sparkenv import build_session

    t0 = time.perf_counter()
    spark = build_session(work, cpus)
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # also after a stop that failed, e.g. on a connection a signal cut
        if gateway is not None:
            proc = gateway.proc
            try:
                gateway.shutdown()
            finally:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its Spark JVM and Python workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    tmp = os.path.join(ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers import the package from the checkout, wherever they start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    result = execute(args, spec)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
