"""Seeded end-to-end benchmark of the embedding engine.

    python3 perfbench/run.py --workload retrieve --seed 1 --seconds 26 --trace 0

Run from the repository root. One process runs one workload
(``perfbench/workloads.py``) on ``local[<cpus>]`` with one driver thread:

1. set-up: start the session; generate the seeded inputs three times (the
   median counts); compute the reference answers (untimed); prepare the
   library state and run the workload's ``WARM_ROUNDS`` warm-up rounds
   (codegen, the Python-worker start, the JIT), all before anything is
   timed;
2. a closed loop of rounds until ``--seconds`` have passed, every output
   checked against the reference;
3. the last line of standard output is one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (session start +
median input generation + preparation and warm-up) and the workload's
``latency_p50_ms``, ``throughput_per_s`` and ``approx_per_s``.

``--trace 1`` reports the per-layer metrics instead. The Spark event log is
on for the whole run, and the timed rounds alternate untraced and traced;
the per-layer metrics come from the traced rounds, and the tracing overhead
is the median traced round time over the median untraced one, minus 1.
The spans and their counters go to
``.perfbench/trace-<workload>-<seed>.json``.

Every file a run writes lives under ``.perfbench/`` in the repository; the
run's scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
GENERATIONS = 3

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms",
              "throughput_per_s": "1/s", "approx_per_s": "1/s"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(run_dir: str, traced: bool) -> str | None:
    """Point every Spark and Python scratch location into ``run_dir``;
    returns the event-log directory when tracing. Must run before pyspark
    starts the JVM."""
    from spans import jvm_options, spark_submit_args

    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events") if traced else None
    for d in (tmp, events):
        if d:
            os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": jvm_options(tmp),
        "PYSPARK_SUBMIT_ARGS": spark_submit_args(tmp, events),
    })
    return events


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, run_dir: str, events: str | None) -> dict:
    from spans import (Tracer, attach_event_log, jvm_gc_seconds,
                       jvm_peak_rss_mb, jvm_pid)
    from workloads import LAYER_METRICS, WORKLOADS

    from go_simple_embedding_database_spark import get_spark

    wl = WORKLOADS[args.workload](args.seed, os.path.join(run_dir, "work"))
    tracer = Tracer(f"{args.workload}-{args.seed}")

    t = time.perf_counter()
    spark = get_spark()
    session_s = time.perf_counter() - t
    generate_s = []
    for _ in range(GENERATIONS):
        shutil.rmtree(os.path.join(run_dir, "inputs"), ignore_errors=True)
        t = time.perf_counter()
        inp = wl.generate(os.path.join(run_dir, "inputs"))
        generate_s.append(time.perf_counter() - t)
    wl.reference(inp)
    tracer.spark = spark
    tracer.traced = bool(args.trace)
    t = time.perf_counter()
    wl.prepare(spark, tracer, inp)
    for warm in range(1, wl.WARM_ROUNDS + 1):
        wl.round(-warm)
    prepare_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(generate_s) + prepare_s
    print(f"[perfbench] set-up: session {session_s:.2f} s, inputs "
          f"{statistics.median(generate_s):.2f} s, prepare and "
          f"{wl.WARM_ROUNDS} warm-up rounds {prepare_s:.2f} s", file=sys.stderr)

    # Traced runs alternate untraced and traced rounds; the per-layer
    # metrics come from the traced ones, the overhead from comparing both.
    since = time.perf_counter() - tracer._t0
    deadline = time.perf_counter() + args.seconds
    n = 0
    while n < 1 + args.trace or time.perf_counter() < deadline:
        tracer.traced = bool(args.trace and n % 2)
        gc0 = jvm_gc_seconds(spark) if tracer.traced else 0.0
        with tracer.span("round") as r:
            wl.round(n)
        if tracer.traced:
            r.attrs["gc_s"] = jvm_gc_seconds(spark) - gc0
        r.attrs["traced"] = tracer.traced
        n += 1
    rounds = tracer.named("round", since)
    peak_rss_mb = jvm_peak_rss_mb(jvm_pid(spark))
    app_id = spark.sparkContext.applicationId
    stop_jvm(spark)
    print(f"[perfbench] {len(rounds)} rounds of "
          f"{', '.join(f'{wl.op_seconds(r):.2f}' for r in rounds)} s",
          file=sys.stderr)

    if args.trace:
        attach_event_log(tracer, events, app_id)
        traced = [r for r in rounds if r.attrs["traced"]]
        untraced_s = statistics.median(
            wl.op_seconds(r) for r in rounds if not r.attrs["traced"])
        traced_s = statistics.median(wl.op_seconds(r) for r in traced)
        values = dict.fromkeys(LAYER_METRICS, 0.0)
        values.update(wl.layers(traced))
        values["session.peak_rss_mb"] = peak_rss_mb
        values["trace.overhead_ratio"] = traced_s / untraced_s - 1.0
        units = LAYER_METRICS
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "run": tracer.run_id, "rounds": len(rounds),
                       "untraced_round_s": untraced_s,
                       "traced_round_s": traced_s,
                       "bookkeeping_s": tracer.bookkeeping_s,
                       "metrics": values, "spans": tracer.to_json()},
                      fh, indent=1)
        print(f"[perfbench] trace written to {path}", file=sys.stderr)
    else:
        values = wl.end_to_end(rounds)
        values["setup_s"] = setup_s
        units = END_TO_END
    return {"correct": wl.failed == 0, "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                        for k in units}}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import go_simple_embedding_database_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"[perfbench] cannot import the library from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(
        OUT_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        events = configure_env(run_dir, bool(args.trace))
        result = run(args, run_dir, events)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
