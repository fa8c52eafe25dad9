"""Trail-query benchmark: one workload per invocation, in a fresh JVM.

    python3 perfbench/run.py --workload fsm_trails --seed 1 --seconds 15 \\
        --trace 0

Run from the root of a checkout of the repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones).  The line before it, starting ``report``, holds the
details: sample counts, the tail percentile, failures, generation time.
Everything the run writes goes under ``perfbench/_work/``.  The exit code
is 0 only when every checked result was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# driver heap (local mode: the only JVM); the library default is 16g
DRIVER_MEM = "4g"


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def launcher_env(run_dir: str, trace: bool) -> None:
    """Pin the Spark launch: workers import the engine from this checkout,
    one core per task slot, bounded memory, every scratch file under the
    run directory, no console progress bars, event logging only when
    tracing."""
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir={evdir}",
                 "spark.eventLog.compress=false"]
    args = " ".join(f"--conf {c}" for c in conf)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
    })


def untraced_record(args) -> str:
    """Path of the untraced end-to-end metrics for this workload, seed and
    length.  A traced run measures its overhead against them; when this
    checkout has none yet, the untraced run is made first, in a child
    process that ends before the traced run starts Spark."""
    path = os.path.join(
        WORK, f"untraced_{args.workload}_s{args.seed}_t{args.seconds:g}.json")
    if args.trace and not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", f"{args.seconds:g}", "--trace", "0"],
            cwd=ROOT, stdout=subprocess.DEVNULL, check=True)
    return path


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process this
    one started to end."""
    from pyspark import SparkContext

    from tracing import descendants

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in left:
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


def end_to_end(run, session_s: float) -> dict:
    """The bounded metrics: set-up time, and input events per CPU-second
    of the engine.  The loop's wall-clock figures go to the report line
    and the per-layer metrics (``run.layer``)."""
    from stats import steady, tail

    value, pct, n = tail(run.op_s)
    p50, events_per_s = steady(run.ops)
    _, events_per_cpu_s = steady(run.cpu_ops)
    run.layer.update({"loop.op_s_p50": p50, "loop.events_per_s": events_per_s})
    run.info.update({"op_s_p50": p50, "events_per_s": events_per_s,
                     "op_s_tail": value, "tail_pct": round(pct, 1),
                     "op_samples": n, "session_s": session_s,
                     "open_s": run.open_s})
    return {
        "setup_s": (session_s + run.open_s, "s"),
        "events_per_cpu_s": (events_per_cpu_s, "1/s"),
    }


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "trck_spark")):
        print(f"no trck_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    untraced = untraced_record(args)
    run_dir = os.path.join(WORK, f"{args.workload}_trace{args.trace}")
    from harness import Run, fresh_dir

    fresh_dir(run_dir)
    launcher_env(run_dir, bool(args.trace))
    os.chdir(run_dir)

    import layers
    from tracing import RssSampler, Tracer
    from workloads import WORKLOADS

    sampler = RssSampler().start()
    t0 = time.perf_counter()
    from trck_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    run = Run(spark=spark, tracer=Tracer(bool(args.trace)), seed=args.seed,
              seconds=args.seconds, work=run_dir)
    try:
        WORKLOADS[args.workload](run, os.path.join(WORK, "cache"))
    finally:
        run.phase("finish")
        t_stop = time.perf_counter()
        stop_spark(spark)
        run.info["stop_s"] = time.perf_counter() - t_stop
        peak_rss = sampler.stop()

    run.info["wall_s"] = time.perf_counter() - t0
    out = run.outcomes
    if not run.op_s:
        print("report " + json.dumps({"errors": out.first_error}),
              file=sys.stderr)
        return 1
    e2e = end_to_end(run, session_s)
    run.layer["peak_rss_mb"] = peak_rss / 2**20
    if args.trace:
        metrics = layers.per_layer(run, run_dir, e2e, untraced)
    else:
        metrics = e2e
        with open(untraced, "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
    correct = out.failed == 0
    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "failed_frac": out.failed_frac,
              "wrong": out.wrong, "errors": out.first_error, **run.info}
    print("report " + json.dumps(report, default=str))
    print(json.dumps({
        "correct": correct, "attempted": out.attempted, "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
