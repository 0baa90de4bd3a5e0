"""Product benchmark for the engine: one command per (workload, seed).

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root.  The engine is imported from
``./data_integration_system_spark`` and driven only through its public
functions; inputs are generated from ``--seed`` (see sitegen.py and
tablegen.py).  Spark runs ``local[4]`` through ``session.get_spark``.

A run: start Spark, build the inputs three times (median reported),
run the cold first pass with the output checks (both in ``setup_s``),
then operations for ``--seconds`` seconds, then the untimed checks.
With ``--trace 1`` the window runs traced (spans, Spark job tags, fetch
accumulators): its spans and Spark status-store data give the per-layer
metrics, and its own end-to-end values are reported as ``trace.*``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the BENCHMARK.json ``end_to_end`` metrics,
or its ``per_layer`` metrics with ``--trace 1``).  The line before it
holds the per-workload detail (named product metrics, sample counts,
check failures).  All scratch files live under ``.perfbench_work/`` in
the working directory and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

PREPARE_REPS = 3
CORES = 4
HEAP = "1g"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _environment(work: str, trace: bool) -> None:
    """Process environment for Spark, set before pyspark is imported:
    scratch and temp dirs inside the checkout, a modest driver heap, and
    (traced runs only) a status store large enough to keep every job."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # a fixed heap (initial = max) keeps peak RSS from following G1's
        # timing-dependent heap growth; no JVM perf-data file (it ignores
        # java.io.tmpdir, so it would land outside the checkout)
        "--driver-java-options",
        f"'-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:-UsePerfData'",
    ]
    if trace:
        conf += ["--conf", "spark.ui.retainedJobs=1000000",
                 "--conf", "spark.ui.retainedStages=1000000"]
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(min(CORES, os.cpu_count() or 1)),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(conf + ["pyspark-shell"]),
    })


def host_speed_s() -> float:
    """Seconds for a fixed single-thread Python loop: a record of how
    fast this host ran during the run, for reading the detail line."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return time.perf_counter() - t


def _jvm_gc_s(spark) -> float:
    """Total JVM garbage-collection time so far (all collectors)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def _stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (its exit signal)
    and wait for it to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, spec: dict) -> dict:
    import stats
    import workloads

    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work, args.trace)
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "tests"))  # oracle_harness

    t0 = time.perf_counter()
    speed = [host_speed_s()]
    from pyspark import cloudpickle

    import sitegen
    from data_integration_system_spark.session import get_spark

    # the crawl's fetch_fn is a sitegen object; workers cannot import
    # this directory, so ship the module by value
    cloudpickle.register_pickle_by_value(sitegen)
    spark, wl = None, None
    try:
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0 - speed[0]
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        prep = []
        for k in range(PREPARE_REPS):
            t = time.perf_counter()
            wl.prepare(k)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        if args.trace:
            layers, e2e, detail = _traced_window(spark, wl, args.seconds, spec, args.seed)
        else:
            e2e, detail = wl.metrics(wl.window(args.seconds))
        speed.append(host_speed_s())
        gc_s = _jvm_gc_s(spark)
        wl.finish()
        e2e["setup_s"] = start_s + stats.median(prep) + warm_s
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        e2e["peak_rss_mb"] = stats.peak_rss_mb(
            [os.getpid()] + ([jvm.pid] if jvm is not None else []))
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    detail.update({
        "workload": args.workload, "seed": args.seed,
        "spark_start_s": start_s, "prepare_s": prep, "warm_s": warm_s,
        "host_speed_s": speed, "jvm_gc_s": gc_s, "run_s": time.perf_counter() - t0,
        "error_rate": wl.failed / max(1, wl.attempted),
        "errors": wl.errors[:20],
    })
    print(json.dumps({"detail": detail}, default=str))
    section = "per_layer" if args.trace else "end_to_end"
    values = layers if args.trace else e2e
    missing = [m["name"] for m in spec[section] if m["name"] not in values]
    if missing:
        _fail(f"metrics not produced: {missing}")
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in spec[section]},
    }


def _traced_window(spark, wl, seconds: float, spec: dict, seed: int):
    """The window with spans, job tags and accumulators on.  Its own
    end-to-end values are reported as ``trace.*`` so that tracing
    overhead is their difference from an untraced run of the same seed."""
    import spans

    sc = spark.sparkContext
    tracer = spans.Tracer(sc)
    wl.trace(tracer)
    first_job = spans.max_job_id(sc)
    wall0 = time.time()
    try:
        w = wl.window(seconds, tracer)
    finally:
        tracer.close()
    wall = (wall0, time.time())
    e2e, detail = wl.metrics(w)
    layers = wl.layers(tracer, w)
    engine = spans.spark_window(sc, first_job, wall, CORES)
    layers.update({f"spark.{k}": v for k, v in engine.items()})
    layers.update({f"trace.{k}": v for k, v in e2e.items()})
    layers["trace.spans"] = len(tracer.spans)
    for m in spec["per_layer"]:
        if m["name"].startswith(wl.BYPASSED):
            layers.setdefault(m["name"], 0.0)
    _dump_spans(tracer, f"{wl.__class__.__name__.lower()}-seed{seed}")
    return layers, e2e, detail


def _dump_spans(tracer, name: str) -> None:
    """Write the traced window's spans (with self time) for inspection."""
    import stats

    self_s = stats.self_times(tracer.spans)
    out = os.path.join(os.getcwd(), ".perfbench_trace")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{name}.json"), "w") as fh:
        json.dump([s | {"self_s": self_s[s["id"]]} for s in tracer.spans], fh)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_integration_system_spark", "__init__.py")):
        _fail(f"no engine package under {root}; run from the repository root")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _fail(f"unknown workload {args.workload!r}")
    result = run(args, spec)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
