"""Connector benchmark: the production foreachBatch sink, end to end.

    python3 connbench/run.py --workload upsert_catchup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads: ``upsert_catchup``,
``append_fanout_drift``, ``trickle_mor_readers`` (see BENCHMARK.json).

One run starts a ``local[nproc]`` Spark session, warms it up on a
scratch set-up, sets the workload up ``SETUP_REPS`` more times
(``setup_s`` is the median), then streams the staged inputs through
``IngestPipeline.start`` and checks every table against the generator's
model. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs
a traced pass and an untraced pass and prints the per-layer metrics and
the tracing overhead. The last stdout line is the result JSON; the
lines before it, starting with ``#``, give the host/config stamp and
each metric with its sample count. A report and the trace spans are
written under ``.connbench_work/reports``. Everything the run writes
stays under ``.connbench_work`` in the current directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: import the package by name
    sys.path.insert(0, ROOT)

from connbench import gen  # noqa: E402

SETUP_REPS = 3
DRIVER_MEMORY = "2g"
# the engine's own JVM options (session.build_session), restated because
# the benchmark adds to them
JVM_OPTS = "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke-test size of connbench/tests")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep temporary files inside ``work``; let Spark's Python workers
    import the engine from this checkout."""
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(work: str):
    """The engine's own session factory on ``local[nproc]``, with every
    scratch path inside ``work``."""
    from ducklake_kafka_connect_spark.session import build_session

    from connbench.host import nproc

    n = nproc()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return build_session(
        app_name="connbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed, pre-touched heap: peak RSS then does not hinge on
            # how far G1 happened to grow the heap in this run
            "spark.driver.extraJavaOptions": (
                f"{JVM_OPTS} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def bench(spark, args, work: str) -> tuple[dict, dict]:
    """(result JSON, report) of one run."""
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    from connbench import host, layers, workloads
    from connbench.trace import Tracer, registry_delta

    w = args.workload
    report = {"workload": w, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
              "scale": args.scale, "loadavg_before": os.getloadavg()}
    ticks = host.cpu_ticks()
    report["stamp"] = host.stamp(spark, workloads.SINKS[w].describe())

    phases = report["phases_s"] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    # A first, cold set-up is the warm-up's scratch table. Then set-up
    # runs SETUP_REPS times into fresh directories; setup_s is the
    # median, and the passes use the first two.
    scratch = workloads.setup(spark, w, args.seed, args.seconds, args.scale,
                              os.path.join(work, "scratch"))
    phase("cold_setup")
    workloads.warm_up(spark, w, scratch)
    workloads.remove(scratch.root)
    phase("warmup")
    setups, times = [], []
    for i in range(SETUP_REPS):
        # the inputs generated so far stay alive (the gate needs them);
        # keep the cyclic garbage collector from re-scanning them
        gc.collect()
        gc.freeze()
        t0 = time.perf_counter()
        setups.append(workloads.setup(spark, w, args.seed, args.seconds, args.scale,
                                      os.path.join(work, f"setup{i}")))
        times.append(time.perf_counter() - t0)
    setup_s = statistics.median(times)
    report["setup_s_each"] = times
    gc.collect()
    gc.freeze()
    phase("setup")

    if args.trace:
        tracer = Tracer(spark)
        before = REGISTRY.snapshot()
        tracer.install()
        try:
            traced = workloads.run_pass(spark, w, setups[0], args.seconds, tracer=tracer,
                                        registry=REGISTRY)
        finally:
            tracer.uninstall()
        tracer.count_jobs()
        traced.registry = registry_delta(before, traced.registry)
        plain = workloads.run_pass(spark, w, setups[1], args.seconds)
        spans = os.path.join(args.reports, f"spans-{w}-seed{args.seed}.jsonl")
        tracer.write(spans)
        report["spans"] = spans
        metrics = layers.per_layer(w, traced, tracer, plain)
        passes = [traced, plain]
    else:
        plain = workloads.run_pass(spark, w, setups[0], args.seconds)
        metrics = workloads.end_to_end(plain, setup_s)
        passes = [plain]
    phase("measure")
    report["loadavg_after"] = os.getloadavg()
    report["cpu_steal_share"] = host.steal_share(ticks, host.cpu_ticks())
    report["pass_phases_s"] = [r.phases_s for r in passes]
    report["samples"] = [
        {"batch_latency_ms": r.batch_latency_ms, "read_latency_ms": r.read_latency_ms}
        for r in passes
    ]
    report["problems"] = [p for r in passes for p in r.problems][:20]
    attempted = sum(r.attempted for r in passes)
    failed = sum(r.failed for r in passes)
    report["failed_op_share"] = failed / max(1, attempted)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }
    report["metrics"] = {k: {"value": v, "unit": u, **(d or {})} for k, (v, u, d) in metrics.items()}
    return result, report


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(os.getcwd(), ".connbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    args.reports = os.path.join(base, "reports")
    os.makedirs(work)
    os.makedirs(args.reports, exist_ok=True)
    prepare_env(work)
    spark = None
    t0 = time.perf_counter()
    try:
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        result, report = bench(spark, args, work)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    report["phases_s"]["session"] = round(session_s, 3)
    report["phases_s"]["total"] = round(time.perf_counter() - t0, 3)
    name = f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(args.reports, name), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    print("# stamp " + json.dumps(report["stamp"]))
    print("# loadavg " + json.dumps([report["loadavg_before"], report["loadavg_after"]])
          + f" cpu steal {report['cpu_steal_share']:.1%}")
    for k, m in report["metrics"].items():
        extra = {x: y for x, y in m.items() if x not in ("value", "unit")}
        print(f"# {k} = {m['value']:.6g} {m['unit']} {json.dumps(extra) if extra else ''}")
    for p in report["problems"]:
        print(f"# problem: {p}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
