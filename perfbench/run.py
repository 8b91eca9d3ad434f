"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,dedup} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Generates the workload's inputs from the
seed, runs it against the engine in that checkout at local[nproc], checks
every output against the benchmark's own reference, and prints one JSON
object as the last line of stdout: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics). Each workload does a fixed amount
of work, so a run's figures do not depend on how fast the machine is;
``--seconds`` is accepted and recorded but does not change it. A traced run also writes its spans,
Spark operator metrics and per-layer metrics to
``.perfbench_out/trace-<workload>-<seed>.json``. All scratch files live
under ``.perfbench_work/`` and are removed at the end.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_env(work: str, events: str | None) -> None:
    """Point every file Spark, the JVM and the Python workers write into
    ``work``; turn on the event log when tracing."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--driver-java-options", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]
    if events:
        os.makedirs(events, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit: the gateway JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    events = os.path.join(out_dir, f"events-{a.workload}-{a.seed}") if a.trace else None
    sys.path[:0] = [ROOT, HERE]
    import kernels
    from opensearch_loader_spark.session import get_spark
    from tracing import SPARK_FIELDS, Tracer, read_event_log
    from workloads import OWNS, SPARK_OPS, WORKLOADS, Ctx

    orphans = [m["name"] for m in spec["per_layer"] if not any(own(m["name"]) for own in OWNS.values())]
    if orphans:
        print(f"no workload measures {orphans}", file=sys.stderr)
        return 2

    if events:
        shutil.rmtree(events, ignore_errors=True)
    spark_env(work, events)

    calib_before = kernels.calib_ms() if a.trace else None
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(f"perfbench-{a.workload}", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Ctx(spark, work, a.seed, Tracer(bool(a.trace), spark), T0)
    try:
        e2e = WORKLOADS[a.workload](ctx)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in ctx.errors[:20]:
        print("CHECK FAILED:", e, file=sys.stderr)
    if a.trace:
        layers = ctx.layers
        layers["platform.calib_ms"] = (calib_before + kernels.calib_ms()) / 2
        ops, sites = read_event_log(events)
        for op in SPARK_OPS[a.workload]:
            for fld in SPARK_FIELDS:
                if op in ops:
                    layers[f"{op}.{fld}"] = ops[op][fld]
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({
                "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "end_to_end_traced": e2e, "layers": layers,
                "spark_ops": ops, "call_sites": sites,
                "span_times": ctx.tracer.self_times(), "spans": ctx.tracer.spans,
            }, f, indent=1)
        # a metric another workload measures reads 0 here
        wanted = spec["per_layer"]
        values = {m["name"]: 0 for m in wanted if not OWNS[a.workload](m["name"])} | layers
    else:
        wanted, values = spec["end_to_end"], e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"{a.workload} did not produce {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({
        "correct": not ctx.errors, "attempted": ctx.attempted,
        "failed": ctx.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
