"""Benchmark entry point.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 8 --trace 0

Runs one workload named in BENCHMARK.json from the root of a source
checkout, checks every output against the seeded generator's tallies, and
prints as its last stdout line one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
same workload with the Spark event log on and reports the per-layer
metrics folded from that log, plus its own ``wall_s`` as
``trace.wall_s``: tracing overhead is that minus the untraced ``wall_s``
of the same seed.  Every run also writes a full record (samples, spans,
host calibration before and after, core count) to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit: the benchmark must
    not leave a process it started running.  ``spark.stop()`` alone leaves
    the JVM to notice this process has gone, so it could still hold cores
    and memory while the next run measures."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    # The engine under test lives at the checkout root; fail before any
    # work when it is missing.
    sys.path.insert(0, ROOT)
    import bench
    import workloads
    from tracing import EventLog, Tracer, read_event_log

    from cryptocurrency_data_pipeline_spark.session import get_spark

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, log_dir = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    for d in (tmp, log_dir):
        os.makedirs(d)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        # Keep every stream progress record: latencies need all batches.
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    session_s = time.perf_counter() - t0
    try:
        calibration_start = bench._calibration_sec(spark)
        tracer = Tracer(spark) if args.trace else None
        ctx = workloads.Ctx(spark, args.seed, args.seconds, os.path.join(work, "data"),
                            tracer=tracer)
        res = workloads.WORKLOADS[args.workload](ctx)
        calibration_end = bench._calibration_sec(spark)
        res["e2e"]["setup_s"] += session_s
    finally:
        _stop(spark)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": os.cpu_count(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "calibration_start_s": calibration_start,
        "calibration_end_s": calibration_end,
        "session_s": session_s,
        "problems": ctx.problems,
        "e2e": res["e2e"], "layer": res["layer"], "setup": res["setup"],
    }
    if args.trace:
        log = EventLog.parse(read_event_log(log_dir))
        layer = {m["name"]: 0.0 for m in spec["per_layer"]}
        layer.update(res["layer"])
        layer.update(res["fold"](log))
        layer["trace.wall_s"] = res["e2e"]["wall_s"]
        layer["host.calibration_s"] = max(calibration_start, calibration_end)
        layer["host.cores"] = float(os.cpu_count())
        record.update(layer=layer, spans=tracer.to_json())
        wanted, values = spec["per_layer"], layer
    else:
        wanted, values = spec["end_to_end"], res["e2e"]
    shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    def number(v) -> float:
        return 0.0 if v is None or math.isnan(v) else float(v)

    failed = ctx.failed
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ctx.attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": number(values[m["name"]]), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
