"""golucene_spark benchmark: one workload, one JSON result line.

    python3 perfbench/run.py --workload {search_mix,update_nrt} \
        --seed N --seconds S --trace {0,1}

Runs from any working directory against the golucene_spark package in
the directory above this one, at local[<cpus>] with at most <cpus>
client threads.  Inputs come from gen.py and depend only on --seed.
All scratch files (tables, indexes, Spark local dirs, event log, spans)
go under .perfbench/ beside this directory and are removed at the start
of the next run.  The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.  The line before
it is the full report (named results, sample counts, set-up).
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"


def prepare_env(cores: int) -> None:
    """Point Python workers, Spark and temp files at this checkout.
    Must run before pyspark starts the JVM."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "tables"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    env = os.environ
    # workers import golucene_spark (the preloading daemon module) from here
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    env["TMPDIR"] = str(WORK / "tmp")
    # every JVM, the spark-submit launcher too: temp files here, no
    # /tmp/hsperfdata
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env.pop("SPARK_GRAFT_MASTER", None)
    # the library's JVM warm (a 48k-doc synthetic build) takes ~30 s on
    # 4 CPUs, more than a run's whole measuring window; turned off, so
    # setup_s covers the worker warm and the first real build only
    env["GOLUCENE_WARM_DOCS"] = "0"


def stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(ROOT / "BENCHMARK.json") as f:
        declared = json.load(f)
    cores = len(os.sched_getaffinity(0))
    prepare_env(cores)
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import workloads as wl
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in wl.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2
    from golucene_spark.session import get_spark, warm_workers
    from tracing import Tracer

    traced = bool(args.trace)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if traced:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": (WORK / "eventlog").as_uri()})
    tracer = Tracer(traced)
    with tracer.span("session.get_spark", "setup"):
        t0 = time.time()
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
        get_spark_s = time.time() - t0
    tracer.spark = spark
    try:
        with tracer.span("session.warm_workers", "setup", group=True):
            warm_s = warm_workers(spark)
        run = wl.Run(spark, tracer, str(WORK), args.seed, args.seconds, cores)
        run.layer.update(get_spark_s=get_spark_s, warm_workers_s=warm_s)
        fn, n_docs = wl.WORKLOADS[args.workload]
        metrics = fn(run, n_docs)
        metrics["setup_s"] = run.report.pop("setup_done") - T_START
        if traced:
            wl.trace_extras(run)
    finally:
        t_stop = time.time()
        stop(spark)
    wl.log_errors(run)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cores, "master": f"local[{cores}]",
        "loop": "closed: each client waits for its reply before its next request",
        "setup": {"get_spark_s": get_spark_s, "warm_workers_s": warm_s},
        "stop_s": time.time() - t_stop,
        "unchecked": run.unchecked,
        "failed_ops_ratio": run.failed / max(1, run.attempted),
        **run.report,
    }
    if traced:
        tracer.dump(str(WORK / "spans.json"))
        out = wl.layer_metrics(run, str(WORK / "eventlog"), metrics["op_gmean_ms"], run.attempted)
        report["spans"] = len(tracer.spans)
        report["spans_file"] = str(WORK / "spans.json")
    else:
        out = metrics
    report["end_to_end"] = metrics
    units = {m["name"]: m["unit"] for m in declared["per_layer" if traced else "end_to_end"]}
    if set(out) != set(units):
        print(f"metrics differ from BENCHMARK.json: {sorted(set(out) ^ set(units))}",
              file=sys.stderr)
        return 1
    print(json.dumps(report))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
