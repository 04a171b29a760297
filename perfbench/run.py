"""Lakehouse benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 16 --trace 0

Workloads (see ``BENCHMARK.json`` and ``perfbench/README.md``):
``query_mix`` and ``ingest_commit_read``. The run sets up once and reports
``setup_s``, the time from process start to the end of set-up (package
import, JVM launch and session build, a warm-up action and, for ingest, the
seeded input generation), then runs the workload as one closed-loop
client on Spark ``local[<nproc>]`` for ``--seconds`` of steady work, checking
every result. With ``--trace 0`` the last stdout line carries the end-to-end
metrics of ``BENCHMARK.json``; with ``--trace 1`` it carries the per-layer
metrics, and the spans are written to ``.perfbench_out/``. Everything the
run writes goes under ``.perfbench_tmp/`` in the checkout and is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def spark_conf(tmp: str) -> dict[str, str]:
    """Keep every file Spark and its JVM write under the run's temp root."""
    java_tmp = os.path.join(tmp, "java")
    os.makedirs(java_tmp, exist_ok=True)
    return {
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData",
        # the status store must keep every job and stage of the run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
    }


def calibration_probe(spark, cores: int) -> float:
    """Median of three runs of a constant-cost CPU-bound query: a host-load
    reference, not a metric."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 16_000_000, numPartitions=2 * cores).selectExpr(
            "sum(pmod(xxhash64(id), 1000003))"
        ).collect()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the JVM it drives."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (own_kb + jvm_kb) / 1024


def main() -> int:
    args = parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  the program under test
        from api_log_iceberg_test_spark.session import build_session
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout: {e}", file=sys.stderr)
        return 2
    import_s = process_age_s()
    from sparkstats import SparkAccounting
    from tracing import Tracer
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # Python workers import the package too; temp files stay in the run root
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    cores = len(os.sched_getaffinity(0))
    conf = spark_conf(tmp)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(0, 1 << 20, numPartitions=cores).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        inputs = workload.prepare(spark, os.path.join(tmp, "inputs"), args.seed)
        t3 = time.perf_counter()
        setup_s = process_age_s()

        context = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": cores,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "loadavg_start": os.getloadavg(),
            "calibration_start_s": calibration_probe(spark, cores),
            "inputs_gen_s": t3 - t2,
        }
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(spark, tracer, args.seed, args.seconds, bool(args.trace))
        result = workload.run(run, inputs, SparkAccounting(spark))
        context.update(
            loadavg_end=os.getloadavg(),
            calibration_end_s=calibration_probe(spark, cores),
            **result["info"],
        )
        context["peak_rss_mb"] = peak_rss_mb(spark)
        e2e = dict(result["e2e"], setup_s=setup_s)
        print("context " + json.dumps(context))
        if args.trace:
            layer = {f"query.{k}": v for k, v in result["layer"].items()}
            layer.update(
                {
                    "session.import_s": import_s,
                    "session.build_s": t1 - t0,
                    "session.warmup_s": t2 - t1,
                    "trace.overhead_s": result["overhead"]["pass_s"]["s"],
                }
            )
            print("modules " + json.dumps(result["modules"]))
            print("tracing_overhead " + json.dumps(result["overhead"]))
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"context": context, "modules": result["modules"], "layer": layer, "e2e": e2e},
            )
            wanted, values = spec["per_layer"], layer
        else:
            wanted, values = spec["end_to_end"], e2e
        missing = [m["name"] for m in wanted if m["name"] not in values]
        if missing:
            print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
            return 3
        print(
            json.dumps(
                {
                    "correct": run.failed == 0 and run.attempted > 0,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": {
                        m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
                    },
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # another run is still using it
            pass


if __name__ == "__main__":
    sys.exit(main())
