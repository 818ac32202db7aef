"""agrospark benchmark: one workload, one client, one run.

    python3 perfbench/run.py --cpus 4 --driver-mem 4g \
        --workload registry_queries --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from `--seed` inside `.perfbench_work/`, sets up a Spark session through
the package's own factory, warms up, checks every output against an
independent DuckDB computation, then runs whole passes of the workload for
`--seconds`. The last line of standard output is one JSON object:
`correct`, `attempted`, `failed` and `metrics` (the `end_to_end` metrics
of BENCHMARK.json, or with `--trace 1` its `per_layer` metrics). The lines
before it give every end-to-end figure of the workload with its unit and
sample count, whether BENCHMARK.json gates it or not.

Exits with code 2, printing no result, when the package is not beside
this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "automated_agro_climatic_data_warehouse_spark"
WORKLOADS = ("registry_queries", "etl_daily_load")


def _unit(name: str) -> str:
    """Unit of a report line, from the metric's name suffix."""
    if name.endswith("_frac"):
        return "1"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=4,
                   help="local[N] cores (SPARK_GRAFT_CPUS); one client, N task threads")
    p.add_argument("--driver-mem", default="4g", help="SPARK_GRAFT_DRIVER_MEM")
    return p.parse_args(argv)


def configure(args: argparse.Namespace, work: str) -> None:
    """Pin the deployment: cores, driver memory, the package's default md5
    dedup hash, and every scratch path inside the work directory."""
    for sub in ("spark-local", "tmp", "events", "duckdb"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # compiler threads that come and go would take their CPU time out of
    # the JIT figure (measure.tree_cpu_s); keep them for the whole run
    java_opts = (f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                 "-XX:-UseDynamicNumberOfCompilerThreads")
    submit = ["--driver-java-options", java_opts]
    if args.trace:
        from measure import event_log_conf

        submit += event_log_conf(os.path.join(work, "events"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(args.cpus),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        "SPARK_GRAFT_DEDUP_HASH": "md5",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })


def stop_session(spark, pids: list[int]) -> None:
    """Stop Spark, end its JVM and wait until every process it started
    (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    live = [p for p in pids if p != os.getpid()]
    while live:
        live = [p for p in live if _alive(p)]
        if live and time.time() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile over every sample; 0 without samples
    (a run whose every operation failed, reported with `correct` false)."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # on SIGTERM, unwind through the `finally` blocks that stop the JVM
    # and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found beside {HERE}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    from measure import (
        Tracer, host_steal_s, layer_report, peak_rss_mb, process_start_time,
        process_tree,
    )

    t_process = process_start_time()
    steal0 = host_steal_s()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure(args, work)
    try:
        from automated_agro_climatic_data_warehouse_spark.session import get_spark
        import workloads as W

        spark = get_spark(f"perfbench-{args.workload}")
        session_start_s = time.time() - t_process
        run = W.Run(spark, Tracer(spark, enabled=bool(args.trace)), work,
                    args.seed, args.seconds, t_process)
        try:
            if args.workload == "etl_daily_load":
                W.etl_workload(run)
            else:
                W.query_workload(run)
        finally:
            pids = process_tree()
            rss = peak_rss_mb(pids)
            stop_session(spark, pids)
        layers = (
            layer_report(run.tracer, os.path.join(work, "events"), run.passes)
            if args.trace else {}
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    q = run.samples.get("query", [])
    batches = run.samples.get("batch", [])
    per_pass = 1.0 / max(1, run.passes)
    # name -> (value, sample count, note); every end-to-end figure the
    # workload has. BENCHMARK.json picks the ones the JSON line carries.
    report = {
        "setup_s": (run.setup_s, 1, ""),
        "wall_s": (run.timed_wall_s * per_pass, run.passes, "per pass"),
        "query_p50_s": (quantile(q, 0.5), len(q), ""),
        "cpu_s": (run.timed_cpu_s * per_pass, run.passes, "per pass"),
        "jit_cpu_s": (run.timed_jit_s * per_pass, run.passes, "per pass, not in cpu_s"),
        "peak_rss_mb": (rss, 1, ""),
    }
    if args.workload == "registry_queries":
        p90 = quantile(q, 0.9)
        report["query_p90_s"] = (p90, len(q), f"{sum(v > p90 for v in q)} samples above")
    else:
        report["batch_p50_s"] = (quantile(batches, 0.5), len(batches), "")
        report["load_rows_per_s"] = (
            run.counters.get("landed_rows", 0.0) / (sum(batches) or 1.0), len(batches), "")
        report["stored_mb"] = (run.counters.get("stored_mb", 0.0), 1, "")
    report["failed_frac"] = (run.failed / max(1, run.attempted), run.attempted, "")

    elapsed = time.time() - t_process
    steal = (host_steal_s() - steal0) / (elapsed * (os.cpu_count() or 1))
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cpus={args.cpus} driver_mem={args.driver_mem} "
          f"dedup_hash=md5 passes={run.passes} elapsed_s={elapsed:.1f} "
          f"host_steal={steal:.1%}")
    for name, (value, n, note) in report.items():
        print(f"{name:<18} {value:12.4f} {_unit(name):<6} n={n} {note}".rstrip())
    print(f"check: {'OK' if not run.problems else 'FAILED'} "
          f"({len(run.problems)} problems; failed {run.failed} of {run.attempted})")
    for p in run.problems:
        print(f"  {p}")

    if args.trace:
        layers["session.start_s"] = session_start_s
        layers["operators.checkpoint_blocks"] = (
            run.counters.get("operators.checkpoint_blocks", 0.0) * per_pass)
        for key in ("warehouse.files_written", "warehouse.bytes_written_mb"):
            layers[key] = run.counters.get(key, 0.0) / max(1, len(batches))
        layers["trace.wall_s"] = report["wall_s"][0]
        names = [m["name"] for m in spec["per_layer"]]
        for name in names:
            print(f"{name:<30} {layers.get(name, 0.0):12.4f} {_unit(name)}")
        values = {n: layers.get(n, 0.0) for n in names}
    else:
        values = {m["name"]: report[m["name"]][0] for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({
        "correct": not run.problems and run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
