"""Per-job/per-stage profile of one registry query (guide §1: measure
first). Runs the query at $SPARK_GRAFT_SF_DIR with the event log on,
then parses the log to attribute wall-clock to jobs and stages —
the local[N] stand-in for the Spark UI's stage page. Each query's header
also gives the classes Janino compiled during its timed run, so a codegen
cache that thrashes shows up here.

Usage: python tools/profile_query.py <query> [more queries...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default all cores)
       PROFILE_WARM=0     skip the sf0.001 warm-up pass
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the checkout
sys.path.insert(0, ROOT)

EVDIR = "/tmp/spark-events-profile"


def get_profiling_spark():
    import shutil

    from automated_agro_climatic_data_warehouse_spark.session import get_spark

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_DEDUP_HASH", "xxhash64")
    # the event log is a deployment setting, passed to the JVM the factory
    # launches; report() reads it back as plain JSON lines
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{EVDIR}",
        "--conf", "spark.eventLog.compress=false",
        "pyspark-shell",
    ])
    return get_spark("profile")


def profile(names: list[str]) -> None:
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
    from automated_agro_climatic_data_warehouse_spark.session import (
        codegen_compiles,
        drop_checkpoint_blocks,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_profiling_spark()
    warm_dir = "/root/testdata/sf0.001"
    compiles: dict[str, int] = {}
    for name in names:
        if os.environ.get("PROFILE_WARM", "1") != "0":
            QUERIES[name].spark_fn(spark, warm_dir).count()
            drop_checkpoint_blocks(spark)
        spark.sparkContext.setJobDescription(f"TIMED::{name}")
        c0 = codegen_compiles(spark)
        t0 = time.time()
        n = QUERIES[name].spark_fn(spark, sf_dir).count()
        wall = time.time() - t0
        compiles[name] = codegen_compiles(spark) - c0
        spark.sparkContext.setJobDescription(None)
        drop_checkpoint_blocks(spark)
        print(f"\n=== {name}: {n} rows, wall {wall:.2f}s ===")
    spark.stop()
    time.sleep(1.0)
    report(names, compiles)


def report(names: list[str], compiles: dict[str, int]) -> None:
    logs = glob.glob(EVDIR + "/*")
    assert logs, "no event log written"
    path = max(logs, key=os.path.getmtime)
    if os.path.isdir(path):
        inner = [p for p in glob.glob(path + "/*") if "events" in os.path.basename(p)]
        assert inner, f"no events file under {path}"
        path = max(inner, key=os.path.getmtime)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as fh:
        for raw in fh:
            try:
                ev = json.loads(raw)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    ),
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                t0 = si.get("Submission Time")
                t1 = si.get("Completion Time")
                stages[sid] = {
                    "name": si.get("Stage Name", ""),
                    "ms": (t1 - t0) if (t0 and t1) else 0,
                    "tasks": si.get("Number of Tasks", 0),
                }
    for name in names:
        tagged = [
            j for j in jobs.values() if j.get("desc") == f"TIMED::{name}"
        ]
        total_ms = sum(j.get("t1", j["t0"]) - j["t0"] for j in tagged)
        print(f"\n##### {name}: {len(tagged)} jobs, {total_ms/1000:.2f}s in jobs, "
              f"{compiles[name]} classes compiled")
        for j in sorted(tagged, key=lambda j: j["t0"]):
            dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000
            sts = [
                (stages[s]["ms"], stages[s]["tasks"], stages[s]["name"])
                for s in j["stages"]
                if s in stages
            ]
            sts.sort(reverse=True)
            head = "; ".join(
                f"{ms}ms/{tk}t {nm.split(' at ')[0][:60]}" for ms, tk, nm in sts[:4]
            )
            print(f"  job {dur:6.2f}s  [{head}]")


if __name__ == "__main__":
    qnames = [a for a in sys.argv[1:] if not a.startswith("-")]
    profile(qnames)
