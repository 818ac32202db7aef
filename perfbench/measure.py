"""Measurement helpers: process CPU and memory from /proc, layer spans
tagged with Spark job groups, and the Spark event-log reader that turns
those groups into job, stage and task figures.

A span is recorded only in a traced run. Each span runs under its own job
group, so every job Spark launches inside it carries the span's id in the
event log; `layer_report` then splits job time and task metrics by layer.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ /proc


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and every live descendant: the JVM
    the session launched and the Python workers the JVM forks."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat(path: str) -> list[str] | None:
    """Fields after the command name of a /proc stat file."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # exited while listing


def _is_jit(task_stat: str) -> bool:
    try:
        with open(task_stat) as fh:
            name = fh.read().split("(", 1)[1].rsplit(")", 1)[0]
    except OSError:
        return False
    return name.startswith(("C1 CompilerThre", "C2 CompilerThre"))


def tree_cpu_s(pids: list[int] | None = None) -> tuple[float, float]:
    """User+system CPU seconds of the process tree, including exited
    threads and reaped children (so Python workers that exited still
    count), split into `(work, jit)`: `jit` is the JVM's JIT compiler
    threads, whose work depends on how far warm-up has got (the JVM keeps
    them alive, see run.py), `work` is everything else."""
    total = jit = 0
    for pid in pids or process_tree():
        f = _stat(f"/proc/{pid}/stat")
        if f is None:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        for task in glob.glob(f"/proc/{pid}/task/*/stat"):
            if _is_jit(task):
                t = _stat(task)
                jit += int(t[11]) + int(t[12]) if t else 0
    return (total - jit) / _TICK, jit / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the `steal` column of /proc/stat). Its
    growth during a run says how much co-load the run measured."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def process_start_time() -> float:
    """Wall-clock time this process started (from /proc, so interpreter
    start-up counts toward set-up)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    sid: str
    layer: str
    t0: float
    parent: "Span | None" = None
    t1: float = 0.0
    timed: bool = False
    catalyst_s: float = 0.0
    paused_s: float = 0.0  # spent forcing plans for the Catalyst figure

    @property
    def duration_s(self) -> float:
        return self.t1 - self.t0 - self.paused_s


@dataclass
class Tracer:
    """Records layer spans of a traced run; a no-op when `enabled` is
    false, so untraced runs make no extra calls into Spark. Spans nest;
    jobs belong to the innermost open span."""

    spark: object = None
    enabled: bool = False
    timed: bool = False  # set while the timed region runs
    spans: list[Span] = field(default_factory=list)
    current: Span | None = None
    excluded_s: float = 0.0  # time spent in `catalyst`, kept out of timings

    def _group(self, s: Span | None) -> None:
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(s.sid, s.layer)

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        s = Span(f"s{len(self.spans)}", layer, time.time(), self.current, timed=self.timed)
        self.spans.append(s)
        self.current = s
        self._group(s)
        try:
            yield
        finally:
            s.t1 = time.time()
            self.current = s.parent
            self._group(s.parent)

    def catalyst(self, df) -> None:
        """Force analysis, optimisation and physical planning of `df`'s
        final plan and add the planner's own phase durations to the open
        span. The forcing itself is kept out of every timing."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            got = phases.get(name)
            if got.isDefined():
                self.current.catalyst_s += got.get().durationMs() / 1000.0
        spent = time.perf_counter() - t0
        self.excluded_s += spent
        s = self.current
        while s is not None:
            s.paused_s += spent
            s = s.parent


# -------------------------------------------------------------- event log


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn the event log on (uncompressed, so
    the reader needs no codec)."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
    ]


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs and stages per job group from the (stopped) session's log.

    Returns `(jobs, stages)`: jobs[id] = {group, t0, t1}; stages[id] =
    {group, tasks, run_ms, cpu_ns, gc_ms, shuffle_read, shuffle_write,
    spill}."""
    # Spark 4 rolls the log: eventlog_v2_<app>/events_<n>_<app> files
    paths = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))),
        key=lambda p: int(os.path.basename(p).split("_")[1])
        if os.path.basename(p).startswith("events_") else 0,
    )
    if not paths:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for raw in _lines(paths):
        ev = json.loads(raw)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "t0": ev["Submission Time"] / 1000.0,
                "t1": ev["Submission Time"] / 1000.0,
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            stages[ev["Stage Info"]["Stage ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            }
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if st is None or not tm:
                continue
            sr = tm.get("Shuffle Read Metrics", {})
            st["tasks"] += 1
            st["run_ms"] += tm.get("Executor Run Time", 0)
            st["cpu_ns"] += tm.get("Executor CPU Time", 0)
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    return jobs, stages


def _covered(t0: float, t1: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [t0, t1] covered by the union of `intervals`."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


LAYER_SPANS = {
    "sources.landing_parse_s": "sources.landing_parse",
    "functions.clean_extract_s": "functions.clean_extract",
    "operators.merge_s": "operators.merge",
    "warehouse.write_s": "warehouse.write",
    "warehouse.compact_s": "warehouse.compact",
    "pipeline.mv_refresh_s": "pipeline.mv_refresh",
    "pipeline.audit_flush_s": "pipeline.audit_flush",
}


def layer_report(tracer: Tracer, log_dir: str, passes: int) -> dict[str, float]:
    """Per-layer figures of the timed region, per pass, plus the set-up
    spans; reads the event log of the stopped session."""
    jobs, stages = read_event_log(log_dir)
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        by_group.setdefault(j["group"], []).append(j)
    st_by_group: dict[str, list[dict]] = {}
    for st in stages.values():
        st_by_group.setdefault(st["group"], []).append(st)
    per = 1.0 / max(1, passes)
    out = {k: 0.0 for k in (
        "plans.build_self_s", "plans.catalyst_s", "plans.build_jobs",
        "plans.build_job_s", "exec.action_jobs", "exec.stages", "exec.tasks",
        "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s",
        "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
        *LAYER_SPANS,
    )}
    setup_layers = ("session.warm", "sources.scan_setup", "oracle.check")
    for s in tracer.spans:
        if not s.timed or s.layer in setup_layers:
            continue
        out["plans.catalyst_s"] += s.catalyst_s * per
        js = by_group.get(s.sid, [])
        if s.layer == "plans.build":
            job_time = _covered(s.t0, s.t1, [(j["t0"], j["t1"]) for j in js])
            out["plans.build_self_s"] += (s.duration_s - job_time) * per
            out["plans.build_jobs"] += len(js) * per
            out["plans.build_job_s"] += job_time * per
            continue
        out["exec.action_jobs"] += len(js) * per
        for st in st_by_group.get(s.sid, []):
            if st["tasks"] == 0:
                continue  # skipped: its output was reused
            out["exec.stages"] += per
            out["exec.tasks"] += st["tasks"] * per
            out["exec.executor_run_s"] += st["run_ms"] / 1e3 * per
            out["exec.executor_cpu_s"] += st["cpu_ns"] / 1e9 * per
            out["exec.gc_s"] += st["gc_ms"] / 1e3 * per
            out["exec.shuffle_read_mb"] += st["shuffle_read"] / 2**20 * per
            out["exec.shuffle_write_mb"] += st["shuffle_write"] / 2**20 * per
            out["exec.spill_mb"] += st["spill"] / 2**20 * per
        for metric, layer in LAYER_SPANS.items():
            if s.layer == layer:
                out[metric] += s.duration_s * per
    # set-up spans, whole run; a check nested in a warm-up is not warm-up
    for s in tracer.spans:
        if s.layer in setup_layers:
            key = s.layer + "_s"
            out[key] = out.get(key, 0.0) + s.duration_s
            if s.layer == "oracle.check" and s.parent and s.parent.layer == "session.warm":
                out["session.warm_s"] = out.get("session.warm_s", 0.0) - s.duration_s
    return out
