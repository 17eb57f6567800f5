"""Spans, Spark event-log counters and process memory for the benchmark.

A span is a wall-clock interval around one call into an engine module's
public API, opened only in the benchmark's own code. With tracing on,
each span also sets a Spark job group, and after the session stops the
event log is parsed (the same listener events ``tools/profile_query.py``
reads) into per-span counters. Jobs submitted from threads the engine
starts itself (``save_many``'s pool, streaming micro-batches) carry no
job group; they are attributed by submission time, which is exact here
because the loop is closed: one span is open at a time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "output_rows", "output_files",
)


class Recorder:
    """Collects spans; ``phase`` and ``iteration`` tag where each belongs."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.spark = None
        self.spans: list[dict] = []
        self.phase = "setup"
        self.iteration = 0

    @contextmanager
    def span(self, name: str, **extra):
        rec = {"name": name, "phase": self.phase, "iteration": self.iteration, **extra}
        sc = self.spark.sparkContext if (self.trace and self.spark is not None) else None
        if sc is not None:
            rec["group"] = f"perfbench-{len(self.spans)}"
            sc.setJobGroup(rec["group"], name)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def plan_probe(df) -> tuple[float, float]:
    """(plan_ms, probe_ms): analysis + optimization + planning ms of
    ``df``'s own query execution, and the wall ms this probe took. The
    probe forces planning that the executing action then repeats with
    warm caches, so spans subtract ``probe_ms`` from their wall."""
    t = time.time()
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total), (time.time() - t) * 1000.0


def set_event_log(spark, on: bool) -> None:
    """Detach or re-attach the session's event-log listener, so a traced
    run can time an untraced iteration without restarting the session
    (a restart would also drop state the engine keeps across queries)."""
    sc = spark.sparkContext._jsc.sc()
    logger, bus = sc.eventLogger().get(), sc.listenerBus()
    if on:
        bus.addToEventLogQueue(logger)
    else:
        bus.removeListener(logger)


def cached_mb(spark) -> float:
    """Bytes held by persisted/checkpointed RDDs, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def parse_event_logs(log_dir: str) -> list[dict]:
    """One record per job: interval, group and summed task counters.
    Each session restart writes its own log, with job ids from 0 again."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            jobs: dict[int, dict] = {}
            stage_job: dict[int, int] = {}
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    _apply(ev, jobs, stage_job)
            out += [j for j in jobs.values() if "end" in j]
    return out


def _apply(ev: dict, jobs: dict, stage_job: dict) -> None:
    et = ev.get("Event")
    if et == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        job = jobs[ev["Job ID"]] = {
            "start": ev["Submission Time"] / 1000.0,
            "group": props.get("spark.jobGroup.id"),
            **{c: 0 for c in COUNTERS},
        }
        job["jobs"] = 1
        for sid in ev.get("Stage IDs", []):
            stage_job[sid] = ev["Job ID"]
    elif et == "SparkListenerJobEnd":
        if ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
    elif et == "SparkListenerStageCompleted":
        job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
        if job is not None:
            job["stages"] += 1
    elif et == "SparkListenerTaskEnd":
        job = jobs.get(stage_job.get(ev.get("Stage ID")))
        tm = ev.get("Task Metrics")
        if job is None or not tm:
            return
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        out = tm.get("Output Metrics") or {}
        job["tasks"] += 1
        job["exec_run_ms"] += tm.get("Executor Run Time", 0)
        job["exec_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        job["gc_ms"] += tm.get("JVM GC Time", 0)
        job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        job["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        job["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        job["output_bytes"] += out.get("Bytes Written", 0)
        job["output_rows"] += out.get("Records Written", 0)
        # an unpartitioned write task that produced bytes wrote one file
        job["output_files"] += 1 if out.get("Bytes Written", 0) > 0 else 0


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Add the counters of each job to the span that submitted it, and
    ``no_job_ms`` = span wall minus the union of its job intervals."""
    by_group = {s["group"]: s for s in spans if "group" in s}
    ordered = sorted(spans, key=lambda s: s["t0"])
    for s in spans:
        s.update({c: 0 for c in COUNTERS})
        s["_intervals"] = []
    for j in jobs:
        s = by_group.get(j["group"])
        if s is None:
            s = next((x for x in ordered if x["t0"] <= j["start"] <= x["t1"]), None)
        if s is None:
            continue
        for c in COUNTERS:
            s[c] += j[c]
        s["_intervals"].append((max(j["start"], s["t0"]), min(j["end"], s["t1"])))
    for s in spans:
        busy, last = 0.0, s["t0"]
        for a, b in sorted(s.pop("_intervals")):
            a = max(a, last)
            if b > a:
                busy += b - a
                last = b
        s["no_job_ms"] = max(0.0, (s["t1"] - s["t0"] - busy) * 1000.0)


def _tree(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def descendants() -> list[int]:
    return _tree(os.getpid())[1:]


def cpu_s() -> float:
    """User + system CPU seconds used so far by this process tree: the
    Python driver, the JVM and Python workers (live ones, and the
    children they have reaped)."""
    ticks = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of peak resident set (VmHWM) over this process and its
    descendants: the Python driver, the JVM and any Python workers."""
    total_kb = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
