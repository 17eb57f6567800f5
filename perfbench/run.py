"""Closed-loop benchmark of the feature-store engine: one client, one
Spark session on ``local[<cpus>]``, each operation waiting for the last.

    python3 perfbench/run.py --workload fs_cycle --seed 42 --seconds 8 --trace 0
    python3 perfbench/run.py --workload query_mix --seed 7 --trace 1 --out r.json
    python3 perfbench/run.py --compare a.json b.json

Run it from the repository root; everything it writes goes under
``.perfbench_work/`` there and is removed at exit. The last line of
standard output is the result: ``correct``, ``attempted``, ``failed`` and
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The stamp (cpus, driver memory, input size, seed) goes
to standard error and, with ``--out``, into the result file, and
``--compare`` refuses two files whose stamps differ.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"

E2E = {"setup_s": "s", "iter_s": "s", "iter_cpu_s": "s"}
SPANS = (
    "session.start", "setup.datagen", "pipelines.build", "featurestore.save_many",
    "streaming.cdc_apply", "pipelines.entity_refresh", "featurestore.merge",
    "featurestore.training_set", "featurestore.snapshot",
    "operators.query", "textops.query", "validation.query",
)
SPAN_COUNTERS = {"wall_ms": "ms", "no_job_ms": "ms", "jobs": "count", "tasks": "count",
                 "exec_run_ms": "ms", "shuffle_write_bytes": "B"}
ITER_COUNTERS = {"stages": "count", "exec_cpu_ms": "ms", "gc_ms": "ms",
                 "shuffle_read_bytes": "B", "spill_bytes": "B", "input_bytes": "B",
                 "output_bytes": "B", "output_files": "count"}
PLAN_SPANS = ("featurestore.training_set", "featurestore.snapshot",
              "operators.query", "textops.query", "validation.query")
STREAM = {"streaming.start_ms": "start_ms", "streaming.drain_ms": "drain_ms",
          "streaming.queryPlanning_ms": "queryPlanning", "streaming.addBatch_ms": "addBatch",
          "streaming.walCommit_ms": "walCommit"}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{c}": u for s in SPANS for c, u in SPAN_COUNTERS.items()}
    units.update({f"iter.{c}": u for c, u in ITER_COUNTERS.items()})
    units.update({f"{s}.plan_ms": "ms" for s in PLAN_SPANS})
    units.update({k: "ms" for k in STREAM})
    units.update({
        "featurestore.merge_rewrite_ratio": "ratio",
        "pipelines.entity_refresh_rewrite_ratio": "ratio",
        "featurestore.bytes_per_row": "B/row",
        "spark.cached_mb_after_iter": "MB",
        "tracing_overhead_s": "s",
        "process.peak_rss_mb": "MB",
    })
    return units


def _environment(cpus: int) -> dict:
    """Point every scratch location of Spark, the JVM and Python into
    the work directory and size the session to this host."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    import tempfile

    tempfile.tempdir = None
    return {"cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"]}


def _start_session(rec, events: str | None) -> None:
    from databricks_demo_feature_store_spark import get_spark

    conf = {"spark.eventLog.enabled": "true" if events else "false"}
    if events:
        conf.update({"spark.eventLog.dir": f"file://{events}", "spark.eventLog.compress": "false"})
    t0 = time.time()
    if rec.spark is not None:
        rec.spark.stop()
    rec.spark = get_spark("perfbench", extra_conf=conf)
    rec.spans.append({"name": "session.start", "phase": rec.phase,
                      "iteration": rec.iteration, "t0": t0, "t1": time.time()})


def _shutdown(rec) -> None:
    """Stop the session and the JVM, then reap what is left."""
    from pyspark import SparkContext

    if rec.spark is not None:
        rec.spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
    _reap()


def _reap() -> None:
    """Terminate the child processes still running and wait for them."""
    from spans import descendants

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            if not descendants():
                return
            time.sleep(0.2)


def _run(args, stamp: dict) -> tuple[dict, dict]:
    from spans import (
        Recorder, attribute, cached_mb, cpu_s, parse_event_logs, peak_rss_mb, set_event_log,
    )

    if args.workload == "fs_cycle":
        from fs_cycle import FsCycle as Workload
    else:
        from query_mix import QueryMix as Workload
    wl = Workload(args.seed, WORK)
    stamp["size"] = wl.size
    rec = Recorder(trace=bool(args.trace))
    events = os.path.join(WORK, "events") if args.trace else None
    if events:
        os.makedirs(events)

    setup_s = []
    for k in range(wl.setups):
        rec.iteration = k
        t0 = time.time()
        _start_session(rec, events)
        wl.setup(rec, k)
        setup_s.append(time.time() - t0)
    wl.prepare(rec)

    attempted = failed = 0
    problems: list[str] = []
    iters, cpus, cached = [], [], []
    extra: dict = {}

    def one_iteration() -> tuple[float, float, bool]:
        """Run and check one iteration; (wall, cpu) exclude the check."""
        nonlocal attempted, failed
        rec.iteration += 1
        root = os.path.join(WORK, f"iter{rec.iteration}")
        n_spans = len(rec.spans)
        c0, t0 = cpu_s(), time.time()
        try:
            out = wl.iteration(rec, rec.iteration, root)
        except Exception as exc:  # counted and reported; the run goes on
            out = None
            failed += 1
            problems.append(f"iteration {rec.iteration}: {type(exc).__name__}: {exc}")
        wall, cpu = time.time() - t0, cpu_s() - c0
        attempted += len(rec.spans) - n_spans
        if out is not None:
            found = wl.check(out)
            failed += len(found)
            problems.extend(found)
            if args.trace and rec.phase == "timed":
                extra.update(wl.layer_extras(out))
                cached.append(cached_mb(rec.spark))
        shutil.rmtree(root, ignore_errors=True)
        return wall, cpu, out is not None

    rec.phase, rec.iteration = "warmup", 0
    for _ in range(wl.warmup_iterations):
        one_iteration()
    rec.phase, measured = "timed", 0.0
    while measured < args.seconds and failed <= 3:
        wall, cpu, ok = one_iteration()
        measured += wall
        if ok:
            iters.append(wall)
            cpus.append(cpu)
    if not iters:
        _shutdown(rec)
        raise RuntimeError("no iteration completed: " + "; ".join(problems))

    if args.trace:
        # tracing overhead: one untraced then one traced iteration after
        # the last timed (traced) one; traced, untraced, traced in a row
        # cancels the speed-up each iteration still gets from warming
        rec.phase, overhead = "overhead", []
        for on in (False, True):
            set_event_log(rec.spark, on)
            rec.trace = on
            root = os.path.join(WORK, f"overhead{int(on)}")
            t0 = time.time()
            wl.iteration(rec, -1, root)
            overhead.append(time.time() - t0)
            shutil.rmtree(root, ignore_errors=True)
        rss = peak_rss_mb()
        _shutdown(rec)
        attribute(rec.spans, parse_event_logs(events))
        metrics = _layers(rec.spans, extra)
        metrics["process.peak_rss_mb"] = rss
        metrics["spark.cached_mb_after_iter"] = cached[-1]
        metrics["tracing_overhead_s"] = (iters[-1] + overhead[1]) / 2 - overhead[0]
    else:
        _shutdown(rec)
        metrics = {
            "setup_s": statistics.median(setup_s),
            "iter_s": statistics.median(iters),
            "iter_cpu_s": statistics.median(cpus),
        }
    units = per_layer_units() if args.trace else E2E
    attempted = max(attempted, 1)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),  # several wrong outputs of one operation
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    detail = {"setup_s": setup_s, "iter_s": iters, "iter_cpu_s": cpus, "problems": problems,
              "digests": getattr(wl, "digests", None),
              "ops": [{"ms": (s["t1"] - s["t0"]) * 1000.0,
                       **{k: v for k, v in s.items() if k not in ("t0", "t1", "group")}}
                      for s in rec.spans]}
    return result, detail


def _layers(spans: list[dict], extra: dict) -> dict:
    """Per-layer values: medians over set-ups (set-up spans) or timed
    iterations (the rest) of each span's per-set-up/iteration sum."""
    for s in spans:
        s["wall_ms"] = (s["t1"] - s["t0"]) * 1000.0 - s.get("probe_ms", 0.0)
        s["no_job_ms"] = max(0.0, s["no_job_ms"] - s.get("probe_ms", 0.0))

    def med(name: str | None, key: str, phase: str) -> float:
        per: dict[int, float] = {}
        for s in spans:
            if s["phase"] == phase and (name is None or s["name"] == name):
                per[s["iteration"]] = per.get(s["iteration"], 0.0) + float(s.get(key, 0.0))
        return statistics.median(per.values()) if per else 0.0

    out = {}
    for name in SPANS:
        phase = "setup" if name in ("session.start", "setup.datagen") else "timed"
        for c in SPAN_COUNTERS:
            out[f"{name}.{c}"] = med(name, c, phase)
    for c in ITER_COUNTERS:
        out[f"iter.{c}"] = med(None, c, "timed")
    for name in PLAN_SPANS:
        out[f"{name}.plan_ms"] = med(name, "plan_ms", "timed")
    cdc = [s for s in spans if s["name"] == "streaming.cdc_apply" and s["phase"] == "timed"]
    for key, field in STREAM.items():
        vals = [s[field] if field in s else sum(p.get(field, 0) for p in s["progress"])
                for s in cdc]
        out[key] = statistics.median(vals) if vals else 0.0
    for key, name in (("featurestore.merge_rewrite_ratio", "featurestore.merge"),
                      ("pipelines.entity_refresh_rewrite_ratio", "pipelines.entity_refresh")):
        ratios = [s["output_rows"] / s["changed_rows"] for s in spans
                  if s["name"] == name and s["phase"] == "timed" and s.get("changed_rows")]
        out[key] = statistics.median(ratios) if ratios else 0.0
    out["featurestore.bytes_per_row"] = extra.get("store_bytes_per_row", 0.0)
    return out


def _compare(a_path: str, b_path: str) -> int:
    with open(a_path) as fa, open(b_path) as fb:
        a, b = json.load(fa), json.load(fb)
    if a["stamp"] != b["stamp"]:
        print(f"refusing to compare: stamps differ\n  {a['stamp']}\n  {b['stamp']}",
              file=sys.stderr)
        return 3
    for k, va in a["result"]["metrics"].items():
        vb = b["result"]["metrics"][k]["value"]
        ratio = vb / va["value"] if va["value"] else float("nan")
        print(f"{k:48s} {va['value']:14.4f} {vb:14.4f} {ratio:8.3f}x {va['unit']}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("fs_cycle", "query_mix"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write stamp, result and per-op detail here")
    ap.add_argument("--compare", nargs=2, metavar="RESULT")
    args = ap.parse_args(argv)
    if args.compare:
        return _compare(*args.compare)
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: run from the repository root (no __spark_entry__.py here)",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             **_environment(len(os.sched_getaffinity(0)))}
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, detail = _run(args, stamp)
    finally:
        _reap()
        shutil.rmtree(WORK, ignore_errors=True)
    for p in detail["problems"]:
        print(f"perfbench: WRONG: {p}", file=sys.stderr)
    print(json.dumps({"stamp": stamp, "setup_s": detail["setup_s"],
                      "iter_s": detail["iter_s"]}), file=sys.stderr)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"stamp": stamp, "result": result, **detail}, fh, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
