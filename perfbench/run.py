#!/usr/bin/env python3
"""Benchmark of the cosmap_spark engine, measured from outside.

    python3 perfbench/run.py --workload survey|ledger|commit_log \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Inputs are generated from ``--seed``
and cached under ``.perfbench/data``; scratch output, Spark's local
dirs and event log live under ``.perfbench/`` too.  The session is
``local[<cores>]`` sized from the host (CPU affinity, MemTotal).  The
JVM and every process under it have ended before the run exits.

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``.  ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` wraps each layer call in a span and
reports the per-layer metrics, writing the spans to
``.perfbench/traces/<run id>.jsonl``.  The line before it carries the
run's context (host shape, calibration probe, notes).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


def host_shape() -> tuple[int, int]:
    """(cores this process may run on, JVM heap MiB = a quarter of
    MemTotal, at least 1 GiB)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return cores, max(1024, kb // 1024 // 4)


def _prepare_env(cores: int, tmp: str) -> None:
    """Before the JVM starts: Python workers import the engine from this
    checkout whatever the working directory, and every temp file stays
    inside the checkout."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(cores: int, heap_mb: int, tmp: str, eventlog: str):
    from cosmap_spark.session import get_spark

    spark = get_spark(
        app_name="cosmap-perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    Python worker the JVM forked is re-parented here, not to init, if
    the JVM ends first, and ``stop_processes`` can wait for it."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me = str(os.getpid())
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # pid (comm) state ppid ...; comm may hold spaces
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            pids.append(int(entry))
    return pids


def stop_processes(grace_s: float = 20.0) -> None:
    """End the Spark JVM and every process under this one, and wait
    for each.  The JVM exits when its stdin closes; what is still
    running after ``grace_s`` is killed."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:  # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        pids = _children()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def calibrate(spark) -> float:
    """bench.py's machine probe (hash + shuffle aggregation over 20M
    generated rows, none of the engine's code), into noop."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (spark.range(20_000_000)
     .select(F.xxhash64("id").alias("h"))
     .groupBy(F.pmod("h", F.lit(1000)).alias("k"))
     .agg(F.count("*"), F.avg("h"))
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("VmHWM:"))
    return kb / 1024.0


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "throughput": "1/s",
    "exec_cpu_s": "s",
}


def end_to_end(run, stages) -> dict:
    from spans import cpu_in

    values = {
        "setup_s": sum(run.setup.values()),
        "pass_s": statistics.median(run.passes),
        "throughput": run.units / run.timed_wall,
        "exec_cpu_s": statistics.median(
            cpu_in(stages, a, b) for a, b in run.windows),
    }
    return {k: _metric(values[k], u) for k, u in END_TO_END_UNITS.items()}


#: per-layer metrics: name -> unit; a layer a workload does not
#: exercise reports 0
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "setup.generate_s": "s",
    "setup.warm_s": "s",
    "pipeline.build_s": "s",
    "operators.sampler.s": "s",
    "operators.cone_search.s": "s",
    "operators.cone_search.pairs": "count",
    "spark.plan_s": "s",
    "sinks.mor.append_s": "s",
    "sinks.mor.bytes_written": "bytes",
    "sinks.mor.read_s": "s",
    "sinks.mor.read_files": "count",
    "sinks.mor.maintain_s": "s",
    "sinks.mor.compactions": "count",
    "sinks.mor.space_amp": "ratio",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.input_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.tasks": "count",
    "jvm.peak_rss_mb": "MiB",
    "trace.overhead_ratio": "ratio",
}


def per_layer_units() -> dict:
    from workloads import ledger_names

    units = dict(PER_LAYER_UNITS)
    for q in ledger_names():
        for part in ("build_s", "exec_s", "cpu_s"):
            units[f"ledger.{q}.{part}"] = "s"
    return units


def per_layer(run, stages) -> dict:
    from spans import STAGE_FIELDS

    tr = run.tracer
    tr.attribute(stages)
    values = dict(run.setup)
    for k, v in run.layers.items():
        values[k] = statistics.median(v) if isinstance(v, list) else v
    # executor stages of the traced timed passes, median per pass
    passes = [s for s in tr.spans if s["name"] in
              ("pipeline.run", "ledger.pass", "commit_log.commit")]
    for k in STAGE_FIELDS:
        values[f"spark.{k}"] = statistics.median(
            s["spark"][k] for s in passes)
    for s in tr.spans:
        if s["name"].startswith("ledger.") and s["parent"] is not None \
                and tr.spans[s["parent"]]["name"] == "ledger.pass":
            values.setdefault(f"{s['name']}.cpu_s", []).append(
                s["spark"]["cpu_s"])
    out = {}
    for name, unit in per_layer_units().items():
        v = values.get(name, 0)
        out[name] = _metric(statistics.median(v) if isinstance(v, list)
                            else v, unit)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [d for d in ("cosmap_spark", os.path.join("examples", "quickstart"),
                           "tests") if not os.path.isdir(os.path.join(ROOT, d))]
    if missing:
        print(f"perfbench: {ROOT} is not a cosmap_spark checkout "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2

    import selftest
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    problems = selftest.timed_paths_without_count()
    if problems:
        print(f"perfbench: timed paths call .count(): {problems}",
              file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally blocks below, so the JVM
    # and its workers are stopped on that path too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    cores, heap_mb = host_shape()
    run_dir = os.path.join(STATE, "runs", run_id)
    tmp, eventlog = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "events")
    os.makedirs(tmp)
    os.makedirs(eventlog)
    _prepare_env(cores, tmp)
    from spans import Tracer, read_stages

    try:
        t0 = time.perf_counter()
        spark = start_session(cores, heap_mb, tmp, eventlog)
        session_s = time.perf_counter() - t0
        try:
            run = Run(spark=spark, tracer=Tracer(spark, run_id, bool(args.trace)),
                      root=ROOT, data_root=os.path.join(STATE, "data"),
                      work_dir=os.path.join(run_dir, "work"), seed=args.seed,
                      seconds=args.seconds, cores=cores,
                      trace=bool(args.trace))
            run.setup["session.start_s"] = session_s
            WORKLOADS[args.workload](run)
            calibration_s = calibrate(spark)
            run.layers["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        finally:
            spark.stop()
            stop_processes()
        stages = read_stages(eventlog)
        if args.trace:
            metrics = per_layer(run, stages)
            run.tracer.dump(os.path.join(STATE, "traces", f"{run_id}.jsonl"))
        else:
            metrics = end_to_end(run, stages)
    finally:
        stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)

    context = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "cores": cores, "heap_mb": heap_mb,
        "calibration_s": round(calibration_s, 3),
        "passes": [round(p, 3) for p in run.passes], "notes": run.notes,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
