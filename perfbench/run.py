#!/usr/bin/env python3
"""Engine benchmark: one command, named workloads, every output checked.

    python3 perfbench/run.py --workload query_single --seed 1 --seconds 8 --trace 0

Run it from the repository root. ``--trace 0`` reports the end-to-end
metrics named in BENCHMARK.json, measured with tracing off; ``--trace 1``
reports its per-layer metrics from spans, job groups and the Spark event
log. The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the full report (the workload's own
metrics, sample counts, input properties, failures and, when traced, the
span table). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
JVM_HEAP = "4g"


def _args(argv):
    p = argparse.ArgumentParser(description="lucene_solr_spark engine benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def _environment(work: str, trace: bool) -> str:
    """Point every file Spark, the JVM and the Python workers write into this
    run's directory inside the checkout. Returns the event-log directory."""
    local, tmp, events = (os.path.join(work, d) for d in ("local", "tmp", "eventlog"))
    for d in (local, tmp, events):
        os.makedirs(d)
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # uncompressed: Spark 4 defaults to zstd, and reading that needs a
        # zstandard module the benchmark does not depend on
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
            }
        )
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ.update(
        {
            "PYSPARK_SUBMIT_ARGS": submit + " pyspark-shell",
            "SPARK_LOCAL_DIRS": local,
            "SPARK_DRIVER_MEMORY": JVM_HEAP,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": ROOT,
            "PYTHONDONTWRITEBYTECODE": "1",
            "TMPDIR": tmp,
            # no /tmp/hsperfdata file: the JVM's monitoring data stays off
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    return events


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _wait_gone(procs: set, timeout_s: float = 30.0) -> None:
    """Wait until every process this run started (the JVM's Python workers
    included), given as (pid, start time), has ended; kill what outlives the
    timeout. A pid now held by a process with another start time was reused
    and is left alone."""
    from spans import proc_stat

    def alive(pid: int, start: int) -> bool:
        st = proc_stat(pid)
        return st is not None and st[0] != "Z" and st[1] == start

    deadline = time.monotonic() + timeout_s
    while any(alive(*p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if alive(*p):
            try:
                os.kill(p[0], 9)
            except OSError:
                pass


def main(argv=None) -> int:
    args = _args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "lucene_solr_spark")) or not os.path.isfile(spec_path):
        print("run from the repository root: lucene_solr_spark/ or BENCHMARK.json not found", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    # a terminated run still unwinds: the JVM is stopped and the run
    # directory removed in the finally blocks below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    events = _environment(work, bool(args.trace))
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)

    import workloads
    from spans import ProcessSampler

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    from lucene_solr_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    try:
        with ProcessSampler() as procs:
            t0 = time.perf_counter()
            spark = get_spark(cpus=cores)
            session_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
            try:
                run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace), session_s, procs)
                result = workloads.WORKLOADS[args.workload](run)
                run.log(f"checked {run.attempted} operations, {len(run.failures)} failed")
                if args.trace:
                    run.tracer.count_jobs()
            finally:
                _stop_spark(spark)
        _wait_gone(procs.seen)

        e2e = dict(result["e2e"], peak_rss_mb=run.window_stats["peak_rss_mb"])
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": cores,
            "end_to_end": e2e,
            "workload_metrics": dict(result["workload"], fail_ratio=len(run.failures) / max(run.attempted, 1)),
            "inputs": result["inputs"],
            "window": run.window_stats,
            "failures": run.failures[:20],
        }
        if args.trace:
            run.tracer.join_event_log(events)
            run.finish_layers()
            spans_path = os.path.join(ROOT, ".bench_work", "spans", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            run.tracer.write(spans_path)
            report.update(layers=run.layers, span_table=run.tracer.table(), spans_file=os.path.relpath(spans_path, ROOT))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    source, names = (run.layers, spec["per_layer"]) if args.trace else (e2e, spec["end_to_end"])
    metrics = {}
    for m in names:
        value = source.get(m["name"], 0.0 if args.trace else None)
        if value is None:
            raise KeyError(f"workload {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": max(run.attempted, 1),
                "failed": len(run.failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
