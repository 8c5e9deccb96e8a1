"""Benchmark of anomalyzer_spark: seeded workloads, end-to-end metrics, and
a traced run that splits each job's time over the library's layers.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run starts a ``local[nproc]`` session
through ``anomalyzer_spark.session.get_spark``, writes the workload's
seeded inputs, warms up (the output check or the stream's first trigger
as the cold lap, then ``WARM_LAPS`` plain laps or triggers), measures for
``--seconds`` (a stream then checks its final state), and prints as its
last stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. The line before it records the run's environment, inputs,
and every measured lap's wall and CPU seconds. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the session writes
Spark's event log, every layer call gets its own job group, and the
metrics are the per-layer ones. Exit code 0 means every lap and output
check passed.

Seeds: the same seed gives the same inputs. The sizes and warm-up counts
were tuned on seeds 1-110; seed 9001 is held out, so that a claimed gain
can be confirmed on inputs nothing was tuned on.

End-to-end metrics: ``setup_s`` (session start, input generation and
warm-up) and ``cpu_s_per_mrow``, the CPU seconds of the whole process
tree in the median measured lap per million input rows of a lap, less
the CPU of the JVM's JIT compiler threads (``trace.JitCPU`` says why).
Wall latency is not among them: on a shared 4-core host, runs of the same
code spread by 30-40% of their median as the host's load changed, while
CPU per lap spread by 5-20%. The laps' walls are on the info line, and
the traced run reports them as ``trace.job_s_p50``.

Which layer metric should move which end-to-end metric, and where:

  kernel.*  -> cpu_s_per_mrow on detect_mc_keys, and on no other workload
  sources.*, tail_window.self_s, columnar.self_s, spark.shuffle_write_bytes
      -> a little of cpu_s_per_mrow on detect_mc_keys; the closed-form
      tests also run per key, in Python, on stream_detect_push
  streaming.*  -> cpu_s_per_mrow on stream_detect_push;
      streaming.drain_rows_per_s is the query's drain capacity
  spark.jobs/stages/tasks, spark.plan_s, spark.sched_gap_s, trace.residue_s
      -> fixed cost per job or trigger: cpu_s_per_mrow on both workloads,
      most on stream_detect_push

A layer a workload does not run reports 0. ``env.peak_rss_mb`` (peak
resident memory of the process tree) is reported by the traced run only:
it varies too much between runs to carry a bound.

Tracing overhead. ``trace.job_s_p50`` is the median wall of the complete
job under its job group on detect, and the median file-to-result latency
on the stream. The event log is on for the whole traced session, so its
cost is ``trace.job_s_p50`` minus the median lap wall of an untraced run
of the same workload and seed (its info line). On detect the traced run
also alternates plain laps (no job group) with traced ones:
``trace.overhead_s`` is the traced minus the plain median
(``trace.plain_job_s_p50``), the cost of the spans and job groups alone.
The stream opens no spans (Spark sets the job groups of its micro-batches
itself), so it has no plain laps and reports 0 for both.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_mrow": "s",
}

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "tail_window.self_s": "s",
    "columnar.self_s": "s",
    "kernel.self_s": "s",
    "kernel.keys": "count",
    "kernel.arrow_bytes_sent": "bytes",
    "kernel.arrow_bytes_received": "bytes",
    "streaming.triggers": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.commit_s_p50": "s",
    "streaming.planning_s_p50": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.drain_rows_per_s": "rows/s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.plan_s": "s",
    "spark.sched_gap_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "trace.residue_s": "s",
    "trace.job_s_p50": "s",
    "trace.plain_job_s_p50": "s",
    "trace.overhead_s": "s",
    "env.peak_rss_mb": "MB",
    "env.steal_s": "s",
}


def _heap() -> str:
    """A quarter of physical memory, in whole GiB between 1 and 8."""
    with open("/proc/meminfo") as f:
        kib = int(f.readline().split()[1])
    return f"{max(1, min(8, kib // 4 // 2**20))}g"


def _configure(work: str, nproc: int, heap: str, trace: bool) -> None:
    """Session settings that must reach the JVM launcher: every file the
    run writes stays under ``work``, and Python workers can import the
    package from the repository root."""
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    opts = [os.environ.get("SPARK_SUBMIT_OPTS", ""),
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.showConsoleProgress=false"]
    if trace:
        opts += ["-Dspark.eventLog.enabled=true",
                 f"-Dspark.eventLog.dir=file://{work}/events",
                 "-Dspark.eventLog.compress=false",
                 "-Dspark.eventLog.rolling.enabled=false"]
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(o for o in opts if o)


def _stop_jvm() -> None:
    """End the JVM the session launched and wait for it and its Python
    workers: closing the launcher's stdin makes the gateway exit, and the
    workers exit when the JVM's pipe to them closes."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = set(process_tree()) - {os.getpid()}
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{pid}") for pid in children):
        time.sleep(0.1)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "anomalyzer_spark", "__init__.py")):
        print("anomalyzer_spark is not next to perfbench/: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench.stats import summary
    from perfbench.trace import EventLog, ProcSampler, Tracer, steal_s
    from perfbench.workloads import WORKLOADS, clean

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    heap = _heap()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _configure(work, nproc, heap, bool(args.trace))
    import pyspark
    from anomalyzer_spark.session import get_spark

    steal0 = steal_s()
    spark = wl = None
    try:
        with ProcSampler() as sampler:
            spark = get_spark(f"perfbench-{args.workload}", shuffle_partitions=nproc)
            session_s = time.perf_counter() - t_start
            wl = WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed,
                                          sampler.sample)
            t0 = time.perf_counter()
            inputs = wl.generate()
            gen_s = time.perf_counter() - t0
            warm = wl.warm()
            setup_s = time.perf_counter() - t_start

            sampler.reset_peak()
            tracer = Tracer(spark) if args.trace else None
            if tracer:
                wl.trace(args.seconds, tracer)
            else:
                wl.measure(args.seconds)
            peak = sampler.peak_rss
            wl.finish()
        metrics = ({} if args.trace or wl.failed else
                   {"setup_s": setup_s, **wl.end_to_end()})
        wl.close()
        spark.stop()
        spark = None
        if tracer and not wl.failed:
            # a failed lap or trigger leaves layers without samples: the
            # result line then reports the failure and no metrics
            wl.layers(tracer, EventLog.from_dir(os.path.join(work, "events")))
            metrics = {k: wl.layer.get(k, 0.0) for k in PER_LAYER}
            metrics["env.peak_rss_mb"] = peak / 2**20
            metrics["env.steal_s"] = steal_s() - steal0
    finally:
        if wl is not None and spark is not None:
            wl.close()
        if spark is not None:
            spark.stop()
        _stop_jvm()
        clean(work)

    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {"nproc": nproc, "heap": heap, "spark": pyspark.__version__,
                "steal_s": round(steal_s() - steal0, 3)},
        "input": inputs,
        "setup": {"session_s": round(session_s, 3), "generate_s": round(gen_s, 3),
                  "warm_s": [round(w, 3) for w in warm]},
        "latency_s": {**summary(wl.laps or wl.plain),
                      "samples": [round(x, 3) for x in wl.laps or wl.plain]},
        "cpu_s": [round(x, 2) for x in wl.cpu_laps],
    }))
    correct = wl.failed == 0 and set(metrics) == set(units)
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
