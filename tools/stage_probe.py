"""Per-lap Spark attribution for one declared query.

Runs <query> from __spark_entry__ with the JSON event log enabled: one
warm lap (lap 0), then N timed laps, each written to the noop sink under
its own ``perfbench.trace.Tracer`` span (job group ``<query>#<lap>``).
After the session stops, ``perfbench.trace.EventLog`` aggregates the log
per job group and one row per lap is printed: wall, jobs, stages, tasks,
failed tasks, executor CPU, planning, union of stage intervals, shuffle
write, input and Python bytes. This answers "WHERE do the cpu-seconds
go" for cells whose cpu_s moves at an identical plan hash.

Usage: python tools/stage_probe.py <query> [--laps 2] [--cpus N]
                                   [--sf-dir DIR]
The scratch event log directory is removed on exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--laps", type=int, default=2)
    ap.add_argument("--cpus", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()
    if args.cpus:
        os.environ["SPARK_GRAFT_CPUS"] = args.cpus

    logdir = tempfile.mkdtemp(prefix="stage_probe_")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Dspark.eventLog.enabled=true -Dspark.eventLog.dir={logdir}"
        + " -Dspark.eventLog.compress=false"
        + " -Dspark.eventLog.rolling.enabled=false"
    ).strip()

    import __spark_entry__ as entry_mod
    from anomalyzer_spark.session import get_spark
    from bench import _bench_fixtures
    from perfbench.trace import EventLog, GroupStats, Tracer

    try:
        spark = get_spark("stage-probe")
        run_dir = _bench_fixtures(args.sf_dir)
        query = entry_mod.queries()[args.query]
        tracer = Tracer(spark)
        for lap in range(args.laps + 1):
            with tracer.span(args.query, lap):
                query(spark, run_dir).write.mode("overwrite").format(
                    "noop").save()
        spark.stop()  # flushes the event log
        log = EventLog.from_dir(logdir)
    finally:
        shutil.rmtree(logdir, ignore_errors=True)

    print(f"query={args.query} "
          f"cpus={os.environ.get('SPARK_GRAFT_CPUS', '*')} (lap 0 = warm)")
    print(f"{'lap':>3} {'wall_s':>7} {'jobs':>4} {'stages':>6} {'tasks':>5} "
          f"{'failed':>6} {'cpu_s':>7} {'plan_s':>6} {'stage_s':>7} "
          f"{'shuf_wr_B':>10} {'input_B':>10} {'py_sent_B':>10} "
          f"{'py_recv_B':>10}")
    for s in tracer.spans:
        g = log.groups.get(s.group, GroupStats())
        print(f"{s.lap:>3} {s.wall_s:>7.3f} {g.jobs:>4} {g.stages:>6} "
              f"{g.tasks:>5} {g.failed_tasks:>6} {g.executor_cpu_s:>7.3f} "
              f"{g.plan_s:>6.3f} {g.stage_union_s():>7.3f} "
              f"{g.shuffle_write_bytes:>10} {g.input_bytes:>10} "
              f"{g.python_bytes_sent:>10} {g.python_bytes_received:>10}")


if __name__ == "__main__":
    main()
