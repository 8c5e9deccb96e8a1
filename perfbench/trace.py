"""Measurement from outside the library.

* ``ProcSampler`` — CPU seconds and peak resident memory of the whole
  process tree (this interpreter, the JVM it launched, and the JVM's Python
  workers), read from ``/proc``. The CPU leaves out the JVM's JIT compiler
  threads (see ``JitCPU``).
* ``Tracer`` — named spans around calls into the library, each span with
  its own Spark job group, so that the event log can be cut per call.
* ``EventLog`` — a parser for Spark's JSON event log that aggregates jobs,
  stages, tasks and SQL metrics per job group.

CPU, steal and GC readings reuse ``bench.py``'s helpers, so both harnesses
measure them the same way; importing ``bench`` starts no session.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field

from bench import _TreeCPU, _jvm_gc_ms
from bench import _steal_s as steal_s  # noqa: F401 (cumulative steal seconds)

#: seconds between two samples of the process tree
SAMPLE_INTERVAL_S = 0.2


def jvm_gc_s(spark) -> float:
    """Cumulative GC seconds of the JVM (driver and, in local mode, all
    executor threads) over every collector."""
    return _jvm_gc_ms(spark) / 1000.0


def process_tree() -> dict[int, int]:
    """pid -> resident bytes of this process and every process below it."""
    page = os.sysconf("SC_PAGE_SIZE")
    rss: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        rest = st[st.rindex(")") + 2:].split()
        children.setdefault(int(rest[1]), []).append(int(d))
        rss[int(d)] = int(rest[21]) * page
    out, stack = {}, [os.getpid()]
    while stack:
        p = stack.pop()
        if p in rss:
            out[p] = rss[p]
        stack.extend(children.get(p, ()))
    return out


class JitCPU:
    """Cumulative CPU seconds of the JIT compiler threads of the processes
    sampled, by per-thread increments (HotSpot starts and ends compiler
    threads as its queue grows and shrinks).

    The benchmark's CPU figure leaves this out. On 4 cores the compiler
    threads' CPU per detect lap fell from 2.3 s to ~0.4 s over 20 laps, and
    per stream trigger from 3.0 s to 0.1-0.8 s over 45 triggers, swinging
    by a factor of several from one trigger to the next; the rest of the
    JVM settled within ~12 triggers, the Python workers at once. It is the
    cost of compiling the JVM's own code, paid once per session, not a cost
    of processing rows."""

    def __init__(self):
        self._clk = os.sysconf("SC_CLK_TCK")
        self._is_jit: dict[tuple[int, str], bool] = {}
        self._last: dict[tuple[int, str], float] = {}
        self.total = 0.0

    def sample(self, pids) -> float:
        for pid in pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                key = (pid, tid)
                try:
                    if key not in self._is_jit:
                        with open(f"/proc/{pid}/task/{tid}/comm") as f:
                            # "C1 CompilerThread0" and "C2 CompilerThread3",
                            # cut to 15 characters
                            self._is_jit[key] = f.read().startswith(("C1 Compiler", "C2 Compiler"))
                    if not self._is_jit[key]:
                        continue
                    with open(f"/proc/{pid}/task/{tid}/stat") as f:
                        st = f.read()
                except OSError:
                    continue  # the thread ended
                rest = st[st.rindex(")") + 2:].split()
                cpu = (int(rest[11]) + int(rest[12])) / self._clk
                self.total += max(0.0, cpu - self._last.get(key, 0.0))
                self._last[key] = cpu
        return self.total


class ProcSampler:
    """Samples the process tree every ``SAMPLE_INTERVAL_S`` on a thread:
    CPU through ``bench._TreeCPU`` (per-process increments, so a worker
    that exits keeps the CPU it had at its last sample) less ``JitCPU``,
    and the summed resident memory. ``reset_peak`` starts a new peak-memory
    window."""

    def __init__(self):
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._cpu = _TreeCPU()
        self._jit = JitCPU()
        self.peak_rss = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "ProcSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def sample(self) -> float:
        """Take a sample now; return cumulative CPU seconds, JIT compiler
        threads left out."""
        with self._lock:
            tree = process_tree()
            self.peak_rss = max(self.peak_rss, sum(tree.values()))
            return self._cpu.sample() - self._jit.sample(tree)

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = 0


@dataclass
class Span:
    name: str
    lap: int
    group: str
    wall_s: float
    gc_s: float


class Tracer:
    """Records one span per call, each under its own job group
    ``<name>#<lap>``; spans stay in memory until the run ends."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, lap: int):
        sc = self.spark.sparkContext
        group = f"{name}#{lap}"
        sc.setJobGroup(group, name)
        gc0, t0 = jvm_gc_s(self.spark), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, lap, group, wall,
                                   jvm_gc_s(self.spark) - gc0))

    def walls(self, name: str) -> dict[int, float]:
        """lap -> wall seconds of the spans called ``name``."""
        return {s.lap: s.wall_s for s in self.spans if s.name == name}


# ---------------------------------------------------------- event log ----

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_BATCH = re.compile(r"batch = (\d+)\s*$")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0
    plan_s: float = 0.0
    #: (start, end) epoch-ms of every stage attempt that ran
    stage_intervals: list[tuple[int, int]] = field(default_factory=list)

    def stage_union_s(self) -> float:
        return union_ms(self.stage_intervals) / 1000.0


def union_ms(intervals) -> int:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EventLog:
    """Per-job-group aggregates of a Spark JSON event log."""

    def __init__(self, lines):
        self._job_group: dict[int, str] = {}
        self._job_submit: dict[int, int] = {}
        self._job_exec: dict[int, int] = {}
        self._stage_group: dict[tuple[int, int], str] = {}
        self._exec_start: dict[int, int] = {}
        self.groups: dict[str, GroupStats] = {}
        for line in lines:
            try:
                e = json.loads(line)
            except ValueError:
                continue  # a torn last line of a log still being written
            handler = getattr(self, "_on_" + e.get("Event", "").rsplit(".", 1)[-1], None)
            if handler:
                handler(e)
        # planning time: SQL execution start -> its first job's submission
        first: dict[int, tuple[int, str]] = {}
        for jid, ex in self._job_exec.items():
            t = self._job_submit[jid]
            if ex not in first or t < first[ex][0]:
                first[ex] = (t, self._job_group[jid])
        for ex, (t, group) in first.items():
            if ex in self._exec_start:
                self._get(group).plan_s += (t - self._exec_start[ex]) / 1000.0

    @classmethod
    def from_dir(cls, path: str) -> "EventLog":
        lines: list[str] = []
        for root, _, files in os.walk(path):
            for name in sorted(files):
                with open(os.path.join(root, name)) as f:
                    lines.extend(f)
        return cls(lines)

    def _get(self, group: str) -> GroupStats:
        return self.groups.setdefault(group, GroupStats())

    @staticmethod
    def _group(props: dict) -> str | None:
        """The job group, suffixed ``#<batch>`` for a streaming query's
        micro-batch jobs (their group is the query's run id and their
        description ends in ``batch = <id>``)."""
        group = props.get("spark.jobGroup.id")
        m = _BATCH.search(props.get("spark.job.description") or "")
        return f"{group}#{m.group(1)}" if group and m else group

    def _on_SparkListenerJobStart(self, e) -> None:
        props = e.get("Properties") or {}
        group = self._group(props)
        if group is None:
            return
        jid = e["Job ID"]
        self._job_group[jid] = group
        self._job_submit[jid] = e.get("Submission Time", 0)
        if props.get("spark.sql.execution.id") is not None:
            self._job_exec[jid] = int(props["spark.sql.execution.id"])
        self._get(group).jobs += 1

    def _on_SparkListenerStageSubmitted(self, e) -> None:
        group = self._group(e.get("Properties") or {})
        info = e["Stage Info"]
        if group is not None:
            self._stage_group[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = group

    def _on_SparkListenerStageCompleted(self, e) -> None:
        info = e["Stage Info"]
        group = self._stage_group.get((info["Stage ID"], info.get("Stage Attempt ID", 0)))
        if group is None:
            return
        g = self._get(group)
        g.stages += 1
        if info.get("Submission Time") and info.get("Completion Time"):
            g.stage_intervals.append((info["Submission Time"], info["Completion Time"]))
        for acc in info.get("Accumulables") or ():
            if acc.get("Name") == PY_SENT:
                g.python_bytes_sent += int(acc.get("Value") or 0)
            elif acc.get("Name") == PY_RECV:
                g.python_bytes_received += int(acc.get("Value") or 0)

    def _on_SparkListenerTaskEnd(self, e) -> None:
        group = self._stage_group.get((e["Stage ID"], e.get("Stage Attempt ID", 0)))
        if group is None:
            return
        g = self._get(group)
        g.tasks += 1
        reason = (e.get("Task End Reason") or {}).get("Reason", "Success")
        if reason != "Success" or (e.get("Task Info") or {}).get("Failed"):
            g.failed_tasks += 1
        m = e.get("Task Metrics") or {}
        g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)

    def _on_SparkListenerSQLExecutionStart(self, e) -> None:
        self._exec_start[int(e["executionId"])] = e["time"]
