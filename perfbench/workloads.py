"""The workloads: input generation, warm-up, the measured loop, the traced
loop and the output checks, each driving ``anomalyzer_spark`` through its
public functions only. Each workload stresses a layer the other bypasses:
the Monte-Carlo kernel of batch ``detect`` (``detect_mc_keys``) and the
streaming state path of ``detect_stream`` (``stream_detect_push``).

Each workload object goes through ``generate`` and ``warm`` (set-up), then
either ``measure`` (end-to-end metrics, no job groups) or ``trace`` (one
span and job group per layer call), then ``finish``. A batch workload's
``warm`` starts with its output check; the stream checks its final state
in ``finish``. Layer metrics that need the event log are computed by
``layers`` after the session stops.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from datetime import datetime

import numpy as np

from anomalyzer_spark import AnomalyzerConf, detect, tail_window
from anomalyzer_spark import oracle
from anomalyzer_spark.streaming.detect_stream import detect_stream

from . import gen
from .stats import median
from .trace import EventLog, Tracer

#: the reference's default detector: magnitude + bootstrap KS, 500
#: permutations, hash permutation stream (the Monte-Carlo kernel path)
MC_CONF = AnomalyzerConf()
#: closed-form tests only: no Python kernel runs
DET_CONF = AnomalyzerConf(methods=("magnitude", "fence", "cdf"),
                          upper_bound=120.0, lower_bound=0.0)
#: detect probabilities must match the NumPy oracle this closely
PROB_TOL = 1e-9
#: keys per run whose detect output is checked against the oracle
ORACLE_SAMPLE = 64
#: fewest laps a measurement takes, however slow the laps are
MIN_LAPS = 2


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Workload:
    """Shared loop: closed-loop laps of one complete job."""

    rows = 0  # input rows one lap processes

    def __init__(self, spark, work: str, seed: int, cpu):
        """``cpu`` returns the cumulative CPU seconds of the process tree."""
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cpu = cpu
        self.laps: list[float] = []
        self.cpu_laps: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.plain: list[float] = []
        self.layer: dict[str, float] = {}

    def close(self) -> None:
        """Stop whatever the workload started besides the session."""

    # -- set-up --------------------------------------------------------
    #: plain laps after the output check, which is the cold lap (Python
    #: workers, code generation). The JVM's share of a lap keeps shrinking
    #: long after it: on 4 cores its CPU per detect lap fell from 4.3 s to
    #: ~1.5 s over ~13 laps, most of that in the JIT compiler threads that
    #: the CPU figure leaves out (``trace.JitCPU``); the rest fell from
    #: ~1.0 s to ~0.65 s over ~10 laps, and the Python workers' stayed at
    #: ~2.2 s. A fixed count, not a fixed time, puts every run at the same
    #: point of that slope
    WARM_LAPS = 7

    def warm(self) -> list[float]:
        """Run ``check``, then ``WARM_LAPS`` plain laps; return their
        walls."""
        walls = []
        for step in [self.check] + [self.job] * self.WARM_LAPS:
            t0 = time.perf_counter()
            step()
            walls.append(time.perf_counter() - t0)
        return walls

    def finish(self) -> None:
        """Checks that need the measured run's output; a batch job's output
        does not change between laps, so ``warm`` has checked it."""

    def _lap(self, fn) -> float | None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception:  # a failed lap is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        return time.perf_counter() - t0

    # -- measured run --------------------------------------------------
    def measure(self, seconds: float) -> None:
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(self.laps) < MIN_LAPS:
            cpu0 = self.cpu()
            wall = self._lap(self.job)
            if wall is not None:
                self.laps.append(wall)
                self.cpu_laps.append(self.cpu() - cpu0)
            if self.failed > MIN_LAPS:
                break

    def end_to_end(self) -> dict[str, float]:
        """CPU per million input rows of the median lap: the median keeps a
        lap that a GC or a late JIT compilation slowed out of the figure."""
        return {"cpu_s_per_mrow": median(self.cpu_laps) / (self.rows / 1e6)}

    # -- traced run ----------------------------------------------------
    def trace(self, seconds: float, tracer: Tracer) -> None:
        """Alternate a plain lap (no job group) with a traced lap until
        ``seconds`` pass; the traced lap ends with the complete job under
        the span ``job``. The plain lap goes first on even laps and last on
        odd ones, so laps that still speed up favour neither kind."""
        end, lap = time.perf_counter() + seconds, 0
        while time.perf_counter() < end or lap < MIN_LAPS:
            if lap % 2 == 0:
                self._plain_lap()
            if self._lap(lambda: self.traced_lap(tracer, lap)) is None:
                break
            if lap % 2 == 1:
                self._plain_lap()
            lap += 1

    def _plain_lap(self) -> None:
        wall = self._lap(self.job)
        if wall is not None:
            self.plain.append(wall)

    def spark_layers(self, tracer: Tracer, log: EventLog) -> None:
        """Engine metrics of the complete job (span ``job``), median over
        traced laps, and the tracing overhead against the plain laps."""
        spans = [s for s in tracer.spans if s.name == "job" and s.group in log.groups]
        engine_metrics(self.layer, [(s.wall_s, s.gc_s, log.groups[s.group]) for s in spans])
        traced = [s.wall_s for s in spans]
        if traced and self.plain:
            self.layer["trace.job_s_p50"] = median(traced)
            self.layer["trace.plain_job_s_p50"] = median(self.plain)
            self.layer["trace.overhead_s"] = median(traced) - median(self.plain)


def engine_metrics(out: dict, laps) -> None:
    """``spark.*`` and ``trace.residue_s`` medians over ``laps``, each a
    (wall seconds, GC seconds or None, GroupStats) of one complete job.
    The residue is the wall time that neither planning nor any running
    stage covers."""
    per: dict[str, list[float]] = {}
    for wall, gc_s, g in laps:
        union = g.stage_union_s()
        for k, v in (("spark.jobs", g.jobs), ("spark.stages", g.stages),
                     ("spark.tasks", g.tasks), ("spark.failed_tasks", g.failed_tasks),
                     ("spark.plan_s", g.plan_s), ("spark.sched_gap_s", wall - union),
                     ("spark.executor_cpu_s", g.executor_cpu_s), ("spark.gc_s", gc_s),
                     ("spark.shuffle_write_bytes", g.shuffle_write_bytes),
                     ("trace.residue_s", wall - g.plan_s - union)):
            if v is not None:
                per.setdefault(k, []).append(v)
    out.update({k: median(vs) for k, vs in per.items()})


# ------------------------------------------------------------- detect ----

def _detect(df, conf: AnomalyzerConf):
    return detect(df, ["series"], "ts", "value", conf, tiebreak_cols=["event_id"])


class DetectMcKeys(Workload):
    """Batch ``detect`` over many short keys under the reference's default
    Monte-Carlo conf; a seeded share of keys is shorter than the window.

    The traced lap calls the layers nested inside the job one by one: a
    scan-only write (``sources``), ``tail_window`` (scan + exchange +
    tail-N), ``detect`` with the closed-form conf (+ ``columnar``) and the
    job itself (+ ``kernel``); self times are the differences."""

    N_KEYS = 800

    def generate(self) -> dict:
        window = MC_CONF.window_size
        self.data = gen.series(os.path.join(self.work, "mc"), self.seed,
                               gen.mc_lengths(self.seed, self.N_KEYS, window), window)
        self.df = self.spark.read.parquet(self.data.path)
        self.rows = self.data.describe["rows"]
        return self.data.describe

    def job(self) -> None:
        _noop(_detect(self.df, MC_CONF))

    def traced_lap(self, tracer: Tracer, lap: int) -> None:
        with tracer.span("sources", lap):
            _noop(self.df)
        with tracer.span("tail_window", lap):
            _noop(tail_window(self.df, ["series"], "ts", "value",
                              MC_CONF.window_size, ["event_id"]))
        with tracer.span("columnar", lap):
            _noop(_detect(self.df, DET_CONF))
        with tracer.span("job", lap):
            self.job()

    def layers(self, tracer: Tracer, log: EventLog) -> None:
        scan, tw, det, full = (tracer.walls(n) for n in
                               ("sources", "tail_window", "columnar", "job"))
        laps = sorted(set(scan) & set(tw) & set(det) & set(full))
        jobs = [log.groups[f"job#{i}"] for i in laps]
        self.layer.update({
            "sources.scan_s": median([scan[i] for i in laps]),
            "sources.input_bytes": median(
                [log.groups[f"sources#{i}"].input_bytes for i in laps]),
            "sources.input_rows": self.rows,
            "tail_window.self_s": median([tw[i] - scan[i] for i in laps]),
            "columnar.self_s": median([det[i] - tw[i] for i in laps]),
            "kernel.self_s": median([full[i] - tw[i] for i in laps]),
            "kernel.keys": self.data.describe["keys"],
            "kernel.arrow_bytes_sent": median([g.python_bytes_sent for g in jobs]),
            "kernel.arrow_bytes_received": median([g.python_bytes_received for g in jobs]),
        })
        self.spark_layers(tracer, log)

    def check(self) -> None:
        """Under both confs every key comes back once with a probability
        in [0, 1], and a seeded sample of keys matches the NumPy oracle."""
        d = self.data
        keys = sorted(d.tails)
        sample = np.random.default_rng([self.seed, 6]).choice(
            keys, min(ORACLE_SAMPLE, len(keys)), replace=False)
        for conf in (MC_CONF, DET_CONF):
            self.attempted += 1
            rows = {r["series"]: r for r in _detect(self.df, conf).collect()}
            bad = [k for k, r in rows.items() if not 0.0 <= r["prob"] <= 1.0]
            if len(rows) != len(keys):
                bad.append(f"{len(rows)} rows for {len(keys)} keys")
            for k in sample:
                r = rows.get(k)
                if (r is None
                        or abs(r["prob"] - oracle.eval_prob(d.tails[k], conf, k)) > PROB_TOL
                        or r["n_points"] != min(d.n_points[k], conf.window_size)
                        or r["last_ts"] != d.last_ts[k]):
                    bad.append(k)
            if bad:
                print(f"detect check failed ({conf.methods}): {bad[:5]}", file=sys.stderr)
                self.failed += 1


# ------------------------------------------------------------- stream ----

class StreamDetectPush(Workload):
    """``detect_stream`` over a parquet file stream.

    A closed loop from one thread: drop one file holding one new point per
    key, wait for the trigger that reads it, repeat. Every trigger reads
    and writes the state of every key, and a lap is the time from the
    file landing to the end of that trigger. The traced run then stages
    ``BACKLOG_FILES`` larger files at once and measures how fast the query
    drains them, one file per trigger.

    Size: on 4 cores a trigger took 0.85, 0.96 and 1.41 s with 20, 200
    and 600 keys per file, about 1 ms per key on top of the fixed
    per-trigger cost. With 300 keys the per-key state and Python eval is
    about a quarter of a trigger."""

    conf = DET_CONF
    N_KEYS = 300
    #: points per key of the file the query starts on
    HISTORY_POINTS = 16
    BACKLOG_FILES = 2
    BACKLOG_POINTS = 16
    TIMEOUT_S = 60.0
    #: triggers get cheaper with the JVM's warm-up as detect laps do: on 4
    #: cores the CPU per trigger of the JVM, its JIT compiler threads left
    #: out, fell from 1.6 s to ~0.6 s over the first ~12 triggers (the
    #: Python workers' stayed at ~1.0 s). 35 warm triggers instead of 20
    #: added 15 s to a run and did not narrow the spread between runs,
    #: which followed the host's speed
    WARM_LAPS = 20

    def generate(self) -> dict:
        self.keys = [f"s{k:05d}" for k in range(self.N_KEYS)]
        self.in_dir = os.path.join(self.work, "stream", "in")
        os.makedirs(self.in_dir)
        self.files: list[str] = []
        self.points = 0
        self.batches: dict[int, object] = {}   # batchId -> progress, of
        self.order: list[int] = []             # the triggers that read a file
        self._drop(self.HISTORY_POINTS)
        self.rows = self.N_KEYS
        return {"rows": self.HISTORY_POINTS * self.N_KEYS,
                "bytes": sum(os.path.getsize(f) for f in self.files),
                "keys": self.N_KEYS, "key_skew": 1.0, "file_rows": self.N_KEYS,
                "backlog_rows": self.BACKLOG_FILES * self.BACKLOG_POINTS * self.N_KEYS}

    def _drop(self, points: int, directory: str | None = None) -> float:
        path = os.path.join(directory or self.in_dir, f"f{len(self.files):05d}.parquet")
        gen.stream_file(path, self.seed, len(self.files), self.keys, self.points, points)
        self.files.append(os.path.join(self.in_dir, os.path.basename(path)))
        self.points += points
        return time.time()

    def _start(self) -> None:
        reader = (self.spark.readStream.schema(gen.SERIES_DDL)
                  .option("maxFilesPerTrigger", 1))
        out = detect_stream(reader.parquet(self.in_dir), ["series"], "ts", "value",
                            self.conf, tiebreak_col="event_id")
        self.query = (out.writeStream.format("memory").queryName("perfbench_stream")
                      .outputMode("update")
                      .option("checkpointLocation", os.path.join(self.work, "stream", "ck"))
                      .trigger(processingTime="0 seconds").start())

    def _poll(self) -> int:
        """Record new progress; return how many files are processed.

        Reads ``lastProgress``, one trigger's report, and reaches for
        ``recentProgress`` (up to 100 reports, a few hundred KB of JSON)
        only when a trigger completed unseen between two polls: polling
        that every 50 ms cost the driver enough CPU to show in the
        workload's own figure."""
        last = self.query.lastProgress
        if last is None or last.numInputRows == 0 or last.batchId in self.batches:
            return len(self.order)
        seen = not self.batches or last.batchId - 1 in self.batches
        for p in [last] if seen else self.query.recentProgress:
            if p.numInputRows > 0 and p.batchId not in self.batches:
                self.batches[p.batchId] = p
                self.order.append(p.batchId)
        return len(self.order)

    def _wait(self, n_files: int) -> bool:
        end = time.perf_counter() + self.TIMEOUT_S
        while self._poll() < n_files:
            if time.perf_counter() > end or self.query.exception() is not None:
                return False
            time.sleep(0.05)
        return True

    def _push(self) -> float | None:
        """Drop one file and wait for the trigger that reads it; return the
        seconds from the file landing to that trigger's end, or None when
        the query failed. The wait blocks in the JVM, so no polling loop
        spends CPU while the trigger runs."""
        landed = self._drop(1)
        try:
            self.query.processAllAvailable()
        except Exception:  # the query failed: the caller counts the lap
            traceback.print_exc(file=sys.stderr)
            return None
        if not self._wait(len(self.files)):
            return None
        return self._completed_at(self.order[-1]) - landed

    def warm(self) -> list[float]:
        """Start the query on the history file (the cold trigger), then
        push ``WARM_LAPS`` files; return the trigger walls."""
        self._start()
        self._wait(len(self.files))
        walls = [self._trigger_s(self.order[-1])]
        for _ in range(self.WARM_LAPS):
            if self._push() is None:
                break
            walls.append(self._trigger_s(self.order[-1]))
        self.warm_files = len(self.files)
        return walls

    def _trigger_s(self, batch: int) -> float:
        return self.batches[batch].durationMs["triggerExecution"] / 1000.0

    def _completed_at(self, batch: int) -> float:
        p = self.batches[batch]
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        return start + p.durationMs["triggerExecution"] / 1000.0

    def measure(self, seconds: float) -> None:
        end = time.perf_counter() + seconds
        while time.perf_counter() < end or len(self.laps) < MIN_LAPS:
            self.attempted += 1
            cpu0 = self.cpu()
            lap = self._push()
            if lap is None:
                self.failed += 1
                return
            self.laps.append(lap)
            self.cpu_laps.append(self.cpu() - cpu0)
        self.measured = self.order[self.warm_files:]

    def trace(self, seconds: float, tracer: Tracer) -> None:
        """The measured loop, then a drain of a staged backlog."""
        self.measure(seconds)
        if self.failed:
            return
        staging = os.path.join(self.work, "stream", "staged")
        os.makedirs(staging)
        first = len(self.files)
        for _ in range(self.BACKLOG_FILES):
            self._drop(self.BACKLOG_POINTS, staging)
        start = time.time()
        for f in self.files[first:]:
            os.rename(os.path.join(staging, os.path.basename(f)), f)
        self.attempted += self.BACKLOG_FILES
        if not self._wait(len(self.files)):
            self.failed += len(self.files) - len(self.order)
            return
        self.drain_s = self._completed_at(self.order[-1]) - start

    def layers(self, tracer: Tracer, log: EventLog) -> None:
        ps = [self.batches[b] for b in self.measured]
        d = [p.durationMs for p in ps]
        self.layer["streaming.triggers"] = len(ps)
        self.layer["streaming.trigger_s_p50"] = median([x["triggerExecution"] / 1e3 for x in d])
        self.layer["streaming.add_batch_s_p50"] = median([x["addBatch"] / 1e3 for x in d])
        self.layer["streaming.commit_s_p50"] = median(
            [(x.get("walCommit", 0) + x.get("commitOffsets", 0)) / 1e3 for x in d])
        self.layer["streaming.planning_s_p50"] = median([x["queryPlanning"] / 1e3 for x in d])
        state = ps[-1].stateOperators[0]
        self.layer["streaming.state_rows"] = state.numRowsTotal
        self.layer["streaming.state_bytes"] = state.memoryUsedBytes
        self.layer["streaming.drain_rows_per_s"] = (
            self.BACKLOG_FILES * self.BACKLOG_POINTS * self.N_KEYS / self.drain_s)
        run_id = str(self.query.runId)
        engine_metrics(self.layer, [
            (self.batches[b].durationMs["triggerExecution"] / 1e3, None,
             log.groups[f"{run_id}#{b}"])
            for b in self.measured if f"{run_id}#{b}" in log.groups])
        # file-to-result latency under the event log; no plain laps run
        # beside it, so trace.plain_job_s_p50 and trace.overhead_s stay 0
        self.layer["trace.job_s_p50"] = median(self.laps)

    def finish(self) -> None:
        """The final state of every key equals batch ``detect`` over every
        row the stream read."""
        self.attempted += 1
        self.query.stop()
        final: dict[str, object] = {}
        for r in self.spark.table("perfbench_stream").collect():
            if r["series"] not in final or r["total_seen"] > final[r["series"]]["total_seen"]:
                final[r["series"]] = r
        batch = {r["series"]: r for r in detect(
            self.spark.read.parquet(self.in_dir), ["series"], "ts", "value",
            self.conf, tiebreak_cols=["event_id"]).collect()}
        bad = [k for k in self.keys
               if k not in final or k not in batch
               or abs(final[k]["prob"] - batch[k]["prob"]) > PROB_TOL
               or final[k]["n_points"] != batch[k]["n_points"]
               or final[k]["last_ts"] != batch[k]["last_ts"]
               or final[k]["total_seen"] != self.points]
        if bad:
            print(f"stream check failed for keys {bad[:5]}", file=sys.stderr)
            self.failed += 1

    def close(self) -> None:
        if getattr(self, "query", None) is not None and self.query.isActive:
            self.query.stop()


WORKLOADS = {
    "detect_mc_keys": DetectMcKeys,
    "stream_detect_push": StreamDetectPush,
}


def clean(path: str) -> None:
    """Remove a run's work directory, and its parent once no run uses it."""
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(path))
    except OSError:
        pass  # another run's directory is still there
