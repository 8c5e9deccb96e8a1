"""Sparse-stream drill for ``detect_stream``: CPU per trigger when only a
small share of the keys reports in each trigger.

    python3 tools/stream_sparse_drill.py [--keys 20000] [--touched 0.01]
        [--triggers 12] [--warm 4] [--seed 7]

Run from the repository root. Starts a ``local[nproc]`` session with
nproc state partitions and streams one history file holding ``HISTORY``
points of every key, which fills the state. Then, in a closed loop, it
drops one file per trigger holding one new point for a seeded random
``--touched`` share of the keys and waits for the trigger. Prints one
JSON line: the median process-tree CPU seconds and wall seconds per
measured trigger (after ``--warm`` triggers), the median ``addBatch``
seconds, and the state rows and bytes after the last trigger.

perfbench's ``stream_detect_push`` is the dense case (every key in every
trigger). This drill is the sparse case of the bucketed state's
write-amplification trade-off: a trigger rewrites every key of each
bucket it touches, not only the touched keys.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.getcwd())

from anomalyzer_spark import AnomalyzerConf  # noqa: E402
from anomalyzer_spark.session import get_spark  # noqa: E402
from anomalyzer_spark.streaming import detect_stream  # noqa: E402
from perfbench.trace import ProcSampler  # noqa: E402

#: closed-form tests only, as perfbench's stream workload
CONF = AnomalyzerConf(methods=("magnitude", "fence", "cdf"),
                      upper_bound=120.0, lower_bound=0.0)
HISTORY = 16
DDL = "series STRING, ts BIGINT, event_id BIGINT, value DOUBLE"


def _write(path: str, keys: list[str], ts0: int, points: int, rng) -> None:
    """Write the file whole, then rename it into place: the stream never
    lists a partly written file (a leading dot hides the temporary one)."""
    n = len(keys) * points
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(pa.table({
        "series": pa.array(keys * points, pa.string()),
        "ts": ts0 + np.arange(n, dtype=np.int64),
        "event_id": ts0 + np.arange(n, dtype=np.int64),
        "value": rng.normal(50.0, 5.0, n),
    }), tmp)
    os.rename(tmp, path)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--keys", type=int, default=20_000)
    ap.add_argument("--touched", type=float, default=0.01)
    ap.add_argument("--triggers", type=int, default=12)
    ap.add_argument("--warm", type=int, default=4)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix="sparse_drill_")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    rng = np.random.default_rng(args.seed)
    keys = [f"s{i:05d}" for i in range(args.keys)]
    n_touched = max(1, round(args.keys * args.touched))
    spark = get_spark("stream-sparse-drill", shuffle_partitions=nproc)
    try:
        with ProcSampler() as sampler:
            _write(os.path.join(in_dir, "f00000.parquet"), keys, 0,
                   HISTORY, rng)
            stream = (spark.readStream.schema(DDL)
                      .option("maxFilesPerTrigger", 1).parquet(in_dir))
            q = (detect_stream(stream, ["series"], "ts", "value", CONF,
                               tiebreak_col="event_id")
                 .writeStream.format("noop").outputMode("update")
                 .option("checkpointLocation", os.path.join(work, "ck"))
                 .trigger(processingTime="0 seconds").start())
            q.processAllAvailable()
            ts0 = args.keys * HISTORY
            cpu, wall, add_batch = [], [], []
            for i in range(1, args.warm + args.triggers + 1):
                picked = sorted(rng.choice(args.keys, n_touched, replace=False))
                c0, t0 = sampler.sample(), time.perf_counter()
                _write(os.path.join(in_dir, f"f{i:05d}.parquet"),
                       [keys[k] for k in picked], ts0, 1, rng)
                q.processAllAvailable()
                if i > args.warm:
                    cpu.append(sampler.sample() - c0)
                    wall.append(time.perf_counter() - t0)
                    add_batch.append(
                        q.lastProgress.durationMs.get("addBatch", 0) / 1e3)
                ts0 += n_touched
            state = q.lastProgress.stateOperators[0]
            q.stop()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "keys": args.keys, "touched_per_trigger": n_touched,
        "state_partitions": nproc, "triggers": len(cpu),
        "cpu_s_p50": float(np.median(cpu)), "wall_s_p50": float(np.median(wall)),
        "add_batch_s_p50": float(np.median(add_batch)),
        "state_rows": state.numRowsTotal, "state_bytes": state.memoryUsedBytes,
    }))


if __name__ == "__main__":
    main()
