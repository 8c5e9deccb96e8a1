"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the same
seed gives byte-identical parquet files, and each returns the ground truth
its workload's output checks compare against. Spark is not involved; the
files are written with pyarrow so that generation cost stays small and
independent of the engine under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first event time (epoch microseconds) and spacing of consecutive events
T0_US = 1_700_000_000_000_000
STEP_US = 1_000
#: files per batch dataset: enough input splits to occupy a few cores
#: without depending on the machine's core count
N_FILES = 8
#: share of keys whose last point is a spike, so probabilities spread
SPIKE_SHARE = 0.1
#: share of Monte-Carlo keys shorter than the detection window
SHORT_SHARE = 0.15

SERIES_SCHEMA = pa.schema([
    ("series", pa.string()),
    ("ts", pa.int64()),
    ("event_id", pa.int64()),
    ("value", pa.float64()),
])
SERIES_DDL = "series STRING, ts BIGINT, event_id BIGINT, value DOUBLE"


@dataclass
class Series:
    """A keyed time-series dataset and what ``detect`` must see in it."""

    path: str
    describe: dict
    #: key -> values of its last ``window`` points in time order
    tails: dict[str, np.ndarray]
    n_points: dict[str, int]
    last_ts: dict[str, int]


def _write(table: pa.Table, path: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet files under ``path``; return
    the bytes written."""
    os.makedirs(path, exist_ok=True)
    size = 0
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f,
                       row_group_size=1 << 18)
        size += os.path.getsize(f)
    return size


def series(path: str, seed: int, lengths: np.ndarray, window: int) -> Series:
    """Time-ordered event log of ``len(lengths)`` keys, key ``i`` having
    ``lengths[i]`` points. Rows interleave keys in a seeded random order;
    each key's values are normal around its own level, and a seeded share
    (``SPIKE_SHARE``) of keys ends on a spike so that probabilities spread over [0, 1]."""
    rng = np.random.default_rng([seed, 1])
    lengths = np.asarray(lengths, dtype=np.int64)
    n_keys, n_rows = len(lengths), int(lengths.sum())
    key_of_row = rng.permutation(np.repeat(np.arange(n_keys), lengths))
    ts = T0_US + np.arange(n_rows, dtype=np.int64) * STEP_US
    level = rng.uniform(10.0, 100.0, n_keys)
    scale = rng.uniform(1.0, 5.0, n_keys)
    value = level[key_of_row] + scale[key_of_row] * rng.standard_normal(n_rows)
    last = np.full(n_keys, -1, dtype=np.int64)
    np.maximum.at(last, key_of_row, np.arange(n_rows))
    spiked = rng.random(n_keys) < SPIKE_SHARE
    value[last[spiked]] += 8.0 * scale[spiked]

    names = np.array([f"s{k:05d}" for k in range(n_keys)], dtype=object)
    table = pa.table({
        "series": pa.array(names[key_of_row], pa.string()),
        "ts": ts,
        "event_id": np.arange(n_rows, dtype=np.int64),
        "value": value,
    }, schema=SERIES_SCHEMA)
    size = _write(table, path, N_FILES)

    order = np.argsort(key_of_row, kind="stable")  # ts order within a key
    ends = np.cumsum(lengths)
    tails, n_points, last_ts = {}, {}, {}
    for k in range(n_keys):
        rows = order[ends[k] - lengths[k]:ends[k]]
        tails[names[k]] = value[rows[-window:]]
        n_points[names[k]] = int(lengths[k])
        last_ts[names[k]] = int(ts[rows[-1]])
    return Series(path, {
        "rows": n_rows,
        "bytes": size,
        "keys": n_keys,
        "key_skew": round(float(lengths.max() / lengths.mean()), 3),
        "short_key_share": round(float((lengths < window).mean()), 4),
    }, tails, n_points, last_ts)


def mc_lengths(seed: int, n_keys: int, window: int) -> np.ndarray:
    """Many short keys: about 16 points each, and a seeded share
    (``SHORT_SHARE``) of keys shorter than the detection window."""
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(8, 25, n_keys)
    short = rng.random(n_keys) < SHORT_SHARE
    lengths[short] = rng.integers(1, window, int(short.sum()))
    return lengths


def stream_file(path: str, seed: int, seq: int, keys: list[str],
                first_point: int, points: int) -> int:
    """One stream input file: ``points`` consecutive points for every key,
    the ``first_point``-th onward of each key's series. Written under a
    temporary name and renamed into place so that the file source never
    lists a partial file. Returns the row count."""
    rng = np.random.default_rng([seed, 4, seq])
    n = len(keys) * points
    j = np.repeat(np.arange(first_point, first_point + points), len(keys))
    k = np.tile(np.arange(len(keys)), points)
    table = pa.table({
        "series": pa.array([keys[i] for i in k], pa.string()),
        "ts": T0_US + (j * len(keys) + k).astype(np.int64) * STEP_US,
        "event_id": (j * len(keys) + k).astype(np.int64),
        "value": 50.0 + 10.0 * np.sin(j / 7.0 + k) + rng.standard_normal(n),
    }, schema=SERIES_SCHEMA)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.rename(tmp, path)
    return n
