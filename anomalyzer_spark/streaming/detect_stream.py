"""Structured Streaming detection — the reference's ``Push`` path.

``Push(x)`` (reference /root/reference/anomalyze.go:134-140) appends one
point and re-evaluates. Here the same contract runs distributed and
incremental: a keyed stream of points flows into bounded per-key windows
(the last ``window_size`` points, the §2.6.2 truncation spec — the
reference's unbounded ``Push`` growth is a bug we do not reproduce), and
every micro-batch emits the refreshed anomaly probability of each key it
touched.

Bucketed state. ``applyInPandasWithState`` pays a fixed Python cost per
GROUP (state JSON, Arrow slice, pandas frame, state pickle), several
times the cost of one key's merge and eval, so the stream does not make
each key its own group: it groups by ``pmod(xxhash64(keys...),
n_buckets)`` with ``n_buckets`` the state partition count
(``spark.sql.shuffle.partitions`` when the query is built).
A bucket's state holds its member keys as parallel arrays:
the key values (one array per key column, of that column's type), and
the raw bytes of one NumPy array each for the window lengths, the
flattened (ts, tiebreak, value) windows, each key's cumulative point
count and its last-update processing time, plus the bucket count
itself. Bytes, not Spark arrays: PySpark pickles the state to and from
the JVM each time a bucket is touched, and one bytes object per field
costs a copy where an array costs one Python object per point. The
per-bucket function splits the new rows by key, merges, sorts by (ts,
tiebreak) and truncates every touched key's window in one vectorized
pass, then evaluates all touched windows with one ``oracle.eval_probs``
call: the Monte-Carlo tests run over blocks of equal-length keys, the
same ``oracle.mc_probs`` path as the batch kernel. Results are
bit-identical to ``oracle.eval_prob`` per key, and the MC key string is
``kernel.key_str_col`` computed in Spark, so batch and stream draw the
same permutation streams for every key type.
One bucket per state partition was chosen on CPU per trigger: on a
4-core x86-64 host, over 6 seeds of 300 dense keys and 3 runs of a
sparse stream (20k keys, 1% touched per trigger), it spent the least CPU
of ×1, ×4 and ×16 buckets per partition on both. Spark hash-partitions
the bucket ids, so some state partitions hold two buckets and others
none; that showed in neither CPU nor latency.
Integral and floating-point key components travel to the bucket
function as their Spark string casts and are parsed back there: Arrow
hands pandas a NULL in such a column as NaN, which would turn an
integral key to float64 (inexact above 2**53) and put a NULL float key
in the window of a NaN one.

Write amplification. Each trigger rewrites the whole state of every
bucket it touches. A dense stream, where every key reports each
interval, touches every key anyway and rewrites nothing extra. A sparse
stream also rewrites the untouched keys of each touched bucket: with k
of K keys touched per trigger it rewrites a share 1 - (1 - 1/n_buckets)^k
of the state (all of it once k is a few times n_buckets) where one group
per key rewrote k/K. With the state as bytes that rewrite costs less
than the groups it saves at the scale measured: on 4 state partitions,
20k keys with 1% touched per trigger (``tools/stream_sparse_drill.py``)
spent 1.42 s CPU per trigger against 1.83 s for one group per key
(medians of 10 alternating pairs). The rewrite grows with the total key
count and the saving with the touched count, so a stream with far more
keys per state partition, or a smaller touched share, can cross over;
no stream that large was measured.

TTL (``state_ttl_ms``) is per key: a key idle longer than the TTL is
dropped the next time its bucket is touched (before the new rows merge,
so an expired key that gets a new point starts from an empty window and
a zero count). A bucket none of whose keys was touched for the TTL
expires whole through the processing-time timeout.

Restarts. The state schema is the bucketed one, so a checkpoint written
by the per-key form fails Spark's state schema check at restart. The
bucket count is stored in each bucket and checked whenever a bucket with
state is touched or times out: a restart under a different
``spark.sql.shuffle.partitions`` (Spark keeps the checkpoint's state
partitions, but the bucket count comes from the live conf) raises an
error naming both counts instead of orphaning the old windows. A new
bucket that has no state yet cannot be checked.

Out-of-order handling: a window is re-sorted by (ts, tiebreak) on every
merge, so in-batch disorder and cross-batch disorder WITHIN the retained
window are corrected. Points older than the retained window are dropped
(they cannot displace already-truncated history) — a documented
deviation; the reference has no notion of event time at all.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .. import oracle
from ..config import AnomalyzerConf
from ..operators.kernel import key_str_col
from ._drain import drain_available_now, final_state

#: per-key state fields after the bucket count and the key columns, each
#: the raw bytes of one NumPy array of its dtype: a trigger pickles and
#: the JVM copies one bytes object per field, not one object per point
_KEY_FIELDS = (("lens", "<i8"), ("ts", "<i8"), ("tb", "<i8"),
               ("value", "<f8"), ("total_seen", "<i8"), ("last_ms", "<i8"))

#: the one NaN object every NaN key component is mapped to: a dict finds a
#: tuple holding it by identity, where two distinct NaN objects differ
_NAN = float("nan")

#: parsers of the key components that travel as strings (see
#: ``detect_stream``), by Spark type name; a float32 key is parsed to the
#: value its state array reads back as
_PARSE = {
    "bigint": int, "int": int, "smallint": int, "tinyint": int,
    "double": float, "float": lambda v: float(np.float32(v)),
}


def _canon(v):
    return _NAN if v != v else v


def _py_values(col: pd.Series, parse) -> list:
    """A key column's values as the Python objects the state stores, None
    for NULL. A component that travels as its string (``parse`` not None)
    is parsed back to an exact int or float, NaN as ``_NAN``."""
    if parse is None:
        return col.astype(object).where(col.notna(), None).tolist()
    return [None if v is None else _canon(parse(v)) for v in col.tolist()]


def _merge_bucket(old: tuple | None, new: pd.DataFrame, parse: list,
                  window: int, now_ms: int, ttl_ms: int | None):
    """Merge one trigger's rows into a bucket's state.

    ``old`` is the state tuple without the bucket count (key arrays, then
    ``_KEY_FIELDS``), or None; ``new`` holds the rows, key column ``k{i}``
    a string parsed by ``parse[i]`` when that is not None. Returns (state
    tuple, touched key indices, the first new row of each touched key,
    flattened ts and value windows, window offsets, lengths, cumulative
    counts)."""
    n_keys = len(parse)
    if old is None:
        old = ([],) * n_keys + (b"",) * len(_KEY_FIELDS)
    key_vals = [list(c) if p is None else [_canon(v) for v in c]
                for c, p in zip(old[:n_keys], parse)]
    lens, ts, tb, val, seen, last = (
        np.frombuffer(b, dt) for b, (_, dt) in zip(old[n_keys:], _KEY_FIELDS))
    if ttl_ms:  # drop the keys idle longer than the TTL, then merge
        live = now_ms - last <= ttl_ms
        rows = np.repeat(live, lens)
        ts, tb, val = ts[rows], tb[rows], val[rows]
        lens, seen, last = lens[live], seen[live], last[live]
        key_vals = [[v for v, k in zip(c, live) if k] for c in key_vals]
    index = {k: i for i, k in enumerate(zip(*key_vals))}
    n_old = len(lens)
    ids = list(zip(*[_py_values(new[f"k{i}"], p)
                     for i, p in enumerate(parse)]))
    kidx = np.fromiter((index.setdefault(k, len(index)) for k in ids),
                       np.int64, len(ids))
    touched, first = np.unique(kidx, return_index=True)
    for r in first[touched >= n_old]:
        for c, v in zip(key_vals, ids[r]):
            c.append(v)
    n = len(index)
    # merge → sort by (key, ts, tiebreak) → keep each key's last window
    kidx = np.concatenate([np.repeat(np.arange(n_old), lens), kidx])
    ts = np.concatenate([ts, new["ts"].to_numpy(np.int64)])
    tb = np.concatenate([tb, new["tb"].to_numpy(np.int64)])
    val = np.concatenate([val, new["value"].to_numpy(np.float64)])
    order = np.lexsort((tb, ts, kidx))
    counts = np.bincount(kidx, minlength=n)
    lens = np.minimum(counts, window)
    ends = np.cumsum(counts)
    keep = order[np.arange(len(order)) >= (ends - lens)[kidx[order]]]
    ts, tb, val = ts[keep], tb[keep], val[keep]
    added = np.bincount(kidx[len(kidx) - len(new):], minlength=n)
    seen = np.concatenate([seen, np.zeros(n - n_old, np.int64)]) + added
    last = np.concatenate([last, np.zeros(n - n_old, np.int64)])
    last[touched] = now_ms
    state = (*key_vals, *(a.astype(dt).tobytes() for a, (_, dt) in zip(
        (lens, ts, tb, val, seen, last), _KEY_FIELDS)))
    offsets = np.cumsum(lens) - lens
    return state, touched, first, ts, val, offsets, lens, seen


def detect_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    conf: AnomalyzerConf | None = None,
    tiebreak_col: str | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming ``detect``: one output row per touched key per micro-batch.

    ``df`` must be a streaming DataFrame. Timestamps are normalized to
    int64 (epoch-µs for TimestampType, kept as-is for integer columns);
    output: (keys..., n_points, last_ts, total_seen, prob) where
    ``total_seen`` is the cumulative point count (use the max row per key
    for the final state of a drained stream).

    ``state_ttl_ms``: drop a key's window this long after its last update
    (processing time), the next time its hash bucket is touched; idle
    buckets expire whole. At unbounded key cardinality (100 TB streams:
    user ids, session ids) state must expire or the store grows forever —
    the reference never faces this because each Anomalyzer is one
    in-process series. None = keep state indefinitely.
    """
    conf = conf or AnomalyzerConf()
    from ..timeutil import epoch_us_col

    n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ts_expr = epoch_us_col(df, ts_col)
    tb_expr = (
        F.col(tiebreak_col).cast("long") if tiebreak_col else F.lit(0).cast("long")
    )
    key_types = [df.schema[k].dataType for k in keys]
    parse = [_PARSE.get(t.simpleString()) for t in key_types]
    prepared = df.select(
        F.pmod(F.xxhash64(*[F.col(k) for k in keys]),
               F.lit(n_buckets)).cast("int").alias("bucket"),
        # Arrow hands pandas an integral column that holds a NULL as
        # float64, inexact above 2**53, and a float column's NULL as NaN:
        # integral and float keys travel to and from the bucket function
        # as strings ('NaN' for NaN, NULL as None)
        *[(F.col(k).cast("string") if p else F.col(k)).alias(f"k{i}")
          for i, (k, p) in enumerate(zip(keys, parse))],
        key_str_col(keys).alias("kstr"),
        ts_expr.alias("ts"),
        tb_expr.alias("tb"),
        F.col(value_col).cast("double").alias("value"),
    )
    out_schema = StructType(
        [StructField(f"k{i}", prepared.schema[f"k{i}"].dataType)
         for i in range(len(keys))]
        + [
            StructField("n_points", LongType()),
            StructField("last_ts", LongType()),
            StructField("total_seen", LongType()),
            StructField("prob", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n_buckets", LongType())]
        + [StructField(f"k{i}", ArrayType(t)) for i, t in enumerate(key_types)]
        + [StructField(f, BinaryType()) for f, _ in _KEY_FIELDS]
    )
    key_cols = [f"k{i}" for i in range(len(keys))]

    def fn(bucket, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists and state.get[0] != n_buckets:
            raise RuntimeError(
                f"detect_stream state bucket {bucket[0]} was written with "
                f"{state.get[0]} buckets, but this query hashes keys into "
                f"{n_buckets}, one per state partition: restart with the "
                f"spark.sql.shuffle.partitions the checkpoint was started "
                f"with, or a new checkpoint")
        if state.hasTimedOut:
            state.remove()
            return
        new = pd.concat(list(pdfs), ignore_index=True)
        merged, touched, first, ts, val, offsets, lens, seen = _merge_bucket(
            state.get[1:] if state.exists else None, new, parse,
            conf.window_size, state.getCurrentProcessingTimeMs(), state_ttl_ms)
        starts, ns = offsets[touched], lens[touched]
        probs = oracle.eval_probs(
            [val[a : a + m] for a, m in zip(starts.tolist(), ns.tolist())],
            conf, new["kstr"].to_numpy()[first].tolist())
        state.update((n_buckets, *merged))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)
        out = new[key_cols].iloc[first].reset_index(drop=True)
        out["n_points"] = ns
        out["last_ts"] = ts[starts + ns - 1]
        out["total_seen"] = seen[touched]
        out["prob"] = probs
        yield out

    out = prepared.groupBy("bucket").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="Update",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout if state_ttl_ms
                     else GroupStateTimeout.NoTimeout),
    )
    return out.select(
        *[F.col(f"k{i}").cast(t).alias(k)
          for i, (k, t) in enumerate(zip(keys, key_types))],
        "n_points", "last_ts", "total_seen", "prob",
    )


def run_stream_on_dir(
    spark,
    input_path: str,
    schema: StructType | None,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    conf: AnomalyzerConf | None = None,
    tiebreak_col: str | None = None,
    query_name: str = "detect_stream_result",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a parquet file/dir through ``detect_stream`` (``_drain.drain``,
    availableNow, Update-mode memory sink) and return the FINAL per-key
    rows as a batch DataFrame. ``schema`` None reads the input's parquet
    schema in the drain's session clone.

    The memory sink keeps every update; the final state of each key is the
    row with the highest ``total_seen`` (strictly increasing per key).
    """
    res = drain_available_now(
        spark, input_path,
        lambda s: detect_stream(s, keys, ts_col, value_col, conf,
                                tiebreak_col),
        query_name, output_mode="update", schema=schema,
        max_files_per_trigger=max_files_per_trigger)
    return final_state(res, keys, F.col("total_seen").desc())
