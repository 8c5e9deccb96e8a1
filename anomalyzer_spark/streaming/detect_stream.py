"""Structured Streaming detection — the reference's ``Push`` path.

``Push(x)`` (reference /root/reference/anomalyze.go:134-140) appends one
point and re-evaluates. Here the same contract runs distributed and
incremental: a keyed stream of points flows into per-key bounded state
(the last ``window_size`` points, the §2.6.2 truncation spec — the
reference's unbounded ``Push`` growth is a bug we do not reproduce), and
every micro-batch emits the refreshed anomaly probability per key touched.

Implementation: ``applyInPandasWithState`` with per-key group state holding
the (ts, tiebreak, value) window and the cumulative point count; an
optional processing-time timeout expires idle keys (``state_ttl_ms``).
Per-key compute is the same seeded NumPy kernel as batch ``detect``
(anomalyzer_spark.oracle) — batch and stream agree bit-for-bit on
identical input, which is the equivalence test's assertion.

Out-of-order handling: the state window is re-sorted by (ts, tiebreak) on
every merge, so in-batch disorder and cross-batch disorder WITHIN the
retained window are corrected. Points older than the retained window are
dropped (they cannot displace already-truncated history) — a documented
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
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from .. import oracle
from ..config import AnomalyzerConf
from ._drain import drain, final_state, memory_sink


def detect_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    conf: AnomalyzerConf | None = None,
    tiebreak_col: str | None = None,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming ``detect``: one output row per key per micro-batch.

    ``df`` must be a streaming DataFrame. Timestamps are normalized to
    int64 (epoch-µs for TimestampType, kept as-is for integer columns);
    output: (keys..., n_points, last_ts, total_seen, prob) where
    ``total_seen`` is the cumulative point count (use the max row per key
    for the final state of a drained stream).

    ``state_ttl_ms``: drop a key's window state this long after its last
    update (processing time). At unbounded key cardinality (100 TB streams:
    user ids, session ids) state must expire or the store grows forever —
    the reference never faces this because each Anomalyzer is one in-process
    series. None = keep state indefinitely.
    """
    conf = conf or AnomalyzerConf()
    from ..timeutil import epoch_us_col

    ts_expr = epoch_us_col(df, ts_col)
    tb_expr = (
        F.col(tiebreak_col).cast("long") if tiebreak_col else F.lit(0).cast("long")
    )
    prepared = df.select(
        *[F.col(k) for k in keys],
        ts_expr.alias("ts"),
        tb_expr.alias("tb"),
        F.col(value_col).cast("double").alias("value"),
    )
    out_schema = StructType(
        [StructField(f"k{i}", prepared.schema[k].dataType) for i, k in enumerate(keys)]
        + [
            StructField("n_points", LongType()),
            StructField("last_ts", LongType()),
            StructField("total_seen", LongType()),
            StructField("prob", DoubleType()),
        ]
    )
    state_schema = StructType([
        StructField("ts", ArrayType(LongType())),
        StructField("tb", ArrayType(LongType())),
        StructField("value", ArrayType(DoubleType())),
        StructField("total_seen", LongType()),
    ])
    n_keys = len(keys)

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        new = pd.concat(list(pdfs), ignore_index=True)
        ts = new["ts"].to_numpy(np.int64)
        tb = new["tb"].to_numpy(np.int64)
        val = new["value"].to_numpy(np.float64)
        seen = len(new)
        if state.exists:
            ts0, tb0, val0, seen0 = state.get
            ts = np.concatenate([np.asarray(ts0, np.int64), ts])
            tb = np.concatenate([np.asarray(tb0, np.int64), tb])
            val = np.concatenate([np.asarray(val0, np.float64), val])
            seen += int(seen0)
        # merge → sort by (ts, tiebreak) → truncate to the window → eval
        order = np.lexsort((tb, ts))[-conf.window_size:]
        ts, tb, val = ts[order], tb[order], val[order]
        kstr = "|".join(str(k) for k in key[:n_keys])
        prob = oracle.eval_prob(val, conf, kstr)
        state.update((ts.tolist(), tb.tolist(), val.tolist(), seen))
        if state_ttl_ms:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame({
            **{f"k{i}": [key[i]] for i in range(n_keys)},
            "n_points": [len(val)],
            "last_ts": [int(ts[-1])],
            "total_seen": [int(seen)],
            "prob": [float(prob)],
        })

    out = prepared.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="Update",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout if state_ttl_ms
                     else GroupStateTimeout.NoTimeout),
    )
    return out.select(
        *[F.col(f"k{i}").alias(k) for i, k in enumerate(keys)],
        "n_points", "last_ts", "total_seen", "prob",
    )


def run_stream_on_dir(
    spark,
    input_path: str,
    schema: StructType,
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
    rows as a batch DataFrame.

    The memory sink keeps every update; the final state of each key is the
    row with the highest ``total_seen`` (strictly increasing per key).
    """
    drain(spark, input_path,
          lambda s: memory_sink(
              detect_stream(s, keys, ts_col, value_col, conf, tiebreak_col),
              query_name, "update"),
          schema=schema, max_files_per_trigger=max_files_per_trigger)
    return final_state(spark.table(query_name), keys,
                       F.col("total_seen").desc())
