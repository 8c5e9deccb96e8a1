"""File-stream driver for the native ``session_window`` streaming operator.

Batch sessionization (operators/sessions.py islands pattern) and Spark's
native streaming ``session_window`` merge events identically (gap-based);
this runner drains a parquet directory through the streaming operator so
the equivalence is checkable against the batch SQL oracle: every emitted
session equals a batch session, and a session is emitted exactly when the
FINAL watermark (max event time − delay, ms-truncated by Spark's
watermark bookkeeping) passes its window end (last event + gap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.sessions import session_stream
from ._drain import drain_available_now


def run_session_stream_on_dir(
    spark: SparkSession,
    input_path: str,
    keys: list[str],
    ts_col: str = "ts",
    *,
    gap_seconds: int,
    watermark: str = "1 hour",
    query_name: str = "session_stream_result",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a parquet file/dir through ``session_stream`` (availableNow,
    append mode) and return the emitted sessions as a batch DataFrame.

    Append mode emits each session once, when the watermark passes its
    end+gap; sessions still open at the final watermark are withheld
    (emitted ⊂ batch sessions — the oracle encodes the same cutoff).
    """
    return drain_available_now(
        spark, input_path,
        lambda s: session_stream(s, keys, ts_col, gap_seconds=gap_seconds,
                                 watermark=watermark),
        query_name, output_mode="append",
        max_files_per_trigger=max_files_per_trigger,
        ns_ts_cols=(ts_col,))
