"""Watermarked streaming pre-aggregation — raw event stream → series points.

The canonical late-data story (SURVEY.md §2.7): tumbling event-time windows
with a watermark. Late points inside the watermark update their bucket;
points later than the watermark are DROPPED — a documented deviation, the
reference has no lateness concept (positional model, README.md:11-13).

Built-in Structured Streaming operators only (``withWatermark`` +
``window`` + agg): state management, retraction, and cleanup come from
Spark. Append mode emits each bucket exactly once, when its watermark
passes — the natural feed for downstream ``detect_stream``.

Bucket alignment matches batch ``resample``: tumbling windows start at
epoch-aligned multiples of ``every_seconds``, so
``bucket = epoch(window.start)/every_seconds`` equals the batch floor-div
bucket and batch/stream results are directly comparable (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._drain import drain_available_now


def resample_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    *,
    every_seconds: int,
    watermark: str = "10 minutes",
    agg: str = "avg",
) -> DataFrame:
    """Streaming tumbling-window resample (append mode, watermarked).

    Returns a streaming DataFrame (keys..., bucket, bucket_ts, value,
    n_raw) with the same bucket ids as batch ``resample``.
    """
    from ..operators.resample import AGGS
    from ..timeutil import event_time_col

    if agg not in AGGS:
        raise ValueError(f"agg must be one of {sorted(AGGS)}")
    v = F.col(value_col).cast("double")
    # normalize to a UTC-aligned TIMESTAMP instant: watermarks require
    # TimestampType (fixtures ship TIMESTAMP_NTZ), and tumbling-window
    # boundaries computed on the rebuilt instant equal the batch
    # floor-division buckets in any session timezone.
    df = df.withColumn("_evt", event_time_col(df, ts_col))
    win = F.window(F.col("_evt"), f"{every_seconds} seconds")
    out = (
        df.withWatermark("_evt", watermark)
        .groupBy(*keys, win.alias("_w"))
        .agg(AGGS[agg](v, None).alias(value_col),
             F.count(F.lit(1)).alias("n_raw"))
    )
    bucket_ts = F.unix_timestamp(F.col("_w.start"))
    return out.select(
        *keys,
        (bucket_ts / every_seconds).cast("long").alias("bucket"),
        bucket_ts.cast("long").alias("bucket_ts"),
        F.col(value_col),
        F.col("n_raw"),
    )


def run_resample_stream_on_dir(
    spark,
    input_path: str,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    *,
    every_seconds: int,
    watermark: str = "1 hour",
    agg: str = "avg",
    query_name: str = "resample_stream_result",
) -> DataFrame:
    """Drain a parquet file/dir through ``resample_stream`` (availableNow,
    append mode) and return the emitted buckets as a batch DataFrame.

    Handles the fixtures' TIMESTAMP(NANOS) storage: the raw column streams
    in as int64 nanoseconds (``nanosAsLong``) and is converted to the same
    microsecond TimestampType the batch loader exposes, so streamed bucket
    ids equal batch ``resample`` bucket ids exactly. Append mode withholds
    buckets newer than the final watermark (emitted ⊂ batch, values
    identical — the batch-equivalence test and the driver oracle both
    encode that cutoff).
    """
    return drain_available_now(
        spark, input_path,
        lambda s: resample_stream(s, keys, ts_col, value_col,
                                  every_seconds=every_seconds,
                                  watermark=watermark, agg=agg),
        query_name, output_mode="append", ns_ts_cols=(ts_col,))
