"""Streaming exact deduplication — incremental content-hash dedup.

The LLM-pipeline shape with no batch equivalent gap: documents arrive as
a stream and the engine must know, incrementally, which are duplicates of
anything seen before. Two built-in Structured Streaming shapes cover it:

* ``dedup_stream`` (this module's contract surface): a stateful
  ``groupBy(content_hash)`` aggregation in Update mode. Per-hash state is
  O(1) (count + min id), updated per micro-batch with map-side partial
  aggregation — the final state per hash equals the batch
  ``exact_dedup`` group exactly (count, canonical id), which is what
  makes the streaming path value-hash checkable against the same DuckDB
  oracle as the batch operator.
* ``dropDuplicates`` on the hash column (first-writer-wins emission) is
  the lighter fire-and-forget variant; it is NOT used for the contract
  because which physical row of a same-batch duplicate group gets
  emitted is nondeterministic.

State at 100 TB: one row per distinct content hash. Unbounded corpus →
pair with a watermark + ``dropDuplicatesWithinWatermark`` or state TTL
when the dedup horizon is bounded in time; the contract query keeps
unbounded state because the batch oracle is whole-corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup import normalized
from ._drain import (adaptive_state_partitions, drain_available_now,
                     final_state)


def dedup_stream(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact-dedup state over a streaming document frame.

    Output (Update mode): one row per content hash seen so far —
    (content_hash, group_size, canonical_id) where ``canonical_id`` is
    the smallest document id with that hash (deterministic across any
    micro-batch split of the same input, unlike first-arrival policies).
    """
    return (
        df.select(
            F.md5(normalized(F.col(text_col)).cast("binary"))
            .alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def dedup_stream_bounded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    *,
    watermark: str = "1 hour",
) -> DataFrame:
    """Bounded-state streaming dedup: first-occurrence emission with state
    that EXPIRES past the event-time watermark.

    ``dropDuplicatesWithinWatermark`` on the content hash keeps a seen-hash
    entry only until the watermark passes its event time + delay — the 100
    TB unbounded-corpus shape (state ∝ hashes per watermark horizon, not
    corpus size). The trade: a duplicate arriving later than ``watermark``
    after its first occurrence is re-emitted as if new. Deduplication is
    therefore exact WITHIN the horizon and best-effort beyond it — which is
    the standard contract for streaming dedup at scale. (The horizon edge
    is approximate by up to one micro-batch: lookups see state as of batch
    start, eviction runs at batch end — tests/test_streaming.py pins the
    exact timing.)

    Output (append mode): the first-within-horizon occurrence rows
    (id, content_hash, event time). Not oracle-checked (which physical row
    of a same-micro-batch duplicate group is emitted is nondeterministic);
    the deterministic-state contract surface is ``dedup_stream``.
    """
    from ..timeutil import event_time_col

    hashed = df.select(
        F.col(id_col),
        F.md5(normalized(F.col(text_col)).cast("binary"))
        .alias("content_hash"),
        event_time_col(df, ts_col).alias("_evt"),
    )
    return (
        hashed.withWatermark("_evt", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def run_dedup_stream_on_dir(
    spark: SparkSession,
    input_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_name: str = "dedup_stream_result",
    max_files_per_trigger: int | None = None,
    state_partitions: int | str | None = "auto",
) -> DataFrame:
    """Drain a parquet file/dir through ``dedup_stream`` (availableNow,
    Update mode) and return the FINAL per-hash state as a batch DataFrame.

    The memory sink keeps every update; the final state of a hash is its
    row with the largest ``group_size`` (strictly increasing), tie-broken
    by smallest ``canonical_id`` (monotonically non-increasing).

    ``state_partitions="auto"`` (default) derives the state-store
    partition count from the input's byte size instead of inheriting the
    session's shuffle constant (see ``adaptive_state_partitions`` — a
    keyed stateful aggregation's final state is partition-count
    invariant, so results are identical by construction; only the number
    of per-batch state commits changes). Pass an int to pin it, or
    ``None`` to keep the session default.
    """
    if state_partitions == "auto":
        state_partitions = adaptive_state_partitions(spark, input_path)
    res = drain_available_now(
        spark, input_path,
        lambda s: dedup_stream(s, text_col, id_col),
        query_name, output_mode="update",
        max_files_per_trigger=max_files_per_trigger,
        state_partitions=state_partitions,
        # keyed agg, Update mode, no watermark: the trailing no-data
        # micro-batch emits nothing here and costs a full trigger's
        # fixed overhead — final state is identical without it (r16;
        # measured per-batch breakdown in OPTIMIZATION_r16.md)
        no_data_batch=False)
    return final_state(res, ["content_hash"], F.col("group_size").desc(),
                       F.col("canonical_id").asc())
