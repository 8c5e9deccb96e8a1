"""The one file-stream drain behind every ``run_*_on_dir`` runner.

``drain`` is the only entry point that turns a parquet path into a
drained stream: private session clone, schema read (only when none is
given), per-trigger file cap, epoch-ns probe, start and await.
``file_stream`` is its un-started source, ``memory_sink`` /
``batch_sink`` start the two sink shapes, and ``final_state`` selects
an Update-mode memory sink's last row per key.

A drain never writes the caller's session conf: it sets its confs on a
private clone of the session, so a query planned concurrently on the
caller never sees them. Classic sessions only (Spark Connect has no
``cloneSession``).

Each drain logs one DEBUG record on the ``anomalyzer_spark`` logger
(computed only when DEBUG is on) summarizing ``recentProgress``:
``triggers``; summed ``durationMs`` of ``addBatch``, ``walCommit``,
``queryPlanning`` and ``triggerExecution``; summed ``numInputRows``;
the last trigger's state ``numRowsTotal`` / ``memoryUsedBytes`` (0 when
stateless); and the drain's wall ms. Spark keeps only the last
``spark.sql.streaming.numRecentProgressUpdates`` (default 100)
triggers, so a longer drain's record covers its last 100.
"""

from __future__ import annotations

import logging
import time
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..session import LOG

#: compressed input bytes per state partition of an adaptive drain
STATE_PARTITION_BYTES = 64 * 1024 * 1024

#: the ``durationMs`` phases the progress record sums
_PHASES = ("addBatch", "walCommit", "queryPlanning", "triggerExecution")


def adaptive_state_partitions(spark: SparkSession, input_path: str) -> int:
    """Scale-adaptive shuffle/state partition count for a file-stream
    drain: ``ceil(input_bytes / STATE_PARTITION_BYTES)`` clamped to
    ``[1, spark.sql.shuffle.partitions]``.

    Stateful streaming queries pin their state-store partition count from
    ``spark.sql.shuffle.partitions`` at first run — AQE never coalesces a
    stateful exchange — so a session-wide constant is wrong in BOTH
    directions: at fixture scale a 32-way store pays 32 state commits ×
    N micro-batches of pure overhead for kilobytes of state, and at
    100 TB the same 32 would hot-spot every store. Deriving from the
    input's actual byte size (one filesystem content summary, no data
    read) makes the drill scale-adaptive per guide §2; the session
    conf stays the upper bound so a production deployment that sets
    thousands of shuffle partitions caps there.

    Caveats (r15 advice): classic sessions only — the filesystem handle
    comes through private py4j internals (``spark._jvm``/``spark._jsc``)
    that do not exist under Spark Connect. And the summary measures
    COMPRESSED on-disk bytes, so heavily compressed text carries more
    decompressed state per partition than the divisor suggests — raise
    the session cap if state-store commit sizes matter at scale.
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(input_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # file-stream sources accept GLOB paths (e.g. out/batch_id=*) but
    # getContentSummary does not — expand through globStatus first (a
    # plain existing path resolves to itself, so non-glob callers sum
    # the same bytes as before); no matches -> 0 bytes -> 1 partition
    matches = fs.globStatus(jpath)
    nbytes = 0
    for st in (matches or []):
        nbytes += fs.getContentSummary(st.getPath()).getLength()
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(cap, -(-int(nbytes) // STATE_PARTITION_BYTES)))


def file_stream(
    spark: SparkSession,
    input_path: str,
    *,
    schema=None,
    max_files_per_trigger: int | None = None,
    ns_ts_cols: Sequence[str] = (),
) -> DataFrame:
    """The parquet file stream over ``input_path``, not yet started.

    ``schema`` defaults to the input's parquet schema (a footer read).

    ``ns_ts_cols``: event-time columns that legacy fixtures may store as
    INT64 TIMESTAMP(NANOS). A bigint column is ambiguous — it could be
    legitimate epoch-µs (timeutil's documented integer contract) — so the
    encoding is PROBED from a handful of sampled values (epoch-ns values
    are ~1e18, epoch-µs ~1e15; the 5e17 split is unambiguous for any
    timestamp between 1985 and the year 17,000) instead of assumed. The
    probe is a LIMIT over the single column — at scale that is one
    column-pruned read of the first row groups, never a full-input
    aggregation (an abs()/max() probe would defeat parquet stats and scan
    everything per runner invocation)."""
    if schema is None:
        schema = spark.read.parquet(input_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)
    dtypes = dict(stream.dtypes)
    for c in ns_ts_cols:
        if dtypes.get(c) == "bigint":
            # any non-null sample discriminates: both encodings put every
            # value of a column on the same side of 5e17 (a mixed column
            # would be a corrupt fixture, not an encoding choice) — and we
            # assert exactly that, so a pre-1985 head row can't silently
            # misclassify a ns column as µs
            sample = (spark.read.schema(schema).parquet(input_path)
                      .select(F.col(c)).where(F.col(c).isNotNull())
                      .limit(8).collect())
            sides = {abs(r[0]) > 5 * 10**17 for r in sample}
            if len(sides) > 1:
                raise ValueError(
                    f"column {c!r} mixes epoch-ns and epoch-µs magnitudes "
                    f"in its sampled head — corrupt fixture, refusing to "
                    f"guess the encoding")
            if sides == {True}:
                stream = stream.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return stream


def progress_summary(progress: Sequence) -> dict:
    """Summary of a query's ``recentProgress`` (``StreamingQueryProgress``
    records): trigger count, summed phase ``durationMs`` and
    ``numInputRows``, and the last trigger's total state rows/bytes."""
    state = progress[-1].stateOperators if progress else []
    return {
        "triggers": len(progress),
        **{f"{p}_ms": sum(pr.durationMs.get(p, 0) for pr in progress)
           for p in _PHASES},
        "input_rows": sum(pr.numInputRows or 0 for pr in progress),
        "state_rows": sum(op.numRowsTotal for op in state),
        "state_bytes": sum(op.memoryUsedBytes for op in state),
    }


def drain(
    spark: SparkSession,
    input_path: str,
    start: Callable[[DataFrame], StreamingQuery],
    *,
    schema=None,
    max_files_per_trigger: int | None = None,
    ns_ts_cols: Sequence[str] = (),
    state_partitions: int | None = None,
    no_data_batch: bool | None = None,
) -> StreamingQuery:
    """Hand ``file_stream(input_path)`` to ``start``, which returns the
    started availableNow query; await it and log its progress record.
    Returns the terminated query.

    The stream runs on a private clone of ``spark`` (``cloneSession``:
    same conf, temp views and functions); these confs are set on the
    clone only:

    * ``nanosAsLong=true``: TIMESTAMP(NANOS) inputs read as bigint for
      the ``ns_ts_cols`` probe;
    * ``state_partitions`` → ``spark.sql.shuffle.partitions``, which a
      stateful query pins its state-store partition count from;
    * ``no_data_batch=False`` → ``noDataMicroBatches.enabled=false``:
      skips the trailing empty batch availableNow fires so watermarked
      operators can flush final windows — pure fixed overhead (a full
      trigger) for an Update-mode keyed aggregation with NO watermark.
      Leave it ``None`` for any watermarked/append-mode drain.

    Once the query has ended the clone's keys go back to the caller's
    values, so a frame read from the clone (``drain_available_now``'s
    memory sink) plans as it would on the caller. Classic sessions only.
    """
    settings = {k: str(v).lower() for k, v in {
        "spark.sql.legacy.parquet.nanosAsLong": True,
        "spark.sql.shuffle.partitions": state_partitions,
        "spark.sql.streaming.noDataMicroBatches.enabled": no_data_batch,
    }.items() if v is not None}
    t0 = time.perf_counter()
    clone = SparkSession(spark.sparkContext,
                         spark._jsparkSession.cloneSession())
    caller = {k: clone.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        clone.conf.set(k, v)
    q = start(file_stream(clone, input_path, schema=schema,
                          max_files_per_trigger=max_files_per_trigger,
                          ns_ts_cols=ns_ts_cols))
    q.awaitTermination()
    for k, v in caller.items():
        if v is None:
            clone.conf.unset(k)
        else:
            clone.conf.set(k, v)
    if LOG.isEnabledFor(logging.DEBUG):
        summary = progress_summary(q.recentProgress)
        LOG.debug("drain %s: %s ms=%.1f", q.name or input_path,
                  " ".join(f"{k}={v}" for k, v in summary.items()),
                  (time.perf_counter() - t0) * 1e3)
    return q


def memory_sink(frame: DataFrame, query_name: str,
                output_mode: str = "append") -> StreamingQuery:
    """Start ``frame`` into the availableNow memory sink ``query_name``."""
    return (frame.writeStream.format("memory").queryName(query_name)
            .outputMode(output_mode).trigger(availableNow=True).start())


def batch_sink(stream: DataFrame, handle, *, checkpoint: str | None = None,
               query_name: str | None = None,
               trigger: dict | None = None) -> StreamingQuery:
    """Start ``stream`` into the ``foreachBatch`` handler ``handle``;
    ``trigger`` holds writeStream trigger kwargs (default availableNow)."""
    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if query_name:
        writer = writer.queryName(query_name)
    return writer.trigger(**(trigger or {"availableNow": True})).start()


def drain_available_now(
    spark: SparkSession,
    input_path: str,
    build: Callable[[DataFrame], DataFrame],
    query_name: str,
    *,
    output_mode: str = "append",
    schema=None,
    max_files_per_trigger: int | None = None,
    ns_ts_cols: tuple[str, ...] = (),
    state_partitions: int | None = None,
    no_data_batch: bool | None = None,
) -> DataFrame:
    """``drain`` ``input_path`` through ``build`` into a memory sink;
    returns the sink table (every emitted row — Update-mode callers
    select final state with ``final_state``), read from the drain's
    session clone, where the sink is registered."""
    streams = []

    def start(stream: DataFrame) -> StreamingQuery:
        streams.append(stream)
        return memory_sink(build(stream), query_name, output_mode)

    drain(spark, input_path, start, schema=schema,
          max_files_per_trigger=max_files_per_trigger,
          ns_ts_cols=ns_ts_cols, state_partitions=state_partitions,
          no_data_batch=no_data_batch)
    return streams[0].sparkSession.table(query_name)


def final_state(updates: DataFrame, keys: Sequence[str],
                *order: Column) -> DataFrame:
    """Each key's first row under ``order`` — the final state of an
    Update-mode memory sink, which keeps every update of every key."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
