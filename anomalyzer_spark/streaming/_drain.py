"""Shared file-stream drain helper for the *_on_dir streaming runners.

One implementation of the drain-to-memory-sink boilerplate (schema read,
optional per-trigger file cap, availableNow trigger, await) so fixture
encoding changes are handled in ONE place: legacy TIMESTAMP(NANOS)
columns (bigint via nanosAsLong) are normalized to µs TimestampType here
when the caller names its event-time columns.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import conf_scope


def adaptive_state_partitions(
    spark: SparkSession,
    input_path: str,
    *,
    bytes_per_partition: int | None = None,
) -> int:
    """Scale-adaptive shuffle/state partition count for a file-stream
    drain: ``ceil(input_bytes / bytes_per_partition)`` clamped to
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
    thousands of shuffle partitions caps there, and the knob is
    parameterised via ``anomalyzer.streaming.bytesPerStatePartition``
    (default 64 MiB of input per state partition).

    Caveats (r15 advice): classic sessions only — the filesystem handle
    comes through private py4j internals (``spark._jvm``/``spark._jsc``)
    that do not exist under Spark Connect. And the summary measures
    COMPRESSED on-disk bytes, so heavily compressed text carries more
    decompressed state per partition than the divisor suggests — lower
    ``bytesPerStatePartition`` (or raise the session cap) if state-store
    commit sizes matter at scale.
    """
    if bytes_per_partition is None:
        bytes_per_partition = int(spark.conf.get(
            "anomalyzer.streaming.bytesPerStatePartition",
            str(64 * 1024 * 1024)))
    if bytes_per_partition <= 0:
        raise ValueError("bytes_per_partition must be positive")
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
    return max(1, min(cap, -(-int(nbytes) // bytes_per_partition)))


def drain_available_now(
    spark: SparkSession,
    input_path: str,
    build: Callable[[DataFrame], DataFrame],
    query_name: str,
    *,
    output_mode: str = "append",
    max_files_per_trigger: int | None = None,
    ns_ts_cols: tuple[str, ...] = (),
    state_partitions: int | None = None,
    no_data_batch: bool | None = None,
) -> DataFrame:
    """Stream ``input_path`` (parquet) through ``build`` and drain with
    availableNow into a memory sink; returns the sink table (every emitted
    row — Update-mode callers select final state themselves).

    ``ns_ts_cols``: event-time columns that legacy fixtures may store as
    INT64 TIMESTAMP(NANOS). A bigint column is ambiguous — it could be
    legitimate epoch-µs (timeutil's documented integer contract) — so the
    encoding is PROBED from a handful of sampled values (epoch-ns values
    are ~1e18, epoch-µs ~1e15; the 5e17 split is unambiguous for any
    timestamp between 1985 and the year 17,000) instead of assumed. The
    probe is a LIMIT over the single column — at scale that is one
    column-pruned read of the first row groups, never a full-input
    aggregation (an abs()/max() probe would defeat parquet stats and scan
    everything per runner invocation).

    ``no_data_batch=False`` disables the trailing NO-DATA micro-batch
    for this drain (r16; scoped exactly like ``state_partitions``): after
    the last data trigger, availableNow fires one extra empty batch so
    watermark-driven operators can emit final results — pure fixed
    overhead (a full trigger's planning + offset/commit I/O) for a keyed
    aggregation in Update mode with NO watermark, which emits nothing in
    it. Leave it ``None`` (Spark default, on) for any watermarked/
    append-mode drain — those NEED the extra batch to flush final
    windows.

    Concurrency caveat (r15 advice): ``state_partitions`` is scoped by
    temporarily setting the SESSION-wide ``spark.sql.shuffle.partitions``
    for the duration of the drain (restored in a finally). Any query
    planned CONCURRENTLY on the same SparkSession during the drain
    silently inherits the override — fine for this repo's
    single-threaded drills/benches/tests; a shared production session
    running concurrent batch work should drain on a dedicated session
    (``spark.newSession()``) instead.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(input_path)
    reader = spark.readStream.schema(batch.schema)
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
            sample = (batch.select(F.col(c)).where(F.col(c).isNotNull())
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
    # state_partitions scopes spark.sql.shuffle.partitions to THIS drain
    # (planning happens inside start/awaitTermination; the restore runs
    # before any caller-side post-processing plans, so downstream batch
    # plans keep the session's partitioning).
    parts = None if state_partitions is None else str(int(state_partitions))
    nodata = (None if no_data_batch is None
              else "true" if no_data_batch else "false")
    with conf_scope(spark, {
            "spark.sql.shuffle.partitions": parts,
            "spark.sql.streaming.noDataMicroBatches.enabled": nodata}):
        q = (
            build(stream).writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(query_name)
