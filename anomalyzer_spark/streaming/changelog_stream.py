"""Streaming CDC snapshot maintenance — ``changelog.apply_changes`` as
a continuously-applied sink.

A CDC feed (Debezium-shaped: key, payload, sequence, op) should
materialize as a queryable CURRENT SNAPSHOT without replaying the whole
log per query. This sink maintains that snapshot as hash-bucketed
parquet, merging each micro-batch into ONLY the buckets it touches:

  1. the batch folds to one row per key (``latest_changes`` — one
     map-side-combined aggregate over the batch);
  2. affected buckets = distinct ``pmod(xxhash64(keys), n_buckets)`` of
     the batch keys (bounded driver collect, ≤ n_buckets ints);
  3. those buckets — and ONLY those — are read back (partition
     pruning), unioned with the batch, re-folded by the same
     latest-wins ``max_by``, and dynamically overwritten.

Per-batch cost is batch keys + rows co-resident in touched buckets,
never the snapshot size. Correctness properties, all pinned in
tests/test_changelog_stream.py:

* ORDER-FREE convergence: the fold compares the stored row's sequence
  against the incoming one, so late/out-of-order CDC events (an older
  sequence arriving in a later micro-batch) can never regress the
  snapshot — the final state equals batch ``latest_changes`` over the
  whole feed under ANY batch split and ANY arrival order.
* DELETES ARE TOMBSTONES: a delete is stored (``_deleted=true``, its
  sequence retained), not erased — otherwise a late pre-delete upsert
  would resurrect the row. ``read_snapshot`` hides tombstones by
  default. Tombstones are one row per deleted key; reclaim them with a
  bounded batch job once the feed's max out-of-orderness has passed
  (the watermark argument), not from inside the stream.
* REPLAY-IDEMPOTENT: foreachBatch is at-least-once; re-merging an
  already-applied batch unions identical rows into the fold and
  rewrites identical bucket files. A sequence tie between a delete and
  an upsert (a feed contract violation) resolves deterministically —
  the tombstone wins.

The equal-seq determinism and the one-exchange fold are inherited from
``functions/changelog.py``; this module only adds the bucket store
protocol. No reference analogue.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..functions.changelog import _is_delete, latest_changes
from ..session import materialize as _materialize
from ..sources.layout import drop_emptied_partitions
from ._drain import batch_sink, drain

__all__ = ["changelog_upsert_stream", "read_snapshot", "init_snapshot",
           "vacuum_tombstones", "run_changelog_stream_on_dir"]


def _bucket(keys: Sequence[str], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]),
                  F.lit(n_buckets)).cast("int")


def _read_buckets(spark: SparkSession, snap_dir: str, schema,
                  buckets: list[int]) -> DataFrame:
    try:
        df = spark.read.schema(schema).parquet(snap_dir)
    except AnalysisException:  # first batch: store not created yet
        return spark.createDataFrame([], schema)
    return df.where(F.col("_bucket").isin(buckets))


def changelog_upsert_stream(
    spark: SparkSession,
    changes_stream: DataFrame,
    store_dir: str,
    checkpoint_path: str,
    keys: Sequence[str],
    sequence_col: str,
    *,
    op_col: str | None = None,
    delete_values: Sequence[str] = ("delete", "d"),
    tiebreak_cols: Sequence[str] = (),
    n_buckets: int = 64,
    trigger: dict | None = None,
    query_name: str = "changelog_upsert",
):
    """Start the snapshot-maintenance stream over a CDC DataFrame.
    Returns the started StreamingQuery (caller awaits/stops); read the
    maintained snapshot with ``read_snapshot``.

    ``n_buckets`` bounds per-batch write amplification (a batch
    rewrites at most ``n_buckets`` partitions) and sets merge
    parallelism; size it so one bucket of the steady-state snapshot
    fits an executor comfortably (keys/n_buckets rows). The op column
    is normalized to a stored ``_deleted`` flag, so ``delete_values``
    is a write-time concern only."""
    if not keys:
        raise ValueError("keys must be non-empty")
    snap_dir = f"{store_dir}/snapshot"
    payload_cols = [c for c in changes_stream.columns if c != op_col]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        b = (
            latest_changes(batch_df, keys, sequence_col,
                           tiebreak_cols=tiebreak_cols)
            .select(*payload_cols,
                    _is_delete(op_col, delete_values).alias("_deleted"))
            .withColumn("_bucket", _bucket(keys, n_buckets)))
        affected = sorted(
            r["_bucket"] for r in b.select("_bucket").distinct().collect())
        store = _read_buckets(spark, snap_dir, b.schema, affected)
        # _deleted as the FINAL tiebreak: an equal-sequence delete/upsert
        # clash (feed violation) resolves to the tombstone, every time
        merged = _materialize(latest_changes(
            store.unionByName(b), keys, sequence_col,
            tiebreak_cols=[*tiebreak_cols, "_deleted"],
        ), reason="changelog_upsert_stream.merge")  # self-overwrite hazard
        (merged.repartition(len(affected), F.col("_bucket"))
         .write.mode("overwrite").partitionBy("_bucket")
         .option("partitionOverwriteMode", "dynamic").parquet(snap_dir))

    return batch_sink(changes_stream, handle, checkpoint=checkpoint_path,
                      query_name=query_name, trigger=trigger)


def read_snapshot(
    spark: SparkSession,
    store_dir: str,
    *,
    include_deleted: bool = False,
) -> DataFrame:
    """The maintained snapshot: current rows (payload + sequence
    columns; internal ``_deleted``/``_bucket`` dropped). Pass
    ``include_deleted=True`` to see tombstones (with both internals) —
    the audit/vacuum view."""
    df = spark.read.parquet(f"{store_dir}/snapshot")
    if include_deleted:
        return df
    return df.where(~F.col("_deleted")).drop("_deleted", "_bucket")


def init_snapshot(
    snapshot_df: DataFrame,
    store_dir: str,
    keys: Sequence[str],
    *,
    n_buckets: int = 64,
) -> None:
    """Seed the store from an existing batch snapshot (rows must carry
    the sequence column the stream will use — ``lit(0)`` when the base
    predates the feed). The stream then applies changes on top; bucket
    assignment MUST match the stream's (same keys, same n_buckets)."""
    (snapshot_df
     .withColumn("_deleted", F.lit(False))
     .withColumn("_bucket", _bucket(keys, n_buckets))
     .repartition(n_buckets, F.col("_bucket"))
     .write.mode("overwrite").partitionBy("_bucket")
     .parquet(f"{store_dir}/snapshot"))


def vacuum_tombstones(
    spark: SparkSession,
    store_dir: str,
    sequence_col: str,
    max_seq,
) -> int:
    """Reclaim tombstones whose sequence is ``<= max_seq`` — the
    bounded batch job the module docstring defers to. ``max_seq`` is
    the caller's out-of-orderness watermark: a tombstone may be
    dropped only once no event at or below its sequence can still
    arrive (otherwise a late pre-delete upsert would resurrect the
    row). ``sequence_col`` is the same column name the stream was
    given. Run it between stream restarts or from a maintenance
    schedule — NOT concurrently with the running stream (both sides
    dynamically overwrite bucket partitions).

    Rewrites ONLY the buckets that hold qualifying tombstones (one
    bounded aggregate finds them; partition pruning keeps the others
    unread; dynamic overwrite touches only rewritten partitions — the
    ``compact_shards`` discipline); returns how many buckets were
    rewritten. A bucket whose every row was a dead tombstone is
    DELETED outright — dynamic overwrite never touches a partition
    the surviving frame has no rows for, so leaving it would keep the
    tombstones (the ``refresh_shards`` emptied-partition lesson)."""
    snap_dir = f"{store_dir}/snapshot"
    df = spark.read.parquet(snap_dir)
    dead = F.col("_deleted") & (F.col(sequence_col) <= F.lit(max_seq))
    affected = sorted(r["_bucket"] for r in
                      df.where(dead).select("_bucket").distinct().collect())
    if not affected:
        return 0
    keep = _materialize(  # self-overwrite hazard
        df.where(F.col("_bucket").isin(affected))
        .where(~dead)
        .repartition(len(affected), F.col("_bucket")),
        reason="vacuum_tombstones.keep")
    (keep.write.mode("overwrite").partitionBy("_bucket")
     .option("partitionOverwriteMode", "dynamic").parquet(snap_dir))
    drop_emptied_partitions(
        spark, snap_dir, "_bucket", affected,
        {r["_bucket"] for r in keep.select("_bucket").distinct().collect()})
    return len(affected)


def run_changelog_stream_on_dir(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_path: str,
    keys: Sequence[str],
    sequence_col: str,
    *,
    op_col: str | None = None,
    delete_values: Sequence[str] = ("delete", "d"),
    tiebreak_cols: Sequence[str] = (),
    n_buckets: int = 64,
    schema=None,
    max_files_per_trigger: int = 1,
    query_name: str = "changelog_stream_result",
) -> DataFrame:
    """Drain a parquet directory of CDC files (``_drain.drain``,
    availableNow, one file per micro-batch by default), maintaining the
    snapshot store; returns the final current snapshot."""
    drain(spark, input_dir, lambda s: changelog_upsert_stream(
        spark, s, store_dir, checkpoint_path, keys, sequence_col,
        op_col=op_col, delete_values=delete_values,
        tiebreak_cols=tiebreak_cols, n_buckets=n_buckets,
        query_name=query_name),
        schema=schema, max_files_per_trigger=max_files_per_trigger)
    return read_snapshot(spark, store_dir)
