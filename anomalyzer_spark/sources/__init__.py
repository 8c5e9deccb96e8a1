"""Table loaders for the driver's parquet fixtures (TESTDATA.md).

Fixture timestamp encodings have varied by round — INT64 TIMESTAMP(NANOS)
(pre-round-3; bigint under ``get_spark``'s ``nanosAsLong`` default) and
TIMESTAMP(MICROS) with isAdjustedToUTC=false (current; Spark reads
TIMESTAMP_NTZ). The loader handles both and exposes, for each event-time
column:

  * ``<col>_ns``  — exact int64 epoch-nanoseconds (lossless; equals
    DuckDB's ``epoch_ns(col)`` — NTZ wall clock taken as UTC, see
    timeutil). Use for deterministic ordering and oracle-compared output.
  * ``<col>``     — the native temporal column as stored (NTZ today);
    every engine operator normalizes it via ``timeutil`` for
    window/streaming/event-time semantics.

At 100 TB the same loader applies: it is a plain parquet scan — filters and
column pruning still push down (the _ns projection is cheap per-row
arithmetic on top of the scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import LOG

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: columns stored as TIMESTAMP(NANOS) per table
NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


#: on-disk bytes per partition of ``spread_partitions`` (the scan-spread
#: sibling of session.COMPACT_PARTITION_BYTES)
SPREAD_PARTITION_BYTES = 256 * 1024


def _input_bytes(path: str) -> int:
    """On-disk bytes of a file, or of every file under a directory at any
    depth (``k=v/`` partition dirs included). Hidden ``.``-prefixed entries
    (checksum files) are skipped. Walking the tree, unlike globbing, takes
    the path literally, so ``[`` or ``*`` in it match nothing else."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    size = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        size += sum(os.path.getsize(os.path.join(root, f))
                    for f in files if not f.startswith("."))
    return size


def spread_partitions(
    spark: SparkSession, path: str, bytes_per_partition: int | None = None
) -> int:
    """Input-size-derived ``repartition`` count for CHEAP-per-byte
    consumers of a small local fixture: ``ceil(on-disk bytes /
    bytes_per_partition)`` clamped to [1, defaultParallelism].

    ``load_table(repartition=N)`` exists to spread a one-file fixture
    across cores; a constant N (the core count) is right when the
    per-byte work is CPU-heavy (shingling, hashing, profile
    expressions — fewer partitions would idle cores on real kernel
    work) but WRONG when it is cheap (explode/aggregate): measured at
    sf0.1, dedup_paragraphs' two 32-task map stages burn ~150 ms CPU
    per task on ~20 KB of input each — 40 cpu_s/lap of pure micro-task
    overhead vs 8 cpu_s (and -0.4 s wall) on 8 byte-sized partitions,
    identical results. Deriving the count from input bytes instead of
    the core count is the scale-adaptive rule: tiny input → few tasks;
    as the input grows the count rises until the core-count cap — and
    on a real multi-file dataset callers pass no repartition at all
    (the scan parallelizes naturally; see load_table).

    The divisor defaults to ``SPREAD_PARTITION_BYTES``: 256 KiB of
    COMPRESSED parquet ≈ ~1 MiB of rows — micro-task overhead amortized
    while tiny fixtures still spread; ``bytes_per_partition`` overrides
    it per call."""
    if bytes_per_partition is None:
        bytes_per_partition = SPREAD_PARTITION_BYTES
    try:
        size = _input_bytes(path)
    except OSError as e:
        n = spark.sparkContext.defaultParallelism
        LOG.warning("spread_partitions: cannot size %s (%s); using "
                    "defaultParallelism=%d", path, e, n)
        return n
    n = -(-size // max(1, bytes_per_partition))
    return max(1, min(spark.sparkContext.defaultParallelism, int(n)))


def load_table(
    spark: SparkSession, sf_dir: str, name: str, repartition: int | None = None
) -> DataFrame:
    """Load a fixture table.

    ``repartition``: spread the scan across N partitions. The local fixture
    is one small parquet file → one input split → compute-heavy per-row
    operators (shingling, hashing) would run single-threaded without it. On
    a real multi-file dataset the scan parallelizes naturally and callers
    should pass None (no shuffle). Legacy TIMESTAMP(NANOS) columns read
    as bigint under ``get_spark``'s ``nanosAsLong`` engine default.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in NANO_TS_COLS.get(name, ()):
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":  # legacy TIMESTAMP(NANOS) fixtures
            df = df.withColumn(f"{c}_ns", F.col(c)).withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
            )
        elif dt in ("timestamp", "timestamp_ntz"):
            from ..timeutil import epoch_us_col

            # µs storage → ×1000 is lossless and equals DuckDB epoch_ns
            df = df.withColumn(f"{c}_ns", epoch_us_col(df, c) * F.lit(1000))
    if repartition:
        df = df.repartition(repartition)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for spark.sql() use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
