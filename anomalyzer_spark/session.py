"""SparkSession factory with engine defaults.

Local testing runs ``local[N]``; the same settings are what we'd ship on a
real cluster (AQE on for runtime re-planning + skew-join handling, Arrow on
for the pandas kernels).
"""

from __future__ import annotations

import contextlib
import logging
import os
import time

from pyspark.sql import SparkSession

#: the package logger: every fallback that would otherwise be silent
#: (a measurement that could not be taken, a default used in its place)
#: is logged here
LOG = logging.getLogger("anomalyzer_spark")


def get_spark(app: str = "anomalyzer-spark", shuffle_partitions: int | None = None):
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # must reach the JVM launcher BEFORE the gateway starts — builder
    # confs are too late for driver JVM flags in local mode (see _build
    # comment on DontCompileHugeMethods)
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    if "DontCompileHugeMethods" not in opts:
        # -XX:-DontCompileHugeMethods: JIT the huge whole-stage-codegen
        # methods (see _build). ReservedCodeCacheSize: a long session
        # running many wide generated stages fills the default ~240 MB
        # code cache, C2 shuts off, and LATE queries silently fall back
        # to the interpreter (observed: simhash at 26x CPU, identical
        # plan hash, as query #12 of a 19-query session — back at its
        # floor run alone or with 512m; r15: the grown 26-query session
        # with the attestation riders overflowed 512m the same way —
        # dedup_paragraphs at 9x CPU as query #19, identical plan hash,
        # back at its floor alone — so the reserve is 1g now. Cost is
        # virtual address space, not resident memory).
        os.environ["SPARK_SUBMIT_OPTS"] = (
            opts + " -XX:-DontCompileHugeMethods"
            " -XX:ReservedCodeCacheSize=1g").strip()
    spark = _build(app, cpus, shuffle_partitions)
    # Warm Spark 4's ICU-backed Unicode casing ONCE, single-threaded: the
    # first non-ASCII lower()/upper() triggers CollationAwareUTF8String's
    # static init (~4-6s here). If 32 concurrent tasks race that class
    # init instead, contention blows it up to minutes (observed >400s CPU)
    # — pay it deterministically at session start.
    spark.sql("select lower('İstanbul 中文 ÉΑΒΓ')").collect()
    return spark


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


#: directory holding the ``anomalyzer_spark`` package
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))

#: bytes one partition of a ``materialize(..., compact=True)`` frame
#: holds (the AQE advisory-size class)
COMPACT_PARTITION_BYTES = 64 * 1024 * 1024


def materialize(df, *, reason: str, compact: bool = False):
    """Eagerly checkpoint ``df``: the package's one lineage cut.

    With a checkpoint dir set (``sparkContext.setCheckpointDir``) this is
    a reliable ``checkpoint``, whose files survive executor loss; without
    one it is a ``localCheckpoint`` into executor block storage, which a
    lost executor takes with it. A streaming frame cannot checkpoint and
    is returned unchanged.

    ``compact=True`` coalesces (narrow, no shuffle) to
    ``ceil(bytes / COMPACT_PARTITION_BYTES)`` partitions, clamped to
    [1, current], from the local checkpoint's measured block bytes — the
    batch sibling of ``streaming.adaptive_state_partitions``. A
    checkpoint otherwise inherits the SOURCE scan's split count: a few
    thousand scalar rows over 32 splits make every downstream stage pay
    32 near-empty tasks. Use it where consumers do LIGHT per-row work
    (joins, aggregates, filters over scalars); CPU-heavy consumers want
    the cores. A reliable checkpoint stores no blocks, so there (as when
    the size is unreadable) the inherited partitioning is kept.

    Logs one DEBUG record per call: reason, mode, partitions, bytes
    (compact only) and ms. Classic sessions only: the checkpoint dir and
    block sizes are read through the SparkContext."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    sc = spark.sparkContext
    reliable = sc.getCheckpointDir() is not None
    t0 = time.perf_counter()
    before = _persistent_rdd_ids(spark) if compact else set()
    out = df.checkpoint(eager=True) if reliable \
        else df.localCheckpoint(eager=True)
    size = None
    new_ids = _persistent_rdd_ids(spark) - before if compact else set()
    if new_ids:
        try:
            size = sum(int(i.memSize()) + int(i.diskSize())
                       for i in sc._jsc.sc().getRDDStorageInfo()
                       if int(i.id()) in new_ids)
        except Exception:  # never let sizing break the query path
            LOG.warning("materialize: checkpoint size unreadable; "
                        "keeping the inherited partitioning", exc_info=True)
        else:
            cur = out.rdd.getNumPartitions()
            n = max(1, min(cur, -(-size // COMPACT_PARTITION_BYTES)))
            out = out.coalesce(n) if n < cur else out
    if LOG.isEnabledFor(logging.DEBUG):
        LOG.debug("materialize %s: mode=%s partitions=%d bytes=%s ms=%.1f",
                  reason, "reliable" if reliable else "local",
                  out.rdd.getNumPartitions(), size,
                  (time.perf_counter() - t0) * 1e3)
    return out


@contextlib.contextmanager
def checkpoint_scope(spark: SparkSession):
    """Bound the storage of eager local-checkpoint frames to a scope.

    The LSH/SimHash pair generators, ``cosine_pairs``, and
    ``search_ivfpq_index`` materialize intermediates EAGERLY (Catalyst
    gives their self-joins no ReusedExchange; see dedup.py/similarity.py).
    Their local checkpoint blocks are normally reclaimed only when the
    ContextCleaner garbage-collects the Python frame reference — fine for
    per-query sessions, but a long-lived serving session calling these in
    a loop accumulates blocks between GC cycles. Wrap each serving
    iteration in this scope and every RDD persisted INSIDE it (which is
    what a local checkpoint is under the hood) is explicitly unpersisted
    on exit:

        with checkpoint_scope(spark):
            pairs = minhash_lsh_pairs(docs, ...)
            out = pairs.collect()          # consume INSIDE the scope

    Results must be fully consumed (collected/written) before the scope
    closes — a checkpointed frame has no lineage left to recompute from
    once its blocks are dropped. RDDs already persisted before entry are
    left untouched; anything the scope body itself persisted on purpose
    should be persisted OUTSIDE the scope.

    Only local checkpoint blocks are freed. With a checkpoint dir set,
    ``materialize`` writes reliable checkpoint FILES, which persist no
    blocks; their removal is governed by Spark's
    ``spark.cleaner.referenceTracking.cleanCheckpoints``."""
    before = _persistent_rdd_ids(spark)
    try:
        yield
    finally:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for k in jmap.keySet().toArray():
            if int(k) not in before:
                jmap.get(k).unpersist(False)


def default_driver_memory(total_bytes: int | None) -> str:
    """``spark.driver.memory`` unless ``SPARK_DRIVER_MEM`` is set: half of
    the ``total_bytes`` of memory this process may use (``_usable_memory``),
    at most 32g; 32g when the size is unknown. Local mode runs every task
    slot in the driver JVM: an 8g heap GC-thrashes once object-heavy stages
    (higher-order exprs, Arrow batches) accumulate — every query after the
    kernel stage ran 3-10x slower — and 32g keeps GC flat on a 128 GiB
    host. A heap sized past the memory there is, though, grows until the
    OS kills the JVM (a 32g heap on a 15 GB host was killed at 15 GB
    resident)."""
    if not total_bytes or total_bytes // 2 >= 32 * 2**30:
        return "32g"
    return f"{total_bytes // 2 // 2**20}m"


#: cgroup v2 and v1 memory limit files; "max" or a near-2**63 value is no
#: limit
_CGROUP_LIMITS = ("memory.max", "memory/memory.limit_in_bytes")


def _usable_memory(cgroup_root: str = "/sys/fs/cgroup") -> int | None:
    """Bytes of memory this process may use: the host's physical memory or
    its container's cgroup limit, whichever is smaller; None where neither
    is known. The limit is read at the root of the cgroup mount, which is
    the container's own cgroup when it runs in a cgroup namespace."""
    sizes = []
    try:
        sizes.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (AttributeError, OSError, ValueError):
        pass
    for name in _CGROUP_LIMITS:
        try:
            with open(os.path.join(cgroup_root, name)) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit() and 0 < int(limit) < 2**62:
            sizes.append(int(limit))
    return min(sizes, default=None)


def _build(app: str, cpus: str, shuffle_partitions: int | None):
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # legacy fixtures store event time as INT64 TIMESTAMP(NANOS), which
        # Spark reads only as bigint (load_table and the drains convert it)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_DRIVER_MEM", default_driver_memory(_usable_memory())))
        # Whole-stage codegen for the wide higher-order expressions (minhash
        # fold, simhash, detect staging) emits methods past HotSpot's
        # -XX:DontCompileHugeMethods bytecode limit; whether the JIT warms
        # them anyway varies per JVM instance, making those queries
        # bimodally 2-3x slower (measured 1.8s vs 3.4-5.0s for minhash at
        # sf0.1). get_spark force-enables huge-method JIT via
        # SPARK_SUBMIT_OPTS (builder confs are too late for driver JVM
        # flags in local mode); the executor conf below covers real
        # clusters where executors are separate JVMs.
        .config("spark.executor.extraJavaOptions",
                "-XX:-DontCompileHugeMethods "
                "-XX:ReservedCodeCacheSize=1g")
        # Python workers: guard the per-task importlib.invalidate_caches
        # against re-parsing pyspark.zip's central directory every task
        # (~0.65 s wall / ~0.24 s CPU per task on distribution installs —
        # see _daemon.py). The daemon module, like the UDF kernels that
        # reference anomalyzer_spark.oracle by module name, must import
        # in the workers: put the package's parent directory on their
        # PYTHONPATH (Spark appends it after its own pyspark entries), so
        # a driver that found the package through sys.path, from any
        # cwd, still runs Python tasks.
        .config("spark.python.daemon.module", "anomalyzer_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
