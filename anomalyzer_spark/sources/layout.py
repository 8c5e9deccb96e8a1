"""Output data layout — file sizing and Z-order clustering for scan pruning.

Two sink-side levers that decide whether a 100 TB table is readable:

* **File sizing** (``write_sized_parquet``): a naive ``df.write`` emits
  one file per task — thousands of small files (metadata pressure, listing
  cost, read amplification) or a few giant ones (no parallelism). Spark's
  own mechanism is ``maxRecordsPerFile``; the missing piece is converting
  a BYTE target into a record count, done here from a bounded sample.
* **Z-order clustering** (``write_zordered``): parquet readers skip row
  groups/files whose min/max stats exclude the predicate. Sorting by one
  column gives perfect skipping on it and none on others; interleaving the
  bits of several columns (Morton order) gives GOOD skipping on each —
  the standard multi-dimensional layout (Databricks OPTIMIZE ZORDER BY,
  here as a plain range-partitioned sort on a computed z-value column).

Both are plain declarative Spark (a computed column + repartitionByRange +
sortWithinPartitions + write options) — no custom committers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize as _materialize

#: bits per dimension in the z-value; 2 dims × 21 bits = 42-bit z fits a
#: long with room to spare, and 2^21 distinct quantiles per dimension is
#: far finer than row-group granularity can exploit
_ZBITS = 21


def write_sized_parquet(
    df: DataFrame,
    path: str,
    *,
    target_mb: int = 256,
    partition_by: list[str] | None = None,
    compression_ratio: float = 4.0,
    sample_rows: int = 256,
    mode: str = "overwrite",
    dynamic_overwrite: bool = False,
) -> int:
    """Write parquet with files targeting ``target_mb`` via
    ``maxRecordsPerFile``. Records-per-file is estimated from a BOUNDED
    ``sample_rows`` Arrow sample (in-memory bytes / ``compression_ratio``
    — parquet encoding+compression typically shrinks analytics rows
     3-6×; tune the ratio per dataset if file sizes matter tightly).
    Returns the records-per-file used. The estimate is an upper-bound
    knob, not an exact science — the guarantee is NO pathological
    small-files explosion and NO unsplittable giants, not byte-exact
    file sizes. ``dynamic_overwrite`` replaces only the partitions the
    frame has rows for; the write sets its mode whatever the session's."""
    if target_mb < 1:
        raise ValueError("target_mb must be >= 1")
    sample = df.limit(sample_rows).toPandas()
    if not len(sample):
        n_per_file = 1_000_000
    else:
        mem = float(sample.memory_usage(index=False, deep=True).sum())
        bytes_per_row = max(mem / len(sample) / compression_ratio, 1.0)
        n_per_file = max(int(target_mb * (1 << 20) / bytes_per_row), 1)
    writer = (df.write.mode(mode)
              .option("maxRecordsPerFile", n_per_file)
              .option("partitionOverwriteMode",
                      "dynamic" if dynamic_overwrite else "static"))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return n_per_file


def drop_emptied_partitions(spark: SparkSession, path: str, col: str,
                            affected: list, kept: set) -> None:
    """Delete ``<path>/<col>=<v>`` for every ``v`` in ``affected`` that
    is not in ``kept``. A dynamic partition overwrite never touches a
    partition its frame has no rows for, so a rewritten partition that
    emptied out keeps its stale files unless deleted here. Goes through
    the path's Hadoop filesystem, so it works off the local disk too."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for v in affected:
        if v not in kept:
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/{col}={v}")
            p.getFileSystem(hconf).delete(p, True)


def zvalue(cols: list[str | Column], bits: int = _ZBITS) -> Column:
    """Morton (bit-interleaved) z-value of 2+ NON-NEGATIVE integral rank
    columns, each quantized to ``bits`` bits. Callers normally rank raw
    columns first (``write_zordered`` does) so arbitrary numeric/date
    domains become dense ranks; interleaving then gives each dimension
    equal weight in the sort order."""
    if len(cols) < 2:
        raise ValueError("z-ordering needs >= 2 columns")
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must fit a long (<= 62)")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    z = F.lit(0)
    for b in range(bits):                # bit b of every dimension
        for d, c in enumerate(cs):
            src = b * len(cols) + d      # target bit position
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(
                F.lit(1).cast("long"))
            z = z + bit * F.lit(1 << src)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    *,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by the Morton order of ``zorder_by``.

    Each z column is quantized to ``_ZBITS`` bits UNIFORMLY between its
    global min and max (ONE bounded min/max aggregate — deliberately not
    a rank/percent_rank, whose global window would serialize the corpus
    into a single task; heavily skewed columns get coarser effective
    resolution, which costs skipping quality, never correctness), the
    bits interleaved, then ``repartitionByRange(z)`` +
    ``sortWithinPartitions(z)`` so both files AND the row groups inside
    them are z-contiguous. Readers skip row groups via parquet min/max
    stats on the ORIGINAL columns — no reader-side cooperation or
    z-column filter needed (the z column is dropped before writing).
    NULLs sort as bucket 0. Verified by footer-stat inspection in
    tests/test_layout.py."""
    scale = (1 << _ZBITS) - 1
    stats = df.select(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in zorder_by],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in zorder_by],
    ).collect()[0]
    ranked = df
    rank_cols = []
    for c in zorder_by:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        rc = f"_zr_{c}"
        if mn is None or mx is None or mx <= mn:
            q = F.lit(0)
        else:
            q = F.least(
                F.floor((F.col(c).cast("double") - F.lit(mn))
                        / F.lit((mx - mn)) * F.lit(scale + 1)),
                F.lit(scale))
        ranked = ranked.withColumn(
            rc, F.coalesce(q.cast("long"), F.lit(0)))
        rank_cols.append(rc)
    n = n_files or max(df.sparkSession.sparkContext.defaultParallelism, 1)
    (
        ranked.withColumn("_z", zvalue(rank_cols))
        .drop(*rank_cols)
        .repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode).parquet(path)
    )


#: modulus of the manifest checksum — the 48-bit md5 window's range, so
#: the folded sum stays a plain BIGINT in every engine
_CKSUM_MOD = 1 << 48


def _row_hash48(cols: list[str], salt: str | None = None) -> Column:
    """48-bit md5 of the row's ``cols``, NULL-distinguishing: each value
    is cast to string with a sentinel for NULL (plain ``concat_ws`` SKIPS
    nulls, making ('a', NULL) and (NULL, 'a') collide), joined with a
    0x1f unit separator. ``salt`` (prepended as a literal part) keys the
    hash to a use-site/seed so different consumers draw independent
    hashes. Engine-portable (DuckDB/NumPy reproduce it)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL"))
             for c in cols]
    if salt is not None:
        parts.insert(0, F.lit(salt))
    key = F.concat_ws("\x1f", *parts)
    return F.conv(F.substring(F.md5(key.cast("binary")), 1, 12), 16, 10) \
        .cast("long")


def assign_shards(
    df: DataFrame,
    n_shards: int,
    *,
    id_cols: list[str] | None = None,
    seed: int = 0,
    shard_col: str = "shard",
    key_col: str | None = None,
    cluster: bool = False,
) -> DataFrame:
    """Deterministic seed-keyed global shuffle: assign every row a shard
    in ``[0, n_shards)`` and a pseudo-random within-shard order, the step
    between curation and ``export_training_shards`` that fixes a
    TRAINING ORDER. Training runs need the order (a) shuffled — no
    source/time clustering surviving into consecutive batches — and (b)
    reproducible — re-running the export from the same snapshot and seed
    must rebuild byte-identical shards, or the export receipt
    (``shard_manifest``) attests nothing.

    Both come from one 48-bit md5 over ``(seed, id_cols)``
    (``id_cols`` defaults to all columns, sorted — pass the stable
    document key explicitly when rows carry mutable payload):
    ``shard = hash % n_shards`` and the hash itself is the shuffle sort
    key (exposed as ``key_col`` when given). md5 uniformity makes shard
    sizes even by construction — no planned skew, so the downstream
    sharded write needs no AQE rescue. Different ``seed`` values draw
    independent hashes, so reshuffling between epochs is a seed bump,
    not a new mechanism.

    ``cluster=False`` (default) is map-only — zero exchanges, columns
    ride existing stages. ``cluster=True`` additionally repartitions by
    shard and sorts ``(shard, hash)`` within partitions — exactly the
    physical layout the sharded write wants, spending the ONE exchange
    that write needs anyway (a task may hold several of the
    ``n_shards`` hash-colliding shard ids; ``partitionBy(shard)`` on
    write splits them back out).

    The fold is the engine-portable house hash, so the assignment is
    replayable as pure SQL (DuckDB parity in tests/test_layout.py): an
    auditor can recompute from the snapshot which shard ANY document
    landed in without running Spark.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    ids = id_cols or sorted(df.columns)
    if not ids:
        raise ValueError("no id columns to hash")
    missing = [c for c in ids if c not in df.columns]
    if missing:
        raise ValueError(f"id_cols not in frame: {missing}")
    if shard_col in df.columns:
        raise ValueError(f"column {shard_col!r} already exists")
    h = _row_hash48(ids, salt=f"shard:{seed}")
    out = df.withColumn(shard_col, F.pmod(h, F.lit(n_shards)).cast("int"))
    if key_col is not None:
        out = out.withColumn(key_col, h)
    if cluster:
        out = (out.repartition(n_shards, F.col(shard_col))
               .sortWithinPartitions(F.col(shard_col),
                                     F.col(key_col) if key_col else h))
    return out


def shard_manifest(
    df: DataFrame,
    shard_col: str = "shard",
    *,
    token_col: str | None = None,
    checksum_cols: list[str] | None = None,
) -> DataFrame:
    """Per-shard manifest of a training export: ``(shard, n_rows``
    [, ``n_tokens``], ``checksum)``. The checksum is the exact sum of
    per-row 48-bit md5 hashes (decimal accumulation — no overflow, no
    wraparound) mod 2^48: ORDER-INDEPENDENT (sum commutes, so any
    partitioning/task order produces the same value) but
    duplicate-SENSITIVE (unlike an xor fold, a row appearing twice
    changes the sum — dropped+duplicated rows can't cancel out).
    ``checksum_cols`` defaults to every column except the shard column;
    pass an explicit list to pin the manifest against schema evolution.

    Plan shape: one map-side-combined aggregate keyed by shard —
    #shards output rows, no window, no driver state. The same
    (md5 → sum → mod) fold is replayable in SQL, so manifests written
    by this engine are verifiable by any other (DuckDB parity in
    tests/test_layout.py).
    """
    # sorted: a partitioned re-read reorders columns (partition col last),
    # and the checksum must not depend on projection order
    cols = checksum_cols or sorted(c for c in df.columns if c != shard_col)
    if not cols:
        raise ValueError("no checksum columns (frame is only the shard col)")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if token_col is not None:
        aggs.append(F.sum(F.col(token_col)).cast("long").alias("n_tokens"))
    aggs.append(
        (F.sum(_row_hash48(cols).cast("decimal(38,0)"))
         % F.lit(_CKSUM_MOD)).cast("long").alias("checksum"))
    return df.groupBy(F.col(shard_col).alias("shard")).agg(*aggs)


def export_training_shards(
    df: DataFrame,
    path: str,
    *,
    shard_col: str = "shard",
    token_col: str | None = None,
    checksum_cols: list[str] | None = None,
    target_mb: int = 256,
    mode: str = "overwrite",
) -> DataFrame:
    """Write a packed training set as shard-partitioned, size-bounded
    parquet PLUS a manifest the written data can later be verified
    against: ``<path>/data/shard=N/...`` via ``write_sized_parquet``
    (no small-files explosion, no unsplittable giants) and
    ``<path>/manifest`` holding the ``shard_manifest`` frame computed
    from the INPUT. Returns the manifest as read back from disk.

    The manifest is the export's receipt: row counts, token totals and
    content checksums per shard, written once next to the data —
    ``verify_shards`` recomputes the same folds from the written files
    and diffs. ``checksum_cols`` defaults to all non-shard columns AT
    EXPORT TIME; exports meant to survive schema evolution should pin
    the list explicitly (the manifest stores no column list).
    """
    man = shard_manifest(df, shard_col, token_col=token_col,
                         checksum_cols=checksum_cols)
    write_sized_parquet(df, f"{path}/data", target_mb=target_mb,
                        partition_by=[shard_col], mode=mode)
    man.coalesce(1).write.mode(mode).parquet(f"{path}/manifest")
    return df.sparkSession.read.parquet(f"{path}/manifest")


def verify_shards(
    spark,
    path: str,
    *,
    shard_col: str = "shard",
    token_col: str | None = None,
    checksum_cols: list[str] | None = None,
) -> DataFrame:
    """Integrity check of an ``export_training_shards`` directory:
    re-read ``<path>/data``, recompute the per-shard manifest with the
    SAME parameters as the export, and full-outer diff against the
    stored ``<path>/manifest``. Returns one row per shard:
    (``shard``, ``status``, stored/actual counts and checksums) with
    ``status`` ∈ ``ok`` / ``mismatch`` (any stored≠actual field) /
    ``missing`` (in manifest, no data) / ``unexpected`` (data, no
    manifest entry). An empty ``where status != 'ok'`` is the pass
    condition — cheap enough to run after every export (two scans of
    the export, one #shards-row join).
    """
    stored = spark.read.parquet(f"{path}/manifest")
    data = spark.read.parquet(f"{path}/data")
    actual = shard_manifest(data, shard_col, token_col=token_col,
                            checksum_cols=checksum_cols)
    cmp_cols = [c for c in stored.columns if c != "shard"]
    s = stored.select(
        "shard", *[F.col(c).alias(f"stored_{c}") for c in cmp_cols])
    a = actual.select(
        "shard", *[F.col(c).alias(f"actual_{c}") for c in cmp_cols])
    joined = s.join(a, "shard", "full_outer")
    mismatch = F.lit(False)
    for c in cmp_cols:
        mismatch = mismatch | ~F.col(f"stored_{c}").eqNullSafe(
            F.col(f"actual_{c}"))
    status = (
        F.when(F.col("stored_n_rows").isNull(), F.lit("unexpected"))
        .when(F.col("actual_n_rows").isNull(), F.lit("missing"))
        .when(mismatch, F.lit("mismatch"))
        .otherwise(F.lit("ok")))
    return joined.select("shard", status.alias("status"),
                         *[f"stored_{c}" for c in cmp_cols],
                         *[f"actual_{c}" for c in cmp_cols])


def refresh_shards(
    new_df: DataFrame,
    diff: DataFrame,
    path: str,
    n_shards: int,
    *,
    seed: int = 0,
    id_col: str = "doc_id",
    shard_col: str = "shard",
    token_col: str | None = None,
    checksum_cols: list[str] | None = None,
    target_mb: int = 256,
) -> int:
    """Diff-driven incremental re-export: given the NEW corpus snapshot
    and a ``dedup.snapshot_diff`` against the previously exported one,
    rewrite ONLY the shard partitions that contain added / changed /
    removed documents and patch the manifest to match — never a full
    re-export. The sharded-training-set leg of the incremental story
    next to ``ann_index.apply_diff_to_index`` (index cells).

    Requires the export to have been sharded by the stable document key
    (``assign_shards(..., id_cols=[id_col], seed=seed)``): because the
    shard is then a PURE FUNCTION of the id, affected shards are
    computed map-only from the diff frame itself — no scan of the
    existing export to locate victims (cheaper than the index case,
    where ids had to be looked up). Content-keyed sharding would move a
    document between shards on every edit and is exactly what this
    refuses to support.

    Affected shards are rebuilt WHOLLY from ``new_df`` (the snapshot is
    the source of truth — survivors and incoming rows come from the same
    scan, so replaying a diff converges: idempotent like the index
    apply). An affected shard with no remaining rows is DELETED
    (dynamic partition overwrite skips empty partitions, which would
    leave stale files behind a vanished manifest row). Pass the same
    ``token_col`` / ``checksum_cols`` / ``target_mb`` as the original
    export — the manifest stores no parameters (``verify_shards``
    contract).

    Plan shape: one map-only pass over the diff (#affected-shards
    distinct), one pruned scan of ``new_df`` filtered to affected shards
    before its single repartition-by-shard exchange, one dynamic
    partition overwrite, and a #shards-row manifest merge. Unaffected
    shard partitions keep their files byte-identical; manifest equality
    with a fresh full export is pinned in tests/test_layout.py.

    Returns the number of rewritten (incl. deleted) shard partitions.
    """
    spark = new_df.sparkSession
    known = ("added", "changed", "removed", "unchanged")
    unknown = [r["status"] for r in diff.select("status").distinct()
               .collect() if r["status"] not in known]
    if unknown:
        raise ValueError(
            f"refresh_shards: unexpected diff status(es) {unknown!r}; "
            f"expected snapshot_diff output with statuses in {known}")
    active = diff.where(F.col("status").isin("added", "changed", "removed"))
    h_diff = _row_hash48([id_col], salt=f"shard:{seed}")
    affected = sorted(r["s"] for r in active.select(
        F.pmod(h_diff, F.lit(n_shards)).cast("int").alias("s"))
        .distinct().collect())
    if not affected:
        return 0

    h_new = _row_hash48([id_col], salt=f"shard:{seed}")
    rewrite = (new_df
               .withColumn(shard_col,
                           F.pmod(h_new, F.lit(n_shards)).cast("int"))
               .where(F.col(shard_col).isin(affected))
               .repartition(min(n_shards, len(affected)), F.col(shard_col))
               .sortWithinPartitions(F.col(shard_col), h_new))
    # materialize BEFORE any overwrite: self-overwrite hazard (the
    # manifest merge below reads the directory the write replaces), and
    # the frame is read twice (data write + manifest recompute)
    rewrite = _materialize(rewrite, reason="refresh_shards.rewrite")

    new_man = shard_manifest(rewrite, shard_col, token_col=token_col,
                             checksum_cols=checksum_cols)
    stored = spark.read.parquet(f"{path}/manifest")
    merged = _materialize(
        stored.where(~F.col("shard").isin(affected)).unionByName(new_man),
        reason="refresh_shards.manifest")

    write_sized_parquet(rewrite, f"{path}/data", target_mb=target_mb,
                        partition_by=[shard_col], mode="overwrite",
                        dynamic_overwrite=True)
    # an affected shard that emptied out would keep its stale files with
    # no manifest row
    drop_emptied_partitions(
        spark, f"{path}/data", shard_col, affected,
        {r["shard"] for r in new_man.select("shard").collect()})

    merged.coalesce(1).write.mode("overwrite").parquet(f"{path}/manifest")
    return len(affected)


def compact_shards(
    spark,
    path: str,
    *,
    shard_col: str = "shard",
    target_mb: int = 256,
    order_by: list[str] | None = None,
    compression_ratio: float = 4.0,
) -> int:
    """Small-file compaction of an ``export_training_shards`` directory:
    rewrite ONLY the shard partitions whose file count exceeds what
    ``target_mb`` sizing needs, leaving every other partition's files
    byte-untouched. Repeated ``refresh_shards`` passes and streaming
    appends accrete small files; at 100 TB that is listing pressure,
    read amplification, and scheduler overhead — and the fix must not
    become a full rewrite of a mostly-healthy table.

    A partition is compacted when ``n_files > max(1,
    ceil(total_bytes / target_mb))`` — i.e. the data demonstrably fits
    in fewer files at the target size. Content is preserved exactly
    (the stored manifest keeps verifying: its checksum fold is
    order-independent), but intra-shard FILE ORDER is not unless
    ``order_by`` re-establishes it — exports that must preserve a
    training order should persist their shuffle key
    (``assign_shards(key_col=...)``) and pass it here.

    Plan shape: one driver-side directory listing (bounded by the shard
    count — partition dirs, not data files, drive the loop), one pruned
    scan of the affected partitions (partition pruning keeps healthy
    shards unread), one repartition-by-shard exchange over affected
    rows only, one dynamic partition overwrite. The affected frame is
    eagerly checkpointed before the overwrite (self-overwrite hazard:
    the write replaces the files the plan reads — the
    ``refresh_shards`` precedent).

    Returns the number of compacted partitions (0 = nothing to do).
    """
    if target_mb < 1:
        raise ValueError("target_mb must be >= 1")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    data_path = jvm.org.apache.hadoop.fs.Path(f"{path}/data")
    fs = data_path.getFileSystem(hconf)
    target_bytes = target_mb * (1 << 20)
    affected = []
    for st in fs.listStatus(data_path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(f"{shard_col}=")):
            continue
        files = [f for f in fs.listStatus(st.getPath())
                 if f.isFile() and not f.getPath().getName()
                 .startswith((".", "_"))]
        n = len(files)
        total = sum(f.getLen() for f in files)
        needed = max(1, -(-total // target_bytes))  # ceil
        if n > needed:
            affected.append(int(name.split("=", 1)[1]))
    if not affected:
        return 0
    affected.sort()

    rewrite = (
        spark.read.parquet(f"{path}/data")
        .where(F.col(shard_col).isin(affected))
        .repartition(len(affected), F.col(shard_col)))
    if order_by:
        rewrite = rewrite.sortWithinPartitions(
            F.col(shard_col), *[F.col(c) for c in order_by])
    rewrite = _materialize(rewrite, reason="compact_shards.rewrite")

    write_sized_parquet(rewrite, f"{path}/data", target_mb=target_mb,
                        partition_by=[shard_col], mode="overwrite",
                        compression_ratio=compression_ratio,
                        dynamic_overwrite=True)
    return len(affected)
