"""Streaming sketch maintenance — per-micro-batch HLL / Misra–Gries /
KLL / bottom-k profiles folded into a persisted store, so "distinct
urls so far", "top domains so far", "p99 doc length so far", and "what
does this stream share with release N" are a kilobyte parquet read at
any point in a stream's life, never a corpus rescan.

Same ``foreachBatch``-plus-store shape as ``minhash_stream``, on the
generational store protocol of ``_store``: each micro-batch writes its
own ``hll_profile`` / ``mg_profile`` under ``batch_id=N`` (overwrite ⇒
at-least-once replay is a no-op), and the store's current value is the
MERGE of the newest complete compacted generation plus the live batch
directories. Compaction (``compact_every=C``) folds the current state
into one merged profile generation (a folded generation: no
``batch_id`` column) — for HLL the fold is register-wise max (fully
associative AND idempotent, so stream-final state equals the one-shot
batch profile of everything ingested, exactly — pinned); for MG the
fold is the mergeable-summaries merge (guarantees compose; fold
GROUPING may change which near-threshold keys survive, so the pins are
the containment / completeness guarantees plus exact equality in the
uncompacted case).

Batch jobs share the store through ``sketch_ingest`` (the
``minhash_increment`` pattern): a scheduled daily profiling job and a
streaming monitor can feed the same store interchangeably.

At 100 TB: per-batch cost is the batch scan plus bounded aggregates
(≤ m rows per column for HLL, ≤ k+1 per column for MG); store size is
O(one generation + C live batches) of kilobyte frames; readers never
touch document data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..functions.sketch import (
    _merge_mg_union, bottomk_profile, hll_profile, kll_profile,
    merge_bottomk, merge_hll, merge_kll, mg_profile,
)
from ._drain import batch_sink, drain
from ._store import (batch_path, bound_state, load_meta, next_batch_id,
                     read_component, write_meta)

__all__ = ["bottomk_sketch_store", "hll_sketch_store",
           "kll_sketch_store", "mg_sketch_store",
           "run_sketch_stream_on_dir", "sketch_ingest"]

_HLL_DDL = "column string, p int, reg bigint, rho int"
_MG_DDL = "column string, key string, cnt bigint, off bigint, n bigint"
_KLL_DDL = ("column string, level int, item double, cnt bigint, "
            "n bigint, err bigint")
_BK_DDL = "column string, h bigint, key string"
_COMPONENTS = ("hll", "mg", "kll", "bk")


def _ensure_meta(store_dir: str, p: int, mg_k: int,
                 kll_k: int | None = None,
                 bk_k: int | None = None,
                 group_ddl: str = "") -> None:
    """Persist the store's sketch parameters on first ingest and raise
    on any later mismatch. HLL's ``p`` is self-describing via the ``p``
    column, but ``mg_k``/``kll_k``/``bk_k`` are NOT recoverable from
    their frames — a reader or compactor folding with a different k
    would silently loosen the stated guarantee, so the store carries
    them. A store created before its first KLL/bottom-k ingest gains
    that key then (additive; never overwritten afterwards)."""
    meta = load_meta(store_dir)
    if meta is None:
        meta = {"p": p, "mg_k": mg_k, "group_ddl": group_ddl}
        if kll_k is not None:
            meta["kll_k"] = kll_k
        if bk_k is not None:
            meta["bk_k"] = bk_k
        write_meta(store_dir, meta)
        return
    if meta.get("p") != p or meta.get("mg_k") != mg_k:
        raise ValueError(
            f"sketch store {store_dir} was created with p={meta.get('p')} "
            f"mg_k={meta.get('mg_k')}; got p={p} mg_k={mg_k} — mixed "
            "parameters would corrupt the store's guarantees")
    if meta.get("group_ddl", "") != group_ddl:
        raise ValueError(
            f"sketch store {store_dir} was created with group columns "
            f"[{meta.get('group_ddl', '')}]; got [{group_ddl}] — grouped "
            "and ungrouped frames cannot share a store")
    changed = False
    for key, val in (("kll_k", kll_k), ("bk_k", bk_k)):
        if val is None:
            continue
        if key not in meta:
            meta[key] = val
            changed = True
        elif meta[key] != val:
            raise ValueError(
                f"sketch store {store_dir} holds {key}={meta[key]} "
                f"profiles; got {key}={val}")
    if changed:
        write_meta(store_dir, meta)


def sketch_ingest(
    spark: SparkSession,
    df: DataFrame,
    store_dir: str,
    cols: list[str],
    *,
    num_cols: list[str] | None = None,
    bk_cols: list[str] | None = None,
    group_cols: list[str] | None = None,
    batch_id: int | None = None,
    p: int = 12,
    mg_k: int = 64,
    kll_k: int = 256,
    bk_k: int = 256,
    compact_every: int | None = None,
) -> None:
    """Profile one increment (a day's shard, one micro-batch) and land
    it in the sketch store under its ``batch_id`` directory — shared by
    the stream handle and scheduled batch jobs. Explicit ``batch_id``
    re-ingest is an idempotent replay (overwrite). ``p``/``mg_k``/
    ``kll_k`` are persisted in the store's ``_sketch_meta.json`` on
    first ingest and ENFORCED thereafter — a mismatched ingest or read
    raises instead of silently loosening a guarantee / corrupting the
    HLL merge.

    ``num_cols`` adds the quantile leg: a mergeable KLL profile
    (``sketch.kll_profile``) of each NUMERIC column per batch — "p99
    doc length so far" from ``kll_sketch_store`` at any point in the
    stream's life. ``bk_cols`` adds the set-sample leg: a bottom-k
    (KMV) coordinated sample per batch — release-overlap Jaccard and
    inspectable value samples from ``bottomk_sketch_store`` (the
    canonical merge means the stream state EQUALS the one-shot batch
    sketch, like HLL). Every ingest into one store must pass the same
    ``num_cols``/``bk_cols`` policy (a batch without a component would
    silently under-count the folded state; consistency is the caller's
    contract, like ``cols``).

    ``group_cols`` keeps every component's sketch PER GROUP ("top urls
    per domain so far", "p99 length per source") — the grouped-profile
    convention of functions/sketch.py carried through the store: group
    keys become frame columns, the folds key on them automatically, and
    the group-column DDL is persisted in the manifest so readers pin
    the full schema (grouped and ungrouped frames cannot share a
    store)."""
    group_cols = list(group_cols or [])
    group_ddl = ", ".join(
        f"`{c}` {df.schema[c].dataType.simpleString()}"
        for c in group_cols)
    _ensure_meta(store_dir, p, mg_k,
                 kll_k if num_cols is not None else None,
                 bk_k if bk_cols is not None else None,
                 group_ddl=group_ddl)
    if batch_id is None:
        batch_id = next_batch_id(store_dir, _COMPONENTS)
    profiles = {
        "hll": hll_profile(df, cols, p=p, group_cols=group_cols),
        "mg": mg_profile(df, cols, k=mg_k, group_cols=group_cols),
    }
    folds = {"hll": lambda u: merge_hll([u]),
             "mg": lambda u: _merge_mg_union(u, mg_k)}
    if num_cols is not None:
        profiles["kll"] = kll_profile(df, num_cols, k=kll_k,
                                      group_cols=group_cols)
        folds["kll"] = lambda u: merge_kll([u], k=kll_k)
    if bk_cols is not None:
        profiles["bk"] = bottomk_profile(df, bk_cols, k=bk_k,
                                         group_cols=group_cols)
        folds["bk"] = lambda u: merge_bottomk([u], k=bk_k)
    for name, prof in profiles.items():
        prof.write.mode("overwrite").parquet(
            batch_path(store_dir, name, batch_id))
    # fold the current state into one merged-profile generation per
    # component every compact_every batches
    bound_state(spark, store_dir, batch_id,
                {name: _schema(store_dir, name) for name in folds},
                compact_every=compact_every, folds=folds)


def _schema(store_dir: str, name: str) -> StructType:
    """The component's FULL data schema, persisted group columns
    included."""
    base = {"hll": _HLL_DDL, "mg": _MG_DDL, "kll": _KLL_DDL,
            "bk": _BK_DDL}[name]
    gddl = (load_meta(store_dir) or {}).get("group_ddl", "")
    return StructType.fromDDL(f"{gddl}, {base}" if gddl else base)


def _merged(spark: SparkSession, store_dir: str, name: str,
            merge) -> DataFrame:
    """``merge`` of one component's current state (newest generation ∪
    newer live batches); an empty frame typed with the store's full
    schema when the component holds nothing, so empties union/join with
    downstream frames."""
    schema = _schema(store_dir, name)
    cur = read_component(spark, store_dir, name, schema, folded=True)
    if cur is None:
        return spark.createDataFrame([], schema)
    return merge(cur.drop("batch_id"))


def hll_sketch_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Current merged HLL profile — feed to ``sketch.hll_estimate``.
    Empty store returns an empty typed frame."""
    return _merged(spark, store_dir, "hll", lambda u: merge_hll([u]))


def mg_sketch_store(
    spark: SparkSession, store_dir: str, *, k: int | None = None,
) -> DataFrame:
    """Current merged Misra–Gries profile. ``k`` defaults to the store's
    persisted ``mg_k`` (an explicit ``k`` is validated against it —
    re-compressing with a different k would silently change the stated
    guarantee). Empty store returns an empty typed frame."""
    meta = load_meta(store_dir)
    if meta is not None:
        if k is not None and k != meta["mg_k"]:
            raise ValueError(
                f"store {store_dir} holds mg_k={meta['mg_k']} profiles; "
                f"k={k} would change the MG guarantee")
        k = meta["mg_k"]
    elif k is None:
        k = 64
    return _merged(spark, store_dir, "mg",
                   lambda u: _merge_mg_union(u, k))


def kll_sketch_store(
    spark: SparkSession, store_dir: str, *, k: int | None = None,
) -> DataFrame:
    """Current merged KLL quantile profile — feed to
    ``sketch.kll_quantiles`` / ``kll_ranks`` /
    ``checks.verify_quantile_profile``. ``k`` defaults to the store's
    persisted ``kll_k`` (an explicit ``k`` is validated against it).
    Empty store (or one ingested without ``num_cols``) returns an
    empty typed frame."""
    meta = load_meta(store_dir)
    if meta is not None and "kll_k" in meta:
        if k is not None and k != meta["kll_k"]:
            raise ValueError(
                f"store {store_dir} holds kll_k={meta['kll_k']} profiles; "
                f"k={k} would change the rank-error guarantee")
        k = meta["kll_k"]
    elif k is None:
        k = 256
    return _merged(spark, store_dir, "kll", lambda u: merge_kll([u], k=k))


def bottomk_sketch_store(
    spark: SparkSession, store_dir: str, *, k: int | None = None,
) -> DataFrame:
    """Current merged bottom-k sample — feed to
    ``sketch.bottomk_jaccard`` / ``bottomk_estimate``. The canonical
    merge means this EQUALS the one-shot batch sketch of everything
    ingested (the HLL-grade exactness pin). ``k`` defaults to the
    store's persisted ``bk_k``. Empty store (or one ingested without
    ``bk_cols``) returns an empty typed frame."""
    meta = load_meta(store_dir)
    if meta is not None and "bk_k" in meta:
        if k is not None and k != meta["bk_k"]:
            raise ValueError(
                f"store {store_dir} holds bk_k={meta['bk_k']} samples; "
                f"k={k} would change the sample contract")
        k = meta["bk_k"]
    elif k is None:
        k = 256
    return _merged(spark, store_dir, "bk",
                   lambda u: merge_bottomk([u], k=k))


def run_sketch_stream_on_dir(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_path: str,
    cols: list[str],
    *,
    num_cols: list[str] | None = None,
    bk_cols: list[str] | None = None,
    group_cols: list[str] | None = None,
    p: int = 12,
    mg_k: int = 64,
    kll_k: int = 256,
    bk_k: int = 256,
    compact_every: int | None = None,
    schema=None,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain parquet files from ``input_dir`` (``_drain.drain``,
    availableNow) through the sketch store: one ``sketch_ingest`` per
    micro-batch. Read results with ``hll_sketch_store`` /
    ``mg_sketch_store`` / ``kll_sketch_store`` / ``bottomk_sketch_store`` (+
    ``sketch.hll_estimate`` / ``kll_quantiles`` / ``bottomk_jaccard``).
    ``num_cols`` adds the KLL quantile leg; ``bk_cols`` the bottom-k
    set-sample leg."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sketch_ingest(spark, batch_df, store_dir, cols,
                      num_cols=num_cols, bk_cols=bk_cols,
                      group_cols=group_cols, batch_id=batch_id, p=p,
                      mg_k=mg_k, kll_k=kll_k, bk_k=bk_k,
                      compact_every=compact_every)

    drain(spark, input_dir,
          lambda s: batch_sink(s, handle, checkpoint=checkpoint_path),
          schema=schema, max_files_per_trigger=max_files_per_trigger)
