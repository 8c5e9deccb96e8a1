"""The generational store protocol behind the incremental dedup and
sketch operators (``minhash_stream``, ``dhash_stream``, ``media_stream``,
``semantic_stream``, ``sketch_stream``).

Layout of one store, per component ``<name>``:

* ``<store>/<name>/batch_id=N`` — LIVE directories, one per ingested
  micro-batch. Every write overwrites its own ``batch_id=N`` directory,
  so an at-least-once replay of a batch rewrites identical files instead
  of appending duplicates (effectively-once by idempotence).
* ``<store>/compacted/<name>/gen=N`` — a GENERATION: the component's
  state folded up to and including batch ``N``. It counts only once it
  is COMPLETE, i.e. holds Spark's ``_SUCCESS`` marker and a
  ``_folded.json`` manifest recording the highest live ``batch_id`` it
  absorbed.

The match step of the dedup stores (``match_batch``): each micro-batch
is matched against the store's history in one fixed order.

1. WRITE FIRST: the batch's rows go to their live ``batch_id=N``
   directory before anything is read, so a replayed batch reads the
   store contents the crashed attempt saw, and pairs inside one batch
   resolve through the store read.
2. BROADCAST THE NEW SIDE: the store's in-horizon rows are joined with
   the re-read new rows under ``F.broadcast``, so the store is scanned
   (and pruned by its partition column, the first join column), never
   shuffled.
3. DROP SELF-MATCHES and ORDER THE IDS: a row never matches itself and
   every pair comes out as ``id_a = least``, ``id_b = greatest``, so the
   two orientations of a same-batch pair collapse under the caller's
   DISTINCT or aggregate.

State is bounded, not append-forever:

* ``retention_batches=H`` evicts state older than the horizon after
  every batch: live directories with ``batch_id < current - H + 1`` are
  dropped and generation rows older than it are filtered on read (a row
  store's generation carries ``batch_id`` as a data column for this) and
  physically dropped at the next rewrite.
* ``compact_every=C`` folds the surviving state into one generation
  every C batches, so the file count stays O(C + 1 generation) instead
  of one directory (and its task-count many files) per micro-batch
  forever.

Generation kinds. A ROW generation (dedup stores) holds the in-horizon
rows themselves, ``batch_id`` included. A FOLDED generation (sketch
store) holds one merged profile with no ``batch_id`` column; readers
attach the fold point as its ``batch_id``.

Crash safety without atomic directory rename: a generation is published
by writing its parquet, then its manifest, then dropping the live
directories it absorbed and every older generation. Readers take the
newest COMPLETE generation and only read live directories NEWER than its
fold point, so a crash anywhere in that sequence may double-store but
never double-reads: a generation with no manifest is ignored (and
rewritten on replay), and a crash after the manifest leaves only stale
files that the replay's publish (which skips the write of a complete
generation) or the next sweep deletes. The JSON files (the manifest and
the store's ``_sketch_meta.json``) are written to a ``_``-prefixed temp
file, fsynced and renamed into place, so a crash leaves the old file or
the new one, never a torn one.

Reads pin an explicit schema: partition type inference would type an
all-digit partition value (a hex bucket prefix, say) as int and silently
drift a join key's type.

Every filesystem call of the protocol is in this module and uses the
local filesystem (``os``/``glob``/``shutil``): listing live directories
and generations, the manifests, the sketch store's
``_sketch_meta.json``, and the deletes of publish and sweep. On a real
cluster the store lives on an object store or DFS, and these calls would
go through that filesystem's client; the layout and manifest protocol
are filesystem-agnostic.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def batch_path(store_dir: str, name: str, batch_id: int) -> str:
    """The live directory of one component's batch."""
    return f"{store_dir}/{name}/batch_id={batch_id}"


def _gen_dir(store_dir: str, name: str) -> str:
    return f"{store_dir}/compacted/{name}"


def _dir_ids(pattern: str) -> list[tuple[int, str]]:
    """Sorted (N, path) of the ``key=N`` directories matching ``pattern``."""
    return sorted(
        (int(os.path.basename(p).split("=", 1)[1]), p)
        for p in glob.glob(pattern) if os.path.isdir(p))


def live_batch_ids(store_dir: str, name: str) -> list[int]:
    """Sorted batch ids of a component's live directories."""
    return [b for b, _ in _dir_ids(f"{store_dir}/{name}/batch_id=*")]


def _complete(gen_path: str) -> bool:
    return (os.path.isfile(f"{gen_path}/_SUCCESS")
            and os.path.isfile(f"{gen_path}/_folded.json"))


def latest_gen(store_dir: str, name: str) -> tuple[str | None, int]:
    """Newest COMPLETE generation of a component and the highest live
    batch_id folded into it; (None, -1) when there is none."""
    for _, path in reversed(_dir_ids(f"{_gen_dir(store_dir, name)}/gen=*")):
        if _complete(path):
            with open(f"{path}/_folded.json") as f:
                return path, int(json.load(f)["max_folded"])
    return None, -1


def next_batch_id(store_dir: str, names: tuple[str, ...]) -> int:
    """One past the highest batch id any component has ingested (live
    directories and generation fold points both count)."""
    last = -1
    for name in names:
        last = max([last, latest_gen(store_dir, name)[1],
                    *live_batch_ids(store_dir, name)])
    return last + 1


def horizon(batch_id: int, retention_batches: int | None) -> int | None:
    """Oldest batch id still inside the retention horizon (None: keep
    everything)."""
    if retention_batches is None:
        return None
    return batch_id - retention_batches + 1


def _with_batch_id(schema: StructType) -> StructType:
    return StructType(list(schema.fields)
                      + [StructField("batch_id", LongType())])


def _reader(spark: SparkSession, schema: StructType | None):
    r = spark.read
    return r.schema(schema) if schema is not None else r


def read_component(
    spark: SparkSession,
    store_dir: str,
    name: str,
    schema: StructType | None,
    min_live: int | None = None,
    *,
    folded: bool = False,
) -> DataFrame | None:
    """Current state of one component: newest complete generation ∪ live
    directories newer than its fold point, with a ``batch_id`` column
    and rows older than ``min_live`` filtered out. ``schema`` holds the
    data columns (partition columns included, ``batch_id`` appended
    here) and is pinned on every read; None reads the files' own schema.
    ``folded=True`` reads a folded generation (no ``batch_id`` column;
    its fold point is attached). Returns None while the component holds
    nothing."""
    live_dir = f"{store_dir}/{name}"
    gen_path, upto = latest_gen(store_dir, name)
    full = _with_batch_id(schema) if schema is not None else None
    parts: list[DataFrame] = []
    if gen_path is not None:
        if folded:
            parts.append(_reader(spark, schema).parquet(gen_path)
                         .withColumn("batch_id", F.lit(upto)))
        else:
            parts.append(_reader(spark, full).parquet(gen_path))
    if [b for b in live_batch_ids(store_dir, name) if b > upto]:
        live = (_reader(spark, full).parquet(live_dir)
                .where(F.col("batch_id") > upto))
        if full is None:
            live = live.withColumn(
                "batch_id", F.col("batch_id").cast("long"))
        parts.append(live)
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if min_live is not None:
        out = out.where(F.col("batch_id") >= min_live)
    return out


def match_batch(
    spark: SparkSession,
    store_dir: str,
    name: str,
    batch_id: int,
    rows: DataFrame,
    schema: StructType,
    on: Sequence[str],
    id_col: str,
    min_live: int | None,
    cols: Sequence[Column] = (),
) -> DataFrame:
    """The match step of a dedup store (module docstring): write
    ``rows``, the batch's shaped rows, to ``<name>/batch_id=<batch_id>``
    partitioned by ``on[0]``; join the component's in-horizon store
    (alias ``s``, read with ``schema``) with the re-read new rows (alias
    ``n``, broadcast) on ``on``; drop self-matches. Returns ``id_a`` =
    least and ``id_b`` = greatest of the two ``id_col`` values, then
    ``cols`` (expressions over ``s`` and ``n``)."""
    path = batch_path(store_dir, name, batch_id)
    rows.write.mode("overwrite").partitionBy(on[0]).parquet(path)
    store = read_component(spark, store_dir, name, schema, min_live)
    new = spark.read.schema(schema).parquet(path)
    s, n = f"s.{id_col}", f"n.{id_col}"
    return (
        store.alias("s").join(F.broadcast(new.alias("n")), list(on))
        .where(F.col(s) != F.col(n))
        .select(F.least(s, n).alias("id_a"),
                F.greatest(s, n).alias("id_b"), *cols))


def _write_json(path: str, obj: dict) -> None:
    """Write ``obj`` to ``path`` through a ``_``-prefixed temp file in
    the same directory (Spark skips ``_`` files when it reads a
    generation), fsynced, then renamed over ``path``."""
    head, tail = os.path.split(path)
    tmp = f"{head}/_{tail}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _write_manifest(gen_path: str, upto: int) -> None:
    _write_json(f"{gen_path}/_folded.json", {"max_folded": upto})


def load_meta(store_dir: str) -> dict | None:
    """The store's ``_sketch_meta.json`` parameters; None before the
    first write."""
    path = f"{store_dir}/_sketch_meta.json"
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def write_meta(store_dir: str, meta: dict) -> None:
    os.makedirs(store_dir, exist_ok=True)
    _write_json(f"{store_dir}/_sketch_meta.json", meta)


def publish_gen(
    store_dir: str,
    name: str,
    upto: int,
    build: Callable[[], DataFrame | None],
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Publish ``compacted/<name>/gen=<upto>``: write ``build()``'s frame
    (skipped when that generation is already complete — a replay after a
    crash past its manifest — or when ``build`` returns None), stamp the
    manifest, then drop the live directories ≤ ``upto`` and every other
    generation. The caller shapes the frame's partitioning."""
    gen_path = f"{_gen_dir(store_dir, name)}/gen={upto}"
    if not _complete(gen_path):
        out = build()
        if out is None:
            return
        w = out.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(gen_path)
        _write_manifest(gen_path, upto)
    for b in live_batch_ids(store_dir, name):
        if b <= upto:
            shutil.rmtree(batch_path(store_dir, name, b), ignore_errors=True)
    for _, p in _dir_ids(f"{_gen_dir(store_dir, name)}/gen=*"):
        if p != gen_path:
            shutil.rmtree(p, ignore_errors=True)


def sweep_live(store_dir: str, names: tuple[str, ...], min_live: int) -> None:
    """Drop live directories older than the retention horizon or already
    folded into a complete generation."""
    for name in names:
        cut = max(min_live - 1, latest_gen(store_dir, name)[1])
        for b in live_batch_ids(store_dir, name):
            if b <= cut:
                shutil.rmtree(batch_path(store_dir, name, b),
                              ignore_errors=True)


def bound_state(
    spark: SparkSession,
    store_dir: str,
    batch_id: int,
    schemas: Mapping[str, StructType],
    *,
    min_live: int | None = None,
    compact_every: int | None = None,
    partition_cols: Mapping[str, tuple[str, ...]] | None = None,
    folds: Mapping[str, Callable[[DataFrame], DataFrame]] | None = None,
) -> bool:
    """The per-batch tail of every store: retention sweep, then — every
    ``compact_every`` batches — one generation per component in
    ``schemas``. A row generation is the in-horizon rows, repartitioned
    by the component's ``partition_cols`` (else across
    ``defaultParallelism`` writers, never coalesce(1): the generation
    holds the whole in-horizon component, and one task would stall the
    stream on exactly the long-running corpora compaction exists for). A
    component in ``folds`` gets a folded generation instead:
    ``fold(current state without batch_id)`` in one file. Returns
    whether this batch compacted."""
    if min_live is not None:
        sweep_live(store_dir, tuple(schemas), min_live)
    if compact_every is None or (batch_id + 1) % compact_every:
        return False
    partition_cols = partition_cols or {}
    folds = folds or {}
    for name, schema in schemas.items():
        cols = partition_cols.get(name, ())
        fold = folds.get(name)

        def build(name=name, schema=schema, cols=cols, fold=fold):
            cur = read_component(spark, store_dir, name, schema, min_live,
                                 folded=fold is not None)
            if cur is None:
                return None
            if fold is not None:
                return fold(cur.drop("batch_id")).coalesce(1)
            if cols:
                return cur.repartition(*cols)
            return cur.repartition(spark.sparkContext.defaultParallelism)

        publish_gen(store_dir, name, batch_id, build, cols)
    return True
