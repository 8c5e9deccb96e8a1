"""Streaming NEAR-duplicate (MinHash) dedup — the incremental store path.

``dedup_stream`` covers exact duplicates; a crawl-shaped stream is full of
NEAR-duplicates, and finding them incrementally needs candidate generation
against everything seen so far — a stream×history self-join that pure
streaming operators cannot express (the history side must be re-readable
per batch and the verification needs old documents' shingle sets). This is
therefore the ``foreachBatch``-against-a-persisted-index shape, the same
pattern as ``functions.ann_index.serve_ivfpq_stream``:

per micro-batch of new documents
  1. band-bucket the batch (``dedup.minhash_band_buckets`` — the SAME
     bucket definition as the batch operator), shingle it, and match its
     buckets against the bucket store through ``_store.match_batch``
     (write first, broadcast the new side, drop self-matches, order the
     ids) — candidates are exactly the pairs with ≥1 shared band bucket
     and at least one new member;
  2. exact-verify candidates' Jaccard from the shingle store
     (``dedup.verify_jaccard_pairs`` — the same verification stage as the
     batch operator) and write the surviving pairs to ``batch_id=N``.

Why the final state equals the batch ``minhash_lsh_pairs`` exactly: every
qualifying pair shares a band bucket; the pair is discovered in the batch
where its LATER member arrives (the earlier member is then in the store,
and a same-batch pair finds itself through the just-written store rows),
and can never be rediscovered (candidates always include a new member).
Verification and rounding are the shared batch code, so values match
hash-for-hash — pinned in tests/test_streaming.py and value-hash checked
against the batch DuckDB oracle by the ``minhash_stream`` contract query.

Delivery: foreachBatch is AT-LEAST-ONCE; every write (buckets, shingles,
pairs) overwrites its own ``batch_id=N`` directory and the store is
written before it is read (``_store``), so a replayed batch rewrites
identical files and reads what the crashed attempt read; DISTINCT drops
the mirror matches.

State at 100 TB is the corpus' band buckets (bands rows/doc) and shingle
sets — O(in-horizon corpus) — bounded by ``retention_batches`` (a pair
whose discovery batch left the horizon references evicted documents and
is evicted with them) and ``compact_every``, under the generational
store protocol of ``_store`` (layout, manifests, crash safety).

The bucket store is partitioned by a bucket prefix (``pfx``, written
here) so the broadcast join's dynamic partition pruning can skip store
files whose prefixes the batch does not touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DoubleType, StructField, StructType

from ..functions.dedup import (
    minhash_band_buckets, verify_jaccard_pairs, word_shingles,
)
from ._drain import batch_sink, drain
from ._store import (batch_path, bound_state, horizon, latest_gen,
                     match_batch, next_batch_id, publish_gen, read_component)

_COMPONENTS = ("buckets", "shingles", "pairs")


def _pair_schema(id_type: DataType) -> StructType:
    return StructType([
        StructField("id_a", id_type),
        StructField("id_b", id_type),
        StructField("jaccard", DoubleType()),
    ])


def _ingest_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    retention_batches: int | None,
    compact_every: int | None,
    materialize_groups: bool,
) -> None:
    """One store ingest step — the shared body of the streaming handle
    and the batch ``minhash_increment`` (identical semantics by
    construction: same writes, same store read, same verification)."""
    if batch_df.isEmpty():
        return
    min_live = horizon(batch_id, retention_batches)
    new = batch_df.select(F.col(id_col), F.col(text_col))
    bk = (
        minhash_band_buckets(new, text_col, id_col, k=k,
                             num_hashes=num_hashes, bands=bands)
        .withColumn("pfx", F.substring("bucket", 1, 2))
    )
    bucket_schema = bk.schema
    # 1. candidates: the (small) new buckets matched against the store.
    #    Cluster by pfx before the partitioned write: without it every
    #    task writes a file into every pfx directory it touches (~tasks ×
    #    256 files PER BATCH — measured 8k files for one 4.5k-doc batch,
    #    and store scans/increments paid it back as pure file overhead);
    #    with it the batch writes one file per touched pfx
    cand = match_batch(
        spark, store_dir, "buckets", batch_id, bk.repartition("pfx"),
        bucket_schema, ["pfx", "bucket"], id_col, min_live).distinct()
    sh_new = new.select(F.col(id_col),
                        word_shingles(F.col(text_col), k).alias("sh"))
    shingle_schema = sh_new.schema
    (sh_new.write.mode("overwrite")
     .parquet(batch_path(store_dir, "shingles", batch_id)))
    # 2. exact verification from the shingle store (candidate-scoped)
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = (
        read_component(
            spark, store_dir, "shingles", shingle_schema, min_live)
        .join(F.broadcast(cand_ids), id_col, "left_semi")
        .select(id_col, "sh")
    )
    (
        verify_jaccard_pairs(sh, cand, threshold, id_col)
        .write.mode("overwrite")
        .parquet(batch_path(store_dir, "pairs", batch_id))
    )
    # 3. bound state: evict out-of-horizon dirs; periodically fold the
    #    survivors into one compacted generation
    compacted = bound_state(
        spark, store_dir, batch_id,
        {"buckets": bucket_schema, "shingles": shingle_schema,
         "pairs": _pair_schema(bucket_schema[id_col].dataType)},
        min_live=min_live, compact_every=compact_every,
        partition_cols={"buckets": ("pfx",)})
    if compacted and materialize_groups:
        # resolved groups as a generation of their own, as of this tick
        publish_gen(
            store_dir, "groups", batch_id,
            lambda: minhash_groups_store(spark, store_dir, id_col)
            .repartition(spark.sparkContext.defaultParallelism))


def minhash_increment(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    batch_id: int | None = None,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    retention_batches: int | None = None,
    compact_every: int | None = None,
    materialize_groups: bool = False,
) -> DataFrame:
    """Batch-mode incremental near-dup dedup: ingest ONE increment of
    documents into the persisted MinHash store and return the NEW pairs
    it introduced (new-vs-corpus and new-vs-new, exact-verified:
    ``id_a < id_b``, ``jaccard`` ≥ threshold) — the scheduled-batch-job
    twin of ``minhash_dedup_stream``, for pipelines that land a daily/
    hourly crawl increment as a plain DataFrame and should dedup it
    against everything already ingested WITHOUT rescanning the corpus.
    Identical store layout, candidate generation, verification and
    retention/compaction — the two entry points share ``_ingest_batch``
    verbatim, so a store may even be served by the stream and fed by
    batch jobs (or vice versa) and accumulated pairs keep equaling the
    batch ``minhash_lsh_pairs`` over all ingested documents (pinned).

    ``batch_id``: defaults to one past the highest ingested id
    (live dirs and compacted fold points both count). Re-running with
    an EXPLICIT ``batch_id`` is an idempotent replay (same overwrite
    contract as the stream). Cost per increment, precisely: the
    increment's shingling/writes and the candidate-scoped verification
    are O(increment + matches); the candidate probe additionally pays
    ONE map-only scan of the bucket INDEX (bands rows per corpus doc —
    a small fraction of corpus text bytes; broadcast-probed, so the
    corpus never shuffles; pfx partition pruning helps only when an
    increment is prefix-localized, which a random batch is not).
    Measured (tools/scale_sweep synthetic corpus, local[32]): a fixed
    5k-doc increment costs 5.7 s against a 45k-doc store and 10.1 s
    against a 495k-doc store — the index-scan term — vs whole-corpus
    re-dedup at 15 s / 31 s (and re-dedup also re-pays its own text
    scan + corpus-wide signature shuffle, which is the asymptotic
    difference).

    MinHash parameters must match across every ingest into one store
    (same spec as the stream; differing k/num_hashes/bands would make
    buckets incomparable). The returned pair frame's id type is derived
    from ``docs.schema[id_col]`` — the writer's actual type — so string-
    keyed stores read back correctly without a separate declaration."""
    if materialize_groups and compact_every is None:
        raise ValueError(
            "materialize_groups=True requires compact_every (groups are "
            "materialized at compaction ticks)")
    if batch_id is None:
        batch_id = next_batch_id(store_dir, _COMPONENTS)
    _ingest_batch(
        spark, docs, batch_id, store_dir=store_dir, text_col=text_col,
        id_col=id_col, k=k, num_hashes=num_hashes, bands=bands,
        threshold=threshold, retention_batches=retention_batches,
        compact_every=compact_every, materialize_groups=materialize_groups)
    pair_schema = _pair_schema(docs.schema[id_col].dataType)
    # read through the store, not the batch's live dir: a compaction
    # tick has already folded that dir into a generation
    pairs = read_component(spark, store_dir, "pairs", pair_schema)
    if pairs is None:  # nothing ingested yet
        return spark.createDataFrame([], pair_schema)
    return pairs.where(F.col("batch_id") == batch_id).drop("batch_id")


def minhash_dedup_stream(
    spark: SparkSession,
    doc_stream: DataFrame,
    store_dir: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    trigger: dict | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
    materialize_groups: bool = False,
):
    """Start the incremental MinHash near-dup pipeline over a document
    stream. Returns the started StreamingQuery (caller awaits/stops);
    read results with ``minhash_pairs_store`` / ``minhash_groups_store``.

    ``materialize_groups=True`` (requires ``compact_every``) additionally
    resolves connected-component groups at every compaction tick and
    writes them as ``compacted/groups/gen=N`` — the materialization
    ``minhash_groups_store``'s read-cost note points at: frequent readers
    get a parquet scan (as-of the last tick) instead of re-running full
    connected components over all accumulated pairs per call.

    ``retention_batches=H`` bounds state to the last H micro-batches (the
    dedup horizon): older bucket/shingle/pair state is evicted after every
    batch. ``compact_every=C`` folds surviving per-batch directories into
    one compacted generation every C batches, bounding the store's file
    count for long-running streams (see ``_store`` for the
    crash-safety protocol). Both default to None — keep-everything,
    one-directory-per-batch — which preserves exact equality with batch
    ``minhash_lsh_pairs`` over the WHOLE corpus; with retention, equality
    holds over the in-horizon corpus (pairs whose endpoints both survive).

    Document ids must be unique across the stream (the usual curation
    contract; re-sent ids would self-pair away but double-count in
    groups).
    """
    if materialize_groups and compact_every is None:
        raise ValueError(
            "materialize_groups=True requires compact_every (groups are "
            "materialized at compaction ticks); without it the stream "
            "would silently never materialize and "
            "prefer_materialized readers would fall back to the full "
            "connected-components recomputation this option exists to "
            "avoid")
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _ingest_batch(
            spark, batch_df, batch_id, store_dir=store_dir,
            text_col=text_col, id_col=id_col, k=k, num_hashes=num_hashes,
            bands=bands, threshold=threshold,
            retention_batches=retention_batches,
            compact_every=compact_every,
            materialize_groups=materialize_groups)

    return batch_sink(doc_stream, handle, checkpoint=checkpoint_path,
                      trigger=trigger)


def minhash_pairs_store(
    spark: SparkSession,
    store_dir: str,
    *,
    only_ingested_ids: bool = False,
    id_col: str = "doc_id",
    id_type: str = "long",
) -> DataFrame:
    """All near-dup pairs accumulated so far: (id_a, id_b, jaccard).
    ``id_type`` (Spark DDL type name) types the EMPTY frame returned
    before any batch lands — pass it when doc ids aren't long, or the
    empty frame won't union/join with downstream frames.

    Equals the batch ``minhash_lsh_pairs`` over every document ingested
    (each pair is written exactly once — see module docstring); under a
    retention horizon the state covers the in-horizon corpus, and
    ``only_ingested_ids=True`` additionally drops pairs referencing
    documents that have been evicted from the shingle store (one endpoint
    in-horizon, the other gone) — the exact-match contract against batch
    ``minhash_lsh_pairs`` over the surviving corpus. Returns an empty
    typed frame when nothing was ingested yet.
    """
    pairs = read_component(spark, store_dir, "pairs", None)
    if pairs is None:
        return spark.createDataFrame(
            [], _pair_schema(DataType.fromDDL(id_type)))
    pairs = pairs.select("id_a", "id_b", "jaccard")
    if only_ingested_ids:
        ids = read_component(spark, store_dir, "shingles", None)
        ids = (ids.select(F.col(id_col)).distinct()
               if ids is not None else
               spark.createDataFrame([], f"`{id_col}` {id_type}"))
        # no broadcast hint: unlike the per-batch cand_ids (bounded by one
        # micro-batch), this id set is the whole in-horizon corpus — let
        # Spark/AQE pick the semi-join strategy at its actual size
        pairs = (
            pairs
            .join(ids.select(F.col(id_col).alias("id_a")),
                  "id_a", "left_semi")
            .join(ids.select(F.col(id_col).alias("id_b")),
                  "id_b", "left_semi")
            .select("id_a", "id_b", "jaccard")
        )
    return pairs


def minhash_groups_store(
    spark: SparkSession,
    store_dir: str,
    id_col: str = "doc_id",
    *,
    prefer_materialized: bool = False,
    id_type: str = "long",
) -> DataFrame:
    """Near-dup groups over the accumulated pair state: the connected-
    component resolution (``dedup.duplicate_groups``) run over the pairs
    store and the ingested ids (from the shingle store) — (id, group_id,
    group_size), multi-doc groups only.

    Read cost: this re-runs FULL connected components over every pair
    accumulated so far on each call — O(all-pairs-so-far · log diameter),
    unlike the incremental per-batch pair writes. Fine as an occasional
    read-side view; a caller that needs groups frequently should run the
    stream with ``materialize_groups=True`` and pass
    ``prefer_materialized=True`` here — that reads the parquet written at
    the last compaction tick (as-of that tick) instead of recomputing,
    falling back to the live computation when no materialization exists.
    """
    from ..functions.dedup import duplicate_groups

    if prefer_materialized:
        gen_path, _ = latest_gen(store_dir, "groups")
        if gen_path is not None:
            return spark.read.parquet(gen_path)

    ing = read_component(spark, store_dir, "shingles", None)
    if ing is None:
        return spark.createDataFrame(
            [], f"`{id_col}` {id_type}, group_id long, group_size long")
    docs = ing.select(F.col(id_col)).distinct()
    groups = duplicate_groups(
        docs, minhash_pairs_store(spark, store_dir, only_ingested_ids=True,
                                  id_col=id_col, id_type=id_type), id_col)
    return groups.where(F.col("group_size") > 1)


def run_minhash_stream_on_dir(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    max_files_per_trigger: int | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
    materialize_groups: bool = False,
) -> DataFrame:
    """Drain a parquet file/dir through ``minhash_dedup_stream``
    (``_drain.drain``, availableNow) and return the accumulated pair
    state."""
    drain(spark, input_path, lambda s: minhash_dedup_stream(
        spark, s, store_dir, checkpoint_path, text_col, id_col,
        k=k, num_hashes=num_hashes, bands=bands, threshold=threshold,
        retention_batches=retention_batches, compact_every=compact_every,
        materialize_groups=materialize_groups),
        max_files_per_trigger=max_files_per_trigger)
    return minhash_pairs_store(spark, store_dir)
