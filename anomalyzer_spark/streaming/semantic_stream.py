"""Streaming SemDeDup — incremental cluster-blocked embedding dedup.

Closes the last batch-only cell of the dedup matrix (exact, MinHash and
exact-substring span dedup all have cross-batch stores; the
embedding-space near-dup family didn't). Same shape as
``minhash_stream``: candidate generation against everything seen so far
is a stream×history join no pure streaming operator expresses, so this
is the ``foreachBatch``-against-a-persisted-store pattern — with ONE
important difference from MinHash: the blocker is a MODEL (the k-means
cells), and an incremental store is only coherent if every batch is
assigned by the SAME model. ``centroids`` is therefore a REQUIRED
argument (fit it once on a bounded corpus sample, or pass the IVF
index's existing model — ``similarity.train_ivf_centroids``); training
inside the stream would peek at whichever batch arrived first.

Per micro-batch of new embeddings:

1. assign each vector to its ``n_assign`` nearest cells
   (``similarity.nearest_cells`` — the batch operator's assignment
   verbatim) and match the (cell, id, vector) rows against the store by
   cell through ``_store.match_batch`` — candidates are exactly the
   within-cell pairs with at least one new member;
2. exact cosine on candidates (vectors ride the store rows — no second
   verification component), keep >= threshold, drop multi-cell
   duplicates, write pairs to ``batch_id=N``.

Final pair state equals batch ``semantic_pairs`` with the same
``centroids``/``threshold``/``n_assign`` and ``max_cell_rows=None``:
each qualifying pair shares a cell; it is discovered in the batch where
its LATER member arrives and never rediscovered (candidates always
include a new member); cosine is bit-identical across discovery
orientations (IEEE multiply is commutative and the fold order is
fixed). The batch operator's hot-cell cap is corpus-relative and has no
incremental meaning, so the stream applies NONE — against a capped
batch run equality holds only while no cell exceeds the cap. Pinned in
tests/test_streaming.py on multi-batch splits in both arrival orders.

State at 100 TB: the store is the corpus' (cell, id, vector) rows ×
``n_assign`` — O(in-horizon corpus), partitioned by cell so the
broadcast candidate join prunes store files to the batch's touched
cells. ``retention_batches`` / ``compact_every`` bound it under the
eviction + crash-safe generation-fold protocol of ``_store``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.similarity import checked_width, cosine, nearest_cells
from ._drain import batch_sink, drain
from ._store import (batch_path, bound_state, horizon, match_batch,
                     read_component)

__all__ = ["semantic_dedup_stream", "semantic_pairs_store",
           "semantic_groups_store", "run_semantic_stream_on_dir"]

def semantic_dedup_stream(
    spark: SparkSession,
    vec_stream: DataFrame,
    store_dir: str,
    checkpoint_path: str,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_assign: int = 1,
    trigger: dict | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
):
    """Start the incremental SemDeDup pipeline over an embedding stream.
    Returns the started StreamingQuery (caller awaits/stops); read
    results with ``semantic_pairs_store`` / ``semantic_groups_store``.

    Vector ids must be unique across the stream (the usual contract);
    every vector must match the centroid width (``checked_width``)."""
    dim = len(centroids[0])

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        min_live = horizon(batch_id, retention_batches)
        new = checked_width(batch_df, vec_col, dim,
                            "semantic_dedup_stream centroids")
        assigned = new.select(
            F.col(id_col), F.col(vec_col).alias("_v"),
            F.explode(
                nearest_cells(vec_col, centroids, n_assign)).alias("cell"),
        )
        vec_schema = assigned.schema
        pairs = (
            match_batch(spark, store_dir, "vectors", batch_id, assigned,
                        vec_schema, ["cell"], id_col, min_live,
                        [cosine(F.col("s._v"), F.col("n._v"))
                         .alias("cos_sim")])
            .where(F.col("cos_sim") >= threshold)
            # one pair can surface through several shared cells
            # (n_assign > 1) and twice within a batch (both orientations)
            # — cosine is orientation-stable, so dropDuplicates on the
            # ids alone is exact
            .dropDuplicates(["id_a", "id_b"])
        )
        (pairs.write.mode("overwrite")
         .parquet(batch_path(store_dir, "sem_pairs", batch_id)))
        # bound state (shared eviction/compaction protocol)
        bound_state(
            spark, store_dir, batch_id,
            {"vectors": vec_schema, "sem_pairs": pairs.schema},
            min_live=min_live, compact_every=compact_every,
            partition_cols={"vectors": ("cell",)})

    return batch_sink(vec_stream, handle, checkpoint=checkpoint_path,
                      trigger=trigger)


def semantic_pairs_store(
    spark: SparkSession,
    store_dir: str,
    *,
    id_type: str = "long",
) -> DataFrame:
    """All semantic near-dup pairs accumulated so far: (id_a, id_b,
    cos_sim) — equals batch ``semantic_pairs`` (same model, no cap) over
    every vector ingested; an empty typed frame before any batch."""
    pairs = read_component(spark, store_dir, "sem_pairs", None)
    if pairs is None:
        return spark.createDataFrame(
            [], f"id_a {id_type}, id_b {id_type}, cos_sim double")
    return pairs.select("id_a", "id_b", "cos_sim")


def semantic_groups_store(
    spark: SparkSession,
    store_dir: str,
    id_col: str = "vec_id",
    *,
    id_type: str = "long",
) -> DataFrame:
    """Connected-component groups over the accumulated pair state —
    (id, group_id, group_size), multi-member groups only; same return
    contract as batch ``semantic_dedup_groups``. Re-runs full connected
    components per call (the ``minhash_groups_store`` read-cost note)."""
    from ..functions.dedup import duplicate_groups

    ing = read_component(spark, store_dir, "vectors", None)
    if ing is None:
        return spark.createDataFrame(
            [], f"`{id_col}` {id_type}, group_id {id_type}, "
                "group_size bigint")
    ids = ing.select(F.col(id_col)).distinct()
    pairs = semantic_pairs_store(spark, store_dir, id_type=id_type)
    groups = duplicate_groups(ids, pairs, id_col)
    return groups.where(F.col("group_size") > 1)


def run_semantic_stream_on_dir(
    spark: SparkSession,
    input_path: str,
    store_dir: str,
    checkpoint_path: str,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_assign: int = 1,
    max_files_per_trigger: int | None = None,
    retention_batches: int | None = None,
    compact_every: int | None = None,
) -> DataFrame:
    """Drain a parquet file/dir through ``semantic_dedup_stream``
    (``_drain.drain``, availableNow) and return the accumulated pair
    state."""
    drain(spark, input_path, lambda s: semantic_dedup_stream(
        spark, s, store_dir, checkpoint_path, centroids,
        id_col=id_col, vec_col=vec_col, threshold=threshold,
        n_assign=n_assign, retention_batches=retention_batches,
        compact_every=compact_every),
        max_files_per_trigger=max_files_per_trigger)
    return semantic_pairs_store(spark, store_dir)
