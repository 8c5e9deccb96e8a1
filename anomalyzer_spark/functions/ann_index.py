"""Persisted IVF-PQ index — the stored-index path for repeated queries.

``ivfpq_topk`` recomputes cell assignment and PQ codes per query batch;
a real deployment builds the index ONCE and serves many query batches
against it. The storage layout IS the optimization: the index parquet is
partitioned by the IVF ``cell``, so a search's probed cells become a
partition-pruning filter — Spark never opens the files of unprobed cells.
At 100 TB that is the difference between scanning n_probe/n_clusters of
the index and scanning all of it.

Build: one map-only pass over the corpus (cell assignment + PQ encode —
the same literals-compiled expressions as ivfpq_topk), written
``partitionBy("cell")``. Search: collect the query batch's probed cells
(queries are the SMALL side by definition — a few thousand cells at
most), scan the index with ``cell IN (...)`` (partition-pruned,
plan-pinned in tests/test_plans.py), broadcast the queries' ADC lookup
tables through the cell equi-join, rank by PQ distance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize as _materialize
from ..sources.layout import drop_emptied_partitions
from ..streaming._drain import batch_sink
from .similarity import (_codes_sql, _lut_sql, _top_k_by_cosine,
                         absmax_scale, adc_dist, adc_rank_refine,
                         checked_width, cosine, dequantize_col,
                         nearest_cells, quantize_code_expr)


def _encode_rows(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    quantized_refine: bool,
) -> DataFrame:
    """(neighbor_id, cell, codes[, scale, qvec]) — the one map-only encode
    pass shared by batch build, stream ingest, and diff maintenance (one
    definition, so every writer of an index produces the same schema).
    ``quantized_refine`` adds the int8 storage tier: absmax scale + tinyint
    codes of the FULL vector (``similarity.quantize_embeddings`` scheme),
    so refine re-ranks can read dequantized vectors from the pruned index
    itself instead of semi-joining the float corpus."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    df = checked_width(df, vec_col, m * d, "IVF-PQ models")
    staged_cols = [
        F.col(id_col).alias("neighbor_id"),
        nearest_cells(vec_col, centroids, 1)[0].alias("cell"),
        *[F.slice(F.col(vec_col), s * d + 1, d).alias(f"_s{s}")
          for s in range(m)],
    ]
    out_cols = ["neighbor_id", "cell",
                F.expr(_codes_sql(codebooks)).alias("codes")]
    if quantized_refine:
        staged_cols += [F.col(vec_col).alias("_v"),
                        absmax_scale(F.col(vec_col)).alias("scale")]
        out_cols += [F.col("scale"),
                     quantize_code_expr(F.col("_v"), F.col("scale"))
                     .alias("qvec")]
    return df.select(*staged_cols).select(*out_cols)


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized_refine: bool = False,
) -> None:
    """Write the cell-partitioned code index: one map-only pass, stored as
    parquet ``partitionBy("cell")`` — (id, codes array<int>) per row, the
    float vectors are NOT stored (PQ is the compression).

    ``quantized_refine=True`` additionally stores (scale double, qvec
    array<tinyint>) per row — int8 absmax quantization of the full vector
    (1 byte/dim vs 8 for the float corpus, the 4-8x storage-tier cut) —
    enabling ``search_ivfpq_index(refine_source="quantized")``: the exact
    re-rank dequantizes candidates FROM THE PRUNED INDEX, so serving
    needs no float-corpus access at all. Recall cost of the int8 tier is
    measured in tools/ann_recall_sweep.py (cosine is scale-invariant and
    per-dim error is <= scale/2, so the delta vs float refine is ~0 at
    unit-norm embedding magnitudes)."""
    _encode_rows(corpus, centroids, codebooks, id_col, vec_col,
                 quantized_refine) \
        .write.mode("overwrite").partitionBy("cell").parquet(path)


def search_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 4,
    refine: int | None = None,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    refine_source: str = "corpus",
) -> DataFrame:
    """Search a persisted index: probed cells become a partition-pruning
    ``cell IN (...)`` literal filter on the index scan (the driver-side
    collect ships only the query batch's cell ids — bounded by
    n_queries × n_probe, never data).

    ``refine``: exact cosine re-rank of the top-``refine`` ADC
    candidates per query (see ``similarity.pq_topk`` — the production
    recall lever; output becomes (query_id, neighbor_id, cos_sim,
    rnk)). Where the candidate vectors come from is ``refine_source``:

    - ``"corpus"`` (default): the index holds PQ codes only, so refine
      reads float vectors from ``corpus`` (the indexed frame,
      ``id_col``/``vec_col`` columns) — the FAISS
      refine-alongside-flat-storage shape; the candidate ids broadcast
      into that scan, which stays map-only.
    - ``"quantized"``: the index was built with
      ``quantized_refine=True`` and carries int8-quantized vectors —
      candidates join back into the ALREADY-PRUNED index scan and
      dequantize there, so no corpus access happens at search time (the
      serving-tier shape: index files are the only storage the search
      touches, and only probed cells of them)."""
    if refine_source not in ("corpus", "quantized"):
        raise ValueError(
            f"refine_source must be 'corpus' or 'quantized', "
            f"got {refine_source!r}")
    if refine is None and refine_source != "corpus":
        raise ValueError(
            "refine_source='quantized' without refine= is a no-op — "
            "pass refine=N to re-rank, or drop refine_source")
    if refine is not None and refine_source == "corpus" and corpus is None:
        raise ValueError(
            "refine needs `corpus` (the index stores PQ codes, not "
            "vectors — exact re-rank reads them from the indexed frame), "
            "or refine_source='quantized' on an index built with "
            "quantized_refine=True")
    m = len(codebooks)
    d = len(codebooks[0][0])
    # the staged query frame (cell assignment + ADC lookup tables) is used
    # TWICE per call — the probe-cell collect and the join side — so
    # materialize it once instead of recomputing the literal-model
    # expressions per consumer
    queries = checked_width(queries, vec_col, m * d, "IVF-PQ models")
    qstaged = _materialize(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            nearest_cells(vec_col, centroids, n_probe).alias("_cells"),
            *[F.slice(F.col(vec_col), s * d + 1, d).alias(f"_s{s}")
              for s in range(m)],
        )
        .select("query_id", "_cells",
                F.expr(_lut_sql(codebooks)).alias("_lut")),
        reason="search_ivfpq_index.queries")
    q = qstaged.select(
        "query_id", "_lut", F.explode("_cells").alias("cell"))
    probe_cells = sorted(
        r["cell"] for r in
        qstaged.select(F.explode("_cells").alias("cell"))
        .distinct().collect())

    index = spark.read.parquet(path).where(F.col("cell").isin(probe_cells))
    scored = (
        index.join(F.broadcast(q), "cell")
        .select("query_id", "neighbor_id", adc_dist().alias("pq_dist"))
    )

    def _rerank(cand: DataFrame) -> DataFrame:
        if refine_source == "corpus":
            from .similarity import _exact_rerank
            return _exact_rerank(cand, corpus, queries, id_col=id_col,
                                 vec_col=vec_col, query_id_col=query_id_col,
                                 k=k)
        if "qvec" not in index.columns or "scale" not in index.columns:
            raise ValueError(
                f"refine_source='quantized' but the index at {path!r} has "
                "no scale/qvec columns — rebuild it with "
                "build_ivfpq_index(quantized_refine=True)")
        # join the bounded candidate set into the pruned index FIRST,
        # then dequantize: dequantizing in a projection under the join
        # would evaluate it for every row of the probed cells, not just
        # candidates
        qv = queries.select(F.col(query_id_col).alias("query_id"),
                            F.col(vec_col).alias("_qv"))
        return _top_k_by_cosine(
            index.select("neighbor_id", "scale", "qvec")
            .join(F.broadcast(cand), "neighbor_id")
            .join(F.broadcast(qv), "query_id")
            .select("query_id", "neighbor_id",
                    cosine(F.col("_qv"),
                           dequantize_col(F.col("scale"), F.col("qvec")))
                    .alias("cos_sim")), k)

    return adc_rank_refine(scored, k=k, refine=refine, rerank=_rerank)


def serve_ivfpq_stream(
    spark: SparkSession,
    index_path: str,
    query_stream: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    out_path: str,
    checkpoint_path: str,
    *,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 4,
    refine: int | None = None,
    refine_source: str = "corpus",
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    trigger: dict | None = None,
):
    """Online ANN serving: a STREAM of query vectors scored per micro-batch
    against the persisted index, written to a per-batch parquet sink.

    ``refine``/``refine_source``/``corpus`` forward to
    ``search_ivfpq_index`` per micro-batch — with an index built
    ``quantized_refine=True`` and ``refine_source="quantized"``, the
    serving loop re-ranks exactly without touching any float-corpus
    storage (the int8 tier is in the index files the probe already
    prunes).

    This is the ``foreachBatch`` sink shape (SURVEY §2.7): the search needs
    a per-batch driver action (collecting the batch's probe cells for the
    partition-pruned scan), which pure streaming operators cannot express —
    foreachBatch hands each micro-batch to the BATCH search, so the stored
    index, pruning, and ranking are byte-identical to offline searches.

    foreachBatch's delivery contract is AT-LEAST-ONCE (a crash between the
    sink write and the checkpoint commit replays the batch); the write is
    made effectively-once by IDEMPOTENCE, not by the checkpoint alone:
    each batch overwrites its own ``batch_id=N`` subdirectory, so a replay
    rewrites identical files instead of appending duplicates
    (tests/test_streaming.py asserts replay row counts).

    ``trigger``: writeStream trigger kwargs — default availableNow (drain
    what exists and stop: the backfill/test shape); pass e.g.
    ``{"processingTime": "10 seconds"}`` for continuous serving.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            search_ivfpq_index(
                spark, index_path, batch_df, centroids, codebooks,
                vec_col=vec_col, query_id_col=query_id_col,
                k=k, n_probe=n_probe, refine=refine,
                refine_source=refine_source, corpus=corpus,
                id_col=id_col)
            .write.mode("overwrite")
            .parquet(f"{out_path}/batch_id={batch_id}")
        )

    return batch_sink(query_stream, handle, checkpoint=checkpoint_path,
                      trigger=trigger)


def ingest_ivfpq_stream(
    spark: SparkSession,
    corpus_stream: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    checkpoint_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized_refine: bool = False,
    trigger: dict | None = None,
):
    """Incremental CORPUS ingest: a stream of new vectors encoded with the
    FROZEN models (same cell-assignment + PQ-encode expressions as
    ``build_ivfpq_index``; pass the same ``quantized_refine`` the index
    was built with — mixing rows with and without the int8 tier would
    fail quantized searches on the batches missing it) and appended to
    the cell-partitioned store.

    Layout: each micro-batch overwrites its own ``batch_id=N/cell=C/...``
    subtree — the replay-idempotence pattern shared with
    ``serve_ivfpq_stream`` / ``minhash_stream`` (foreachBatch is
    at-least-once; a replayed batch rewrites identical files). ``cell``
    stays a partition column under every batch directory, so
    ``search_ivfpq_index``'s ``cell IN (...)`` filter partition-prunes the
    streamed index exactly like a batch-built one; the extra ``batch_id``
    discovery level changes nothing for the reader. (Search-side note:
    ``search_ivfpq_index`` materializes (see ``session.materialize``)
    its staged query frame per call — serving loops wrap calls in
    ``session.checkpoint_scope`` to drop those blocks deterministically.)

    Models are FROZEN by design: retraining centroids/codebooks on drifted
    data is an offline rebuild (``build_ivfpq_index``), not an append —
    mixing codes from different codebooks in one store would corrupt ADC
    distances.

    A long-running ingest accretes one directory (≈ touched-cell count of
    files) per micro-batch; fold them periodically with
    ``compact_ingested_index`` when the file count starts to dominate
    scan planning. Returns the started StreamingQuery (caller
    awaits/stops).
    """
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            _encode_rows(batch_df, centroids, codebooks, id_col, vec_col,
                         quantized_refine)
            .write.mode("overwrite").partitionBy("cell")
            .parquet(f"{index_path}/batch_id={batch_id}")
        )

    return batch_sink(corpus_stream, handle, checkpoint=checkpoint_path,
                      trigger=trigger)


def compact_ingested_index(
    spark: SparkSession,
    ingested_path: str,
    out_path: str,
) -> None:
    """Rewrite a stream-ingested index (``batch_id=N/cell=C`` dirs) into
    the canonical one-level ``cell=C`` layout of ``build_ivfpq_index`` —
    one shuffle on ``cell``, bounding the file count to one file per
    (cell, writer task) instead of per (cell, micro-batch). Write to a
    NEW path and swap readers over; compacting in place would race
    concurrent searches."""
    src = spark.read.parquet(ingested_path)
    keep = ["neighbor_id", "codes"] + \
        [c for c in ("scale", "qvec") if c in src.columns] + ["cell"]
    (
        src.select(*keep)
        .repartition("cell")
        .write.mode("overwrite").partitionBy("cell").parquet(out_path)
    )


def apply_diff_to_index(
    spark: SparkSession,
    path: str,
    diff: DataFrame,
    new_corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally maintain a persisted IVF-PQ index from a corpus
    SNAPSHOT DELTA (``dedup.snapshot_diff`` output): removed ids leave,
    changed ids re-encode, added ids enter — WITHOUT rebuilding the
    index. The other leg of the incremental story next to
    ``ingest_ivfpq_stream`` (append-only): diffs also retract.

    Mechanics (the 100 TB read): victim locations come from ONE
    two-column scan of the index (id + the ``cell`` partition value —
    ids cannot partition-prune, so locating them costs a columnar
    metadata-light pass, never a rebuild); new rows encode map-only with
    the FROZEN models (an index is immutable w.r.t. its quantizers —
    retrain = rebuild, by contract). The union of affected cells — old
    homes of removed/changed ids, new homes of added/changed ids — is
    rewritten via dynamic partition overwrite, so untouched cell
    partitions keep their files byte-identical. Returns the number of
    rewritten cells.

    Idempotent: replaying the same diff converges to the same index
    (victims are gone, re-encoded rows overwrite to identical bytes).
    """
    # Only added/changed/removed rows act on the index; 'unchanged' rows
    # (snapshot_diff(include_unchanged=True)) are no-ops — treating them
    # as victims would vacate every unchanged doc and never re-add it.
    # Unknown statuses are a contract violation, not a silent skip.
    known = ("added", "changed", "removed", "unchanged")
    unknown = [r["status"] for r in diff.select("status").distinct()
               .collect() if r["status"] not in known]
    if unknown:
        raise ValueError(
            f"apply_diff_to_index: unexpected diff status(es) {unknown!r}; "
            f"expected snapshot_diff output with statuses in {known}")
    active = diff.where(F.col("status").isin("added", "changed", "removed"))
    # EVERY active id vacates its old rows first — including 'added' ids,
    # which are absent on first apply (harmless anti-join) but present on
    # a REPLAY, where skipping them would duplicate rows
    victims = active.select(
        F.col(id_col).alias("neighbor_id")).distinct()
    incoming_ids = active.where(
        F.col("status").isin("added", "changed")).select(id_col)

    idx = spark.read.parquet(path)
    # re-encoded rows must match the live index schema, including the
    # int8 refine tier when the index carries one
    quantized = "qvec" in idx.columns
    inc = new_corpus.join(incoming_ids, id_col, "left_semi")
    new_rows = _encode_rows(inc, centroids, codebooks, id_col, vec_col,
                            quantized)
    victim_cells = (
        idx.join(victims, "neighbor_id", "left_semi")
        .select("cell").distinct())
    new_cells = new_rows.select("cell").distinct()
    affected = sorted(r["cell"] for r in
                      victim_cells.unionByName(new_cells)
                      .distinct().collect())
    if not affected:
        return 0

    keep = ["neighbor_id", "cell", "codes"] + \
        (["scale", "qvec"] if quantized else [])
    survivors = (
        idx.where(F.col("cell").isin(affected))
        .join(victims, "neighbor_id", "left_anti")
        .select(*keep))
    rewrite = survivors.unionByName(
        new_rows.where(F.col("cell").isin(affected)).select(*keep))
    # materialize BEFORE the overwrite: the plan reads the very
    # partitions the write replaces (self-overwrite hazard)
    rewrite = _materialize(rewrite, reason="apply_diff_to_index.rewrite")
    (rewrite.write.mode("overwrite").partitionBy("cell")
     .option("partitionOverwriteMode", "dynamic").parquet(path))
    # a cell whose every vector was removed has no rewrite rows
    drop_emptied_partitions(
        spark, path, "cell", affected,
        {r["cell"] for r in rewrite.select("cell").distinct().collect()})
    return len(affected)
