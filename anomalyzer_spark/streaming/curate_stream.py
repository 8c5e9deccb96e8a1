"""Streaming curation — continuous ingest through the `curate()` stack.

``foreachBatch`` is the adapter (as for minhash_stream's store and the
streaming decontamination test): each micro-batch of raw documents runs
the CONFIGURED curation pipeline as a batch and lands in an idempotent
per-batch output directory, so the at-least-once replay contract becomes
effectively-once (a replayed batch id overwrites its own directory,
never duplicates rows).

Scope semantics are the honest part (see pipeline.py's streaming note):

* map-shaped stages — normalize, profile filters, redaction — mean the
  same thing per batch as offline;
* **exact dedup, near-dup dedup, duplicate-SPAN dedup (strip_spans),
  the top_fraction gate, and the temperature mixture are
  BATCH-SCOPED**: "unique", "duplicated span", "best X%", and the
  domain shares are computed within each micro-batch. Cross-batch
  exact/near/span dedup state is ``dedup_stream`` /
  ``minhash_dedup_stream`` / ``span_stream`` — run them downstream of
  this writer, or use :func:`run_curation_stream_with_dedup_on_dir`,
  which composes all three;
* decontamination against a STATIC eval frame is batch-safe as-is (the
  eval side never changes mid-stream).

``batch_union_equals_offline(cfg)`` tells you whether the configured
stages are batch-split-invariant (only map-shaped stages + static-eval
decontam are): when True, the union of batch outputs provably equals the
offline ``curate`` of the same corpus — pinned in
tests/test_streaming.py; when False the pipeline still runs, with the
batch-scope semantics above.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import CurationConfig, curate
from ._drain import batch_sink, drain, file_stream

__all__ = ["batch_union_equals_offline", "run_curation_stream_on_dir",
           "run_curation_stream_with_dedup_on_dir"]


def batch_union_equals_offline(cfg: CurationConfig) -> bool:
    """True iff every configured stage is per-row (batch-split-invariant):
    the streamed union then equals offline curation byte-for-byte."""
    return (cfg.dedup is None
            and cfg.strip_spans is None
            and cfg.temperature_alpha is None
            and cfg.top_fraction is None
            and cfg.pack_capacity is None
            and cfg.source_cap_tokens is None
            and cfg.source_cap_share is None)


def run_curation_stream_on_dir(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: CurationConfig = CurationConfig(dedup=None),
    *,
    eval_df=None,
    schema=None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
):
    """Stream parquet documents from ``input_dir`` (``_drain.file_stream``)
    through ``curate(cfg)`` into idempotent ``batch_id=N`` parquet
    directories under ``output_dir``. Returns the started query (caller
    awaits/stops).

    ``schema`` defaults to the directory's existing parquet schema (one
    driver-side read of footers — the stream itself needs an explicit
    schema). With ``available_now`` the query drains what exists and
    stops — the batch-replay mode the equivalence test uses; pass False
    for a continuously running ingest.
    """
    return batch_sink(
        file_stream(spark, input_dir, schema=schema,
                    max_files_per_trigger=max_files_per_trigger),
        _curate_batch(output_dir, cfg, eval_df), checkpoint=checkpoint_dir,
        # Spark's default trigger: each micro-batch as soon as one ends
        trigger=None if available_now else {"processingTime": "0 seconds"})


def _curate_batch(output_dir, cfg, eval_df=None):
    """foreachBatch handler: ``curate(cfg)`` each micro-batch into its
    own ``batch_id=N`` directory (a replay overwrites it)."""
    def handle(batch_df, batch_id):
        out = curate(batch_df, cfg, eval_df=eval_df).output
        out.write.mode("overwrite").parquet(
            f"{output_dir}/batch_id={batch_id}")
    return handle


def run_curation_stream_with_dedup_on_dir(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: CurationConfig = CurationConfig(),
    *,
    schema=None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming curation WITH cross-batch deduplication — the composed
    path closing the module docstring's batch-scope gap: the map-shaped
    curate stages run per micro-batch (idempotent ``batch_id=N`` dirs,
    exactly :func:`run_curation_stream_on_dir`), while deduplication
    runs against the STATEFUL cross-batch stores (``dedup_stream``'s
    per-hash aggregation; ``minhash_dedup_stream``'s band-bucket store
    for ``dedup="minhash"``). Returns the final deduplicated corpus as a
    batch DataFrame — provably equal to offline ``curate(cfg)`` over the
    whole input (pinned in tests/test_streaming.py on a 3-batch split).

    Supported cfg surface: ``normalize_form``, the profile gates
    (``min_quality`` / ``min_tokens`` / ``langs``), ``dedup`` = "exact"
    or "minhash" with ``dedup_keep="first"``, and ``strip_spans``
    (cross-batch gram store, round 10 — runs after document dedup, the
    offline stage order). Stages that either rewrite text after offline
    curate's span tap (redact, window) or are corpus-relative gates
    (top_fraction, temperature, packing, keep='best') would silently
    break the ≡-offline contract under a batch split, so they raise
    here — run them offline, or downstream of this function's output.

    100 TB shape: per-batch work is map-only; cross-batch state is one
    row per content hash (exact), the banded LSH store (near-dup), and
    one row per distinct gram hash (spans — the expensive one; see
    span_stream's module docstring) — never a corpus self-join; the
    finalize steps are one left-semi join against the canonical-id
    store plus, for spans, one corpus-keyed join against the
    duplicated-gram subset of the store.
    """
    if cfg.dedup not in ("exact", "minhash"):
        raise ValueError(
            "run_curation_stream_with_dedup_on_dir requires cfg.dedup of "
            f"'exact' or 'minhash', got {cfg.dedup!r} — without dedup use "
            "run_curation_stream_on_dir")
    blocked = [name for name, bad in (
        ("redact", cfg.redact),
        ("window", cfg.window is not None),
        ("top_fraction", cfg.top_fraction is not None),
        ("temperature_alpha", cfg.temperature_alpha is not None),
        ("pack_capacity", cfg.pack_capacity is not None),
        # the per-source budget is a greedy prefix in global hash order —
        # a batch split changes which rows the budget admits
        ("source_cap_tokens", cfg.source_cap_tokens is not None),
        ("source_cap_share", cfg.source_cap_share is not None),
        ("decontam_mode", cfg.decontam_mode is not None),
        ("dedup_keep='best'", cfg.dedup_keep == "best"),
    ) if bad]
    if blocked:
        raise ValueError(
            f"stages not batch-split-invariant under cross-batch dedup: "
            f"{blocked}; run them offline or downstream of this output")

    from .dedup_stream import run_dedup_stream_on_dir
    from .minhash_stream import (minhash_groups_store,
                                 run_minhash_stream_on_dir)

    # 1. map-shaped stages per micro-batch (normalize + profile gates),
    #    dedup stripped — it moves to the cross-batch stores below
    map_cfg = dataclasses.replace(cfg, dedup=None)
    drain(spark, input_dir,
          lambda s: batch_sink(s, _curate_batch(output_dir, map_cfg),
                               checkpoint=checkpoint_dir),
          schema=schema, max_files_per_trigger=max_files_per_trigger)
    union = spark.read.parquet(f"{output_dir}/batch_id=*")

    # 2. cross-batch EXACT dedup: drain the curated batch dirs through
    #    dedup_stream's stateful per-hash aggregation; the final state's
    #    canonical_id is min(id) per content hash across ALL batches —
    #    order-independent, so ≡ batch exact_dedup's canonical
    state = run_dedup_stream_on_dir(
        spark, f"{output_dir}/batch_id=*", cfg.text_col, cfg.id_col,
        query_name="curate_dedup_state",
        max_files_per_trigger=max_files_per_trigger)
    canon = state.select(F.col("canonical_id").alias(cfg.id_col))
    survivors = union.join(canon, cfg.id_col, "left_semi")

    if cfg.dedup == "minhash":
        # 3. cross-batch NEAR-dup dedup over the exact survivors:
        #    accumulate the band-bucket/shingle store (whose pair state ≡
        #    batch minhash_lsh_pairs over the same corpus), resolve
        #    connected components, keep-first (min id per multi-doc group
        #    + solos) — mirroring offline curate's keep-first branch
        surv_dir = f"{output_dir}/_exact_survivors"
        survivors.write.mode("overwrite").parquet(surv_dir)
        survivors = spark.read.parquet(surv_dir)
        run_minhash_stream_on_dir(
            spark, surv_dir, f"{output_dir}/_minhash_store",
            f"{checkpoint_dir}_minhash", cfg.text_col, cfg.id_col,
            threshold=cfg.dedup_threshold,
            max_files_per_trigger=max_files_per_trigger)
        groups = minhash_groups_store(
            spark, f"{output_dir}/_minhash_store", cfg.id_col)
        keep = groups.groupBy("group_id").agg(
            F.min(cfg.id_col).alias(cfg.id_col)).select(cfg.id_col)
        solo = survivors.join(groups.select(cfg.id_col), cfg.id_col,
                              "left_anti").select(cfg.id_col)
        survivors = survivors.join(
            keep.unionByName(solo), cfg.id_col, "left_semi")

    if cfg.strip_spans is None:
        return survivors

    # 4. cross-batch duplicate-SPAN dedup over the dedup survivors (the
    #    offline stage order: spans run AFTER document dedup): drain the
    #    survivor corpus through the stateful gram store, whose final
    #    per-hash state — every field an associative+commutative
    #    aggregate, canonical = global-min (id, pos), NOT first-arrival —
    #    equals the batch duplicate_spans window stats for any
    #    micro-batch split, then rewrite with the shared strip stage.
    #    Offline curate drops the span counters; mirror that.
    from .span_stream import run_span_gram_stream_on_dir, strip_spans_with_store

    span_dir = f"{output_dir}/_span_input"
    survivors.write.mode("overwrite").parquet(span_dir)
    survivors = spark.read.parquet(span_dir)
    store = run_span_gram_stream_on_dir(
        spark, span_dir, cfg.text_col, cfg.id_col,
        min_len=cfg.strip_spans, query_name="curate_span_gram_state",
        max_files_per_trigger=max_files_per_trigger)
    carry = [c for c in survivors.columns
             if c not in (cfg.id_col, cfg.text_col)]
    return strip_spans_with_store(
        survivors, store, cfg.text_col, cfg.id_col,
        min_len=cfg.strip_spans, carry_cols=carry,
    ).drop("n_spans_removed", "n_tokens_dropped")
