"""Streaming exact-substring (duplicate-span) dedup — the cross-batch
gram store.

``duplicate_spans`` is corpus-relative: whether a word k-gram is
duplicated, and WHICH occurrence is canonical, depends on every document
ever seen. The batch operator answers with one window pass over the gram
hashes; this module answers incrementally with the ``dedup_stream``
state pattern: a stateful ``groupBy(gram_hash)`` aggregation whose
per-key state is (occurrence count, min id, max id, min (id, pos)
struct).

Every field is an associative + commutative aggregate of the occurrence
rows, so the FINAL state is independent of how the corpus was split into
micro-batches and equals the batch window stats exactly — including the
canonical occurrence, which is the global-min (id, pos), NOT
first-arrival. That equivalence (pinned in tests/test_streaming.py on
multi-batch splits in both arrival orders) is what lets
``run_curation_stream_with_dedup_on_dir`` accept
``CurationConfig(strip_spans=N)`` instead of raising.

State at 100 TB: one row per DISTINCT gram hash — the honest cost of
incremental exact-substring dedup (contrast ``dedup_stream``'s one row
per document hash). The state rows are ~50 B each and hash-partitioned;
nothing corpus-wide ever sits on one node. Bound it the same way the
batch operator bounds work: larger ``min_len`` (fewer, longer grams) or
a periodic compact + offline re-strip when the horizon allows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dedup import (duplicate_spans_from_gram_stats,
                               gram_occurrences, strip_spans_frame)
from ._drain import drain_available_now, final_state

__all__ = ["span_gram_stream", "run_span_gram_stream_on_dir",
           "strip_spans_with_store"]


def span_gram_stream(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 20,
) -> DataFrame:
    """Incremental per-gram-hash state over a (streaming) document frame.

    Output (Update mode): one row per gram hash seen so far —
    (``gram_hash``, ``n_occ``, ``min_id``, ``max_id``, ``canon``
    struct<i,p>) — each an order-independent aggregate, so the final
    state equals the batch ``duplicate_spans`` window stats for the same
    corpus. Works identically on a batch frame (one "micro-batch"),
    which is how the store-vs-batch parity test states the contract.
    """
    occ = gram_occurrences(df, text_col, id_col, min_len=min_len)
    return occ.groupBy("gram_hash").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(id_col).alias("min_id"),
        F.max(id_col).alias("max_id"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p")))
        .alias("canon"),
    )


def run_span_gram_stream_on_dir(
    spark: SparkSession,
    input_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 20,
    query_name: str = "span_gram_stream_result",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain a parquet file/dir through ``span_gram_stream``
    (availableNow, Update mode) and return the FINAL per-gram-hash state
    as a batch DataFrame.

    The memory sink keeps every update; the final state of a hash is its
    row with the largest ``n_occ`` (strictly increasing — every update
    adds occurrences), tie-broken by smallest ``canon`` (monotonically
    non-increasing).
    """
    res = drain_available_now(
        spark, input_path,
        lambda s: span_gram_stream(s, text_col, id_col, min_len=min_len),
        query_name, output_mode="update",
        max_files_per_trigger=max_files_per_trigger)
    return final_state(res, ["gram_hash"],
                       F.col("n_occ").desc(), F.col("canon").asc())


def strip_spans_with_store(
    df: DataFrame,
    gram_stats: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 20,
    scope: str = "cross_doc",
    keep: str = "canonical",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Rewrite ``df`` with its duplicated spans removed, using the FINAL
    gram store state instead of an in-query window pass — the finalize
    step of the streaming path. ``min_len`` must match the store's.
    Output ≡ ``strip_duplicate_spans(df, ...)`` when ``gram_stats`` is
    the store over exactly ``df``."""
    spans = duplicate_spans_from_gram_stats(
        df, gram_stats, text_col, id_col,
        min_len=min_len, scope=scope, keep=keep)
    return strip_spans_frame(df, spans, text_col, id_col,
                             carry_cols=carry_cols)
