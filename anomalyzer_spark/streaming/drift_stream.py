"""Streaming drift monitor — per-micro-batch PSI against a baseline
profile (functions/drift.py composed into ``foreachBatch``, the same
adapter curate_stream and minhash_stream use for per-batch work that
windowed aggregation can't express: PSI needs a join to the baseline and
per-column normalization).

The monitoring contract: the BASELINE (a reference snapshot's
``histogram_profile`` / ``category_profile`` plus its vocabularies) is
FIXED up front — that is what makes per-batch PSI comparable across
batches and immune to batch-boundary placement. Each micro-batch is
profiled on the baseline's own bins (its ``lo``/``hi``/``n_bins`` per
column) and compared; the monitor
emits ``(batch_id, column, psi, old_rows, new_rows)`` where old = the
baseline, new = the batch. Emission is tiny by construction
(columns × batches rows), so the in-memory result frame is bounded no
matter the stream size; per-batch work is one map pass + a tiny
aggregate over the batch — the same shape as the offline profile.

Alerting is a filter: ``monitor.where("psi > 0.25")`` (the standard
PSI thresholds: < 0.1 stable, 0.1–0.25 moderate, > 0.25 major).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.drift import (
    _require_n_bins, category_profile, histogram_profile, psi_report)
from ..session import materialize as _materialize
from ._drain import batch_sink, drain

__all__ = ["run_drift_stream_on_dir"]


def run_drift_stream_on_dir(
    spark: SparkSession,
    input_dir: str,
    cols: list[str],
    *,
    baseline: DataFrame | None = None,
    categories: dict | None = None,
    cat_baseline: DataFrame | None = None,
    alpha: float = 0.5,
    schema=None,
    max_files_per_trigger: int = 1,
    query_name: str = "drift_stream_result",
) -> DataFrame:
    """Drain parquet files from ``input_dir`` (``_drain.drain``,
    availableNow), PSI-ing each micro-batch against the baseline;
    returns the batch report frame ``(batch_id, column, psi, old_rows,
    new_rows)``.

    * ``baseline`` — the reference ``histogram_profile``; each batch is
      binned with the baseline's own (lo, hi, n_bins) per column, read
      in one collect of that tiny frame, so the bins line up by
      construction (the comparability contract of offline
      ``psi_drift``). Every numeric ``cols`` entry must have rows in
      it, and they must share one ``n_bins``. None profiles nothing
      numeric (cols may be empty when only categorical columns are
      monitored);
    * ``categories`` / ``cat_baseline`` — the categorical sibling:
      vocabulary dict + reference ``category_profile``.

    Each emitted row is the EXACT offline ``psi_report(baseline,
    profile(batch))`` value — batch-splitting only decides how rows
    group into reports, never the numbers (pinned in
    tests/test_streaming.py)."""
    if baseline is None and cat_baseline is None:
        raise ValueError("need a numeric baseline, a categorical "
                         "baseline, or both")
    if baseline is not None and not cols:
        raise ValueError("numeric baseline given but cols is empty")
    if (cat_baseline is None) != (categories is None):
        raise ValueError("categories and cat_baseline go together")
    # materialize the tiny baselines once — each batch joins against
    # them, free of their upstream lineage, for the monitor's lifetime
    if baseline is not None:
        _require_n_bins(baseline, "run_drift_stream_on_dir")
        baseline = _materialize(baseline, reason="drift_stream.baseline")
        binning = {r["column"]: r for r in baseline.select(
            "column", "lo", "hi", "n_bins").distinct().collect()}
        missing = [c for c in cols if c not in binning]
        if missing:
            raise ValueError(
                f"baseline profile has no rows for columns {missing}")
        bounds = {c: (binning[c]["lo"], binning[c]["hi"]) for c in cols}
        counts = sorted({binning[c]["n_bins"] for c in cols})
        if len(counts) > 1:
            raise ValueError(
                f"monitored columns carry different n_bins {counts} in "
                "the baseline; monitor them in separate streams")
        n_bins = counts[0]
    if cat_baseline is not None:
        cat_baseline = _materialize(cat_baseline,
                                    reason="drift_stream.cat_baseline")

    reports: list = []

    def _handle(batch_df, batch_id):
        parts = []
        if baseline is not None:
            prof = histogram_profile(batch_df, cols, n_bins=n_bins,
                                     bounds=bounds)
            parts.append(psi_report(baseline, prof, alpha=alpha))
        if cat_baseline is not None:
            cat_cols = sorted(categories)
            top_k = max(len(v) for v in categories.values())
            cprof = category_profile(batch_df, cat_cols,
                                     categories=categories)
            parts.append(psi_report(cat_baseline, cprof, alpha=alpha,
                                    n_buckets=top_k + 2))
        rep = parts[0]
        for p in parts[1:]:
            rep = rep.unionByName(p)
        for r in rep.collect():  # tiny: one row per column
            reports.append((int(batch_id), r["column"], r["psi"],
                            r["old_rows"], r["new_rows"]))

    drain(spark, input_dir,
          lambda s: batch_sink(s, _handle, query_name=query_name),
          schema=schema, max_files_per_trigger=max_files_per_trigger)
    return spark.createDataFrame(
        reports, "batch_id long, column string, psi double, "
                 "old_rows long, new_rows long")
