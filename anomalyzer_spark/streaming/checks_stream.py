"""Streaming data-quality monitor — ``functions/checks.py`` evaluated
per micro-batch (the ``foreachBatch`` adapter, exactly drift_stream's
shape): did THIS batch of the ingest land complete / in-range /
conformant?

Batch-scope semantics are the honest contract and are what an ingest
gate wants: completeness, conformance, bounds, and row counts are
questions about the arriving batch. The two corpus-relative checks keep
their meaning too, scoped to the batch — ``uniqueness`` = no dups
WITHIN the batch (cross-batch dup detection is ``dedup_stream``'s job,
with real state), ``row_count`` = batch size bounds (a heartbeat: a
sudden empty batch is the classic dead-upstream signal).

The emitted frame is (batch_id, check, column, metric, value,
threshold, passed) — batches × checks rows, bounded regardless of
stream size. Gate = ``monitor.where("NOT passed")``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.checks import verify_checks
from ._drain import batch_sink, drain

__all__ = ["run_checks_stream_on_dir"]


def run_checks_stream_on_dir(
    spark: SparkSession,
    input_dir: str,
    checks: list[dict],
    *,
    schema=None,
    max_files_per_trigger: int = 1,
    query_name: str = "checks_stream_result",
) -> DataFrame:
    """Drain parquet files from ``input_dir`` (``_drain.drain``,
    availableNow), running the declared checks on each micro-batch;
    returns the monitor frame. Every row equals the offline
    ``verify_checks`` report of that batch alone (pinned in
    tests/test_streaming.py)."""
    if not checks:
        raise ValueError("run_checks_stream_on_dir needs checks")

    reports: list = []

    def _handle(batch_df, batch_id):
        for r in verify_checks(batch_df, checks).collect():
            reports.append((int(batch_id), r["check"], r["column"],
                            r["metric"], r["value"], r["threshold"],
                            r["passed"]))

    drain(spark, input_dir,
          lambda s: batch_sink(s, _handle, query_name=query_name),
          schema=schema, max_files_per_trigger=max_files_per_trigger)
    return spark.createDataFrame(
        reports, "batch_id long, check string, column string, "
                 "metric string, value double, threshold double, "
                 "passed boolean")
