"""streaming._drain: the one file-stream drain of the library.

Every ``run_*_on_dir`` runner and every draining entry slot goes through
``_drain.drain``, which sets its confs on a private clone of the caller's
session and logs one DEBUG progress record per drain."""

import ast
import logging
import pathlib
import re
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress

from anomalyzer_spark.streaming import (run_minhash_stream_on_dir,
                                        run_resample_stream_on_dir)
from anomalyzer_spark.sources import load_table
from anomalyzer_spark.streaming._drain import (batch_sink, drain,
                                               drain_available_now,
                                               progress_summary)

REPO = pathlib.Path(__file__).resolve().parents[1]


def _source_nodes():
    """(path, node) for every AST node of the package and the entry file."""
    files = sorted((REPO / "anomalyzer_spark").rglob("*.py")) + \
        [REPO / "__spark_entry__.py"]
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            yield str(path.relative_to(REPO)), node


def _stream_attrs():
    """(path, line, attribute) for every ``.readStream`` /
    ``.awaitTermination`` attribute in the package and the entry file."""
    return [(path, node.lineno, node.attr) for path, node in _source_nodes()
            if isinstance(node, ast.Attribute)
            and node.attr in ("readStream", "awaitTermination")]


def test_only_drain_opens_and_awaits_file_streams():
    """No runner or entry slot hand-rolls readStream → awaitTermination:
    outside ``_drain`` only the Kafka source opens a stream."""
    calls = _stream_attrs()
    allowed = ("anomalyzer_spark/streaming/_drain.py",
               "anomalyzer_spark/sources/kafka.py")
    outside = [c for c in calls if c[0] not in allowed]
    assert outside == [], f"stream drain outside _drain: {outside}"
    assert sorted(c[2] for c in calls
                  if c[0] == allowed[0]) == ["awaitTermination",
                                             "readStream"]


def test_only_the_drain_clone_writes_conf():
    """The library never writes a caller's session conf: every
    ``conf.set`` / ``conf.unset`` call is on the drain's private clone."""
    calls = [(path, node.lineno, ast.unparse(node.func.value))
             for path, node in _source_nodes()
             if isinstance(node, ast.Call)
             and isinstance(node.func, ast.Attribute)
             and node.func.attr in ("set", "unset")
             and isinstance(node.func.value, ast.Attribute)
             and node.func.value.attr == "conf"]
    outside = [c for c in calls
               if c[0] != "anomalyzer_spark/streaming/_drain.py"
               or c[2] != "clone.conf"]
    assert outside == [], f"conf written outside the drain clone: {outside}"
    assert calls, "the drain sets its confs through clone.conf"


def test_drain_confs_stay_off_concurrent_plans(spark, tmp_path):
    """A drain's ``state_partitions`` lives on its session clone: an
    aggregate planned on the caller's session while the drain's handler
    runs shuffles to the session's partition count, not the drain's 2."""
    sdir = str(tmp_path / "conc_in")
    spark.range(10).write.parquet(sdir)
    started, release = threading.Event(), threading.Event()
    errors = []

    def handle(batch_df, batch_id):
        started.set()
        release.wait(120)

    def run():
        try:
            drain(spark, sdir, lambda s: batch_sink(s, handle),
                  state_partitions=2)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    t = threading.Thread(target=run)
    t.start()
    try:
        assert started.wait(120), "the drain's handler never ran"
        agg = (spark.range(100).withColumn("k", F.col("id") % 7)
               .groupBy("k").count())
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        release.set()
        t.join(120)
    assert errors == [] and not t.is_alive()
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    assert parts != "2"
    assert re.findall(r"hashpartitioning\(k#\w+, (\d+)\)", plan) == [parts]


def _progress(batch_id, rows, durations, state=()):
    """A canned StreamingQueryProgress; ``state`` holds one
    (numRowsTotal, memoryUsedBytes) pair per state operator."""
    return StreamingQueryProgress.fromJson({
        "id": str(uuid.UUID(int=1)), "runId": str(uuid.UUID(int=2)),
        "name": "canned", "timestamp": "2026-01-01T00:00:00.000Z",
        "batchId": batch_id, "batchDuration": sum(durations.values()),
        "durationMs": durations, "numInputRows": rows,
        "stateOperators": [{
            "operatorName": "stateStoreSave", "numRowsTotal": n,
            "numRowsUpdated": 0, "numRowsRemoved": 0,
            "allUpdatesTimeMs": 0, "allRemovalsTimeMs": 0,
            "commitTimeMs": 0, "memoryUsedBytes": b,
            "numRowsDroppedByWatermark": 0, "numShufflePartitions": 1,
            "numStateStoreInstances": 1} for n, b in state],
        "sources": [],
        "sink": {"description": "MemorySink", "numOutputRows": rows},
    })


def test_progress_summary_fields():
    """Sums over every trigger, state from the last one: a stateful
    window ending in a no-data trigger (0 input rows, no walCommit
    phase, state still reported), a stateless window, and no triggers."""
    full = {"addBatch": 100, "walCommit": 10, "queryPlanning": 5,
            "triggerExecution": 130, "latestOffset": 3}
    stateful = [
        _progress(0, 7, full, state=[(4, 1000), (2, 500)]),
        _progress(1, 5, full, state=[(6, 1200), (3, 600)]),
        _progress(2, 0, {"addBatch": 20, "queryPlanning": 1,
                         "triggerExecution": 30},
                  state=[(6, 1100), (1, 400)]),
    ]
    assert progress_summary(stateful) == {
        "triggers": 3, "addBatch_ms": 220, "walCommit_ms": 20,
        "queryPlanning_ms": 11, "triggerExecution_ms": 290,
        "input_rows": 12, "state_rows": 7, "state_bytes": 1500}
    stateless = [_progress(0, 9, full), _progress(1, 4, full)]
    assert progress_summary(stateless) == {
        "triggers": 2, "addBatch_ms": 200, "walCommit_ms": 20,
        "queryPlanning_ms": 10, "triggerExecution_ms": 260,
        "input_rows": 13, "state_rows": 0, "state_bytes": 0}
    assert progress_summary([])["triggers"] == 0


def test_drain_logs_one_progress_record(spark, tmp_path, caplog):
    """A real stateful drain logs exactly one record, whose input rows
    equal the input's row count and whose state rows equal its keys."""
    sdir = str(tmp_path / "drain_in")
    df = spark.range(30).withColumn("k", F.col("id") % 5)
    df.repartition(3).write.mode("overwrite").parquet(sdir)
    with caplog.at_level(logging.DEBUG, logger="anomalyzer_spark"):
        res = drain_available_now(
            spark, sdir, lambda s: s.groupBy("k").count(), "drain_log_t",
            output_mode="update", max_files_per_trigger=1)
    recs = [r.getMessage() for r in caplog.records
            if r.name == "anomalyzer_spark"
            and r.getMessage().startswith("drain ")]
    assert len(recs) == 1, recs
    fields = dict(re.findall(r"(\w+)=(\S+)", recs[0]))
    assert recs[0].startswith("drain drain_log_t:")
    assert int(fields["input_rows"]) == df.count()
    assert int(fields["triggers"]) >= 3
    assert int(fields["state_rows"]) == 5
    assert int(fields["addBatch_ms"]) > 0 and "ms" in fields
    assert res.count() > 0


def test_drains_leave_nanos_as_long_unchanged(spark, tmp_path,
                                              conf_unchanged):
    """A drain sets nanosAsLong on its session clone only. There a
    TIMESTAMP(NANOS) input still streams (read as bigint, probed as
    epoch-ns) with the caller's nanosAsLong off: its resample buckets are
    the epoch-aligned hours."""
    with conf_unchanged():
        ndir = tmp_path / "nanos_in"
        ndir.mkdir()
        hour_ns = 3600 * 10**9
        t0 = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z
        ts = [t0 + i * hour_ns // 2 for i in range(8)]
        pq.write_table(pa.table({
            "k": ["a"] * 8,
            "ts": pa.array(ts, pa.timestamp("ns")),
            "value": [float(i) for i in range(8)],
        }), str(ndir / "part-0.parquet"))
        res = run_resample_stream_on_dir(
            spark, str(ndir), ["k"], "ts", "value", every_seconds=3600,
            watermark="0 seconds", query_name="nanos_resample_t")
        got = {(r["bucket"], r["value"], r["n_raw"]) for r in res.collect()}
        b0 = t0 // hour_ns
        # the watermark (max event time) withholds the last bucket
        assert got == {(b0 + i, 2 * i + 0.5, 2) for i in range(3)}

        ddir = str(tmp_path / "mh_in")
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy cat")],
            "doc_id long, text string").write.parquet(ddir)
        pairs = run_minhash_stream_on_dir(
            spark, ddir, str(tmp_path / "mh_store"),
            str(tmp_path / "mh_ckpt"), num_hashes=32, bands=8)
        assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 2)]


def test_continuous_curation_runs_until_stopped(spark, tmp_path):
    """``available_now=False`` starts a continuous ingest on Spark's
    default trigger: it processes every file, keeps running, and stops
    only when the caller stops it."""
    from anomalyzer_spark.pipeline import CurationConfig
    from anomalyzer_spark.streaming import run_curation_stream_on_dir

    sdir, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(
        [(i, f"document number {i} with a few words") for i in range(6)],
        "doc_id long, text string").repartition(2).write.parquet(sdir)
    q = run_curation_stream_on_dir(
        spark, sdir, out, str(tmp_path / "ckpt"), CurationConfig(dedup=None),
        available_now=False)
    try:
        q.processAllAvailable()
        assert q.isActive
        got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        assert got == set(range(6))
    finally:
        q.stop()


def test_detect_stream_slots_leave_session_conf_unchanged(
        spark, sf_dir, conf_unchanged):
    """Every session conf, nanosAsLong included, is the same after each
    call as before it: the ``detect_stream`` / ``detect_stream_mc`` entry
    slots (input schema read in the drain's clone), the ``dedup_stream``
    slot (a drain with ``state_partitions``) and ``load_table``."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in ("detect_stream", "detect_stream_mc", "dedup_stream"):
        with conf_unchanged():
            assert qs[name](spark, sf_dir).count() > 0, name
    with conf_unchanged():
        assert "ts_ns" in load_table(spark, sf_dir, "events").columns
