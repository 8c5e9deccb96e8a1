"""Streaming CDC snapshot maintenance (streaming/changelog_stream.py).

The convergence contract: the maintained snapshot equals batch
``latest_changes`` over the WHOLE feed — under any micro-batch split,
any arrival order (including fully reversed, i.e. maximally
out-of-order sequences), and at-least-once replay. Plus bucket-store
mechanics: untouched buckets keep byte-identical files, tombstones are
retained and hidden, init_snapshot seeds a base the stream builds on.
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from anomalyzer_spark.functions.changelog import latest_changes
from anomalyzer_spark.streaming.changelog_stream import (
    init_snapshot, read_snapshot, run_changelog_stream_on_dir)

SCHEMA = "k long, v string, seq long, op string"


def _feed():
    """A CDC feed with every corner: multi-version keys, deletes,
    delete->reinsert, late (out-of-order) events for the same key."""
    rows = []
    for k in range(40):
        rows.append((k, f"v1-{k}", 10, "upsert"))
        if k % 2 == 0:
            rows.append((k, f"v2-{k}", 20, "upsert"))
        if k % 3 == 0:
            rows.append((k, "gone", 30, "delete"))
        if k % 9 == 0:
            rows.append((k, f"back-{k}", 40, "upsert"))
        if k % 5 == 0:  # a LATE event: lower seq than everything above
            rows.append((k, f"stale-{k}", 5, "upsert"))
    return rows


def _want(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    lat = latest_changes(df, ["k"], "seq")
    return sorted(map(tuple, lat.where(F.col("op") != "delete")
                      .select("k", "v", "seq").collect()))


def _write_batches(spark, sdir, batches):
    for bi, chunk in enumerate(batches):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1) \
            .write.mode("overwrite" if bi == 0 else "append").parquet(sdir)


def _run(spark, tmp_path, tag, batches, n_buckets=8):
    sdir = str(tmp_path / f"in_{tag}")
    _write_batches(spark, sdir, batches)
    snap = run_changelog_stream_on_dir(
        spark, sdir, str(tmp_path / f"store_{tag}"),
        str(tmp_path / f"ckpt_{tag}"), ["k"], "seq", op_col="op",
        n_buckets=n_buckets)
    return sorted(map(tuple, snap.select("k", "v", "seq").collect()))


@pytest.mark.slow
def test_stream_equals_batch_any_split_any_order(spark, tmp_path):
    rows = _feed()
    want = _want(spark, rows)
    assert want, "fixture must keep rows"
    third = len(rows) // 3
    forward = [rows[:third], rows[third:2 * third], rows[2 * third:]]
    got_f = _run(spark, tmp_path, "fwd", forward)
    assert got_f == want
    # REVERSED batch order: later sequences arrive first; every earlier
    # event is maximally late and must not regress the snapshot
    got_r = _run(spark, tmp_path, "rev", list(reversed(forward)))
    assert got_r == want
    # pathological split: one event per batch, shuffled deterministically
    import random
    shuf = rows[:]
    random.Random(7).shuffle(shuf)
    got_s = _run(spark, tmp_path, "shuf",
                 [shuf[i::7] for i in range(7)])
    assert got_s == want


@pytest.mark.slow
def test_replay_is_idempotent(spark, tmp_path):
    """Re-draining the same feed into the SAME store (fresh checkpoint =
    every batch replays) leaves the snapshot unchanged."""
    rows = _feed()
    want = _want(spark, rows)
    sdir = str(tmp_path / "in")
    _write_batches(spark, sdir, [rows[:30], rows[30:]])
    store = str(tmp_path / "store")
    for i in range(2):
        snap = run_changelog_stream_on_dir(
            spark, sdir, store, str(tmp_path / f"ckpt{i}"),
            ["k"], "seq", op_col="op", n_buckets=8)
        assert sorted(map(tuple, snap.select("k", "v", "seq")
                          .collect())) == want


@pytest.mark.slow
def test_tombstones_retained_and_hidden(spark, tmp_path):
    rows = [(1, "a", 1, "upsert"), (2, "b", 1, "upsert"),
            (1, "x", 2, "delete")]
    sdir = str(tmp_path / "in")
    _write_batches(spark, sdir, [rows])
    store = str(tmp_path / "store")
    snap = run_changelog_stream_on_dir(
        spark, sdir, store, str(tmp_path / "ckpt"),
        ["k"], "seq", op_col="op", n_buckets=4)
    assert [tuple(r) for r in snap.select("k", "v").collect()] \
        == [(2, "b")]
    all_rows = read_snapshot(spark, store, include_deleted=True)
    ts = [r for r in all_rows.collect() if r["_deleted"]]
    assert len(ts) == 1 and ts[0]["k"] == 1 and ts[0]["seq"] == 2
    # the tombstone keeps blocking: a late pre-delete upsert replays
    _write_batches(spark, sdir + "2", [[(1, "late", 1, "upsert")]])
    snap2 = run_changelog_stream_on_dir(
        spark, sdir + "2", store, str(tmp_path / "ckpt2"),
        ["k"], "seq", op_col="op", n_buckets=4)
    assert [tuple(r) for r in snap2.select("k", "v").collect()] \
        == [(2, "b")]


@pytest.mark.slow
def test_untouched_buckets_not_rewritten(spark, tmp_path):
    """A batch touching one key rewrites only that key's bucket
    partition; every other partition keeps its files (names + mtimes)."""
    rows = [(k, f"v-{k}", 1, "upsert") for k in range(64)]
    sdir = str(tmp_path / "in")
    _write_batches(spark, sdir, [rows])
    store = str(tmp_path / "store")
    run_changelog_stream_on_dir(
        spark, sdir, store, str(tmp_path / "ckpt"),
        ["k"], "seq", op_col="op", n_buckets=8)
    snap_dir = f"{store}/snapshot"
    stamp = {}
    for d in os.listdir(snap_dir):
        if d.startswith("_bucket="):
            stamp[d] = sorted(
                (f, os.path.getmtime(f"{snap_dir}/{d}/{f}"))
                for f in os.listdir(f"{snap_dir}/{d}")
                if f.endswith(".parquet"))
    _write_batches(spark, sdir + "2", [[(5, "new", 2, "upsert")]])
    run_changelog_stream_on_dir(
        spark, sdir + "2", store, str(tmp_path / "ckpt2"),
        ["k"], "seq", op_col="op", n_buckets=8)
    touched, same = 0, 0
    for d, files in stamp.items():
        now = sorted((f, os.path.getmtime(f"{snap_dir}/{d}/{f}"))
                     for f in os.listdir(f"{snap_dir}/{d}")
                     if f.endswith(".parquet"))
        if now == files:
            same += 1
        else:
            touched += 1
    assert touched == 1 and same == len(stamp) - 1


def test_init_snapshot_seeds_base(spark, tmp_path, conf_unchanged):
    """A seeded store takes the stream's changes on top; the drain and
    its bucket overwrites leave the session conf as they found it."""
    base = spark.createDataFrame(
        [(k, f"base-{k}", 0) for k in range(10)], "k long, v string, seq long")
    store = str(tmp_path / "store")
    init_snapshot(base, store, ["k"], n_buckets=4)
    _write_batches(spark, str(tmp_path / "in"),
                   [[(3, "upd", 5, "upsert"), (4, "x", 5, "delete")]])
    with conf_unchanged():
        snap = run_changelog_stream_on_dir(
            spark, str(tmp_path / "in"), store, str(tmp_path / "ckpt"),
            ["k"], "seq", op_col="op", n_buckets=4)
    got = {r["k"]: r["v"] for r in snap.collect()}
    assert got[3] == "upd" and 4 not in got and got[0] == "base-0"
    assert len(got) == 9


@pytest.mark.slow
def test_vacuum_tombstones(spark, tmp_path):
    """Vacuum drops tombstones at/below the watermark (affected buckets
    only — others keep byte-identical files), keeps newer tombstones,
    and deletes a bucket emptied entirely; the current view never
    changes."""
    from anomalyzer_spark.streaming.changelog_stream import (
        vacuum_tombstones)
    rows = ([(k, f"v-{k}", 1, "upsert") for k in range(32)]
            + [(k, "x", 2, "delete") for k in range(0, 32, 4)]   # old ts
            + [(1, "x", 9, "delete")])                            # new ts
    sdir = str(tmp_path / "in")
    _write_batches(spark, sdir, [rows])
    store = str(tmp_path / "store")
    snap = run_changelog_stream_on_dir(
        spark, sdir, store, str(tmp_path / "ckpt"),
        ["k"], "seq", op_col="op", n_buckets=8)
    want_current = sorted(map(tuple, snap.select("k", "v").collect()))

    before = read_snapshot(spark, store, include_deleted=True)
    n_ts_before = before.where("_deleted").count()
    assert n_ts_before == 9  # 8 old (k%4) + 1 newer (k=1)
    snap_dir = f"{store}/snapshot"
    stamp = {}
    for d in os.listdir(snap_dir):
        if d.startswith("_bucket="):
            stamp[d] = sorted(
                (f, os.path.getmtime(f"{snap_dir}/{d}/{f}"))
                for f in os.listdir(f"{snap_dir}/{d}")
                if f.endswith(".parquet"))

    n = vacuum_tombstones(spark, store, "seq", max_seq=2)
    assert n >= 1
    after = read_snapshot(spark, store, include_deleted=True)
    ts_after = [(r["k"], r["seq"]) for r in
                after.where("_deleted").collect()]
    assert ts_after == [(1, 9)]  # only the above-watermark tombstone
    got_current = sorted(map(tuple, read_snapshot(spark, store)
                             .select("k", "v").collect()))
    assert got_current == want_current
    # untouched buckets keep byte-identical files
    touched_dirs = set()
    for d, files in stamp.items():
        path = f"{snap_dir}/{d}"
        now = (sorted((f, os.path.getmtime(f"{path}/{f}"))
                      for f in os.listdir(path) if f.endswith(".parquet"))
               if os.path.isdir(path) else None)
        if now != files:
            touched_dirs.add(d)
    assert len(touched_dirs) == n
    # idempotent: nothing left at/below the watermark
    assert vacuum_tombstones(spark, store, "seq", max_seq=2) == 0
