"""Streaming image dedup: final dHash store state ≡ batch dhash_pairs.

The stream×history store (streaming/dhash_stream.py) must converge to the
batch operator's exact pair set regardless of how the corpus is split into
micro-batches or which member of a pair arrives first — the minhash_stream
equality contract, on the image signature path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from anomalyzer_spark.functions import multimodal
from anomalyzer_spark.streaming.dhash_stream import run_dhash_stream_on_dir
import pytest


def _corpus(rng, n=24):
    imgs = {}
    for i in range(n):
        imgs[i] = rng.integers(0, 256, size=(8, 9), dtype=np.uint8)
    # planted near-dups across batch boundaries: copies with 0-2 flips
    for src, dst, flips in ((0, 100, 0), (5, 101, 1), (11, 102, 2)):
        px = imgs[src].copy()
        for _ in range(flips):
            r, c = rng.integers(0, 8), rng.integers(0, 9)
            px[r, c] = 255 - px[r, c]
        imgs[dst] = px
    # one corrupt payload: must be skipped, not fail the stream
    rows = [(i, bytearray(b"P5\n9 8\n255\n" + px.astype(np.uint8).tobytes()))
            for i, px in imgs.items()]
    rows.append((999, bytearray(b"\x89PNG nope")))
    return rows


def _write_batches(spark, rows, sdir, order):
    for bi, ids in enumerate(order):
        part = [(i, b) for i, b in rows if i in ids]
        spark.createDataFrame(part, "doc_id long, content binary") \
            .coalesce(1).write.mode("overwrite" if bi == 0 else "append") \
            .parquet(sdir)


def _batch_pairs(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    return sorted(tuple(r) for r in
                  multimodal.dhash_pairs(df, max_hamming=3).collect())


def test_stream_equals_batch_both_orders(spark, tmp_path):
    rng = np.random.default_rng(31)
    rows = _corpus(rng)
    ids = [i for i, _ in rows]
    want = _batch_pairs(spark, rows)
    assert want, "fixture must plant pairs"

    splits = {
        "forward": [set(ids[:9]), set(ids[9:18]), set(ids[18:])],
        "reversed": [set(ids[18:]), set(ids[9:18]), set(ids[:9])],
    }
    for name, order in splits.items():
        sdir = str(tmp_path / f"in_{name}")
        _write_batches(spark, rows, sdir, order)
        got = run_dhash_stream_on_dir(
            spark, sdir, str(tmp_path / f"store_{name}"),
            str(tmp_path / f"ckpt_{name}"), max_files_per_trigger=1)
        assert sorted(tuple(r) for r in got.collect()) == want, name


@pytest.mark.slow
def test_stream_single_batch_and_compaction(spark, tmp_path):
    rng = np.random.default_rng(7)
    rows = _corpus(rng, n=12)
    want = _batch_pairs(spark, rows)
    sdir = str(tmp_path / "in_one")
    _write_batches(spark, rows, sdir,
                   [set(i for i, _ in rows[:5]),
                    set(i for i, _ in rows[5:10]),
                    set(i for i, _ in rows[10:])])
    got = run_dhash_stream_on_dir(
        spark, sdir, str(tmp_path / "store_c"), str(tmp_path / "ckpt_c"),
        max_files_per_trigger=1, compact_every=2)
    assert sorted(tuple(r) for r in got.collect()) == want
    # a second drain over the same input (fresh checkpoint) is idempotent
    got2 = run_dhash_stream_on_dir(
        spark, sdir, str(tmp_path / "store_c"), str(tmp_path / "ckpt_c2"),
        max_files_per_trigger=1, compact_every=2)
    assert sorted(tuple(r) for r in got2.collect()) == want


@pytest.mark.slow
def test_retention_evicts_block_dirs(spark, tmp_path):
    import glob
    rng = np.random.default_rng(13)
    rows = _corpus(rng, n=12)
    sdir = str(tmp_path / "in_r")
    _write_batches(spark, rows, sdir,
                   [set(i for i, _ in rows[:5]),
                    set(i for i, _ in rows[5:10]),
                    set(i for i, _ in rows[10:])])
    store = str(tmp_path / "store_r")
    run_dhash_stream_on_dir(
        spark, sdir, store, str(tmp_path / "ckpt_r"),
        max_files_per_trigger=1, retention_batches=1)
    # horizon 1: only the newest batch's block/pair dirs may survive
    for comp in ("blocks", "pairs"):
        live = sorted(glob.glob(f"{store}/{comp}/batch_id=*"))
        assert len(live) == 1, (comp, live)
