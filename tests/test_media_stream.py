"""Streaming audio/video dedup: final store state ≡ the batch operators.

The stream×history stores (streaming/media_stream.py) must converge to
``multimodal.audio_matches`` / ``multimodal.video_matches`` exactly —
same pairs, same shared counts, same overlaps — regardless of how the
corpus splits into micro-batches or which member of a pair arrives first
(the minhash_stream/dhash_stream equality contract, on the last two
dedup modalities)."""

from __future__ import annotations

import pytest

import struct

import numpy as np
from pyspark.sql import functions as F

from anomalyzer_spark.functions import multimodal
from anomalyzer_spark.streaming.media_stream import (
    run_audio_stream_on_dir, run_video_stream_on_dir)


# ---- audio fixtures (test_audio_dedup conventions) ----

def _wav(samples: np.ndarray, rate: int = 8000) -> bytes:
    pcm = np.clip(samples * 32767.0, -32768, 32767).astype("<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(pcm)) + pcm


def _clip(seed: int, seconds: float = 1.0, rate: int = 8000) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t = np.arange(int(seconds * rate)) / rate
    x = np.zeros_like(t)
    for _ in range(6):
        f = rng.uniform(300, 2800)
        x += rng.uniform(0.2, 1.0) * np.sin(2 * np.pi * f * t
                                            + rng.uniform(0, 2 * np.pi))
    x += 0.1 * rng.standard_normal(len(t))
    return x / np.abs(x).max() * 0.8


def _audio_rows():
    clips = {i: _clip(i) for i in range(8)}
    clips[100] = clips[0]                  # exact copy of 0
    clips[101] = clips[3] * 0.5            # volume-scaled copy of 3
    rows = [(i, bytearray(_wav(x))) for i, x in clips.items()]
    rows.append((999, bytearray(b"RIFF????nope")))  # corrupt: skip, not fail
    return rows


# ---- video fixtures (test_video_dedup conventions) ----

def _pgm(px: np.ndarray) -> bytes:
    h, w = px.shape
    return f"P5\n{w} {h}\n255\n".encode() + px.astype(np.uint8).tobytes()


def _avi(frames: list[bytes]) -> bytes:
    def chunk(cid, body):
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\0" if len(body) & 1 else b"")

    hdrl = b"LIST" + (4).to_bytes(4, "little") + b"hdrl"
    movi_body = b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    movi = b"LIST" + len(movi_body).to_bytes(4, "little") + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _video_rows():
    rng = np.random.default_rng(17)

    def fr(n):
        return [_pgm(rng.integers(0, 256, size=(8, 9), dtype=np.uint8))
                for _ in range(n)]

    a = fr(8)
    b = a[:6] + fr(2)       # shares 6/8 frames with a
    c = fr(8)               # unrelated
    d = list(a)             # exact copy of a
    e = fr(8)
    rows = [(1, a), (2, b), (3, c), (4, d), (5, e)]
    return [(i, bytearray(_avi(frames))) for i, frames in rows]


def _write_batches(spark, rows, sdir, order):
    for bi, ids in enumerate(order):
        part = [(i, b) for i, b in rows if i in ids]
        spark.createDataFrame(part, "doc_id long, content binary") \
            .coalesce(1).write.mode("overwrite" if bi == 0 else "append") \
            .parquet(sdir)


def _rt(rows):
    return sorted((r["id_a"], r["id_b"], r[2], round(r[3], 6))
                  for r in rows)


def test_audio_stream_equals_batch_both_orders(spark, tmp_path):
    rows = _audio_rows()
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    want = _rt(multimodal.audio_matches(df, min_shared=5).collect())
    assert want, "fixture must plant audio pairs"
    ids = [i for i, _ in rows]
    splits = {
        "forward": [set(ids[:4]), set(ids[4:8]), set(ids[8:])],
        "reversed": [set(ids[8:]), set(ids[4:8]), set(ids[:4])],
    }
    for name, order in splits.items():
        sdir = str(tmp_path / f"ain_{name}")
        _write_batches(spark, rows, sdir, order)
        got = run_audio_stream_on_dir(
            spark, sdir, str(tmp_path / f"astore_{name}"),
            str(tmp_path / f"ackpt_{name}"),
            min_shared=5, max_files_per_trigger=1)
        assert _rt(got.collect()) == want, name


def test_video_stream_equals_batch_both_orders(spark, tmp_path):
    rows = _video_rows()
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    want = _rt(multimodal.video_matches(
        df, n_frames=8, min_shared=2).collect())
    assert want, "fixture must plant video pairs"
    ids = [i for i, _ in rows]
    splits = {
        "forward": [set(ids[:2]), set(ids[2:4]), set(ids[4:])],
        "reversed": [set(ids[4:]), set(ids[2:4]), set(ids[:2])],
    }
    for name, order in splits.items():
        sdir = str(tmp_path / f"vin_{name}")
        _write_batches(spark, rows, sdir, order)
        got = run_video_stream_on_dir(
            spark, sdir, str(tmp_path / f"vstore_{name}"),
            str(tmp_path / f"vckpt_{name}"),
            n_frames=8, min_shared=2, max_files_per_trigger=1)
        assert _rt(got.collect()) == want, name


@pytest.mark.slow
def test_audio_stream_compaction_and_replay(spark, tmp_path):
    rows = _audio_rows()
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    want = _rt(multimodal.audio_matches(df, min_shared=5).collect())
    ids = [i for i, _ in rows]
    sdir = str(tmp_path / "ain_c")
    _write_batches(spark, rows, sdir,
                   [set(ids[:4]), set(ids[4:8]), set(ids[8:])])
    got = run_audio_stream_on_dir(
        spark, sdir, str(tmp_path / "astore_c"), str(tmp_path / "ackpt_c"),
        min_shared=5, max_files_per_trigger=1, compact_every=2)
    assert _rt(got.collect()) == want
    # fresh-checkpoint re-drain over the same store is idempotent
    got2 = run_audio_stream_on_dir(
        spark, sdir, str(tmp_path / "astore_c"), str(tmp_path / "ackpt_c2"),
        min_shared=5, max_files_per_trigger=1, compact_every=2)
    assert _rt(got2.collect()) == want


@pytest.mark.slow
def test_video_retention_evicts_dirs(spark, tmp_path):
    import glob
    rows = _video_rows()
    ids = [i for i, _ in rows]
    sdir = str(tmp_path / "vin_r")
    _write_batches(spark, rows, sdir,
                   [set(ids[:2]), set(ids[2:4]), set(ids[4:])])
    store = str(tmp_path / "vstore_r")
    run_video_stream_on_dir(
        spark, sdir, store, str(tmp_path / "vckpt_r"),
        n_frames=8, min_shared=2, max_files_per_trigger=1,
        retention_batches=1)
    for comp in ("fblocks", "clipmeta", "pairs"):
        live = sorted(glob.glob(f"{store}/{comp}/batch_id=*"))
        assert len(live) == 1, (comp, live)
