"""Crash contract of the generational store (streaming/_store.py), once
for every store built on it: a stream that dies inside a generation
publish and is restarted on the same checkpoint ends in the same store
state as a run that never crashed.

Three fault points, injected into ``_store``'s publish at the first
compaction tick (batch 1 of 4, ``compact_every=2``):

* ``before_write``: the batch's live directories are written, the
  generation is not, and the batch is never committed — the restart
  replays it;
* ``before_manifest``: the generation's parquet (and ``_SUCCESS``) is
  written but its ``_folded.json`` manifest is not, so readers must
  ignore it and the replay must rewrite it;
* ``torn_manifest``: the manifest's file is opened but its bytes are
  never written. A manifest written in place would be left empty and
  fail every later read with a ``JSONDecodeError``; the store must
  behave as at ``before_manifest``.

Replay safety also rests on the match step writing the batch before it
reads the store; that order lives once, in ``_store.match_batch``.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib

import numpy as np
import pytest

from anomalyzer_spark.streaming import (
    _store, audio_pairs_store, dhash_pairs_store, hll_sketch_store,
    mg_sketch_store,
    minhash_pairs_store, run_audio_stream_on_dir, run_dhash_stream_on_dir,
    run_minhash_stream_on_dir, run_semantic_stream_on_dir,
    run_sketch_stream_on_dir, run_video_stream_on_dir, semantic_pairs_store,
    video_pairs_store)
from test_dhash_stream import _corpus as _image_rows
from test_media_stream import _audio_rows, _video_rows

N_BATCHES = 4
STREAMING = pathlib.Path(_store.__file__).parent


def test_only_store_reads_a_live_batch_dir_back():
    """Outside ``_store`` a live ``batch_id=N`` directory is only ever
    written: re-reading the batch as the new side of the store join is
    ``match_batch``'s job."""
    reads = []
    for path in sorted(STREAMING.glob("*.py")):
        if path.name == "_store.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and any(isinstance(a, ast.Call)
                            and getattr(a.func, "id", None) == "batch_path"
                            for a in node.args)
                    and ".write" not in ast.unparse(node.func.value)):
                reads.append((path.name, node.lineno))
    assert reads == [], f"live batch dir read outside _store: {reads}"


def _write_batches(spark, rows, ddl, sdir):
    """One single-file parquet per batch, appended in batch order."""
    for bi in range(N_BATCHES):
        spark.createDataFrame(rows[bi::N_BATCHES], ddl).coalesce(1) \
            .write.mode("append").parquet(sdir)


def _text_rows():
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(60)]
    docs = [" ".join(rng.choice(vocab, 12)) for _ in range(12)]
    # near-duplicates landing in other batches than their sources
    docs += [d + " tail" for d in docs[:4]]
    return [(i, d) for i, d in enumerate(docs)]


def _vec_rows():
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((3, 8)) * 5
    vecs = np.concatenate([c + 0.3 * rng.standard_normal((6, 8))
                           for c in centers])
    return [(i, [float(x) for x in v.round(4)]) for i, v in enumerate(vecs)]


def _sketch_rows():
    rng = np.random.default_rng(3)
    return [(f"l{rng.integers(0, 5)}", f"s{rng.integers(0, 9)}")
            for _ in range(40)]


def _rows(df):
    return sorted(
        (tuple(round(x, 6) if isinstance(x, float) else x for x in r)
         for r in df.collect()), key=repr)


def _minhash(spark, sdir, store, ckpt):
    run_minhash_stream_on_dir(spark, sdir, store, ckpt, num_hashes=32,
                              bands=8, max_files_per_trigger=1,
                              compact_every=2)
    return _rows(minhash_pairs_store(spark, store))


def _dhash(spark, sdir, store, ckpt):
    run_dhash_stream_on_dir(spark, sdir, store, ckpt,
                            max_files_per_trigger=1, compact_every=2)
    return _rows(dhash_pairs_store(spark, store))


def _audio(spark, sdir, store, ckpt):
    run_audio_stream_on_dir(spark, sdir, store, ckpt, min_shared=5,
                            max_files_per_trigger=1, compact_every=2)
    return _rows(audio_pairs_store(spark, store))


def _video(spark, sdir, store, ckpt):
    run_video_stream_on_dir(spark, sdir, store, ckpt, min_shared=2,
                            max_files_per_trigger=1, compact_every=2)
    return _rows(video_pairs_store(spark, store))


def _semantic(spark, sdir, store, ckpt):
    cents = [v for _, v in _vec_rows()[::6]]  # one vector per cluster
    run_semantic_stream_on_dir(spark, sdir, store, ckpt, cents,
                               threshold=0.8, max_files_per_trigger=1,
                               compact_every=2)
    return _rows(semantic_pairs_store(spark, store))


def _sketch(spark, sdir, store, ckpt):
    run_sketch_stream_on_dir(spark, sdir, store, ckpt, ["lang", "source"],
                             p=8, mg_k=4, compact_every=2)
    return [_rows(read(spark, store))
            for read in (hll_sketch_store, mg_sketch_store)]


#: store -> (input rows, their DDL, drain + final read, the component
#: whose generation the first publish writes)
STORES = {
    "minhash": (_text_rows, "doc_id long, text string", _minhash,
                "buckets"),
    "dhash": (lambda: _image_rows(np.random.default_rng(31), n=12),
              "doc_id long, content binary", _dhash, "blocks"),
    "audio": (_audio_rows, "doc_id long, content binary", _audio, "fps"),
    "video": (_video_rows, "doc_id long, content binary", _video,
              "fblocks"),
    "semantic": (_vec_rows, "vec_id long, embedding array<double>",
                 _semantic, "vectors"),
    "sketch": (_sketch_rows, "lang string, source string",
               _sketch, "hll"),
}


@pytest.fixture(scope="module")
def baseline(spark, tmp_path_factory):
    """Per store: its input dir and the state of an uninterrupted run."""
    cache = {}

    def get(name):
        if name not in cache:
            rows, ddl, run, _ = STORES[name]
            tmp = tmp_path_factory.mktemp(f"base_{name}")
            sdir = str(tmp / "in")
            _write_batches(spark, rows(), ddl, sdir)
            cache[name] = sdir, run(spark, sdir, str(tmp / "store"),
                                    str(tmp / "ckpt"))
        return cache[name]

    return get


def _fail_once(monkeypatch, attr):
    """Make ``_store.<attr>`` raise on its first call, then behave."""
    orig = getattr(_store, attr)
    fired = []

    def faulty(*args, **kwargs):
        if not fired:
            fired.append(True)
            raise RuntimeError(f"injected crash in _store.{attr}")
        return orig(*args, **kwargs)

    monkeypatch.setattr(_store, attr, faulty)


def _tear_manifest(monkeypatch):
    """Make the first ``json.dump`` into a ``_folded.json`` file (or its
    temp file) raise: the file is open, none of its bytes are written."""
    orig = json.dump
    fired = []

    def faulty(obj, fp, *args, **kwargs):
        if not fired and "_folded.json" in os.path.basename(fp.name):
            fired.append(True)
            raise RuntimeError("injected crash in json.dump")
        return orig(obj, fp, *args, **kwargs)

    monkeypatch.setattr(json, "dump", faulty)


def _cases():
    """(name, point) pairs. before_write and all but one torn_manifest
    case run in the slow tier: the whole matrix takes several minutes on
    4 cores, over the default tier's budget."""
    for point in ("before_write", "before_manifest", "torn_manifest"):
        for name in STORES:
            slow = point == "before_write" or (
                point == "torn_manifest" and name != "dhash")
            yield pytest.param(name, point, id=f"{name}-{point}",
                               marks=[pytest.mark.slow] if slow else [])


@pytest.mark.parametrize(("name", "point"), list(_cases()))
def test_restart_after_publish_crash_converges(
        spark, baseline, tmp_path, monkeypatch, name, point):
    sdir, want = baseline(name)
    assert want, "the uninterrupted run must leave state to compare"
    run, first = STORES[name][2:]
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    if point == "torn_manifest":
        _tear_manifest(monkeypatch)
    else:
        _fail_once(monkeypatch, "publish_gen" if point == "before_write"
                   else "_write_manifest")
    with pytest.raises(Exception, match="injected crash"):
        run(spark, sdir, store, ckpt)
    monkeypatch.undo()
    if point == "before_write":
        # the batch's data is in the store, its commit is not
        assert 1 in _store.live_batch_ids(store, first)
        assert not os.path.exists(f"{ckpt}/commits/1")
    else:
        # the crashed publish left a written generation without its
        # manifest, which no reader may take
        assert os.path.isfile(f"{store}/compacted/{first}/gen=1/_SUCCESS")
        assert _store.latest_gen(store, first) == (None, -1)
    assert run(spark, sdir, store, ckpt) == want
