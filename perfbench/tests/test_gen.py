import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen


def _digest(path):
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _series(path, seed):
    return gen.series(str(path), seed, gen.mc_lengths(seed, 50, 5), 5)


def test_series_same_seed_same_bytes(tmp_path):
    a, b = _series(tmp_path / "a", 7), _series(tmp_path / "b", 7)
    assert _digest(a.path) == _digest(b.path)
    assert a.describe == b.describe
    c = _series(tmp_path / "c", 8)
    assert _digest(c.path) != _digest(a.path)


def test_series_truth_matches_the_file(tmp_path):
    s = _series(tmp_path / "s", 3)
    t = pq.read_table(s.path).to_pandas().sort_values("ts")
    assert len(t) == s.describe["rows"] and t["event_id"].is_unique
    for key, rows in t.groupby("series"):
        np.testing.assert_array_equal(rows["value"].to_numpy()[-5:], s.tails[key])
        assert s.n_points[key] == len(rows)
        assert s.last_ts[key] == rows["ts"].max()
    assert 0 < s.describe["short_key_share"] < 0.5


def test_stream_file_is_deterministic(tmp_path):
    keys = ["s00000", "s00001", "s00002"]
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    for d in ("a", "b"):
        assert gen.stream_file(str(tmp_path / d / "f.parquet"), 5, 2, keys, 10, 4) == 12
    ta = pq.read_table(tmp_path / "a" / "f.parquet")
    assert ta.equals(pq.read_table(tmp_path / "b" / "f.parquet"))
    assert sorted(os.listdir(tmp_path / "a")) == ["f.parquet"]
    gen.stream_file(str(tmp_path / "a" / "g.parquet"), 6, 2, keys, 10, 4)
    assert not ta.equals(pq.read_table(tmp_path / "a" / "g.parquet"))
