"""Hypothesis property tests over the NumPy oracle (the executable spec).

These run without Spark (fast) and pin spec-level invariants: output
ranges, gates, invariances under transformations the statistics must
respect. Spark equality with the oracle is covered elsewhere; here we check
the oracle itself behaves like the reference's math must.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from anomalyzer_spark import oracle
from anomalyzer_spark.config import AnomalyzerConf

finite = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                   allow_infinity=False, width=64)
vectors = st.lists(finite, min_size=5, max_size=40).map(
    lambda xs: np.asarray(xs, dtype=np.float64))
keys = st.integers(min_value=0, max_value=2**32 - 1).map(
    lambda i: f"k{i}")

DET = AnomalyzerConf(active_size=2, methods=("magnitude", "fence", "cdf"),
                     upper_bound=1e6, lower_bound=-1e6)
MC = AnomalyzerConf(active_size=2, methods=("highrank", "lowrank", "diff", "ks"),
                    perm_count=50)


@given(vectors, keys)
@settings(max_examples=200, deadline=None)
def test_eval_prob_in_unit_interval(v, key):
    for conf in (DET, MC):
        p = oracle.eval_prob(v, conf, key)
        assert 0.0 <= p <= 1.0


@given(vectors, keys)
@settings(max_examples=100, deadline=None)
def test_eval_truncation_invariance_deterministic(v, key):
    """Points beyond window_size never affect deterministic results
    (§2.6.2 spec). NOT asserted for Monte-Carlo tests at the oracle level:
    the reference shuffles the WHOLE retained vector (algorithms.go:126),
    so vector length changes the permutation draw — that's exactly why
    detect/tail_window truncate BEFORE the kernel runs (the engine-level
    truncation-invariance test in test_properties.py covers that path)."""
    tail = v[-DET.window_size:]
    assert oracle.eval_prob(v, DET, key) == \
        oracle.eval_prob(tail, DET, key)


pos_vectors = st.lists(
    st.floats(min_value=0.1, max_value=1e6, allow_nan=False, width=64),
    min_size=5, max_size=40).map(lambda xs: np.asarray(xs, np.float64))


@given(pos_vectors)
@settings(max_examples=100, deadline=None)
def test_magnitude_scale_invariance(v):
    """|act-ref|/ref is invariant under positive scaling (asserted on
    positive data — near-zero means hit catastrophic cancellation where
    relative error is unbounded, which is the reference's behavior too)."""
    c = AnomalyzerConf(active_size=2, methods=("magnitude",))
    m1 = oracle.magnitude_test(v, c)
    m2 = oracle.magnitude_test(v * 3.0, c)
    assert m2 == pytest_approx(m1)


def pytest_approx(x, rel=1e-9):
    import pytest
    return pytest.approx(x, rel=rel, abs=1e-12)


int_vectors = st.lists(
    st.integers(min_value=-10**6, max_value=10**6), min_size=5, max_size=40
).map(lambda xs: np.asarray(xs, np.float64))


@given(vectors)
@settings(max_examples=100, deadline=None)
def test_cdf_bounds(v):
    c = AnomalyzerConf(active_size=2, methods=("cdf",))
    p = oracle.cdf_test(v, c)
    if p is not None:
        assert 0.0 <= p <= 1.0 + 1e-12


@given(int_vectors)
@settings(max_examples=100, deadline=None)
def test_cdf_shift_invariance_exact_arithmetic(v):
    """First differences are shift-invariant — asserted on integer-valued
    data where v+100 is exact (float cancellation on tiny values changes
    diffs, which is the reference's float64 behavior too)."""
    c = AnomalyzerConf(active_size=2, methods=("cdf",))
    p1 = oracle.cdf_test(v, c)
    p2 = oracle.cdf_test(v + 100.0, c)
    assert p1 == p2


@given(keys)
@settings(max_examples=50, deadline=None)
def test_rank_tests_directional(key):
    """A strictly increasing series puts its maximum in the active window:
    highrank must be near 1, lowrank near 0 (and vice versa for a
    decreasing series). highrank/lowrank use independent RNG streams, so
    hi+lo<=1 does NOT hold in general — only this directional behavior."""
    c = AnomalyzerConf(active_size=2, methods=("highrank", "lowrank"),
                       perm_count=100)
    up = np.arange(10.0)
    assert oracle.rank_test(up, c, key, reverse=False) > 0.8
    assert oracle.rank_test(up, c, key, reverse=True) < 0.2
    down = up[::-1].copy()
    assert oracle.rank_test(down, c, key, reverse=False) < 0.2
    assert oracle.rank_test(down, c, key, reverse=True) > 0.8


@given(vectors)
@settings(max_examples=100, deadline=None)
def test_ks_stat_range(v):
    c = AnomalyzerConf(active_size=2, n_seasons=4, methods=("ks",))
    d = oracle.ks_stat(v, c)
    if d is not None:
        assert 0.0 <= d <= 1.0


@given(vectors, keys)
@settings(max_examples=50, deadline=None)
def test_seed_determinism(v, key):
    p1 = oracle.eval_prob(v, MC, key)
    p2 = oracle.eval_prob(v.copy(), MC, key)
    assert p1 == p2


def test_perm_matrix_fast_valid_and_deterministic():
    """Every row of the fast spec is a permutation; repeat calls identical;
    different keys/tests draw different streams."""
    from anomalyzer_spark import oracle

    a = oracle.perm_matrix_fast(42, "k1", "ks", 50, 12)
    b = oracle.perm_matrix_fast(42, "k1", "ks", 50, 12)
    assert (a == b).all()
    assert a.shape == (50, 12)
    for row in a:
        assert sorted(row.tolist()) == list(range(12))
    c = oracle.perm_matrix_fast(42, "k2", "ks", 50, 12)
    d = oracle.perm_matrix_fast(42, "k1", "diff", 50, 12)
    assert not (a == c).all() and not (a == d).all()


def test_perm_matrix_fast_golden_stream():
    """Golden rows for the Philox stream (computed under NumPy 1.26): NEP 19
    lets Generator.permuted change across NumPy releases, and perm_spec=
    'fast' determinism is only within one version — this pins the stream so
    an upgrade (or driver/executor version skew) fails HERE, loudly, rather
    than silently desyncing engine vs oracle vs cached results."""
    from anomalyzer_spark import oracle

    m = oracle.perm_matrix_fast(42, "k1", "highrank", 3, 10)
    assert m.tolist() == [
        [1, 3, 2, 4, 0, 9, 7, 6, 5, 8],
        [3, 5, 0, 2, 4, 9, 1, 8, 7, 6],
        [4, 2, 1, 3, 9, 6, 8, 0, 5, 7],
    ], ("NumPy's Philox/permuted stream changed (NEP 19): perm_spec='fast' "
        "results are no longer comparable with those from the NumPy version "
        "this golden was generated under — re-pin NumPy or invalidate any "
        "cached 'fast' results before re-goldening")


def test_perm_spec_fast_probs_agree_with_hash():
    """Both specs are valid Monte-Carlo estimators of the same p-value:
    on a strong-signal window their probs must agree within MC error
    (500 replicates → se ~0.02; assert 0.1)."""
    import numpy as np

    from anomalyzer_spark import oracle
    from anomalyzer_spark.config import AnomalyzerConf

    rng = np.random.default_rng(3)
    v = np.concatenate([rng.normal(10, 1, 40), [18.0, 19.0]])
    for spec_probs in ["highrank", "ks", "diff"]:
        h = AnomalyzerConf(active_size=2, n_seasons=20,
                           methods=(spec_probs,), perm_spec="hash")
        f = AnomalyzerConf(active_size=2, n_seasons=20,
                           methods=(spec_probs,), perm_spec="fast")
        if spec_probs == "highrank":
            ph = oracle.rank_test(v, h, "k", reverse=False)
            pf = oracle.rank_test(v, f, "k", reverse=False)
        elif spec_probs == "ks":
            ph = oracle.bootstrap_ks_test(v, h, "k")
            pf = oracle.bootstrap_ks_test(v, f, "k")
        else:
            ph = oracle.diff_test(v, h, "k")
            pf = oracle.diff_test(v, f, "k")
        assert abs(ph - pf) < 0.1, (spec_probs, ph, pf)


def test_perm_spec_validated():
    import pytest

    from anomalyzer_spark.config import AnomalyzerConf

    with pytest.raises(ValueError, match="perm_spec"):
        AnomalyzerConf(active_size=2, perm_spec="nope")


# --- vectorized md5 permutation path (_md5vec) -----------------------------

def test_md5vec_matches_hashlib_across_lengths():
    """md5_rows is byte-identical to hashlib for message lengths spanning
    the 1-block/2-block/3-block padding boundaries, mixed in one batch."""
    import hashlib

    from anomalyzer_spark import _md5vec

    rng = np.random.default_rng(7)
    lengths = [0, 1, 7, 54, 55, 56, 63, 64, 65, 118, 119, 120, 127, 128, 200]
    msgs = [bytes(rng.integers(0, 256, size=n, dtype=np.uint8))
            for n in lengths]
    width = max(lengths) + 1
    data = np.zeros((len(msgs), width), dtype=np.uint8)
    lens = np.array([len(m) for m in msgs], dtype=np.int64)
    for i, m in enumerate(msgs):
        data[i, : len(m)] = np.frombuffer(m, dtype=np.uint8)
    got = _md5vec.md5_rows(data, lens)
    want = np.array([hashlib.md5(m).digest() for m in msgs], dtype="S16")
    assert (got == want).all()
    ref = _md5vec._md5_rows_hashlib(data, lens)
    assert (got == ref).all()


def test_md5vec_accepts_overwide_padded_matrix():
    """A matrix padded wider than the batch-max padded block size (all
    rows short, width 200 → one 64-byte block) must still hash correctly:
    the dead columns are trimmed, not broadcast into the block buffer."""
    import hashlib

    from anomalyzer_spark import _md5vec

    data = np.zeros((3, 200), dtype=np.uint8)
    msgs = [b"abc", b"", b"0123456789"]
    for i, m in enumerate(msgs):
        data[i, : len(m)] = np.frombuffer(m, dtype=np.uint8)
    lens = np.array([len(m) for m in msgs], dtype=np.int64)
    got = _md5vec.md5_rows(data, lens)
    want = np.array([hashlib.md5(m).digest() for m in msgs], dtype="S16")
    assert (got == want).all()


def test_digest_order_equals_bytewise_stable_argsort():
    """digest_order sorts on the first 8 bytes as a big-endian uint64 and
    falls back to all 16 bytes only where those tie: digests whose first
    8 bytes collide (drawn from a 2-value alphabet), full duplicates,
    high bytes and trailing NUL bytes all order exactly like NumPy's
    stable argsort of the 'S16' array."""
    rng = np.random.default_rng(3)
    raw = rng.integers(0, 256, size=(400, 9, 16), dtype=np.uint8)
    head = rng.integers(0, 2, size=(400, 9, 1), dtype=np.uint8)
    raw[:200, :, :8] = head[:200] * np.uint8(0xF0)   # first-word ties
    raw[:100, :, 8:14] = head[:100] * np.uint8(0x80)  # deeper ties
    raw[100:150, 4] = raw[100:150, 2]                # full duplicates
    raw[150:200, :, 15] = 0                          # trailing NULs
    digests = raw.view("S16")[..., 0]
    got = oracle.digest_order(digests)
    want = np.argsort(digests, axis=-1, kind="stable")
    assert (got == want).all()


def test_perm_digest_batch_mixed_prefix_lengths():
    """One batch over prefixes of 0-70 bytes (every offset mod 4, one-
    and two-block messages) gives hashlib's digest for every entry."""
    import hashlib

    from anomalyzer_spark import _md5vec

    rng = np.random.default_rng(4)
    prefixes = [bytes(rng.integers(32, 127, size=k, dtype=np.uint8))
                for k in (0, 1, 2, 3, 17, 17, 44, 53, 55, 56, 63, 64, 70)]
    P, n = 12, 11
    got = _md5vec.perm_digest_batch(prefixes, P, n)
    want = np.array([[[hashlib.md5(p + f"{r}|{j}".encode()).digest()
                       for j in range(n)] for r in range(P)]
                     for p in prefixes], dtype="S16")
    assert got.shape == (len(prefixes), P, n)
    assert (got.view(np.uint8) == want.view(np.uint8)).all()


def test_perm_matrix_identical_to_hashlib_loop():
    """The vectorized hash-spec perm matrix equals the original hashlib
    digest loop exactly — same argsort input ordering, same stable ties."""
    import hashlib

    for key in ("k1", "user|with|pipes", "x" * 80):  # 80-char key → 2 blocks
        for (P, n) in ((50, 12), (20, 5), (7, 33)):
            got = oracle.perm_matrix(42, key, "ks", P, n)
            digests = np.empty((P, n), dtype="<U32")
            for r in range(P):
                pre = f"42|{key}|4|{r}|".encode()
                for j in range(n):
                    digests[r, j] = hashlib.md5(
                        pre + str(j).encode()).hexdigest()
            want = np.argsort(digests, axis=1, kind="stable")
            assert (got == want).all(), (key, P, n)


def test_perm_matrices_batch_equals_single():
    """perm_matrices' one digest pass over a block of keys (one of them a
    two-block preimage) equals per-(key, test) perm_matrix calls."""
    tests = ("diff", "highrank", "lowrank", "ks")
    keys = ["batchkey", "k2", "x" * 60]
    batch = oracle.perm_matrices(42, keys, tests, 30, 11)
    for t in tests:
        for i, k in enumerate(keys):
            single = oracle.perm_matrix(42, k, t, 30, 11)
            assert (batch[t][i] == single).all(), (t, k)


def _ks_block_per_replicate_grid(V, conf, perms):
    """ks_block's general path: each replicate's grid from the min and
    max of its own permuted window."""
    n = V.shape[-1]
    n1, n2 = oracle.mc_window("ks", n, conf)
    obs = oracle._ks_observed(V, n1, n2)
    win = np.take_along_axis(V[:, None, :], perms[:, :, n - n1 - n2:], axis=2)
    ks = oracle._ks_rows(win[..., :n1], win[..., n1:], win.min(axis=-1),
                         win.max(axis=-1))
    return (ks < obs[:, None]).sum(axis=1) / conf.perm_count


def test_ks_block_one_grid_per_key_equals_per_replicate_grid():
    """When the window spans the whole vector (n1 + n2 == n, every detect
    and detect_stream window), ks_block counts on the key's own min/max
    grid; the probs equal the per-replicate-grid path exactly, with tied
    values, NaN, signed zeros and a constant key."""
    rng = np.random.default_rng(3)
    for act in (1, 2, 3):
        conf = AnomalyzerConf(active_size=act, methods=("ks",), perm_count=60)
        n = conf.window_size
        for decimals in (0, 1, 8):
            V = np.round(rng.normal(0, 2, (9, n)), decimals)
            V[1, rng.integers(0, n)] = np.nan
            V[2] = 5.0
            V[3, :2] = (0.0, -0.0)
            keys = [f"g{act}_{decimals}_{i}" for i in range(len(V))]
            perms = oracle.perm_block(conf, keys, ("ks",), n)["ks"]
            got = oracle.ks_block(V, conf, perms)
            want = _ks_block_per_replicate_grid(V, conf, perms)
            assert np.array_equal(got, want, equal_nan=True), (act, decimals)
