"""Seeded NumPy reference implementation — the executable spec.

Every statistical test of the reference (lytics/anomalyzer) is reimplemented
here, faithful to the Go code at /root/reference/algorithms.go and
anomalyze.go, including the quirks catalogued in SURVEY.md §2.6. This module
is the single source of truth for semantics: the batch MC kernel
(operators/kernel.py) and streaming ``detect_stream`` run the Monte-Carlo
tests from here over blocks of equal-length keys (``mc_probs``), and the
test suite cross-checks the pure-column Spark expressions against them.

Pinned govector semantics (the dep is not vendored in the reference tree;
SURVEY.md §7.4 requires pinning):
  * ``rank``: 0-based min-rank — rank(x) = #{y : y < x}. This matches the
    public govector ``Rank`` (first index of the value in the sorted copy).
    Tie policy only matters for rank-sum comparisons, which are invariant
    under a constant rank offset, so 0- vs 1-based is immaterial.
  * ``ecdf``: F(q) = P(X <= q) (right-continuous empirical CDF).
  * ``rel_diff``: (x[i+1] - x[i]) / x[i] — scaled by the EARLIER point.
  * ``interpolate`` (algorithms.go:312-323): we use ``mn + i*step`` instead of
    the Go code's cumulative ``interp[i-1] + step``; difference is float
    rounding ~1e-15 and both our engine and this oracle use the same formula.

Determinism: the reference shuffles with the unseeded global RNG
(algorithms.go:126,189,300), so the shuffle spec is ours to pin. Two specs,
selected by ``AnomalyzerConf.perm_spec``:

* ``"hash"`` (default, the correctness contract): replicate ``r``'s
  permutation of an ``n``-point window is the argsort of
  ``md5(f"{conf.seed}|{key}|{TEST_ID}|{r}|{j}")`` over positions
  ``j = 0..n-1`` (lexicographic on the 32-char lowercase hex digest; md5
  collisions are ~2^-64 so ties never occur, and the position ``j`` is a
  deterministic tiebreak anyway). The exact same permutation is computed
  by this NumPy oracle, the Spark kernel (same code), and plain DuckDB SQL
  (``list_sort`` over ``md5(...)`` structs) — which is what lets the
  driver's DuckDB gate verify the Monte-Carlo tests end-to-end.
* ``"fast"`` (production scale): one md5 per (key, test) seeds a
  counter-based Philox generator that draws all permutations vectorized —
  same determinism, ~3.5× less batch-kernel CPU per key than the hash
  spec at the defaults (0.2 vs 0.7 ms on a 4-core x86-64 host), not
  SQL-expressible (``perm_matrix_fast``).
"""

from __future__ import annotations

import hashlib
from functools import partial

import numpy as np

from . import _md5vec
from .config import AnomalyzerConf

# Per-test hash-stream ids (keeps permutation streams independent across
# methods, so enabling one test never changes another's replicates).
_TEST_ID = {"diff": 1, "highrank": 2, "lowrank": 3, "ks": 4}


def extract_windows(v: np.ndarray, ref_size: int, active_size: int, min_ref_size: int):
    """Tail slicing with shrink-to-fit (algorithms.go:56-69).

    Returns (reference, active) or None when refSize < minRefSize.
    """
    n = len(v)
    active_size = min(active_size, n)
    ref_size = min(ref_size, n - active_size)
    if ref_size < min_ref_size:
        return None
    return v[n - active_size - ref_size : n - active_size], v[n - active_size :]


def rank(v: np.ndarray) -> np.ndarray:
    """0-based min-rank along the last axis (see module docstring):
    ``searchsorted(sort(v), v, side="left")`` per row. NumPy sorts NaN
    last, so a NaN ranks after every number."""
    v = np.asarray(v)
    nan = np.isnan(v)
    return np.where(nan, (~nan).sum(axis=-1, keepdims=True),
                    _rank_rows(v))


def _rank_rows(m: np.ndarray) -> np.ndarray:
    """Row-wise 0-based min-rank over the last axis by counting the
    strictly smaller entries. A NaN ranks 0 here, unlike in ``rank``: the
    permutation side of the diff test counts this way."""
    out = np.zeros(m.shape)
    for j in range(m.shape[-1]):
        out += m[..., j, None] < m
    return out


def ecdf_at(sample: np.ndarray, q: float) -> float:
    """P(X <= q) over `sample`."""
    return float(np.searchsorted(np.sort(sample), q, side="right")) / len(sample)


def rel_diff(v: np.ndarray) -> np.ndarray:
    """(x[i+1] - x[i]) / x[i] along the last axis (govector RelDiff as used
    at algorithms.go:107)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return (v[..., 1:] - v[..., :-1]) / v[..., :-1]


def diff(v: np.ndarray) -> np.ndarray:
    return v[1:] - v[:-1]


def weight_exp(x: float, base: float = 10.0) -> float:
    """(base^x - 1)/(base - 1) — horseshoe rescale (algorithms.go:98-100)."""
    return (base**x - 1.0) / (base - 1.0)


def cap(x: float, lo: float = 0.0, hi: float = 1.0) -> float:
    return max(min(x, hi), lo)


# ---------------------------------------------------------------- tests ----


def fence_test(v: np.ndarray, conf: AnomalyzerConf) -> float | None:
    """algorithms.go:73-93."""
    w = extract_windows(v, conf.reference_size, conf.active_size, -1)
    if w is None:  # unreachable with min_ref_size=-1, kept for parity
        return None
    _, active = w
    x = float(np.mean(active))
    if conf.lower_bound is None:  # one-sided: distance from upper bound only
        distance = x / conf.upper_bound
    else:
        half = (conf.upper_bound - conf.lower_bound) / 2.0
        mid = conf.lower_bound + half
        distance = abs(x - mid) / half
    return weight_exp(cap(distance), 10.0)


def magnitude_test(v: np.ndarray, conf: AnomalyzerConf) -> float | None:
    """algorithms.go:231-252. NOT rescaled to [0,1] here; Eval caps it."""
    w = extract_windows(v, conf.reference_size, conf.active_size, 1)
    if w is None:
        return None
    reference, active = w
    active_mean = float(np.mean(active))
    ref_mean = float(np.mean(reference))
    if ref_mean == 0.0:
        return 0.0 if active_mean == 0.0 else 1.0
    # NB: divides by a possibly NEGATIVE ref_mean (quirk §2.6.5); a negative
    # result is clamped to 0 by Eval's cap.
    return abs(active_mean - ref_mean) / ref_mean


def cdf_test(v: np.ndarray, conf: AnomalyzerConf) -> float | None:
    """algorithms.go:209-227: ECDF of |first differences| over the reference
    window, evaluated at mean(active)-mean(ref), rescaled to put tails at 1."""
    diffs = np.abs(diff(v))
    w = extract_windows(diffs, conf.reference_size - 1, conf.active_size, conf.active_size)
    if w is None:
        return None
    reference, active = w
    q = float(np.mean(active)) - float(np.mean(reference))
    percentile = ecdf_at(reference, q)
    return 2.0 * abs(0.5 - percentile)


def ks_stat(v: np.ndarray, conf: AnomalyzerConf) -> float | None:
    """algorithms.go:255-288 — grid-interpolated two-sample KS statistic."""
    w = mc_window("ks", len(v), conf)
    if w is None:
        return None
    return float(_ks_observed(np.asarray(v)[None], *w)[0])


def _ks_observed(V: np.ndarray, n1: int, n2: int) -> np.ndarray:
    """``ks_stat`` of each row of V over its last n1 + n2 points. The grid
    ends are Python's ``min``/``max`` of the two windows' extremes, and
    the CDF counts follow ``np.searchsorted(side="right")``, which sorts a
    NaN grid point after every value (the per-key spec's NaN handling)."""
    n = V.shape[-1]
    ref, act = V[..., n - n2 - n1 : n - n2], V[..., n - n2 :]
    rmin, amin, rmax, amax = ref.min(-1), act.min(-1), ref.max(-1), act.max(-1)
    return _ks_rows(ref, act, np.where(amin < rmin, amin, rmin),
                    np.where(amax > rmax, amax, rmax), nan_grid_counts_all=True)


def _ks_rows(ref: np.ndarray, act: np.ndarray, mn: np.ndarray,
             mx: np.ndarray, *, nan_grid_counts_all: bool = False) -> np.ndarray:
    """KS statistic per row over the last axis: the largest gap between the
    two empirical CDFs on n1 + n2 points evenly spaced from mn to mx
    (algorithms.go:255-288, ``interpolate`` at 312-323)."""
    n1, n2 = ref.shape[-1], act.shape[-1]
    grid = _ks_grid(mn, mx, n1 + n2)
    ref_le = sum(ref[..., j, None] <= grid for j in range(n1))
    act_le = sum(act[..., j, None] <= grid for j in range(n2))
    if nan_grid_counts_all:
        nan = np.isnan(grid)
        ref_le = np.where(nan, n1, ref_le)
        act_le = np.where(nan, n2, act_le)
    return _ks_gap(ref_le, act_le, n1, n2)


def _ks_grid(mn: np.ndarray, mx: np.ndarray, g: int) -> np.ndarray:
    """``g`` points evenly spaced from mn to mx along a new last axis."""
    step = (mx - mn) / (g - 1)
    return mn[..., None] + step[..., None] * np.arange(g, dtype=np.float64)


def _ks_gap(ref_le: np.ndarray, act_le: np.ndarray, n1: int,
            n2: int) -> np.ndarray:
    """Largest gap between the two ECDFs from their counts on the grid."""
    return np.max(np.abs(act_le / n2 - ref_le / n1), axis=-1)


def mc_window(test: str, n: int, conf: AnomalyzerConf) -> tuple[int, int] | None:
    """(reference, active) window lengths of an MC test on an n-point
    vector, or None when the test returns NA before drawing a single
    permutation. The answer depends on n alone, so it holds for a whole
    block of equal-length keys: callers check it first and digest only
    the keys and tests that pass."""
    ref = conf.reference_size
    if test == "diff":  # windows over the n - 1 relative differences
        n, ref = n - 1, ref - 1
    act = min(conf.active_size, n)
    ref = min(ref, n - act)
    if ref < conf.active_size:
        return None
    if test == "ks" and ref % act != 0:  # quirk §2.6.6
        return None
    return ref, act


def perm_matrix(
    conf_seed: int, key: str, test: str, perm_count: int, n: int
) -> np.ndarray:
    """(perm_count, n) matrix of engine-portable permutation indices.

    Row r = argsort of ``md5(f"{conf_seed}|{key}|{TEST_ID[test]}|{r}|{j}")``
    over j (see module docstring). ``key`` is the '|'-joined key string —
    Spark passes ``concat_ws('|', *keys)``, DuckDB builds the identical
    preimage with ``concat``.
    """
    return perm_matrices(conf_seed, [key], (test,), perm_count, n)[test][0]


def perm_matrices(
    conf_seed: int, keys: list[str], tests: tuple[str, ...],
    perm_count: int, n: int,
) -> dict[str, np.ndarray]:
    """Stacked (len(keys), perm_count, n) permutation matrices of several
    tests for a block of equal-length keys, from ONE vectorized md5 pass
    over every (test, key) prefix (_md5vec.perm_digest_batch). Results
    are byte-identical to the hashlib loop (tests/test_oracle_properties.py
    pins both paths): lexicographic order of the fixed-width lowercase hex
    digest == byte order of the raw 16-byte digest == numeric order of the
    128-bit integer, and the stable sort pins tie order to ascending j
    (matching DuckDB's list_sort over (hash, j) structs; md5 ties never
    occur in practice anyway)."""
    prefixes = [f"{conf_seed}|{k}|{_TEST_ID[t]}|".encode()
                for t in tests for k in keys]
    digests = _md5vec.perm_digest_batch(prefixes, perm_count, n)
    order = digest_order(digests).reshape(len(tests), len(keys), perm_count, n)
    return dict(zip(tests, order))


def digest_order(digests: np.ndarray) -> np.ndarray:
    """Stable argsort of 'S16' digests along the last axis, in byte order.
    The first 8 bytes read as a big-endian uint64 give that order wherever
    they differ; only rows where two digests tie on them are sorted again
    on all 16 bytes."""
    hi = np.ascontiguousarray(digests).view(">u8")[..., ::2].astype(np.uint64)
    order = np.argsort(hi, axis=-1, kind="stable")
    ranked = np.take_along_axis(hi, order, axis=-1)
    tie = (ranked[..., 1:] == ranked[..., :-1]).any(axis=-1)
    if tie.any():
        order[tie] = np.argsort(digests[tie], axis=-1, kind="stable")
    return order


def perm_matrix_fast(
    conf_seed: int, key: str, test: str, perm_count: int, n: int
) -> np.ndarray:
    """(perm_count, n) permutation indices — the vectorized production spec.

    One md5 per (key, test) derives a 64-bit root that keys a counter-based
    Philox generator; all ``perm_count`` permutations then come from one
    vectorized ``permuted`` call. Deterministic per (seed, key, test) like
    the hash spec and statistically uniform over S_n, but NOT expressible
    in SQL — correctness-contract queries use ``perm_matrix`` ("hash");
    this path exists because the hash spec costs ~perm_count·n md5 calls
    per key and test (~0.7 ms of CPU at the defaults), which dominates
    Monte-Carlo detect at 100k+ key cardinality (tools/scale_sweep.py
    measures both).

    VERSION PIN: determinism rides on NumPy's ``Generator.permuted`` +
    Philox stream, which NEP 19 only guarantees within a NumPy version. A
    driver/executor NumPy skew (or an upgrade between runs) can silently
    desync engine, stream, and cached results under ``perm_spec='fast'`` —
    deployments using 'fast' MUST pin one NumPy version across the cluster
    (tests/test_oracle_properties.py carries a golden permutation row that
    fails loudly if the stream ever changes). The contract default 'hash'
    depends only on md5 and is version-proof.
    """
    root = int.from_bytes(
        hashlib.md5(
            f"{conf_seed}|{key}|{_TEST_ID[test]}".encode()).digest()[:8],
        "little")
    rng = np.random.Generator(np.random.Philox(key=root))
    return rng.permuted(
        np.tile(np.arange(n, dtype=np.int64), (perm_count, 1)), axis=1)


def perm_block(
    conf: AnomalyzerConf, keys: list[str], tests: tuple[str, ...], n: int
) -> dict[str, np.ndarray]:
    """Stacked (len(keys), perm_count, n) permutation matrices per test by
    the conf's ``perm_spec``: the hash spec digests the whole block in one
    pass; the fast spec is one Philox draw per (key, test)."""
    if conf.perm_spec == "hash":
        return perm_matrices(conf.seed, keys, tests, conf.perm_count, n)
    return {t: np.stack([perm_matrix_fast(conf.seed, k, t, conf.perm_count, n)
                         for k in keys]) for t in tests}


# Each MC test below takes a block of K keys of one length n: V (K, n)
# values and perms (K, perm_count, n) permutation indices. The caller has
# checked the test's mc_window for n. The per-key forms further down are
# K=1 calls into them.

def rank_block(V: np.ndarray, conf: AnomalyzerConf, perms: np.ndarray, *,
               reverse: bool) -> np.ndarray:
    """highrank/lowrank (algorithms.go:142-205), (K,) probs.

    p = fraction of permutations whose active rank-sum is below (highrank)
    or above (lowrank) the observed active rank-sum. Shuffles the ENTIRE
    retained vector (quirk §2.6.2) — which, under our always-truncate spec,
    is exactly the act+ref window.
    """
    _, act = mc_window("highrank", V.shape[-1], conf)
    ranks = rank(V)
    active_sum = ranks[:, -act:].sum(axis=1)
    # rank(perm(v)) == perm(rank(v)): reuse the observed ranks
    perm_sums = np.take_along_axis(
        ranks[:, None, :], perms[:, :, -act:], axis=2).sum(axis=2)
    if reverse:
        significant = (perm_sums > active_sum[:, None]).sum(axis=1)
    else:
        significant = (perm_sums < active_sum[:, None]).sum(axis=1)
    return significant / conf.perm_count


def diff_block(V: np.ndarray, conf: AnomalyzerConf,
               perms: np.ndarray) -> np.ndarray:
    """algorithms.go:105-140 — permutation test on ranks of |RelDiff|,
    (K,) probs.

    Each replicate re-shuffles the RAW vector then recomputes reldiff+rank
    (differencing is not permutation-equivariant, so no rank-reuse shortcut).
    """
    _, act = mc_window("diff", V.shape[-1], conf)
    active_sum = rank(np.abs(rel_diff(V)))[:, -act:].sum(axis=1)
    perm = np.take_along_axis(V[:, None, :], perms, axis=2)
    perm_sums = _rank_rows(np.abs(rel_diff(perm)))[..., -act:].sum(axis=-1)
    significant = (perm_sums < active_sum[:, None]).sum(axis=1)
    return significant / conf.perm_count


def ks_block(V: np.ndarray, conf: AnomalyzerConf,
             perms: np.ndarray) -> np.ndarray:
    """algorithms.go:290-309 — p = fraction of permutations with KS <
    observed, (K,) probs."""
    n = V.shape[-1]
    n1, n2 = mc_window("ks", n, conf)
    obs = _ks_observed(V, n1, n2)
    if n1 + n2 == n:
        # Every replicate permutes the whole vector, so its grid is the
        # key's own min/max grid: count the few active slots against
        # M = (V <= grid) and take the reference counts as the rest.
        M = V[:, :, None] <= _ks_grid(V.min(-1), V.max(-1), n)[:, None, :]
        k = np.arange(len(V))[:, None]
        act_le = sum(M[k, perms[:, :, j]] for j in range(n1, n))
        ks = _ks_gap(M.sum(axis=1)[:, None, :] - act_le, act_le, n1, n2)
    else:
        win = np.take_along_axis(V[:, None, :], perms[:, :, n - n1 - n2 :],
                                 axis=2)
        ks = _ks_rows(win[..., :n1], win[..., n1:], win.min(axis=-1),
                      win.max(axis=-1))
    significant = (ks < obs[:, None]).sum(axis=1)
    return significant / conf.perm_count


_BLOCK_TESTS = {
    "diff": diff_block,
    "highrank": partial(rank_block, reverse=False),
    "lowrank": partial(rank_block, reverse=True),
    "ks": ks_block,
}


def mc_block(V: np.ndarray, conf: AnomalyzerConf, keys: list[str],
             tests: tuple[str, ...], perms=None) -> dict[str, np.ndarray]:
    """(K,) probs of each MC test for a block of K keys of one length:
    V (K, n) values, ``keys`` their '|'-joined key strings. Every test
    must pass its mc_window for n. ``perms`` maps a test to stacked
    (K, perm_count, n) permutations; by default one perm_block pass draws
    them for all tests at once."""
    if perms is None:
        perms = perm_block(conf, keys, tests, V.shape[-1])
    return {t: _BLOCK_TESTS[t](V, conf, perms[t]) for t in tests}


#: digest rows (keys × tests × perm_count × n) per block of equal-length
#: keys. The round loop's per-call NumPy overhead is amortized by this
#: size (14 keys at perm_count=500, n=5, one test), and the bound keeps a
#: block's (keys, perm_count, n) intermediates cache-sized for long
#: windows.
DIGEST_BUDGET = 36_000


def mc_probs(conf: AnomalyzerConf, tests: tuple[str, ...], vecs: list,
             keys: list[str]) -> dict[str, np.ndarray]:
    """(len(vecs),) probs of each MC test in ``tests`` for many keys of
    any lengths, NaN where the test returns NA: keys grouped by window
    length, each group cut into blocks of at most DIGEST_BUDGET digest
    rows (``mc_block``). A length whose tests all return NA is never
    digested. The batch MC kernel and ``eval_probs`` both run here."""
    out = {t: np.full(len(vecs), np.nan) for t in tests}
    lens = np.array([len(v) for v in vecs], dtype=np.int64)
    for n in np.unique(lens).tolist():
        live = tuple(t for t in tests if mc_window(t, n, conf))
        if not live:
            continue
        rows = np.flatnonzero(lens == n)
        per = max(1, DIGEST_BUDGET // (len(live) * conf.perm_count * n))
        for lo in range(0, len(rows), per):
            blk = rows[lo : lo + per]
            V = np.array([vecs[i] for i in blk], dtype=np.float64)
            for t, p in mc_block(V, conf, [keys[i] for i in blk], live).items():
                out[t][blk] = p
    return out


def _mc_test(test: str, v: np.ndarray, conf: AnomalyzerConf, key: str,
             perms) -> float | None:
    v = np.asarray(v)
    if mc_window(test, len(v), conf) is None:
        return None
    stacked = None if perms is None else {test: np.asarray(perms[test])[None]}
    return float(mc_block(v[None], conf, [key], (test,), stacked)[test][0])


def rank_test(v: np.ndarray, conf: AnomalyzerConf, key: str, *,
              reverse: bool, perms=None) -> float | None:
    """highrank/lowrank of one key (``rank_block``). ``perms`` optionally
    maps the test to this key's (perm_count, n) permutation matrix."""
    return _mc_test("lowrank" if reverse else "highrank", v, conf, key, perms)


def diff_test(v: np.ndarray, conf: AnomalyzerConf, key: str,
              perms=None) -> float | None:
    """diff test of one key (``diff_block``)."""
    return _mc_test("diff", v, conf, key, perms)


def bootstrap_ks_test(v: np.ndarray, conf: AnomalyzerConf, key: str,
                      perms=None) -> float | None:
    """bootstrap KS test of one key (``ks_block``)."""
    return _mc_test("ks", v, conf, key, perms)


# ------------------------------------------------------------- combiner ----


def method_prob(method: str, v: np.ndarray, conf: AnomalyzerConf,
                key: str = "", perms=None) -> float | None:
    """Raw (un-capped) prob of one configured method; None is the
    reference's NA. The one method→test mapping of ``eval_by_test``;
    ``mc_probs`` runs the MC tests of many keys at once.
    ``perms`` optionally maps an MC test to this key's (perm_count, n)
    permutation matrix."""
    if method == "magnitude":
        return magnitude_test(v, conf)
    if method == "fence":
        return fence_test(v, conf)
    if method == "cdf":
        return cdf_test(v, conf)
    if method in ("highrank", "lowrank"):
        return rank_test(v, conf, key, reverse=method == "lowrank",
                         perms=perms)
    if method == "diff":
        return diff_test(v, conf, key, perms)
    if method == "ks":
        return bootstrap_ks_test(v, conf, key, perms)
    raise ValueError(method)  # pragma: no cover — config validation forbids this


def _probmap(conf: AnomalyzerConf, prob_of) -> dict[str, float]:
    """Capped probs by test name (anomalyze.go:195-221) from
    ``prob_of(method)``, the raw prob or None (NA) of each configured
    method: NA results dropped, highrank/lowrank merged into 'rank' via
    max."""
    probmap: dict[str, float] = {}
    for method in conf.methods:
        p = prob_of(method)
        if p is None:
            continue
        p = cap(p)
        if method in ("highrank", "lowrank"):
            probmap["rank"] = max(probmap.get("rank", 0.0), p)
        else:
            probmap[method] = p
    return probmap


def eval_by_test(v: np.ndarray, conf: AnomalyzerConf, key: str = ""):
    """Per-test probs + weights (anomalyze.go:195-221).

    Returns (probmap, weightmap); highrank/lowrank merged into 'rank' via max;
    NA (None) results dropped; probs capped to [0,1].
    """
    probmap = _probmap(conf, lambda m: method_prob(m, v, conf, key))
    weightmap = {m: get_weight(m, p) for m, p in probmap.items()}
    return probmap, weightmap


def get_weight(name: str, prob: float) -> float:
    """anomalyze.go:225-241 — base 0.5; magnitude/fence upweighted to 5.0
    when their prob exceeds 0.8."""
    if name in ("magnitude", "fence") and prob > 0.8:
        return 5.0
    return 0.5


def _magnitude_gated(p: float | None, conf: AnomalyzerConf) -> bool:
    """The hard gate (anomalyze.go:173-175): a present magnitude prob
    below ``sensitivity`` zeroes the whole Eval, whatever the other tests
    return. ``p`` is the raw or the capped prob (capping is idempotent)."""
    return p is not None and cap(p) < conf.sensitivity


def _weighted(probmap: dict[str, float], conf: AnomalyzerConf) -> float:
    """Magnitude sensitivity hard gate, dynamic weights, weighted mean
    (anomalyze.go:170-192)."""
    if _magnitude_gated(probmap.get("magnitude"), conf):
        return 0.0
    weightmap = {m: get_weight(m, p) for m, p in probmap.items()}
    num = sum(probmap[m] * weightmap[m] for m in probmap)
    den = sum(weightmap.values())
    if den == 0.0:
        return 0.0
    return num / den


def eval_prob(v: np.ndarray, conf: AnomalyzerConf, key: str = "") -> float:
    """Full Eval (anomalyze.go:145-192): delay gate, per-test probs,
    magnitude sensitivity hard gate, dynamic weights, weighted mean."""
    if conf.delay and len(v) < conf.window_size:
        return 0.0
    return _weighted(eval_by_test(v, conf, key)[0], conf)


def eval_probs(vecs: list, conf: AnomalyzerConf,
               keys: list[str]) -> np.ndarray:
    """``eval_prob`` of many keys at once, bit-identical to one call per
    key: the closed-form tests per key first, then the MC tests of the
    keys no Eval gate zeroes through one ``mc_probs`` call (one digest
    pass and one vectorized test per block of equal-length keys), then
    the combiner per key."""
    vecs = [np.asarray(v, dtype=np.float64) for v in vecs]
    mc_tests = tuple(m for m in conf.methods if m in _TEST_ID)
    closed = {i: {m: method_prob(m, v, conf)
                  for m in conf.methods if m not in _TEST_ID}
              for i, v in enumerate(vecs)
              if not (conf.delay and len(v) < conf.window_size)}
    live = [i for i, det in closed.items()
            if not _magnitude_gated(det.get("magnitude"), conf)]
    mc = mc_probs(conf, mc_tests, [vecs[i] for i in live],
                  [keys[i] for i in live])
    out = np.zeros(len(vecs))
    for j, i in enumerate(live):
        def prob_of(m, det=closed[i], j=j):
            if m not in mc:
                return det[m]
            return None if np.isnan(mc[m][j]) else float(mc[m][j])
        out[i] = _weighted(_probmap(conf, prob_of), conf)
    return out
