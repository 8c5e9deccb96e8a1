"""Seeded NumPy reference implementation — the executable spec.

Every statistical test of the reference (lytics/anomalyzer) is reimplemented
here, faithful to the Go code at /root/reference/algorithms.go and
anomalyze.go, including the quirks catalogued in SURVEY.md §2.6. This module
is the single source of truth for semantics: the Spark kernel
(operators/kernel.py) imports these functions and runs them per key, and the
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
  same determinism, ~8× the throughput at 100k keys (BASELINE.md round-4
  sweep), not SQL-expressible (``perm_matrix_fast``).
"""

from __future__ import annotations

import hashlib

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
    """0-based min-rank (see module docstring)."""
    s = np.sort(v)
    return np.searchsorted(s, v, side="left").astype(np.float64)


def _rank_rows(m: np.ndarray) -> np.ndarray:
    """Row-wise 0-based min-rank for a (P, n) matrix, vectorized."""
    s = np.sort(m, axis=1)
    # searchsorted has no batched form; count strictly-smaller via broadcast.
    return (s[:, None, :] < m[:, :, None]).sum(axis=2).astype(np.float64)


def ecdf_at(sample: np.ndarray, q: float) -> float:
    """P(X <= q) over `sample`."""
    return float(np.searchsorted(np.sort(sample), q, side="right")) / len(sample)


def rel_diff(v: np.ndarray) -> np.ndarray:
    """(x[i+1] - x[i]) / x[i] (govector RelDiff as used at algorithms.go:107)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return (v[1:] - v[:-1]) / v[:-1]


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
    w = extract_windows(v, conf.reference_size, conf.active_size, conf.active_size)
    if w is None:
        return None
    reference, active = w
    n1, n2 = len(reference), len(active)
    if n1 % n2 != 0:  # quirk §2.6.6
        return None
    mn = min(reference.min(), active.min())
    mx = max(reference.max(), active.max())
    grid = _interpolate(mn, mx, n1 + n2)
    ref_cdf = np.searchsorted(np.sort(reference), grid, side="right") / n1
    act_cdf = np.searchsorted(np.sort(active), grid, side="right") / n2
    return float(np.max(np.abs(act_cdf - ref_cdf)))


def _interpolate(mn: float, mx: float, npoints: int) -> np.ndarray:
    step = (mx - mn) / (npoints - 1)
    return mn + step * np.arange(npoints, dtype=np.float64)


def perm_matrix(
    conf_seed: int, key: str, test: str, perm_count: int, n: int
) -> np.ndarray:
    """(perm_count, n) matrix of engine-portable permutation indices.

    Row r = argsort of ``md5(f"{conf_seed}|{key}|{TEST_ID[test]}|{r}|{j}")``
    over j (see module docstring). ``key`` is the '|'-joined key string —
    Spark passes ``concat_ws('|', *keys)``, DuckDB builds the identical
    preimage with ``concat``.
    """
    return perm_matrices(conf_seed, key, (test,), perm_count, n)[test]


def perm_matrices(
    conf_seed: int, key: str, tests: tuple[str, ...], perm_count: int, n: int
) -> dict[str, np.ndarray]:
    """Permutation matrices for SEVERAL tests of one key in one vectorized
    md5 pass (_md5vec.perm_digest_batch) — the per-digest cost drops ~3×
    when the whole perm_count·n·len(tests) digest batch amortizes the 64
    vectorized MD5 rounds, which is why the MC kernel asks for all its
    tests at once. Results are byte-identical to the hashlib loop
    (tests/test_oracle_properties.py pins both paths): lexicographic order
    of the fixed-width lowercase hex digest == byte order of the raw
    16-byte digest == numeric order of the 128-bit integer, and 'stable'
    pins tie order to ascending j (matching DuckDB's list_sort over
    (hash, j) structs; md5 ties never occur in practice anyway)."""
    prefixes = [
        f"{conf_seed}|{key}|{_TEST_ID[t]}|".encode() for t in tests]
    digests = _md5vec.perm_digest_batch(prefixes, perm_count, n)
    return {
        t: np.argsort(digests[i], axis=1, kind="stable")
        for i, t in enumerate(tests)
    }


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
    per key (~7 ms), which dominates Monte-Carlo detect at 100k+ key
    cardinality (tools/scale_sweep.py measures both).

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


def perms_for(
    conf: AnomalyzerConf, key: str, test: str, n: int
) -> np.ndarray:
    """Permutation matrix per the conf's ``perm_spec`` dispatch."""
    fn = perm_matrix if conf.perm_spec == "hash" else perm_matrix_fast
    return fn(conf.seed, key, test, conf.perm_count, n)


def perms_for_tests(
    conf: AnomalyzerConf, key: str, tests: tuple[str, ...], n: int
) -> dict[str, np.ndarray]:
    """All requested tests' permutation matrices for one key — the hash
    spec computes them in one vectorized md5 batch (the MC kernel's hot
    path); the fast spec is already one Philox draw per test."""
    if conf.perm_spec == "hash":
        return perm_matrices(conf.seed, key, tests, conf.perm_count, n)
    return {t: perm_matrix_fast(conf.seed, key, t, conf.perm_count, n)
            for t in tests}


class LazyPerms:
    """Batched-but-LAZY permutation matrices for one key.

    The MC tests early-exit (return None, zero digest work) on vectors too
    short for their windows — so the batch must not be computed before
    those guards run. Tests index this object AFTER their guards; the
    first access computes ALL requested tests in one vectorized pass
    (keys where one test's window fits almost always fit the others'),
    later accesses are dict lookups. A key whose every test early-exits
    never pays a single digest.
    """

    __slots__ = ("_conf", "_key", "_tests", "_n", "_mats")

    def __init__(self, conf: AnomalyzerConf, key: str,
                 tests: tuple[str, ...], n: int) -> None:
        self._conf, self._key, self._tests, self._n = conf, key, tests, n
        self._mats: dict[str, np.ndarray] | None = None

    def __getitem__(self, test: str) -> np.ndarray:
        if self._mats is None:
            self._mats = perms_for_tests(
                self._conf, self._key, self._tests, self._n)
        return self._mats[test]


def rank_test(v: np.ndarray, conf: AnomalyzerConf, key: str, *,
              reverse: bool, perms=None) -> float | None:
    """highrank/lowrank (algorithms.go:142-205).

    p = fraction of permutations whose active rank-sum is below (highrank)
    or above (lowrank) the observed active rank-sum. Shuffles the ENTIRE
    retained vector (quirk §2.6.2) — which, under our always-truncate spec,
    is exactly the act+ref window.
    """
    ranks = rank(v)
    w = extract_windows(ranks, conf.reference_size, conf.active_size, conf.active_size)
    if w is None:
        return None
    _, active = w
    active_sum = float(active.sum())
    act_n = len(active)

    # rank(perm(v)) == perm(rank(v)): reuse the observed ranks. ``perms``
    # (the kernel's lazy batch) is only indexed AFTER the window guard —
    # short vectors must stay digest-free.
    test = "lowrank" if reverse else "highrank"
    idx = perms[test] if perms is not None else perms_for(
        conf, key, test, len(v))
    perm_sums = ranks[idx[:, -act_n:]].sum(axis=1)
    if reverse:
        significant = int((perm_sums > active_sum).sum())
    else:
        significant = int((perm_sums < active_sum).sum())
    return significant / conf.perm_count


def diff_test(v: np.ndarray, conf: AnomalyzerConf, key: str,
              perms=None) -> float | None:
    """algorithms.go:105-140 — permutation test on ranks of |RelDiff|.

    Each replicate re-shuffles the RAW vector then recomputes reldiff+rank
    (differencing is not permutation-equivariant, so no rank-reuse shortcut).
    """
    with np.errstate(divide="ignore", invalid="ignore"):
        obs = rank(np.abs(rel_diff(v)))
    w = extract_windows(obs, conf.reference_size - 1, conf.active_size, conf.active_size)
    if w is None:
        return None
    _, active = w
    active_sum = float(active.sum())
    act_n = len(active)

    idx = perms["diff"] if perms is not None else perms_for(
        conf, key, "diff", len(v))
    perm = v[idx]  # (P, n)
    with np.errstate(divide="ignore", invalid="ignore"):
        d = np.abs((perm[:, 1:] - perm[:, :-1]) / perm[:, :-1])
    perm_ranks = _rank_rows(d)
    perm_sums = perm_ranks[:, -act_n:].sum(axis=1)
    significant = int((perm_sums < active_sum).sum())
    return significant / conf.perm_count


def bootstrap_ks_test(v: np.ndarray, conf: AnomalyzerConf, key: str,
                      perms=None) -> float | None:
    """algorithms.go:290-309 — p = fraction of permutations with KS < observed."""
    obs = ks_stat(v, conf)
    if obs is None:
        return None
    n = len(v)
    act = min(conf.active_size, n)
    refs = min(conf.reference_size, n - act)
    n1, n2 = refs, act

    idx = perms["ks"] if perms is not None else perms_for(
        conf, key, "ks", n)
    perm = v[idx][:, n - act - refs :]  # windows of each permutation
    ref = perm[:, :n1]
    active = perm[:, n1:]
    mn = perm.min(axis=1)
    mx = perm.max(axis=1)
    g = n1 + n2
    step = (mx - mn) / (g - 1)
    grid = mn[:, None] + step[:, None] * np.arange(g)[None, :]  # (P, g)
    sref = np.sort(ref, axis=1)
    sact = np.sort(active, axis=1)
    ref_cdf = (sref[:, None, :] <= grid[:, :, None]).sum(axis=2) / n1
    act_cdf = (sact[:, None, :] <= grid[:, :, None]).sum(axis=2) / n2
    ks = np.max(np.abs(act_cdf - ref_cdf), axis=1)
    significant = int((ks < obs).sum())
    return significant / conf.perm_count


# ------------------------------------------------------------- combiner ----


def method_prob(method: str, v: np.ndarray, conf: AnomalyzerConf,
                key: str = "", perms=None) -> float | None:
    """Raw (un-capped) prob of one configured method; None is the
    reference's NA. The one method→test mapping, shared by
    ``eval_by_test`` and the batch MC kernel (operators/kernel.py, which
    passes its lazily batched ``perms``)."""
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


def eval_by_test(v: np.ndarray, conf: AnomalyzerConf, key: str = ""):
    """Per-test probs + weights (anomalyze.go:195-221).

    Returns (probmap, weightmap); highrank/lowrank merged into 'rank' via max;
    NA (None) results dropped; probs capped to [0,1].
    """
    probmap: dict[str, float] = {}
    for method in conf.methods:
        p = method_prob(method, v, conf, key)
        if p is None:
            continue
        p = cap(p)
        if method in ("highrank", "lowrank"):
            probmap["rank"] = max(probmap.get("rank", 0.0), p)
        else:
            probmap[method] = p

    weightmap = {m: get_weight(m, p) for m, p in probmap.items()}
    return probmap, weightmap


def get_weight(name: str, prob: float) -> float:
    """anomalyze.go:225-241 — base 0.5; magnitude/fence upweighted to 5.0
    when their prob exceeds 0.8."""
    if name in ("magnitude", "fence") and prob > 0.8:
        return 5.0
    return 0.5


def eval_prob(v: np.ndarray, conf: AnomalyzerConf, key: str = "") -> float:
    """Full Eval (anomalyze.go:145-192): delay gate, per-test probs,
    magnitude sensitivity hard gate, dynamic weights, weighted mean."""
    if conf.delay and len(v) < conf.window_size:
        return 0.0
    probmap, weightmap = eval_by_test(v, conf, key)
    if "magnitude" in probmap and probmap["magnitude"] < conf.sensitivity:
        return 0.0  # hard gate, anomalyze.go:173-175
    num = sum(probmap[m] * weightmap[m] for m in probmap)
    den = sum(weightmap.values())
    if den == 0.0:
        return 0.0
    return num / den
