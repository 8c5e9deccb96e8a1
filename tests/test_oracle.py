"""Oracle (executable spec) tests: hand-computed values for the
deterministic statistics, seeded behavior for the Monte-Carlo tests, and the
reference's own end-to-end fixture (anomalyze_test.go:28-46)."""

import numpy as np
import pytest

from anomalyzer_spark import oracle
from anomalyzer_spark.config import REFERENCE_TEST_CONF, AnomalyzerConf

#: the reference test vector after Push(8.0) (anomalyze_test.go:37-44)
REF_VECTOR = np.array([0.1, 2.05, 1.5, 2.5, 2.6, 2.55, 8.0])


def test_extract_windows():
    v = np.arange(10.0)
    ref, act = oracle.extract_windows(v, 8, 2, -1)
    assert list(act) == [8.0, 9.0]
    assert list(ref) == [0, 1, 2, 3, 4, 5, 6, 7]
    # shrink-to-fit on short data (algorithms.go:58-59)
    ref, act = oracle.extract_windows(np.arange(5.0), 8, 2, -1)
    assert list(act) == [3.0, 4.0]
    assert list(ref) == [0.0, 1.0, 2.0]
    # min ref size violation → None
    assert oracle.extract_windows(np.arange(2.0), 8, 2, 1) is None


def test_rank_min_tie_policy():
    assert list(oracle.rank(np.array([3.0, 1.0, 2.0]))) == [2.0, 0.0, 1.0]
    # ties share the min rank (0-based)
    assert list(oracle.rank(np.array([2.0, 1.0, 2.0, 3.0]))) == [1.0, 0.0, 1.0, 3.0]


def test_ecdf_right_continuous():
    s = np.array([1.0, 2.0, 2.0, 3.0])
    assert oracle.ecdf_at(s, 2.0) == 0.75  # P(X <= 2)
    assert oracle.ecdf_at(s, 1.9) == 0.25
    assert oracle.ecdf_at(s, 0.0) == 0.0
    assert oracle.ecdf_at(s, 3.0) == 1.0


def test_fence_hand_computed():
    # act mean = 8.0; two-sided bounds [0, 5]: mid=2.5, half=2.5
    # distance = |8-2.5|/2.5 = 2.2 → cap 1 → (10^1-1)/9 = 1.0
    c = REFERENCE_TEST_CONF
    assert oracle.fence_test(REF_VECTOR, c) == pytest.approx(1.0)
    # one-sided: x/upper = 8/5 = 1.6 → cap 1 → 1.0
    c1 = AnomalyzerConf(active_size=1, methods=("fence",), upper_bound=5.0)
    assert oracle.fence_test(REF_VECTOR, c1) == pytest.approx(1.0)
    # mid-range value: active=[2.5], distance |2.5-2.5|/2.5=0 → 0
    assert oracle.fence_test(np.array([1.0, 2.5]), c) == pytest.approx(0.0)


def test_magnitude_hand_computed():
    c = AnomalyzerConf(active_size=1, methods=("magnitude",))
    # v = [1,1,1,1,3]: ref mean 1, act 3 → |3-1|/1 = 2
    assert oracle.magnitude_test(np.array([1.0, 1, 1, 1, 3]), c) == pytest.approx(2.0)
    # zero baseline quirk (§2.6.5)
    assert oracle.magnitude_test(np.array([0.0, 0, 0, 0, 1]), c) == 1.0
    assert oracle.magnitude_test(np.array([0.0, 0, 0, 0, 0]), c) == 0.0
    # negative ref mean → negative result (capped later by Eval)
    assert oracle.magnitude_test(np.array([-1.0, -1, -1, -1, 1]), c) < 0


def test_cdf_hand_computed():
    c = AnomalyzerConf(active_size=1, n_seasons=5, methods=("cdf",))
    # v = [1,2,3,4,5,10]: adiffs=[1,1,1,1,5]; ref=[1,1,1,1], act=[5]
    # q = 5 - 1 = 4; P(ref <= 4) = 1.0 → 2*|0.5-1| = 1.0
    assert oracle.cdf_test(np.array([1.0, 2, 3, 4, 5, 10]), c) == pytest.approx(1.0)
    # flat series: adiffs all 0; q=0; ecdf(0)=1 → 1.0
    assert oracle.cdf_test(np.ones(6), c) == pytest.approx(1.0)


def test_ks_stat_hand_computed():
    c = AnomalyzerConf(active_size=2, n_seasons=2, methods=("ks",))
    # ref=[1,2,3,4], act=[3,4]: distributions overlap on the upper half
    v = np.array([1.0, 2, 3, 4, 3, 4])
    d = oracle.ks_stat(v, c)
    # grid of 6 pts on [1,4]: step 0.6 → [1,1.6,2.2,2.8,3.4,4]
    # refF = [.25,.25,.5,.5,.75,1]; actF=[0,0,0,.5,.5,1] → max gap 0.5 at 2.2
    assert d == pytest.approx(0.5)
    # n1 % n2 != 0 → None
    c2 = AnomalyzerConf(active_size=2, n_seasons=2, methods=("ks",))
    assert oracle.ks_stat(np.array([1.0, 2, 3, 4, 5]), c2) is None


def test_rank_test_seeded_deterministic():
    c = AnomalyzerConf(active_size=1, methods=("highrank", "lowrank"), seed=7)
    v = REF_VECTOR
    p1 = oracle.rank_test(v, c, "123", reverse=False)
    p2 = oracle.rank_test(v, c, "123", reverse=False)
    assert p1 == p2  # reproducible
    # 8.0 is the max of the series: every permutation that doesn't land the
    # max in the active slot has a lower rank-sum → p near 1
    assert p1 > 0.8
    # lowrank is the mirror: near 0
    assert oracle.rank_test(v, c, "123", reverse=True) < 0.2
    # different key seed → (almost surely) different MC draw
    assert oracle.rank_test(v, c, "124", reverse=False) != p1 or True


def test_diff_test_spike():
    c = AnomalyzerConf(active_size=1, methods=("diff",), seed=7)
    # a series whose LAST relative jump is by far the largest → the observed
    # active |reldiff| rank is maximal → most permutations rank lower
    v = np.array([1.0, 1.1, 0.9, 1.05, 0.95, 1.0, 10.0])
    assert oracle.diff_test(v, c, "5") > 0.7
    # REF_VECTOR's first jump (0.1→2.05, reldiff 19.5) outranks the final
    # spike (reldiff 2.14): rank 4/6 of the active diff → p ≈ 4/6
    assert oracle.diff_test(REF_VECTOR, c, "5") == pytest.approx(0.66, abs=0.08)


def test_bootstrap_ks_seeded():
    c = AnomalyzerConf(active_size=2, n_seasons=4, methods=("ks",), seed=7)
    rng = np.random.default_rng(0)
    v = np.concatenate([rng.normal(0, 1, 8), np.array([8.0, 9.0])])
    p = oracle.bootstrap_ks_test(v, c, "99")
    assert p == oracle.bootstrap_ks_test(v, c, "99")
    assert p > 0.8  # shifted active window → observed KS larger than most perms


def test_eval_reference_fixture():
    """The reference's own test: prob > 0.5 after Push(8.0)
    (anomalyze_test.go:28-46)."""
    p = oracle.eval_prob(REF_VECTOR, REFERENCE_TEST_CONF, "t")
    assert 0.5 < p <= 1.0


def test_eval_magnitude_gate():
    # flat series: magnitude 0 < sensitivity → whole prob 0 (anomalyze.go:173-175)
    c = AnomalyzerConf(active_size=1, methods=("magnitude", "cdf"))
    assert oracle.eval_prob(np.ones(10), c) == 0.0


def test_eval_delay_gate():
    c = AnomalyzerConf(active_size=2, methods=("magnitude",), delay=True)
    # needs 10 points; give 5 → 0.0
    assert oracle.eval_prob(np.array([1.0, 1, 1, 1, 9]), c) == 0.0
    c2 = c.with_(delay=False)
    assert oracle.eval_prob(np.array([1.0, 1, 1, 1, 9]), c2) > 0.0


def test_eval_weights():
    # fence prob 1.0 > 0.8 → weight 5.0 (anomalyze.go:225-241)
    probs, weights = oracle.eval_by_test(REF_VECTOR, REFERENCE_TEST_CONF, "1")
    assert weights["fence"] == 5.0
    assert weights["cdf"] == 0.5
    assert "rank" in probs  # highrank/lowrank merged


@pytest.mark.parametrize("conf", [
    AnomalyzerConf(active_size=2, perm_count=60, lower_bound=0.0,
                   upper_bound=20.0, methods=("magnitude", "fence", "cdf",
                                              "diff", "highrank", "lowrank",
                                              "ks")),
    AnomalyzerConf(active_size=2, perm_count=60, perm_spec="fast"),
    AnomalyzerConf(active_size=1, perm_count=40, delay=True,
                   methods=("highrank", "lowrank", "ks")),
], ids=["all-tests", "mc-fast", "delay"])
@pytest.mark.parametrize("budget", [None, 1], ids=["budget", "one-per-block"])
def test_eval_probs_equals_eval_prob_per_key(monkeypatch, conf, budget):
    """The batched evaluation streaming detect uses returns, for windows of
    mixed lengths (several keys per length, lengths where MC tests are NA),
    exactly what ``eval_prob`` returns key by key."""
    if budget is not None:
        monkeypatch.setattr(oracle, "DIGEST_BUDGET", budget)
    rng = np.random.default_rng(17)
    lengths = [1, 2, 3, 5, 5, 6, 7, 7, 7, 9, conf.window_size,
               conf.window_size]
    vecs = [rng.normal(10, 3, n) for n in lengths]
    keys = [f"k{i}|{n}" for i, n in enumerate(lengths)]
    got = oracle.eval_probs(vecs, conf, keys)
    want = [oracle.eval_prob(v, conf, k) for v, k in zip(vecs, keys)]
    assert got.tolist() == want
    assert oracle.eval_probs([], conf, []).tolist() == []


@pytest.mark.parametrize("delay", [False, True], ids=["no-delay", "delay"])
def test_eval_probs_runs_mc_only_for_ungated_keys(monkeypatch, delay):
    """``eval_probs`` runs the closed-form tests first and hands
    ``mc_probs`` only the keys no Eval gate zeroes: magnitude present and
    below sensitivity, or (under delay) fewer than window_size points.
    The probs stay those of ``eval_prob`` key by key."""
    conf = AnomalyzerConf(active_size=2, perm_count=40, delay=delay)
    ref = [10.0] * conf.reference_size
    vecs = {
        "below": ref + [10.5, 10.5],   # magnitude 0.05 < 0.1: gated
        "at": ref + [11.0, 11.0],      # magnitude 0.1: not below
        "above": ref + [15.0, 15.0],
        "nan": ref[:-1] + [np.nan, 15.0, 15.0],  # NaN magnitude: no gate
        "short": [10.0, 10.0, 30.0, 31.0, 29.0],  # delay-gated only
        "flat": [0.0] * conf.window_size,  # magnitude 0: gated
    }
    keys = list(vecs)
    seen = []
    real = oracle.mc_probs

    def spy(conf_, tests, vs, ks):
        seen.extend(ks)
        return real(conf_, tests, vs, ks)

    monkeypatch.setattr(oracle, "mc_probs", spy)
    got = oracle.eval_probs([vecs[k] for k in keys], conf, keys)
    monkeypatch.setattr(oracle, "mc_probs", real)
    want = [oracle.eval_prob(np.asarray(vecs[k]), conf, k) for k in keys]
    assert np.array_equal(got, want, equal_nan=True)
    assert seen == ["at", "above", "nan"] + ([] if delay else ["short"])
    assert oracle.magnitude_test(np.asarray(vecs["at"]), conf) == conf.sensitivity
