import numpy as np
import pytest

from perfbench.stats import median, percentile, summary, supported


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = list(rng.random(37))
    for p in (0, 10, 50, 75, 90, 99, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))
    assert median([3.0, 1.0, 2.0, 10.0]) == 2.5


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_sample_count_rule():
    assert supported(1, 50)
    assert supported(40, 75) and not supported(39, 75)
    assert supported(100, 90) and not supported(99, 90)
    assert supported(1000, 99) and not supported(999, 99)


def test_summary_omits_unsupported_tails():
    assert summary([1.0] * 99) == {"n": 99, "p50": 1.0}
    s = summary(list(range(100)))
    assert s["n"] == 100 and s["p90"] == pytest.approx(89.1)
    assert summary([]) == {"n": 0}
