"""validateConf parity tests (/root/reference/anomalyze.go:31-90)."""

import pytest

from anomalyzer_spark.config import AnomalyzerConf, DEFAULT_METHODS


def test_defaults():
    c = AnomalyzerConf(active_size=2)
    assert c.methods == DEFAULT_METHODS == ("magnitude", "ks")  # anomalyze.go:34
    assert c.n_seasons == 4
    assert c.reference_size == 8
    assert c.window_size == 10
    assert c.perm_count == 500
    assert c.sensitivity == 0.1
    assert c.delay is False


def test_unsupported_method():
    with pytest.raises(ValueError, match="Unsupported detection method"):
        AnomalyzerConf(active_size=2, methods=("bogus",))


def test_active_size_min():
    with pytest.raises(ValueError, match="at least of size 1"):
        AnomalyzerConf(active_size=0, methods=("magnitude",))


def test_reference_too_small():
    # act=1, nseasons=3 → ref=3 < 4 (anomalyze.go:61-63)
    with pytest.raises(ValueError, match="too small"):
        AnomalyzerConf(active_size=1, n_seasons=3, methods=("magnitude",))


def test_fence_bounds():
    with pytest.raises(ValueError, match="identical bounds"):
        AnomalyzerConf(active_size=2, methods=("fence",), upper_bound=1.0, lower_bound=1.0)
    with pytest.raises(ValueError, match="lower than the LowerBound"):
        AnomalyzerConf(active_size=2, methods=("fence",), upper_bound=1.0, lower_bound=2.0)
    # one-sided is fine (lower_bound None == reference NA)
    AnomalyzerConf(active_size=2, methods=("fence",), upper_bound=1.0)


def test_perm_count_default_restored():
    c = AnomalyzerConf(active_size=2, methods=("ks",), perm_count=0)
    assert c.perm_count == 500


def test_negative_perm_count_rejected():
    """A negative count used to pass validation and fail later inside the
    MC test (a zero-size reduction in a Spark Python worker)."""
    with pytest.raises(ValueError, match="perm_count"):
        AnomalyzerConf(methods=("magnitude", "ks"), perm_count=-5)


def test_sensitivity_default_restored():
    c = AnomalyzerConf(active_size=2, methods=("magnitude",), sensitivity=0.0)
    assert c.sensitivity == 0.1
