"""The staged pure-column test expressions ``detect`` runs must match the
NumPy oracle exactly (same doubles — both sides use identical formulas)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomalyzer_spark import oracle
from anomalyzer_spark.config import AnomalyzerConf
from anomalyzer_spark.operators import columnar

VECTORS = [
    [0.1, 2.05, 1.5, 2.5, 2.6, 2.55, 8.0],
    [1.0, 2, 3, 4, 5, 10],
    [5.0, 4, 3, 2, 1, 0.5],
    [1.0, 1, 1, 1, 1, 1],
    [-3.0, -2, -1, 0, 1, 2],
    [2.0, 2, 2, 2, 9, 9],  # ties
    [1.5],  # too short for most tests
    [7.0, 3.0],
    list(np.linspace(0, 1, 10)),
    list(np.sin(np.arange(20)) * 3 + 5),
]

CONFS = [
    AnomalyzerConf(active_size=1, methods=("fence", "magnitude", "cdf", "ks"),
                   upper_bound=5.0, lower_bound=0.0),
    AnomalyzerConf(active_size=2, n_seasons=4, methods=("fence", "magnitude", "cdf", "ks"),
                   upper_bound=10.0),
    AnomalyzerConf(active_size=2, n_seasons=2, methods=("magnitude", "cdf", "ks")),
    AnomalyzerConf(active_size=5, n_seasons=1, methods=("magnitude", "cdf")),
]


def _spark_probs_all(spark, vecs, conf):
    """One job: every test vector as a row, staged the way ``detect``
    stages its tail windows (stage-1 stats, stage-2 diff stats, probs)."""
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "i: int, vec: array<double>",
    )
    s1 = columnar.stage1_cols(F.col("vec"), conf)
    staged = df.select("i", "vec", *[c.alias(n) for n, c in s1.items()])
    if "cdf" in conf.methods:
        s2 = columnar.stage2_cols(conf)
        staged = staged.select(
            "i", "vec", *s1, *[c.alias(n) for n, c in s2.items()])
    probs = columnar.staged_probs(conf)
    rows = staged.select("i", *[c.alias(k) for k, c in probs.items()]).collect()
    return {r["i"]: r.asDict() for r in rows}


@pytest.mark.parametrize("conf", CONFS)
def test_columnar_matches_oracle(spark, conf):
    all_got = _spark_probs_all(spark, VECTORS, conf)
    for i, vec in enumerate(VECTORS):
        got = all_got[i]
        v = np.array(vec, dtype=np.float64)
        if "fence" in conf.methods:
            exp = oracle.fence_test(v, conf)
            assert got["fence"] == pytest.approx(exp, abs=1e-12), (vec, "fence")
        exp = oracle.magnitude_test(v, conf)
        if exp is None:
            assert got["magnitude"] is None, (vec, "magnitude")
        else:
            assert got["magnitude"] == pytest.approx(exp, abs=1e-12), (vec, "magnitude")
        if "cdf" in conf.methods:
            exp = oracle.cdf_test(v, conf)
            if exp is None:
                assert got["cdf"] is None, (vec, "cdf")
            else:
                assert got["cdf"] == pytest.approx(exp, abs=1e-12), (vec, "cdf")
