"""End-to-end detect() tests: Spark result == oracle result per key, on both
a synthetic frame and the driver's events table (sf0.001)."""

import numpy as np
import pandas as pd
import pytest

from anomalyzer_spark import AnomalyzerConf, detect, detect_by_test, oracle


def _expected_per_key(pdf, keys, conf, ts="ts", value="value", tiebreak=None):
    """NumPy oracle applied per key to the tail window (the spec)."""
    out = {}
    sort_cols = [ts] + ([tiebreak] if tiebreak else [])
    for key, g in pdf.groupby(keys if len(keys) > 1 else keys[0]):
        g = g.sort_values(sort_cols)
        v = g[value].to_numpy(dtype=np.float64)[-conf.window_size :]
        kstr = "|".join(str(k) for k in (key if isinstance(key, tuple) else (key,)))
        out[key] = oracle.eval_prob(v, conf, kstr)
    return out


def test_detect_deterministic_methods(spark):
    conf = AnomalyzerConf(
        active_size=2, methods=("fence", "magnitude", "cdf"),
        upper_bound=10.0, lower_bound=0.0,
    )
    rng = np.random.default_rng(1)
    rows = []
    for key in ["a", "b", "c"]:
        base = {"a": 1.0, "b": 5.0, "c": 2.0}[key]
        for t in range(25):
            val = base + rng.normal(0, 0.2) + (8.0 if (key == "a" and t >= 23) else 0.0)
            rows.append((key, t, float(val)))
    pdf = pd.DataFrame(rows, columns=["k", "ts", "value"])
    df = spark.createDataFrame(pdf)

    got = {r["k"]: r["prob"] for r in detect(df, ["k"], "ts", "value", conf).collect()}
    exp = _expected_per_key(pdf, ["k"], conf)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-12), k
    assert got["a"] > 0.5  # the spiked key is anomalous
    assert got["b"] < got["a"]


def test_detect_full_methods_seeded(spark):
    """All 7 tests: Spark kernel must equal the seeded oracle bit-for-bit."""
    conf = AnomalyzerConf(
        active_size=2,
        methods=("magnitude", "ks", "highrank", "lowrank", "diff", "cdf", "fence"),
        upper_bound=20.0, lower_bound=0.0, perm_count=200, seed=11,
    )
    rng = np.random.default_rng(2)
    rows = []
    for ki in range(8):
        vals = rng.normal(5, 1, 30)
        if ki % 3 == 0:
            vals[-2:] += 10  # spike the last two points
        rows.extend((f"key{ki}", t, float(v)) for t, v in enumerate(vals))
    pdf = pd.DataFrame(rows, columns=["k", "ts", "value"])
    df = spark.createDataFrame(pdf).repartition(4)

    got = {r["k"]: r["prob"] for r in detect(df, ["k"], "ts", "value", conf).collect()}
    exp = _expected_per_key(pdf, ["k"], conf)
    for k in exp:
        assert got[k] == pytest.approx(exp[k], abs=1e-12), k
    for ki in range(8):
        if ki % 3 == 0:
            assert got[f"key{ki}"] > 0.5, ki


def test_detect_by_test_surface(spark):
    conf = AnomalyzerConf(
        active_size=1, methods=("cdf", "fence", "highrank", "lowrank", "magnitude"),
        upper_bound=5.0, lower_bound=0.0, perm_count=100,
    )
    pdf = pd.DataFrame(
        {"k": ["x"] * 7, "ts": range(7), "value": [0.1, 2.05, 1.5, 2.5, 2.6, 2.55, 8.0]}
    )
    row = detect_by_test(spark.createDataFrame(pdf), ["k"], "ts", "value", conf).collect()[0]
    assert row["prob_fence"] == pytest.approx(1.0)
    assert row["weight_fence"] == 5.0  # upweighted: prob > 0.8
    assert row["weight_cdf"] == 0.5
    assert "prob_rank" in row.asDict()  # merged highrank/lowrank
    assert row["prob"] > 0.5  # the reference's own assertion


def test_detect_by_test_prob_equals_detect(spark):
    """detect and detect_by_test share one body: under a conf mixing MC
    and deterministic tests their combined prob is identical per key,
    including keys too short for some tests (NA entries)."""
    conf = AnomalyzerConf(
        active_size=2, methods=("magnitude", "ks", "cdf", "highrank", "fence"),
        upper_bound=8.0, perm_count=100, seed=5,
    )
    rng = np.random.default_rng(3)
    rows = []
    for ki, n in enumerate([30, 30, 12, 5, 2, 1]):
        vals = rng.normal(4, 1, n)
        if ki % 2 == 0:
            vals[-2:] += 6
        rows.extend((f"key{ki}", t, float(v)) for t, v in enumerate(vals))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "ts", "value"]))

    plain = {r["k"]: r["prob"] for r in detect(df, ["k"], conf=conf).collect()}
    by_test = {r["k"]: r["prob"]
               for r in detect_by_test(df, ["k"], conf=conf).collect()}
    assert len(plain) == 6
    assert by_test == plain
    assert any(p > 0.0 for p in plain.values())


def test_detect_events_table(spark, sf_dir):
    """Smoke on driver data: runs, sane schema, probs in [0,1]."""
    from anomalyzer_spark.sources import load_table

    df = load_table(spark, sf_dir, "events")
    conf = AnomalyzerConf(active_size=2)  # default methods magnitude+ks
    out = detect(df, ["event_type"], "ts_ns", "value", conf,
                 tiebreak_cols=["event_id"]).collect()
    assert len(out) == 5
    for r in out:
        assert 0.0 <= r["prob"] <= 1.0
        assert r["n_points"] == conf.window_size


def test_detect_multi_key_and_horizon(spark, sf_dir):
    import pyspark.sql.functions as F

    from anomalyzer_spark.sources import load_table

    df = load_table(spark, sf_dir, "events")
    conf = AnomalyzerConf(active_size=2, methods=("magnitude", "cdf"))
    full = detect(df, ["event_type", "user_id"], "ts", "value", conf,
                  tiebreak_cols=["event_id"])
    # horizon pre-filter must not change results when generous
    horizoned = detect(df, ["event_type", "user_id"], "ts", "value", conf,
                       tiebreak_cols=["event_id"], horizon=F.expr("INTERVAL 365 DAYS"))
    a = {(r["event_type"], r["user_id"]): r["prob"] for r in full.collect()}
    b = {(r["event_type"], r["user_id"]): r["prob"] for r in horizoned.collect()}
    assert a == b
    assert len(a) > 50


def test_detect_insufficient_data_returns_zero(spark):
    """Regression: NULL (NA) test probs must stay NULL through the cap —
    Spark least/greatest skip NULLs, which once turned NA into prob 1.0.
    Reference behavior: all tests NA → empty probmap → weighted mean 0."""
    df = spark.createDataFrame(
        [("a", 1, 5.0), ("b", 1, 7.0)], "k string, ts long, value double"
    )
    out = {r["k"]: r["prob"] for r in
           detect(df, ["k"], "ts", "value", AnomalyzerConf(active_size=2)).collect()}
    assert out == {"a": 0.0, "b": 0.0}


def test_detect_skew_salts_splits_hot_key_same_result(spark):
    """Two-phase tail-N for hot-key skew: a deliberately skewed frame (one
    key with 20k in-horizon rows vs tiny siblings) run with skew_salts must
    (a) produce IDENTICAL results to the one-phase plan, and (b) actually
    split the hot key — the physical plan carries a phase-1 window
    partitioned by (key, _salt) before the per-key merge window."""
    conf = AnomalyzerConf(
        active_size=2, methods=("fence", "magnitude", "cdf"),
        upper_bound=10.0, lower_bound=0.0,
    )
    rng = np.random.default_rng(5)
    rows = [("hot", t, float(2.0 + rng.normal(0, 0.3))) for t in range(20_000)]
    for key in ("cold1", "cold2"):
        rows += [(key, t, float(1.0 + rng.normal(0, 0.1))) for t in range(30)]
    pdf = pd.DataFrame(rows, columns=["k", "ts", "value"])
    df = spark.createDataFrame(pdf)

    plain = detect(df, ["k"], "ts", "value", conf)
    salted = detect(df, ["k"], "ts", "value", conf, skew_salts=8)

    got_plain = {r["k"]: r for r in plain.collect()}
    got_salted = {r["k"]: r for r in salted.collect()}
    assert set(got_plain) == set(got_salted) == {"hot", "cold1", "cold2"}
    for k in got_plain:
        assert got_salted[k]["prob"] == got_plain[k]["prob"], k
        assert got_salted[k]["n_points"] == got_plain[k]["n_points"], k
        assert got_salted[k]["last_ts"] == got_plain[k]["last_ts"], k

    import re

    salted_plan = salted._jdf.queryExecution().executedPlan().toString()
    plain_plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "_salt" not in plain_plan
    # phase 1 exchanges on (k, _salt) — the hot key's rows hash across up
    # to skew_salts tasks instead of one — and windows by (k, _salt)
    assert re.search(r"Exchange hashpartitioning\(k#\d+, _salt#", salted_plan)
    assert re.search(r"windowspecdefinition\(k#\d+, _salt#", salted_plan)


def _mc_parity_rows():
    """(k1, k2, ts, value) rows: four keys of every length 1..window (10
    at active_size=2), rounded values so ranks tie, one key with a NULL
    component and one whose key string needs a two-block md5 preimage."""
    rng = np.random.default_rng(21)
    series = [(f"k{n}_{i}", i, n) for n in range(1, 11) for i in range(4)]
    series += [("nul", None, 10), ("L" * 60, 1, 10)]
    rows = []
    for k1, k2, n in series:
        vals = np.round(rng.normal(3, 1, n), 1)
        rows.extend((k1, k2, t, float(v)) for t, v in enumerate(vals))
    return rows


def _mc_expected(rows, conf):
    """oracle.method_prob per key over its last window_size points."""
    by_key: dict = {}
    for k1, k2, _, v in rows:  # rows are in ts order per key
        by_key.setdefault((k1, k2), []).append(v)
    out = {}
    for (k1, k2), vals in by_key.items():
        v = np.asarray(vals[-conf.window_size:])
        kstr = f"{k1}|{k2}"
        out[(k1, k2)] = {m: oracle.method_prob(m, v, conf, kstr)
                         for m in ("diff", "highrank", "lowrank", "ks")}
    return out


@pytest.mark.parametrize("perm_spec", ["hash", "fast"])
def test_mc_kernel_blocks_match_oracle_exactly(spark, perm_spec):
    """The batch kernel runs the MC tests over blocks of equal-length keys;
    with small Arrow batches mixing every window length (lengths where ks
    is NA by the n1 % n2 quirk but rank is not, and where diff is NA), a
    NULL key component and a two-block key, every per-test prob equals
    the per-key oracle bit for bit."""
    conf = AnomalyzerConf(
        active_size=2, methods=("diff", "highrank", "lowrank", "ks"),
        perm_count=40, seed=9, perm_spec=perm_spec)
    rows = _mc_parity_rows()
    df = spark.createDataFrame(
        rows, "k1 string, k2 long, ts long, value double")
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(batch)
    spark.conf.set(batch, "8")
    try:
        got = {(r["k1"], r["k2"]): r for r in
               detect_by_test(df, ["k1", "k2"], conf=conf).collect()}
    finally:
        spark.conf.set(batch, prev)
    exp = _mc_expected(rows, conf)
    assert set(got) == set(exp)
    for key, e in exp.items():
        r = got[key]
        assert r["prob_diff"] == e["diff"], key
        assert r["prob_ks"] == e["ks"], key
        ranks = [p for p in (e["highrank"], e["lowrank"]) if p is not None]
        assert r["prob_rank"] == (max(ranks) if ranks else None), key
    # the input covers both NA splits named above
    assert exp[("k4_0", 0)]["ks"] is not None
    assert exp[("k4_0", 0)]["diff"] is None
    assert exp[("k5_0", 0)]["ks"] is None
    assert exp[("k5_0", 0)]["highrank"] is not None


def test_mc_batch_splits_blocks_exactly(monkeypatch):
    """A digest budget small enough to cut each length group into several
    blocks (and to leave one key per block) changes no prob."""
    from anomalyzer_spark.operators import kernel

    conf = AnomalyzerConf(
        active_size=2, methods=("diff", "highrank", "lowrank", "ks"),
        perm_count=40, seed=9)
    rows = _mc_parity_rows()
    exp = _mc_expected(rows, conf)
    keys = list(exp)
    vecs = [[v for k1, k2, _, v in rows if (k1, k2) == key][-conf.window_size:]
            for key in keys]
    kstrs = [f"{k1}|{k2}" for k1, k2 in keys]
    for budget in (oracle.DIGEST_BUDGET, 3000, 1):
        monkeypatch.setattr(oracle, "DIGEST_BUDGET", budget)
        got = oracle.mc_probs(conf, kernel.MC_METHODS, vecs, kstrs)
        for i, key in enumerate(keys):
            for m in kernel.MC_METHODS:
                want = exp[key][m]
                assert (np.isnan(got[m][i]) if want is None
                        else got[m][i] == want), (budget, key, m)


def _gate_rows():
    """(k, ts, value) rows whose keys straddle the Eval gates at
    active_size=2, sensitivity 0.1: magnitude below, at and above
    sensitivity, a NaN value, a flat key (magnitude 0), keys shorter than
    the window and random keys."""
    rng = np.random.default_rng(8)
    ref = [10.0] * 8
    series = {
        "below": ref + [10.5, 10.5],
        "at": ref + [11.0, 11.0],
        "above": ref + [15.0, 15.0],
        "nan": ref[:-1] + [float("nan"), 15.0, 15.0],
        "flat": [0.0] * 10,
        "short": [10.0, 10.0, 30.0, 31.0, 29.0],
        "one": [4.0],
    }
    for i in range(12):
        series[f"r{i}"] = list(np.round(rng.normal(5, 1, 6 + i % 5), 1))
    return [(k, t, float(v)) for k, vs in series.items()
            for t, v in enumerate(vs)]


@pytest.mark.parametrize("conf", [
    AnomalyzerConf(active_size=2, perm_count=60, seed=3),
    AnomalyzerConf(active_size=2, perm_count=60, seed=3, delay=True),
    AnomalyzerConf(active_size=2, perm_count=60, seed=3,
                   methods=("ks", "highrank", "lowrank", "diff")),
    AnomalyzerConf(active_size=2, perm_count=60, seed=3, delay=True,
                   methods=("ks", "cdf")),
    AnomalyzerConf(active_size=2, perm_count=60, seed=3, upper_bound=20.0,
                   lower_bound=0.0, methods=("magnitude", "diff", "highrank",
                                             "lowrank", "fence", "ks", "cdf")),
], ids=["default", "delay", "no-gate", "delay-no-magnitude", "all-tests"])
def test_detect_gated_kernel_prob_equals_detect_by_test(spark, conf):
    """``detect`` skips the MC tests of keys an Eval gate zeroes;
    ``detect_by_test`` runs every test. Their ``prob`` agree exactly, and
    both match the NumPy oracle, for keys below, at and above
    sensitivity, with NaN values, short keys and under delay."""
    rows = _gate_rows()
    df = spark.createDataFrame(rows, "k string, ts long, value double")
    got = {r["k"]: r["prob"] for r in detect(df, ["k"], conf=conf).collect()}
    full = {r["k"]: r["prob"] for r in
            detect_by_test(df, ["k"], conf=conf).collect()}
    assert got.keys() == full.keys()
    for k in got:
        assert got[k] == full[k] or (np.isnan(got[k]) and np.isnan(full[k])), k
    # the oracle caps a NaN prob to NaN, Spark's least/greatest to 1.0:
    # the NaN key is held to detect_by_test only
    pdf = pd.DataFrame([r for r in rows if r[0] != "nan"],
                       columns=["k", "ts", "value"])
    exp = _expected_per_key(pdf, ["k"], conf)
    for k, e in exp.items():
        assert got[k] == pytest.approx(e, abs=1e-12), k


def test_kernel_mask_skips_closed_rows(monkeypatch):
    """The kernel function, called in-process with a mask, returns NaN for
    every test of a masked row and ``oracle.mc_probs`` values for the
    rest; masked rows never reach ``oracle.mc_probs``."""
    from anomalyzer_spark.operators import kernel

    conf = AnomalyzerConf(active_size=2, perm_count=40, seed=4,
                          methods=("ks", "highrank", "diff"))
    rng = np.random.default_rng(6)
    vecs = pd.Series([rng.normal(3, 1, n) for n in (10, 10, 7, 10, 3, 10)])
    keys = pd.Series([f"m{i}" for i in range(len(vecs))])
    mask = pd.Series([True, False, True, False, True, True])
    want = oracle.mc_probs(conf, ("diff", "highrank", "ks"),
                           list(vecs[mask]), list(keys[mask]))
    seen = []
    real = oracle.mc_probs

    def spy(conf_, tests, vs, ks):
        seen.extend(ks)
        return real(conf_, tests, vs, ks)

    monkeypatch.setattr(oracle, "mc_probs", spy)
    body = kernel.mc_probs_udf(conf, ("diff", "highrank", "ks")).func
    (out,) = body(iter([(vecs, keys, mask)]))
    assert seen == list(keys[mask])
    assert list(out.columns) == list(kernel.MC_METHODS)
    assert out[~mask.to_numpy()].isna().all().all()
    for m in ("diff", "highrank", "ks"):
        assert np.array_equal(out[m][mask].to_numpy(), want[m], equal_nan=True)
    assert out["lowrank"].isna().all()
    (unmasked,) = body(iter([(vecs, keys, pd.Series([True] * len(vecs)))]))
    assert np.array_equal(unmasked[mask].to_numpy(), out[mask].to_numpy(),
                          equal_nan=True)
