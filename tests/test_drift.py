"""Snapshot distribution drift (functions/drift.py): DuckDB value
parity for the full psi_drift composition, semantic pins (NULL bucket,
out-of-range clamp, constant column, self-drift = 0), and the
profile/compare split contract."""

import duckdb
import pytest
from pyspark.sql import functions as F

from anomalyzer_spark.functions.drift import (
    histogram_profile, psi_drift, psi_report)


def test_psi_drift_duckdb_parity(spark, sf_dir):
    old = spark.read.parquet(f"{sf_dir}/orders.parquet")
    new = old.withColumn("o_totalprice", F.col("o_totalprice") * 1.2)
    got = {r["column"]: (r["psi"], r["old_rows"], r["new_rows"])
           for r in psi_drift(old, new,
                              ["o_totalprice", "o_custkey"]).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{sf_dir}/orders.parquet')")
    # same spec in SQL: bounds from OLD, 10 equi-width bins + NULL
    # bucket, Laplace alpha=0.5 over B=11 buckets, PSI rounded to 6.
    want = {}
    for col, scale in [("o_totalprice", 1.2), ("o_custkey", 1.0)]:
        rows = con.execute(f"""
WITH b AS (SELECT min({col}::DOUBLE) lo, max({col}::DOUBLE) hi
           FROM orders),
o AS (SELECT CASE WHEN {col} IS NULL THEN -1
        WHEN (SELECT hi FROM b) <= (SELECT lo FROM b) THEN 0
        ELSE least(9, greatest(0, floor(({col}::DOUBLE - (SELECT lo FROM b))
          / (((SELECT hi FROM b) - (SELECT lo FROM b)) / 10))::INT)) END
        AS bucket, count(*) cnt FROM orders GROUP BY 1),
n AS (SELECT CASE WHEN v IS NULL THEN -1
        WHEN (SELECT hi FROM b) <= (SELECT lo FROM b) THEN 0
        ELSE least(9, greatest(0, floor((v - (SELECT lo FROM b))
          / (((SELECT hi FROM b) - (SELECT lo FROM b)) / 10))::INT)) END
        AS bucket, count(*) cnt
      FROM (SELECT {col}::DOUBLE * {scale} AS v FROM orders) GROUP BY 1),
j AS (SELECT coalesce(o.bucket, n.bucket) bucket,
        coalesce(o.cnt, 0) oc, coalesce(n.cnt, 0) nc
      FROM o FULL OUTER JOIN n ON o.bucket = n.bucket),
t AS (SELECT sum(oc) ot, sum(nc) nt FROM j)
SELECT round(sum((p - q) * ln(p / q)), 6), (SELECT ot FROM t),
       (SELECT nt FROM t)
FROM (SELECT (oc + 0.5) / ((SELECT ot FROM t) + 0.5 * 11) p,
             (nc + 0.5) / ((SELECT nt FROM t) + 0.5 * 11) q FROM j)
""").fetchone()
        want[col] = (rows[0], rows[1], rows[2])
    for col in want:
        assert got[col][1:] == want[col][1:]
        # both engines round to 6: equal outright (probed: raw values
        # differ ~1e-16 from sum order, never at the rounding boundary)
        assert got[col][0] == want[col][0]


def test_self_drift_is_zero(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rep = psi_drift(df, df, ["o_totalprice", "o_orderkey"]).collect()
    assert all(r["psi"] == 0.0 for r in rep)


def test_null_bucket_counts_nullness_drift(spark):
    old = spark.range(0, 100).selectExpr("id * 1.0 AS x")
    new = spark.range(0, 100).selectExpr(
        "CASE WHEN id % 2 = 0 THEN id * 1.0 END AS x")
    psi = psi_drift(old, new, ["x"]).collect()[0]["psi"]
    assert psi > 0.25  # half the mass moved into the NULL bucket


def test_out_of_range_values_clamp_to_edge_buckets(spark):
    old = spark.range(0, 100).selectExpr("id * 1.0 AS x")  # [0, 99]
    new = spark.range(0, 100).selectExpr("id * 1.0 + 1000 AS x")
    prof = histogram_profile(
        new, ["x"], n_bins=10, bounds={"x": (0.0, 99.0)})
    rows = prof.collect()
    assert len(rows) == 1 and rows[0]["bucket"] == 9  # all clamp high
    psi = psi_drift(old, new, ["x"]).collect()[0]["psi"]
    assert psi > 0.25


def test_constant_column(spark):
    old = spark.range(0, 50).selectExpr("7.0 AS x")
    new = spark.range(0, 50).selectExpr("7.0 AS x")
    rep = psi_drift(old, new, ["x"]).collect()[0]
    assert rep["psi"] == 0.0


def test_profile_compare_split_matches_one_call(spark, sf_dir):
    # the production path (persisted profiles, shared bounds) must give
    # the same PSI as the convenience call
    old = spark.read.parquet(f"{sf_dir}/orders.parquet")
    new = old.withColumn("o_totalprice", F.col("o_totalprice") * 1.5)
    bounds = {"o_totalprice": (
        old.agg(F.min("o_totalprice")).first()[0],
        old.agg(F.max("o_totalprice")).first()[0])}
    po = histogram_profile(old, ["o_totalprice"], bounds=bounds)
    pn = histogram_profile(new, ["o_totalprice"], bounds=bounds)
    split = psi_report(po, pn).collect()[0]["psi"]
    one = psi_drift(old, new, ["o_totalprice"]).collect()[0]["psi"]
    assert split == one


def test_profile_is_tiny_and_buckets_bounded(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    prof = histogram_profile(df, ["l_quantity", "l_extendedprice"],
                             n_bins=10).collect()
    assert len(prof) <= 2 * 11
    assert all(-1 <= r["bucket"] <= 9 for r in prof)
    got = sum(r["cnt"] for r in prof if r["column"] == "l_quantity")
    assert got == df.count()


def test_spec_validation(spark):
    df = spark.range(1).selectExpr("1.0 AS x")
    with pytest.raises(ValueError):
        histogram_profile(df, [])
    with pytest.raises(ValueError):
        histogram_profile(df, ["x"], n_bins=0)
    with pytest.raises(ValueError):
        histogram_profile(df, ["x"], bounds={"y": (0, 1)})


# ---------------------------------------------------------------------------
# categorical drift
# ---------------------------------------------------------------------------

def test_psi_cat_drift_duckdb_parity(spark, sf_dir):
    from anomalyzer_spark.functions.drift import psi_cat_drift
    old = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # drift: force a chunk of statuses to a brand-new value (lands in
    # OTHER) and null out some priorities (lands in __NULL__)
    new = (old
           .withColumn("o_orderstatus", F.when(
               F.col("o_orderkey") % 4 == 0, F.lit("Z")
           ).otherwise(F.col("o_orderstatus")))
           .withColumn("o_orderpriority", F.when(
               F.col("o_orderkey") % 6 == 0, F.lit(None)
           ).otherwise(F.col("o_orderpriority"))))
    got = {r["column"]: (r["psi"], r["old_rows"], r["new_rows"])
           for r in psi_cat_drift(
               old, new, ["o_orderstatus", "o_orderpriority"],
               top_k=3).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{sf_dir}/orders.parquet')")
    want = {}
    for col, newv in [
        ("o_orderstatus",
         "CASE WHEN o_orderkey % 4 = 0 THEN 'Z' ELSE o_orderstatus END"),
        ("o_orderpriority",
         "CASE WHEN o_orderkey % 6 = 0 THEN NULL ELSE o_orderpriority END"),
    ]:
        row = con.execute(f"""
WITH vocab AS (SELECT {col} AS v FROM orders WHERE {col} IS NOT NULL
               GROUP BY 1 ORDER BY count(*) DESC, v ASC LIMIT 3),
o AS (SELECT CASE WHEN {col} IS NULL THEN '__NULL__'
        WHEN {col} IN (SELECT v FROM vocab) THEN {col}
        ELSE '__OTHER__' END AS bucket, count(*) cnt FROM orders GROUP BY 1),
n AS (SELECT CASE WHEN v IS NULL THEN '__NULL__'
        WHEN v IN (SELECT v FROM vocab) THEN v
        ELSE '__OTHER__' END AS bucket, count(*) cnt
      FROM (SELECT {newv} AS v FROM orders) GROUP BY 1),
j AS (SELECT coalesce(o.bucket, n.bucket) bucket,
        coalesce(o.cnt, 0) oc, coalesce(n.cnt, 0) nc
      FROM o FULL OUTER JOIN n ON o.bucket = n.bucket),
t AS (SELECT sum(oc) ot, sum(nc) nt FROM j)
SELECT round(sum((p - q) * ln(p / q)), 6),
       (SELECT ot FROM t)::BIGINT, (SELECT nt FROM t)::BIGINT
FROM (SELECT (oc + 0.5) / ((SELECT ot FROM t) + 0.5 * 5) p,
             (nc + 0.5) / ((SELECT nt FROM t) + 0.5 * 5) q FROM j)
""").fetchone()
        want[col] = (row[0], row[1], row[2])
    assert got == want


def test_cat_self_drift_zero_and_other_bucket(spark):
    from anomalyzer_spark.functions.drift import (
        category_profile, psi_cat_drift, top_categories)
    old = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), (None,)], "s string")
    assert psi_cat_drift(old, old, ["s"]).collect()[0]["psi"] == 0.0
    vocab = top_categories(old, ["s"], top_k=2)
    assert vocab == {"s": ["a", "b"]}  # count desc, value asc on the tie
    prof = {r["bucket"]: r["cnt"] for r in category_profile(
        old, ["s"], categories=vocab).collect()}
    assert prof == {"a": 2, "b": 1, "__OTHER__": 1, "__NULL__": 1}


def test_cat_new_value_lands_in_other(spark):
    from anomalyzer_spark.functions.drift import psi_cat_drift
    old = spark.createDataFrame([("x",)] * 50 + [("y",)] * 50, "s string")
    new = spark.createDataFrame([("x",)] * 50 + [("brand_new",)] * 50,
                                "s string")
    psi = psi_cat_drift(old, new, ["s"], top_k=5).collect()[0]["psi"]
    assert psi > 0.25


def test_psi_report_single_profile_subtree(spark, sf_dir):
    # scale contract: each snapshot's profile subtree (a corpus scan when
    # not pre-persisted) must appear ONCE in the executed plan — totals
    # come from a window over the tiny joined frame, not a self-join
    old = spark.read.parquet(f"{sf_dir}/orders.parquet")
    new = old.withColumn("o_totalprice", F.col("o_totalprice") * 1.2)
    rep = psi_drift(old, new, ["o_totalprice"])
    rep.collect()
    # AQE toString appends the pre-adaptive "Initial Plan" — count the
    # final section only
    plan = rep._jdf.queryExecution().executedPlan().toString() \
        .split("Initial Plan")[0]
    assert plan.count("FileScan parquet") == 2  # old profile + new profile
    assert plan.count("SortMergeJoin") == 1     # one full-outer, no totals join


@pytest.mark.slow
def test_merge_profiles_equals_whole_corpus_profile(spark, sf_dir):
    """Shard-wise profiles (shared explicit bounds) merged == the
    profile of the whole frame: exact, including NULL buckets — and a
    psi_report over merged shards matches one over the full profile."""
    from anomalyzer_spark.functions.drift import (merge_profiles,
                                                  psi_report)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    bounds = {c: (
        li.agg(F.min(c)).collect()[0][0],
        li.agg(F.max(c)).collect()[0][0]) for c in cols}
    shards = [li.where(F.col("l_orderkey") % 3 == i) for i in range(3)]
    merged = merge_profiles([
        histogram_profile(s, cols, bounds=bounds) for s in shards])
    whole = histogram_profile(li, cols, bounds=bounds)
    assert sorted(map(tuple, merged.collect())) \
        == sorted(map(tuple, whole.collect()))
    rep_m = psi_report(merged, whole)
    assert all(r["psi"] == 0.0 for r in rep_m.collect())


def test_r14_review_nbins_migration_regressions(spark):
    """Shards profiled with different n_bins are rejected by
    merge_profiles like shards with different bounds: their buckets do
    not line up."""
    from anomalyzer_spark.functions.drift import merge_profiles
    df = spark.range(0, 200).selectExpr("id * 1.0 AS x")
    new = histogram_profile(df, ["x"], n_bins=20,
                            bounds={"x": (0.0, 199.0)})
    other = histogram_profile(df, ["x"], n_bins=10,
                              bounds={"x": (0.0, 199.0)})
    with pytest.raises(ValueError, match="inconsistent"):
        merge_profiles([new, other])


def test_profile_consumers_require_n_bins(spark):
    """Every histogram-profile consumer reads the bin count from the
    frame, so a frame without the n_bins column is rejected up front,
    naming the function that builds a valid one."""
    from anomalyzer_spark.functions.drift import (merge_profiles,
                                                  profile_quantiles)
    from anomalyzer_spark.functions.quality import normalize_scores
    df = spark.range(0, 50).selectExpr("id AS doc_id", "id * 1.0 AS x")
    cur = histogram_profile(df, ["x"], n_bins=20,
                            bounds={"x": (0.0, 49.0)})
    bare = cur.drop("n_bins")
    for call in (lambda: merge_profiles([cur, bare]),
                 lambda: profile_quantiles(bare, [0.5]),
                 lambda: psi_report(bare, cur),
                 lambda: psi_report(cur, bare),
                 lambda: normalize_scores(df, "x", profile=bare)):
        with pytest.raises(ValueError, match="histogram_profile"):
            call()


def test_psi_report_one_sided_column_smooths_with_its_count(spark):
    """A column profiled on one side only, and buckets occupied on one
    side only, smooth with the count that side persists: B = n_bins + 1
    = 21 here, checked against PSI computed by hand from the bucket
    counts."""
    import math
    bounds = {"x": (0.0, 99.0), "y": (0.0, 99.0), "z": (0.0, 99.0)}
    old = spark.range(0, 100).selectExpr("id * 1.0 AS x", "id * 1.0 AS y")
    new = spark.range(0, 40).selectExpr("id * 1.0 AS x", "id * 2.0 AS z")
    po = histogram_profile(old, ["x", "y"], n_bins=20, bounds=bounds)
    pn = histogram_profile(new, ["x", "z"], n_bins=20, bounds=bounds)
    got = {r["column"]: r for r in psi_report(po, pn).collect()}

    def counts(vals):
        out = {}
        for v in vals:
            b = min(19, math.floor(v / (99.0 / 20)))
            out[b] = out.get(b, 0) + 1
        return out

    def psi(oc, nc, alpha=0.5, B=21):
        ot, nt = sum(oc.values()), sum(nc.values())
        total = 0.0
        for b in set(oc) | set(nc):
            p = (oc.get(b, 0) + alpha) / (ot + alpha * B)
            q = (nc.get(b, 0) + alpha) / (nt + alpha * B)
            total += (p - q) * math.log(p / q)
        return total

    xs_old, xs_new = counts(range(100)), counts(range(40))
    zs = counts(2.0 * i for i in range(40))
    assert set(got) == {"x", "y", "z"}
    assert got["x"]["psi"] == pytest.approx(psi(xs_old, xs_new), abs=1e-6)
    assert got["y"]["psi"] == pytest.approx(psi(xs_old, {}), abs=1e-6)
    assert got["z"]["psi"] == pytest.approx(psi({}, zs), abs=1e-6)
    assert (got["y"]["new_rows"], got["z"]["old_rows"]) == (0, 0)


def test_merge_profiles_rejects_inconsistent_bounds(spark):
    from anomalyzer_spark.functions.drift import merge_profiles
    a = spark.createDataFrame([("x", 0, 5, 0.0, 1.0, 10)],
                              "column string, bucket int, cnt long, "
                              "lo double, hi double, n_bins int")
    b = spark.createDataFrame([("x", 0, 5, 0.0, 2.0, 10)],
                              "column string, bucket int, cnt long, "
                              "lo double, hi double, n_bins int")
    with pytest.raises(ValueError, match="inconsistent bounds"):
        merge_profiles([a, b])
    with pytest.raises(ValueError, match="at least one"):
        merge_profiles([])


def test_merge_category_profiles(spark):
    from anomalyzer_spark.functions.drift import (category_profile,
                                                  merge_category_profiles)
    cats = {"s": ["a", "b"]}
    d1 = spark.createDataFrame([("a",), ("b",), ("zz",)], "s string")
    d2 = spark.createDataFrame([("a",), (None,)], "s string")
    whole = category_profile(d1.unionByName(d2), ["s"], categories=cats)
    merged = merge_category_profiles([
        category_profile(d1, ["s"], categories=cats),
        category_profile(d2, ["s"], categories=cats)])
    assert sorted(map(tuple, merged.collect())) \
        == sorted(map(tuple, whole.collect()))


def test_profile_quantiles_within_bucket_width(spark, sf_dir):
    """Quantiles interpolated from a profile land within one bucket
    width of the exact percentile, and merged-shard profiles give the
    IDENTICAL answer (same buckets by construction)."""
    from anomalyzer_spark.functions.drift import (merge_profiles,
                                                  profile_quantiles)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    col = "l_extendedprice"
    lo, hi = [(r[0], r[1]) for r in li.agg(
        F.min(col), F.max(col)).collect()][0]
    n_bins = 20
    width = (hi - lo) / n_bins
    prof = histogram_profile(li, [col], n_bins=n_bins,
                             bounds={col: (lo, hi)})
    qs = [0.1, 0.5, 0.95]
    got = {r["q"]: r["value"] for r in profile_quantiles(
        prof, qs).collect()}
    exact = li.approxQuantile(col, qs, 0.0)
    for q, ex in zip(qs, exact):
        assert abs(got[q] - ex) <= width, (q, got[q], ex, width)
    # merged shards -> identical quantile values
    shards = [li.where(F.col("l_orderkey") % 3 == i) for i in range(3)]
    merged = merge_profiles([histogram_profile(
        s, [col], n_bins=n_bins, bounds={col: (lo, hi)}) for s in shards])
    got_m = {r["q"]: r["value"] for r in profile_quantiles(
        merged, qs).collect()}
    assert got_m == got


def test_profile_quantiles_validation_and_edges(spark):
    from anomalyzer_spark.functions.drift import profile_quantiles
    prof = spark.createDataFrame(
        [("x", 0, 10, 0.0, 10.0, 10), ("x", -1, 5, 0.0, 10.0, 10)],
        "column string, bucket int, cnt long, lo double, hi double, "
        "n_bins int")
    import pytest as _pt
    with _pt.raises(ValueError, match="at least one"):
        profile_quantiles(prof, [])
    with _pt.raises(ValueError, match="quantiles must be"):
        profile_quantiles(prof, [1.5])
    # NULL bucket excluded: all mass in bucket 0 of 10 -> q=1 is the
    # top of that bucket (clamped interpolation), never beyond hi
    got = {r["q"]: r["value"] for r in
           profile_quantiles(prof, [0.5, 1.0]).collect()}
    assert 0.0 <= got[0.5] <= 1.0 and got[1.0] <= 10.0


def test_r15_advice_nbins_null_and_conflict(spark):
    """psi_report RAISES on conflicting persisted n_bins instead of
    smoothing over either count (checked in-plan, at action time);
    agreeing counts give psi 0 on identical profiles; normalize_scores
    raises on an n_bins= that conflicts with the profile's own."""
    from anomalyzer_spark.functions.quality import normalize_scores
    hi_half = spark.range(100, 200).selectExpr("id AS doc_id",
                                               "id * 1.0 AS x")
    bounds = {"x": (0.0, 199.0)}
    cur = histogram_profile(hi_half, ["x"], n_bins=20, bounds=bounds)
    cur10 = histogram_profile(hi_half, ["x"], n_bins=10, bounds=bounds)
    with pytest.raises(Exception, match="conflicting"):
        psi_report(cur, cur10).collect()
    assert psi_report(cur, cur).collect()[0]["psi"] == 0.0
    with pytest.raises(ValueError, match="n_bins"):
        normalize_scores(hi_half, "x", profile=cur, n_bins=37)
