"""Distribution drift between corpus snapshots — the statistical
complement to ``dedup.snapshot_diff`` (which answers "WHICH rows
changed"; this answers "did the DATA MOVE": value distributions shifting
between yesterday's 100 TB and today's).

The scale design is the profile/compare split:

* ``histogram_profile`` reduces a snapshot to a TINY long-form histogram
  frame — (column, bucket, cnt, lo, hi), ≤ columns × (n_bins + 1) rows —
  in one map-side-combined aggregate pass. At 100 TB you compute it once
  per snapshot, piggy-backing the scan you already pay at write time, and
  persist it next to the data;
* ``psi_report`` compares two PROFILES — never the corpora — so drift
  monitoring over a year of dailies joins kilobyte frames.

``psi_drift(old, new, cols)`` is the one-call convenience that derives
bin bounds from ``old``, profiles both frames, and compares.

Semantics (each pinned in tests and reproduced in the DuckDB oracle):

* bins are equi-width over [lo, hi] with bucket =
  ``clamp(floor((v - lo) / w), 0, n_bins - 1)`` — values OUTSIDE the old
  snapshot's range (the classic "new data beyond old bounds" drift) land
  in the edge buckets rather than being dropped;
* NULL gets its own bucket (-1): a nullness shift IS distribution drift;
* a constant column (lo == hi) puts every non-null value in bucket 0;
* proportions are Laplace-smoothed — ``p = (cnt + α) / (rows + α·B)``
  with B = n_bins + 1 buckets — so empty buckets never produce ln(0)
  and PSI is total (deterministic, no epsilon clipping);
* PSI = Σ_b (p_b − q_b)·ln(p_b / q_b), rounded to 6 decimals (the
  cross-engine float-sum-order tolerance every rounded metric in this
  repo compiles to).

Standard interpretation thresholds (industry convention, not enforced
here): PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 major shift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

__all__ = ["histogram_profile", "psi_report", "psi_drift",
           "category_profile", "psi_cat_drift",
           "merge_profiles", "merge_category_profiles", "ks_from_profiles",
           "profile_quantiles", "quantile_profile",
           "quantiles_from_profile"]

#: NULL values get their own bucket id — nullness drift is drift.
NULL_BUCKET = -1


def _unpivot(df: DataFrame, cols: list[str]) -> DataFrame:
    """(column, value double) long form — one map-only projection."""
    rows = [F.struct(F.lit(c).alias("column"),
                     F.col(c).cast("double").alias("value"))
            for c in cols]
    return df.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def _bounds_frame(df: DataFrame, cols: list[str],
                  bounds: dict | None) -> DataFrame:
    """(column, lo, hi) — literals when given, else one agg pass."""
    spark = df.sparkSession
    if bounds is not None:
        missing = [c for c in cols if c not in bounds]
        if missing:
            raise ValueError(f"bounds missing for columns: {missing}")
        return spark.createDataFrame(
            [(c, float(bounds[c][0]), float(bounds[c][1])) for c in cols],
            "column string, lo double, hi double")
    long = _unpivot(df, cols)
    return long.groupBy("column").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi"))


def histogram_profile(
    df: DataFrame,
    cols: list[str],
    *,
    n_bins: int = 10,
    bounds: dict | None = None,
) -> DataFrame:
    """Long-form equi-width histogram: (column, bucket, cnt, lo, hi),
    one row per non-empty bucket (plus the NULL bucket when present).

    ``bounds`` maps column -> (lo, hi); omit to derive from ``df`` (an
    extra aggregate pass over ``df`` — when profiling a NEW snapshot
    against an OLD one, pass the old profile's bounds so the bins line
    up AND the pass count stays at one)."""
    if not cols:
        raise ValueError("histogram_profile needs at least one column")
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    b = F.broadcast(_bounds_frame(df, cols, bounds))
    long = _unpivot(df, cols).join(b, "column")
    width = (F.col("hi") - F.col("lo")) / F.lit(float(n_bins))
    bucket = (
        F.when(F.col("value").isNull(), F.lit(NULL_BUCKET))
        .when(F.col("hi") <= F.col("lo"), F.lit(0))
        .otherwise(F.least(
            F.lit(n_bins - 1),
            F.greatest(F.lit(0), F.floor(
                (F.col("value") - F.col("lo")) / width).cast("int"))))
    )
    # the build-time bin count travels IN the frame: empty trailing
    # buckets are invisible in the rows, so a consumer re-deriving the
    # count from max(bucket)+1 would recompute the width too wide and
    # silently misalign every bucket (the normalize_scores regression) —
    # persisted profiles must carry their own binning
    return (long.withColumn("bucket", bucket)
            .groupBy("column", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.first("lo").alias("lo"), F.first("hi").alias("hi"))
            .withColumn("n_bins", F.lit(n_bins)))


def _require_n_bins(profile: DataFrame, caller: str) -> None:
    """A histogram profile carries its build-time bin count: empty
    trailing buckets are invisible in the rows, so the count cannot be
    recomputed from them."""
    if "n_bins" not in profile.columns:
        raise ValueError(
            f"{caller}: profile has no n_bins column; build it with "
            "histogram_profile, which records its bin count")


def merge_profiles(profiles: list[DataFrame]) -> DataFrame:
    """Fold per-shard ``histogram_profile`` frames into one profile —
    the incremental-profiling primitive: profile each daily/shard write
    as it lands (piggy-backing the scan already paid), MERGE the tiny
    frames, and never rescan the corpus for a weekly/monthly profile.
    Exactness is free because equi-width histogram counts are
    associative-commutative sums.

    All inputs must share binning — same (lo, hi, n_bins) per column,
    i.e. they were profiled with the same explicit ``bounds`` and
    ``n_bins`` (the only sane way to produce mergeable shards; derived
    bounds differ per shard and are REJECTED here rather than silently
    merged into nonsense). Operates purely on the profile frames: one
    union + one tiny aggregate, kilobytes at any corpus scale."""
    if not profiles:
        raise ValueError("merge_profiles needs at least one profile")
    for p in profiles:
        _require_n_bins(p, "merge_profiles")
    u = profiles[0]
    for p in profiles[1:]:
        u = u.unionByName(p)
    bad = sorted(r["column"] for r in
                 u.select("column", "lo", "hi", "n_bins").distinct()
                 .groupBy("column").agg(F.count(F.lit(1)).alias("nb"))
                 .where(F.col("nb") > 1).collect())
    if bad:
        raise ValueError(
            f"inconsistent bounds or n_bins across shards for columns "
            f"{bad}; profile shards with the same explicit bounds= and "
            "n_bins= to make them mergeable")
    return u.groupBy("column", "bucket").agg(
        F.sum("cnt").alias("cnt"),
        F.first("lo").alias("lo"), F.first("hi").alias("hi"),
        F.first("n_bins").alias("n_bins"))


def profile_quantiles(
    profile: DataFrame,
    quantiles: list[float],
) -> DataFrame:
    """Approximate quantiles FROM a ``histogram_profile`` frame —
    (column, q, value), linearly interpolated inside the containing
    bucket. Error is bounded by one bucket width; precision is a
    build-time choice (``n_bins``), not a query-time rescan: the bucket
    width comes from the profile's own ``n_bins`` column.

    This closes the monitoring loop ``merge_profiles`` opens: per-shard
    profiles merge exactly, so p50/p95/p99 of a month of data come from
    folding thirty kilobyte-sized frames — no corpus pass, and unlike
    ``approx_percentile`` re-runs, the answer is deterministic and
    identical to profiling the concatenated data (same buckets).

    NULL-bucket rows are excluded (quantiles are over observed values;
    nullness is ``psi_report``'s axis). Values below/above the profile
    bounds clamp into the edge buckets by construction, so edge-bucket
    interpolation can under/over-state tails that escaped the bounds —
    the usual histogram-sketch caveat, bounded by the data that drifted
    outside [lo, hi]. Operates purely on the tiny profile: one window
    over ≤ n_bins+1 rows per column."""
    if not quantiles:
        raise ValueError("profile_quantiles needs at least one quantile")
    bad = [q for q in quantiles if not 0.0 <= q <= 1.0]
    if bad:
        raise ValueError(f"quantiles must be in [0, 1]: {bad}")
    _require_n_bins(profile, "profile_quantiles")
    p = profile.where(F.col("bucket") != NULL_BUCKET)
    w = (Window.partitionBy("column").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy("column")
    cum = (p.withColumn("cum", F.sum("cnt").over(w))
           .withColumn("total", F.sum("cnt").over(wt))
           .withColumn("width", (F.col("hi") - F.col("lo"))
                       / F.col("n_bins").cast("double")))
    outs = []
    for q in quantiles:
        target = F.col("total") * F.lit(float(q))
        # first bucket whose cumulative count reaches the target
        hit = (cum.where(F.col("cum") >= target)
               .withColumn("_rn", F.row_number().over(
                   Window.partitionBy("column").orderBy("bucket")))
               .where(F.col("_rn") == 1))
        frac = (target - (F.col("cum") - F.col("cnt"))) / \
            F.greatest(F.col("cnt"), F.lit(1))
        val = (
            F.when(F.col("hi") <= F.col("lo"), F.col("lo"))
            .otherwise(F.col("lo") + (F.col("bucket") + frac)
                       * F.col("width")))
        outs.append(hit.select(
            "column", F.lit(float(q)).alias("q"),
            F.round(F.least(F.greatest(val, F.col("lo")), F.col("hi")), 6)
            .alias("value")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def quantile_profile(
    df: DataFrame,
    cols: list[str],
    *,
    k: int = 256,
    group_cols: list[str] | None = None,
    sharded: bool = False,
    n_shards: int = 32,
) -> DataFrame:
    """The BOUND-FREE numeric profile: a mergeable KLL quantile sketch
    (``sketch.kll_profile``) of each column. ``histogram_profile`` needs
    the bin range pinned up front (the drift comparability contract) and
    clamps escapees into edge buckets; this does not — rank error is
    bounded by the frame's ``err`` column regardless of the value range,
    so it is the right profile when bounds are unknown or drifting
    (exactly when you are profiling for drift). Query with
    ``quantiles_from_profile`` / ``sketch.kll_ranks``; fold shards with
    ``sketch.merge_kll``.

    **Scale knob**: the plain build's cumulative window holds one
    column's ENTIRE distinct-value set in one partition — fine for
    bounded-cardinality columns (lengths, counts), a single-task
    serialization for a CONTINUOUS double (score drift — exactly this
    gate's use case) at corpus scale. Pass ``sharded=True`` to route
    through ``sketch.kll_profile_sharded``: values are salted by their
    own hash into ``n_shards`` window partitions (~distinct/n_shards
    state each) and the shard profiles folded with ``merge_kll`` —
    same frame schema, same rank-error contract (the summed shard errs
    are carried exactly in ``err``), deterministic regardless of input
    partitioning. Profile continuous columns with ``sharded=True``."""
    from . import sketch

    if sharded:
        return sketch.kll_profile_sharded(
            df, cols, k=k, n_shards=n_shards, group_cols=group_cols)
    return sketch.kll_profile(df, cols, k=k, group_cols=group_cols)


def quantiles_from_profile(
    profile: DataFrame, quantiles: list[float],
) -> DataFrame:
    """Quantiles FROM a ``quantile_profile`` (KLL) frame — the
    ``profile_quantiles`` twin for the bound-free profile: (keys...,
    column, q, value), each value an actual data element whose true
    rank is within q·n ± (err + top level weight). One tiny window over
    the ≤ k-row frame."""
    from . import sketch

    return sketch.kll_quantiles(profile, quantiles)


def merge_category_profiles(profiles: list[DataFrame]) -> DataFrame:
    """Fold per-shard ``category_profile`` frames (same contract as
    ``merge_profiles``; shards must share the vocabulary — enforced by
    construction when the same ``categories`` dict profiled each)."""
    if not profiles:
        raise ValueError(
            "merge_category_profiles needs at least one profile")
    u = profiles[0]
    for p in profiles[1:]:
        u = u.unionByName(p)
    return u.groupBy("column", "bucket").agg(F.sum("cnt").alias("cnt"))


def psi_report(
    old_profile: DataFrame,
    new_profile: DataFrame,
    *,
    alpha: float = 0.5,
    n_buckets: int | None = None,
) -> DataFrame:
    """Compare two ``histogram_profile`` frames (they must share bounds
    and ``n_bins`` — profile the new snapshot with the old profile's
    bounds): returns (column, psi, old_rows, new_rows), psi rounded to
    6 decimals. The Laplace denominator is each column's own
    ``n_bins`` + 1 (the NULL bucket); a column whose two profiles carry
    different counts fails the action with a runtime error naming it.

    Works for ``category_profile`` frames too (string buckets) — pass
    ``n_buckets`` = the fixed bucket universe size (vocab + OTHER +
    NULL) so the Laplace denominator stays deterministic.

    Operates purely on the tiny profiles: a full-outer join on
    (column, bucket) then one groupBy — kilobytes at any corpus scale."""
    numeric = n_buckets is None
    if numeric:
        _require_n_bins(old_profile, "psi_report")
        _require_n_bins(new_profile, "psi_report")
    o = old_profile.select(
        "column", "bucket", F.col("cnt").alias("old_cnt"),
        *([F.col("n_bins").alias("_nb_o")] if numeric else []))
    n = new_profile.select(
        "column", "bucket", F.col("cnt").alias("new_cnt"),
        *([F.col("n_bins").alias("_nb_n")] if numeric else []))
    joined = (
        o.join(n, ["column", "bucket"], "full_outer")
        .fillna(0, subset=["old_cnt", "new_cnt"])
    )
    # per-column totals via a WINDOW, not a groupBy + self-join: the
    # joined frame is consumed ONCE, so the profile subtrees (which may
    # be full corpus scans when profiles aren't pre-persisted) appear
    # once in the plan instead of twice (plan-shape pinned in
    # tests/test_drift.py::test_psi_report_single_profile_subtree).
    w = Window.partitionBy("column")
    j = (joined
         .withColumn("old_rows", F.sum("old_cnt").over(w))
         .withColumn("new_rows", F.sum("new_cnt").over(w)))
    if numeric:
        # a full-outer row missing one side has a NULL count there, so
        # each side's count is its column-partition max; a column in
        # only ONE profile smooths with that side's count (coalesce).
        # Differing counts make the buckets incomparable: checked
        # in-plan via raise_error so the profile subtrees are not
        # re-evaluated by a driver-side pre-collect (the single-subtree
        # plan shape is pinned in tests).
        o_nb = F.max("_nb_o").over(w)
        n_nb = F.max("_nb_n").over(w)
        B = F.when(o_nb != n_nb, F.raise_error(F.concat(
            F.lit("psi_report: profiles persist conflicting n_bins for "
                  "column '"), F.col("column"),
            F.lit("' (old="), o_nb.cast("string"),
            F.lit(", new="), n_nb.cast("string"),
            F.lit("); rebuild one side with matching n_bins=")))
        ).otherwise(F.coalesce(o_nb, n_nb) + 1).cast("double")
    else:
        B = F.lit(float(n_buckets))
    p = (F.col("old_cnt") + F.lit(alpha)) / \
        (F.col("old_rows") + F.lit(alpha) * B)
    q = (F.col("new_cnt") + F.lit(alpha)) / \
        (F.col("new_rows") + F.lit(alpha) * B)
    contrib = (p - q) * (F.log(p) - F.log(q))
    return (j.withColumn("contrib", contrib)
            .groupBy("column")
            .agg(F.round(F.sum("contrib"), 6).alias("psi"),
                 F.first("old_rows").alias("old_rows"),
                 F.first("new_rows").alias("new_rows"))
            )


#: reserved category buckets — a real value colliding with these would
#: be folded; both are outside every fixture/TPC-H domain by design
OTHER_BUCKET = "__OTHER__"
NULL_CAT_BUCKET = "__NULL__"


def _str_unpivot(df: DataFrame, cols: list[str]) -> DataFrame:
    rows = [F.struct(F.lit(c).alias("column"),
                     F.col(c).cast("string").alias("value"))
            for c in cols]
    return df.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def category_profile(
    df: DataFrame,
    cols: list[str],
    *,
    categories: dict[str, list[str]],
    count_col: str = "cnt",
) -> DataFrame:
    """Categorical histogram: (column, bucket, cnt) where bucket is the
    value itself for vocabulary members, ``__OTHER__`` for the tail,
    ``__NULL__`` for NULLs. One map pass + one tiny aggregate —
    the categorical sibling of ``histogram_profile``, same
    profile/compare contract (persist per snapshot; the VOCABULARY must
    come from the OLD snapshot so buckets line up — ``psi_cat_drift``
    wires that).

    ``categories`` maps column -> vocabulary list (derive with
    ``top_categories`` or pass a domain list outright)."""
    if not cols:
        raise ValueError("category_profile needs at least one column")
    missing = [c for c in cols if c not in categories]
    if missing:
        raise ValueError(f"categories missing for columns: {missing}")
    long = _str_unpivot(df, cols)
    bucket = F.lit(None).cast("string")
    for c in cols:  # per-column vocab: CASE chains over tiny literal sets
        vocab = [str(v) for v in categories[c]]
        in_vocab = F.col("value").isin(vocab) if vocab else F.lit(False)
        bucket = F.when(
            F.col("column") == c,
            F.when(F.col("value").isNull(), F.lit(NULL_CAT_BUCKET))
            .when(in_vocab, F.col("value"))
            .otherwise(F.lit(OTHER_BUCKET)),
        ).otherwise(bucket)
    return (long.withColumn("bucket", bucket)
            .groupBy("column", "bucket")
            .agg(F.count(F.lit(1)).alias(count_col)))


def top_categories(
    df: DataFrame,
    cols: list[str],
    *,
    top_k: int = 20,
) -> dict[str, list[str]]:
    """Derive each column's top-``top_k`` vocabulary by frequency
    (count desc, value asc — deterministic under count ties). Bounded
    driver collect: ≤ cols × top_k rows, never data-sized."""
    long = _str_unpivot(df, cols).where(F.col("value").isNotNull())
    counts = long.groupBy("column", "value").count()
    w = Window.partitionBy("column").orderBy(
        F.col("count").desc(), F.col("value").asc())
    kept = (counts.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= top_k)
            .select("column", "value", "_r").collect())
    out: dict[str, list[str]] = {c: [] for c in cols}
    for r in sorted(kept, key=lambda r: (r["column"], r["_r"])):
        out[r["column"]].append(r["value"])
    return out


def psi_cat_drift(
    old: DataFrame,
    new: DataFrame,
    cols: list[str],
    *,
    top_k: int = 20,
    alpha: float = 0.5,
    categories: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Categorical drift in one call: vocabulary = OLD snapshot's top-k
    (or explicit ``categories``), both snapshots profiled on it, PSI per
    column. Bucket universe is fixed at top_k + OTHER + NULL so the
    smoothing denominator is deterministic."""
    if categories is None:
        categories = top_categories(old, cols, top_k=top_k)
    else:
        top_k = max((len(v) for v in categories.values()), default=top_k)
    po = category_profile(old, cols, categories=categories)
    pn = category_profile(new, cols, categories=categories)
    return psi_report(po, pn, alpha=alpha, n_buckets=top_k + 2)


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    cols: list[str],
    *,
    n_bins: int = 10,
    alpha: float = 0.5,
    bounds: dict | None = None,
) -> DataFrame:
    """One-call drift: bin bounds from ``old`` (or explicit ``bounds``),
    both snapshots profiled on the SAME bins, PSI per column.

    Note the pass count: deriving bounds costs one extra aggregate pass
    over ``old``. Production drift monitoring should persist each
    snapshot's ``histogram_profile`` at write time and call
    ``psi_report`` on the stored profiles instead."""
    if bounds is None:
        b = _bounds_frame(old, cols, None)
        bounds = {r["column"]: (r["lo"], r["hi"]) for r in b.collect()}
        for c in cols:  # all-NULL column derives no bounds
            if bounds.get(c, (None, None))[0] is None:
                bounds[c] = (0.0, 0.0)
    op = histogram_profile(old, cols, n_bins=n_bins, bounds=bounds)
    np_ = histogram_profile(new, cols, n_bins=n_bins, bounds=bounds)
    return psi_report(op, np_, alpha=alpha)


def ks_from_profiles(
    profile_a: DataFrame, profile_b: DataFrame,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between two corpora from
    their KLL quantile profiles ALONE - (keys..., column, ks_stat,
    ks_bound, n_a, n_b), no corpus access: max |ECDF_a - ECDF_b| over
    the union of the two sketches' support points, each ECDF estimated
    from the sketch's weighted items.

    This is the distribution-drift twin of ``psi_report`` without
    pinned bins, and the sketch-level form of the reference's own KS
    core (algorithms.go:255-288 KsStat): "did the doc-length
    distribution move between releases?" answered by two kilobyte
    frames. ``ks_bound`` is the deterministic error radius -
    (err_a + top_weight_a)/n_a + (err_b + top_weight_b)/n_b: each
    sketch's rank-error bound plus its support resolution (ECDFs only
    change at data points, and a sketch keeps a 2**level-strided subset
    of them, so the true max can sit between support points).
    |ks_stat - true KS| <= ks_bound (pinned); two err-0 profiles
    (n <= k) give the exact statistic. Columns (or group keys) present
    in only one profile are omitted. One window over <= 2k rows per
    column."""
    from .sketch import _kll_keys

    keys = _kll_keys(profile_a)
    wexpr = "cnt * shiftleft(cast(1 as bigint), level)"
    twexpr = "shiftleft(cast(1 as bigint), level)"
    sa = profile_a.where(F.col("item").isNotNull()).select(
        *keys, "item",
        F.expr(wexpr).alias("w_a"), F.lit(0).cast("long").alias("w_b"),
        F.expr(twexpr).alias("tw_a"), F.lit(0).cast("long").alias("tw_b"))
    sb = profile_b.where(F.col("item").isNotNull()).select(
        *keys, "item",
        F.lit(0).cast("long").alias("w_a"), F.expr(wexpr).alias("w_b"),
        F.lit(0).cast("long").alias("tw_a"), F.expr(twexpr).alias("tw_b"))
    meta = (profile_a.where(F.col("item").isNull())
            .select(*keys, F.col("n").alias("n_a"),
                    F.col("err").alias("err_a"))
            .join(profile_b.where(F.col("item").isNull())
                  .select(*keys, F.col("n").alias("n_b"),
                          F.col("err").alias("err_b")), keys))
    # ONE row per (keys, item) BEFORE the cumulative window: the same
    # item can appear as multiple rows (profile_a vs profile_b sides,
    # or the same value surviving at different levels), and a partial
    # cumulative at a tie row would mix ECDF_a(x) with ECDF_b(x-) —
    # OVERSTATING |d| (two identical discrete corpora with mass 0.5 at
    # one value would read ks >= 0.5), nondeterministically by row
    # order. Pre-aggregated, every row carries both sides' complete
    # contribution at that support point, matching the reference's
    # same-point ECDF evaluation (algorithms.go:255-288).
    per_item = (sa.unionByName(sb)
                .groupBy(*keys, "item")
                .agg(F.sum("w_a").alias("w_a"), F.sum("w_b").alias("w_b"),
                     F.max("tw_a").alias("tw_a"),
                     F.max("tw_b").alias("tw_b")))
    w = (Window.partitionBy(*keys).orderBy(F.col("item").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (per_item
           .withColumn("ca", F.sum("w_a").over(w))
           .withColumn("cb", F.sum("w_b").over(w)))
    d = F.abs(F.col("ca") / F.col("n_a") - F.col("cb") / F.col("n_b"))
    out = (cum.join(F.broadcast(meta), keys)
           .groupBy(*keys)
           .agg(F.round(F.max(d), 6).alias("ks_stat"),
                F.max("tw_a").alias("_twa"),
                F.max("tw_b").alias("_twb"),
                F.first("n_a").alias("n_a"),
                F.first("n_b").alias("n_b"),
                F.first("err_a").alias("_ea"),
                F.first("err_b").alias("_eb")))
    bound = ((F.col("_ea") + F.col("_twa")) / F.col("n_a")
             + (F.col("_eb") + F.col("_twb")) / F.col("n_b"))
    return out.select(*keys, "ks_stat",
                      F.round(bound, 6).alias("ks_bound"), "n_a", "n_b")
