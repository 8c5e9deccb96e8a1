"""Pure-column implementations of the deterministic tests.

fence / magnitude / cdf (reference: /root/reference/algorithms.go 73-93,
231-252, 209-227) re-expressed as Spark Column expressions. Each test has
ONE builder here, taking its window statistics as input Columns; the
callers decide how those statistics are computed:

  * ``detect`` stages them as named ``_cx_*`` columns over the per-key
    ``array<double>`` tail window (``stage1_cols`` / ``stage2_cols``,
    read back by ``staged_probs``);
  * ``detect_rolling`` passes window-frame aggregates ending at each row
    (rolling.py).

Everything here is JVM-side (higher-order array functions + arithmetic) —
no Python in the hot path, so Catalyst/codegen can optimize and the cost
per key is independent of total data volume.

The window column is the per-key tail of the series in ascending
(ts, tiebreak) order, bounded to ``conf.window_size`` points (SURVEY.md
§2.6.2 truncation spec).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import AnomalyzerConf


def _mean(arr: Column) -> Column:
    """Arithmetic mean of an array<double>; NULL on empty."""
    return F.when(
        F.size(arr) > 0,
        F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x) / F.size(arr),
    )


def _cap01(x: Column) -> Column:
    return F.greatest(F.least(x, F.lit(1.0)), F.lit(0.0))


def fence(act_mean: Column, conf: AnomalyzerConf) -> Column:
    """FenceTest (algorithms.go:73-93): distance of active mean from bounds,
    sharpened by weightExp(·, 10) = (10^x - 1)/9."""
    if conf.lower_bound is None:
        distance = act_mean / F.lit(float(conf.upper_bound))
    else:
        half = (conf.upper_bound - conf.lower_bound) / 2.0
        mid = conf.lower_bound + half
        distance = F.abs(act_mean - F.lit(mid)) / F.lit(half)
    return (F.pow(F.lit(10.0), _cap01(distance)) - 1.0) / 9.0


def magnitude(act_mean: Column, ref_mean: Column, ref_n: Column) -> Column:
    """MagnitudeTest (algorithms.go:231-252). NULL when the reference window
    is empty (minRefSize=1); raw (un-capped) value, Eval caps it."""
    return F.when(ref_n < 1, F.lit(None).cast("double")).otherwise(
        F.when(ref_mean == 0.0,
               F.when(act_mean == 0.0, 0.0).otherwise(1.0)).otherwise(
            F.abs(act_mean - ref_mean) / ref_mean))


def cdf(dact_mean: Column, dref_mean: Column, dref_n: Column, dref: Column,
        conf: AnomalyzerConf) -> Column:
    """CDFTest (algorithms.go:209-227): reference-window ECDF of |diffs|
    (``dref``, ``dref_n`` points) evaluated at (mean(active diffs) -
    mean(ref diffs)), tails rescaled to 1. ECDF is right-continuous:
    F(q) = #{x <= q} / n. NULL below ``active_size`` reference diffs."""
    q = dact_mean - dref_mean
    pct = F.size(F.filter(dref, lambda x: x <= q)) / dref_n
    return F.when(dref_n < conf.active_size, F.lit(None).cast("double")).otherwise(
        2.0 * F.abs(F.lit(0.5) - pct))


def deterministic_probs(
    conf: AnomalyzerConf, stats: Mapping[str, Column]
) -> dict[str, Column]:
    """Raw prob columns of the deterministic tests in ``conf.methods``, in
    fence / magnitude / cdf order. ``stats`` maps the window-statistic names
    (act_mean, ref_mean, ref_n; dact_mean, dref_mean, dref_n, dref for cdf)
    to Columns; only the requested tests' entries are read."""
    probs: dict[str, Column] = {}
    if "fence" in conf.methods:
        probs["fence"] = fence(stats["act_mean"], conf)
    if "magnitude" in conf.methods:
        probs["magnitude"] = magnitude(
            stats["act_mean"], stats["ref_mean"], stats["ref_n"])
    if "cdf" in conf.methods:
        probs["cdf"] = cdf(stats["dact_mean"], stats["dref_mean"],
                           stats["dref_n"], stats["dref"], conf)
    return probs


# --------------------------------------------------------------------------
# Staged evaluation.
#
# Interpreted higher-order expressions (slice/aggregate/zip_with with lambda
# variables) are EXCLUDED from Catalyst's subexpression elimination, so a
# single deep tree that references `adiffs` or a window mean k times
# re-evaluates the whole subtree k times — measured 10-15x slower than
# evaluating each shared intermediate once. The staged builders below split
# the computation across successive projections with NAMED columns;
# CollapseProject keeps projections separate when a non-cheap producer is
# referenced more than once, so every intermediate is computed exactly once.
# --------------------------------------------------------------------------

#: stage-column name prefix (dropped from final output)
_P = "_cx_"


def stage1_cols(vec: Column, conf: AnomalyzerConf) -> dict[str, Column]:
    """Shared window stats straight off the tail vector.

    Mirrors ``extractWindows`` (algorithms.go:56-69): shrink-to-fit sizes,
    and a per-test minimum reference size expressed as a NULL guard in the
    test builders.
    """
    n = F.size(vec)
    # activeSize = min(activeSize, n); refSize = min(refSize, n - activeSize)
    act_n = F.least(F.lit(conf.active_size), n)
    ref_n = F.least(F.lit(conf.reference_size), n - act_n)
    active = F.slice(vec, n - act_n + 1, conf.active_size)
    reference = F.when(
        ref_n > 0, F.slice(vec, n - act_n - ref_n + 1, ref_n),
    ).otherwise(F.array().cast("array<double>"))
    # |first differences| for the cdf test (govector Diff().Apply(abs))
    adiffs = F.when(
        n > 1,
        F.zip_with(
            F.slice(vec, 2, n - 1),
            F.slice(vec, 1, n - 1),
            lambda a, b: F.abs(a - b),
        ),
    ).otherwise(F.array().cast("array<double>"))
    return {
        f"{_P}act_mean": _mean(active),
        f"{_P}ref_mean": _mean(reference),
        f"{_P}ref_n": ref_n,
        f"{_P}adiffs": adiffs,
    }


def stage2_cols(conf: AnomalyzerConf) -> dict[str, Column]:
    """Diff-window stats reading the named stage-1 columns. The diff-based
    tests use referenceSize - 1 (algorithms.go:111, 211)."""
    ad = F.col(f"{_P}adiffs")
    nd = F.size(ad)
    dact_n = F.least(F.lit(conf.active_size), nd)
    dref_n = F.least(F.lit(conf.reference_size - 1), nd - dact_n)
    dactive = F.slice(ad, nd - dact_n + 1, conf.active_size)
    dref = F.when(
        dref_n > 0, F.slice(ad, nd - dact_n - dref_n + 1, dref_n)
    ).otherwise(F.array().cast("array<double>"))
    return {
        f"{_P}dref_n": dref_n,
        f"{_P}dact_mean": _mean(dactive),
        f"{_P}dref_mean": _mean(dref),
        f"{_P}dref": dref,
    }


def staged_probs(conf: AnomalyzerConf) -> dict[str, Column]:
    """``deterministic_probs`` reading the named stage-1/stage-2 columns."""
    names = ("act_mean", "ref_mean", "ref_n",
             "dact_mean", "dref_mean", "dref_n", "dref")
    return deterministic_probs(conf, {n: F.col(f"{_P}{n}") for n in names})
