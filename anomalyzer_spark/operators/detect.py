"""Public batch detection API.

``detect(df, keys, ...)`` answers the reference's ``Eval`` question — "what
is the anomaly probability of the latest behavior?" — for EVERY key in a
long-format DataFrame ``(keys..., ts, value)`` in one distributed pass
(/root/reference/anomalyze.go:145-192; one Go ``Anomalyzer`` instance per
series becomes one group per key).

Plan shape (SURVEY.md §3.4):

    scan (pushed filters/pruned columns)
      → [optional horizon pre-filter: partial-agg max(ts) per key + join]
      → single hash exchange on keys
      → row_number tail-N (bounded state, §2.6.2)
      → groupBy keys → ordered tail array
      → per-test columns: pure-column tests inline (JVM),
        Monte-Carlo tests via one Arrow pandas-UDF struct
      → combiner expression

100 TB note: ``row_number`` alone would shuffle the FULL history. Pass
``horizon`` (max time span that can contain window_size points per key) —
the pre-filter computes ``max(ts)`` per key (map-side partial agg, tiny
shuffle), joins it back, and drops old rows BEFORE the heavy exchange, so the
big shuffle carries O(keys · window) rows, not O(total history). Better yet,
give ``detect`` an already time-bounded ``df`` so the predicate is pushed
into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import AnomalyzerConf
from . import columnar
from .combine import combined_prob, merge_probs, open_col, weight_col
from .kernel import MC_METHODS, key_str_col, mc_probs_udf

DETERMINISTIC = {"fence", "magnitude", "cdf"}


def tail_window(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    n: int,
    tiebreak_cols: list[str] | None = None,
    horizon=None,
    horizon_anchor=None,
    skew_salts: int | None = None,
) -> DataFrame:
    """Last ``n`` points per key as an ascending-ordered array column ``vec``.

    Output: one row per key with (keys..., vec array<double>, n_points,
    last_ts). Ordering inside ``vec`` is by (ts, *tiebreak_cols) ascending —
    pass a unique tiebreak (e.g. an event id) for fully deterministic order
    when timestamps can collide.

    Horizon pre-filter (drop old rows BEFORE the heavy exchange):

      * ``horizon_anchor`` + ``horizon`` — the scan-pushdown path: rows with
        ``ts < anchor - horizon`` are dropped by a LITERAL predicate that
        reaches the parquet scan (PushedFilters / partition pruning). Use
        when "now" is known (it always is in a scheduled batch job). This
        is the 100 TB path — zero extra shuffles at any key cardinality.
      * ``horizon`` alone — per-key ``max(ts)`` (map-side partial agg, one
        tiny shuffle) broadcast-joined back. The per-key frame is one row
        per key, so the join stays a broadcast (no full-history shuffle) as
        long as the key count fits the broadcast threshold — beyond that,
        prefer the anchor form (AQE falls back to a sort-merge join that
        re-shuffles history).

    Hot-key skew (``skew_salts``, SURVEY §4.2): the plain ``row_number``
    window hashes ALL of a key's in-horizon rows to one task — Spark's
    WindowGroupLimit bounds what each MAP task forwards to n, but one key
    with millions of rows across many input splits still funnels
    n·splits rows into a single reducer sort. ``skew_salts=S`` runs the
    tail-N in TWO phases: phase 1 partitions by (keys, salt) — salt a
    deterministic hash of (ts, tiebreaks, value) mod S — so the hot key's
    sort spreads over S tasks and each keeps its partial top-n; phase 2
    merges the ≤ n·S survivors per key (bounded, tiny). Results are
    IDENTICAL to the one-phase plan GIVEN a total order per key — unique
    ``ts_col`` or sufficient ``tiebreak_cols``, the same determinism
    contract ``tail_window`` already states (under ordering ties,
    ``row_number`` is arbitrary in BOTH plans and the two may pick
    different tied rows); the price is one extra
    exchange on (keys, salt), so leave it None unless a key's in-horizon
    row count is big enough to serialize (rule of thumb: rows-per-hot-key
    / S should come under ~10·n·splits).
    """
    tiebreak_cols = tiebreak_cols or []
    cols = [*keys, ts_col, *tiebreak_cols, value_col]
    out = df.select(*dict.fromkeys(cols))  # dedup, keep order

    if horizon is not None and horizon_anchor is not None:
        out = out.where(F.col(ts_col) >= F.lit(horizon_anchor) - horizon)
    elif horizon is not None:
        recent = out.groupBy(*keys).agg(F.max(ts_col).alias("_max_ts"))
        out = out.join(F.broadcast(recent), keys).where(
            F.col(ts_col) >= F.col("_max_ts") - horizon
        ).drop("_max_ts")

    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    if skew_salts is not None and skew_salts > 1:
        salt = F.pmod(
            F.hash(F.col(ts_col), *[F.col(c) for c in tiebreak_cols],
                   F.col(value_col)),
            F.lit(skew_salts))
        w1 = Window.partitionBy(*keys, "_salt").orderBy(*order)
        out = (out.withColumn("_salt", salt)
               .withColumn("_rn1", F.row_number().over(w1))
               .where(F.col("_rn1") <= n).drop("_rn1", "_salt"))
    w = Window.partitionBy(*keys).orderBy(*order)
    tail = out.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= n)

    point = F.struct(
        F.col(ts_col).alias("_ts"),
        *[F.col(c).alias(f"_tb{i}") for i, c in enumerate(tiebreak_cols)],
        F.col(value_col).cast("double").alias("_v"),
    )
    return tail.groupBy(*keys).agg(
        F.sort_array(F.collect_list(point)).alias("_pts"),
        F.count(F.lit(1)).alias("n_points"),
        F.max(ts_col).alias("last_ts"),
    ).withColumn("vec", F.col("_pts._v")).drop("_pts")


def _merged_probs(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    conf: AnomalyzerConf,
    tiebreak_cols: list[str] | None,
    horizon,
    horizon_anchor,
    skew_salts: int | None,
    gated: bool,
) -> tuple[DataFrame, dict[str, Column]]:
    """Shared body of ``detect`` / ``detect_by_test``: tail window → staged
    window stats → per-test probs as named ``_p_<test>`` columns → combiner
    entries. Returns (frame of keys, n_points, last_ts, _p_*; merged
    entries reading those columns).

    Staging matters: interpreted higher-order expressions are excluded from
    subexpression elimination, so one flat tree re-evaluates every shared
    slice/mean per reference — measured 10-15x slower (columnar.py notes).
    The raw probs are staged too: the combiner references each several
    times (cap, weight, numerator, denominator, gate).

    With ``gated`` the MC kernel gets the ``open_col`` mask, so keys an
    Eval gate zeroes anyway skip their Monte-Carlo tests; without it every
    key runs them (``detect_by_test`` reports every per-test prob).
    """
    tails = tail_window(
        df, keys, ts_col, value_col, conf.window_size, tiebreak_cols, horizon,
        horizon_anchor, skew_salts,
    )
    carry = [*keys, "n_points", "last_ts"]
    mc = tuple(m for m in conf.methods if m in MC_METHODS)
    staged = tails
    if mc:
        # The MC kernel is CPU-bound per KEY it runs (perm_count · n md5
        # digests and an argsort per key and test, in blocks of
        # equal-length keys; keys an Eval gate zeroes skip it), but AQE
        # coalesces the post-agg exchange by BYTES — a few thousand tiny
        # key rows collapse into 1 partition and the kernel runs serial
        # (measured 7.5x slower at sf0.1). Round-robin the aggregated rows
        # (one per key — negligible data) across the full parallelism so
        # kernel CPU scales with cores regardless of how small the
        # aggregated frame is.
        staged = staged.repartition(
            tails.sparkSession.sparkContext.defaultParallelism)
    if any(m in DETERMINISTIC for m in conf.methods):
        s1 = columnar.stage1_cols(F.col("vec"), conf)
        staged = staged.select(
            *carry, "vec", *[c.alias(n) for n, c in s1.items()])
        if "cdf" in conf.methods:
            s2 = columnar.stage2_cols(conf)
            staged = staged.select(
                *carry, "vec", *[F.col(n) for n in s1],
                *[c.alias(n) for n, c in s2.items()])

    probs = columnar.staged_probs(conf)
    if mc:
        need = F.lit(True)
        if gated:
            magnitude = (merge_probs(probs, ("magnitude",))["magnitude"]
                         if "magnitude" in probs else None)
            need = open_col(magnitude, conf, F.col("n_points"))
        st = mc_probs_udf(conf, mc)(F.col("vec"), key_str_col(keys), need)
        for m in mc:
            probs[m] = st.getField(m)
    withp = staged.select(
        *carry, *[c.alias(f"_p_{m}") for m, c in probs.items()])
    merged = merge_probs({m: F.col(f"_p_{m}") for m in probs}, conf.methods)
    return withp, merged


def detect(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    conf: AnomalyzerConf | None = None,
    tiebreak_cols: list[str] | None = None,
    horizon=None,
    horizon_anchor=None,
    skew_salts: int | None = None,
) -> DataFrame:
    """Combined anomaly probability of the latest window, per key.

    Returns (keys..., n_points, last_ts, prob). ``skew_salts`` enables the
    two-phase tail-N for hot-key skew (see ``tail_window``).

    The Monte-Carlo tests run only for keys no Eval gate zeroes (magnitude
    present and below ``sensitivity``; fewer than ``window_size`` points
    under ``delay``): ``prob`` is the same, the gated keys' MC work is
    skipped. ``detect_by_test`` runs every test of every key.
    """
    conf = conf or AnomalyzerConf()
    withp, merged = _merged_probs(
        df, keys, ts_col, value_col, conf, tiebreak_cols, horizon,
        horizon_anchor, skew_salts, gated=True)
    prob = combined_prob(merged, conf, F.col("n_points"))
    return withp.select(*keys, "n_points", "last_ts", prob.alias("prob"))


def detect_multi(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_cols: list[str] | dict[str, Column] = ("value",),
    conf: AnomalyzerConf | None = None,
    tiebreak_cols: list[str] | None = None,
    metric_col: str = "metric",
) -> DataFrame:
    """Multivariate detection: one probability per (key, metric).

    ``value_cols`` is either a list of column names or a dict
    {metric_name: Column expression} (derived metrics welcome). The frame
    is unpivoted to long format — (keys..., metric, ts, value) — and
    detection runs with ``metric`` as an extra key, so every metric of
    every series shares the single-shuffle plan; the metric dimension just
    multiplies the key cardinality (the cheap axis).
    """
    conf = conf or AnomalyzerConf()
    if not isinstance(value_cols, dict):
        value_cols = {c: F.col(c) for c in value_cols}
    tiebreak_cols = tiebreak_cols or []
    stacked = df.select(
        *keys, ts_col, *tiebreak_cols,
        F.explode(
            F.array(*[
                F.struct(F.lit(name).alias("_metric"),
                         expr.cast("double").alias("_value"))
                for name, expr in value_cols.items()
            ])
        ).alias("_m"),
    ).select(*keys, ts_col, *tiebreak_cols,
             F.col("_m._metric").alias(metric_col),
             F.col("_m._value").alias("_value"))
    return detect(stacked, [*keys, metric_col], ts_col, "_value", conf,
                  tiebreak_cols=tiebreak_cols)


def detect_by_test(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    conf: AnomalyzerConf | None = None,
    tiebreak_cols: list[str] | None = None,
    horizon=None,
    horizon_anchor=None,
    skew_salts: int | None = None,
) -> DataFrame:
    """EvalByTest surface (anomalyze.go:195-221): per-test probs + weights
    + the combined prob, per key. Columns: prob_<entry>, weight_<entry>,
    prob (highrank/lowrank folded into 'rank'). Every per-test prob is
    reported, so unlike ``detect`` the Monte-Carlo tests also run for keys
    an Eval gate zeroes; ``prob`` equals ``detect``'s."""
    conf = conf or AnomalyzerConf()
    withp, merged = _merged_probs(
        df, keys, ts_col, value_col, conf, tiebreak_cols, horizon,
        horizon_anchor, skew_salts, gated=False)
    cols = [*keys, "n_points", "last_ts"]
    for name, p in merged.items():
        cols.append(p.alias(f"prob_{name}"))
        cols.append(
            F.when(p.isNotNull(), weight_col(name, p)).alias(f"weight_{name}")
        )
    cols.append(combined_prob(merged, conf, F.col("n_points")).alias("prob"))
    return withp.select(*cols)
