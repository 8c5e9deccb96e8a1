"""Rolling (per-point) detection — ``Push``-at-every-row as one window pass.

The reference re-evaluates after every appended point
(/root/reference/anomalyze.go:134-140). Batch-replaying that loop would be
O(n) evals; here the whole history gets per-point probabilities in ONE
window pass: the active/reference windows become row frames ending at each
row, and frame clipping at the partition start reproduces ``extractWindows``
shrink-to-fit (algorithms.go:56-69) exactly:

    active_n(p)    = min(a, p+1)          == frame (-(a-1), 0) clipped
    reference_n(p) = min(r, p+1 - act_n)  == frame (-(a+r-1), -a) clipped

Deterministic tests only (magnitude / fence / cdf — columnar.py's
builders, fed frame aggregates instead of staged array stats): these are
pure window aggregates — no arrays for the means, a bounded
``collect_list`` frame only for the cdf ECDF (the predicate depends on the
current row's query point).
The Monte-Carlo tests would cost O(perm·window) per ROW rather than per key
— callers who want them rolling should downsample first (see resample.py)
or accept the kernel cost explicitly; this operator refuses them.

Scale: one hash exchange on keys + one sort — identical shuffle shape to
``detect``, output is per-row. 100 TB note: the frame state per key is
O(window), so skew only matters for key hotness, not history length.

Hot keys (``chunk_rows=``): a window partitioned by key serializes each
key's whole history into ONE task — five keys means five-way parallelism
no matter how many cores (measured: the sf0.1 events table, 5 keys x 20k
rows, ran its frame aggregates on 2 post-AQE tasks, wall ~1.8s with 32
cores idle). Because every frame looks back at most L = active+reference
rows, the per-key scan parallelizes exactly: split each key's history into
C-row chunks, replay the last L rows of chunk c as a PRELUDE of chunk c+1,
run the identical frames over (key, chunk), and drop prelude rows. Real
rows sit at local position >= L, so their frames never clip at the chunk
boundary and every value they reach is present — bit-identical output to
the unchunked pass (pinned in tests/test_rolling_chunked.py). Cost: one
extra light row_number window + L duplicated rows per chunk (L/C overhead,
~0.2% at the 4096 default). At 100 TB this is the difference between a
billion-row hot key serializing on one executor and it spreading across
the cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import AnomalyzerConf
from . import columnar
from .combine import combined_prob, merge_probs

ROLLING_METHODS = ("magnitude", "fence", "cdf")


def detect_rolling(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    conf: AnomalyzerConf | None = None,
    tiebreak_cols: list[str] | None = None,
    chunk_rows: int | None = None,
) -> DataFrame:
    """Per-row anomaly probability over the window ending at each row.

    Returns the input key/order columns plus (n_points, prob). The prob at
    the last row of each key equals ``detect``'s output for that key.

    ``chunk_rows``: parallelize WITHIN hot keys by windowing over C-row
    chunks with an L-row replayed prelude (module docstring). Output is
    bit-identical to the default path; requires the (ts, tiebreak) order to
    be total per key (a deterministic row_number assigns chunks — with
    duplicate order keys the per-row cdf/lag results are already
    order-dependent in BOTH paths).
    """
    conf = conf or AnomalyzerConf()
    bad = [m for m in conf.methods if m not in ROLLING_METHODS]
    if bad:
        raise ValueError(
            f"detect_rolling supports deterministic methods {ROLLING_METHODS}; "
            f"got {bad} — resample + detect() for Monte-Carlo tests")

    a, r = conf.active_size, conf.reference_size
    tiebreak_cols = tiebreak_cols or []
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    out_cols = [*keys, ts_col, *tiebreak_cols, value_col]

    if chunk_rows is not None:
        # deepest lookback of any frame is a+r-1 rows of v (w_all/w_ref
        # below); the cdf's diff stream needs one lag beyond its own
        # frames, which is still <= a+r-1 — L = a+r carries one spare row
        L = a + r
        C = max(int(chunk_rows), L)
        w0 = Window.partitionBy(*keys).orderBy(*order)
        rn = F.row_number().over(w0) - 1  # O(1)/row: cheap even on 1 task
        chunk0 = (F.col("__rn") / C).cast("long")
        tail = (F.col("__rn") % C) >= C - L
        chunked = (
            df.withColumn("__rn", rn)
            # last L rows of each chunk replay as the next chunk's prelude
            .withColumn("__chunk", F.explode(
                F.when(tail, F.array(chunk0, chunk0 + 1))
                .otherwise(F.array(chunk0))))
            # explicit width: AQE's byte-based coalescing would re-serialize
            # a small shuffle onto 1-2 tasks, defeating the whole point at
            # gate scale (at 100 TB the bytes keep it wide either way)
            .repartition(df.sparkSession.sparkContext.defaultParallelism,
                         *keys, "__chunk")
        )
        wc = Window.partitionBy(*keys, "__chunk").orderBy(F.col("__rn").asc())
        n_points, prob = _prob_exprs(wc, F.col(value_col).cast("double"), conf)
        return (
            chunked.select(
                *out_cols, (F.col("__chunk") == chunk0).alias("__real"),
                n_points.alias("n_points"), prob.alias("prob"))
            .where(F.col("__real")).drop("__real")
        )

    w = Window.partitionBy(*keys).orderBy(*order)
    n_points, prob = _prob_exprs(w, F.col(value_col).cast("double"), conf)
    return df.select(
        *out_cols, n_points.alias("n_points"), prob.alias("prob"))


def _prob_exprs(w: Window, v: Column, conf: AnomalyzerConf):
    """(n_points, prob) frame expressions over an ordered per-key window.

    Every frame ends at the current row and reaches back at most a+r-1
    rows, so the caller may partition by (key) or (key, chunk) — the
    chunked caller guarantees the lookback rows exist (module docstring).
    """
    a, r = conf.active_size, conf.reference_size
    w_all = w.rowsBetween(-(a + r - 1), 0)
    w_act = w.rowsBetween(-(a - 1), 0)
    w_ref = w.rowsBetween(-(a + r - 1), -a)

    stats = {
        "act_mean": F.avg(v).over(w_act),
        "ref_n": F.count(v).over(w_ref),
        "ref_mean": F.avg(v).over(w_ref),
    }
    if "cdf" in conf.methods:
        # |first difference| stream, then frames of sizes (a, r-1) over it
        d = F.abs(v - F.lag(v, 1).over(w))
        wd_act = w.rowsBetween(-(a - 1), 0)
        wd_ref = w.rowsBetween(-(a + (r - 1) - 1), -a)
        stats.update(
            dact_mean=F.avg(d).over(wd_act),
            dref_mean=F.avg(d).over(wd_ref),
            dref_n=F.count(d).over(wd_ref),
            dref=F.collect_list(d).over(wd_ref),
        )
    probs = columnar.deterministic_probs(conf, stats)

    merged = merge_probs(probs, conf.methods)
    n_points = F.count(v).over(w_all)
    prob = combined_prob(merged, conf, n_points)
    return n_points, prob
