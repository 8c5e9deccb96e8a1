"""Mergeable HyperLogLog distinct-count profiles — the cardinality leg
of incremental corpus monitoring.

``drift.histogram_profile``/``merge_profiles`` fold value DISTRIBUTIONS
across shard profiles without rescans; distinct counts (unique urls,
domains, content hashes, users) don't fold that way — per-shard distinct
counts are not additive, and Spark's ``approx_count_distinct`` keeps its
HLL state opaque inside one aggregation, so it cannot be persisted per
shard and merged weeks later. This module keeps the sketch as a plain
DataFrame of registers, so it parquets, diffs, and merges like any other
profile:

* **hll_profile**: (column, p, reg, rho) — one row per OCCUPIED
  register per profiled column. Built by ONE map-side-combined
  ``max`` aggregate over the scan (partial state per task is at most
  ``m = 2**p`` rows per column — bounded, spill-free). The hash is
  md5-derived (first 15 hex digits = 60 bits: ``p`` register bits,
  ``w = 60 - p`` rank bits) so DuckDB replays every register exactly
  (``('0x' || substr(md5(..), 1, 15))::BIGINT`` — the ``_hash48``
  convention); the rank (leading-zero count) is EXACT INTEGER bit math
  (smear + ``bit_count``), no float ``log2`` edge cases in either
  engine.
* **merge_hll**: union + ``max`` per register — HLL's register-wise max
  is associative/commutative/idempotent, so shard profiles merge into
  exactly the whole-corpus profile (pinned to equality in tests), and
  re-merging a shard is a no-op (at-least-once-safe).
* **hll_estimate**: the standard Flajolet–Fusy–Gandouet–Meunier
  estimator with linear-counting small-range correction. The harmonic
  fold is computed as an EXACT integer sum (each register contributes
  ``2**(w + 1 - rho)`` scaled units, summed in decimal(38,0)) so the
  estimate is bit-stable across partitionings and engines; floats
  appear only in the final alpha·m²/S division. Relative error is the
  usual ~1.04/sqrt(m) (p=12 ⇒ ~1.6%).

At 100 TB: profile each shard as it lands (the cost is the scan you
already pay, plus a ≤ m-row aggregate), persist the kilobyte register
frames, and answer "distinct documents this month" by merging frames —
the corpus is never rescanned. NULLs are skipped (count of distinct
non-null values, matching ``count(DISTINCT col)`` semantics); values
hash by their string form (the repo-wide portable-hash convention), so
cross-type equality follows string equality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import materialize as _materialize

__all__ = ["hll_estimate", "hll_overlap", "hll_profile", "merge_hll",
           "merge_mg", "mg_profile",
           "kll_profile", "kll_profile_sharded", "merge_kll",
           "kll_quantiles", "kll_ranks",
           "bottomk_profile", "merge_bottomk", "bottomk_estimate",
           "bottomk_jaccard"]

#: hash width in bits (15 md5 hex digits — fits BIGINT in both engines)
_HASH_BITS = 60


def _alpha(m: int) -> float:
    """Standard HLL bias constant (p >= 4)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _h60(value: Column) -> Column:
    """60-bit md5-derived hash of the value's string form (portable:
    DuckDB replays it digit-for-digit)."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit("hll"), value.cast("string"))
                  .cast("binary")), 1, 15),
        16, 10,
    ).cast("long")


def _rho(rem: Column, w: int) -> Column:
    """1 + number of leading zeros of ``rem`` within ``w`` bits, via
    bit smear + bit_count — exact integer math (floor(log2()) on a
    double can misround at exact powers of two; this cannot)."""
    s = rem
    for shift in (1, 2, 4, 8, 16, 32):
        s = s.bitwiseOR(F.shiftright(s, shift))
    return F.lit(w + 1) - F.bit_count(s)


def hll_profile(
    df: DataFrame,
    cols: list[str],
    *,
    p: int = 12,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Sparse HLL register frame for each column: (*group_cols, column,
    p, reg, rho) with one row per occupied register, ``rho`` the max
    rank seen. ``p`` register-index bits (m = 2**p registers,
    4 <= p <= 16); absent registers mean rho 0. One unpivot scan
    feeding ONE ``max`` aggregate — map-side combined, partial state
    bounded by m rows per (group, column) per task.

    ``group_cols=["domain"]`` keeps one sketch PER GROUP (distinct urls
    per domain, unique users per tenant — the grouped-cardinality
    monitor): the group keys simply become extra frame columns, and
    ``merge_hll`` / ``hll_estimate`` / ``hll_overlap`` key on every
    non-register column automatically, so grouped profiles persist,
    merge and estimate exactly like global ones (pinned: a group's rows
    equal the ungrouped profile of that group's slice). NULL group
    keys form their own group (Spark groupBy semantics). State is
    m rows per group — sketch many groups, but mind groups × m."""
    if not cols:
        raise ValueError("hll_profile needs at least one column")
    if not 4 <= p <= 16:
        raise ValueError("need 4 <= p <= 16")
    group_cols = list(group_cols or [])
    clash = set(group_cols) & {"column", "p", "reg", "rho"}
    if clash:
        raise ValueError(f"group_cols clash with profile schema: {clash}")
    w = _HASH_BITS - p
    # one-scan unpivot (the drift._unpivot shape: explode of an array of
    # cheap structs — NOT a union of per-column projections, which would
    # scan the input once per column)
    rows = [F.struct(F.lit(c).alias("column"),
                     F.col(c).cast("string").alias("v")) for c in cols]
    long = (df.select(*[F.col(g) for g in group_cols],
                      F.explode(F.array(*rows)).alias("r"))
            .select(*group_cols, "r.*")
            .where(F.col("v").isNotNull()))
    h = _h60(F.col("v"))
    u = long.select(
        *group_cols,
        F.col("column"),
        F.shiftright(h, w).alias("reg"),
        _rho(h.bitwiseAND(F.lit((1 << w) - 1)), w).alias("_rho"))
    return (u.groupBy(*group_cols, "column", "reg")
            .agg(F.max("_rho").alias("rho"))
            .select(*group_cols, "column", F.lit(p).alias("p"),
                    "reg", "rho"))


def merge_hll(profiles: list[DataFrame]) -> DataFrame:
    """Fold per-shard ``hll_profile`` frames into one — register-wise
    max, so merge(shards) == profile(whole corpus) EXACTLY (pinned),
    re-merging a shard is a no-op, and merge order never matters.
    Mixed ``p`` for the same column is REJECTED (register indices from
    different p are incomparable; profile shards with one p). Operates
    on the kilobyte frames only — no corpus access. Grouped profiles
    (``hll_profile(group_cols=...)``) merge the same way: every column
    besides (reg, rho) is a key."""
    if not profiles:
        raise ValueError("merge_hll needs at least one profile")
    u = profiles[0]
    for prof in profiles[1:]:
        u = u.unionByName(prof)
    keys = _hll_keys(u)
    ident = [c for c in keys if c != "p"]
    bad = [tuple(r[c] for c in ident) for r in
           u.select(*keys).distinct()
           .groupBy(*ident).agg(F.count(F.lit(1)).alias("np"))
           .where(F.col("np") > 1).collect()]
    if bad:
        raise ValueError(
            f"inconsistent p across shards for columns {sorted(bad)}; "
            "re-profile with one p to make sketches mergeable")
    return (u.groupBy(*keys, "reg")
            .agg(F.max("rho").alias("rho")))


def _hll_keys(profile: DataFrame) -> list[str]:
    """Every non-register column of an HLL frame — ('column', 'p') plus
    whatever group keys the profile carries — in frame order."""
    return [c for c in profile.columns if c not in ("reg", "rho")]


def hll_estimate(profile: DataFrame) -> DataFrame:
    """(column, p, n_est double) from a register frame. Raw estimate
    ``alpha(m) · m² / Σ 2^-rho`` (empty registers contribute 2⁰ each);
    linear counting ``m · ln(m / V)`` when the raw estimate is below
    2.5 m and some register is empty (V = count of empty registers).
    The harmonic sum is folded as exact scaled integers in
    decimal(38,0) — ``2^(w+1-rho)`` per occupied register — so the
    result is independent of partitioning and row order; no
    large-range correction (at 60 hash bits, collision bias is
    negligible below ~10^16 distinct). Grouped profiles estimate per
    group (one output row per key combination)."""
    keys = _hll_keys(profile)
    # one tiny aggregate per key over the (<= m)-row register frame
    agg = (profile.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_occ"),
        # shiftleft by a COLUMN exponent (the PySpark wrapper only takes
        # int literals; the SQL builtin takes expressions)
        F.sum(F.expr(
            f"cast(shiftleft(cast(1 as bigint), "
            f"{_HASH_BITS + 1} - p - rho) as decimal(38,0))"))
        .alias("_ssum")))
    m = F.pow(F.lit(2.0), F.col("p"))
    v = m - F.col("_occ")
    scale = F.pow(F.lit(2.0), F.lit(float(_HASH_BITS + 1)) - F.col("p"))
    inv_sum = (F.col("_ssum").cast("double") + v * scale) / scale
    alpha = (
        F.when(F.col("p") == 4, F.lit(_alpha(16)))
        .when(F.col("p") == 5, F.lit(_alpha(32)))
        .when(F.col("p") == 6, F.lit(_alpha(64)))
        .otherwise(F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m)))
    raw = alpha * m * m / inv_sum
    est = F.when((raw <= 2.5 * m) & (v > 0), m * F.log(m / v)) \
        .otherwise(raw)
    return agg.select(*keys, est.alias("n_est"))


def hll_overlap(profile_a: DataFrame, profile_b: DataFrame) -> DataFrame:
    """Distinct-overlap estimate between two profiled corpora (releases,
    snapshots, shards) from their register frames ALONE — no joins over
    data, no rescans: (column, p, n_a, n_b, n_union, n_intersection)
    per shared column, via inclusion–exclusion
    (``n_intersection = n_a + n_b − n_union``, clamped at 0, with the
    union estimated from ``merge_hll`` — registers union losslessly).

    The standard HLL caveat applies and is the contract here: the
    intersection's ABSOLUTE error scales with the UNION's size
    (~1.04/√m of ``n_union``), so a small true overlap between two huge
    corpora estimates noisily — use the exact/bloom ``decontam`` legs
    when the decision needs per-item truth; this answers the corpus-
    level "how much do these releases share?" question at profile
    cost. Columns (or grouped keys) present in only one profile are
    omitted (no overlap statement can be made); mixed p is rejected by
    the merge. Grouped profiles overlap per group."""
    keys = _hll_keys(profile_a)
    est_a = hll_estimate(profile_a).withColumnRenamed("n_est", "n_a")
    est_b = hll_estimate(profile_b).withColumnRenamed("n_est", "n_b")
    est_u = hll_estimate(merge_hll([profile_a, profile_b])) \
        .withColumnRenamed("n_est", "n_union")
    return (est_a.join(est_b, keys)
            .join(est_u, keys)
            .select(*keys, "n_a", "n_b", "n_union",
                    F.greatest(
                        F.lit(0.0),
                        F.col("n_a") + F.col("n_b") - F.col("n_union"))
                    .alias("n_intersection")))


# ---------------------------------------------------------------------------
# Misra–Gries mergeable heavy hitters
# ---------------------------------------------------------------------------

def _mg_keys(profile: DataFrame) -> list[str]:
    """Every key column of an MG frame — 'column' plus whatever group
    keys the profile carries — in frame order."""
    return [c for c in profile.columns
            if c not in ("key", "cnt", "off", "n")]


def _mg_compress(
    counts: DataFrame, k: int, keys: list[str],
) -> tuple[DataFrame, DataFrame]:
    """MG compression of an exact (*keys, key, cnt) frame: subtract each
    key-combination's (k+1)-th largest count and keep the strictly-
    positive remainder (≤ k survivors per combination; ties at the
    threshold drop). The ranking window is partitioned by ``keys`` with
    the rnk filter adjacent, so WindowGroupLimit caps every map
    partition's contribution at k+1 rows per combination BEFORE the
    exchange — the counts frame itself never funnels through one task.
    Returns (survivors (*keys, key, cnt), thresholds (*keys, _thr) —
    one row per input combination)."""
    from pyspark.sql.window import Window

    w = (Window.partitionBy(*keys)
         .orderBy(F.col("cnt").desc(), F.col("key").asc()))
    thr = (counts.withColumn("_rnk", F.row_number().over(w))
           .where(F.col("_rnk") <= k + 1)
           .groupBy(*keys)
           .agg(F.coalesce(
               F.max(F.when(F.col("_rnk") == k + 1, F.col("cnt"))),
               F.lit(0).cast("long")).alias("_thr")))
    survivors = (counts.join(F.broadcast(thr), keys)
                 .select(*keys, "key",
                         (F.col("cnt") - F.col("_thr")).alias("cnt"))
                 .where(F.col("cnt") > 0))
    return survivors, thr


def mg_profile(
    df: DataFrame,
    cols: list[str],
    *,
    k: int = 64,
    group_cols: list[str] | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Mergeable Misra–Gries heavy-hitter summary per column: (column,
    key string, cnt, off, n) with ≤ ``k`` survivor rows per column plus
    ONE metadata sentinel row (key NULL, cnt 0) that keeps (off, n)
    available even when no value survives compression. The guarantee
    (pinned in tests): for every value x with true count f(x),
    ``cnt(x) ≤ f(x) ≤ cnt(x) + off`` (cnt = 0 when absent), and every x
    with ``f(x) > off`` IS present; ``off ≤ n / (k+1)``. ``n`` is the
    column's non-null row count.

    This is the UNBOUNDED-cardinality complement to
    ``drift.category_profile`` (exact, mergeable, but O(distinct) rows)
    and ``checks.top_share`` (exact one-pass gate, no persistence):
    top domains/urls/tokens per shard as a ≤ k-row frame that folds
    across shards without rescans (``merge_mg`` — merged guarantees
    compose per Agarwal et al., *Mergeable Summaries*, PODS'12). Values
    summarize by their string form (the repo-wide portable convention);
    NULLs are skipped. Cost: the per-(column, value) count aggregate —
    map-side combined, hot values are hot KEYS, not hot partitions —
    plus the map-side-limited ranking described in ``_mg_compress``.

    The counts frame feeds THREE consumers (threshold ranking,
    survivor subtraction, per-column totals) and Catalyst gives them no
    ReusedExchange (the bm25/tfidf precedent), which would mean three
    corpus scans — so ``materialize=True`` (default) eagerly
    materializes it (see ``session.materialize``): one corpus scan, one
    count exchange, and every consumer reads the (O(distinct values),
    distributed) checkpoint. Pass ``materialize=False`` for a lazy
    plan-only frame.

    ``group_cols=["domain"]`` keeps one summary PER GROUP (top urls per
    domain — the grouped-tops monitor): group keys become frame columns
    (one sentinel per (group, column)) and ``merge_mg`` keys on them
    automatically (the grouped-HLL convention). The guarantee and all
    row bounds then hold per group; state is ≤ k+1 rows per
    (group, column)."""
    if not cols:
        raise ValueError("mg_profile needs at least one column")
    if k < 1:
        raise ValueError("k must be >= 1")
    group_cols = list(group_cols or [])
    clash = set(group_cols) & {"column", "key", "cnt", "off", "n"}
    if clash:
        raise ValueError(f"group_cols clash with profile schema: {clash}")
    keys = group_cols + ["column"]
    rows = [F.struct(F.lit(c).alias("column"),
                     F.col(c).cast("string").alias("key")) for c in cols]
    u = (df.select(*[F.col(g) for g in group_cols],
                   F.explode(F.array(*rows)).alias("r"))
         .select(*group_cols, "r.*")
         .where(F.col("key").isNotNull()))
    counts = u.groupBy(*keys, "key").agg(F.count(F.lit(1)).alias("cnt"))
    if materialize:
        counts = _materialize(counts, reason="mg_profile.counts")
    n = counts.groupBy(*keys).agg(F.sum("cnt").alias("n"))
    survivors, thr = _mg_compress(counts, k, keys)
    # metadata per key combination (covers every profiled one, including
    # those whose values all died in compression); NULL-key sentinel
    # keeps it in the frame
    meta = (n.join(thr, keys)
            .select(*keys, F.col("_thr").cast("long").alias("off"), "n"))
    out = survivors.join(F.broadcast(meta), keys) \
        .select(*keys, "key", "cnt", "off", "n")
    sentinel = meta.select(
        *keys, F.lit(None).cast("string").alias("key"),
        F.lit(0).cast("long").alias("cnt"), "off", "n")
    return out.unionByName(sentinel)


def merge_mg(profiles: list[DataFrame], *, k: int = 64) -> DataFrame:
    """Fold per-shard ``mg_profile`` frames into one ≤ k-row-per-column
    summary of the UNION of the shards — counter-wise sum, then one MG
    compression; the error offsets add (plus the new compression's
    threshold), so the merged ``off`` keeps the containment guarantee
    ``cnt ≤ f ≤ cnt + off`` over the union. Merge order never matters
    (pinned). Operates on the ≤ k-row frames only — no corpus access
    and no driver round-trips: each input's per-column (off, n) rides
    its NULL-key sentinel row (exactly one per column by construction,
    in fresh and merged profiles alike), so shard metadata folds as a
    plain sum over sentinel rows."""
    if not profiles:
        raise ValueError("merge_mg needs at least one profile")
    if k < 1:
        raise ValueError("k must be >= 1")
    u = profiles[0]
    for prof in profiles[1:]:
        u = u.unionByName(prof)
    return _merge_mg_union(u, k)


def _merge_mg_union(u: DataFrame, k: int) -> DataFrame:
    """Merge a UNION of MG profile frames: survivor rows carry
    denormalized (off, n) copies, but only the NULL-key sentinels
    (exactly one per input per key combination) are authoritative —
    their sum is the merged offset/row count. Key columns ('column'
    plus any group keys) come from the schema. Shared by ``merge_mg``
    and the streaming sketch store reader, which hands the union over
    as one batch_id-partitioned scan instead of a frame per
    micro-batch."""
    keys = _mg_keys(u)
    summed = (u.where(F.col("key").isNotNull())  # drop metadata sentinels
              .groupBy(*keys, "key").agg(F.sum("cnt").alias("cnt")))
    meta_df = (u.where(F.col("key").isNull())
               .groupBy(*keys)
               .agg(F.sum("off").alias("_off"), F.sum("n").alias("n")))
    survivors, thr = _mg_compress(summed, k, keys)
    new_meta = (meta_df.join(
        F.broadcast(thr), keys, "left")
        .select(*keys,
                (F.col("_off")
                 + F.coalesce(F.col("_thr"), F.lit(0))).alias("off"),
                "n"))
    out = survivors.join(F.broadcast(new_meta), keys) \
        .select(*keys, "key", "cnt", "off", "n")
    sentinel = new_meta.select(
        *keys, F.lit(None).cast("string").alias("key"),
        F.lit(0).cast("long").alias("cnt"), "off", "n")
    return out.unionByName(sentinel)


# ---------------------------------------------------------------------------
# KLL-style mergeable quantile profiles
# ---------------------------------------------------------------------------
#
# The rank/quantile leg of incremental corpus monitoring: answer "p99 doc
# length this month" from persisted per-shard frames, the way hll_profile
# answers distinct counts — no corpus rescans, no pinned bin bounds
# (drift.histogram_profile needs bounds known up front; this does not).
#
# Structure (Karnin–Lang–Liberty compactor hierarchy, batch-canonical):
# a profile is a frame of (column, level, item, cnt, n, err) rows — cnt
# copies of value `item` at `level`, each representing 2**level input
# rows. The BATCH build is the closed form of running every full-level
# KLL compaction at once: compacting level l keeps every other item of
# the level's sorted multiset (offset = a deterministic md5-derived coin
# bit, the house portable-hash convention), so j cascaded compactions
# keep exactly the sorted positions p with p % 2**j == o, where
# o = sum(coin(column, l) << l). That closed form is ONE counting pass:
#   groupBy(column, value) count  ->  cumulative rank over DISTINCT
#   values  ->  per-value survivor count by modular interval arithmetic
# (the skewsafe_median counting-rewrite shape: the shuffle key is
# (column, value), so hot values are hot KEYS, never hot partitions; the
# distinct-value window holds O(distinct) state per column, and for
# high-cardinality columns the state is the value set, not the rows).
#
# Guarantees (pinned in tests/test_kll.py, hypothesis-tested):
# * err is a DETERMINISTIC rank-error bound: for every x,
#   |est_rank(x) - true_rank(x)| <= err, where est_rank(x) =
#   sum(cnt * 2**level for items <= x). Batch build: err = 2**j - 1
#   < 2n/k. Merged profiles: shard errs add, plus 2**l per merge
#   compaction of level l (mergeable-summaries composition, the
#   Agarwal et al. PODS'12 frame).
# * n <= k  ->  the profile IS the exact multiset (err = 0), and
#   merge == whole EXACTLY in the uncompacted case (the MG precedent;
#   compaction grouping may legally move which items survive, never the
#   guarantee).
# * everything is engine-portable: the only nondeterminism knob (the
#   compaction coin) is an md5 bit of "kll|<column>|<level>|<epoch>",
#   so DuckDB replays a batch build digit-for-digit (the sketch_stats
#   rider does exactly that).


def _kll_keys(profile: DataFrame) -> list[str]:
    """Key columns of a KLL frame — 'column' plus any group keys."""
    return [c for c in profile.columns
            if c not in ("level", "item", "cnt", "n", "err")]


def _kll_coin(column: Column, level: Column, epoch: int) -> Column:
    """Deterministic compaction coin in {0, 1}: bit of the md5-derived
    60-bit integer of "kll|<column>|<level>|<epoch>" (portable: DuckDB
    replays it as ('0x' || substr(md5(..), 1, 15))::BIGINT % 2)."""
    s = F.concat_ws("|", F.lit("kll"), column,
                    level.cast("string"), F.lit(str(epoch)))
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15),
                  16, 10).cast("long") % 2


def _bit_length(x: Column) -> Column:
    """bit_length(x) for x >= 0 as exact integer math (smear +
    bit_count — no float log2 edge cases), 0 for x == 0."""
    s = x
    for shift in (1, 2, 4, 8, 16, 32):
        s = s.bitwiseOR(F.shiftright(s, shift))
    return F.bit_count(s)


def kll_profile(
    df: DataFrame,
    cols: list[str],
    *,
    k: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Mergeable quantile profile per column: (*group_cols, column,
    level, item, cnt, n, err) with at most ``k`` surviving weighted
    items per column plus ONE metadata sentinel row (item NULL, cnt 0)
    carrying (n, err) even when values die in compaction. ``n`` is the
    non-null row count; ``err`` bounds every rank estimate (module
    docstring). Values profile as doubles; NULLs are skipped.

    Cost: one (column, value) count aggregate (map-side combined) plus
    one cumulative window over the DISTINCT values of each column — the
    ``skewsafe_median`` counting shape. The stride selection itself is
    pure modular arithmetic per distinct value; no driver loop, no
    second scan. ``group_cols`` keeps one sketch per group (p99 doc
    length per domain), the grouped-HLL convention."""
    if not cols:
        raise ValueError("kll_profile needs at least one column")
    if k < 2:
        raise ValueError("k must be >= 2")
    from pyspark.sql.window import Window

    group_cols = list(group_cols or [])
    clash = set(group_cols) & {"column", "level", "item", "cnt", "n", "err"}
    if clash:
        raise ValueError(f"group_cols clash with profile schema: {clash}")
    keys = group_cols + ["column"]
    rows = [F.struct(F.lit(c).alias("column"),
                     F.col(c).cast("double").alias("item")) for c in cols]
    long = (df.select(*[F.col(g) for g in group_cols],
                      F.explode(F.array(*rows)).alias("r"))
            .select(*group_cols, "r.*")
            .where(F.col("item").isNotNull()))
    counts = long.groupBy(*keys, "item").agg(F.count(F.lit(1)).alias("cnt"))
    w = (Window.partitionBy(*keys).orderBy(F.col("item").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy(*keys)
    ranked = counts.select(
        *keys, "item", "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("_start"),
        F.sum("cnt").over(wall).alias("n"))
    # j = ceil(log2(ceil(n / k))): the number of cascaded full-level
    # compactions that leaves n / 2**j <= k survivors — exact int math
    q = F.expr(f"(n + {k} - 1) div {k}")
    j = _bit_length((q - F.lit(1)).cast("long"))
    staged = ranked.withColumn("_j", j)
    # SQL exprs, not the Column API: shiftleft's Python wrapper only
    # accepts a literal shift amount (the hll_estimate precedent)
    staged = staged.withColumn(
        "_m", F.expr("shiftleft(cast(1 as bigint), _j)"))
    # batch offset o = sum(coin(column, l, 0) << l for l < j); the coin
    # is the md5 bit of "kll|<column>|<level>|0" (portable spec)
    staged = staged.withColumn("_o", F.expr("""
        CASE WHEN _j = 0 THEN cast(0 as bigint) ELSE
          aggregate(sequence(0, _j - 1), cast(0 as bigint),
            (acc, l) -> acc + shiftleft(
              cast(conv(substring(md5(cast(concat_ws('|',
                'kll', column, cast(l as string), '0') as binary)),
                1, 15), 16, 10) as bigint) % 2, l))
        END"""))
    # survivors of value v = #positions p in [start, start+cnt) with
    # p % m == o; f(x) = ceil((x-o)/m) via trunc div (numerator >= 0
    # because x >= 0 and o <= m-1)
    f_hi = F.expr("( _start + cnt - _o + _m - 1) div _m")
    f_lo = F.expr("( _start - _o + _m - 1) div _m")
    out = (staged
           .select(*keys, F.col("_j").cast("int").alias("level"), "item",
                   (f_hi - f_lo).alias("cnt"), "n",
                   (F.col("_m") - 1).alias("err"))
           .where(F.col("cnt") > 0))
    sentinel = (staged.groupBy(*keys).agg(
        F.first("n").alias("n"), (F.first("_m") - 1).alias("err"))
        .select(*keys, F.lit(None).cast("int").alias("level"),
                F.lit(None).cast("double").alias("item"),
                F.lit(0).cast("long").alias("cnt"), "n", "err"))
    return out.unionByName(sentinel)


def merge_kll(profiles: list[DataFrame], *, k: int = 256) -> DataFrame:
    """Fold per-shard ``kll_profile`` frames into one profile of the
    UNION of the shards. Same-level same-item rows sum; any level that
    then holds more than ``k`` weighted items compacts (sorted, keep
    every other item at an md5-coin offset, promote to level+1, add
    2**level to ``err``) until every level fits. Shard ``n``/``err``
    fold as sums over the authoritative NULL-item sentinels (the MG
    convention). Operates on the kilobyte frames only — the compaction
    loop runs over bounded rows (<= shards * k per column), each pass
    one tiny window; no corpus access.

    Uncompacted case (union still <= k items per level): the merged
    frame equals the batch profile of the union EXACTLY when levels
    align; in general the rank-error guarantee composes (pinned)."""
    if not profiles:
        raise ValueError("merge_kll needs at least one profile")
    if k < 2:
        raise ValueError("k must be >= 2")
    from pyspark.sql.window import Window

    u = profiles[0]
    for prof in profiles[1:]:
        u = u.unionByName(prof)
    keys = _kll_keys(u)
    meta = (u.where(F.col("item").isNull())
            .groupBy(*keys)
            .agg(F.sum("n").alias("n"), F.sum("err").alias("err")))
    cur = (u.where(F.col("item").isNotNull())
           .groupBy(*keys, "level", "item")
           .agg(F.sum("cnt").alias("cnt")))
    cur = _materialize(cur, reason="merge_kll.levels")
    meta = _materialize(meta, reason="merge_kll.meta")
    epoch = 0
    while True:
        over = (cur.groupBy(*keys, "level")
                .agg(F.sum("cnt").alias("_sz"))
                .where(F.col("_sz") > k)
                .select(*keys, "level"))
        if over.isEmpty():
            break
        tagged = cur.join(F.broadcast(over), keys + ["level"], "left_semi")
        rest = cur.join(F.broadcast(over), keys + ["level"], "left_anti")
        w = (Window.partitionBy(*keys, "level")
             .orderBy(F.col("item").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        c = _kll_coin(F.col("column"), F.col("level"), epoch)
        st = (tagged
              .withColumn("_start", F.sum("cnt").over(w) - F.col("cnt"))
              .withColumn("_o", c))
        kept = (F.expr("(_start + cnt - _o + 1) div 2")
                - F.expr("(_start - _o + 1) div 2"))
        promoted = (st.select(*keys, (F.col("level") + 1).alias("level"),
                              "item", kept.alias("cnt"))
                    .where(F.col("cnt") > 0))
        err_add = (over.groupBy(*keys).agg(
            F.sum(F.expr("shiftleft(cast(1 as bigint), level)"))
            .alias("_add")))
        meta = (meta.join(F.broadcast(err_add), keys, "left")
                .select(*keys,
                        "n",
                        (F.col("err") + F.coalesce(F.col("_add"),
                                                   F.lit(0))).alias("err")))
        cur = (rest.unionByName(promoted)
               .groupBy(*keys, "level", "item")
               .agg(F.sum("cnt").alias("cnt")))
        cur = _materialize(cur, reason="merge_kll.levels")
        meta = _materialize(meta, reason="merge_kll.meta")
        epoch += 1
    out = cur.join(F.broadcast(meta), keys) \
        .select(*keys, "level", "item", "cnt", "n", "err")
    sentinel = meta.select(
        *keys, F.lit(None).cast("int").alias("level"),
        F.lit(None).cast("double").alias("item"),
        F.lit(0).cast("long").alias("cnt"), "n", "err")
    return out.unionByName(sentinel)


def kll_ranks(profile: DataFrame, values: list[float]) -> DataFrame:
    """(keys..., column, value, est_rank, err, n) — estimated rank
    (number of rows <= value) for each probe value, from the profile
    alone. |est_rank - true_rank| <= err (pinned)."""
    spark = profile.sparkSession
    keys = _kll_keys(profile)
    sv = profile.where(F.col("item").isNotNull()).select(
        *keys, "level", "item", "cnt")
    meta = profile.where(F.col("item").isNull()).select(*keys, "n", "err")
    probes = spark.createDataFrame([(float(v),) for v in values],
                                   "value double")
    est = (sv.join(F.broadcast(probes))
           .where(F.col("item") <= F.col("value"))
           .groupBy(*keys, "value")
           .agg(F.sum(F.expr("cnt * shiftleft(cast(1 as bigint), level)"))
                .alias("est_rank")))
    grid = meta.join(F.broadcast(probes))
    return (grid.join(est, keys + ["value"], "left")
            .select(*keys, "value",
                    F.coalesce("est_rank", F.lit(0)).alias("est_rank"),
                    "err", "n"))


def kll_quantiles(profile: DataFrame, quantiles: list[float]) -> DataFrame:
    """(keys..., column, q, value) — the smallest profiled item whose
    estimated rank reaches ceil(q * n) (quantile_disc semantics over the
    sketch). The returned value is an actual data element whose rank
    INTERVAL covers q*n to within (err + 2**max_level) (pinned):
    an element duplicated m times occupies ranks
    [bisect_left(v)+1, bisect_right(v)], so the guarantee is
    dist(q*n, [bisect_left(v), bisect_right(v)]) <= err + top weight —
    NOT |bisect_right(v) - q*n| <= ..., which an exactly-correct answer
    under duplicates can violate by up to m (e.g. the median of
    [0, 0, 0]: bisect_right = 3 vs q*n = 1.5, yet 0.0 IS the median;
    the r13 hypothesis falsifier, pinned in tests/test_kll.py).
    Precision is a build-time choice (k), not a query-time rescan.

    The rank target is capped at the sketch's total estimated weight:
    compaction survivors total m*ceil((n-o)/m) which can undershoot n
    by up to m-1, so an uncapped ceil(q*n) target at q=1.0 could exceed
    every cumulative weight and silently drop the row — with the cap,
    every requested quantile yields a row (q=1.0 -> the max item)."""
    from pyspark.sql.window import Window

    for q in quantiles:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    spark = profile.sparkSession
    keys = _kll_keys(profile)
    sv = profile.where(F.col("item").isNotNull()).select(
        *keys, "level", "item", "cnt")
    meta = profile.where(F.col("item").isNull()).select(*keys, "n")
    wexpr = "cnt * shiftleft(cast(1 as bigint), level)"
    tot = sv.groupBy(*keys).agg(F.sum(F.expr(wexpr)).alias("_tot"))
    w = (Window.partitionBy(*keys).orderBy(F.col("item").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = sv.withColumn("_cum", F.sum(F.expr(wexpr)).over(w))
    qs = spark.createDataFrame([(float(q),) for q in quantiles],
                               "q double")
    target = F.greatest(
        F.lit(1).cast("long"),
        F.least(F.ceil(F.col("q") * F.col("n")).cast("long"),
                F.col("_tot")))
    return (cum.join(F.broadcast(meta), keys)
            .join(F.broadcast(tot), keys)
            .join(F.broadcast(qs))
            .where(F.col("_cum") >= target)
            .groupBy(*keys, "q")
            .agg(F.min("item").alias("value")))


# ---------------------------------------------------------------------------
# Bottom-k (KMV) coordinated samples
# ---------------------------------------------------------------------------
#
# The set-sketch leg: per column, the k DISTINCT values with the
# smallest md5-derived hash (Bavarian "K minimum values" / bottom-k
# sketch — Beyer et al. SIGMOD'07, Broder's min-wise hashing). Three
# properties the HLL/MG/KLL frames don't give:
#
# * CANONICAL: the sketch is a pure function of the distinct-value SET,
#   so merge(shards) == profile(whole) EXACTLY, always — not just
#   uncompacted (min-k of a union is the min-k of the mins).
# * COORDINATED: two corpora hash values identically, so their sketches
#   are comparable per item — `bottomk_jaccard` estimates release
#   overlap as |shared among the union's k smallest| / k, with relative
#   error ~1/sqrt(J*k); the right tool where hll_overlap's
#   inclusion-exclusion is noisy (small true overlap between big sets).
# * INSPECTABLE: the rows ARE values — "which urls/domains does the
#   new release share with the old one" is a join of two kilobyte
#   frames, not a corpus pass.
#
# The k-th smallest hash also yields the KMV distinct estimator
# n_est = (k - 1) * 2^60 / h_(k) — same question as hll_estimate,
# different trade (exact below k, value samples above).


def bottomk_profile(
    df: DataFrame,
    cols: list[str],
    *,
    k: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(*group_cols, column, h, key): the ``k`` distinct values of each
    column with the smallest 60-bit md5 hash (portable: "bk|<value>"
    through the ``_h60`` convention, DuckDB-replayable). Fewer than k
    distinct values → the sketch IS the distinct set. NULLs skipped;
    values sample by their string form.

    One distinct aggregate (shuffles on (keys, value) — hot values are
    hot keys) + one per-column ranking window whose rnk filter sits
    adjacent, so WindowGroupLimit caps every map partition's
    contribution at k rows before the exchange — the window never sees
    the distinct set whole."""
    from pyspark.sql.window import Window

    if not cols:
        raise ValueError("bottomk_profile needs at least one column")
    if k < 1:
        raise ValueError("k must be >= 1")
    group_cols = list(group_cols or [])
    clash = set(group_cols) & {"column", "h", "key"}
    if clash:
        raise ValueError(f"group_cols clash with profile schema: {clash}")
    keys = group_cols + ["column"]
    rows = [F.struct(F.lit(c).alias("column"),
                     F.col(c).cast("string").alias("key")) for c in cols]
    long = (df.select(*[F.col(g) for g in group_cols],
                      F.explode(F.array(*rows)).alias("r"))
            .select(*group_cols, "r.*")
            .where(F.col("key").isNotNull())
            .groupBy(*keys, "key").agg(F.count(F.lit(1)).alias("_c"))
            .drop("_c"))
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit("bk"), F.col("key"))
              .cast("binary")), 1, 15), 16, 10).cast("long")
    w = Window.partitionBy(*keys).orderBy(F.col("h").asc())
    return (long.withColumn("h", h)
            .withColumn("_rnk", F.row_number().over(w))
            .where(F.col("_rnk") <= k)
            .select(*keys, "h", "key"))


def merge_bottomk(profiles: list[DataFrame], *, k: int = 256) -> DataFrame:
    """Union the sketches, keep each column's k smallest hashes —
    EXACTLY the whole-corpus sketch (pinned to frame equality; the
    canonical-merge property). Kilobyte frames only."""
    from pyspark.sql.window import Window

    if not profiles:
        raise ValueError("merge_bottomk needs at least one profile")
    if k < 1:
        raise ValueError("k must be >= 1")
    u = profiles[0]
    for prof in profiles[1:]:
        u = u.unionByName(prof)
    keys = [c for c in u.columns if c not in ("h", "key")]
    w = Window.partitionBy(*keys).orderBy(F.col("h").asc())
    return (u.groupBy(*keys, "h", "key").agg(F.count(F.lit(1)).alias("_c"))
            .drop("_c")
            .withColumn("_rnk", F.row_number().over(w))
            .where(F.col("_rnk") <= k)
            .select(*keys, "h", "key"))


def bottomk_estimate(profile: DataFrame, *, k: int = 256) -> DataFrame:
    """(keys..., column, n_est double): KMV distinct-count estimate —
    EXACT (the sketch row count) when fewer than k values were seen,
    else the unbiased (k-1) * 2^60 / h_(k). ``k`` must be the build
    k (not recoverable from an undersized frame)."""
    keys = [c for c in profile.columns if c not in ("h", "key")]
    agg = profile.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_cnt"), F.max("h").alias("_hk"))
    est = F.when(F.col("_cnt") < k, F.col("_cnt").cast("double")) \
        .otherwise(F.lit(float(k - 1)) * F.lit(float(1 << 60))
                   / F.col("_hk").cast("double"))
    return agg.select(*keys, est.alias("n_est"))


def bottomk_jaccard(
    profile_a: DataFrame, profile_b: DataFrame, *, k: int = 256,
) -> DataFrame:
    """(keys..., column, j_est, k_used, n_shared): coordinated bottom-k
    Jaccard between two profiled corpora, from the sketches alone — the
    union's k smallest hashes form an unbiased uniform sample of the
    union set, so the fraction present in BOTH sketches estimates
    |A∩B| / |A∪B| with stderr ~ sqrt(J(1-J)/k). ``n_shared`` counts the
    shared sample members (join them back for the inspectable "what do
    these releases share" list). Columns present in only one profile
    are omitted. Exact when both sides held < k values."""
    from pyspark.sql.window import Window

    keys = [c for c in profile_a.columns if c not in ("h", "key")]
    both = (profile_a.select(*keys, "h").withColumn("_in_a", F.lit(1))
            .join(profile_b.select(*keys, "h").withColumn("_in_b", F.lit(1)),
                  keys + ["h"], "full_outer"))
    w = Window.partitionBy(*keys).orderBy(F.col("h").asc())
    top = both.withColumn("_rnk", F.row_number().over(w)) \
        .where(F.col("_rnk") <= k)
    # a column profiled on only ONE side is OMITTED (docstring contract;
    # a j_est of 0.0 would be indistinguishable from a genuinely
    # disjoint pair and read as a false "no overlap") — the full_outer
    # keeps its rows, so filter groups where either side never appeared
    return (top.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(F.when(F.col("_in_a").isNotNull()
                     & F.col("_in_b").isNotNull(), 1).otherwise(0))
        .alias("n_shared"),
        F.max("_in_a").alias("_any_a"),
        F.max("_in_b").alias("_any_b"))
        .where(F.col("_any_a").isNotNull() & F.col("_any_b").isNotNull())
        .select(*keys,
                F.round(F.col("n_shared") / F.col("k_used"), 6)
                .alias("j_est"),
                "k_used", "n_shared"))


def kll_profile_sharded(
    df: DataFrame,
    cols: list[str],
    *,
    k: int = 256,
    n_shards: int = 32,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """``kll_profile`` for CONTINUOUS/near-distinct columns at corpus
    scale: the plain build's cumulative window holds one column's
    DISTINCT VALUES in one partition — fine for bounded-cardinality
    columns (lengths, counts), O(n) state for continuous doubles. This
    build salts each value by its own hash into ``n_shards`` groups,
    profiles per (salt, keys) — every window partition now holds
    ~distinct/n_shards values — and folds the shard profiles with
    ``merge_kll``. Deterministic (the salt is a value hash, so the
    result is partitioning-independent like everything in this module).

    The rank-error contract is UNCHANGED in kind: per-shard errs
    (< 2·n_shard/k each) sum to ~2n/k and the merge's own compactions
    add their usual terms — all carried exactly in the frame's ``err``
    column, so |est_rank − true_rank| ≤ err still holds (pinned).
    Choose this over ``kll_profile`` when the profiled column is
    continuous; the sweep's kll_profile cell (crc32 values) is the
    worst case it exists for."""
    return merge_kll(
        [_kll_shard_profiles(df, cols, k=k, n_shards=n_shards,
                             group_cols=group_cols)], k=k)


def _kll_shard_profiles(
    df: DataFrame,
    cols: list[str],
    *,
    k: int,
    n_shards: int,
    group_cols: list[str] | None,
) -> DataFrame:
    """The pre-merge stage of ``kll_profile_sharded``: per-(salt, keys)
    shard profiles in merge_kll's input shape (salt already folded out
    of the key set). Exposed separately because merge_kll's eager
    checkpoints truncate lineage — the bounded-per-task-window contract
    (the window partition key carries the value-hash salt) is
    plan-pinned on THIS frame (tests/test_plans.py)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    group_cols = list(group_cols or [])
    if "_kll_salt" in df.columns or "_kll_salt" in group_cols:
        raise ValueError("'_kll_salt' is reserved by kll_profile_sharded")
    # the salt must hash the VALUE (not the row): same values land in
    # one shard, so per-shard distinct counts partition the column's
    # distinct set and the result is a pure function of the multiset
    rows = [F.struct(F.lit(c).alias("column"),
                     F.col(c).cast("double").alias("item")) for c in cols]
    long = (df.select(*[F.col(g) for g in group_cols],
                      F.explode(F.array(*rows)).alias("r"))
            .select(*group_cols, "r.*")
            .where(F.col("item").isNotNull()))
    salted = long.withColumn(
        "_kll_salt",
        F.pmod(F.crc32(F.col("item").cast("string")), F.lit(n_shards)))
    # re-pivot to one synthetic column per original column name: feed
    # kll_profile the long frame directly by treating (column, item) as
    # a single profiled column under (group_cols + salt + column) keys
    prof = kll_profile(
        salted.withColumnRenamed("column", "_kll_col")
              .withColumnRenamed("item", "_kll_item"),
        ["_kll_item"],
        k=k, group_cols=group_cols + ["_kll_salt", "_kll_col"])
    # fold the shard profiles: drop the salt, restore the column name —
    # the union of shard profiles IS merge_kll's input shape
    return (prof.drop("column")  # the literal '_kll_item' label
            .withColumnRenamed("_kll_col", "column")
            .drop("_kll_salt")
            .select(*group_cols, "column", "level", "item", "cnt",
                    "n", "err"))
