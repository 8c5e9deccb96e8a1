"""Deduplication operators for training-data pipelines.

Six flavors, all DataFrame-first:

  * exact_dedup           — md5-hash groupBy (one shuffle on a 16-byte key)
  * ngram_jaccard_pairs   — exact n-gram-shingle Jaccard via shingle self-join
  * minhash_lsh_pairs     — MinHash + banded LSH candidate generation, then
                            exact-Jaccard verification of candidates only
  * simhash               — 32-bit SimHash signatures + near-pair mining
  * embedding near-dup    — see similarity.cosine_pairs (cosine > threshold)
  * duplicate_spans       — cross-doc exact-SUBSTRING dedup (ExactSubstr
                            semantics): maximal duplicated runs of >=
                            min_len words, one canonical copy kept,
                            suffix-array-free (two ordinary shuffles)

Hash choice: md5 (not murmur) everywhere a signature participates in
results, because md5 is bit-identical across engines — the DuckDB oracle can
reproduce every signature, band bucket, and candidate pair. md5 costs more
than murmur3 per call but stays JVM-side and vectorized; at 100 TB the
dominant cost is the shingle-explode shuffle, not the hash.

Scale notes (100 TB):
  * shingle self-joins explode quadratically on hot shingles → optional
    ``max_shingle_freq`` drops shingles occurring in more than N docs
    (stop-shingles carry ~no signal for near-dup);
  * MinHash-LSH is the scale path: candidates are generated per band bucket,
    so the join key is the bucket hash, AQE handles residual skew;
  * pair outputs are canonicalized (id_a < id_b) so downstream
    connected-components / keep-first policies are deterministic.
"""

from __future__ import annotations

import re as _re
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import materialize as _materialize


def normalized(text: Column) -> Column:
    """lowercase, non-alnum → space, collapse whitespace, trim (shared with
    functions.text.fingerprint)."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "), r"\s+", " ")
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, normalize: bool = True
) -> DataFrame:
    """Exact duplicate groups keyed by content hash.

    Returns (id, content_hash, group_size, canonical_id, is_duplicate):
    canonical = min id in the group; is_duplicate marks rows a keep-first
    policy would drop. Plan: project → hash → one groupBy shuffle on the
    digest → broadcast-friendly join back (the grouped side is tiny).

    NULL-safety contract (r14 review): EVERY input row comes back.
    NULL-text docs hash to one well-defined sentinel group (identical
    absent content — md5(NULL) is NULL and a plain equi-join would
    silently DELETE those rows, which through curate()'s keep-first
    semi-join meant permanent corpus loss). And because ``normalized``
    is an ASCII [a-z0-9] lexer, a document whose normalized form is
    empty while its RAW text is not (non-Latin scripts) hashes its raw
    bytes instead — two different CJK documents are NOT one duplicate
    group.
    """
    t = F.col(text_col)
    base = normalized(t) if normalize else t
    if normalize:
        base = F.when((base == "") & (t != ""), t).otherwise(base)
    h = F.coalesce(F.md5(base.cast("binary")),
                   F.lit("__null_text__")).alias("content_hash")
    hashed = df.select(F.col(id_col), h)
    groups = hashed.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min(id_col).alias("canonical_id"),
    )
    return (
        hashed.join(groups, "content_hash")
        .select(
            id_col,
            "content_hash",
            "group_size",
            "canonical_id",
            (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


def normalized_words(text: Column) -> Column:
    """array<string> of the normalized word sequence — the persist-once
    column for every shingle consumer (``word_shingles_from_words`` /
    ``decontam.contamination(train_words_col=)``): normalization is the
    regex-heavy part of shingling, so a corpus scored against many eval
    sets / shingle sizes writes this column once next to the text (the
    ``retrieval.tokenize_docs`` recipe, on the dedup lexical spec)."""
    return F.split(normalized(text), " ")


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of the normalized text (array<string>).

    Documents with fewer than k words yield their full word sequence as a
    single shingle (so short docs still participate)."""
    return word_shingles_from_words(normalized_words(text), k)


def word_shingles_from_words(words: Column, k: int = 3) -> Column:
    """``word_shingles`` over an already-normalized word array (a
    ``normalized_words`` column, usually persisted). Element values and
    order are those of the word-at-a-time left fold; the chain is the
    binary-doubling ``_doubled`` build."""
    return _shingles(words, k)


def _inline(m: int, level: Column) -> Column:
    return level


def _doubled(first: Column, rest: Column, k: int, join, n: Column,
             stage=_inline) -> Column:
    """The k-gram chain of the shingle and span-gram builders: element i
    is ``first[i] ⊕ rest[i+1] ⊕ … ⊕ rest[i+k-1]`` (``⊕`` = ``join``
    under zip_with, ``n`` = the array size the shifts clip against).

    Built by BINARY DOUBLING over shifted slices (r15): power levels
    rest_2m = zip_with(rest_m, shift(rest_m, m)) up to p/2 (p = the top
    power of two in k); the prefix chain is rest_p itself when ``first
    is rest`` (word shingles) and otherwise doubles from ``first``
    (first_2m = zip_with(first_m, shift(rest_m, m)) — span grams, whose
    first word is ltrimmed); then the remaining set bits of k are
    combined largest-first. O(log k) zip_withs instead of the left
    fold's k-1: higher-order functions run interpreted, so per-element
    evaluation count dominates, and no accumulator string is re-copied
    once per appended word. The join is
    associative and null-propagating over zip_with's NULL padding, so
    element values and the trailing-NULL pattern are bit-identical to
    the left fold; for k <= 3 the tree IS the left fold's.

    ``stage(m, level)`` receives every power level of ``rest`` (and
    rest_p when it is the prefix) and returns the column to use in its
    place: the level itself (``_inline``), or a reference to it staged
    as a projection (``_staged``)."""
    def step(acc: Column, level: Column, c: int) -> Column:
        return F.zip_with(
            acc, F.slice(level, c + 1, F.greatest(n - c, F.lit(0))), join)

    p = 1 << (k.bit_length() - 1)
    pows = {1: rest}
    m = 1
    while m < (p if first is rest else p // 2):
        pows[2 * m] = stage(2 * m, step(pows[m], pows[m], m))
        m *= 2
    if first is rest:
        acc = pows[p]
    else:  # first_1 -> first_2 -> ... -> first_p
        acc, m = first, 1
        while m < p:
            acc = step(acc, pows[m], m)
            m *= 2
    c = p
    for m in sorted(pows, reverse=True):
        if c + m <= k:
            acc = step(acc, pows[m], c)
            c += m
    return acc


def _shingles(words: Column, k: int, stage=_inline) -> Column:
    """``word_shingles_from_words`` with a ``_doubled`` stage hook."""
    n = F.size(words)
    chain = _doubled(words, words, k,
                     lambda a, b: F.concat(a, F.lit(" "), b), n, stage)
    full = F.slice(chain, 1, F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.when(n >= k, full).otherwise(F.array(F.array_join(words, " ")))
    )


def _staged(df: DataFrame, col: str, k: int, build, prefix: str
            ) -> tuple[DataFrame, Column]:
    """``build(F.col(col), k, stage)`` (``_shingles`` / ``_gram_hashes``)
    with every shared doubling level staged as a projection column
    ``<prefix><m>`` — returns ``(staged_df, built_col)``.

    A Column expression is a TREE, not a DAG: rest_2m references rest_m
    twice, so inside ONE column a shared level is duplicated and
    re-evaluated per reference (the whole-tree zip count is back to
    ~k-1). A projection alias is evaluated once per row —
    CollapseProject keeps a stage whose alias is multiply-referenced and
    non-cheap — for the true ~log2 k evaluation count (measured 2.3x
    over the left fold at k=8 on the sf0.1 corpus, vs 1.25x unstaged).
    For k <= 3 no level is shared: returns ``df`` unchanged and the
    inline column. Values are bit-identical to the inline build (parity
    and optimized-plan zip_with counts pinned in
    tests/test_functions.py)."""
    if k <= 3:
        return df, build(F.col(col), k)

    def stage(m: int, level: Column) -> Column:
        nonlocal df
        df = df.withColumn(f"{prefix}{m}", level)
        return F.col(f"{prefix}{m}")

    out = build(F.col(col), k, stage)
    return df, out


def _shingle_exploded(
    df: DataFrame, text_col: str, id_col: str, k: int, max_shingle_freq: int | None
) -> DataFrame:
    """(id, n_shingles, shingle) rows; optionally drops hot shingles.
    Words staged before the shingle expr (one regex pass per row — HOF
    subtrees evaluate per reference) and explode_OUTER + isNotNull
    instead of explode: InferFiltersFromGenerate would add a
    size(shingles)>0 filter pushed into the SCAN, re-running the whole
    staged shingle tree once more per row (the bm25 lesson; measured
    2.5x on the k=8 gram explode). The isNotNull on the POST-generate
    attribute keeps NULL-text rows out of the shingle groupBy and
    cannot be pushed below the generate."""
    sh = df.select(
        F.col(id_col), normalized_words(F.col(text_col)).alias("_w")
    ).select(
        F.col(id_col),
        word_shingles_from_words(F.col("_w"), k).alias("_shingles")
    ).select(
        F.col(id_col),
        F.size("_shingles").alias("n_shingles"),
        F.explode_outer("_shingles").alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    if max_shingle_freq is not None:
        # df(shingle) via a window count, NOT an agg + self-join: the self-
        # join would recompute the shingle explode for both sides (measured
        # 2x), while the window rides ONE exchange on shingle that the
        # caller's groupBy("shingle") then reuses. The window operator
        # buffers a hot shingle's rows spill-safely (UnsafeExternalSorter),
        # unlike a collect_list buffer which OOMs — so the pre-agg filter
        # stays OOM-proof at corpus scale.
        from pyspark.sql.window import Window

        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w))
            .where(F.col("_df") <= max_shingle_freq)
            .drop("_df")
        )
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard similarity over word-k-gram shingle sets, for all pairs
    sharing ≥1 shingle. Returns (id_a, id_b, n_common, n_a, n_b, jaccard)
    with id_a < id_b and jaccard >= threshold.

    Exact but quadratic in per-shingle document frequency, so shingles with
    ``df(shingle) > max_shingle_freq`` are dropped BEFORE aggregation via a
    window count over the shingle exchange (spill-safe buffering; the
    count + semi-join alternative measured 2x slower because it re-derives
    the explode for both sides — see _shingle_exploded). No aggregation
    buffer ever materializes a hot shingle's doc list, which would OOM an
    executor on a stop-shingle at corpus scale. Default cap 1000 bounds
    per-shingle work at ~500k pairs; pass None to disable (exact, small
    corpora only). Prefer minhash_lsh_pairs beyond ~10M docs.

    Cap bias (deliberate, same calibration as ``shared_value_pairs``):
    capped-out hot shingles are removed from ``n_common`` (post-filter)
    but NOT from ``n_a``/``n_b`` (pre-filter set sizes), so reported
    jaccard UNDERSTATES the true value for pairs sharing hot shingles —
    shared stop-shingles are weak dup evidence, and keeping the true
    set sizes in the denominator is what keeps the score conservative
    rather than inflated. "Exact" above means exact over the KEPT
    shingle intersection; pass ``max_shingle_freq=None`` for the
    textbook statistic.
    """
    ex = _shingle_exploded(df, text_col, id_col, k, max_shingle_freq)
    # One shuffle on shingle; co-occurring docs collected per shingle and
    # pairs generated in-memory (df(shingle) is bounded by the PRE-agg
    # frequency filter above) — this computes the shingles ONCE, where a
    # shingle self-join would re-derive them for both sides and shuffle
    # twice.
    per_sh = ex.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"),
                                    F.col("n_shingles").alias("n")))
        ).alias("docs")
    ).where(F.size("docs") > 1)
    nd = F.size(F.col("docs"))
    pair_arr = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, nd),
                lambda y: F.struct(
                    x["id"].alias("id_a"), x["n"].alias("n_a"),
                    y["id"].alias("id_b"), y["n"].alias("n_b"),
                ),
            ),
        )
    )
    pairs = (
        per_sh.select(F.explode(pair_arr).alias("p"))
        .select("p.id_a", "p.n_a", "p.id_b", "p.n_b")
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        pairs.select("id_a", "id_b", "n_common", "n_a", "n_b",
                     F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


_MOD32 = 1 << 32  # Carter-Wegman universe: uint32 arithmetic in a BIGINT


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    num_hashes: int = 128,
    words_col: str | None = None,
) -> DataFrame:
    """MinHash signatures over word-k-gram shingles (Carter-Wegman family).

    One md5 per shingle; hash family i is the universal-hash mix
    ``(h1 + i*h2) mod 2^32`` with h1/h2 = the digest's first/second 32-bit
    words — the standard trick to avoid ``num_hashes`` full hash passes.
    The whole signature is ONE fold over the shingle array (md5 evaluated
    once per shingle, not once per family — higher-order-function subtrees
    are re-evaluated per element, so the md5 must live inside the fold
    input, not be referenced from ``num_hashes`` separate expressions).

    Returns (id, sig array<bigint>), each element in [0, 2^32).

    The word array is staged as its own projection (one regex pass per
    row — the shingle chain references it ~k+2 times and HOF subtrees
    evaluate per reference; see decontam._grams). ``words_col``: shingle a
    persisted ``normalized_words`` column instead of re-normalizing the
    text (the decontam._grams fast path — identical output by
    construction).
    """
    staged = df.select(F.col(id_col),
                       (F.col(words_col) if words_col
                        else normalized_words(F.col(text_col))).alias("_w"))
    # zero-evidence docs are EXCLUDED from near-dup candidacy (r14
    # review): NULL text, or text the [a-z0-9] lexer reduces to nothing
    # (punctuation-only, non-Latin scripts), yields no shingles — every
    # such doc used to share one degenerate signature, colliding in ALL
    # band buckets and producing a quadratic candidate self-join.
    # Identical-content grouping of contentless docs is exact_dedup's
    # job; near-dup similarity needs shingle evidence.
    staged = staged.where(
        F.size(F.filter(F.col("_w"), lambda x: x != "")) > 0)
    shingles = word_shingles_from_words(F.col("_w"), k)
    pairs = F.transform(
        F.transform(shingles, lambda s: F.md5(s.cast("binary"))),
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("h2"),
        ),
    )
    fams = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    sig = F.aggregate(
        pairs,
        F.array_repeat(F.lit(_MOD32).cast("long"), num_hashes),
        lambda acc, p: F.zip_with(
            acc, fams, lambda m, i: F.least(m, (p["h1"] + i * p["h2"]) % _MOD32)
        ),
    )
    return staged.select(F.col(id_col), sig.alias("sig"))


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    words_col: str | None = None,
) -> DataFrame:
    """(id, bucket) rows — ``bands`` band-bucket keys per document, bucket
    = md5(band index || that band's minhash rows). THE single definition of
    the LSH bucket key, shared by the batch pair generator
    (``minhash_lsh_pairs``) and the streaming store
    (``streaming.minhash_stream``) — any drift between them would desync
    the incremental store from the batch contract. ``words_col``: see
    ``minhash_signatures``."""
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands
    with_sig = minhash_signatures(
        df, text_col, id_col, k=k, num_hashes=num_hashes,
        words_col=words_col)
    return with_sig.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.concat_ws(
                        "|",
                        b.cast("string"),
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        ),
                    ).cast("binary")
                ),
            )
        ).alias("bucket"),
    )


def verify_jaccard_pairs(
    shingled: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs.

    ``shingled``: (id_col, sh array<string>) — only candidate docs need be
    present; ``cand``: (id_a, id_b). Returns (id_a, id_b, jaccard) with
    jaccard >= threshold, rounded 6 (the oracle precision). Shared by the
    batch and streaming MinHash paths so the verification stage cannot
    drift."""
    jac = (F.size(F.array_intersect("sa", "sb"))
           / F.size(F.array_union("sa", "sb")))
    return (
        cand.join(shingled.select(F.col(id_col).alias("id_a"),
                                  F.col("sh").alias("sa")), "id_a")
        .join(shingled.select(F.col(id_col).alias("id_b"),
                              F.col("sh").alias("sb")), "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH + exact verification.

    ``materialize`` (batch frames): materializes (see
    ``session.materialize``) the thrice-read intermediates (bucket rows,
    candidate list, candidate shingles) — Catalyst emits no
    ReusedExchange across the self-join/verify legs, so the signature and
    shingle folds would otherwise re-run per consumer (measured 2.7× the
    CPU at sf0.1). Pass ``materialize=False`` to build the frame without
    running any jobs (plan inspection; the eager checkpoints truncate
    explain output at ExistingRDD scans). Serving loops: see
    ``session.checkpoint_scope``.

    Pipeline: signature → split into ``bands`` bands of num_hashes/bands rows
    → band bucket = md5(band index || minhashes) → self-join per bucket for
    candidates → exact shingle-set Jaccard on candidates only → filter.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    Default 128 hashes / 32 bands (4 rows per band): candidate probability
    is 1-(1-J^4)^32 — ~87% recall at J=0.5, ~0.3% of random pairs — which
    keeps the bucket self-join from exploding at scale. Lower rows-per-band
    (more bands for the same num_hashes) trades join size for recall.

    ``max_bucket_size``: drop buckets with more members than this before
    the self-join (a window count riding the bucket exchange — same shape
    as ngram_jaccard's ``max_shingle_freq``). A bucket with B members
    yields B²/2 candidates, and web-scale corpora have boilerplate
    mega-clusters (every member sharing EVERY bucket): one 1M-doc cluster
    is 5·10¹¹ candidate pairs from a single bucket. Run ``exact_dedup``
    first (identical docs collapse there) and cap the residue here. Pairs
    lost to the cap are those whose ONLY shared buckets are oversized —
    mega-cluster-internal pairs plus near-dups OF the cluster that share
    no small bucket with it. Default None preserves the exact contract
    semantics (the correctness oracle reproduces the uncapped join).
    """
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")

    buckets = minhash_band_buckets(
        df, text_col, id_col, k=k, num_hashes=num_hashes, bands=bands)
    if max_bucket_size is not None:
        from pyspark.sql.window import Window

        buckets = (
            buckets.withColumn(
                "_bn", F.count(F.lit(1)).over(Window.partitionBy("bucket")))
            .where(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    if materialize:
        # materialize the bucket rows once: Catalyst does NOT reuse the
        # signature subtree across the self-join's two sides (no
        # ReusedExchange — verified, 0 in the plan), so without this the
        # interpreted minhash fold — the pipeline's dominant CPU — runs
        # once per side. (id, bucket-hash) rows are a tiny fraction of the
        # corpus. (The streaming store path materializes its buckets as
        # parquet instead.)
        buckets = _materialize(buckets, reason="minhash_lsh_pairs.buckets")
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), "bucket")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
    )
    if materialize:
        # cand feeds three consumers (both legs of the id semi-join union
        # and the verify join) — materialize the candidate list (tiny:
        # ∝ true near-dups) instead of running the bucket self-join 3×
        cand = _materialize(cand, reason="minhash_lsh_pairs.candidates")

    # Exact verification touches only candidate docs: semi-join the corpus
    # down BEFORE recomputing shingles, so verify cost scales with the
    # candidate count, not the corpus (at 100 TB candidates ≪ corpus).
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col),
                normalized_words(F.col(text_col)).alias("_w"))
        .select(F.col(id_col),
                word_shingles_from_words(F.col("_w"), k).alias("sh"))
    )
    if materialize:
        # sh feeds verify's two join legs (id_a side, id_b side) — same
        # no-ReusedExchange story, so the semi-join + shingle fold would
        # run twice; candidate-scoped, so the materialized frame is small
        sh = _materialize(sh, reason="minhash_lsh_pairs.shingles")
    return verify_jaccard_pairs(sh, cand, threshold, id_col)


def duplicate_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    max_iterations: int = 20,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into connected-component GROUPS.

    ``pairs`` is any (id_a, id_b) edge list (minhash_lsh_pairs,
    ngram_jaccard_pairs, cosine_pairs…). Returns (id, group_id, group_size)
    where group_id = the MIN id in the connected component (singletons get
    their own id) — the deterministic canonical for a keep-first policy.

    Distributed min-label propagation over EDGE-TOUCHED nodes only: only a
    node incident to an edge can ever change label, so the loop's joins and
    shuffles scale with |edges| (the near-dup fraction), never with the
    corpus — singletons are unioned back label=own-id AFTER convergence.
    Each round takes the min of own and neighbor labels, then pointer-jumps
    (label := label's label) so deep chains converge in O(log diameter)
    rounds instead of O(diameter). No driver-side graph state; a Catalyst
    plan cannot express the loop, so the loop lives here, truncating
    lineage per round (see ``session.materialize``).

    Raises a ``RuntimeWarning`` if the loop exhausts ``max_iterations``
    without converging (partially-merged components would silently keep
    extra copies under a keep-first policy).

    ``driver_threshold``: the small-graph shortcut. The distributed loop
    costs a fixed ~6 jobs/round (joins + lineage checkpoints +
    convergence probes) — measured at ~3 s for a 10k-edge fixture where
    the answer is microseconds of union-find — so when the pair count
    is within the threshold the edge list is collected (BOUNDED by the
    parameter: the probe is a ``limit(threshold+1)`` count, never a full
    count of a huge edge set) and resolved with driver-side union-find.
    Same min-label result bit-for-bit (equality pinned across both
    paths); pass ``0`` to force the distributed loop. The default 100k
    edges ≈ a few MB — the ``select_top_fraction`` bounded-collect
    precedent.
    """
    labels = None
    if driver_threshold > 0:
        # ONE bounded job probes the size AND fetches the edges: a
        # limit-collect of threshold+1 rows (a separate count probe would
        # execute the — possibly expensive — pair plan twice)
        rows = [(r[0], r[1]) for r in
                pairs.select("id_a", "id_b")
                .limit(driver_threshold + 1).collect()]
        if len(rows) <= driver_threshold:
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:     # path compression
                    parent[x], x = r, parent[x]
                return r

            for a, b in rows:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            nodes = {x for ab in rows for x in ab}
            id_type = pairs.schema["id_a"].dataType
            labels = df.sparkSession.createDataFrame(
                [(n, find(n)) for n in sorted(nodes)],
                T.StructType([T.StructField("id", id_type),
                              T.StructField("label", id_type)]))
    if labels is None:
        edges = (
            pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst"))
            .unionByName(
                pairs.select(F.col("id_b").alias("src"),
                             F.col("id_a").alias("dst")))
            .distinct()
        )
        labels = _propagate_labels(edges, max_iterations)
    # singletons (no incident edge) never change label — skip the loop
    # entirely and union them in at the end.
    singletons = (
        df.select(F.col(id_col).alias("id"))
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("label", F.col("id"))
    )
    all_labels = labels.unionByName(singletons)
    sizes = all_labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("group_size"))
    return (
        all_labels.join(sizes, "label")
        .select(F.col("id").alias(id_col),
                F.col("label").alias("group_id"), "group_size")
    )


def _propagate_labels(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Min-label propagation over the nodes of ``edges`` (must contain both
    edge directions). Returns (id, label) for edge-touched nodes ONLY."""
    import warnings

    # materialize the edge list ONCE before iterating: edges is typically
    # the most expensive lineage in the query (LSH bucket self-join +
    # exact verification over the corpus), and every propagation round
    # joins against it — without this, each of the O(log diameter) rounds
    # would re-execute candidate generation from scratch.
    edges = _materialize(edges, reason="duplicate_groups.edges")
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    converged = False
    for it in range(max_iterations):
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst").agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, labels.id == nbr_min.dst, "left")
            .select(
                "id",
                F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
            )
        )
        # pointer-jumping shortcut: follow one's label's label — collapses
        # chains exponentially (large-star/small-star style O(log n)).
        hop = stepped.select(F.col("id").alias("_lid"),
                             F.col("label").alias("_llabel"))
        new_labels = (
            stepped.join(hop, stepped.label == hop._lid, "left")
            .select(
                "id",
                F.least("label", F.coalesce("_llabel", "label")).alias("label"),
            )
        )
        # truncate lineage each round: without this, round i re-executes
        # all prior rounds and the plan grows unboundedly
        new_labels = _materialize(new_labels,
                                  reason="duplicate_groups.labels")
        # convergence probe = one extra driver job per check; pointer
        # jumping converges in O(log diameter) rounds, so probing every
        # OTHER round (and on the last) halves the probe jobs at the cost
        # of at most one redundant propagation round.
        if it % 2 == 1 or it == max_iterations - 1:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1).count()
            )
            if changed == 0:
                labels = new_labels
                converged = True
                break
        labels = new_labels
    if not converged:
        warnings.warn(
            f"duplicate_groups: label propagation did not converge in "
            f"{max_iterations} iterations — components deeper than that "
            f"are only partially merged (raise max_iterations)",
            RuntimeWarning, stacklevel=3)
    return labels


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_df: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-level dedup (boilerplate removal): drop every paragraph
    that occurs in ``max_df`` or more DISTINCT documents, reconstruct
    each document from its surviving paragraphs — the CCNet/Dolma-style
    pass that strips nav bars, cookie banners, and license footers a
    whole-document dedup can never touch (the documents differ; their
    boilerplate doesn't).

    Returns (id, <text_col> rebuilt, ``n_paragraphs``, ``n_dropped``).
    Every input document comes back exactly once (a document that was
    ALL boilerplate returns empty text — downstream length filters
    decide its fate, not this operator). Paragraph identity is the EXACT
    ``sep``-delimited span, keyed by md5; empty spans (consecutive
    separators, leading/trailing) are structure, not content: never
    counted, never dropped, always rebuilt in place, so a clean
    document round-trips byte-identically (NULL text comes back as
    empty text with zero counts).

    Plan shape (the 100 TB read): posexplode → paragraph-frequency
    aggregate keyed by md5 (partial map-side combine; a hot boilerplate
    paragraph is exactly a hot KEY, which the hash aggregate absorbs —
    no collect_set-over-window that would buffer a banner's million doc
    ids in one task) → frequency join riding the same md5 exchange →
    one exchange on the id to reassemble in original paragraph order.
    The paragraph explode is deliberately computed twice (frequency leg
    + join leg): it is map-only off a pruned scan, and re-scanning beats
    materializing a corpus-sized paragraph frame — the opposite trade
    from the LSH generators, whose checkpointed frames are keys only.
    DuckDB value parity + planted-boilerplate tests in
    tests/test_functions.py.
    """
    if max_df < 1:
        raise ValueError("max_df must be >= 1")
    # _outer: a NULL-text document still yields one (NULL, NULL) row, so
    # it comes back (as empty text) instead of vanishing from the output.
    # sep is a LITERAL separator (escaped — Spark's split takes a regex,
    # DuckDB's string_split a literal; literal is the portable contract).
    ex = df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.col(text_col), _re.escape(sep)))
        .alias("pos", "para"),
    ).withColumn(
        "_h",
        F.when(F.col("para") != "", F.md5(F.col("para").cast("binary"))),
    )
    freq = (
        ex.where(F.col("_h").isNotNull())
        .select(id_col, "_h").distinct()
        .groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= max_df)
    )
    marked = ex.join(freq, "_h", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.when(
                        F.col("_df").isNull(),
                        F.struct(F.col("pos"), F.col("para"))))),
                    lambda s: s["para"]),
                sep).alias(text_col),
            F.sum((F.col("_h").isNotNull()).cast("long"))
            .alias("n_paragraphs"),
            F.sum((F.col("_df").isNotNull()).cast("long"))
            .alias("n_dropped"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    window: int = 16,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking: split each document at positions where a
    rolling content hash satisfies ``hash % divisor == divisor - 1`` —
    chunk boundaries move WITH the content, so an insertion early in a
    document re-chunks only its neighborhood and every later chunk still
    dedups (the rsync/LBFS trick; fixed-size blocks would misalign).

    Engine-portable boundary spec: position ``p`` (1-based) ends a chunk at
    ``p + window - 1`` iff the first 8 hex chars of
    ``md5(substring(text, p, window))`` taken as an integer satisfy the
    divisor test. Expected chunk length ≈ ``divisor`` chars. Documents
    shorter than ``window`` (or empty) form one chunk.

    Relational formulation (same pattern as winnow_fingerprints): explode
    positions → md5 in codegen → boundary filter → per-doc sorted cut list
    → chunk substrings. One shuffle (the per-doc cut aggregation); no
    Python. Returns (id, chunk_idx, chunk_len, chunk_md5).
    """
    w, dv = window, divisor
    # NULL text is chunked as empty text (one zero-length chunk with a
    # real md5) — length(NULL) is NULL and would otherwise propagate a
    # (chunk_len NULL, chunk_md5 NULL) row that downstream chunk-level
    # grouping buckets under the NULL key (r14 review)
    text = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(text)
    positions = F.when(n >= w, F.sequence(F.lit(1), n - w + 1)) \
        .otherwise(F.array().cast("array<int>"))
    # explode_OUTER: a plain explode's inferred size(positions)>0 scan
    # filter would BUILD the whole position sequence once more per row
    # just to measure it (the bm25/_grams lesson); the NULL row an outer
    # explode emits for a short doc fails the md5 cut condition below
    grams = df.select(
        F.col(id_col), text.alias("_t"),
        F.explode_outer(positions).alias("p"),
    ).where(
        F.conv(F.substring(F.md5(F.col("_t").substr(F.col("p"), F.lit(w))
                                 .cast("binary")), 1, 8), 16, 10)
        .cast("bigint") % dv == dv - 1
    )
    cuts = grams.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.col("p") + (w - 1))).alias("_cuts"))
    withc = df.select(F.col(id_col), text.alias("_t"), n.alias("_n")).join(
        cuts, id_col, "left"
    ).withColumn(
        "_ends",
        F.concat(
            F.filter(F.coalesce("_cuts", F.array().cast("array<int>")),
                     lambda c: c < F.col("_n")),
            F.array(F.col("_n")),
        ),
    )
    # chunk i spans (prev end + 1 .. ends[i]); idx 0-based
    chunk = F.explode(
        F.transform(
            F.col("_ends"),
            lambda e, i: F.struct(
                i.alias("chunk_idx"),
                F.when(i == 0, F.lit(1))
                .otherwise(F.element_at(F.col("_ends"), i) + 1)
                .alias("start"),
                e.alias("end"),
            ),
        )
    )
    return (
        withc.select(F.col(id_col), chunk.alias("_c"), F.col("_t"))
        .select(
            F.col(id_col),
            F.col("_c.chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("_c.end") - F.col("_c.start") + 1).cast("long")
            .alias("chunk_len"),
            F.md5(F.col("_t").substr(
                F.col("_c.start"),
                F.col("_c.end") - F.col("_c.start") + 1)
                .cast("binary")).alias("chunk_md5"),
        )
    )


def simhash_col(text: Column, *, bits: int = 32) -> Column:
    """The SimHash signature of ``text`` as a pure column expression —
    usable inside any map-only projection (e.g. the ``text_profile``
    fused per-document profile attests it under a registry value hash).
    See ``simhash`` for the bit construction spec. Wordless documents
    (NULL text, or nothing survives the lexer) get signature 0 — the
    same contract ``simhash_weighted`` documents, so the two operators
    agree on degenerate input (r14 review; the old fold gave empty
    text the md5-of-empty-word bit pattern and NULL text a NULL)."""
    if bits > 32:
        raise ValueError("bits must be <= 32")
    words = F.filter(F.split(normalized(text), " "), lambda x: x != "")
    hashes = F.transform(words, lambda w: F.md5(w.cast("binary")))
    # ONE fold over the word hashes accumulating all 32 bit-sums at once
    # (md5 evaluated once per word; a per-bit aggregate would re-evaluate
    # the hash array `bits` times — higher-order subtrees are not CSE'd).
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
    bit_sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            bit_idx,
            lambda a, j: a
            + F.when(h.substr(j + 1, F.lit(1)).isin(
                "8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1),
        ),
    )
    # 2^j via a literal power table (shiftleft needs a non-Column bit count)
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    sig = F.aggregate(
        F.zip_with(
            bit_sums,
            powers,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.coalesce(sig, F.lit(0).cast("long"))  # NULL text -> 0


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, bits: int = 32
) -> DataFrame:
    """SimHash signature over normalized words.

    Bit j of a word's hash = top bit of the j-th nibble of md5(word) — i.e.
    hex digit >= '8'. Signature bit j = sign of Σ_words (±1). This
    hex-digit construction is deliberately engine-portable (any SQL engine
    with md5+substr reproduces it). Returns (id, simhash bigint, n_words);
    wordless documents (NULL text included) get signature 0 / n_words 0.
    """
    if bits > 32:
        raise ValueError("bits must be <= 32")
    words = F.filter(F.split(normalized(F.col(text_col)), " "),
                     lambda x: x != "")
    return df.select(
        F.col(id_col),
        simhash_col(F.col(text_col), bits=bits).alias("simhash"),
        # size(NULL array) is -1 under non-ANSI semantics
        F.greatest(F.size(words), F.lit(0)).alias("n_words"),
    )


#: fixed-point scale for weighted-simhash term weights: tf·idf is
#: quantized to integer MICRO-UNITS before the per-document bit sums, so
#: the sums are exact integers — order-independent across partitionings
#: and replayable in DuckDB (a double sum's rounding depends on
#: aggregation order, and a near-zero bit sum would make the SIGN, i.e.
#: the signature bit, nondeterministic)
SIMHASH_W_SCALE = 1_000_000


def simhash_weighted(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 32,
    corpus_stats: tuple[int, float] | None = None,
    materialize: bool = True,
) -> DataFrame:
    """tf·idf-weighted SimHash (the Charikar/Manku production variant):
    signature bit j = sign of Σ over DISTINCT words of
    ``round(tf · idf · 1e6) · (±1)``, with the same md5-nibble bit spec
    as ``simhash`` and the Lucene BM25 idf
    ``ln(1 + (N − df + 0.5)/(df + 0.5))`` (strictly positive, so a
    stop-word can never flip its own sign; shared with the bm25 stack).
    Unweighted SimHash lets boilerplate outvote content — two documents
    sharing a 90% template hash together no matter what the other 10%
    says; idf weighting makes the rare words carry the signature.
    Returns (id, simhash bigint, n_terms = distinct words); documents
    with no words get signature 0 (matching ``simhash``'s empty fold).

    Plan shape: staged split → ``explode_outer`` (the
    InferFiltersFromGenerate lesson) → one (doc, word) tf aggregate.
    That postings frame feeds BOTH the document-frequency aggregate and
    the weighted fold, with no ReusedExchange between them — so
    ``materialize=True`` (default) eagerly materializes it (see
    ``session.materialize``; the bm25 precedent; pass False for a lazy
    plan-only frame). df comes
    back as a word-keyed shuffle join (vocabulary is unbounded — no
    broadcast), the 32 bit contributions are computed ONCE per posting
    into a staged array, and the per-document fold is 32 exact integer
    sums over that attribute. ``corpus_stats=(n_docs, _)`` skips the
    corpus-count scan (persisted corpus-version metadata, the
    ``bm25_corpus_stats`` shape — only n_docs is read)."""
    if bits > 32:
        raise ValueError("bits must be <= 32")
    tok = (df.select(F.col(id_col),
                     F.split(normalized(F.col(text_col)), " ").alias("_w"))
           .select(F.col(id_col), F.explode_outer("_w").alias("word"))
           .where(F.col("word").isNotNull() & (F.col("word") != "")))
    tf = tok.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    if materialize:
        tf = _materialize(tf, reason="simhash_weighted.tf")
    if corpus_stats is not None:
        n_docs = int(corpus_stats[0])
        if n_docs < 1:
            raise ValueError("corpus_stats needs n_docs >= 1")
    else:
        if df.isStreaming:
            raise ValueError(
                "streaming frames need corpus_stats= (a streaming "
                "frame cannot be counted eagerly)")
        n_docs = df.count()
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("doc_freq"))
    idf = F.log(1.0 + (F.lit(float(n_docs)) - F.col("doc_freq") + 0.5)
                / (F.col("doc_freq") + 0.5))
    w_int = F.round(F.col("tf") * idf * SIMHASH_W_SCALE).cast("long")
    h = F.md5(F.col("word").cast("binary"))
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
    contrib = F.transform(
        bit_idx,
        lambda j: F.when(h.substr(j + 1, F.lit(1)).isin(
            "8", "9", "a", "b", "c", "d", "e", "f"), w_int)
        .otherwise(-w_int))
    staged = (tf.join(dfreq, "word")
              .select(F.col(id_col), contrib.alias("_c")))
    sums = staged.groupBy(id_col).agg(
        *[F.sum(F.element_at("_c", j + 1)).alias(f"_s{j}")
          for j in range(bits)],
        F.count(F.lit(1)).alias("n_terms"))
    sig = reduce(
        lambda acc, j: acc + F.when(F.col(f"_s{j}") > 0,
                                    F.lit(1 << j).cast("long"))
        .otherwise(F.lit(0).cast("long")),
        range(bits), F.lit(0).cast("long"))
    sigs = sums.select(F.col(id_col), sig.alias("simhash"),
                       F.col("n_terms").cast("long").alias("n_terms"))
    # wordless documents have no postings — give them the empty-fold
    # signature 0 like the unweighted operator (left join on the id key)
    return (df.select(F.col(id_col)).join(sigs, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("simhash", F.lit(0).cast("long"))
                    .alias("simhash"),
                    F.coalesce("n_terms", F.lit(0).cast("long"))
                    .alias("n_terms")))


def simhash_weighted_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 32,
    max_hamming: int = 3,
    corpus_stats: tuple[int, float] | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs by WEIGHTED SimHash Hamming distance — the
    ``simhash_pairs`` composition over ``simhash_weighted`` signatures
    (same pigeonhole banding, same verification; see ``hamming_pairs``).
    Use when boilerplate/template text dominates documents and the
    unweighted signature collapses distinct content into one bucket."""
    sigs = simhash_weighted(df, text_col, id_col, bits=bits,
                            corpus_stats=corpus_stats,
                            materialize=materialize)
    return hamming_pairs(sigs, "simhash", id_col, bits=bits,
                         max_hamming=max_hamming, materialize=materialize)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 32,
    max_hamming: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Banding: two signatures within Hamming d must agree exactly on at least
    one of d+1 equal bit-blocks → self-join per block value, verify with
    bit_count(xor). Returns (id_a, id_b, hamming). ``materialize``: see
    ``minhash_lsh_pairs`` — checkpoint the block rows once instead of
    running the simhash fold per self-join side; pass False for
    job-free plan inspection."""
    sigs = simhash(df, text_col, id_col, bits=bits)
    return hamming_pairs(sigs, "simhash", id_col, bits=bits,
                         max_hamming=max_hamming, materialize=materialize)


def hamming_blocks(
    sigs: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    *,
    bits: int = 64,
    max_hamming: int = 3,
) -> DataFrame:
    """(id, sig, block_id, block_val) — each signature exploded to its
    ``max_hamming + 1`` equal bit-blocks (the pigeonhole banding keys
    ``hamming_pairs`` self-joins on, and the store rows the streaming
    image-dedup store persists)."""
    nblocks = max_hamming + 1
    if bits % nblocks:
        raise ValueError(
            f"bits={bits} must split into max_hamming+1={nblocks} equal "
            "blocks (the pigeonhole guarantee needs the blocks to tile "
            "every bit)")
    width = bits // nblocks
    # block table unrolled over a PYTHON range: nblocks is a plan-time
    # constant, and shiftrightunsigned takes a literal bit count — a
    # literal array of structs also stays inside codegen where a
    # higher-order transform would not.
    mask = (1 << width) - 1 if width < 64 else -1
    block_structs = F.array(*[
        F.struct(
            F.lit(bid).alias("block_id"),
            F.shiftrightunsigned(F.col(sig_col), bid * width)
            .bitwiseAND(F.lit(mask).cast("long"))
            .alias("block_val"),
        )
        for bid in range(nblocks)])
    return sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(block_structs).alias("blk"),
    ).select(id_col, sig_col, "blk.block_id", "blk.block_val")


def hamming_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    *,
    bits: int = 64,
    max_hamming: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Pairs of rows whose ``bits``-wide bigint signatures are within
    ``max_hamming`` — the banded self-join shared by text SimHash
    (``simhash_pairs``) and perceptual image dHash
    (``multimodal.dhash_pairs``), or any other Hamming-space signature.

    Banding (pigeonhole): two signatures within Hamming d must agree
    EXACTLY on at least one of d+1 equal bit-blocks → explode each row to
    its d+1 (block_id, block_val) keys, equi-join per key, verify with
    bit_count(xor), dedup pairs found in multiple blocks. Never all-pairs:
    the join is a hash equi-join on block values (no-cartesian
    plan-pinned in tests). Returns (id_a, id_b, hamming)."""
    blocks = hamming_blocks(sigs, sig_col, id_col,
                            bits=bits, max_hamming=max_hamming)

    if materialize:
        # no ReusedExchange across the block self-join — materialize the
        # (id, sig, block) rows once so the signature computation (the CPU
        # of this operator) runs once, not per join side
        blocks = _materialize(blocks, reason="hamming_pairs.blocks")
    x, y = blocks.alias("x"), blocks.alias("y")
    ham = F.bit_count(F.col(f"x.{sig_col}").bitwiseXOR(F.col(f"y.{sig_col}")))
    return (
        x.join(y, ["block_id", "block_val"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    include_unchanged: bool = False,
) -> DataFrame:
    """Corpus snapshot delta — the incremental-processing primitive: given
    two versions of a corpus, classify every id as ``added`` (only in
    new), ``removed`` (only in old), ``changed`` (both, different content
    bytes), or ``unchanged``. A 100 TB pipeline re-runs its expensive
    stages (dedup signatures, embeddings, tokenization) on the
    added+changed slice only; ``removed`` drives index/state eviction.

    Content identity is md5 over the RAW text bytes (no normalization —
    a whitespace edit IS a change at the snapshot level; the dedup-style
    normalized identity is ``exact_dedup``'s job). NULL text hashes as
    NULL and two NULLs compare equal (null-safe), so a still-NULL row is
    ``unchanged``, not ``changed``.

    Returns (``<id_col>``, ``status``, ``old_hash``, ``new_hash``) —
    ``unchanged`` rows are dropped unless ``include_unchanged`` (at scale
    they dominate the output and callers almost never want them).

    Plan shape: each side reduces to (id, hash) map-side off a pruned
    two-column scan, then ONE full outer equi-join on the id — both
    sides hash-partition the same way, no broadcast needed and no skew
    (ids are unique per side). DuckDB value parity in
    tests/test_text_extras.py.
    """
    oh = old_df.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("binary")).alias("old_hash"),
        F.lit(True).alias("_in_old"))
    nh = new_df.select(
        F.col(id_col),
        F.md5(F.col(text_col).cast("binary")).alias("new_hash"),
        F.lit(True).alias("_in_new"))
    j = oh.join(nh, on=id_col, how="full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("old_hash").eqNullSafe(F.col("new_hash")),
              F.lit("unchanged"))
        .otherwise(F.lit("changed")))
    out = j.select(F.col(id_col), status.alias("status"),
                   "old_hash", "new_hash")
    if not include_unchanged:
        out = out.where(F.col("status") != "unchanged")
    return out


def keep_best(
    df: DataFrame,
    groups: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resolve duplicate GROUPS by keeping the best-scoring member — the
    production keep policy: near-duplicate crawl copies differ (ads
    stripped, truncation, encoding damage), and keep-FIRST throws away
    quality information a keep-BEST pass uses (CCNet keeps the
    highest-quality copy; ``min(id)`` is only the canonical for
    determinism proofs).

    ``df`` must carry ``score_col`` (e.g. ``quality_score`` from
    ``text_profile`` or ``model_score`` from ``quality.score_quality``);
    ``groups`` is ``duplicate_groups``' (id, group_id, group_size)
    frame — ONE row per id (``duplicate_groups``' output invariant; an
    id listed under two groups is off-contract, see below). ``df`` ids
    must be UNIQUE too: a grouped id that repeats in ``df`` joins one
    score row per copy, the copies rank against each other, and the id
    lands among the losers — EVERY copy is dropped, the winner's
    included. Returns the KEPT rows of ``df`` — one winner per group
    (highest score, smallest id on ties: deterministic), plus every
    document not in any group. Schema and columns pass through.

    Plan shape (r16): a kept row is exactly a row that is NOT a ranked
    LOSER of a duplicate group, so the selection is ONE left-anti join of
    ``df`` against the loser ids (rank > 1 in the winner-per-group
    window). No broadcast hint is given: the physical plan is a
    SortMergeJoin LeftAnti, with both ``df`` and the loser frame
    exchanged on the id. The r15 form computed the same set as
    semi-join(winners) ∪ anti-join(group members) — two corpus-side
    joins, a union, and a second evaluation of the ``groups`` subtree
    (Catalyst plans each reference separately); under the one-row-per-id
    contract the two are row-identical (parity-pinned in
    tests/test_functions.py). The loser frame is bounded by duplicate
    COPIES (the cluster sizes), strictly smaller than the old anti-join's
    group-member frame, and the window partitions remain duplicate
    groups. The off-contract case (one id in two groups, winning one and
    losing the other) would now be dropped where the old form kept it —
    that input violates the documented groups contract either way.
    """
    from pyspark.sql.window import Window

    # duplicate_groups is corpus-total (singletons carry their own id) —
    # scope to REAL groups so the window partitions are duplicate
    # clusters, not the corpus
    dups = groups.where(F.col("group_size") >= 2)
    scored = dups.join(
        df.select(F.col(id_col), F.col(score_col).alias("_s")), id_col)
    w = Window.partitionBy("group_id").orderBy(
        F.col("_s").desc_nulls_last(), F.col(id_col).asc())
    losers = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") > 1).select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def strip_repeated_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sep: str = "\n",
) -> DataFrame:
    """WITHIN-document repeated-paragraph removal — the cell between
    ``repetition_stats`` (which measures intra-doc repetition) and
    ``dedup_paragraphs`` (which drops CROSS-doc boilerplate): a crawl
    page that repeats the same block fifty times keeps exactly the
    FIRST occurrence of each distinct paragraph, in original order.
    Cross-doc frequency is irrelevant here; a paragraph appearing once
    per document everywhere is untouched.

    Returns (``<id_col>``, ``<text_col>`` rebuilt, ``n_paragraphs``,
    ``n_repeats_dropped``). Same structural contract as
    ``dedup_paragraphs``: empty spans are structure (never counted,
    always rebuilt in place), a clean document round-trips
    byte-identically, NULL text comes back empty with zero counts.

    Plan shape: posexplode → ONE exchange on the id for the
    first-occurrence window (a document's paragraphs meet in one
    partition — bounded by the document, the natural unit) → rebuild in
    the same aggregation. No corpus-wide frequency state at all, so
    unlike ``dedup_paragraphs`` there is no md5-keyed exchange: at
    100 TB this is scan → one doc-keyed shuffle → write. DuckDB value
    parity in tests/test_text_extras.py.
    """
    from pyspark.sql.window import Window

    ex = df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(F.col(text_col), _re.escape(sep)))
        .alias("pos", "para"),
    ).withColumn(
        "_h",
        F.when(F.col("para") != "", F.md5(F.col("para").cast("binary"))),
    )
    w = Window.partitionBy(id_col, "_h").orderBy("pos")
    marked = ex.withColumn(
        "_occ",
        F.when(F.col("_h").isNotNull(), F.row_number().over(w)))
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.when(
                        F.col("_h").isNull() | (F.col("_occ") == 1),
                        F.struct(F.col("pos"), F.col("para"))))),
                    lambda s: s["para"]),
                sep).alias(text_col),
            F.sum((F.col("_h").isNotNull()).cast("long"))
            .alias("n_paragraphs"),
            F.sum((F.col("_occ") > 1).cast("long"))
            .alias("n_repeats_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document duplicate-SPAN removal (ExactSubstr semantics)
# ---------------------------------------------------------------------------

_WS_BOUNDARY = r"(?<=\S)(?=\s)"


def _ws_exact_tokens(text: Column) -> Column:
    """Whitespace-EXACT tokenization: split at every \\S→\\s boundary, so
    each element is one word with its PRECEDING whitespace run attached
    (the first element may have none; an all/trailing-whitespace run forms
    one final word-less element). ``concat(tokens) == text`` byte-for-byte,
    which is what lets ``strip_duplicate_spans`` cut words out of a
    document and keep every surviving byte identical to the original —
    unlike a trim/split/re-join pipeline, which silently normalizes
    whitespace everywhere."""
    return F.split(F.coalesce(text, F.lit("")), _WS_BOUNDARY)


def _gram_hashes(toks: Column, k: int, stage=_inline) -> Column:
    """md5 of every word k-gram of a ``_ws_exact_tokens`` array, in
    position order (``array<string>``, element i = gram starting at word
    i). The gram key is the EXACT bytes of the k words including their
    interior separators, with the first word's leading whitespace
    stripped — i.e. the byte string from the first word's start to the
    last word's end. Interior whitespace differences therefore distinguish
    grams (true exact-substring semantics), while the context before the
    gram does not (a passage at document start matches the same passage
    mid-document).

    The chain is the ``_doubled`` build with the ltrimmed tokens as the
    gram prefix and the separator-attached raw tokens appended (8
    zip_withs at the dup_spans k=15 instead of the left fold's 14);
    ``stage`` is its hook. Parity with the left fold pinned in
    tests/test_functions.py::test_gram_hashes_doubling_parity."""
    n = F.size(toks)
    # a trailing pure-whitespace element carries no word: exclude it from
    # the gram universe (it would otherwise corrupt the last k-1 grams)
    m = n - F.when(F.trim(F.element_at(toks, -1)) == "", 1).otherwise(0)
    # ltrim applies ONLY to each gram's first word
    lt = F.transform(toks, lambda t: F.regexp_replace(t, r"^\s+", ""))
    chain = _doubled(lt, toks, k, lambda a, b: F.concat(a, b), n, stage)
    grams = F.transform(
        F.slice(chain, 1, F.greatest(m - (k - 1), F.lit(0))),
        lambda g: F.md5(g.cast("binary")),
    )
    return F.when(m >= k, grams).otherwise(F.array().cast("array<string>"))


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 20,
    scope: str = "cross_doc",
    keep: str = "canonical",
) -> DataFrame:
    """Find duplicated word SPANS — maximal runs of ``min_len``-or-more
    consecutive words whose exact bytes recur elsewhere in the corpus.
    The substring-granular complement to the document-level
    (``exact_dedup``), paragraph-level (``dedup_paragraphs``) and
    chunk-level (``cdc_chunks``) operators: boilerplate, licenses, and
    quoted passages duplicate across otherwise-distinct documents, and
    document-level dedup never sees them. This is the standard
    exact-substring training-data dedup (deduplicating repeated spans of
    >= a length threshold, keeping one canonical copy); the published
    implementations build a corpus-wide suffix array on one giant
    machine — here the equivalent span set falls out of two ordinary
    shuffles, because a duplicated span of length >= k is EXACTLY a
    maximal run of duplicated word k-grams (k = ``min_len``).

    Returns one row per (document, kind, maximal span):
    ``(<id_col>, kind, span_start, span_end, n_grams, n_tokens)`` with
    word-index bounds (inclusive, 0-based over the document's words).
    ``kind`` is ``'remove'`` for spans slated for deletion and (under
    ``keep='canonical'``) ``'keep'`` for the globally-first occurrence of
    each duplicated gram — ``strip_duplicate_spans`` deletes
    remove-coverage MINUS keep-coverage, so the canonical copy survives
    even where a neighboring duplicated region overlaps it.

    * ``scope='cross_doc'`` (default): a gram is duplicated when it
      occurs in >= 2 distinct documents (within-doc repetition is
      ``strip_repeated_paragraphs`` / ``repetition_stats`` territory).
      ``scope='all'``: any gram occurring >= 2 times anywhere.
    * ``keep='canonical'``: the occurrence with the smallest
      (``id_col``, position) survives; ``keep='none'``: every occurrence
      is marked remove (decontamination-style hard delete).

    Plan shape (2 exchanges): map-only gram build (O(words x min_len)
    byte hashing per doc, array-local, ~32 B/word output); ONE exchange
    on the gram hash where a single window pass computes occurrence
    count / id range / canonical occurrence (window, NOT agg+self-join —
    the self-join would recompute the gram explode twice, the
    ``_shingle_exploded`` precedent; hot boilerplate grams each land one
    spill-safe partition, and only duplicated grams — the tiny fraction —
    survive to the next stage); ONE exchange on (id, kind) where a
    lag/running-sum window merges gram runs into maximal spans (same-key
    groupBy rides the same partitioning, no third exchange). At 100 TB
    nothing corpus-wide ever sits on one node and there is no index
    build; the deliberate trade vs a suffix array is O(n·k) distributed
    map CPU for zero global state.

    64-bit-hash collisions would merge unrelated grams; md5's 128 bits
    make that negligible AND keep every signature engine-reproducible
    (the house rule) — though the DuckDB replay needs a regex dialect
    workaround for the lookbehind tokenizer, so parity is pinned by the
    brute-force oracle in tests/test_dedup_spans.py instead of a
    registry slot.
    """
    from pyspark.sql.window import Window

    _check_span_args(scope, keep, min_len)
    occ = gram_occurrences(df, text_col, id_col, min_len=min_len)
    w = Window.partitionBy("gram_hash")
    occ = (
        occ.withColumn("_n", F.count(F.lit(1)).over(w))
        .withColumn("_min_id", F.min(id_col).over(w))
        .withColumn("_max_id", F.max(id_col).over(w))
        .withColumn(
            "_canon",
            F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).over(w),
        )
    )
    dup = occ.where(
        (F.col("_min_id") != F.col("_max_id"))
        if scope == "cross_doc"
        else (F.col("_n") > 1)
    )
    return _marked_to_spans(dup, "_canon", keep, id_col, min_len)


def _check_span_args(scope: str, keep: str, min_len: int) -> None:
    if scope not in ("cross_doc", "all"):
        raise ValueError(f"duplicate_spans: unknown scope {scope!r}")
    if keep not in ("canonical", "none"):
        raise ValueError(f"duplicate_spans: unknown keep {keep!r}")
    if min_len < 2:
        raise ValueError("duplicate_spans: min_len must be >= 2")


def _marked_to_spans(dup: DataFrame, canon: str, keep: str, id_col: str,
                     min_len: int) -> DataFrame:
    """Mark the duplicated gram occurrences ``dup`` (``id, pos`` and the
    gram's canonical occurrence ``canon``, a struct<i,p>) ``keep`` or
    ``remove`` and merge them into maximal spans — the shared tail of
    ``duplicate_spans`` and the cross-batch store path
    (``duplicate_spans_from_gram_stats``)."""
    from pyspark.sql.window import Window

    is_canon = ((F.col(f"{canon}.i") == F.col(id_col))
                & (F.col(f"{canon}.p") == F.col("pos")))
    kind = (
        F.when(is_canon, F.lit("keep")).otherwise(F.lit("remove"))
        if keep == "canonical"
        else F.lit("remove")
    )
    marked = dup.select(F.col(id_col), F.col("pos"), kind.alias("kind"))
    # adjacent/overlapping k-gram intervals [pos, pos+k-1] merge exactly
    # when consecutive duplicated positions are <= k apart
    w2 = Window.partitionBy(id_col, "kind").orderBy("pos")
    prev = F.lag("pos").over(w2)
    runs = marked.withColumn(
        "_run",
        F.sum(
            F.when(prev.isNull() | (F.col("pos") - prev > min_len), 1).otherwise(0)
        ).over(w2.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        runs.groupBy(id_col, "kind", "_run")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + min_len - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .withColumn("n_tokens", F.col("span_end") - F.col("span_start") + 1)
        .drop("_run")
    )


def gram_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 20,
) -> DataFrame:
    """Every word ``min_len``-gram occurrence of the corpus — the map-only
    (``<id_col>``, ``pos``, ``gram_hash``) frame both the batch
    ``duplicate_spans`` window pass and the streaming gram store
    aggregate over. One scan, zero exchanges; O(words × min_len) byte
    hashing per document (the documented suffix-array trade). The token
    array is STAGED as its own projection (HOF subtrees evaluate per
    reference, so inlining ran the whitespace split once per reference —
    measured 1.9x warm on the sf0.1 gram explode) and the gram chain is
    the staged binary-doubling build (``_staged(..., _gram_hashes,
    "_gmr")`` — the raw-token power levels evaluate once per row as
    projections; ~2·log2(k) zip_with evaluations instead of the left
    fold's k-1)."""
    # plain posexplode is CORRECT here: unlike _shingle_exploded /
    # cdc_chunks, Catalyst infers NO size() > 0 filter below this
    # generate (verified against the optimized plan: 1 Generate,
    # 0 Filter nodes — an r14 review candidate claimed otherwise; the
    # outer+isNotNull variant just added a useless Filter node)
    staged, grams = _staged(
        df.select(F.col(id_col),
                  _ws_exact_tokens(F.col(text_col)).alias("_t")),
        "_t", min_len, _gram_hashes, "_gmr")
    return staged.select(
        F.col(id_col),
        F.posexplode(grams).alias("pos", "gram_hash"),
    )


def duplicate_spans_from_gram_stats(
    df: DataFrame,
    gram_stats: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 20,
    scope: str = "cross_doc",
    keep: str = "canonical",
) -> DataFrame:
    """``duplicate_spans`` driven by a PRECOMPUTED per-gram-hash stats
    frame instead of the in-query window pass — the finalize step of the
    cross-batch streaming gram store (``streaming.span_stream``).

    ``gram_stats`` carries one row per gram hash: (``gram_hash``,
    ``n_occ``, ``min_id``, ``max_id``, ``canon`` struct<i,p>) — every
    field an associative+commutative aggregate of the occurrence rows,
    which is what makes the streaming state's final value EQUAL the
    batch window stats regardless of micro-batch arrival order (min of
    struct == the batch global-min canonical, NOT first-arrival).
    Output is identical to ``duplicate_spans`` on the same corpus
    (pinned in tests/test_dedup_spans.py).

    Plan: the stats side is filtered to DUPLICATED grams before the join
    (the tiny fraction), so the re-derived occurrence frame shuffles once
    on ``gram_hash`` against a frame that AQE will usually broadcast —
    the same single corpus-keyed exchange the batch window pays.
    """
    _check_span_args(scope, keep, min_len)
    dup_stats = gram_stats.where(
        (F.col("min_id") != F.col("max_id"))
        if scope == "cross_doc"
        else (F.col("n_occ") > 1)
    ).select("gram_hash", "canon")
    occ = gram_occurrences(df, text_col, id_col, min_len=min_len)
    return _marked_to_spans(occ.join(dup_stats, "gram_hash"), "canon", keep,
                            id_col, min_len)


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_len: int = 20,
    scope: str = "cross_doc",
    keep: str = "canonical",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Rewrite each document with its ``duplicate_spans`` removed: a word
    is deleted iff it is covered by a ``remove`` span and NOT by a
    ``keep`` span (so under ``keep='canonical'`` exactly one copy of
    every duplicated passage survives corpus-wide, even where
    overlapping duplicated regions from different grams would otherwise
    chop it). Returns (``<id_col>``, ``<text_col>`` rebuilt,
    ``n_spans_removed``, ``n_tokens_dropped``[, ``carry_cols``
    passed through unchanged]).

    Byte-exactness contract: a document with nothing to remove
    round-trips BYTE-IDENTICALLY (tabs, runs of spaces, newlines,
    leading/trailing whitespace all preserved — the whole point of the
    ``_ws_exact_tokens`` representation); an edited document is the
    concatenation of its surviving words with their original preceding
    separators, except that a surviving word promoted to document start
    sheds the separator it inherited (it belonged between two words, one
    of which is gone). NULL text comes back as the empty string with
    zero counts.

    Plan: ``duplicate_spans``'s two exchanges, + one groupBy(id) to fold
    spans per doc (a handful of rows each), + one join back to the
    corpus — at 100 TB the span side is minuscule next to the corpus
    scan, and the rewrite itself is a map-only higher-order filter
    (O(words x spans-per-doc), spans-per-doc ~ a few).
    """
    spans = duplicate_spans(
        df, text_col, id_col, min_len=min_len, scope=scope, keep=keep
    )
    return strip_spans_frame(df, spans, text_col, id_col,
                             carry_cols=carry_cols)


def strip_spans_frame(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """The rewrite stage of ``strip_duplicate_spans`` over a PRECOMPUTED
    spans frame (``duplicate_spans`` or its cross-batch store variant
    ``duplicate_spans_from_gram_stats``) — same output contract and
    byte-exactness guarantees as the one-call operator."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.when(
                F.col("kind") == "remove",
                F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e")),
            )
        ).alias("_rm"),
        F.collect_list(
            F.when(
                F.col("kind") == "keep",
                F.struct(F.col("span_start").alias("s"), F.col("span_end").alias("e")),
            )
        ).alias("_kp"),
    )

    def _covered(col: str, i: Column) -> Column:
        return F.coalesce(
            F.exists(
                F.col(col), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
            ),
            F.lit(False),
        )

    # _toks and _kept are STAGED as real columns: the final projection
    # references the kept array ~4 times and HOF subtrees evaluate per
    # reference — inlined, the filter (an exists() over the span list
    # PER TOKEN) re-ran per reference (the decontam._grams staging rule)
    carry = list(carry_cols or [])
    staged = (
        df.join(per_doc, id_col, "left")
        .select(F.col(id_col), F.col("_rm"), F.col("_kp"), *carry,
                _ws_exact_tokens(F.col(text_col)).alias("_toks"))
    )
    indexed = F.transform(
        F.col("_toks"), lambda t, i: F.struct(i.alias("i"), t.alias("t"))
    )
    kept_expr = F.filter(
        indexed,
        lambda s: ~(_covered("_rm", s["i"]) & ~_covered("_kp", s["i"])),
    )
    staged = staged.select(
        F.col(id_col), F.col("_rm"), *carry,
        F.size("_toks").alias("_n_toks"), kept_expr.alias("_kept"))
    head = F.element_at(F.col("_kept"), 1)
    head_txt = F.when(head["i"] == 0, head["t"]).otherwise(
        F.regexp_replace(head["t"], r"^\s+", "")
    )
    kept = F.col("_kept")
    rebuilt = F.when(F.size(kept) == 0, F.lit("")).otherwise(
        F.concat(
            head_txt,
            F.array_join(
                F.transform(
                    F.slice(kept, 2, F.greatest(F.size(kept) - 1, F.lit(0))),
                    lambda s: s["t"],
                ),
                "",
            ),
        )
    )
    return staged.select(
        F.col(id_col),
        rebuilt.alias(text_col),
        # size(NULL) is -1 under default (non-ANSI) semantics, so the
        # no-spans left-join miss needs an explicit isNull guard
        F.when(F.col("_rm").isNull(), F.lit(0))
        .otherwise(F.size(F.col("_rm"))).cast("long")
        .alias("n_spans_removed"),
        (F.col("_n_toks") - F.size(kept)).cast("long")
        .alias("n_tokens_dropped"),
        *[F.col(c) for c in carry],
    )


def shared_value_pairs(
    ex: DataFrame,
    id_col: str = "doc_id",
    val_col: str = "_fp",
    n_col: str = "_nfp",
    *,
    min_shared: int = 1,
    max_df: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Pairs of rows sharing at least ``min_shared`` distinct values — the
    join shape behind fragment matching (``text.fingerprint_matches``),
    audio subfingerprints (``multimodal.audio_matches``), and any other
    exploded-set containment join. ``ex`` is the exploded frame
    (id, n_values, value); returns (id_a, id_b, shared_fps, overlap) with
    overlap = shared / min(n_a, n_b) rounded to 6.

    ``materialize`` materializes (see ``session.materialize``) the
    exploded frame ONCE: it feeds the ``max_df`` count and BOTH self-join
    sides, and Catalyst gives the self-join no ReusedExchange — without
    it an expensive upstream (the winnowing window, an FFT fingerprint
    kernel, a frame decode) re-runs per consumer (the
    ``hamming_pairs``/``minhash_lsh_pairs`` lesson).
    ``max_df`` drops values present in more than ``max_df`` rows BEFORE
    the self-join (boilerplate / silence = hot join keys = quadratic
    fan-out), via a grouped count + semi-join — no broadcast assumption
    on the count frame.

    Denominator asymmetry under ``max_df``: ``n_col`` is computed by the
    CALLER before the hot-value filter, so overlap = shared / min(n_a,
    n_b) counts shared values in the filtered universe against
    pre-filter set sizes — deliberately. A row that is 90% boilerplate
    should read as LOW-overlap with everything, not as a near-dup of
    every other boilerplate-heavy row, which is what re-normalising to
    post-filter sizes would produce. Calibrate ``min_shared`` /
    overlap thresholds knowing max_df can only shrink both the shared
    count and the reported overlap, never inflate them."""
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    if materialize:
        ex = _materialize(ex, reason="shared_value_pairs.exploded")
    if max_df is not None:
        keep = (ex.groupBy(val_col).agg(F.count(F.lit(1)).alias("_df"))
                .where(F.col("_df") <= max_df).select(val_col))
        ex = ex.join(keep, val_col, "left_semi")
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, val_col)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("shared_fps"),
            F.round(
                F.count(F.lit(1))
                / F.least(F.first(f"a.{n_col}"), F.first(f"b.{n_col}")), 6)
            .alias("overlap"))
        .where(F.col("shared_fps") >= min_shared)
    )
