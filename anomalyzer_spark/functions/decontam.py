"""Benchmark decontamination — n-gram overlap between a training corpus
and an evaluation set.

The standard pre-training hygiene pass (the GPT-3 appendix-C /
"13-gram dedup" family): any training document sharing at least
``min_hits`` word n-grams with any eval document is CONTAMINATED and gets
reported (``contamination``) or dropped (``decontaminate``).

Scale shape — the asymmetry IS the design. The eval set is small by
definition (benchmarks are thousands of documents; the corpus is the
100 TB side), so:

* eval n-grams build once, deduped, and BROADCAST — the corpus is never
  shuffled to meet them;
* the corpus side is one map-only shingle explode feeding the broadcast
  inner join; only the HIT rows (a tiny fraction) reach the one exchange
  (the per-document hit aggregate);
* non-contaminated documents never leave their input split: returning
  clean documents is a broadcast LEFT ANTI join against the bounded
  contaminated-id frame.

N-grams come from ``dedup.word_shingles`` (normalized text, DISTINCT
word k-grams; a document shorter than n words contributes its full word
sequence as one gram, so short eval prompts still match verbatim
copies). Distinctness makes ``n_hit_grams`` count distinct overlapping
grams, not occurrences — the conventional definition, and it bounds the
per-document join fan-out by the document's vocabulary, not its length.

No reference analogue (the reference is a single-series stats library);
DuckDB parity + planted-contamination tests in tests/test_decontam.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (_shingles, _staged, normalized_words,
                    word_shingles_from_words)


def _grams(df: DataFrame, text_col: str, id_col: str, n: int,
           out_id: str, words_col: str | None = None) -> DataFrame:
    """(out_id, n_grams, gram) — one row per DISTINCT word n-gram.
    ``words_col``: shingle a persisted ``dedup.normalized_words`` column
    instead of re-normalizing the text (the corpus-side fast path).

    The word array is STAGED as its own projection before the shingle
    expression (HOF subtrees evaluate per reference — staging makes the
    regex normalization run once per row; CollapseProject keeps the
    stage because the alias is multiply-referenced and non-cheap), the
    shingle chain itself is the staged binary-doubling build
    (``dedup._staged(..., _shingles, "_shg")`` — 3 once-per-row zip_with
    levels at n=8 instead of the left fold's 7 chained ones), and
    explode_OUTER stops InferFiltersFromGenerate from pushing a
    size(grams)>0 filter into the scan that re-runs the whole shingle
    tree per row (the bm25 lesson; together measured ~2.5x warm at n=8
    on sf0.1). The NULL gram an outer explode emits for a NULL-text row
    is dropped by the callers' inner join on gram."""
    w = (F.col(words_col) if words_col
         else normalized_words(F.col(text_col)))
    staged, sh = _staged(
        df.select(F.col(id_col).alias(out_id), w.alias("_w")), "_w", n,
        _shingles, "_shg")
    return staged.select(
        F.col(out_id),
        sh.alias("_g"),
    ).select(
        F.col(out_id),
        F.size("_g").alias("n_grams"),
        F.explode_outer("_g").alias("gram"),
    )


def contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    eval_id_col: str | None = None,
    n: int = 8,
    min_hits: int = 1,
    broadcast_eval: bool = True,
    train_words_col: str | None = None,
    train_grams: DataFrame | None = None,
    eval_bloom=None,
    bloom_fpp: float | None = None,
    eval_suite_col: str | None = None,
) -> DataFrame:
    """Per-contaminated-training-document overlap report.

    ``train_grams``: a PRE-MATERIALIZED corpus gram frame — the exact
    output of ``_grams(train_df, text_col, id_col, n, id_col)``
    (``(<id_col>, n_grams, gram)``), usually an eager checkpoint shared
    by several screening lanes over the same corpus. One corpus shingle
    derivation then feeds every lane (plain / Bloom-prefiltered /
    multi-suite) instead of each lane re-deriving it — the
    ``train_words_col`` precedent one level further down the same
    pipeline (r16). Results are identical by construction: the frame IS
    the derivation this function would build, evaluated once. When set,
    ``train_df``/``text_col``/``train_words_col`` are not consulted for
    the corpus side (the eval side always shingles from text). The
    caller owns spec agreement (same ``n``, same normalization).

    ``eval_suite_col``: screen against MANY benchmark suites in ONE
    corpus pass — name a column of ``eval_df`` tagging each eval
    document's suite, and the report gains a ``suite`` column with one
    row per (training document, suite) whose overlap reaches
    ``min_hits`` IN THAT SUITE (``n_hit_grams``/``n_eval_docs``/
    ``contamination`` are per-suite). The corpus-side cost is
    UNCHANGED (one shingle pass, one broadcast join; the suite tag
    rides the broadcast eval rows), vs one full corpus scan per suite
    with separate calls — at 100 TB, screening against a dozen
    benchmarks costs the same scan as screening against one.

    ``train_words_col``: name of a persisted ``dedup.normalized_words``
    column on ``train_df`` — the corpus-side fast path when one corpus is
    screened against many eval sets (or re-screened per release):
    normalization is the regex-heavy part of shingling, so write the
    word array once next to the text and every screening pass shingles
    the stored arrays instead of re-running the regexes (identical
    output by construction — parity-pinned; the ``retrieval.
    tokenize_docs`` / ``bm25_corpus_stats`` persist-once precedent). The
    eval side always shingles from text — it is the small side.

    Returns (``<id_col>``, ``n_grams``, ``n_hit_grams``, ``n_eval_docs``,
    ``contamination``) for training documents whose DISTINCT n-gram
    overlap with the eval set reaches ``min_hits``:

    * ``n_grams`` — the document's distinct n-gram count;
    * ``n_hit_grams`` — how many of those occur in ANY eval document;
    * ``n_eval_docs`` — how many distinct eval documents share >= 1 gram;
    * ``contamination`` — n_hit_grams / n_grams in [0, 1], rounded to 6.

    Raise ``n`` or ``min_hits`` to trade recall for precision (long rare
    grams ~ verbatim copying; 1 hit of a short common gram ~ noise).

    ``broadcast_eval=True`` (default) fits the benchmark shape: the eval
    n-gram set must fit an executor broadcast (thousands of documents —
    fine). For a LARGE right side (decontaminating against a whole prior
    corpus release, not a benchmark) pass ``False``: the gram match runs
    as an ordinary shuffled equi-join on the gram key instead — one
    extra corpus exchange, no broadcast memory bound.

    ``bloom_fpp`` / ``eval_bloom`` — the scale path for that large
    right side: prefilter the corpus gram stream through a Bloom filter
    of the eval grams (``functions.bloom``) BEFORE the match join, so
    the corpus-side join/shuffle volume is proportional to the
    contamination rate rather than the corpus size. Results are EXACT
    either way: the join after the prefilter settles every false
    positive. Pass ``bloom_fpp`` (e.g. 0.01) to size-and-build from the
    eval grams here, or ``eval_bloom`` (a ``bloom.GramBloom``, usually
    ``bloom.load_bloom`` of a persisted per-release filter built over
    the SAME normalization and gram size) to reuse one across screens.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_hits < 1:
        raise ValueError("min_hits must be >= 1")
    ev = (
        _grams(eval_df, eval_text_col or text_col,
               eval_id_col or id_col, n, "_eval_id")
        .select("_eval_id", "gram")
    )
    if eval_suite_col is not None:
        # the suite tag rides the (small, broadcast) eval gram rows —
        # never the corpus side
        suites = eval_df.select(
            F.col(eval_id_col or id_col).alias("_eval_id"),
            F.col(eval_suite_col).alias("suite"))
        ev = ev.join(suites, "_eval_id")
    tr = (train_grams if train_grams is not None
          else _grams(train_df, text_col, id_col, n, id_col,
                      words_col=train_words_col))
    if eval_bloom is None and bloom_fpp is not None:
        from . import bloom as _bloom
        eval_bloom = _bloom.build_bloom(
            ev.select("gram"), "gram", fpp=bloom_fpp)
    if eval_bloom is not None:
        from . import bloom as _bloom
        tr = _bloom.filter_maybe_contains(tr, eval_bloom, "gram")
    hits = tr.join(F.broadcast(ev) if broadcast_eval else ev, "gram")
    keys = [id_col] + (["suite"] if eval_suite_col is not None else [])
    out = hits.groupBy(*keys).agg(
        F.first("n_grams").alias("n_grams"),
        F.count_distinct("gram").alias("n_hit_grams"),
        F.count_distinct("_eval_id").alias("n_eval_docs"),
    )
    return out.where(F.col("n_hit_grams") >= min_hits).select(
        *keys, "n_grams", "n_hit_grams", "n_eval_docs",
        F.round(F.col("n_hit_grams") / F.col("n_grams"), 6)
        .alias("contamination"),
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    eval_id_col: str | None = None,
    n: int = 8,
    min_hits: int = 1,
    train_words_col: str | None = None,
    train_grams: DataFrame | None = None,
    eval_bloom=None,
    bloom_fpp: float | None = None,
    eval_suite_col: str | None = None,
) -> DataFrame:
    """The training corpus minus contaminated documents, schema unchanged.

    Clean rows never shuffle: the contaminated-id frame is bounded by the
    eval set's reach, so the removal is a broadcast LEFT ANTI join on the
    id — every other column (and the input's partitioning) passes through
    untouched. ``train_words_col`` / ``eval_bloom`` / ``bloom_fpp`` /
    ``eval_suite_col``: see ``contamination`` (with suites, a document
    contaminated in ANY suite is dropped — min_hits applies per
    suite)."""
    bad = contamination(
        train_df, eval_df, text_col=text_col, id_col=id_col,
        eval_text_col=eval_text_col, eval_id_col=eval_id_col,
        n=n, min_hits=min_hits, train_words_col=train_words_col,
        train_grams=train_grams, eval_bloom=eval_bloom,
        bloom_fpp=bloom_fpp, eval_suite_col=eval_suite_col,
    ).select(id_col).distinct()
    return train_df.join(F.broadcast(bad), id_col, "left_anti")


def fuzzy_contamination(
    train_df: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    eval_id_col: str | None = None,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    train_words_col: str | None = None,
) -> DataFrame:
    """NEAR-duplicate decontamination — the recall layer above
    ``contamination``: exact word-n-gram overlap misses an eval document
    that was paraphrased or lightly edited into the corpus (every long
    gram breaks), while shingle-set Jaccard survives edits. Flags
    (``<id_col>``, ``eval_id``, ``jaccard``) for every training document
    whose word-``k``-gram Jaccard with an eval document reaches
    ``threshold`` — exact Jaccard, LSH only prunes candidates.

    Same MinHash spec as the dedup stack (``minhash_band_buckets`` is THE
    single bucket-key definition — this operator, the batch pair
    generator, and the streaming store cannot drift), and the same
    100 TB asymmetry as exact ``contamination``: the eval side's band
    buckets and shingle sets are benchmark-sized and BROADCAST; the
    corpus side is one map-only signature fold into the broadcast bucket
    join — only bucket-colliding rows reach the candidate distinct, and
    exact verification touches candidate documents only (semi-join
    before the shingle recompute). The corpus never self-joins and never
    shuffles whole.

    Recall is the standard S-curve 1-(1-s^r)^b (r = num_hashes/bands):
    at the defaults a 0.9-Jaccard copy is found with probability
    ~1-3e-15 — and deterministically so (md5 signatures), the same
    corpus always yields the same report.

    ``train_words_col``: name of a persisted ``dedup.normalized_words``
    column on ``train_df`` — the corpus-side fast path shared with
    ``contamination``: the signature fold AND the exact-Jaccard verify
    both shingle the stored word arrays instead of re-running the
    normalization regexes (identical output by construction).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    from .dedup import minhash_band_buckets

    etext = eval_text_col or text_col
    eid = eval_id_col or id_col
    tb = minhash_band_buckets(
        train_df, text_col, id_col,
        k=k, num_hashes=num_hashes, bands=bands,
        words_col=train_words_col)
    eb = minhash_band_buckets(
        eval_df, etext, eid,
        k=k, num_hashes=num_hashes, bands=bands,
    ).select(F.col(eid).alias("_eval_id"), "bucket")
    cand = (
        tb.join(F.broadcast(eb), "bucket")
        .select(id_col, "_eval_id").distinct()
    )
    tsh = (
        train_df.join(cand.select(id_col).distinct(), id_col, "left_semi")
        .select(F.col(id_col),
                (F.col(train_words_col) if train_words_col
                 else normalized_words(F.col(text_col))).alias("_w"))
        .select(F.col(id_col),
                word_shingles_from_words(F.col("_w"), k).alias("_sa"))
    )
    esh = eval_df.select(
        F.col(eid).alias("_eval_id"),
        normalized_words(F.col(etext)).alias("_w"),
    ).select("_eval_id",
             word_shingles_from_words(F.col("_w"), k).alias("_sb"))
    jac = (F.size(F.array_intersect("_sa", "_sb"))
           / F.size(F.array_union("_sa", "_sb")))
    return (
        cand.join(tsh, id_col)
        .join(F.broadcast(esh), "_eval_id")
        .select(F.col(id_col), F.col("_eval_id").alias("eval_id"),
                F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def fuzzy_decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str | None = None,
    eval_id_col: str | None = None,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Corpus minus near-duplicates of the eval set — schema, columns,
    and partitioning pass through; clean rows never shuffle (broadcast
    LEFT ANTI on the bounded flagged-id frame, like ``decontaminate``)."""
    bad = fuzzy_contamination(
        train_df, eval_df, text_col=text_col, id_col=id_col,
        eval_text_col=eval_text_col, eval_id_col=eval_id_col,
        k=k, num_hashes=num_hashes, bands=bands, threshold=threshold,
    ).select(id_col).distinct()
    return train_df.join(F.broadcast(bad), id_col, "left_anti")
