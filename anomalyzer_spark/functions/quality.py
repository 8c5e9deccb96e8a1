"""Trainable quality classifier — the model-based corpus-filtering leg.

The heuristic ``text.text_stats`` score is fixed; production curation
(the CCNet/fastText pattern) instead TRAINS a classifier on "looks like
my reference corpus" vs "looks like raw crawl" and filters by model
score. Same split as every model in this repo (IVF/PQ quantizers, BPE
merges):

* **train** on a bounded, deterministic, hash-ordered sample of each
  class — a NumPy logistic regression over the ``text_stats`` feature
  columns, full-batch gradient descent, fixed iteration count, no
  randomness (zero-initialized weights) — same corpus + seed ⇒ same
  model on any cluster;
* **score** the 100 TB corpus with the learned weights compiled into a
  PURE COLUMN expression (sigmoid of the standardized dot product) — the
  hot path is JVM whole-stage codegen, zero Python, zero shuffle.

A linear model over 6 lexical ratios is deliberately small: it's the
shape that can run as a column expression. Swap in a real fastText/LLM
scorer by replacing ``score_quality`` with a pandas-UDF pass; the
train/score split and the bounded-sample contract stay the same.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import _hash48
from .text import _stats_exprs

#: feature columns drawn from text_stats (ratios + log length — all
#: bounded, so standardization is stable)
FEATURES = ("log_n_chars", "avg_word_len", "punct_ratio", "digit_ratio",
            "upper_ratio", "stopword_ratio")


def _featurize(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    stats = df.select(F.col(id_col), *_stats_exprs(text_col))
    return stats.select(
        F.col(id_col),
        F.log1p(F.col("n_chars").cast("double")).alias("log_n_chars"),
        "avg_word_len", "punct_ratio", "digit_ratio", "upper_ratio",
        "stopword_ratio")


def train_quality_model(
    pos_df: DataFrame,
    neg_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sample_rows: int = 5_000,
    iters: int = 300,
    lr: float = 0.5,
    l2: float = 1e-3,
    seed: int = 42,
) -> dict:
    """Fit the classifier: ``pos_df`` = reference-quality documents,
    ``neg_df`` = the rejection class (raw crawl, junk). Returns the model
    dict {features, mean, std, weights, bias} for ``score_quality``.
    Driver memory holds 2×``sample_rows`` feature ROWS (6 doubles each),
    never text."""
    if sample_rows < 2:
        raise ValueError("sample_rows must be >= 2")

    def _sample(df: DataFrame) -> np.ndarray:
        rows = (
            _featurize(
                df.select(F.col(id_col),
                          F.col(text_col)), text_col, id_col)
            .withColumn("_o", _hash48(F.col(id_col), seed))
            .orderBy("_o", id_col).limit(sample_rows)
            .select(*FEATURES).collect()
        )
        return np.array([[r[f] for f in FEATURES] for r in rows],
                        dtype=np.float64)

    xp, xn = _sample(pos_df), _sample(neg_df)
    if not len(xp) or not len(xn):
        raise ValueError("both classes need at least one sampled row")
    x = np.vstack([xp, xn])
    y = np.concatenate([np.ones(len(xp)), np.zeros(len(xn))])
    mean = x.mean(axis=0)
    std = x.std(axis=0)
    std[std == 0.0] = 1.0
    xs = (x - mean) / std
    w = np.zeros(xs.shape[1])
    b = 0.0
    n = len(y)
    for _ in range(iters):
        z = xs @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = xs.T @ (p - y) / n + l2 * w
        gb = float(np.mean(p - y))
        w -= lr * g
        b -= lr * gb
    return {
        "features": list(FEATURES),
        "mean": mean.tolist(),
        "std": std.tolist(),
        "weights": w.tolist(),
        "bias": b,
    }


def score_quality(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    out_col: str = "model_score",
) -> DataFrame:
    """(id, model_score ∈ [0,1]) — the learned sigmoid compiled to column
    arithmetic over the same feature expressions training used. Map-only,
    JVM-side; filter with ``.where(F.col('model_score') >= t)`` and the
    predicate rides the scan."""
    if list(model["features"]) != list(FEATURES):
        raise ValueError(f"model features {model['features']} do not match "
                         f"this version's {list(FEATURES)}")
    feats = _featurize(df.select(F.col(id_col), F.col(text_col)),
                       text_col, id_col)
    z = F.lit(float(model["bias"]))
    for f, m, s, w in zip(FEATURES, model["mean"], model["std"],
                          model["weights"]):
        z = z + F.lit(float(w)) * ((F.col(f) - F.lit(float(m)))
                                   / F.lit(float(s)))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(F.col(id_col), score.alias(out_col))


def normalize_scores(
    df: DataFrame,
    score_col: str,
    *,
    id_col: str = "doc_id",
    group_col: str | None = None,
    profile: DataFrame | None = None,
    bounds: tuple[float, float] | None = None,
    n_bins: int | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Rank-normalize a score to [0, 1] so thresholds mean the same
    thing everywhere — the domain-fair-filtering step: a fixed cut on a
    raw quality score keeps whole head domains and guts tail ones,
    because score DISTRIBUTIONS differ per domain far more than quality
    does. Returns (``id_col``, ``group_col`` if any, ``score_col``,
    ``<score_col>_norm``).

    Two scale paths, chosen by ``group_col``:

    * **within groups** (``group_col=`` a domain/source column):
      ``percent_rank`` over a group-partitioned window — shuffles once
      on the group key; safe when groups are many (domains, sources).
      A single giant group degenerates to one partition — that case is
      what the global path is for.
    * **global** (``group_col=None``): NO unpartitioned window (the
      ``top_share`` lesson). The score is mapped through the empirical
      CDF of a ``drift.histogram_profile`` over the score column —
      exact bin counts + within-bin linear interpolation, so the
      result is deterministic, engine-replayable (DuckDB parity in
      tests), and the ≤ ``n_bins``-row profile broadcasts as literals:
      the normalization itself is map-only. Pass ``profile=`` (the
      persisted CORPUS profile, built once per corpus version — and
      mergeable across shards via ``drift.merge_profiles``) to
      normalize an increment against the whole corpus without
      rescanning it — the bin count is the profile's own ``n_bins``
      column (empty trailing buckets are invisible in the rows, so it
      cannot be inferred); a frame without it, or a conflicting
      ``n_bins=``, raises. Otherwise one profile pass over ``df`` runs
      here with ``n_bins`` bins (default 100; ``bounds=`` pins the bin
      range, the drift comparability contract). Scores at/below the
      profile's lo map to 0, at/above hi to 1, NULLs stay NULL.
      Resolution is 1/n_bins of the value range per bin boundary —
      ranking WITHIN a bin is linear in value, not in mass (the
      documented approximation vs exact percent_rank).
    """
    from pyspark.sql.window import Window

    from anomalyzer_spark.functions import drift

    out_col = out_col or f"{score_col}_norm"
    if group_col is not None:
        # NULL scores are EXCLUDED from the ranking (they would shift
        # percent_rank's denominator, and engines disagree on NULL sort
        # order inside windows) and come back with a NULL norm
        w = (Window.partitionBy(group_col)
             .orderBy(F.col(score_col).asc()))
        keep = [F.col(id_col), F.col(group_col), F.col(score_col)]
        nn = (df.where(F.col(score_col).isNotNull()).select(*keep)
              .withColumn(out_col, F.percent_rank().over(w)))
        nulls = (df.where(F.col(score_col).isNull()).select(*keep)
                 .withColumn(out_col, F.lit(None).cast("double")))
        return nn.unionByName(nulls)
    if profile is None:
        profile = drift.histogram_profile(
            df, [score_col], n_bins=100 if n_bins is None else n_bins,
            bounds={score_col: bounds} if bounds else None)
    else:
        drift._require_n_bins(profile, "normalize_scores")
    prows = profile.where(
        (F.col("column") == score_col) & (F.col("bucket") >= 0)).collect()
    rows = sorted(
        (r["bucket"], int(r["cnt"]), float(r["lo"]), float(r["hi"]))
        for r in prows)
    if not rows:
        raise ValueError(
            f"profile holds no buckets for column {score_col!r}")
    lo, hi = rows[0][2], rows[0][3]
    # the bin count is the profile's own: empty trailing buckets are
    # invisible in the rows, so max(bucket)+1 would recompute the width
    # too wide and map every score through misaligned buckets
    built = {int(r["n_bins"]) for r in prows}
    if len(built) > 1:
        raise ValueError(
            f"profile carries inconsistent n_bins values {sorted(built)} "
            f"for column {score_col!r}")
    nb = built.pop()
    if n_bins is not None and n_bins != nb:
        raise ValueError(
            f"profile was built with n_bins={nb} but n_bins={n_bins} "
            "was passed; drop the argument or pass the build value")
    top = max(r[0] for r in rows)
    if top >= nb:
        raise ValueError(
            f"profile holds bucket {top} but records n_bins={nb}")
    cnts = [0] * nb
    for b, c, _, _ in rows:
        cnts[b] = c
    total = sum(cnts)
    width = (hi - lo) / nb if hi > lo else 1.0
    cum = [0] * nb  # rows strictly below each bucket's lower edge
    for b in range(1, nb):
        cum[b] = cum[b - 1] + cnts[b - 1]
    s = F.col(score_col)
    b_idx = F.least(F.lit(nb - 1), F.greatest(F.lit(0), F.floor(
        (s - F.lit(lo)) / F.lit(width)).cast("int")))
    cum_arr = F.array(*[F.lit(float(c)) for c in cum])
    cnt_arr = F.array(*[F.lit(float(c)) for c in cnts])
    frac = (s - (F.lit(lo) + b_idx.cast("double") * F.lit(width))) \
        / F.lit(width)
    frac = F.least(F.lit(1.0), F.greatest(F.lit(0.0), frac))
    norm = (F.element_at(cum_arr, b_idx + 1)
            + frac * F.element_at(cnt_arr, b_idx + 1)) / F.lit(float(total))
    norm = (F.when(s.isNull(), F.lit(None).cast("double"))
            .when(s <= F.lit(lo), F.lit(0.0))
            .when(s >= F.lit(hi), F.lit(1.0))
            .otherwise(F.least(F.lit(1.0), F.greatest(F.lit(0.0), norm))))
    return df.select(F.col(id_col), F.col(score_col)).withColumn(
        out_col, norm)


#: the 8 Gopher stop words — rule 7 requires >= 2 DISTINCT of these
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_words: int = 2,
) -> DataFrame:
    """The MassiveText/Gopher quality-filter rule set (Rae et al. 2021,
    Appendix A1) as one map-only projection: per document, the seven
    rule metrics, a boolean per rule, and ``gopher_pass`` (their AND).
    Defaults are the published thresholds; every knob is exposed because
    production corpora retune them (FineWeb, Dolma).

    Rules: word count in [min_words, max_words]; mean word length in
    [3, 10]; symbol-to-word ratio ('#' or '...' occurrences per word)
    <= 0.1; <= 90% of lines starting with a bullet; <= 30% of lines
    ending with an ellipsis; >= 80% of words containing an alphabetic
    character; >= 2 distinct stop words of GOPHER_STOPWORDS. Words are
    whitespace runs of the RAW text (the paper's tokenization), lines
    split on newlines.

    Complements ``repetition_stats`` (the paper's repetition table) and
    ``text_profile``'s calibrated score — this is the citable rule GATE:
    ``.where(F.col('gopher_pass'))`` or feed the booleans to
    ``checks.satisfies``. Zero UDFs, zero shuffles (plan-pinned); the
    word/line arrays are STAGED so higher-order lambdas bind attributes,
    never re-split per element (the house HOF rule)."""
    staged = df.select(
        F.col(id_col), *_gopher_staged_cols(text_col))
    return _gopher_finish(
        staged, id_col,
        min_words=min_words, max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_word_ratio=max_symbol_word_ratio,
        max_bullet_line_ratio=max_bullet_line_ratio,
        max_ellipsis_line_ratio=max_ellipsis_line_ratio,
        min_alpha_word_ratio=min_alpha_word_ratio,
        min_stop_words=min_stop_words)


def _gopher_staged_cols(text_col: str) -> list[Column]:
    """The staged inputs of the Gopher rules (word array, line array,
    symbol count) as column expressions — shared by ``gopher_rules`` and
    the fused ``gopher_c4_rules`` so the two cannot drift."""
    t = F.col(text_col)
    return [
        F.when(t.isNull(), F.array().cast("array<string>"))
        .otherwise(F.split(F.trim(t), "[ \t\n\x0b\f\r]+")).alias("_w"),
        F.when(t.isNull(), F.array().cast("array<string>"))
        .otherwise(F.split(t, "\n")).alias("_l"),
        F.coalesce(
            F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\."), 0)),
            F.lit(0)).alias("_nsym"),
    ]


def _gopher_finish(
    staged: DataFrame,
    id_col: str,
    *,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_word_ratio: float,
    max_bullet_line_ratio: float,
    max_ellipsis_line_ratio: float,
    min_alpha_word_ratio: float,
    min_stop_words: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Metrics + rule booleans + gate over a ``_gopher_staged_cols``
    frame; ``carry_cols`` pass through untouched (the fused path)."""
    nw = F.size("_w")
    nl = F.greatest(F.size("_l"), F.lit(1))
    safe_nw = F.greatest(nw, F.lit(1))
    mean_wl = (F.aggregate("_w", F.lit(0).cast("long"),
                           lambda a, x: a + F.length(x)).cast("double")
               / safe_nw)
    alpha_ratio = (F.size(F.filter("_w", lambda x: x.rlike("[A-Za-z]")))
                   .cast("double") / safe_nw)
    bullet_ratio = (F.size(F.filter(
        "_l", lambda ln: ln.rlike(r"^[ \t]*(•|\*|-)")))
        .cast("double") / nl)
    ellipsis_ratio = (F.size(F.filter(
        "_l", lambda ln: ln.rlike(r"(\.\.\.|…)[ \t]*$")))
        .cast("double") / nl)
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(
        F.transform("_w", lambda x: F.lower(x)), stop_arr))
    m = staged.select(
        F.col(id_col),
        nw.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(F.col("_nsym") / safe_nw, 6).alias("symbol_word_ratio"),
        F.round(bullet_ratio, 6).alias("bullet_line_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_line_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        n_stop.cast("int").alias("n_stop_words"),
        *carry_cols,
    )
    rules = {
        "r_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "r_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "r_symbol_ratio": F.col("symbol_word_ratio")
        <= max_symbol_word_ratio,
        "r_bullet_lines": F.col("bullet_line_ratio")
        <= max_bullet_line_ratio,
        "r_ellipsis_lines": F.col("ellipsis_line_ratio")
        <= max_ellipsis_line_ratio,
        "r_alpha_words": F.col("alpha_word_ratio")
        >= min_alpha_word_ratio,
        "r_stop_words": F.col("n_stop_words") >= min_stop_words,
    }
    out = m.select(
        "*", *[expr.alias(name) for name, expr in rules.items()])
    passed = F.lit(True)
    for name in rules:
        passed = passed & F.col(name)
    return out.withColumn("gopher_pass", passed)


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    drop_line_markers: tuple[str, ...] = ("javascript",),
    drop_doc_markers: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """The C4 line-level cleaning pass (Raffel et al. 2020) as one
    map-only projection: per document, the REBUILT text containing only
    the lines that survive the published rules, the kept/dropped line
    counts, and ``c4_keep`` — the document-level gate. Rules:

    * a line survives iff it ends in a terminal punctuation mark
      (``. ! ? "``), has at least ``min_words_per_line`` words, and
      contains none of ``drop_line_markers`` (case-insensitive);
    * the document passes iff its CLEANED text holds at least
      ``min_sentences`` sentences (terminal-mark count) and the raw
      text contains none of ``drop_doc_markers`` (C4 drops pages with
      "lorem ipsum" or a curly brace).

    The span-level "three-sentence dedup" leg of C4 is this repo's
    ``dedup.strip_duplicate_spans`` / ``dedup_paragraphs`` — compose
    after this pass. Returns (id, text, n_lines_kept, n_lines_dropped,
    n_sentences, c4_keep); filter with ``.where('c4_keep')``. Zero
    UDFs, zero shuffles (plan-pinned); line arrays are staged (the
    house HOF rule). DuckDB replay in tests/test_c4_clean.py."""
    t = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        t.alias("_raw"),
        F.when(t.isNull(), F.array().cast("array<string>"))
        .otherwise(F.split(t, "\n")).alias("_l"))
    return _c4_finish(
        staged, text_col, id_col,
        min_words_per_line=min_words_per_line,
        min_sentences=min_sentences,
        drop_line_markers=drop_line_markers,
        drop_doc_markers=drop_doc_markers)


def _c4_finish(
    staged: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_words_per_line: int,
    min_sentences: int,
    drop_line_markers: tuple[str, ...],
    drop_doc_markers: tuple[str, ...],
    carry_cols: tuple[str, ...] = (),
    out_text_col: str | None = None,
    raw_out: str | None = None,
) -> DataFrame:
    """The line filter + rebuild + gate over a staged (``_raw``, ``_l``)
    frame — shared by ``c4_clean`` and the fused ``gopher_c4_rules`` so
    the two cannot drift. ``carry_cols`` pass through; ``out_text_col``
    renames the cleaned text (default ``text_col``); ``raw_out``
    additionally emits the raw text under that name (the fused path
    feeds a profile pass downstream on the same scan)."""

    def _line_ok(ln):
        trimmed = F.trim(ln)
        ok = trimmed.rlike(r'[.!?"]$')
        ok = ok & (F.size(F.split(trimmed, "[ \t]+"))
                   >= min_words_per_line)
        for m in drop_line_markers:
            ok = ok & ~F.lower(trimmed).contains(m.lower())
        return ok

    kept = F.filter("_l", _line_ok)
    s2 = staged.select(
        F.col(id_col), "_raw",
        F.size("_l").alias("_nl"),
        F.transform(kept, lambda ln: F.trim(ln)).alias("_k"),
        *carry_cols)
    cleaned = F.array_join("_k", "\n")
    n_sent = F.size(F.regexp_extract_all(
        cleaned, F.lit(r'[.!?"]'), 0))
    doc_ok = n_sent >= min_sentences
    for m in drop_doc_markers:
        doc_ok = doc_ok & ~F.lower(F.coalesce(F.col("_raw"), F.lit("")))\
            .contains(m.lower())
    return s2.select(
        F.col(id_col),
        cleaned.alias(out_text_col or text_col),
        F.size("_k").cast("long").alias("n_lines_kept"),
        (F.col("_nl") - F.size("_k")).cast("long")
        .alias("n_lines_dropped"),
        n_sent.cast("long").alias("n_sentences"),
        doc_ok.alias("c4_keep"),
        *([F.col("_raw").alias(raw_out)] if raw_out else []),
        *carry_cols)


def gopher_c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_words: int = 2,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    drop_line_markers: tuple[str, ...] = ("javascript",),
    drop_doc_markers: tuple[str, ...] = ("lorem ipsum", "{"),
) -> DataFrame:
    """``gopher_rules`` + ``c4_clean`` fused over ONE scan (r15 bench
    optimization): both gates stage the same newline split, so computing
    them as separate frames joined on the id paid two corpus scans, a
    duplicate line split, and a join exchange for what is one map-only
    projection chain. Output = gopher_rules' columns + c4_clean's (the
    cleaned text under ``c4_text``) + the RAW text under ``text_col``
    (so a downstream profile pass can ride the same scan). Expressions
    are the exact builders the standalone operators call — identical
    values by construction."""
    staged = df.select(
        F.col(id_col),
        *_gopher_staged_cols(text_col),
        F.col(text_col).alias("_raw"))
    g = _gopher_finish(
        staged, id_col,
        min_words=min_words, max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_word_ratio=max_symbol_word_ratio,
        max_bullet_line_ratio=max_bullet_line_ratio,
        max_ellipsis_line_ratio=max_ellipsis_line_ratio,
        min_alpha_word_ratio=min_alpha_word_ratio,
        min_stop_words=min_stop_words,
        carry_cols=("_raw", "_l"))
    gopher_cols = tuple(c for c in g.columns
                        if c not in (id_col, "_raw", "_l"))
    return _c4_finish(
        g, text_col, id_col,
        min_words_per_line=min_words_per_line,
        min_sentences=min_sentences,
        drop_line_markers=drop_line_markers,
        drop_doc_markers=drop_doc_markers,
        carry_cols=gopher_cols,
        out_text_col="c4_text",
        raw_out=text_col)
