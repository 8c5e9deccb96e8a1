"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Column expressions (JVM-side, codegen-friendly, no
Python in the hot path) over a string column, so they scan-prune, push down,
and scale linearly with no shuffle at all — at 100 TB these are map-only.

Semantics are pinned so a DuckDB oracle can reproduce them exactly:
token = maximal run of non-whitespace; word = maximal run of [a-z0-9] after
lowercasing; fingerprint = md5 of whitespace-normalized lowercased
alphanumeric text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny embedded stopword lists per language for the lang-id heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por", "con", "del"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "den"),
    "fr": ("le", "les", "des", "est", "une", "dans", "pour", "qui", "pas", "sur"),
}

EN_STOPWORDS = LANG_MARKERS["en"] + ("a", "an", "on", "at", "by", "be", "as", "are", "with", "this")


def n_tokens(text: Column) -> Column:
    """Whitespace token count (empty string → 0)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


#: The one lexical pattern shared by ``word_tokens`` / ``word_token_count``;
#: keep in sync with the LIKE-replayable DuckDB transcriptions in oracles.
WORD_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def word_tokens(text: Column) -> Column:
    """BPE-ish lexical split: lowercase words, digit runs, single symbols."""
    return F.regexp_extract_all(F.lower(text), F.lit(WORD_TOKEN_RE), 0)


def word_token_count(text: Column) -> Column:
    """``size(word_tokens(text))`` as a named spec — the token-COUNT of
    the repo lexical split (e.g. the BM25 N/avgdl corpus constants).

    Implementation note: this intentionally does NOT use
    ``F.regexp_count`` — in Spark that function is RuntimeReplaceable
    and expands to exactly ``size(regexp_extract_all(...))`` anyway
    (verified against the executed plan), so there is no cheaper
    count-only regex path; the helper exists for call-site clarity and
    to keep the pattern in one place. Parity with
    ``size(word_tokens(x))`` pinned in tests/test_retrieval.py.
    """
    return F.size(word_tokens(text))


def _count_re(text: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))


def _stats_exprs(text_col: str) -> list[Column]:
    """text_stats output columns (sans id) as one map-only expression list."""
    t = F.col(text_col)
    nc = F.length(t).cast("double")
    ntok = n_tokens(t).cast("double")
    nwords = _count_re(F.lower(t), "[a-z]+").cast("double")
    word_chars = F.length(F.regexp_replace(F.lower(t), "[^a-z]", "")).cast("double")
    punct = _count_re(t, r"[.,;:!?]").cast("double")
    digits = _count_re(t, "[0-9]").cast("double")
    uppers = _count_re(t, "[A-Z]").cast("double")
    stops = F.size(
        F.filter(
            F.split(F.lower(F.trim(t)), r"\s+"),
            lambda w: w.isin(*EN_STOPWORDS),
        )
    ).cast("double")

    safe_nc = F.when(nc > 0, nc)
    safe_ntok = F.when(ntok > 0, ntok)
    stopword_ratio = F.coalesce(stops / safe_ntok, F.lit(0.0))
    punct_ratio = F.coalesce(punct / safe_nc, F.lit(0.0))
    digit_ratio = F.coalesce(digits / safe_nc, F.lit(0.0))
    upper_ratio = F.coalesce(uppers / safe_nc, F.lit(0.0))
    avg_word_len = F.coalesce(word_chars / F.when(nwords > 0, nwords), F.lit(0.0))

    # Composite score: reward moderate length & wordiness, punish symbol soup.
    length_term = F.least(nc / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.coalesce(word_chars / safe_nc, F.lit(0.0))
    quality = F.greatest(
        F.least(
            F.lit(0.4) * length_term
            + F.lit(0.4) * alpha_ratio
            + F.lit(0.2) * (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))),
            F.lit(1.0),
        ),
        F.lit(0.0),
    )

    return [
        nc.cast("long").alias("n_chars"),
        ntok.cast("long").alias("n_tokens"),
        nwords.cast("long").alias("n_words"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        F.round(quality, 6).alias("quality_score"),
    ]


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality statistics + a composite quality score.

    Columns: n_chars, n_tokens, n_words, avg_word_len, punct_ratio,
    digit_ratio, upper_ratio, stopword_ratio, quality_score (all doubles
    except counts). quality_score ∈ [0,1]: length-normality × lexical ratios
    (deterministic formula, see code — the score is a heuristic; the CONTRACT
    is determinism + monotonicity in its inputs, not linguistics).
    """
    return df.select(F.col(id_col), *_stats_exprs(text_col))


def _lang_exprs(text_col: str) -> list[Column]:
    """lang_id output columns (sans id) as one map-only expression list."""
    t = F.lower(F.col(text_col))
    scores: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(markers) + r")\b"
        scores[lang] = _count_re(t, pat).cast("long")
    # CJK ideographs — Java regex syntax; the DuckDB oracle uses \x{...}
    scores["zh"] = _count_re(F.col(text_col), r"[一-鿿]").cast("long")

    pairs = F.array(
        *[F.struct(scores[lang].alias("s"), F.lit(lang).alias("l"))
          for lang in sorted(scores)]
    )
    # max score wins; ties → lexicographically first language
    best = F.aggregate(
        pairs,
        F.struct(F.lit(-1).cast("long").alias("s"), F.lit("").alias("l")),
        lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc),
    )
    return [best["l"].alias("lang_pred")] + [
        scores[lang].alias(f"score_{lang}") for lang in sorted(scores)]


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram/marker-word language-ID heuristic.

    Scores = count of language marker words (whole-word matches over the
    lowercased text) per language, plus a CJK-codepoint count for 'zh'.
    Prediction = argmax with deterministic tie-break (lang name asc).
    Returns (id, lang_pred, score_<lang>...).
    """
    return df.select(F.col(id_col), *_lang_exprs(text_col))


def _fp_exprs(text_col: str) -> list[Column]:
    """fingerprint output columns (sans id)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "),
            r"\s+", " ",
        )
    )
    return [
        F.md5(norm.cast("binary")).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    ]


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 of the normalized text (lowercase,
    non-alphanumeric → space, whitespace collapsed, trimmed). Identical
    normalization is expressible in any SQL engine → oracle-checkable."""
    return df.select(F.col(id_col), *_fp_exprs(text_col))


def _token_exprs(text_col: str) -> list[Column]:
    """token_count output columns (sans id)."""
    return [
        n_tokens(F.col(text_col)).alias("ws_tokens"),
        F.size(word_tokens(F.col(text_col))).alias("lex_tokens"),
    ]


def token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace + BPE-ish token counts per document."""
    return df.select(F.col(id_col), *_token_exprs(text_col))


def text_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *,
    extra: dict[str, Column] | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """The full per-document text profile — stats, language-ID, fingerprint,
    token counts, and repetition signals — in ONE map-only projection.

    This is the production shape for corpus curation at scale: five
    logically separate operators over the same text column fuse into one
    map-only pipeline over one scan — zero shuffles, zero joins, one pass
    over 100 TB instead of five. Column names are the union of the
    per-operator outputs with two renames where they collide (repetition's
    word counts are over NORMALIZED text): ``norm_words`` = repetition
    n_words, ``norm_grams`` = repetition n_grams.

    ``extra`` appends caller-supplied per-document column expressions to
    the SAME fused projection (name → Column over the text column) — the
    extension point for riding another map-only text operator on this
    one scan (e.g. ``dedup.simhash_col``) instead of a second pass.
    ``carry_cols`` names input columns that pass through untouched — the
    extension point for riding this profile on the OUTPUT of another
    map-only pass (e.g. ``quality.gopher_c4_rules``) so the combined
    operator chain stays one scan, zero joins.
    """
    base = df.select(
        F.col(id_col),
        *_stats_exprs(text_col),
        *_lang_exprs(text_col),
        *_fp_exprs(text_col),
        *_token_exprs(text_col),
        *[c.alias(n) for n, c in (extra or {}).items()],
        *[F.col(c) for c in (carry_cols or [])],
        F.col(text_col),
    )
    carry = [c for c in base.columns if c != text_col]
    return _with_repetition(base, text_col, carry,
                            word_alias="norm_words",
                            gram_alias="norm_grams")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): the
    local-minimum selection over rolling k-gram hashes that powers
    plagiarism/near-dup detection at document-fragment granularity.

    Hash of the k-gram at position i = first 8 hex digits of md5(k-gram) as
    a uint32 (positionally computed; semantically identical to a rolling
    hash and engine-portable, which a true Rabin hash's incremental state
    is not). A window of ``window`` consecutive hashes selects its minimum;
    the distinct set of selected mins is the document's fingerprint set.
    Guarantees: any shared substring of length >= window+k-1 contributes at
    least one common fingerprint.

    Returns (id, n_grams, fingerprints array<bigint> sorted distinct).
    Map-only (no shuffle); the fingerprint set is the join key for
    fragment-level matching downstream.
    """
    from pyspark.sql.window import Window

    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "),
            r"\s+", " ",
        )
    )
    ngrams = F.greatest(F.length(norm) - (k - 1), F.lit(0))
    # Relational formulation: one row per k-gram position, md5 inside
    # whole-stage codegen (an array-of-hashes higher-order expression would
    # re-evaluate the array per sliding position — O(n²) hashing,
    # interpreted), then the sliding-window minimum is a plain row frame.
    ex = (
        df.select(F.col(id_col), norm.alias("_norm"), ngrams.alias("_ng"))
        .where(F.col("_ng") > 0)
        .select(
            F.col(id_col), F.col("_ng"),
            F.explode(F.sequence(F.lit(1), F.col("_ng"))).alias("_i"),
            F.col("_norm"),
        )
        .select(
            F.col(id_col), F.col("_ng"), F.col("_i"),
            F.conv(
                F.substring(
                    F.md5(F.col("_norm").substr(F.col("_i"), F.lit(k))
                          .cast("binary")), 1, 8),
                16, 10,
            ).cast("long").alias("_h"),
        )
    )
    w = (
        Window.partitionBy(id_col).orderBy("_i")
        .rowsBetween(Window.currentRow, window - 1)
    )
    nwin = F.greatest(F.col("_ng") - (window - 1), F.lit(1))
    return (
        ex.withColumn("_winmin", F.min("_h").over(w))
        .where(F.col("_i") <= nwin)
        .groupBy(id_col)
        .agg(
            F.max("_ng").cast("long").alias("n_grams"),
            F.array_sort(F.collect_set("_winmin")).alias("fingerprints"),
        )
    )


def _with_repetition(
    df: DataFrame,
    text_col: str,
    carry_cols: list[str],
    word_alias: str = "n_words",
    gram_alias: str = "n_grams",
) -> DataFrame:
    """Append the five repetition signal columns via STAGED projections.

    A document's text already lives in one row, so all per-doc gram stats
    are array expressions — no explode, no shuffle. Staging matters:
    interpreted higher-order lambdas re-evaluate their closed-over
    expression trees per element, so a flat tree recomputes
    normalize+split once per ``element_at`` — O(words²) per document
    (measured 17× slower at sf0.1). Each stage binds the previous stage's
    output as a plain attribute; Catalyst keeps the projections separate
    (CollapseProject refuses to duplicate non-cheap expressions).

    The most-frequent-gram count is the longest run in the SORTED gram
    array (one O(n) fold; grams are never empty strings, so the ''
    initial fold sentinel cannot collide). ``text_col`` is consumed and
    dropped; ``carry_cols`` pass through.
    """
    from .dedup import normalized

    t = F.col(text_col)
    w = F.when(t.isNull() | (normalized(t) == ""),
               F.array().cast("array<string>")
               ).otherwise(F.split(normalized(t), " "))
    s1 = df.select(*carry_cols, w.alias("_w"))
    grams = F.when(
        F.size("_w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("_w"), i),
                F.element_at(F.col("_w"), i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    s2 = s1.select(
        *carry_cols,
        F.size("_w").alias("_nw"),
        F.size(F.array_distinct("_w")).alias("_uw"),
        grams.alias("_g"),
    )
    s3 = s2.select(
        *carry_cols, "_nw", "_uw",
        F.size("_g").alias("_ng"),
        F.size(F.array_distinct("_g")).alias("_ug"),
        F.array_sort("_g").alias("_sg"),
    )
    zero = F.lit(0).cast("long")
    top = F.aggregate(
        F.col("_sg"),
        F.struct(F.lit("").alias("prev"), zero.alias("run"),
                 zero.alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("long"))).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    s4 = s3.select(*carry_cols, "_nw", "_uw", "_ng", "_ug",
                   top.alias("_top"))
    nw, ng = F.col("_nw"), F.col("_ng")
    return s4.select(
        *carry_cols,
        nw.cast("long").alias(word_alias),
        ng.cast("long").alias(gram_alias),
        F.round(
            F.when(nw > 0, 1 - F.col("_uw").cast("double") / nw)
            .otherwise(0.0), 6).alias("dup_word_frac"),
        F.round(
            F.when(ng > 0, 1 - F.col("_ug").cast("double") / ng)
            .otherwise(0.0), 6).alias("dup_gram_frac"),
        F.round(
            F.when(ng > 0, F.col("_top").cast("double") / ng)
            .otherwise(0.0), 6).alias("top_gram_share"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals (the Gopher/C4-style quality
    filters): duplicate-word fraction, duplicate-2-gram fraction, and the
    share of the single most frequent 2-gram. High values flag boilerplate
    and degenerate (looping) text for removal from training corpora.

    Entirely map-only (see ``_with_repetition``): each document is one
    row, so every signal is an array expression — no explode, no shuffle.
    Returns (id, n_words, n_grams, dup_word_frac, dup_gram_frac,
    top_gram_share).
    """
    return _with_repetition(
        df.select(F.col(id_col), F.col(text_col)), text_col, [id_col])


def vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary with term and document frequencies.

    The standard pre-tokenizer statistics pass (vocab building, heavy-
    hitter inspection, stopword discovery): explode lexical tokens →
    one count aggregation with map-side combine. Returns (token,
    term_freq, doc_freq) — one shuffle on token; at 100 TB the hot-token
    skew is absorbed by the map-side partial aggregation (each input
    split contributes at most one row per distinct token).
    """
    # explode_outer + isNotNull: a plain explode gets an inferred
    # size(tokens)>0 filter pushed into the scan that re-runs the
    # tokenizer regex per row (the bm25/_grams lesson); the isNotNull on
    # the post-generate attribute keeps NULL-text rows out of the groups
    tok = (
        df.select(F.col(id_col),
                  F.explode_outer(word_tokens(F.col(text_col)))
                  .alias("token"))
        .where(F.col("token").isNotNull())
    )
    out = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("term_freq"),
        # distinct-agg expand rewrite: Spark spreads the distinct pairs by
        # (token, doc) before the final count — hot tokens stay skew-safe
        F.count_distinct(F.col(id_col)).alias("doc_freq"),
    )
    if min_count > 1:
        out = out.where(F.col("term_freq") >= min_count)
    return out


#: PII patterns, applied in THIS order (url before email would eat the
#: mailto-ish tails of urls; email first keeps a@b.com inside a url
#: redacted as one email). Regex subset chosen to mean the same thing in
#: Java regex (Spark) and RE2 (DuckDB/Go) — no lookaround, no backrefs —
#: so redaction is reproducible cross-engine and oracle-checkable.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    # IBAN candidates: CC + 2 check digits + 11-30 alphanumerics,
    # either COMPACT or the groups-of-4 print form (the alternation
    # stops the span swallowing a following short word, which would
    # fail the checksum and MISS a valid IBAN); only MOD-97-VALID
    # candidates are redacted (ISO 13616 checksum as a pure column fold)
    "iban": (r"\b[A-Z]{2}\d{2}(?:[A-Za-z0-9]{11,30}"
             r"|(?: [A-Za-z0-9]{4}){2,7}(?: [A-Za-z0-9]{1,4})?)\b"),
    # payment-card candidates: 13-19 digits with optional single
    # space/dash separators; only LUHN-VALID candidates are redacted
    # (the checksum runs as a pure column fold, never a UDF) — listed
    # BEFORE phone so a card is labeled as a card, not a digit run
    "credit_card": r"\b\d(?:[ -]?\d){12,18}\b",
    # US-SSN-shaped national id (the C4/Dolma/FineWeb scrubber class);
    # before phone, which would otherwise eat the same digit run
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    # heuristic: international-ish phone runs, 9+ digits with separators
    "phone": r"\+?\d[\d\- ().]{7,}\d\b",
}


def _luhn_valid(s: Column) -> Column:
    """Luhn checksum over a candidate span's digits — a pure column
    fold (reverse digits; double every second; sum the digit sums;
    total % 10 == 0), Java/RE2-portable and DuckDB-replayable. Also
    enforces the 13-19 digit card-length window so a separator-padded
    short run can't sneak through the candidate regex."""
    digits = F.reverse(F.regexp_replace(s, "[^0-9]", ""))
    chars = F.split(digits, "")
    vals = F.transform(
        chars,
        lambda c, i: F.when(
            i % 2 == 1,
            # doubled digit's digit sum: 2d - 9 when 2d > 9
            (F.ascii(c) - 48) * 2
            - F.when((F.ascii(c) - 48) * 2 > 9, F.lit(9)).otherwise(0),
        ).otherwise(F.ascii(c) - 48))
    total = F.aggregate(vals, F.lit(0), lambda a, x: a + x)
    n = F.length(digits)
    return (n >= 13) & (n <= 19) & (total % 10 == 0)


def _iban_valid(s: Column) -> Column:
    """ISO 13616 mod-97 checksum over a candidate span — a pure column
    fold: strip separators, move the first 4 chars to the end, map
    letters A..Z to 10..35, and fold the resulting decimal digit stream
    through acc -> (acc*base + v) % 97; valid iff the remainder is 1
    (and the compact length is a legal 15..34)."""
    t = F.upper(F.regexp_replace(s, "[^A-Za-z0-9]", ""))
    rearranged = F.concat(F.substring(t, 5, 34), F.substring(t, 1, 4))
    chars = F.split(rearranged, "")
    acc = F.aggregate(
        chars, F.lit(0),
        lambda a, c: F.when(
            c.rlike("[0-9]"), (a * 10 + (F.ascii(c) - 48)) % 97
        ).otherwise((a * 100 + (F.ascii(c) - 55)) % 97))
    n = F.length(t)
    return (n >= 15) & (n <= 34) & (acc == 1)


def _luhn_subspan(s: Column) -> Column:
    """The longest 13-19-digit PREFIX of the candidate whose digits
    pass Luhn, else NULL. The greedy candidate regex can swallow a
    following short digit token (" ... 6467 22" extracts as one
    18-digit span); validating only the full span would then let the
    contained valid card LEAK unredacted — so validation walks prefix
    windows, longest first, and redaction targets the validated
    sub-span. A valid window that starts mid-span (leading junk
    digits) is still not matched — \\b anchors the candidate at a
    digit-run start, and a run with leading extra digits fails every
    prefix; that residue falls through to the phone pattern
    (documented)."""
    out = F.lit(None).cast("string")
    for k in range(13, 20):  # ascending wrap => k=19 checked first
        p = F.regexp_extract(s, r"^\d(?:[ -]?\d){%d}" % (k - 1), 0)
        out = F.when((p != "") & _luhn_valid(p), p).otherwise(out)
    return out


def _iban_subspan(s: Column) -> Column:
    """The candidate itself, or the candidate with up to two trailing
    short groups trimmed, whichever first passes the mod-97 checksum
    (else NULL). The grouped-form candidate regex can swallow a
    following 1-4-char word as an extra group (any IBAN whose compact
    length is a multiple of 4, followed by ' cash' etc.) — full-span
    validation alone would leak the contained valid IBAN."""
    t1 = F.regexp_replace(s, r" [A-Za-z0-9]{1,4}$", "")
    t2 = F.regexp_replace(t1, r" [A-Za-z0-9]{1,4}$", "")
    return (F.when(_iban_valid(s), s)
            .when(_iban_valid(t1), t1)
            .when(_iban_valid(t2), t2)
            .otherwise(F.lit(None).cast("string")))


#: checksum sub-span extractors for candidate-regex kinds — each maps a
#: candidate to the VALIDATED sub-span to redact (NULL = no valid PII
#: in this candidate); pure column folds, zero UDF
_PII_VALIDATORS: dict[str, object] = {
    "credit_card": _luhn_subspan,
    "iban": _iban_subspan,
}


def _valid_subspans(text: Column, pattern: str, subspan_fn) -> Column:
    return F.filter(
        F.transform(F.regexp_extract_all(text, F.lit(pattern), 0),
                    subspan_fn),
        lambda x: x.isNotNull())


def _redact_validated(text: Column, pattern: str, token: str,
                      subspan_fn) -> Column:
    """Replace every CHECKSUM-VALID (sub-)span with ``token``: extract
    candidates, map each to its validated sub-span, then left-fold
    WORD-BOUNDED regex replaces — conditional redaction without a UDF
    (regexp_replace alone cannot gate on a checksum). The \\b guards
    stop a short valid span from corrupting a longer digit run that
    merely CONTAINS it as a substring (a 17-digit Luhn-invalid run
    embedding a valid 16-digit card stays intact for the phone
    pattern); candidate spans contain only [A-Za-z0-9 -], so the span
    text is regex-metacharacter-free by construction."""
    return F.aggregate(
        _valid_subspans(text, pattern, subspan_fn), text,
        lambda acc, s: F.regexp_replace(
            acc, F.concat(F.lit(r"\b"), s, F.lit(r"\b")), F.lit(token)))


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    kinds: tuple[str, ...] = ("email", "url", "ipv4", "phone"),
    with_counts: bool = False,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Redact PII-shaped spans: each match of the requested ``kinds``
    becomes ``[KIND]``. Map-only (chained ``regexp_replace``), zero
    shuffle — the curation pass that must run over every byte of a crawl
    exactly once. Returns (id, <text_col> redacted); ``with_counts=True``
    appends ``n_<kind>`` match counts per document (counted BEFORE
    redaction and INDEPENDENTLY per kind, one extra regex pass each — a
    span matching two kinds, e.g. an email inside a url or an IPv4 that
    also looks phone-shaped, counts under both even though the emitted
    text holds one token; NULL text yields 0 counts and NULL text out).
    ``carry_cols`` passes provenance columns (language, source, license…)
    through unchanged — free here (map-only projection) and it spares the
    caller a corpus×corpus join to re-attach them downstream.

    The patterns are heuristics tuned for recall on crawl text (phone
    especially WILL catch long digit runs that aren't phone numbers) —
    curation wants over-redaction over leakage. Order is fixed and
    documented (``PII_PATTERNS``); outputs are engine-portable (same
    regex subset in Java regex and RE2, DuckDB-parity-tested).

    ``credit_card`` and ``iban`` (opt-in, the compliance-review kinds
    next to ``ssn``) redact only CHECKSUM-VALID spans — Luhn for
    cards, ISO 13616 mod-97 for IBANs: each checksum is a pure column
    fold over the span's characters, validation walks the candidate's
    prefix windows / trailing-group trims (the greedy candidate regex
    can swallow an adjacent short token — the valid PII inside must
    still redact), and the replace is a word-bounded regex left-fold
    over the validated sub-spans — still map-only, zero UDF,
    DuckDB-replayable (tests/test_pii_luhn.py). A digit run with
    LEADING junk digits fails every window and is left for the later
    ``phone`` pattern to judge. ``n_credit_card``/``n_iban`` count
    candidates that yielded a valid sub-span.
    """
    unknown = [k for k in kinds if k not in PII_PATTERNS]
    if unknown:
        raise ValueError(
            f"unknown PII kind(s) {unknown}; available: "
            f"{sorted(PII_PATTERNS)}")
    t = F.col(text_col)
    cols = [F.col(id_col)]
    if with_counts:
        for k in kinds:
            if k in _PII_VALIDATORS:
                cnt = F.size(_valid_subspans(t, PII_PATTERNS[k],
                                             _PII_VALIDATORS[k]))
            else:
                cnt = _count_re(t, PII_PATTERNS[k])
            cols.append(F.coalesce(cnt, F.lit(0)).alias(f"n_{k}"))
    red = t
    for k in PII_PATTERNS:  # module order, filtered — order is the spec
        if k not in kinds:
            continue
        if k in _PII_VALIDATORS:
            red = _redact_validated(red, PII_PATTERNS[k],
                                    f"[{k.upper()}]", _PII_VALIDATORS[k])
        else:
            red = F.regexp_replace(red, PII_PATTERNS[k], f"[{k.upper()}]")
    carry = [F.col(c) for c in (carry_cols or [])]
    return df.select(*cols[:1], red.alias(text_col), *cols[1:], *carry)


def tfidf_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 5,
    min_doc_freq: int = 1,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document top-``k`` keywords by TF-IDF (the classic extraction
    pass: corpus-aware salient terms per document, for labeling, topical
    routing, or cheap near-dup triage).

    Returns (``<id_col>``, ``token``, ``tf``, ``doc_freq``, ``tfidf``,
    ``rnk``) — at most ``k`` rows per document, ranked by smoothed
    ``tf * (ln((N + 1) / (doc_freq + 1)) + 1)`` (idf > 0 even for a term
    in every document, the sklearn-style smoothing) with a token
    tiebreak; ``tfidf`` rounded to 6. ``min_doc_freq`` drops hapax noise
    before ranking.

    Plan shape (the 100 TB read): term frequency is one (doc, token)
    hash aggregate off the exploded token stream; document frequency
    re-derives the distinct pairs from a SECOND map-only scan+explode
    leg (Catalyst column-prunes the tf count out of that leg, so the two
    subtrees legitimately differ — re-scanning beats materializing a
    corpus-sized pair frame, the same trade ``dedup_paragraphs``
    documents) and recounts on the token key. Hot tokens are hot KEYS
    with map-side partial combine on every aggregate. The corpus size N
    is a one-row aggregate riding a broadcast; the doc-frequency join is
    left to Catalyst/AQE — broadcast while the vocabulary frame is small,
    shuffled hash join once runtime stats say otherwise. The final
    per-document top-k is one window exchange on the id with map-side
    WindowGroupLimit, so no document ships more than ``k`` candidate
    rows per input split. Tokens are ``word_tokens`` (same lexical spec
    as ``vocab``/``text_profile``); ``tokens_col`` names a persisted
    ``word_tokens`` array instead (the tokenize-once recipe shared with
    ``retrieval.bm25_topk`` — identical output by construction, and the
    two scan legs skip the regex). DuckDB value parity in
    tests/test_text_extras.py.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if min_doc_freq < 1:
        raise ValueError("min_doc_freq must be >= 1")
    # explode_outer + isNotNull: see vocab (inferred generate-filter)
    tok = df.select(
        F.col(id_col),
        F.explode_outer(F.col(tokens_col) if tokens_col
                        else word_tokens(F.col(text_col))).alias("token")) \
        .where(F.col("token").isNotNull())
    tf = tok.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf"))
    # dfreq derives FROM tf — its rows are exactly the distinct
    # (doc, token) pairs, so no separate distinct() pass is written;
    # Catalyst prunes the unused count from this leg (see docstring).
    dfreq = (
        tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
        .where(F.col("doc_freq") >= min_doc_freq)
    )
    n_docs = df.select(
        F.count(F.lit(1)).alias("_n")).withColumn("_j", F.lit(1))
    scored = (
        tf.join(dfreq, "token")
        .withColumn("_j", F.lit(1))
        .join(F.broadcast(n_docs), "_j")
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("_n") + 1) / (F.col("doc_freq") + 1)) + 1),
                6))
    )
    from pyspark.sql import Window
    w = (Window.partitionBy(id_col)
         .orderBy(F.col("tfidf").desc(), F.col("token").asc()))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(id_col, "token", "tf", "doc_freq", "tfidf", "rnk")
    )


def chunk_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    size: int,
    stride: int | None = None,
    carry_cols: list[str] | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Sliding-window chunking with overlap — the per-document context-
    window splitter (long-document training prep, retrieval chunking):
    windows of ``size`` word tokens starting every ``stride`` tokens
    (default ``size``, i.e. disjoint); the last window may be short and
    is kept as-is. The
    counterpart to ``packing.pack_chunks``: packing CONCATENATES many
    short documents into fixed slots; this SPLITS one long document into
    overlapping views — a pipeline typically windows long docs first,
    then packs the pieces.

    Returns (``<id_col>``, ``chunk_idx``, ``tok_start``, ``n_chunk_toks``,
    ``chunk_text``, carry…): chunk ``i`` covers tokens
    ``[i*stride, i*stride + size)``; a document emits
    ``1 + floor((n_toks - 1) / stride)`` chunks trimmed of start offsets
    at-or-past the token count (an empty/NULL document emits ZERO rows —
    it has no window, matching the explode-of-nothing contract).

    Plan shape: pure map — tokenize, build the start-offset sequence,
    posexplode, slice. NO shuffle anywhere (plan-pinned); at 100 TB this
    runs at scan speed and the output inherits input partitioning.
    ``carry_cols`` rides the projection for free. ``tokens_col`` names a
    persisted ``word_tokens`` array to window instead of re-tokenizing
    the text (identical output by construction). DuckDB value parity in
    tests/test_text_extras.py.
    """
    if size < 1:
        raise ValueError("size must be >= 1")
    stride = size if stride is None else stride
    if stride < 1:
        raise ValueError("stride must be >= 1")
    toks = (F.col(tokens_col) if tokens_col
            else word_tokens(F.col(text_col)))
    carry = [F.col(c) for c in (carry_cols or [])]
    base = df.select(
        F.col(id_col), toks.alias("_toks"),
        F.size(toks).alias("_n"), *carry)
    starts = F.sequence(
        F.lit(0),
        F.when(F.col("_n") > 0, F.col("_n") - 1).otherwise(F.lit(-1)),
        F.lit(stride))
    ex = base.where(F.col("_n") > 0).select(
        F.col(id_col), "_toks", "_n", *[F.col(c) for c in (carry_cols or [])],
        F.posexplode(starts).alias("chunk_idx", "tok_start"))
    chunk = F.slice(F.col("_toks"), F.col("tok_start") + 1, size)
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.size(chunk).cast("long").alias("n_chunk_toks"),
        F.array_join(chunk, " ").alias("chunk_text"),
        *[F.col(c) for c in (carry_cols or [])],
    )


#: control characters stripped by normalize_text: C0 minus \t \n \r, plus
#: DEL and the C1 block — the same class in Java regex (Spark) and RE2
#: (DuckDB/Go), so stripping is oracle-checkable cross-engine.
CONTROL_CHARS_RE = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    form: str | None = "NFC",
    strip_control: bool = True,
    collapse_ws: bool = False,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Unicode + byte hygiene for crawl text — the canonical FIRST pass of
    a curation pipeline (before hashing, shingling, or tokenizing:
    composed vs decomposed accents must not defeat exact dedup, and
    stray control bytes must not leak into training data).

    Stages, each optional, applied in this order:

    * ``strip_control`` — remove C0 control chars (keeping tab/newline/
      carriage-return), DEL, and the C1 block (``CONTROL_CHARS_RE``);
      pure JVM ``regexp_replace``.
    * ``form`` — Unicode normalization (``"NFC"``/``"NFKC"``/``"NFD"``/
      ``"NFKD"``, ``None`` to skip). Spark exposes no normalizer
      function, so this is the module's ONE Arrow stage: a vectorized
      ``pandas_udf`` over ``Series.str.normalize`` — same batch shape as
      ``bpe_encode``, map-only, no shuffle (ASCII-only corpora pass
      through byte-identical).
    * ``collapse_ws`` — runs of whitespace → one space, trimmed (OFF by
      default: it destroys paragraph structure that
      ``dedup_paragraphs``/``chunk_windows`` need).

    Returns (``<id_col>``, ``<text_col>`` normalized, carry…); NULL text
    stays NULL. The whole pass is one map-only projection — plan pinned
    Exchange-free; NFC parity vs DuckDB ``nfc_normalize`` and the strip/
    collapse stages oracle-checked in tests/test_text_extras.py.
    """
    if form is not None:
        if form not in ("NFC", "NFKC", "NFD", "NFKD"):
            raise ValueError(f"unknown normalization form {form!r}")
        @F.pandas_udf("string")
        def _norm(s):
            return s.str.normalize(form)

    t: Column = F.col(text_col)
    if strip_control:
        t = F.regexp_replace(t, CONTROL_CHARS_RE, "")
    if form is not None:
        t = _norm(t)
    if collapse_ws:
        t = F.trim(F.regexp_replace(t, r"\s+", " "))
    carry = [F.col(c) for c in (carry_cols or [])]
    return df.select(F.col(id_col), t.alias(text_col), *carry)


def hash_embeddings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    dim: int = 64,
    normalize: bool = True,
) -> DataFrame:
    """Feature-hashing document embeddings (the 'hashing trick',
    Weinberger et al. 2009): each lexical token increments bucket
    ``md5(token) mod dim``, giving a fixed-width ``array<double>`` per
    document with NO trained model and NO vocabulary state — the
    model-free bridge from raw text into this repo's vector stack
    (``cosine_topk`` / ``lsh_topk`` / ``embedding_dedup_groups`` /
    ``projection``) when no neural embedding is available or allowed.

    ``normalize=True`` L2-normalizes (cosine-ready; all-empty documents
    keep a zero vector rather than dividing by zero). The bucket hash is
    the md5-prefix integer used across this repo — engine-portable, so
    the whole embedding is DuckDB-reproducible bit-for-bit
    (tests/test_text_extras.py), unlike Spark's Murmur3 ``hash()``.

    Plan shape (the 100 TB read): explode → (id, bucket) count with
    map-side combine → one per-document aggregate assembling the dense
    vector from the ≤ ``dim`` bucket rows (``map_from_entries`` +
    ``transform`` over the bucket range — no per-token dim-width fold,
    which would be O(tokens × dim)). Two exchanges, both keyed by the
    document id family; hot tokens are just hot ROWS here, not hot keys,
    because the count key is (id, bucket).
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    # explode_outer + isNotNull: see vocab (inferred generate-filter)
    tok = df.select(
        F.col(id_col),
        F.explode_outer(word_tokens(F.col(text_col))).alias("_t")) \
        .where(F.col("_t").isNotNull())
    bucket = (
        F.conv(F.substring(F.md5(F.col("_t").cast("binary")), 1, 8), 16, 10)
        .cast("long") % dim)
    counts = (
        tok.select(id_col, bucket.alias("_b"))
        .groupBy(id_col, "_b").agg(F.count(F.lit(1)).alias("_c"))
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at("_m", i.cast("int")).cast("double"), F.lit(0.0)))
    assembled = (
        counts.groupBy(id_col)
        .agg(F.map_from_entries(
            F.collect_list(F.struct(F.col("_b").cast("int"), "_c")))
            .alias("_m"))
        .select(F.col(id_col), vec.alias("embedding"))
    )
    # documents with zero tokens vanish at the explode — restore them
    # with a zero vector so the operator is total over its input
    out = (
        df.select(id_col)
        .join(assembled, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.col("embedding"),
                F.array_repeat(F.lit(0.0), dim)).alias("embedding"))
    )
    if normalize:
        nrm = F.sqrt(F.aggregate(
            "embedding", F.lit(0.0), lambda a, x: a + x * x))
        out = out.select(
            F.col(id_col),
            F.when(nrm > 0,
                   F.transform("embedding", lambda x: F.round(x / nrm, 6)))
            .otherwise(F.col("embedding")).alias("embedding"))
    return out


def corpus_card(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    lang_col: str | None = None,
) -> DataFrame:
    """The one-row corpus DATASHEET — the summary a pipeline publishes
    next to every dataset release (doc/token/char volume, exact-dup
    rate, dominant language, quality distribution): a handful of
    aggregates composed over ONE pass of the per-document profile plus
    the exact-dup hash aggregate, returned as a single row so it lands
    in a release manifest verbatim.

    Columns: ``n_docs``, ``n_tokens``, ``n_chars``, ``dup_rate``
    (exact-dup fraction by normalized content hash, rounded 6),
    ``top_lang`` / ``top_lang_share`` (predicted via ``lang_id`` unless
    ``lang_col`` names a trusted column), ``avg_quality`` (decimal-exact
    mean, rounded 6), ``p50_chars`` / ``p90_chars`` (EXACT percentiles —
    the counting formulation ``skew.py`` documents; deterministic, so a
    SQL oracle reproduces them, unlike a merged sketch).

    Scale shape: every input column reduces map-side (profile stats are
    map-only expressions; the exact percentile buffers distinct LENGTHS,
    not rows); the only exchanges are the content-hash aggregate and the
    tiny language count. DuckDB value parity in
    tests/test_text_extras.py.
    """
    from .dedup import exact_dedup

    prof = df.select(
        F.col(id_col), *_stats_exprs(text_col),
        *( [F.col(lang_col).alias("_lang")] if lang_col
           else [_lang_exprs(text_col)[0].alias("_lang")] ))
    totals = prof.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(10,6)"))
            .cast("double") / F.count(F.lit(1)), 6).alias("avg_quality"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
    ).withColumn("_j", F.lit(1))
    dups = exact_dedup(df, text_col, id_col).agg(
        F.round(F.avg(F.col("is_duplicate").cast("double")), 6)
        .alias("dup_rate")).withColumn("_j", F.lit(1))
    top = (
        prof.groupBy("_lang").agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("_lang").asc()).limit(1)
        .select(F.col("_lang").alias("top_lang"), F.col("_n").alias("_tn"))
        .withColumn("_j", F.lit(1))
    )
    return (
        totals.join(F.broadcast(dups), "_j").join(F.broadcast(top), "_j")
        .select(
            "n_docs", "n_tokens", "n_chars", "dup_rate",
            "top_lang",
            F.round(F.col("_tn") / F.col("n_docs"), 6)
            .alias("top_lang_share"),
            "avg_quality", "p50_chars", "p90_chars",
        )
    )


def fingerprint_matches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Fragment-level near-duplicate pairs: documents sharing at least
    ``min_shared`` winnowing fingerprints — the plagiarism / partial-reuse
    granularity between exact-substring spans (``dedup.duplicate_spans``,
    byte-exact only) and whole-document MinHash (blind to a copied
    paragraph inside an otherwise-unrelated page). Winnowing's guarantee
    carries over: any shared substring of length >= window+k-1 chars
    yields at least one shared fingerprint.

    Returns (id_a, id_b, shared_fps, overlap) with ``overlap`` =
    shared / min(|fps_a|, |fps_b|) rounded to 6 — the containment-style
    score (a fragment lifted wholesale into a much larger page still
    scores high).

    Scale: fingerprint explode → ``dedup.shared_value_pairs`` (the shared
    containment join: one materialization of the exploded frame — the
    winnowing window would otherwise re-run per self-join side — then
    equi-join on the fingerprint value + grouped count, never all-pairs;
    ``max_df`` drops boilerplate fingerprints before the join)."""
    from . import dedup as _dedup
    fps = winnow_fingerprints(df, text_col, id_col, k=k, window=window)
    ex = fps.select(
        F.col(id_col),
        F.size("fingerprints").alias("_nfp"),
        F.explode("fingerprints").alias("_fp"))
    return _dedup.shared_value_pairs(ex, id_col, min_shared=min_shared,
                                     max_df=max_df)
