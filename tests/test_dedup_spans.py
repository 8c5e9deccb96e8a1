"""Cross-document duplicate-span removal (dedup.duplicate_spans /
strip_duplicate_spans) against an independent brute-force oracle.

The oracle below re-implements the spec in plain Python over collected
rows — same whitespace-exact tokenization, gram keys, canonical policy,
interval merge, and protection subtraction — with none of the Spark
machinery, so a bug in the window/merge plumbing cannot hide.  DuckDB
parity is not used here because RE2 lacks the lookbehind the tokenizer
needs (documented in the operator docstring)."""

import re

import pytest
from pyspark.sql import functions as F

from anomalyzer_spark.functions.dedup import duplicate_spans, strip_duplicate_spans
from anomalyzer_spark.sources import load_table


# --- brute-force oracle ----------------------------------------------------

def _bf_tokens(text):
    return re.split(r"(?<=\S)(?=\s)", text or "")


def _bf_grams(text, k):
    toks = _bf_tokens(text)
    m = len(toks) - (1 if toks and toks[-1].strip() == "" else 0)
    return [
        (p, re.sub(r"^\s+", "", toks[p]) + "".join(toks[p + 1 : p + k]))
        for p in range(0, m - k + 1)
    ]


def _bf_marked(rows, k, scope, keep):
    """(id, pos, kind) for every duplicated gram occurrence."""
    occ = {}
    for i, t in rows:
        for p, g in _bf_grams(t, k):
            occ.setdefault(g, []).append((i, p))
    marked = []
    for g, os_ in occ.items():
        dup = (
            len({i for i, _ in os_}) > 1 if scope == "cross_doc" else len(os_) > 1
        )
        if not dup:
            continue
        canon = min(os_)
        for o in os_:
            kind = "keep" if (keep == "canonical" and o == canon) else "remove"
            marked.append((o[0], o[1], kind))
    return marked


def _bf_spans(rows, k, scope="cross_doc", keep="canonical"):
    """set of (id, kind, start, end, n_grams, n_tokens) — merged runs."""
    by = {}
    for i, p, kind in _bf_marked(rows, k, scope, keep):
        by.setdefault((i, kind), []).append(p)
    out = set()
    for (i, kind), ps in by.items():
        ps.sort()
        run = [ps[0]]
        for p in ps[1:]:
            if p - run[-1] > k:
                out.add((i, kind, run[0], run[-1] + k - 1, len(run)))
                run = [p]
            else:
                run.append(p)
        out.add((i, kind, run[0], run[-1] + k - 1, len(run)))
    return {(i, kd, s, e, n, e - s + 1) for (i, kd, s, e, n) in out}


def _bf_strip(rows, k, scope="cross_doc", keep="canonical"):
    """{id: (text, n_spans_removed, n_tokens_dropped)}"""
    spans = _bf_spans(rows, k, scope, keep)
    out = {}
    for i, t in rows:
        rm = [(s, e) for (j, kd, s, e, _, _) in spans if j == i and kd == "remove"]
        kp = [(s, e) for (j, kd, s, e, _, _) in spans if j == i and kd == "keep"]
        toks = _bf_tokens(t)
        kept = [
            (ix, tok)
            for ix, tok in enumerate(toks)
            if not (
                any(s <= ix <= e for s, e in rm)
                and not any(s <= ix <= e for s, e in kp)
            )
        ]
        if not kept:
            txt = ""
        else:
            h_i, h_t = kept[0]
            head = h_t if h_i == 0 else re.sub(r"^\s+", "", h_t)
            txt = head + "".join(tok for _, tok in kept[1:])
        out[i] = (txt, len(rm), len(toks) - len(kept))
    return out


# --- fixture corpus with planted duplicates --------------------------------

PASSAGE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong black coffee at midnight under pale northern lights"
)  # 21 words


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 30)
    )
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    planted = []
    for i, (d, t) in enumerate(rows):
        if d % 7 == 0:
            t = t + " " + PASSAGE  # cross-doc duplicated tail
        if d == 3:
            t = PASSAGE + " " + t  # duplicate at doc START (leading-ws edge)
        if d == 11:
            t = t + " " + PASSAGE + "  " + PASSAGE  # within-doc repeat, odd ws
        planted.append((d, t))
    planted.append((900, None))  # NULL text
    planted.append((901, "short doc only"))
    planted.append((902, "  leading ws \t odd\n\nwhitespace kept  "))
    df = spark.createDataFrame(planted, "doc_id long, text string")
    return df, planted


def _span_set(df):
    return {
        (r["doc_id"], r["kind"], r["span_start"], r["span_end"], r["n_grams"],
         r["n_tokens"])
        for r in df.collect()
    }


def test_spans_match_bruteforce(corpus):
    df, rows = corpus
    got = _span_set(duplicate_spans(df, min_len=10))
    assert got == _bf_spans(rows, 10)
    assert any(k == "keep" for (_, k, *_rest) in got)
    assert any(k == "remove" for (_, k, *_rest) in got)


def test_spans_match_bruteforce_scope_all_keep_none(corpus):
    df, rows = corpus
    got = _span_set(duplicate_spans(df, min_len=10, scope="all", keep="none"))
    assert got == _bf_spans(rows, 10, scope="all", keep="none")
    assert all(k == "remove" for (_, k, *_rest) in got)
    # within-doc repeat (doc 11) only visible under scope='all' with the
    # second copy removed even though both live in one document
    assert any(i == 11 for (i, *_rest) in got)


def test_strip_matches_bruteforce_and_byte_roundtrip(corpus):
    df, rows = corpus
    out = {
        r["doc_id"]: (r["text"], r["n_spans_removed"], r["n_tokens_dropped"])
        for r in strip_duplicate_spans(df, min_len=10).collect()
    }
    exp = _bf_strip(rows, 10)
    assert out == exp
    # untouched docs round-trip byte-identically (odd whitespace preserved)
    orig = dict(rows)
    for d in (901, 902):
        assert out[d] == (orig[d], 0, 0)
    assert out[900] == ("", 0, 0)  # NULL text contract
    # exactly one copy of the planted passage survives corpus-wide
    survivors = [d for d, (t, _, _) in out.items() if PASSAGE in (t or "")]
    assert len(survivors) == 1
    # ... and it is the canonical (smallest doc_id) planted occurrence
    assert survivors[0] == min(
        d for d, t in rows if t is not None and PASSAGE in t
    )


def test_keep_none_removes_every_copy(corpus):
    df, rows = corpus
    out = strip_duplicate_spans(df, min_len=10, keep="none")
    assert not any(
        PASSAGE in (r["text"] or "") for r in out.collect()
    )


def test_partitioning_invariance(corpus):
    df, _ = corpus
    a = _span_set(duplicate_spans(df, min_len=10))
    b = _span_set(duplicate_spans(df.repartition(13), min_len=10))
    assert a == b


def test_validation(corpus):
    from anomalyzer_spark.functions.dedup import duplicate_spans_from_gram_stats

    df, _ = corpus
    # the store path takes the same arguments and checks them the same way
    for spans in (duplicate_spans,
                  lambda d, **kw: duplicate_spans_from_gram_stats(d, d, **kw)):
        with pytest.raises(ValueError, match="scope"):
            spans(df, scope="nope")
        with pytest.raises(ValueError, match="keep"):
            spans(df, keep="nope")
        with pytest.raises(ValueError, match="min_len"):
            spans(df, min_len=1)


def test_plan_two_exchanges(spark, sf_dir):
    # contract from the docstring: one exchange on the gram hash, one on
    # (id, kind); the span groupBy rides the second window's partitioning
    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = duplicate_spans(df, min_len=10)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 2
    assert plan.count("Scan parquet") == 1


# --- cross-batch gram-store path (round 10) --------------------------------

@pytest.mark.parametrize("scope,keep", [
    ("cross_doc", "canonical"), ("all", "none")])
def test_gram_stats_path_matches_window_path(corpus, scope, keep):
    """duplicate_spans_from_gram_stats over batch-computed gram stats ==
    duplicate_spans — the store-driven finalize step of the streaming
    path is the SAME spans for the same corpus (the stats fields are the
    window pass's aggregates, order-independent by construction)."""
    from anomalyzer_spark.functions.dedup import duplicate_spans_from_gram_stats
    from anomalyzer_spark.streaming.span_stream import span_gram_stream

    df, _ = corpus
    stats = span_gram_stream(df, "text", "doc_id", min_len=10)
    got = _span_set(duplicate_spans_from_gram_stats(
        df, stats, min_len=10, scope=scope, keep=keep))
    want = _span_set(duplicate_spans(df, min_len=10, scope=scope, keep=keep))
    assert got == want and len(got) > 0


def test_strip_spans_with_store_matches_one_call(corpus):
    from anomalyzer_spark.streaming.span_stream import (span_gram_stream,
                                                        strip_spans_with_store)

    df, _ = corpus
    stats = span_gram_stream(df, "text", "doc_id", min_len=10)
    got = sorted(map(tuple, strip_spans_with_store(
        df, stats, min_len=10).collect()))
    want = sorted(map(tuple, strip_duplicate_spans(
        df, min_len=10).collect()))
    assert got == want and len(got) > 0
