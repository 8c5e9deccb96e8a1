"""Lexical corpus retrieval: BM25 top-k document ranking for a set of
queries — the classic keyword-search complement to the embedding-space
ANN operators (``similarity``) and the per-document keyword extraction
of ``text.tfidf_terms``. Typical pipeline uses: retrieval-augmented
dataset construction, eval-set sourcing ("find the corpus documents a
benchmark question could have leaked from" — the lexical pre-filter
``decontam`` runs exact n-grams for), and corpus QA ("what does the
corpus say about X").

Tokenization is ``text.word_tokens`` — the repo-wide lexical spec shared
with ``vocab``/``tfidf_terms``/``text_profile`` — so scores are
consistent with the rest of the text stack and replayable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anomalyzer_spark.functions.text import word_token_count, word_tokens
from anomalyzer_spark.session import materialize as _materialize

__all__ = ["bm25_corpus_stats", "bm25_topk", "hybrid_topk", "rrf_fuse",
           "tokenize_docs"]


def tokenize_docs(
    docs: DataFrame, *, text_col: str = "text",
    tokens_col: str = "tokens",
) -> DataFrame:
    """``docs`` plus a ``tokens_col`` array<string> column under the
    repo-wide lexical spec (``text.word_tokens``) — the persist-once
    recipe for ``bm25_topk(tokens_col=...)``. BM25 scoring CPU is
    tokenizer-dominated (the regex pass, measured in
    tools/scale_sweep.py's bm25 cells); a corpus that outlives its query
    batches writes this column once next to the text (the
    ``bm25_corpus_stats`` precedent: corpus-version metadata, computed
    per version, read per batch) and every subsequent scoring pass skips
    the regex entirely."""
    return docs.withColumn(tokens_col, word_tokens(F.col(text_col)))


def bm25_corpus_stats(
    docs: DataFrame, *, text_col: str = "text",
    tokens_col: str | None = None,
) -> tuple[int, float]:
    """The (n_docs, avgdl) corpus constants ``bm25_topk`` needs — ONE
    map-side-combined aggregate over the corpus, returned as plain
    numbers to persist as corpus-version metadata and pass back via
    ``corpus_stats=`` (skipping the per-query-batch stats scan).
    ``avgdl`` counts ``word_token_count`` tokens — the same lexical spec
    the scorer uses — or ``size(tokens_col)`` when the corpus is
    pre-tokenized (identical by construction). Empty corpus -> (0, 0.0)
    (which ``bm25_topk`` rejects, correctly: BM25 over nothing is
    meaningless)."""
    dl = (F.size(F.col(tokens_col)).cast("double") if tokens_col
          else word_token_count(F.col(text_col)))
    row = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(dl).alias("avgdl"),
    ).first()
    return int(row["n"]), float(row["avgdl"] or 0.0)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_col: str = "query",
    qid_col: str = "query_id",
    materialize: bool = True,
    corpus_stats: tuple[int, float] | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Top-``k`` documents per query by Okapi BM25.

    ``tokens_col``: score a PRE-TOKENIZED corpus (an array<string>
    column written once by ``tokenize_docs`` — same lexical spec) —
    the production lever for tokenizer-dominated scoring CPU: the
    corpus regex pass disappears from EVERY query batch, and with
    ``corpus_stats=`` also set the corpus text column is never read at
    all. Results are identical to the from-text path by construction
    (parity-pinned in tests/test_retrieval.py). Queries always tokenize
    from text — they are the small side.

    Scoring is the Lucene formulation: per shared term ``t``,
    ``idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`` with
    ``idf_t = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))`` — strictly
    positive even for a term in every document. Query terms are
    DISTINCT per query (query term frequency is ignored — the standard
    short-query simplification; repeat a term across queries, not
    within one, if you want to boost it). Documents sharing no term
    with a query simply don't appear. Returns (``<qid_col>``,
    ``<id_col>``, ``score``, ``rnk``) — at most ``k`` rows per query,
    ``score`` rounded to 6, ties broken by ascending document id.

    Plan shape (the 100 TB read): the query frame is assumed SMALL
    (an eval set, not a second corpus) — its distinct terms broadcast,
    so the corpus-side explode is filtered MAP-SIDE to postings of
    query terms only and the full postings list never exists, let
    alone shuffles. The token array is STAGED once per document (its
    own projection) and both ``size`` and ``explode`` read the staged
    attribute — one regex pass per document, not two. Document length
    rides the explode as that map-only ``size`` column (no
    corpus-sized length join later), so the only corpus-keyed exchange
    is the (doc, term) tf aggregate over the FILTERED postings,
    map-side-combined. Document frequency re-aggregates that same
    bounded frame (#query-terms rows) and comes back as a broadcast,
    as do the corpus constants N/avgdl (a one-row map-side-combined
    aggregate — the one remaining second scan leg, map-only and
    column-pruned to ``text``; pass ``corpus_stats=(n_docs, avgdl)``
    to inline persisted corpus metadata and skip that scan entirely —
    the production path when the corpus outlives the query batch). The per-query top-k is one window exchange keyed by
    query with map-side WindowGroupLimit, so no query ships more than
    ``k`` candidates per split. Hot terms (a stopword in a query) are
    hot KEYS with partial aggregation, not hot partitions.

    The filtered tf frame feeds BOTH the scoring join and the
    document-frequency aggregate, and Catalyst gives the two consumers
    no ReusedExchange (they prune different columns — the ``tfidf``
    precedent); unlike ``tfidf``, here the shared frame is BOUNDED
    (docs-containing-query-terms rows, not the corpus), so
    ``materialize=True`` (default) eagerly materializes it (see
    ``session.materialize``) — the LSH-pair-generator precedent — buying
    one fewer corpus scan and one fewer postings shuffle at the cost of
    running the postings job at DataFrame-build time. Pass
    ``materialize=False`` for a lazy, plan-only frame. DuckDB value
    parity in tests/test_retrieval.py.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if k1 < 0 or not 0.0 <= b <= 1.0:
        raise ValueError("need k1 >= 0 and 0 <= b <= 1")
    qterms = queries.select(
        F.col(qid_col),
        F.explode(F.array_distinct(
            word_tokens(F.col(query_col)))).alias("token"))
    qtokens = qterms.select("token").distinct()
    # Stage the token array ONCE per row (its own projection), then derive
    # BOTH size() and explode() from the staged attribute. CollapseProject
    # will not inline a non-cheap expression (regexp_extract_all) used by
    # two consumers, so the regex runs once per document instead of twice
    # — the r9 verdict's triple-tokenization fix; plan-pinned below.
    # explode_OUTER, not explode: InferFiltersFromGenerate would add a
    # size(_toks)>0 filter to a plain explode and push it BELOW the
    # staging projection, re-evaluating the regex per row in the Filter
    # (measured). The rule skips outer generators, and the null-token
    # rows an outer explode emits for empty docs are dropped by the
    # inner join on token — same output, one regex per document.
    staged = docs.select(
        F.col(id_col),
        (F.col(tokens_col) if tokens_col
         else word_tokens(F.col(text_col))).alias("_toks"))
    postings = (
        staged.select(
            F.col(id_col),
            F.size("_toks").alias("dl"),
            F.explode_outer("_toks").alias("token"))
        .join(F.broadcast(qtokens), "token")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    if materialize:
        postings = _materialize(postings, reason="bm25_topk.postings")
    # Corpus constants: the one unavoidable second scan leg (map-only,
    # column-pruned to text, one tokenization per row). At production
    # scale N/avgdl are corpus METADATA — recomputed once per corpus
    # version, not per query batch — so callers pass corpus_stats to
    # skip this scan entirely (the drift_psi persisted-profile
    # precedent); bm25_corpus_stats is the recomputation recipe.
    if corpus_stats is not None:
        n_docs, avgdl = corpus_stats
        if n_docs < 1 or avgdl <= 0:
            raise ValueError("corpus_stats needs n_docs >= 1, avgdl > 0")
        stats = docs.sparkSession.range(1).select(
            F.lit(int(n_docs)).cast("long").alias("_n"),
            F.lit(float(avgdl)).alias("_avgdl"),
            F.lit(1).alias("_j"))
    else:
        dl = (F.size(F.col(tokens_col)).cast("double") if tokens_col
              else word_token_count(F.col(text_col)))
        stats = docs.select(
            F.count(F.lit(1)).alias("_n"),
            F.avg(dl).alias("_avgdl"),
        ).withColumn("_j", F.lit(1))
    dfreq = postings.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq"))
    scored = (
        postings
        .join(F.broadcast(dfreq), "token")
        .withColumn("_j", F.lit(1))
        .join(F.broadcast(stats), "_j")
        .withColumn(
            "_idf",
            F.log(1.0 + (F.col("_n") - F.col("doc_freq") + 0.5)
                  / (F.col("doc_freq") + 0.5)))
        .withColumn(
            "_term_score",
            F.col("_idf") * F.col("tf") * (k1 + 1)
            / (F.col("tf")
               + k1 * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))))
        .join(F.broadcast(qterms), "token")
        .groupBy(qid_col, id_col)
        .agg(F.round(F.sum("_term_score"), 6).alias("score"))
    )
    w = (Window.partitionBy(qid_col)
         .orderBy(F.col("score").desc(), F.col(id_col).asc()))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(qid_col, id_col, "score", "rnk")
    )


def rrf_fuse(
    ranked: list[tuple[DataFrame, float]] | list[DataFrame],
    *,
    k: int = 10,
    k_rrf: int = 60,
    qid_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rnk",
) -> DataFrame:
    """Reciprocal-rank fusion of N per-query ranked lists — the standard
    hybrid-retrieval combiner (Cormack et al. 2009): a document's fused
    score is ``sum over lists of  weight / (k_rrf + rank)``, with a list
    that didn't retrieve the document contributing 0. Rank-based fusion
    needs no score calibration, which is the point — BM25 scores and
    cosine similarities live on incomparable scales.

    ``ranked``: DataFrames each carrying (``qid_col``, ``id_col``,
    ``rank_col`` with ranks 1..k_list), optionally as (df, weight)
    pairs (plain list ⇒ all weights 1.0). Column names must already
    agree — callers rename (see ``hybrid_topk`` for the bm25 ⊕ cosine
    composition). Returns (``qid_col``, ``id_col``, ``rrf_score``
    rounded to 6, ``rnk`` 1..k per query), ordered by fused score desc,
    document id asc on ties.

    Plan shape (the 100 TB read): fusion consumes retrieval OUTPUTS —
    at most ``n_queries × k_list`` rows per input, already capped by the
    upstream top-k operators — never corpora. The union → (query, doc)
    sum → per-query top-k window all move bounded frames; the corpus
    never re-enters. Weights ride as literals, so the whole fuse is one
    partial-aggregated exchange plus the map-side-limited ranking
    window (WindowGroupLimit)."""
    if k < 1 or k_rrf < 0:
        raise ValueError("need k >= 1 and k_rrf >= 0")
    if not ranked:
        raise ValueError("need at least one ranked list")
    pairs = [r if isinstance(r, tuple) else (r, 1.0) for r in ranked]
    legs = []
    for df, weight in pairs:
        legs.append(df.select(
            F.col(qid_col), F.col(id_col),
            (F.lit(float(weight))
             / (F.lit(int(k_rrf)) + F.col(rank_col))).alias("_contrib")))
    allc = legs[0]
    for leg in legs[1:]:
        allc = allc.unionByName(leg)
    fused = allc.groupBy(qid_col, id_col).agg(
        F.round(F.sum("_contrib"), 6).alias("rrf_score"))
    w = (Window.partitionBy(qid_col)
         .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc()))
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(qid_col, id_col, "rrf_score", "rnk")
    )


def hybrid_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    k_rrf: int = 60,
    fetch_k: int | None = None,
    lexical_weight: float = 1.0,
    vector_weight: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "query_id",
    query_col: str = "query",
    query_vec_col: str = "query_vec",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_stats: tuple[int, float] | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """Hybrid lexical + vector retrieval: BM25 top-``fetch_k`` and exact
    cosine top-``fetch_k`` per query, fused by weighted RRF to a final
    top-``k``. ``queries`` carries BOTH representations per row:
    (``qid_col``, ``query_col`` text, ``query_vec_col`` array<float>).
    ``embeddings`` keys ``vec_id_col`` to ``docs``'s ``id_col`` (the
    fixture convention). ``fetch_k`` defaults to ``4 * k`` — the usual
    over-fetch so a document ranked just outside one list's top-k can
    still win on the other list.

    Both legs keep their own scale paths: ``corpus_stats=``/
    ``tokens_col=`` flow to BM25 (persisted-metadata recipe), and the
    cosine leg is the exact baseline — swap in ``ivf_topk``/
    ``search_ivfpq_index`` output and fuse with ``rrf_fuse`` directly
    when the corpus is indexed (any frame with the same three columns
    fuses; this wrapper is the zero-setup composition). Fusion cost is
    bounded by ``n_queries × fetch_k`` rows per leg regardless of
    corpus size."""
    from anomalyzer_spark.functions.similarity import cosine_topk

    fetch_k = int(fetch_k) if fetch_k is not None else 4 * k
    if fetch_k < k:
        raise ValueError("fetch_k must be >= k")
    lex = bm25_topk(
        docs, queries, k=fetch_k, text_col=text_col, id_col=id_col,
        query_col=query_col, qid_col=qid_col,
        corpus_stats=corpus_stats, tokens_col=tokens_col,
    ).select(F.col(qid_col), F.col(id_col), F.col("rnk"))
    # cosine_topk reads the query vectors through the CORPUS vec_col name
    # and broadcasts the query side; rename so both legs emit
    # (qid, doc, rnk) for the fuse.
    qvec = queries.select(F.col(qid_col),
                          F.col(query_vec_col).alias(vec_col))
    vec = cosine_topk(
        embeddings, qvec,
        id_col=vec_id_col, vec_col=vec_col, query_id_col=qid_col,
        k=fetch_k,
    ).select(F.col("query_id").alias(qid_col),
             F.col("neighbor_id").alias(id_col), F.col("rnk"))
    return rrf_fuse(
        [(lex, lexical_weight), (vec, vector_weight)],
        k=k, k_rrf=k_rrf, qid_col=qid_col, id_col=id_col,
    )
