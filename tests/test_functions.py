"""Unit tests for the LLM-pipeline operator modules (dedup, similarity,
text, multimodal, asof) on small hand-built frames."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anomalyzer_spark.functions import dedup, multimodal, similarity, text
from anomalyzer_spark.operators.asof import asof_join


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, "The quick brown fox jumps over the lazy cat"),
        (2, "the quick  brown FOX jumps over the lazy dog!"),  # norm-dup of 0
        (3, "Entirely different content about Spark engines"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_shingles_semantics(spark):
    df = spark.createDataFrame([(0, "a b c d"), (1, "a b"), (2, "x")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", dedup.word_shingles(F.col("text"), 3).alias("sh")).collect()}
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == ["a b"]   # short doc → whole sequence as one shingle
    assert got[2] == ["x"]


def test_exact_dedup_groups(spark, docs):
    out = {r["doc_id"]: r for r in
           dedup.exact_dedup(docs, "text", "doc_id").collect()}
    assert out[0]["canonical_id"] == 0 and not out[0]["is_duplicate"]
    assert out[2]["canonical_id"] == 0 and out[2]["is_duplicate"]
    assert out[2]["group_size"] == 2
    assert not out[3]["is_duplicate"]


def test_exact_dedup_duckdb_parity(spark, sf_dir):
    """The retired round-9 registry slot's oracle, VERBATIM (slot rotated
    to bm25 — see q_bm25's docstring for the shadowing argument): the
    per-document rendering (content_hash, group_size, canonical_id,
    is_duplicate) hash-matches the DuckDB replay on the fixture corpus."""
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(map(tuple, dedup.exact_dedup(
        docs, "text", "doc_id").collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    norm = ("trim(regexp_replace(regexp_replace(lower(text),"
            "'[^a-z0-9]+',' ','g'),'\\s+',' ','g'))")
    want = sorted(map(tuple, con.execute(f"""
WITH hashed AS (SELECT doc_id, md5({norm}) AS content_hash FROM documents),
groups AS (
  SELECT content_hash, count(*) AS group_size, min(doc_id) AS canonical_id
  FROM hashed GROUP BY content_hash)
SELECT h.doc_id, h.content_hash, g.group_size, g.canonical_id,
       h.doc_id != g.canonical_id AS is_duplicate
FROM hashed h JOIN groups g USING (content_hash)""").fetchall()))
    assert got == want and len(got) > 0


def test_ngram_jaccard_exact_values(spark, docs):
    out = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                    k=3, threshold=0.2).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs[(0, 2)] == 1.0          # normalized duplicates
    # docs 0/1 share 5 of their 7-shingle sets minus the differing tail
    assert (0, 1) in pairs and 0.5 < pairs[(0, 1)] < 1.0
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_hot_shingle_filtered_pre_agg(spark):
    """Shingles above max_shingle_freq must be excluded BEFORE the
    per-shingle aggregation: (a) pairs connected ONLY through a hot
    shingle disappear, (b) the plan's collect_list aggregate sits above
    the spill-safe window-count frequency filter, so no hot doc-list
    buffer can form — and the filter shares the aggregate's exchange
    (one shuffle total on shingle)."""
    from anomalyzer_spark.plans import count_exchanges, explain_str
    # 5 docs all share shingle "x y z" (df=5 > cap=4); docs 0/1 also share
    # a rare tail
    rows = [(i, f"x y z unique{i} tail{i} more{i}") for i in range(5)]
    rows[1] = (1, "x y z unique0 tail0 different")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(df, "text", "doc_id", k=3,
                                       threshold=0.01, max_shingle_freq=4)
    plan = explain_str(capped)  # BEFORE collect: AQE rewrites executed plans
    got = {(r["id_a"], r["id_b"]): r["n_common"] for r in capped.collect()}
    # hot-shingle-only pairs (e.g. (2,3)) are gone; 0/1 keep rare overlap
    assert (0, 1) in got and all(p == (0, 1) for p in got)
    # n_common counts only surviving shingles
    uncapped = {(r["id_a"], r["id_b"]): r["n_common"]
                for r in dedup.ngram_jaccard_pairs(
                    df, "text", "doc_id", k=3, threshold=0.01,
                    max_shingle_freq=None).collect()}
    assert uncapped[(0, 1)] == got[(0, 1)] + 1  # + the hot "x y z"
    # plan order: the window-count filter sits BELOW the collect_list
    # aggregate (formatted explain numbers nodes bottom-up: lower id =
    # deeper) and adds NO second exchange — both ride the shingle shuffle
    import re
    blocks = re.split(r"^(?=\(\d+\) )", plan, flags=re.MULTILINE)
    agg_ids, win_ids = [], []
    for b in blocks:
        m = re.match(r"\((\d+)\) (\S+)", b)
        if not m:
            continue
        if "Aggregate" in m.group(2) and "collect_list" in b:
            agg_ids.append(int(m.group(1)))
        if m.group(2) == "Window":
            win_ids.append(int(m.group(1)))
    assert agg_ids and win_ids
    assert min(win_ids) < min(agg_ids)  # the frequency filter is deeper
    # one exchange for shingle work (+1 for the final pair groupBy)
    assert count_exchanges(plan) <= 2


def test_repetition_stats_hand_values(spark):
    df = spark.createDataFrame(
        [(0, "spam spam spam spam"),       # maximal repetition
         (1, "all words here differ"),     # no repetition
         (2, "x"), (3, "")],               # degenerate sizes
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           text.repetition_stats(df, "text", "doc_id").collect()}
    assert got[0]["n_words"] == 4 and got[0]["n_grams"] == 3
    assert got[0]["dup_word_frac"] == 0.75       # 1 unique of 4
    assert got[0]["dup_gram_frac"] == pytest.approx(2 / 3)
    assert got[0]["top_gram_share"] == 1.0       # "spam spam" is every gram
    assert got[1]["dup_word_frac"] == 0.0
    assert got[1]["dup_gram_frac"] == 0.0 and got[1]["top_gram_share"] > 0
    assert got[2]["n_grams"] == 0 and got[2]["top_gram_share"] == 0.0
    assert got[3]["n_words"] == 0 and got[3]["dup_word_frac"] == 0.0


def test_dedup_paragraphs_planted_boilerplate(spark):
    """Shared banner/footer paragraphs vanish from every document; unique
    content survives byte-identically; an all-boilerplate document comes
    back as empty text; NULL text doesn't vanish; empty spans (blank
    lines) are structure — kept in place, never counted."""
    banner = "ACCEPT COOKIES TO CONTINUE"
    footer = "(c) 2026 example.com all rights reserved"
    rows = [
        (0, f"{banner}\nalpha body one\n\nmore alpha\n{footer}"),
        (1, f"{banner}\nbeta body two\n{footer}"),
        (2, f"{banner}\n{footer}"),     # pure boilerplate
        (3, "gamma only unique text"),  # clean: must round-trip exactly
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dedup.dedup_paragraphs(df, max_df=2).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert got[0]["text"] == "alpha body one\n\nmore alpha"
    assert got[0]["n_paragraphs"] == 4 and got[0]["n_dropped"] == 2
    assert got[1]["text"] == "beta body two"
    assert got[2]["text"] == "" and got[2]["n_dropped"] == 2
    assert got[3]["text"] == "gamma only unique text"
    assert got[3]["n_dropped"] == 0
    assert got[4]["text"] == "" and got[4]["n_paragraphs"] == 0
    # max_df above the banner's df keeps everything
    clean = {r["doc_id"]: r["text"]
             for r in dedup.dedup_paragraphs(df, max_df=4).collect()}
    assert clean[0] == rows[0][1]
    with pytest.raises(ValueError, match="max_df"):
        dedup.dedup_paragraphs(df, max_df=0)


def test_dedup_paragraphs_identity_on_unique_corpus(spark, sf_dir):
    """Invariant: when no paragraph repeats across documents (fixture
    sentences are unique), every document round-trips byte-identically
    with zero drops — the operator is a no-op exactly when it should be."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").limit(60))
    got = {r["doc_id"]: (r["text"], r["n_dropped"])
           for r in dedup.dedup_paragraphs(docs, max_df=2,
                                           sep=". ").collect()}
    want = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(got) == len(want)
    for did, (txt, dropped) in got.items():
        assert dropped == 0 and txt == want[did]


def test_dedup_paragraphs_duckdb_parity(spark, sf_dir):
    """Sentence-separated fixture text through both engines (sep '. ' is
    a LITERAL, exercising the regex-escape contract): identical rebuilt
    texts and counts."""
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        # plant per-source boilerplate (fixture sentences are unique
        # across docs, so without this the pass would match trivially
        # with zero drops): every doc gains its source's footer sentence
        F.concat(F.col("text"), F.lit(". footer for "), F.col("source"),
                 F.lit(" site")).alias("text"))
    got = sorted(
        (r["doc_id"], r["text"], r["n_paragraphs"], r["n_dropped"])
        for r in dedup.dedup_paragraphs(
            docs, max_df=2, sep=". ").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    want = con.execute("""
WITH d AS (SELECT doc_id,
             text || '. footer for ' || source || ' site' AS text
           FROM documents),
ex AS (
  SELECT doc_id, u.pos, u.para,
         CASE WHEN u.para <> '' THEN md5(u.para) END AS h
  FROM (SELECT doc_id, string_split(text, '. ') AS ps FROM d),
       unnest(list_transform(range(1, len(ps) + 1),
              i -> struct_pack(pos := i, para := ps[i]))) AS t(u)),
freq AS (
  SELECT h, count(*) AS df FROM (
    SELECT DISTINCT doc_id, h FROM ex WHERE h IS NOT NULL)
  GROUP BY h HAVING count(*) >= 2),
m AS (SELECT ex.*, freq.df FROM ex LEFT JOIN freq USING (h))
SELECT doc_id,
  coalesce(array_to_string(list_transform(
    list_sort(list(struct_pack(pos := pos, para := para))
              FILTER (WHERE df IS NULL)),
    s -> s.para), '. '), '') AS text,
  count(*) FILTER (WHERE h IS NOT NULL) AS n_paragraphs,
  count(*) FILTER (WHERE df IS NOT NULL) AS n_dropped
FROM m GROUP BY doc_id ORDER BY doc_id""").fetchall()
    assert len(got) == len(want) > 0
    assert got == [tuple(w) for w in want]
    # the pass did real work on the fixtures
    assert any(g[3] > 0 for g in got)


def test_cdc_chunks_survive_prefix_insertion(spark):
    """The content-defined property: prepending text to a document shifts
    every byte offset, yet most chunk hashes must SURVIVE (boundaries are
    content-anchored) — a fixed-size chunker would lose them all."""
    base = " ".join(f"word{i} token{i*7%13} filler{i%5}" for i in range(120))
    df = spark.createDataFrame(
        [(0, base), (1, "A COMPLETELY NEW PREFIX INSERTED HERE. " + base)],
        "doc_id long, text string")
    ch = dedup.cdc_chunks(df, "text", "doc_id", window=16, divisor=64)
    rows = ch.collect()
    h0 = {r["chunk_md5"] for r in rows if r["doc_id"] == 0}
    h1 = {r["chunk_md5"] for r in rows if r["doc_id"] == 1}
    assert len(h0) >= 5  # base doc actually chunks
    shared = len(h0 & h1)
    assert shared >= 0.7 * len(h0), (shared, len(h0))
    # chunks tile the doc exactly
    import collections
    lens = collections.defaultdict(int)
    for r in rows:
        lens[r["doc_id"]] += r["chunk_len"]
    assert lens[0] == len(base) and lens[1] == len(base) + 39


def test_duplicate_groups_components_and_singletons(spark):
    corpus = spark.createDataFrame(
        [(i,) for i in range(20)], "doc_id long")
    # two components: chain 0-1-2-3 and pair 10-11; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    out = {r["doc_id"]: (r["group_id"], r["group_size"])
           for r in dedup.duplicate_groups(corpus, pairs).collect()}
    assert all(out[i] == (0, 4) for i in range(4))
    assert out[10] == (10, 2) and out[11] == (10, 2)
    assert out[7] == (7, 1)  # singleton keeps its own id
    assert len(out) == 20


def test_duplicate_groups_propagation_scales_with_edges(spark):
    """The propagation loop must only ever hold EDGE-TOUCHED nodes — its
    per-round shuffles scale with |edges|, not the corpus."""
    from anomalyzer_spark.functions.dedup import _propagate_labels
    pairs = spark.createDataFrame([(3, 4), (4, 5)], "id_a long, id_b long")
    edges = (pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
             .unionByName(pairs.select(F.col("id_b").alias("src"),
                                       F.col("id_a").alias("dst"))))
    labels = _propagate_labels(edges, 20)
    assert labels.count() == 3  # nodes 3,4,5 — never the corpus


def test_duplicate_groups_deep_chain_pointer_jumping(spark):
    """A 64-deep chain converges well within max_iterations thanks to the
    pointer-jump shortcut (plain propagation would need 64 rounds)."""
    import warnings
    corpus = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # warn would raise
        out = dedup.duplicate_groups(corpus, pairs, max_iterations=10,
                                     driver_threshold=0)  # force the loop
        assert {r["group_id"] for r in out.collect()} == {0}


def test_duplicate_groups_nonconvergence_warns(spark):
    import warnings
    corpus = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.duplicate_groups(corpus, pairs, max_iterations=2,
                               driver_threshold=0).collect()
        assert any("did not converge" in str(x.message) for x in w)


@pytest.mark.slow
def test_duplicate_groups_driver_path_equals_loop(spark):
    """The small-graph union-find shortcut and the distributed
    label-propagation loop resolve IDENTICAL (id, group_id, group_size)
    rows — chains, merged stars, singletons."""
    rng = np.random.default_rng(31)
    corpus = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 150, (80, 2))
             if a != b]
    edges += [(i, i + 1) for i in range(160, 175)]          # a chain
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = sorted(map(tuple, dedup.duplicate_groups(
        corpus, pairs).collect()))
    loop = sorted(map(tuple, dedup.duplicate_groups(
        corpus, pairs, driver_threshold=0).collect()))
    assert fast == loop and len(fast) == 200


def test_minhash_finds_near_dups(spark, docs):
    out = dedup.minhash_lsh_pairs(docs, "text", "doc_id", k=3,
                                  num_hashes=128, bands=32,
                                  threshold=0.2).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 2) in got  # exact dup always collides in every band
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert jac[(0, 2)] == 1.0


def test_simhash_similar_docs_close(spark, docs):
    rows = {r["doc_id"]: r["simhash"] for r in
            dedup.simhash(docs, "text", "doc_id").collect()}
    assert rows[0] == rows[2]  # identical normalized text → identical hash
    ham = bin(rows[0] ^ rows[1]).count("1")
    assert ham <= 10  # near-dup → small Hamming distance
    far = bin(rows[0] ^ rows[3]).count("1")
    assert far > ham


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((30, 8)).round(3)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    out = similarity.cosine_topk(df, df.where(F.col("vec_id") < 3), k=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rnk"], r["neighbor_id"]))
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    for q in range(3):
        order = sorted(range(30), key=lambda j: (-sims[q, j], j))[:4]
        assert [n for _, n in sorted(got[q])] == order


def test_lsh_topk_subset_of_exact_ranking(spark):
    rng = np.random.default_rng(4)
    vecs = rng.standard_normal((50, 16))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 2)
    approx = similarity.lsh_topk(df, q, k=5, n_planes=8, bands=4, dim=16)
    # every returned neighbor carries its TRUE cosine, ranked consistently
    for r in approx.collect():
        a, b = vecs[r["query_id"]], vecs[r["neighbor_id"]]
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert r["cos_sim"] == pytest.approx(true_cos, abs=1e-9)


def test_ivf_topk_recall_on_clustered_data(spark):
    """IVF must achieve high recall@k when the data is genuinely clustered
    (each query's true neighbors live in its probed cells)."""
    rng = np.random.default_rng(8)
    centers = rng.standard_normal((6, 16)) * 10
    vecs = np.concatenate([
        c + rng.standard_normal((40, 16)) for c in centers])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id").isin([0, 40, 80]))
    approx = similarity.ivf_topk(df, q, k=5, n_clusters=6, n_probe=2, seed=1)
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norms @ norms.T
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in (0, 40, 80):
        true = set(sorted(range(len(vecs)),
                          key=lambda j: (-sims[qid, j], j))[:5])
        hits += len(true & got.get(qid, set()))
        total += 5
    assert hits / total >= 0.8


def test_winnow_shared_fragment_shares_fingerprint(spark):
    """Winnowing guarantee: a shared substring of length >= w+k-1 yields at
    least one common fingerprint."""
    from anomalyzer_spark.functions.text import winnow_fingerprints
    shared = "the identical stolen paragraph lives here"
    df = spark.createDataFrame(
        [(0, "intro text. " + shared + " more content."),
         (1, "completely other start. " + shared + " different end."),
         (2, "nothing in common with those two documents at all")],
        "doc_id long, text string")
    out = {r["doc_id"]: set(r["fingerprints"]) for r in
           winnow_fingerprints(df, "text", "doc_id", k=8, window=4).collect()}
    assert out[0] & out[1], "shared fragment must share a fingerprint"
    assert not (out[0] & out[1] & out[2])


def test_text_stats_hand_values(spark):
    df = spark.createDataFrame(
        [(0, "The cat sat."), (1, ""), (2, "123 456!!!")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.text_stats(df, "text", "doc_id").collect()}
    assert out[0]["n_tokens"] == 3
    assert out[0]["n_words"] == 3
    assert out[0]["stopword_ratio"] == pytest.approx(1 / 3)
    assert out[1]["n_chars"] == 0 and out[1]["quality_score"] == 0.2
    assert out[2]["n_words"] == 0 and out[2]["digit_ratio"] == 0.6


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the dog of the house"),
         (1, "el gato y la casa de los perros"),
         (2, "der Hund und die Katze ist nicht da"),
         (3, "xyzzy")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"] for r in
           text.lang_id(df, "text", "doc_id").collect()}
    assert out[0] == "en" and out[1] == "es" and out[2] == "de"
    assert out[3] == "de"  # all-zero scores → deterministic first language


def test_multimodal_roundtrip(spark, docs):
    wp = multimodal.attach_payload(docs, "text", "doc_id")
    meta = {r["doc_id"]: r for r in
            multimodal.payload_meta(wp, "content", "doc_id").collect()}
    assert meta[0]["n_bytes"] == len("The quick brown fox jumps over the lazy dog")
    assert meta[4]["n_bytes"] == 0
    feats = {r["doc_id"]: r for r in
             multimodal.byte_features(wp, "content", "doc_id").collect()}
    b = np.frombuffer(b"The quick brown fox jumps over the lazy dog", np.uint8)
    assert feats[0]["byte_mean"] == pytest.approx(b.mean(), abs=1e-6)
    assert feats[4]["byte_entropy"] == 0.0
    frames = multimodal.frame_sample(wp, "content", "doc_id", n_frames=4)
    f0 = sorted((r["frame_idx"], bytes(r["frame"])) for r in
                frames.where(F.col("doc_id") == 0).collect())
    assert b"".join(x for _, x in f0).startswith(b"The quick")


def test_multimodal_decode_stub():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(None)


def _ppm_bytes(w, h, px):
    """Assemble a binary P6 with a comment in the header (grammar check)."""
    return (f"P6\n# test comment\n{w} {h}\n255\n".encode()
            + bytes(np.asarray(px, np.uint8).ravel()))


def _bmp_bytes(w, h, rgb, top_down=False):
    """Assemble an uncompressed 24-bit BMP (BGR rows, 4-byte padded,
    bottom-up unless top_down)."""
    stride = (w * 3 + 3) // 4 * 4
    hdr_h = -h if top_down else h
    header = (b"BM" + (54 + stride * h).to_bytes(4, "little") + b"\0" * 4
              + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
              + w.to_bytes(4, "little", signed=True)
              + hdr_h.to_bytes(4, "little", signed=True)
              + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
              + (0).to_bytes(4, "little") + b"\0" * 20)
    a = np.asarray(rgb, np.uint8)
    rows = a if top_down else a[::-1]
    body = b"".join(
        bytes(rows[r][:, ::-1].ravel()) + b"\0" * (stride - w * 3)
        for r in range(h))
    return header + body


def test_decode_image_raw_real_formats(spark):
    """Library-free decode: PPM/PGM/BMP payloads decode to the exact
    luma/resample spec; corrupt and unsupported payloads surface as err
    rows, never task failures."""
    rgb = [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]]
    pgm = b"P5\n2 2\n255\n" + bytes([0, 64, 128, 255])
    rows = [
        (0, bytearray(_ppm_bytes(2, 2, rgb))),
        (1, bytearray(pgm)),
        (2, bytearray(_bmp_bytes(2, 2, rgb))),
        (3, bytearray(_bmp_bytes(2, 2, rgb, top_down=True))),
        (4, bytearray(b"P6\n2 2\n255\n\xff")),       # truncated
        (5, bytearray(b"\x89PNG garbage")),          # needs PIL path
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r["doc_id"]: r for r in
           multimodal.decode_image_raw(df, size=(2, 2)).collect()}
    # exact rational luma: (299R + 587G + 114B) / (1000 * 255)
    want_rgb = [299 / 255000 * 255, 587 / 255000 * 255,
                114 / 255000 * 255, 1.0]
    for did in (0, 2, 3):  # PPM, bottom-up BMP, top-down BMP agree
        assert got[did]["width"] == 2 and got[did]["height"] == 2
        assert got[did]["pixels"] == pytest.approx(want_rgb, abs=0)
    assert got[1]["pixels"] == pytest.approx(
        [0.0, 64 / 255, 128 / 255, 1.0], abs=0)
    assert got[4]["pixels"] is None and "truncated" in got[4]["err"]
    assert got[5]["pixels"] is None and "fallback_decoder" in got[5]["err"]
    # magic sniff tags the raw formats
    fmts = {r["doc_id"]: r["format"] for r in
            multimodal.payload_meta(df).collect()}
    assert (fmts[0], fmts[1], fmts[2]) == ("ppm", "pgm", "bmp")


def _wav_bytes(samples, rate=8000, bits=16, channels=1):
    """Assemble a RIFF/WAVE integer-PCM payload (with a junk LIST chunk
    before data to exercise chunk walking)."""
    a = np.asarray(samples)
    if bits == 16:
        body = bytes(np.round(a * 32768).clip(-32768, 32767)
                     .astype("<i2").tobytes())
    elif bits == 8:
        body = bytes(np.round(a * 128 + 128).clip(0, 255)
                     .astype(np.uint8).tobytes())
    else:
        body = bytes(np.round(a * 2147483648).clip(-2**31, 2**31 - 1)
                     .astype("<i4").tobytes())
    blk = channels * bits // 8
    fmt = ((1).to_bytes(2, "little") + channels.to_bytes(2, "little")
           + rate.to_bytes(4, "little")
           + (rate * blk).to_bytes(4, "little")
           + blk.to_bytes(2, "little") + bits.to_bytes(2, "little"))
    junk = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    chunks = (b"fmt " + len(fmt).to_bytes(4, "little") + fmt + junk
              + b"data" + len(body).to_bytes(4, "little") + body)
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_decode_audio_features_real_wav(spark):
    """Library-free WAV decode: a known sine + a clipped square + an
    8-bit silence give exact sample-rate/duration and the documented
    feature definitions; corrupt payloads surface as err rows."""
    t = np.arange(8000) / 8000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    square = np.where(np.sin(2 * np.pi * 100 * t) >= 0, 1.0, -1.0)
    rows = [
        (0, bytearray(_wav_bytes(sine))),
        (1, bytearray(_wav_bytes(square))),
        (2, bytearray(_wav_bytes(np.zeros(100), bits=8))),
        (3, bytearray(b"RIFFxxxxWAVEdata")),   # truncated garbage
        (4, bytearray(b"\xff\xd8\xffnot audio")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r["doc_id"]: r for r in
           multimodal.decode_audio_features(df).collect()}
    s = got[0]
    assert (s["sample_rate"], s["n_samples"], s["n_channels"]) == (8000, 8000, 1)
    assert s["duration_s"] == 1.0 and s["err"] is None
    assert s["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=1e-3)
    assert s["clip_fraction"] == 0.0
    # 440 Hz sine crosses zero ~880 times/s
    assert s["zero_cross_rate"] == pytest.approx(880 / 7999, rel=0.01)
    q = got[1]
    assert q["clip_fraction"] > 0.4 and q["peak"] >= 0.999
    assert got[2]["rms"] == 0.0 and got[2]["sample_rate"] == 8000
    assert got[3]["err"] is not None and got[4]["err"] is not None
    # stereo path: channel-mean of out-of-phase channels is silence but
    # clip counts both channels
    stereo = np.stack([square, -square], axis=1).ravel()
    sdf = spark.createDataFrame(
        [(9, bytearray(_wav_bytes(stereo, channels=2)))],
        "doc_id long, content binary")
    st = multimodal.decode_audio_features(sdf).collect()[0]
    # int16 full scale is asymmetric (+1.0 -> 32767/32768), so the
    # out-of-phase mean is ~1.5e-5, not exactly 0
    assert st["n_channels"] == 2 and st["rms"] < 1e-4
    assert st["clip_fraction"] > 0.4


def _avi_bytes(frames):
    """Minimal RIFF/AVI: hdrl LIST stub + movi LIST of 00dc chunks
    (odd-length frames exercise the 2-byte alignment rule)."""
    def chunk(cid, body):
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\0" if len(body) & 1 else b"")

    hdrl = b"LIST" + (4).to_bytes(4, "little") + b"hdrl"
    movi_body = b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
    movi = b"LIST" + len(movi_body).to_bytes(4, "little") + movi_body
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_frame_sample_real_avi_demux(spark):
    """AVI payloads are REALLY demuxed: evenly spaced true frames with
    their in-video indexes, byte-exact, odd-length alignment handled;
    non-AVI payloads keep the documented byte-window fallback."""
    frames = [bytes([i]) * (5 + i % 2) for i in range(10)]  # odd lengths
    avi = _avi_bytes(frames)
    df = spark.createDataFrame(
        [(0, bytearray(avi)), (1, bytearray(b"plain text payload"))],
        "doc_id long, content binary")
    got = sorted(
        (r["frame_idx"], bytes(r["frame"])) for r in
        multimodal.frame_sample(df, n_frames=4)
        .where(F.col("doc_id") == 0).collect())
    # even spacing over 10 frames at k=4: indexes (2i+1)*10//8
    assert [i for i, _ in got] == [1, 3, 6, 8]
    assert all(b == frames[i] for i, b in got)
    # asking for more frames than exist returns each frame once
    assert (multimodal.frame_sample(df, n_frames=99)
            .where(F.col("doc_id") == 0).count() == 10)
    fallback = multimodal.frame_sample(df, n_frames=4) \
        .where(F.col("doc_id") == 1).collect()
    assert len(fallback) == 4 and bytes(fallback[0]["frame"]).startswith(b"plai")
    # RIFF sniff resolves the container type
    wav = _wav_bytes(np.zeros(10))
    sniff = spark.createDataFrame(
        [(0, bytearray(avi)), (1, bytearray(wav)),
         (2, bytearray(b"RIFF\0\0\0\0JUNK"))],
        "doc_id long, content binary")
    fmts = {r["doc_id"]: r["format"]
            for r in multimodal.payload_meta(sniff).collect()}
    assert fmts == {0: "avi", 1: "wav", 2: "riff"}


def test_decode_image_raw_resample_spec(spark):
    """Nearest-neighbor spec pinned: source index floor((i+0.5)*src/dst),
    checked by downsampling a 4x4 gradient to 2x2."""
    g = np.arange(16, dtype=np.uint8).reshape(4, 4) * 17
    pgm = b"P5\n4 4\n255\n" + bytes(g.ravel())
    df = spark.createDataFrame([(0, bytearray(pgm))],
                               "doc_id long, content binary")
    got = multimodal.decode_image_raw(df, size=(2, 2)).collect()[0]
    idx = ((2 * np.arange(2) + 1) * 4) // 4  # = [1, 3]
    want = (g[idx][:, idx].astype(float) / 255.0).ravel().tolist()
    assert got["pixels"] == pytest.approx(want, abs=0)
    assert got["err"] is None


def test_payload_profile_equals_meta_plus_features(spark, docs):
    """The fused one-pass profile must equal payload_meta ⊕ byte_features
    joined on doc_id, column for column — same values, one Arrow crossing
    and zero joins instead of two payload syntheses plus an exchange."""
    wp = multimodal.attach_payload(docs, "text", "doc_id")
    fused = {r["doc_id"]: r for r in
             multimodal.payload_profile(wp, "content", "doc_id").collect()}
    meta = {r["doc_id"]: r for r in
            multimodal.payload_meta(wp, "content", "doc_id").collect()}
    feats = {r["doc_id"]: r for r in
             multimodal.byte_features(wp, "content", "doc_id").collect()}
    assert set(fused) == set(meta) == set(feats)
    for did, row in fused.items():
        for c in ("n_bytes", "content_md5", "format"):
            assert row[c] == meta[did][c], (did, c)
        for c in ("byte_mean", "byte_std", "byte_entropy"):
            assert row[c] == feats[did][c], (did, c)
    # one-pass shape: no join/exchange in the fused plan
    plan = (multimodal.payload_profile(wp, "content", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Join" not in plan


def test_asof_join_matches_pandas(spark):
    rng = np.random.default_rng(6)
    right = pd.DataFrame({
        "k": rng.integers(0, 3, 40),
        "ts": np.sort(rng.integers(0, 1000, 40)).astype(np.int64),
        "rid": np.arange(40, dtype=np.int64),
        "v": rng.normal(size=40).round(3),
    })
    left = pd.DataFrame({
        "k": rng.integers(0, 3, 25),
        "ts": np.sort(rng.integers(0, 1000, 25)).astype(np.int64),
        "lid": np.arange(25, dtype=np.int64),
    })
    out = asof_join(
        spark.createDataFrame(left), spark.createDataFrame(right),
        on="k", left_ts="ts", right_ts="ts",
        payload_cols=["rid", "v"], tiebreak="rid")
    got = {r["lid"]: (r["asof_rid"], r["asof_v"]) for r in out.collect()}
    exp = pd.merge_asof(
        left.sort_values(["ts", "lid"]), right.sort_values(["ts", "rid"]),
        on="ts", by="k", direction="backward")
    for _, row in exp.iterrows():
        rid = None if pd.isna(row["rid"]) else int(row["rid"])
        assert got[row["lid"]][0] == rid, row["lid"]


def test_asof_join_null_payload_row_atomic(spark):
    """A legitimately-NULL payload value in the latest right row must stay
    NULL — not be back-filled from an older right row — and all payload
    columns must come from the SAME right row."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType)
    rschema = StructType([
        StructField("k", LongType()), StructField("ts", LongType()),
        StructField("rid", LongType()), StructField("v", DoubleType()),
        StructField("s", StringType())])
    right = spark.createDataFrame(
        [(1, 10, 100, 1.5, "old"),
         (1, 20, 200, None, None),   # latest row: v and s are NULL
         (2, 10, 300, None, "x"),
         (2, 30, 400, 4.0, None)],
        rschema)
    left = spark.createDataFrame(
        [(1, 25, 0), (2, 35, 1), (2, 20, 2), (3, 5, 3)],
        StructType([StructField("k", LongType()), StructField("ts", LongType()),
                    StructField("lid", LongType())]))
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload_cols=["rid", "v", "s"], tiebreak="rid")
    got = {r["lid"]: (r["asof_rid"], r["asof_v"], r["asof_s"])
           for r in out.collect()}
    assert got[0] == (200, None, None)   # NULLs NOT back-filled from rid=100
    assert got[1] == (400, 4.0, None)
    assert got[2] == (300, None, "x")
    assert got[3] == (None, None, None)  # no qualifying right row at all


@pytest.mark.slow
def test_cosine_pairs_exact_guard_trips(spark):
    """The exact all-pairs path must refuse corpora larger than
    max_exact_rows so a real corpus can never be cartesian-joined by
    accident (the LSH path is the scale path)."""
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((12, 4))
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="use_lsh=True"):
        similarity.cosine_pairs(df, threshold=0.0, use_lsh=False,
                                max_exact_rows=10)
    # at/below the bound the exact path still works...
    ok = similarity.cosine_pairs(df, threshold=-1.0, use_lsh=False,
                                 max_exact_rows=12)
    assert ok.count() == 12 * 11 // 2
    # ...and the LSH path never probes or refuses
    similarity.cosine_pairs(df, threshold=0.9, use_lsh=True, dim=4,
                            max_exact_rows=1).count()


def test_checkpoint_scope_bounds_serving_loop_storage(spark):
    """A long-lived serving loop over the eager-localCheckpoint pair
    generators must not accumulate checkpoint blocks: each iteration
    wrapped in session.checkpoint_scope returns the session to its
    baseline persistent-RDD set, with identical values every iteration."""
    from anomalyzer_spark.session import _persistent_rdd_ids, checkpoint_scope

    rng = np.random.default_rng(11)
    base = rng.standard_normal((6, 8))
    # 3 planted near-dup clusters of 2
    vecs = np.vstack([base, base + 1e-4])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    baseline = _persistent_rdd_ids(spark)
    results = []
    for _ in range(3):
        with checkpoint_scope(spark):
            pairs = similarity.cosine_pairs(
                df, threshold=0.95, use_lsh=True, dim=8, n_planes=8,
                bands=4, seed=3)
            results.append(sorted(
                (r["id_a"], r["id_b"]) for r in pairs.collect()))
        # subset, not equality: the async ContextCleaner may reclaim
        # OTHER tests' persisted frames between baseline and here — the
        # scope's guarantee is that no NEW checkpoint blocks survive it
        assert _persistent_rdd_ids(spark) <= baseline
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 0
    # pre-existing persisted frames are untouched by the scope
    keep = df.persist()
    keep.count()
    with checkpoint_scope(spark):
        similarity.cosine_pairs(df, threshold=0.95, use_lsh=True, dim=8,
                                n_planes=8, bands=4, seed=3).collect()
    assert keep.count() == 12  # still usable, still persisted
    assert keep.storageLevel.useMemory
    keep.unpersist()


def test_compact_checkpoint_derives_partitions_from_bytes(spark,
                                                          monkeypatch):
    """session.materialize(compact=True) (r16): a small checkpointed
    frame coalesces to a byte-derived partition count (1 here)
    regardless of the input's split count, with values and schema
    untouched; a divisor small enough that the measured size spans it
    keeps >1 partition."""
    from anomalyzer_spark import session

    df = spark.range(0, 4000, 1, 16).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v"))
    assert df.rdd.getNumPartitions() == 16
    out = session.materialize(df, reason="test", compact=True)
    assert out.rdd.getNumPartitions() == 1
    assert out.columns == df.columns
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, df.collect()))
    # a tiny divisor: derived count > 1 but never above the input's
    monkeypatch.setattr(session, "COMPACT_PARTITION_BYTES", 1024)
    out2 = session.materialize(df, reason="test", compact=True)
    n2 = out2.rdd.getNumPartitions()
    assert 1 < n2 <= 16
    assert out2.count() == 4000


def test_compact_checkpoint_logs_unreadable_size(spark, monkeypatch, caplog):
    """When the block manager's storage info cannot be read,
    materialize(compact=True) keeps the inherited partitioning and says
    so on the package logger."""
    from anomalyzer_spark.session import materialize

    real = spark.sparkContext._jsc

    class NoStorageInfo:
        def getCheckpointDir(self):
            return real.sc().getCheckpointDir()

        def getRDDStorageInfo(self):
            raise RuntimeError("storage info unavailable")

    class Jsc:
        def getPersistentRDDs(self):
            return real.getPersistentRDDs()

        def sc(self):
            return NoStorageInfo()

    df = spark.range(0, 400, 1, 4)
    monkeypatch.setattr(spark.sparkContext, "_jsc", Jsc())
    with caplog.at_level("WARNING", logger="anomalyzer_spark"):
        out = materialize(df, reason="test", compact=True)
    monkeypatch.undo()
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 400
    assert any(r.name == "anomalyzer_spark" and "materialize"
               in r.getMessage() for r in caplog.records)


def test_lsh_params_math():
    """collision_prob at the threshold must meet the stated recall for the
    parameters lsh_params returns, and be monotone in similarity."""
    for thr in (0.5, 0.7, 0.9):
        for target in (0.7, 0.9):
            n, b = similarity.lsh_params(thr, target)
            assert n % b == 0 and n <= 256
            assert similarity.collision_prob(thr, n, b) >= target
            assert (similarity.collision_prob(min(thr + 0.05, 0.999), n, b)
                    >= similarity.collision_prob(thr, n, b))
    with pytest.raises(ValueError):
        similarity.lsh_params(0.2, 0.999, max_planes=2)


@pytest.mark.slow
def test_cosine_pairs_target_recall_achieved(spark, sf01_dir):
    """Recall-tunable LSH: cosine_pairs with a stated target_recall must
    achieve at least that recall vs the exact all-pairs baseline — on the
    sf0.01 embeddings at thresholds where the corpus HAS ground truth
    (its max pairwise cosine is ~0.51, so 0.35/0.4)."""
    e = (spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("embedding")))
    # collision_prob is a per-pair probability AT the threshold; over a
    # finite pair sample the empirical mean fluctuates, so the test states
    # 0.95 and asserts the 0.9 the caller actually wants (the binomial
    # 2-sigma margin at ~60 truth pairs is ~0.06).
    for thr in (0.35, 0.4):
        exact = {(r["id_a"], r["id_b"]) for r in similarity.cosine_pairs(
            e, threshold=thr, use_lsh=False).collect()}
        assert exact, f"baseline at {thr} must be non-empty for the check"
        got = {(r["id_a"], r["id_b"]) for r in similarity.cosine_pairs(
            e, threshold=thr, use_lsh=True, dim=64,
            target_recall=0.95).collect()}
        assert not (got - exact), "LSH pairs must verify exactly"
        recall = len(got & exact) / len(exact)
        assert recall >= 0.9, f"recall {recall:.3f} < 0.9 at thr={thr}"


@pytest.mark.slow
def test_cosine_pairs_target_recall_high_sim_planted(spark):
    """The high-similarity regime (0.7/0.9 thresholds): planted near-dup
    pairs (base vector + small noise) must be recovered at the stated
    recall. Covers what the fixture corpus cannot (no pairs above 0.51)."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((60, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v.tolist()))
        noise = rng.standard_normal(64) * 0.05  # E[cos(v, v+noise)] ≈ 0.93
        w = v + noise
        rows.append((2 * i + 1, (w / np.linalg.norm(w)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for thr in (0.7, 0.9):
        exact = {(r["id_a"], r["id_b"]) for r in similarity.cosine_pairs(
            df, threshold=thr, use_lsh=False).collect()}
        assert exact, f"planted baseline at {thr} must be non-empty"
        got = {(r["id_a"], r["id_b"]) for r in similarity.cosine_pairs(
            df, threshold=thr, use_lsh=True, dim=64,
            target_recall=0.9).collect()}
        assert not (got - exact)
        recall = len(got & exact) / len(exact)
        assert recall >= 0.9, f"recall {recall:.3f} < 0.9 at thr={thr}"


def test_ivfpq_topk_recall_on_clustered_data(spark):
    """The composed IVF-PQ index must recover true cluster neighbors on
    genuinely clustered data: candidates restricted to probed cells,
    scored by ADC over codes only."""
    rng = np.random.default_rng(13)
    n_clusters, per, dim = 6, 24, 32
    centers = rng.standard_normal((n_clusters, dim)) * 12
    vecs = np.concatenate([
        c + rng.standard_normal((per, dim)) for c in centers])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    sample = vecs[np.arange(0, len(vecs), 2)]
    cents = similarity.train_ivf_centroids(sample, n_clusters)
    books = similarity.train_pq_codebooks(sample, m=4, k=8)
    out = similarity.ivfpq_topk(
        df, df.where(F.col("vec_id") < 12), cents, books,
        k=5, n_probe=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    hits = same = 0
    for q, neighbors in by_q.items():
        true_cluster = q // per
        same += sum(1 for n in neighbors if n // per == true_cluster)
        hits += len(neighbors)
    assert hits > 0
    assert same / hits >= 0.8  # >=80% of returned neighbors from the true cluster
    # the index always finds the query itself among its top-5
    assert sum(1 for q, ns in by_q.items() if q in ns) >= 10


def test_embedding_width_mismatch_fails_fast(spark):
    """A dim that doesn't match the actual embedding width must raise a
    clear error, not silently degrade (zip_with NULL padding used to zero
    the signature bits / NULL the dot products)."""
    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(8)],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="width mismatch"):
        similarity.lsh_topk(df, df.limit(2), k=2, n_planes=8, bands=2,
                            dim=64).collect()
    with pytest.raises(Exception, match="width mismatch"):
        similarity.cosine_pairs(df, threshold=0.5, use_lsh=True,
                                dim=16).collect()
    books = similarity.train_pq_codebooks(
        np.arange(64.0).reshape(8, 8), m=2, k=2)
    with pytest.raises(Exception, match="width mismatch"):
        similarity.pq_encode(df, books).collect()
    cents = [[1.0, 0.0], [0.0, 1.0]]
    with pytest.raises(Exception, match="width mismatch"):
        similarity.ivf_topk(df, df.limit(2), k=2, centroids=cents,
                            n_clusters=2, n_probe=1).collect()
    with pytest.raises(ValueError, match="inconsistent models"):
        similarity.ivfpq_topk(df, df.limit(2), cents, books, k=2)
    # the matched width still works end-to-end
    assert similarity.lsh_topk(df, df.limit(2), k=2, n_planes=8, bands=2,
                               dim=4).count() > 0


def test_checked_width_drops_nulls(spark):
    """A NULL embedding is a data condition, not a model-width error —
    but passing it through would silently corrupt the PQ/ADC paths
    (NULL pq_dist sorts FIRST ascending, so garbage rows would take top-k
    ranks). checked_width drops the row: every literal-model path gets
    the uniform 'no embedding → not a participant' semantic."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)],
        "vec_id long, embedding array<double>")
    out = similarity.checked_width(df, "embedding", 2).collect()
    assert {r["vec_id"] for r in out} == {0}
    assert out[0]["embedding"] == [1.0, 2.0]
    # a present-but-wrong-width row still fails fast with the diagnostic
    bad = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="width mismatch"):
        similarity.checked_width(bad, "embedding", 2).collect()


def test_pq_topk_null_query_excluded_not_ranked_first(spark):
    """Regression: a NULL-embedding query must NOT receive k garbage
    neighbors via NULLS-FIRST ascending pq_dist — it is excluded."""
    import numpy as np

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(i, rng.normal(size=4).tolist()) for i in range(30)],
        "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(100, rng.normal(size=4).tolist()), (101, None)],
        "vec_id long, embedding array<double>")
    books = similarity.train_pq_codebooks(
        [r["embedding"] for r in corpus.collect()], m=2, k=4)
    out = similarity.pq_topk(corpus, queries, books, k=3).collect()
    qids = {r["query_id"] for r in out}
    assert qids == {100}
    assert all(r["pq_dist"] is not None for r in out)


@pytest.mark.slow
def test_ivf_probe_params_recall_achieved(spark, sf01_dir):
    """The n_probe calculator (IVF mirror of lsh_params): callers state a
    recall target; ivf_topk run with the computed n_probe must achieve at
    least that top-k recall vs the exact cosine_topk baseline — on the
    sf0.01 embeddings at two targets."""
    e = (spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
         .select("vec_id", F.col("embedding").cast("array<double>")
                 .alias("embedding")))
    sample_rows = (e.where(F.col("vec_id") < 256)
                   .orderBy("vec_id").collect())
    sample = np.array([r["embedding"] for r in sample_rows])
    cents = similarity.train_ivf_centroids(sample, 16)
    q = e.where(F.col("vec_id") < 10)
    exact = {}
    for r in similarity.cosine_topk(e, q, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for target in (0.7, 0.9):
        n_probe = similarity.ivf_probe_params(
            sample, cents, target_recall=target, k=10)
        assert 1 <= n_probe <= 16
        got = {}
        for r in similarity.ivf_topk(e, q, k=10, centroids=cents,
                                     n_probe=n_probe).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(exact[qid] & got.get(qid, set())) for qid in exact)
        recall = hits / sum(len(v) for v in exact.values())
        assert recall >= target, (
            f"recall {recall:.3f} < target {target} at n_probe={n_probe}")
    # monotone: a stricter target never needs fewer probes
    assert (similarity.ivf_probe_params(sample, cents, target_recall=0.95)
            >= similarity.ivf_probe_params(sample, cents, target_recall=0.5))


def test_hash_sampling_deterministic_and_nested(spark):
    from anomalyzer_spark.functions import sampling

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    s10 = {r["doc_id"] for r in sampling.hash_sample(df, 0.10).collect()}
    s10b = {r["doc_id"] for r in sampling.hash_sample(df, 0.10).collect()}
    s30 = {r["doc_id"] for r in sampling.hash_sample(df, 0.30).collect()}
    assert s10 == s10b                       # deterministic
    assert s10 <= s30                        # rates nest at the same seed
    assert 0.05 < len(s10) / 2000 < 0.15     # ~Bernoulli(0.1)
    other = {r["doc_id"] for r in
             sampling.hash_sample(df, 0.10, seed=7).collect()}
    assert other != s10                      # seed changes the sample


def test_stratified_sampling_rates_and_exact_n(spark):
    from anomalyzer_spark.functions import sampling

    rows = [(i, "en" if i % 4 else "de") for i in range(1200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.stratified_sample(
        df, {"de": 1.0, "en": 0.1}, "lang").groupBy("lang").count()
    got = {r["lang"]: r["count"] for r in out.collect()}
    assert got["de"] == 300                  # rate 1.0 keeps every row
    assert 40 < got["en"] < 150              # ~Bernoulli(0.1) of 900
    n = sampling.stratified_sample_n(df, 25, "lang")
    cnt = {r["lang"]: r["count"] for r in
           n.groupBy("lang").count().collect()}
    assert cnt == {"de": 25, "en": 25}       # exact n per stratum
    again = sampling.stratified_sample_n(df, 25, "lang")
    assert (sorted(r["doc_id"] for r in n.collect())
            == sorted(r["doc_id"] for r in again.collect()))


def test_vocab_term_and_doc_freq(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the hat"), (1, "the dog"), (2, "")],
        "doc_id long, text string")
    got = {r["token"]: (r["term_freq"], r["doc_freq"]) for r in
           text.vocab(df, "text", "doc_id").collect()}
    assert got["the"] == (3, 2)
    assert got["cat"] == (1, 1)
    assert text.vocab(df, "text", "doc_id", min_count=2).count() == 1


def test_minhash_bucket_cap_drops_mega_cluster_only(spark):
    """max_bucket_size must drop pairs of an oversized (boilerplate)
    cluster while normal near-dup pairs survive — the quadratic-bucket
    guard for web-scale corpora."""
    mega = [(i, "identical boilerplate page content here") for i in range(8)]
    pair = [(100, "a genuinely unique document about spark engines"),
            (101, "a genuinely unique document about spark enginez")]
    df = spark.createDataFrame(mega + pair, "doc_id long, text string")
    kw = dict(k=3, num_hashes=32, bands=16, threshold=0.5)
    capped = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
        df, "text", "doc_id", max_bucket_size=4, **kw).collect()}
    assert (100, 101) in capped
    assert not any(a < 8 and b < 8 for a, b in capped)  # mega-cluster gone
    uncapped = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
        df, "text", "doc_id", **kw).collect()}
    assert any(a < 8 and b < 8 for a, b in uncapped)  # default keeps them


def test_temperature_sample_alpha1_identity_and_alpha0_flattening(spark, sf_dir):
    """alpha=1 with default target keeps everything (rates all 1);
    alpha=0 equalizes expected domain shares; selection matches an
    independent hashlib evaluation of the md5 acceptance window."""
    import hashlib

    from anomalyzer_spark.functions import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "lang")
    n = docs.count()
    # alpha=1, default target → pure identity
    assert sampling.temperature_sample(docs, 1.0, "lang").count() == n

    rows = [(r["doc_id"], r["lang"]) for r in docs.collect()]
    counts = {}
    for _, lang in rows:
        counts[lang] = counts.get(lang, 0) + 1
    k = len(counts)
    # independent expectation for alpha=0: q_d = 1/k, rate = min(1, n/(k*n_d))
    rates = {d: min(1.0, n / (k * nd)) for d, nd in counts.items()}

    def accept(doc_id, rate):
        h = int(hashlib.md5(f"42|{doc_id}".encode()).hexdigest()[:12], 16)
        return h < int(rate * (1 << 48))

    want = {doc for doc, lang in rows if accept(doc, rates[lang])}
    got = {r["doc_id"]
           for r in sampling.temperature_sample(docs, 0.0, "lang").collect()}
    assert got == want and 0 < len(got) < n
    # flattened shares: small domains keep everything (rate 1)
    smallest = min(counts, key=counts.get)
    if rates[smallest] >= 1.0:
        kept_small = sum(1 for d, lang in rows
                         if lang == smallest and d in got)
        assert kept_small == counts[smallest]


def test_temperature_sample_rejects_negative_alpha(spark, sf_dir):
    from anomalyzer_spark.functions import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_sample(docs, -0.5, "lang")


def test_temperature_sample_rejects_streaming_frame(spark, tmp_path):
    """Streaming frames get a clear ValueError, not an opaque
    AnalysisException from the blocking per-domain collect."""
    from anomalyzer_spark.functions import sampling

    stream = (spark.readStream.format("rate").option("rowsPerSecond", 1)
              .load().selectExpr("value AS doc_id", "'en' AS lang"))
    with pytest.raises(ValueError, match="batch"):
        sampling.temperature_sample(stream, 0.5, "lang")


@pytest.mark.slow
def test_embedding_dedup_groups_finds_semantic_clusters(spark):
    """Planted clusters of nearly-identical vectors resolve to groups;
    isolated noise vectors stay out. LSH path and exact path agree."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    for c in range(3):                       # 3 clusters of 4 near-dups
        center = rng.normal(size=16)
        for _ in range(4):
            v = center + rng.normal(scale=0.01, size=16)
            rows.append((vid, c, v.tolist()))
            vid += 1
    for _ in range(8):                       # isolated noise
        rows.append((vid, -1, rng.normal(size=16).tolist()))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, cluster int, "
                                     "embedding array<double>")
    exact = similarity.embedding_dedup_groups(
        df, threshold=0.95, use_lsh=False, dim=16).collect()
    by_group = {}
    cluster_of = {r[0]: r[1] for r in rows}
    for r in exact:
        by_group.setdefault(r["group_id"], set()).add(r["vec_id"])
    assert len(by_group) == 3
    for members in by_group.values():
        assert len(members) == 4
        assert len({cluster_of[m] for m in members}) == 1  # no cross-cluster
    # LSH path: recall-tuned candidates must recover the same groups
    lsh = similarity.embedding_dedup_groups(
        df, threshold=0.95, use_lsh=True, dim=16, n_planes=12, bands=6,
        seed=7).collect()
    assert {(r["vec_id"], r["group_id"]) for r in lsh} == \
           {(r["vec_id"], r["group_id"]) for r in exact}


def test_temperature_sample_null_domain_participates(spark):
    """NULL-domain rows are counted, weighted, and sampled — not silently
    dropped by a CASE that can never match NULL."""
    from anomalyzer_spark.functions import sampling

    rows = ([(i, "en") for i in range(40)]
            + [(i + 100, None) for i in range(40)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.temperature_sample(df, 1.0, "lang")
    # alpha=1, default target → every rate is 1 → identity INCLUDING NULLs
    assert out.count() == 80
    assert out.where(F.col("lang").isNull()).count() == 40


def test_temperature_sample_high_cardinality_join_path(spark):
    """Above the CASE cutoff the rates route through a broadcast join;
    the selected set must still match the md5-window rule exactly."""
    import hashlib

    from anomalyzer_spark.functions import sampling

    rows = [(d * 1000 + i, f"site{d}")
            for d in range(100) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    # alpha=0, target=150 → every domain rate = min(1, (1/100)*150/3)=0.5
    got = {r["doc_id"] for r in sampling.temperature_sample(
        df, 0.0, "domain", target_rows=150).collect()}
    want = {doc for doc, _ in rows
            if int(hashlib.md5(f"42|{doc}".encode()).hexdigest()[:12], 16)
            < int(0.5 * (1 << 48))}
    assert got == want and 0 < len(got) < 300


def test_redact_pii_hand_cases(spark):
    df = spark.createDataFrame(
        [(0, "mail bob.smith+x@corp.example.org or visit "
             "https://ex.com/a?b=1 from 10.0.0.1 call +1 (555) 123-4567."),
         (1, "no pii here"),
         (2, ""),
         (3, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in text.redact_pii(
        df, with_counts=True).collect()}
    t0 = got[0]["text"]
    assert "[EMAIL]" in t0 and "[URL]" in t0 and "[IPV4]" in t0 \
        and "[PHONE]" in t0
    assert "bob.smith" not in t0 and "ex.com" not in t0 \
        and "10.0.0.1" not in t0 and "555" not in t0
    assert (got[0]["n_email"], got[0]["n_url"], got[0]["n_ipv4"],
            got[0]["n_phone"]) == (1, 1, 1, 1)
    assert got[1]["text"] == "no pii here" and got[1]["n_email"] == 0
    assert got[2]["text"] == ""
    # NULL text: counts are 0 (not NULL — a "n_phone > 0" filter must not
    # silently drop the row), redacted text stays NULL
    assert got[3]["text"] is None and got[3]["n_email"] == 0 \
        and got[3]["n_phone"] == 0
    with pytest.raises(ValueError, match="unknown PII kind"):
        text.redact_pii(df, kinds=("passport",))


def test_redact_pii_duckdb_parity(spark, sf_dir):
    """Redaction must be engine-portable: the same regexes through
    DuckDB's RE2 regexp_replace(g) yield byte-identical text — on the
    fixture corpus AND on a PII-dense constructed frame."""
    import duckdb

    from anomalyzer_spark.functions.text import PII_PATTERNS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: r["text"]
           for r in text.redact_pii(docs).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    expr = "text"
    for k, pat in PII_PATTERNS.items():
        # DuckDB single-quoted strings are literal (no backslash
        # processing) — only quotes need escaping
        lit = pat.replace("'", "''")
        expr = (f"regexp_replace({expr}, '{lit}', "
                f"'[{k.upper()}]', 'g')")
    want = dict(con.execute(
        f"SELECT doc_id, {expr} AS text FROM documents").fetchall())
    assert got == want and len(got) > 0
    # constructed PII-dense rows through both engines
    rows = [(0, "a@b.co http://x.io/p 1.2.3.4 +44 20 7946 0958 end"),
            (1, "nested http://h.io/a@b.co tail 255.255.255.255")]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got2 = {r["doc_id"]: r["text"] for r in text.redact_pii(sdf).collect()}
    want2 = {}
    for i, txt in rows:
        want2[i] = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS text)", [txt]).fetchone()[0]
    assert got2 == want2



@pytest.mark.slow
def test_keep_best_prefers_high_score(spark):
    """Two near-dup groups + one singleton: the winner is the best score
    (smallest id on ties), clean docs pass through untouched."""
    df = spark.createDataFrame(
        [(1, "a", 0.2), (2, "a", 0.9), (3, "a", 0.9),   # group 1: tie 2/3
         (10, "b", 0.5), (11, "b", 0.1),                # group 2
         (20, "c", 0.0)],                               # singleton
        "doc_id long, text string, quality double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    groups = dedup.duplicate_groups(df, pairs, "doc_id")
    kept = {r["doc_id"] for r in
            dedup.keep_best(df, groups, "quality").collect()}
    assert kept == {2, 10, 20}      # 2 beats 3 on the id tiebreak
    # NULL scores lose to any scored member
    df2 = df.withColumn("quality", F.when(F.col("doc_id") == 2, None)
                        .otherwise(F.col("quality")))
    kept2 = {r["doc_id"] for r in
             dedup.keep_best(df2, groups, "quality").collect()}
    assert kept2 == {3, 10, 20}
    # schema passes through
    out = dedup.keep_best(df, groups, "quality")
    assert out.columns == df.columns


@pytest.mark.slow
def test_keep_best_vs_keep_first_same_group_count(spark, sf_dir):
    """Both policies keep exactly one doc per group + all singletons."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", F.length("text").cast("double").alias("score"))
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    groups = dedup.duplicate_groups(docs, pairs, "doc_id")
    n_groups = groups.where(F.col("group_size") >= 2) \
        .select("group_id").distinct().count()
    n_grouped = groups.where(F.col("group_size") >= 2).count()
    best = dedup.keep_best(docs, groups, "score").count()
    assert best == docs.count() - n_grouped + n_groups


def test_keep_best_anti_join_form_matches_semi_union_form(spark):
    """r16 plan change: keep_best now selects via ONE anti-join against
    the ranked losers. Under the documented one-row-per-id groups
    contract that is row-identical (multiplicity included) to the r15
    semi-join(winners) ∪ anti-join(members) form — pinned here by
    replaying the old formulation inline over inputs that exercise
    ties, NULL scores, singletons, and docs absent from any group."""
    from pyspark.sql.window import Window

    rows = [(i, f"t{i}",
             None if i % 7 == 3 else float((i * 37) % 11) / 10.0)
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    # synthetic one-row-per-id groups: evens share mod-10 groups (size
    # >= 2), odds are singletons (the curation slot's shape)
    gid = F.when(F.col("doc_id") % 2 == 0, F.col("doc_id") % 10) \
        .otherwise(F.col("doc_id") + 10**6)
    groups = df.select("doc_id", gid.alias("group_id")).withColumn(
        "group_size", F.count(F.lit(1)).over(
            Window.partitionBy("group_id")))
    got = sorted(map(tuple, dedup.keep_best(df, groups, "q").collect()))

    # the r15 formulation, replayed inline
    dups = groups.where(F.col("group_size") >= 2)
    scored = dups.join(df.select("doc_id", F.col("q").alias("_s")),
                       "doc_id")
    w = Window.partitionBy("group_id").orderBy(
        F.col("_s").desc_nulls_last(), F.col("doc_id").asc())
    winners = (scored.withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1).select("doc_id"))
    untouched = df.join(dups.select("doc_id"), "doc_id", "left_anti")
    want = sorted(map(tuple,
                      df.join(winners, "doc_id", "left_semi")
                      .unionByName(untouched).collect()))
    assert got == want and len(got) > 0


def test_select_top_fraction_duckdb_parity(spark, sf_dir):
    """Same histogram → threshold → md5-window selection replayed in
    DuckDB over the fixture quality scores."""
    import duckdb
    from anomalyzer_spark.functions import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = text.text_stats(docs).select("doc_id", "quality_score")
    FRAC = 0.3
    got = {r["doc_id"] for r in sampling.select_top_fraction(
        scored, "quality_score", FRAC).collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    # mirror the Spark scores by re-reading them (the stats formula is
    # already parity-tested via text_profile); replay only the selector
    rows = sorted(((r["doc_id"], round(r["quality_score"], 6))
                   for r in scored.collect()), key=lambda t: (-t[1], t[0]))
    total = len(rows)
    target = FRAC * total
    from collections import Counter
    hist = Counter(v for _, v in rows)
    run, thr = 0, None
    for v in sorted(hist, reverse=True):
        if run + hist[v] >= target:
            thr = v
            break
        run += hist[v]
    resid = (target - run) / hist[thr]
    want = set()
    for did, v in rows:
        if v > thr:
            want.add(did)
        elif v == thr:
            h = con.execute(
                "SELECT ('0x' || substr(md5('42|' || ?::VARCHAR), 1, 12))"
                "::BIGINT", [did]).fetchone()[0]
            if h < int(resid * (1 << 48)):
                want.add(did)
    assert got == want and 0 < len(got) < total
    # expected-count boundary: within a few rows of the target
    assert abs(len(got) - target) <= max(5, 0.05 * total)


def test_select_top_fraction_semantics(spark):
    from anomalyzer_spark.functions import sampling
    df = spark.createDataFrame(
        [(i, 1.0 if i < 10 else (0.5 if i < 50 else None))
         for i in range(60)],
        "doc_id long, s double")
    # 10 rows at 1.0, 40 at 0.5, 10 NULL
    top = {r["doc_id"] for r in
           sampling.select_top_fraction(df, "s", 0.2).collect()}
    assert top == set(range(10))        # exactly the 1.0 block (10/50)
    allr = {r["doc_id"] for r in
            sampling.select_top_fraction(df, "s", 1.0).collect()}
    assert allr == set(range(50))       # NULLs never pass
    none = sampling.select_top_fraction(df, "s", 0.0).count()
    assert none == 0
    # nesting: smaller fraction ⊆ larger fraction (same seed)
    a = {r["doc_id"] for r in
         sampling.select_top_fraction(df, "s", 0.4).collect()}
    b = {r["doc_id"] for r in
         sampling.select_top_fraction(df, "s", 0.8).collect()}
    assert top <= a <= b
    with pytest.raises(ValueError):
        sampling.select_top_fraction(df, "s", 1.5)


def test_lsh_topk_duckdb_parity(spark, sf_dir):
    # full value parity for the round-9-retired lsh_topk registry slot
    # (rotation contract: a slot leaves the registry only if its values
    # stay attested — this test carries the retired oracle verbatim:
    # same seed-7 16-plane/4-band config, queries = vec_id < 20, k=5)
    import duckdb

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos_sim"], 6), r["rnk"])
        for r in similarity.lsh_topk(
            e, e.where(F.col("vec_id") < 20), id_col="vec_id",
            vec_col="embedding", query_id_col="vec_id", k=5,
            n_planes=16, bands=4, dim=64, seed=7).collect())
    planes = similarity.hyperplanes(64, 16, 7)
    plane_sql = ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]" for p in planes)
    band_exprs = []
    for b in range(4):
        bits = " || ".join(
            f"(CASE WHEN list_dot_product(v, pl[{b * 4 + j + 1}]) >= 0 "
            "THEN 1 ELSE 0 END)::VARCHAR" for j in range(4))
        band_exprs.append(f"struct_pack(band := {b}, bucket := {bits})")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf_dir}/embeddings.parquet')")
    want = con.execute(f"""
WITH pl AS (SELECT [{plane_sql}]::DOUBLE[][] AS pl),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (SELECT vec_id, v, unnest([{', '.join(band_exprs)}]) AS bb
       FROM e, pl),
corpus_b AS (SELECT vec_id, v, bb.band AS band, bb.bucket AS bucket FROM cb),
query_b AS (SELECT vec_id AS query_id, v AS qv, band, bucket
            FROM corpus_b WHERE vec_id < 20),
cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id, q.qv, c.v AS cv
  FROM corpus_b c JOIN query_b q USING (band, bucket)),
s AS (SELECT query_id, neighbor_id,
        list_dot_product(qv, cv) /
        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
          AS cos_sim
      FROM cand),
r AS (SELECT query_id, neighbor_id, cos_sim,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM s WHERE cos_sim IS NOT NULL)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rnk
FROM r WHERE rnk <= 5""").fetchall()
    assert len(got) > 0
    assert got == sorted(tuple(w) for w in want)


def test_lineitem_cube_duckdb_parity(spark, sf_dir):
    """The retired round-9 registry slot's oracle, VERBATIM (slot rotated
    to dup_spans — see q_dup_spans's docstring for the shadowing
    argument: CUBE is orders_rollup's Expand with a larger lattice; the
    lineitem scan + decimal sums stay hashed under pricing_summary and
    skew_median). The retired BUILDER lives here too (round-12 hygiene:
    __spark_entry__.py carries only the live driver contract)."""
    import duckdb

    def q_lineitem_cube(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.cube("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("sum_qty"),
                 F.count(F.lit(1)).alias("n"))
            .select(
                F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                "sum_qty", "n")
        )

    got = sorted(map(tuple, q_lineitem_cube(spark, sf_dir).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{sf_dir}/lineitem.parquet')")
    want = sorted(map(tuple, con.execute("""
SELECT coalesce(l_returnflag, 'ALL') AS rf,
  coalesce(l_linestatus, 'ALL') AS ls,
  sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
  count(*) AS n
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)""").fetchall()))
    assert got == want and len(got) > 0


def test_simhash_duckdb_parity(spark, sf_dir):
    """The retired round-10 registry slot's oracle, VERBATIM (slot rotated
    to semantic_pairs — see q_semantic_pairs's docstring for the shadowing
    argument): (doc_id, simhash, n_words) hash-matches the DuckDB replay
    on the fixture corpus. The same signature stays driver-hashed as
    text_profile's simhash32 column."""
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.simhash(docs, "text", "doc_id", bits=32)
    got = sorted(map(tuple, out.withColumn(
        "n_words", F.col("n_words").cast("long")).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    norm = ("trim(regexp_replace(regexp_replace(lower(text),"
            "'[^a-z0-9]+',' ','g'),'\\s+',' ','g'))")
    want = sorted(map(tuple, con.execute(f"""
WITH docs AS (SELECT doc_id, {norm} AS norm FROM documents),
w AS (SELECT doc_id, string_split(norm, ' ') AS words FROM docs),
h AS (SELECT doc_id, len(words) AS n_words,
             list_transform(words, x -> md5(x)) AS hs FROM w),
bits AS (
  SELECT doc_id, n_words,
    list_transform(range(0, 32), j ->
      CASE WHEN list_sum(list_transform(hs, hx ->
             CASE WHEN substr(hx, j + 1, 1) IN
                  ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0
           THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS terms
  FROM h)
SELECT doc_id, list_sum(terms)::BIGINT AS simhash, n_words FROM bits
""").fetchall()))
    assert got == want and len(got) > 0


def test_pq_refine_equals_exact_when_refine_covers_corpus(spark):
    """refine >= corpus size degrades PQ to candidate-generation only —
    the exact re-rank then returns cosine_topk VERBATIM (same rows, same
    scores, same tiebreaks). The anchor that pins refine's semantics."""
    rng = np.random.default_rng(12)
    vecs = rng.standard_normal((60, 16)).round(3)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 4)
    books = similarity.train_pq_codebooks(vecs, m=4, k=8)
    got = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos_sim"], 9), r["rnk"])
        for r in similarity.pq_topk(df, q, books, k=5, refine=60).collect())
    want = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos_sim"], 9), r["rnk"])
        for r in similarity.cosine_topk(df, q, k=5).collect())
    assert got == want and len(got) == 20
    with pytest.raises(ValueError, match="refine"):
        similarity.pq_topk(df, q, books, k=5, refine=3)


@pytest.mark.slow
def test_ivfpq_refine_recovers_recall_on_clustered_data(spark):
    """The production refine lever: on clustered data where raw ADC
    ordering is quantization-noise-bound, exact re-rank of the top-10k
    ADC candidates lifts recall@5 to >= 0.9."""
    rng = np.random.default_rng(13)
    centers = rng.standard_normal((6, 16)) * 10
    vecs = np.concatenate([
        c + rng.standard_normal((40, 16)) for c in centers])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id").isin([0, 40, 80]))
    cents = similarity.train_ivf_centroids(vecs, 6)
    books = similarity.train_pq_codebooks(vecs, m=4, k=16)
    approx = similarity.ivfpq_topk(
        df, q, cents, books, k=5, n_probe=3, refine=50)
    exact = similarity.cosine_topk(df, q, k=5)
    rec = {r["query_id"]: r["recall"]
           for r in similarity.ann_recall(approx, exact, k=5).collect()}
    assert len(rec) == 3
    assert float(np.mean(list(rec.values()))) >= 0.9


def test_search_index_refine_equals_exact(spark, tmp_path):
    """Persisted-index refine: with refine >= corpus size the re-ranked
    search equals cosine_topk restricted to probed cells' recall — here
    n_probe = n_clusters, so it equals cosine_topk EXACTLY. Also pins
    the corpus-required contract."""
    from anomalyzer_spark.functions.ann_index import (build_ivfpq_index,
                                                      search_ivfpq_index)

    rng = np.random.default_rng(17)
    vecs = rng.standard_normal((50, 16)).round(3)
    e = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    cents = similarity.train_ivf_centroids(vecs, 4)
    books = similarity.train_pq_codebooks(vecs, m=4, k=8)
    idx = str(tmp_path / "idx")
    build_ivfpq_index(e, idx, cents, books)
    q = e.where(F.col("vec_id") < 3)
    got = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos_sim"], 9), r["rnk"])
        for r in search_ivfpq_index(
            spark, idx, q, cents, books, k=5, n_probe=4,
            refine=50, corpus=e).collect())
    want = sorted(
        (r["query_id"], r["neighbor_id"], round(r["cos_sim"], 9), r["rnk"])
        for r in similarity.cosine_topk(e, q, k=5).collect())
    assert got == want and len(got) == 15
    with pytest.raises(ValueError, match="corpus"):
        search_ivfpq_index(spark, idx, q, cents, books, k=5, refine=20)


def test_cap_stratum_tokens_duckdb_parity_and_semantics(spark, sf_dir):
    """Per-source token budget: greedy hash-order prefix within budget,
    replayed in DuckDB SQL; nested as budget grows; strict-cap edge."""
    import duckdb

    from anomalyzer_spark.functions import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "n_chars")
    got = sorted(
        r["doc_id"] for r in sampling.cap_stratum_tokens(
            docs, 2000, "source", "n_chars").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    want = sorted(r[0] for r in con.execute("""
WITH h AS (
  SELECT doc_id, source, n_chars,
    ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 12))::BIGINT AS hk
  FROM documents WHERE n_chars IS NOT NULL),
r AS (
  SELECT doc_id,
    sum(n_chars) OVER (PARTITION BY source ORDER BY hk, doc_id
                       ROWS UNBOUNDED PRECEDING) AS run
  FROM h)
SELECT doc_id FROM r WHERE run <= 2000""").fetchall())
    assert got == want and 0 < len(got) < docs.count()
    # nested selection: a larger budget keeps a superset
    bigger = {r["doc_id"] for r in sampling.cap_stratum_tokens(
        docs, 5000, "source", "n_chars").collect()}
    assert set(got) <= bigger
    # per-stratum totals actually respect the budget
    kept = sampling.cap_stratum_tokens(docs, 2000, "source", "n_chars")
    over = kept.groupBy("source").agg(F.sum("n_chars").alias("t")) \
        .where(F.col("t") > 2000).count()
    assert over == 0
    # strict cap: budget below every row's weight keeps nothing
    assert sampling.cap_stratum_tokens(
        docs, 1, "source", "n_chars").count() == 0
    with pytest.raises(ValueError, match="budget"):
        sampling.cap_stratum_tokens(docs, -1, "source", "n_chars")


def test_cap_stratum_share(spark, sf_dir):
    from anomalyzer_spark.functions import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "n_chars")
    total = docs.agg(F.sum("n_chars")).first()[0]
    out = sampling.cap_stratum_share(docs, 0.05, "source", "n_chars")
    shares = out.groupBy("source").agg(F.sum("n_chars").alias("t"))
    assert shares.where(F.col("t") > 0.05 * total).count() == 0
    assert out.count() > 0
    # equivalent to the absolute form at the derived budget
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in sampling.cap_stratum_tokens(
        docs, int(0.05 * total), "source", "n_chars").collect())
    assert a == b
    # persisted-total shortcut (skips the corpus-total aggregate) is
    # identical when fed the true total
    c = sorted(r["doc_id"] for r in sampling.cap_stratum_share(
        docs, 0.05, "source", "n_chars", total_tokens=int(total))
        .collect())
    assert a == c
    with pytest.raises(ValueError, match="max_share"):
        sampling.cap_stratum_share(docs, 0.0, "source", "n_chars")


def test_cap_stratum_tokens_segment_invariance(spark, sf_dir):
    """The skew-safe segmented cumsum is an implementation detail: any
    n_segments (including the degenerate single-window 1) and any input
    partitioning select the same rows."""
    from anomalyzer_spark.functions import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "n_chars")
    base = sorted(r["doc_id"] for r in sampling.cap_stratum_tokens(
        docs, 3000, "source", "n_chars").collect())
    for n_seg in (1, 7, 64):
        alt = sorted(r["doc_id"] for r in sampling.cap_stratum_tokens(
            docs.repartition(11), 3000, "source", "n_chars",
            n_segments=n_seg).collect())
        assert alt == base, n_seg
    assert len(base) > 0


# --- r15: binary-doubling shingle/gram chains (bit-parity vs the left fold)


def _old_word_shingles_from_words(words, k):
    """The pre-r15 word-at-a-time left fold, verbatim — the doubling
    build must be bit-identical to it on every input."""
    n = F.size(words)
    acc = words
    for j in range(1, k):
        shifted = F.slice(words, j + 1, F.greatest(n - j, F.lit(0)))
        acc = F.zip_with(acc, shifted,
                         lambda a, b: F.concat(a, F.lit(" "), b))
    full = F.slice(acc, 1, F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.when(n >= k, full).otherwise(F.array(F.array_join(words, " ")))
    )


def _old_gram_hashes(toks, k):
    """The pre-r15 _gram_hashes left fold, verbatim."""
    n = F.size(toks)
    m = n - F.when(F.trim(F.element_at(toks, -1)) == "", 1).otherwise(0)
    acc = F.transform(toks, lambda t: F.regexp_replace(t, r"^\s+", ""))
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(n - j, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat(a, b))
    grams = F.transform(
        F.slice(acc, 1, F.greatest(m - (k - 1), F.lit(0))),
        lambda g: F.md5(g.cast("binary")),
    )
    return F.when(m >= k, grams).otherwise(F.array().cast("array<string>"))


@pytest.fixture(scope="module")
def shingle_edge_frame(spark):
    rows = [
        (0, []),                                        # empty
        (1, ["a"]),                                     # single word
        (2, ["a", "b"]),
        (3, ["w%d" % i for i in range(7)]),             # n = k-1 at k=8
        (4, ["w%d" % i for i in range(8)]),             # n = k
        (5, ["w%d" % i for i in range(9)]),             # n = k+1
        (6, ["x"] * 12),                                # all-duplicate grams
        (7, ["alpha", "beta"] * 10),                    # period-2 repeats
        (8, ["w%d" % (i % 5) for i in range(23)]),      # distinct-collapse
        (9, None),                                      # NULL array
        (10, ["word%03d" % i for i in range(40)]),      # long doc
    ]
    return spark.createDataFrame(rows, "doc_id long, ws array<string>")


def test_word_shingles_doubling_parity(spark, shingle_edge_frame):
    """r15: word_shingles_from_words' binary-doubling build is
    bit-identical to the old k-1 left fold on every edge input, for
    every k class (power of two, binary-combine, k <= 3 degenerate)."""
    for k in (1, 2, 3, 4, 5, 6, 7, 8, 12, 15):
        got = shingle_edge_frame.select(
            "doc_id",
            dedup.word_shingles_from_words(F.col("ws"), k).alias("new"),
            _old_word_shingles_from_words(F.col("ws"), k).alias("old"),
        ).collect()
        for r in got:
            assert r["new"] == r["old"], (k, r["doc_id"])


def _distinct_zip_levels(tree):
    """Count structurally-distinct zip_with subtrees in a printed Column
    (lambda variable ids are fresh per occurrence — normalize them so
    duplicated shared levels compare equal)."""
    import re
    norm = re.sub(r"[xy]_\d+", "v", tree)
    subs = set()
    for i in range(len(norm)):
        if not norm.startswith("zip_with(", i):
            continue
        depth, j = 0, i + len("zip_with")
        while True:
            if norm[j] == "(":
                depth += 1
            elif norm[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        subs.add(norm[i:j + 1])
    return len(subs)


def test_word_shingles_doubling_pass_count(spark):
    """For k <= 3 the doubling build emits the EXACT old expression tree
    (same plan hashes for the k=3 consumers). For k > 3 a printed
    Column duplicates shared doubling levels (a tree, not a DAG), so
    the per-row evaluation count is pinned on the STAGED variant's
    optimized plan instead (test_stage_word_shingles_parity_and_plan);
    here pin the level structure: ceil(log2 k)+popcount(k)-1 DISTINCT
    zip_with subtrees (3 at the decontam k=8 vs the left fold's 7)."""
    ws = F.col("ws")
    for k, n_levels in ((2, 1), (3, 2), (8, 3), (15, 6)):
        n = _distinct_zip_levels(str(dedup.word_shingles_from_words(ws, k)._jc))
        assert n == n_levels, (k, n)
    import re
    for k in (1, 2, 3):
        # fresh lambda variable ids differ per build — normalize them;
        # everything else must match byte-for-byte (same plan hashes)
        a, b = (re.sub(r"[xy]_\d+", "v", str(c._jc)) for c in (
            dedup.word_shingles_from_words(ws, k),
            _old_word_shingles_from_words(ws, k)))
        assert a == b, k


@pytest.fixture(scope="module")
def gram_edge_frame(spark):
    # no empty-array row: _ws_exact_tokens (the only production feeder)
    # never yields [] — split of the coalesced empty string is [""] —
    # and element_at(toks, -1) throws on [] under ANSI (out of contract)
    rows = [
        (1, ["  a"]),
        (2, ["  a", " b", "c  "]),
        (3, ["t%d " % i for i in range(14)]),           # n = k-1 at k=15
        (4, ["t%d " % i for i in range(15)]),           # n = k
        (5, ["t%d " % i for i in range(16)]),           # n = k+1
        (6, ["  lead", "mid  dle", "trail  "] * 7),     # interior whitespace
        (7, ["t%d" % i for i in range(20)] + ["   "]),  # trailing ws element
        (8, ["   "]),                                   # only-whitespace
        (9, None),
        (10, ["x y", " x y", "x  y"] * 9),              # separator-sensitive
    ]
    return spark.createDataFrame(rows, "doc_id long, ts array<string>")


def test_gram_hashes_doubling_parity(spark, gram_edge_frame):
    """r15: _gram_hashes' doubling build (prefix from the ltrimmed
    tokens, raw tokens appended) is bit-identical to the old k-1 left
    fold (gram md5s AND positions) on every edge input, for every k
    class."""
    from anomalyzer_spark.functions.dedup import _gram_hashes

    for k in (1, 2, 3, 4, 5, 7, 8, 14, 15, 20):
        got = gram_edge_frame.select(
            "doc_id",
            _gram_hashes(F.col("ts"), k).alias("new"),
            _old_gram_hashes(F.col("ts"), k).alias("old"),
        ).collect()
        for r in got:
            assert r["new"] == r["old"], (k, r["doc_id"])


def test_gram_hashes_doubling_pass_count(spark):
    """The k <= 3 trees are EXACTLY the old ones; for k > 3 the
    per-row evaluation count (8 at the dup_spans k=15 vs the left
    fold's 14) is pinned on the staged variant's optimized plan
    (test_stage_gram_hashes_parity_and_plan — printed Columns
    duplicate shared levels); here pin the level structure: the
    DISTINCT zip_with subtree count stays at/below the dual-family
    doubling bound ~2 log2 k, well under the left fold's k-1."""
    from anomalyzer_spark.functions.dedup import _gram_hashes

    ts = F.col("ts")
    for k, max_levels in ((2, 1), (3, 2), (8, 5), (15, 8), (20, 8)):
        n = _distinct_zip_levels(str(_gram_hashes(ts, k)._jc))
        assert n <= max_levels, (k, n)
    import re
    for k in (1, 2, 3):
        a, b = (re.sub(r"[xy]_\d+", "v", str(c._jc)) for c in (
            _gram_hashes(ts, k), _old_gram_hashes(ts, k)))
        assert a == b, k


def test_stage_word_shingles_parity_and_plan(spark, shingle_edge_frame):
    """r15: the projection-staged shingle build (``_staged`` over
    ``_shingles``, used by decontam._grams at n=8) is bit-identical to
    the column build, and the OPTIMIZED plan keeps the staged levels:
    exactly ceil(log2 k)+popcount(k)-1 zip_with evaluations survive
    CollapseProject (3 at k=8 vs the left fold's 7 — a Column is a
    tree, not a DAG, so the unstaged doubling re-evaluates shared
    levels per reference)."""
    from anomalyzer_spark.functions.dedup import _shingles, _staged

    def stage(k):
        return _staged(shingle_edge_frame, "ws", k, _shingles, "_shg")

    for k in (4, 5, 6, 7, 8, 12, 15):
        staged, sh = stage(k)
        got = staged.select(
            "doc_id", sh.alias("new"),
            dedup.word_shingles_from_words(F.col("ws"), k).alias("old"),
        ).collect()
        for r in got:
            assert r["new"] == r["old"], (k, r["doc_id"])
    staged, sh = stage(8)
    plan = staged.select("doc_id", sh.alias("g")) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("zip_with") == 3, plan
    # k <= 3: no shared level -> frame unchanged, plain column returned
    st, _ = stage(3)
    assert st is shingle_edge_frame


def test_stage_gram_hashes_parity_and_plan(spark, gram_edge_frame):
    """r15: the projection-staged gram build (``_staged`` over
    ``_gram_hashes``, used by gram_occurrences — the dup_spans/
    span-stream gram feeder at min_len=15) is bit-identical to the
    column build; the optimized plan keeps the staged raw power levels
    (8 zip_with evaluations at k=15 vs the left fold's 14)."""
    from anomalyzer_spark.functions.dedup import _gram_hashes, _staged

    def stage(k):
        return _staged(gram_edge_frame, "ts", k, _gram_hashes, "_gmr")

    for k in (4, 5, 7, 8, 14, 15, 20):
        staged, gr = stage(k)
        got = staged.select(
            "doc_id", gr.alias("new"),
            _gram_hashes(F.col("ts"), k).alias("old"),
        ).collect()
        for r in got:
            assert r["new"] == r["old"], (k, r["doc_id"])
    staged, gr = stage(15)
    plan = staged.select("doc_id", gr.alias("g")) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("zip_with") == 8, plan
    st, _ = stage(3)
    assert st is gram_edge_frame
