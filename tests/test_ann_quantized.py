"""int8-quantized refine tier of the persisted IVF-PQ index
(ann_index.build_ivfpq_index(quantized_refine=True) +
search_ivfpq_index(refine_source="quantized")): the index stores
1-byte-per-dim vectors next to the PQ codes, and the exact re-rank reads
dequantized candidates from the PRUNED INDEX instead of the float corpus
— the storage-tier path measured in tools/ann_recall_sweep.py.

Pins: schema of the stored tier, exact equality with float refine on a
losslessly-quantizable corpus, bounded recall delta on real fixture
embeddings, loud failures on misuse, and that diff maintenance +
compaction preserve the tier."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, ByteType, DoubleType

from anomalyzer_spark.functions import ann_index, similarity


@pytest.fixture(scope="module")
def grid_corpus(spark):
    """Losslessly quantizable vectors: integer entries with per-vector
    absmax EXACTLY 127 -> scale = 1.0 and round(x/scale) = x, so the
    dequantized tier reproduces the float vectors bit-for-bit and the
    quantized refine must EQUAL the float refine, ties included."""
    rng = np.random.default_rng(42)
    vecs = rng.integers(-126, 127, (200, 16)).astype(np.float64)
    vecs[:, 0] = np.where(rng.random(200) < 0.5, -127.0, 127.0)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    cents = similarity.train_ivf_centroids(vecs, 8)
    books = similarity.train_pq_codebooks(vecs, m=8, k=16)
    return df, cents, books


@pytest.fixture(scope="module")
def real_models(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    sample = np.asarray(
        [r["embedding"] for r in
         e.where(F.col("vec_id") < 256).orderBy("vec_id").collect()])
    cents = similarity.train_ivf_centroids(sample, 16)
    books = similarity.train_pq_codebooks(sample, m=8, k=16)
    return e, cents, books


def test_quantized_index_schema(spark, grid_corpus, tmp_path):
    df, cents, books = grid_corpus
    path = str(tmp_path / "qidx")
    ann_index.build_ivfpq_index(df, path, cents, books,
                                quantized_refine=True)
    idx = spark.read.parquet(path)
    fields = {f.name: f.dataType for f in idx.schema.fields}
    assert isinstance(fields["scale"], DoubleType)
    assert isinstance(fields["qvec"], ArrayType)
    assert isinstance(fields["qvec"].elementType, ByteType)
    # the tier costs 1 byte/dim: every row carries dim codes
    assert idx.where(F.size("qvec") != 16).count() == 0
    # plain build stays two data columns — no silent schema growth
    plain = str(tmp_path / "pidx")
    ann_index.build_ivfpq_index(df, plain, cents, books)
    assert set(spark.read.parquet(plain).columns) == {
        "neighbor_id", "codes", "cell"}


@pytest.mark.slow
def test_lossless_grid_quantized_equals_float_refine(
        spark, grid_corpus, tmp_path):
    df, cents, books = grid_corpus
    path = str(tmp_path / "qidx2")
    ann_index.build_ivfpq_index(df, path, cents, books,
                                quantized_refine=True)
    q = df.where(F.col("vec_id") < 10)
    flt = ann_index.search_ivfpq_index(
        spark, path, q, cents, books, k=5, n_probe=4, refine=25,
        corpus=df).collect()
    qnt = ann_index.search_ivfpq_index(
        spark, path, q, cents, books, k=5, n_probe=4, refine=25,
        refine_source="quantized").collect()
    fs = sorted((r["query_id"], r["neighbor_id"], r["rnk"],
                 round(r["cos_sim"], 9)) for r in flt)
    qs = sorted((r["query_id"], r["neighbor_id"], r["rnk"],
                 round(r["cos_sim"], 9)) for r in qnt)
    assert fs == qs and len(fs) == 10 * 5


@pytest.mark.slow
def test_quantized_refine_recall_close_on_real_embeddings(
        spark, real_models, tmp_path):
    e, cents, books = real_models
    path = str(tmp_path / "qidx3")
    ann_index.build_ivfpq_index(e, path, cents, books,
                                quantized_refine=True)
    q = e.where(F.col("vec_id") < 16)
    exact = similarity.cosine_topk(e, q, k=10).localCheckpoint(eager=True)

    def macro(res):
        rs = [r["recall"] for r in
              similarity.ann_recall(res, exact, k=10).collect()]
        return float(np.mean(rs))

    flt = ann_index.search_ivfpq_index(
        spark, path, q, cents, books, k=10, n_probe=8, refine=60,
        corpus=e)
    qnt = ann_index.search_ivfpq_index(
        spark, path, q, cents, books, k=10, n_probe=8, refine=60,
        refine_source="quantized")
    m_f, m_q = macro(flt), macro(qnt)
    # int8 per-dim error <= scale/2: the re-rank can only flip near-exact
    # ties, so the recall cost of dropping the float corpus is ~0
    assert m_q >= m_f - 0.02
    assert m_q > 0.8


def test_quantized_refine_drops_null_scores(spark, grid_corpus, tmp_path):
    """A zero-norm vector has no cosine: a zero corpus vector (scale 0,
    dequantizes to zeros) and a zero query score NULL in the quantized
    re-rank too, and those rows are dropped instead of taking ranks —
    the same rows the float re-rank returns."""
    df, cents, books = grid_corpus
    zero = spark.createDataFrame([(999, [0.0] * 16)], df.schema)
    corpus = df.unionByName(zero)
    path = str(tmp_path / "qidx_zero")
    ann_index.build_ivfpq_index(corpus, path, cents, books,
                                quantized_refine=True)
    q = corpus.where((F.col("vec_id") < 2) | (F.col("vec_id") == 999))
    # every cell probed and every candidate refined: the zero vector is
    # a candidate of each query
    kw = dict(k=300, n_probe=len(cents), refine=300)
    flt = ann_index.search_ivfpq_index(
        spark, path, q, cents, books, corpus=corpus, **kw).collect()
    qnt = ann_index.search_ivfpq_index(
        spark, path, q, cents, books, refine_source="quantized",
        **kw).collect()
    assert all(r["cos_sim"] is not None for r in qnt)
    assert sorted((r["query_id"], r["neighbor_id"], r["rnk"]) for r in qnt) \
        == sorted((r["query_id"], r["neighbor_id"], r["rnk"]) for r in flt)
    assert {r["query_id"] for r in qnt} == {0, 1}
    assert len(qnt) == 2 * 200


def test_quantized_misuse_raises(spark, grid_corpus, tmp_path):
    df, cents, books = grid_corpus
    plain = str(tmp_path / "pidx2")
    ann_index.build_ivfpq_index(df, plain, cents, books)
    q = df.where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="quantized_refine=True"):
        ann_index.search_ivfpq_index(
            spark, plain, q, cents, books, k=2, refine=5,
            refine_source="quantized").collect()
    with pytest.raises(ValueError, match="refine_source"):
        ann_index.search_ivfpq_index(
            spark, plain, q, cents, books, k=2, refine=5,
            refine_source="int8")
    with pytest.raises(ValueError, match="no-op"):
        ann_index.search_ivfpq_index(
            spark, plain, q, cents, books, k=2,
            refine_source="quantized")
    # corpus-less float refine still points at the quantized alternative
    with pytest.raises(ValueError, match="refine_source='quantized'"):
        ann_index.search_ivfpq_index(
            spark, plain, q, cents, books, k=2, refine=5)


def _qsnapshot(spark, path):
    return sorted(
        (r["neighbor_id"], r["cell"], tuple(r["codes"]),
         round(r["scale"], 9), tuple(r["qvec"]))
        for r in spark.read.parquet(path).collect())


@pytest.mark.slow
def test_apply_diff_preserves_quantized_tier(spark, real_models, tmp_path):
    e, cents, books = real_models
    path = str(tmp_path / "qidx4")
    ann_index.build_ivfpq_index(e, path, cents, books,
                                quantized_refine=True)
    new = (
        e.where(F.col("vec_id") % 7 != 0)
        .select("vec_id",
                F.when(F.col("vec_id") % 5 == 0,
                       F.transform("embedding", lambda x: -x))
                .otherwise(F.col("embedding")).alias("embedding")))
    rows = []
    for r in e.select("vec_id").collect():
        i = r["vec_id"]
        if i % 7 == 0:
            rows.append((i, "removed"))
        elif i % 5 == 0:
            rows.append((i, "changed"))
    diff = spark.createDataFrame(rows, "vec_id long, status string")
    n = ann_index.apply_diff_to_index(spark, path, diff, new, cents, books)
    assert n > 0
    fresh = str(tmp_path / "fresh_q")
    ann_index.build_ivfpq_index(new, fresh, cents, books,
                                quantized_refine=True)
    assert _qsnapshot(spark, path) == _qsnapshot(spark, fresh)
    # the maintained index still serves quantized-refine searches
    q = new.where(F.col("vec_id") < 8)
    got = ann_index.search_ivfpq_index(
        spark, path, q, cents, books, k=5, n_probe=4, refine=25,
        refine_source="quantized")
    assert got.count() > 0


def test_compact_preserves_quantized_columns(spark, grid_corpus, tmp_path):
    df, cents, books = grid_corpus
    ingested = str(tmp_path / "ingested")
    # two "micro-batches" in the stream-ingest layout
    ann_index.build_ivfpq_index(
        df.where(F.col("vec_id") < 100), f"{ingested}/batch_id=0",
        cents, books, quantized_refine=True)
    ann_index.build_ivfpq_index(
        df.where(F.col("vec_id") >= 100), f"{ingested}/batch_id=1",
        cents, books, quantized_refine=True)
    out = str(tmp_path / "compacted")
    ann_index.compact_ingested_index(spark, ingested, out)
    direct = str(tmp_path / "direct")
    ann_index.build_ivfpq_index(df, direct, cents, books,
                                quantized_refine=True)
    assert _qsnapshot(spark, out) == _qsnapshot(spark, direct)


@pytest.mark.slow
def test_streaming_serve_with_quantized_refine(spark, grid_corpus, tmp_path):
    """serve_ivfpq_stream(refine_source='quantized') must emit exactly the
    offline quantized-refine results per micro-batch, with no corpus."""
    df, cents, books = grid_corpus
    path = str(tmp_path / "qidx_serve")
    ann_index.build_ivfpq_index(df, path, cents, books,
                                quantized_refine=True)
    q = df.where(F.col("vec_id") < 6)
    qdir = str(tmp_path / "queries")
    q.coalesce(1).write.parquet(qdir)
    stream = spark.readStream.schema(q.schema) \
        .option("maxFilesPerTrigger", 1).parquet(qdir)
    out = str(tmp_path / "served")
    sq = ann_index.serve_ivfpq_stream(
        spark, path, stream, cents, books, out,
        str(tmp_path / "ckpt"), k=5, n_probe=4, refine=20,
        refine_source="quantized")
    sq.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(out)
                     .select("query_id", "neighbor_id", "cos_sim", "rnk")
                     .collect()))
    want = sorted(map(tuple, ann_index.search_ivfpq_index(
        spark, path, q, cents, books, k=5, n_probe=4, refine=20,
        refine_source="quantized").collect()))
    assert got == want and len(got) == 6 * 5
