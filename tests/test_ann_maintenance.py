"""Diff-driven IVF-PQ index maintenance (ann_index.apply_diff_to_index):
the updated index must EQUAL a fresh build of the new corpus, rewrite
only affected cell partitions, replay idempotently, and serve searches
identical to the in-flight operator."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomalyzer_spark.functions import ann_index, similarity


@pytest.fixture(scope="module")
def models(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    sample = np.asarray(
        [r["embedding"] for r in
         e.where(F.col("vec_id") < 256).orderBy("vec_id").collect()])
    cents = similarity.train_ivf_centroids(sample, 16)
    books = similarity.train_pq_codebooks(sample, m=8, k=16)
    return e, cents, books


def _new_corpus(e):
    """removed: %7==0; changed: %5==0 (vector negated — guaranteed new
    cell/codes); added: ids shifted by 100000."""
    changed = (
        e.where(F.col("vec_id") % 7 != 0)
        .select(
            "vec_id",
            F.when(F.col("vec_id") % 5 == 0,
                   F.transform("embedding", lambda x: -x))
            .otherwise(F.col("embedding")).alias("embedding"))
    )
    added = e.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    return changed.unionByName(added)


def _diff(spark, e):
    rows = []
    for r in e.select("vec_id").collect():
        i = r["vec_id"]
        if i % 7 == 0:
            rows.append((i, "removed"))
        elif i % 5 == 0:
            rows.append((i, "changed"))
        if i < 10:
            rows.append((i + 100_000, "added"))
    return spark.createDataFrame(rows, "vec_id long, status string")


def _snapshot(spark, path):
    return sorted(
        (r["neighbor_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(path).collect())


@pytest.mark.slow
def test_apply_diff_equals_fresh_build(spark, models, tmp_path):
    e, cents, books = models
    old_path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(e, old_path, cents, books)
    n_cells_total = spark.read.parquet(old_path) \
        .select("cell").distinct().count()

    new = _new_corpus(e)
    diff = _diff(spark, e)
    n_rewritten = ann_index.apply_diff_to_index(
        spark, old_path, diff, new, cents, books)
    assert 0 < n_rewritten <= n_cells_total

    fresh_path = str(tmp_path / "fresh")
    ann_index.build_ivfpq_index(new, fresh_path, cents, books)
    assert _snapshot(spark, old_path) == _snapshot(spark, fresh_path)

    # idempotent replay: same diff converges to the same index
    again = ann_index.apply_diff_to_index(
        spark, old_path, diff, new, cents, books)
    assert again >= 0
    assert _snapshot(spark, old_path) == _snapshot(spark, fresh_path)


@pytest.mark.slow
def test_updated_index_serves_identical_searches(spark, models, tmp_path):
    e, cents, books = models
    path = str(tmp_path / "idx2")
    ann_index.build_ivfpq_index(e, path, cents, books)
    new = _new_corpus(e)
    ann_index.apply_diff_to_index(
        spark, path, _diff(spark, e), new, cents, books)
    q = new.where(F.col("vec_id") < 8)
    got = sorted(map(tuple, ann_index.search_ivfpq_index(
        spark, path, q, cents, books, k=5).collect()))
    want = sorted(map(tuple, similarity.ivfpq_topk(
        new, q, cents, books, id_col="vec_id", vec_col="embedding",
        query_id_col="vec_id", k=5, n_probe=4).collect()))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_include_unchanged_diff_equals_fresh_build(spark, models, tmp_path):
    """snapshot_diff(include_unchanged=True) output must be safe: the
    'unchanged' rows are no-ops, NOT victims — the round-8 ADVICE bug
    vacated every unchanged doc from the index and never re-added it."""
    e, cents, books = models
    path = str(tmp_path / "idx4")
    ann_index.build_ivfpq_index(e, path, cents, books)

    new = _new_corpus(e)
    diff = _diff(spark, e)
    unchanged = (
        e.select("vec_id")
        .where((F.col("vec_id") % 7 != 0) & (F.col("vec_id") % 5 != 0))
        .select("vec_id", F.lit("unchanged").alias("status")))
    full_diff = diff.unionByName(unchanged)

    ann_index.apply_diff_to_index(spark, path, full_diff, new, cents, books)
    fresh_path = str(tmp_path / "fresh4")
    ann_index.build_ivfpq_index(new, fresh_path, cents, books)
    assert _snapshot(spark, path) == _snapshot(spark, fresh_path)


def test_unknown_status_raises(spark, models, tmp_path):
    e, cents, books = models
    path = str(tmp_path / "idx5")
    ann_index.build_ivfpq_index(e, path, cents, books)
    bad = spark.createDataFrame(
        [(1, "modified")], "vec_id long, status string")
    with pytest.raises(ValueError, match="unexpected diff status"):
        ann_index.apply_diff_to_index(spark, path, bad, e, cents, books)


def test_empty_diff_touches_nothing(spark, models, tmp_path):
    e, cents, books = models
    path = str(tmp_path / "idx3")
    ann_index.build_ivfpq_index(e, path, cents, books)
    before = _snapshot(spark, path)
    empty = spark.createDataFrame([], "vec_id long, status string")
    assert ann_index.apply_diff_to_index(
        spark, path, empty, e, cents, books) == 0
    assert _snapshot(spark, path) == before


def test_emptied_cell_is_removed(spark, models, tmp_path, conf_unchanged):
    """Removing every vector of one cell must drop that cell from the
    index: the dynamic overwrite never touches a partition the rewrite
    has no rows for, so the emptied cell needs an explicit delete. The
    session conf is the same after the apply as before it."""
    e, cents, books = models
    path = str(tmp_path / "idx6")
    ann_index.build_ivfpq_index(e, path, cents, books)
    cell = (spark.read.parquet(path).groupBy("cell").count()
            .orderBy("count", "cell").first()["cell"])
    gone = [r["neighbor_id"] for r in spark.read.parquet(path)
            .where(F.col("cell") == cell).select("neighbor_id").collect()]
    diff = spark.createDataFrame([(i, "removed") for i in gone],
                                 "vec_id long, status string")
    new = e.where(~F.col("vec_id").isin(gone))
    with conf_unchanged():
        assert ann_index.apply_diff_to_index(
            spark, path, diff, new, cents, books) == 1
    fresh_path = str(tmp_path / "fresh6")
    ann_index.build_ivfpq_index(new, fresh_path, cents, books)
    assert _snapshot(spark, path) == _snapshot(spark, fresh_path)
