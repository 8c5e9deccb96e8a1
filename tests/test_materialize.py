"""session.materialize: the one eager checkpoint of the library.

The policy follows the session's checkpoint dir (reliable ``checkpoint``
when one is set, ``localCheckpoint`` otherwise); streaming frames pass
through; ``compact=True`` sizes partitions from measured bytes. The
reliable branch runs here against a temporary checkpoint dir and must
give the same rows as the default local branch."""

import ast
import contextlib
import logging
import os
import pathlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomalyzer_spark import session
from anomalyzer_spark.functions import dedup, similarity, sketch

REPO = pathlib.Path(__file__).resolve().parents[1]


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """Factory of a scope that sets the shared session's checkpoint dir to
    ``tmp_path`` and unsets it again on exit (Spark has no public unset)."""
    sc = spark.sparkContext

    def unset():
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty())

    @contextlib.contextmanager
    def scope():
        assert sc.getCheckpointDir() is None
        sc.setCheckpointDir(str(tmp_path))
        try:
            yield tmp_path
        finally:
            unset()

    yield scope
    unset()
    assert sc.getCheckpointDir() is None


def _checkpoint_files(root) -> list[str]:
    return [f for _, _, files in os.walk(root) for f in files
            if f.startswith("part-")]


def _kll(spark):
    df = spark.createDataFrame([(float(i % 97),) for i in range(600)],
                               "a double")
    shards = [sketch.kll_profile(df.where(F.col("a") % 3 == i), ["a"], k=16)
              for i in range(3)]
    return sketch.merge_kll(shards, k=16)


def _components(spark):
    corpus = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 20)] + [(25, 30), (30, 35)],
        "id_a long, id_b long")
    return dedup.duplicate_groups(corpus, pairs, driver_threshold=0)


def _cosine_lsh(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((8, 8))
    vecs = np.vstack([base, base + 1e-4])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    return similarity.cosine_pairs(df, threshold=0.95, use_lsh=True, dim=8,
                                   n_planes=8, bands=4, seed=3)


def _compact(spark):
    return session.materialize(
        spark.range(0, 4000, 1, 16).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")),
        reason="test", compact=True)


@pytest.mark.parametrize("build", [_components, _kll, _cosine_lsh, _compact],
                         ids=["duplicate_groups", "merge_kll",
                              "cosine_pairs_lsh", "compact"])
def test_reliable_mode_rows_equal_local_mode(spark, reliable_checkpoints,
                                             build):
    """With a checkpoint dir set, every materialization is a reliable
    checkpoint: identical rows, files under the dir, no persisted RDD
    left behind (a reliable checkpoint stores no blocks)."""
    local = sorted(map(tuple, build(spark).collect()), key=repr)
    assert local
    with reliable_checkpoints() as ckdir:
        before = session._persistent_rdd_ids(spark)
        reliable = sorted(map(tuple, build(spark).collect()), key=repr)
        assert session._persistent_rdd_ids(spark) - before == set()
    assert reliable == local
    assert _checkpoint_files(ckdir)
    assert spark.sparkContext.getCheckpointDir() is None


def test_compact_under_reliable_keeps_inherited_partitioning(
        spark, reliable_checkpoints):
    """A reliable checkpoint persists no blocks, so there is no size to
    read: compact=True keeps the input's partitioning instead of
    coalescing to one partition on a measured 0 bytes."""
    with reliable_checkpoints():
        out = _compact(spark)
    assert out.rdd.getNumPartitions() == 16
    assert out.count() == 4000


def test_materialize_logs_one_debug_record(spark, caplog):
    df = spark.range(0, 100, 1, 4)
    with caplog.at_level(logging.DEBUG, logger="anomalyzer_spark"):
        out = session.materialize(df, reason="unit.frame")
    recs = [r.getMessage() for r in caplog.records
            if r.name == "anomalyzer_spark"]
    assert len(recs) == 1
    assert "unit.frame" in recs[0] and "mode=local" in recs[0]
    assert "partitions=4" in recs[0] and "ms=" in recs[0]
    assert out.count() == 100


def test_streaming_frame_passes_through(spark):
    sdf = spark.readStream.format("rate").load()
    assert session.materialize(sdf, reason="unit.stream") is sdf
    assert session.materialize(sdf, reason="unit.stream", compact=True) \
        is sdf


def _checkpoint_calls():
    """(path, line, attribute, inside session.materialize) for every
    ``.localCheckpoint`` / ``.checkpoint`` attribute in the package and
    the entry file."""
    files = sorted((REPO / "anomalyzer_spark").rglob("*.py")) + \
        [REPO / "__spark_entry__.py"]
    out = []
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        spans = [(n.lineno, n.end_lineno) for n in ast.walk(tree)
                 if isinstance(n, ast.FunctionDef)
                 and n.name == "materialize"
                 and path.name == "session.py"]
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and \
                    node.attr in ("localCheckpoint", "checkpoint"):
                inside = any(a <= node.lineno <= b for a, b in spans)
                out.append((str(path.relative_to(REPO)), node.lineno,
                            node.attr, inside))
    return out


def test_only_materialize_checkpoints():
    """Every eager checkpoint of the library and the entry file goes
    through session.materialize, which holds exactly one of each call."""
    calls = _checkpoint_calls()
    outside = [c for c in calls if not c[3]]
    assert outside == [], f"checkpoint outside session.materialize: {outside}"
    assert sorted(c[2] for c in calls) == ["checkpoint", "localCheckpoint"]
