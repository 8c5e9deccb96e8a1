"""Streaming SemDeDup (streaming/semantic_stream.py): the accumulated
pair/group state must equal batch ``semantic_pairs`` /
``semantic_dedup_groups`` with the same model — in both arrival orders,
with cross-batch pairs planted in both directions. Round 10: closes the
last batch-only cell of the dedup matrix."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from anomalyzer_spark.functions import similarity as S


def _clustered_embs(spark, seed=21, n_clusters=5, per=30, dim=16):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 5
    vecs = np.concatenate([
        c + 0.4 * rng.standard_normal((per, dim)) for c in centers])
    return spark.createDataFrame(
        [(i, [float(x) for x in v.round(4)]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def fixture(spark):
    e = _clustered_embs(spark)
    sample = np.asarray(
        [r["embedding"] for r in e.orderBy("vec_id").collect()],
        dtype=np.float64)
    cents = S.train_ivf_centroids(sample[:64], 5)
    return e, cents


THRESHOLD = 0.8


def _want_pairs(e, cents, n_assign=1):
    return sorted(
        (r["id_a"], r["id_b"], round(r["cos_sim"], 9))
        for r in S.semantic_pairs(
            e, threshold=THRESHOLD, centroids=cents, n_assign=n_assign,
            max_cell_rows=None).collect())


def test_stream_equals_batch_both_orders(spark, fixture, tmp_path):
    from anomalyzer_spark.streaming import run_semantic_stream_on_dir

    e, cents = fixture
    want = _want_pairs(e, cents)
    assert len(want) > 0, "fixture produced no pairs — threshold too high"
    splits = [e.where(F.col("vec_id") % 3 == i) for i in range(3)]
    for name, order in (("fwd", splits), ("rev", splits[::-1])):
        sdir = str(tmp_path / f"in_{name}")
        for part in order:
            part.coalesce(1).write.mode("append").parquet(sdir)
        got = sorted(
            (r["id_a"], r["id_b"], round(r["cos_sim"], 9))
            for r in run_semantic_stream_on_dir(
                spark, sdir, str(tmp_path / f"store_{name}"),
                str(tmp_path / f"ckpt_{name}"), cents,
                threshold=THRESHOLD, max_files_per_trigger=1).collect())
        assert got == want, f"arrival order {name} diverged from batch"


@pytest.mark.slow
def test_stream_groups_equal_batch_groups(spark, fixture, tmp_path):
    from anomalyzer_spark.streaming import (run_semantic_stream_on_dir,
                                            semantic_groups_store)

    e, cents = fixture
    sdir = str(tmp_path / "in")
    e.where(F.col("vec_id") < 75).coalesce(1) \
        .write.mode("append").parquet(sdir)
    e.where(F.col("vec_id") >= 75).coalesce(1) \
        .write.mode("append").parquet(sdir)
    store = str(tmp_path / "store")
    run_semantic_stream_on_dir(
        spark, sdir, store, str(tmp_path / "ckpt"), cents,
        threshold=THRESHOLD, max_files_per_trigger=1)
    got = sorted(map(tuple, semantic_groups_store(spark, store).collect()))
    want = sorted(map(tuple, S.semantic_dedup_groups(
        e, threshold=THRESHOLD, centroids=cents,
        max_cell_rows=None).collect()))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_multi_assign_and_empty_store(spark, fixture, tmp_path):
    from anomalyzer_spark.streaming import (run_semantic_stream_on_dir,
                                            semantic_pairs_store)

    e, cents = fixture
    # empty store reads back as a typed empty frame
    empty = semantic_pairs_store(spark, str(tmp_path / "nowhere"))
    assert empty.columns == ["id_a", "id_b", "cos_sim"]
    assert empty.count() == 0
    # n_assign=2 multi-probe: stream == batch (boundary pairs included)
    want = _want_pairs(e, cents, n_assign=2)
    sdir = str(tmp_path / "in2")
    e.coalesce(2).write.mode("append").parquet(sdir)
    got = sorted(
        (r["id_a"], r["id_b"], round(r["cos_sim"], 9))
        for r in run_semantic_stream_on_dir(
            spark, sdir, str(tmp_path / "store2"),
            str(tmp_path / "ckpt2"), cents,
            threshold=THRESHOLD, n_assign=2,
            max_files_per_trigger=1).collect())
    assert got == want
    assert len(got) >= len(_want_pairs(e, cents))


@pytest.mark.slow
def test_semantic_stream_retention_and_compaction(spark, fixture, tmp_path):
    """The shared store protocol bounds semantic state too: no live dirs
    older than the horizon, one complete compacted generation, and the
    pair state over the surviving corpus equals batch semantic_pairs on
    exactly those vectors."""
    import glob

    from anomalyzer_spark.streaming import (run_semantic_stream_on_dir,
                                            semantic_pairs_store)
    from anomalyzer_spark.streaming._store import (latest_gen,
                                                   live_batch_ids)

    e, cents = fixture
    sdir = str(tmp_path / "in")
    e.repartition(6).write.mode("overwrite").parquet(sdir)
    store = str(tmp_path / "store")
    K, H, C = 6, 3, 2
    run_semantic_stream_on_dir(
        spark, sdir, store, str(tmp_path / "ckpt"), cents,
        threshold=THRESHOLD, max_files_per_trigger=1,
        retention_batches=H, compact_every=C)
    min_live = K - H

    for name in ("vectors", "sem_pairs"):
        live = live_batch_ids(store, name)
        assert all(b >= min_live for b in live), (name, live)
        assert len(live) < C, (name, live)
        gens = glob.glob(f"{store}/compacted/{name}/gen=*")
        assert len(gens) == 1, gens
        gen_path, folded = latest_gen(store, name)
        assert gen_path is not None and folded == K - 1

    surv = spark.read.parquet(f"{store}/compacted/vectors/gen={K-1}")
    surv_ids = {r["vec_id"] for r in surv.select("vec_id").collect()}
    all_ids = {r["vec_id"] for r in e.select("vec_id").collect()}
    assert 0 < len(surv_ids) < len(all_ids)

    # exact batch contract over the in-horizon vectors (pairs restricted
    # to surviving endpoints — discovery-batch eviction mirrors minhash)
    got = {(r["id_a"], r["id_b"]): round(r["cos_sim"], 9)
           for r in semantic_pairs_store(spark, store).collect()
           if r["id_a"] in surv_ids and r["id_b"] in surv_ids}
    exp = {(r["id_a"], r["id_b"]): round(r["cos_sim"], 9)
           for r in S.semantic_pairs(
               e.where(F.col("vec_id").isin(list(surv_ids))),
               threshold=THRESHOLD, centroids=cents,
               max_cell_rows=None).collect()}
    assert len(exp) > 0
    # every batch-found pair among survivors whose members co-survived a
    # batch window is in the store; the store has no EXTRA survivor pairs
    assert set(got) <= set(exp)
    for k_, v in got.items():
        assert v == exp[k_], k_


def test_semantic_stream_replay_idempotent(spark, fixture, tmp_path):
    """At-least-once replay: a batch whose store writes landed but whose
    checkpoint commit did not is re-executed with the same batch id; the
    batch_id-dir overwrites plus the self-pair/orientation filters must
    leave the pair state exactly unchanged (the minhash replay
    contract)."""
    import glob
    import os

    from anomalyzer_spark.streaming import (run_semantic_stream_on_dir,
                                            semantic_pairs_store)

    e, cents = fixture
    sdir = str(tmp_path / "in")
    e.repartition(2).write.mode("overwrite").parquet(sdir)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    before = run_semantic_stream_on_dir(
        spark, sdir, store, ckpt, cents, threshold=THRESHOLD,
        max_files_per_trigger=1).collect()
    assert len(before) > 0

    commits = sorted(glob.glob(f"{ckpt}/commits/[0-9]*"))
    assert len(commits) >= 2, "need multiple batches for a replay test"
    os.remove(commits[-1])
    crc = os.path.join(os.path.dirname(commits[-1]),
                       f".{os.path.basename(commits[-1])}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    after = run_semantic_stream_on_dir(
        spark, sdir, store, ckpt, cents, threshold=THRESHOLD,
        max_files_per_trigger=1).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    assert semantic_pairs_store(spark, store).count() == len(before)
