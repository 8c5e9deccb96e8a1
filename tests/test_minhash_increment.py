"""Batch-mode incremental MinHash dedup (minhash_increment): sequential
increments over the persisted store accumulate to exactly the batch
minhash_lsh_pairs over the union (shared _ingest_batch with the stream),
explicit-batch_id replay is idempotent, and empty increments are no-ops
with a typed empty result."""

import pytest
from pyspark.sql import functions as F

from anomalyzer_spark.functions import dedup
from anomalyzer_spark.sources import load_table
from anomalyzer_spark.streaming.minhash_stream import (
    minhash_increment, minhash_pairs_store,
)

_P = dict(k=3, num_hashes=128, bands=32, threshold=0.5)


@pytest.mark.slow
def test_increments_accumulate_to_batch(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    new_pairs = []
    for i in range(3):
        inc = minhash_increment(
            spark, d.where(F.col("doc_id") % 3 == i), store, **_P)
        new_pairs.append({(r["id_a"], r["id_b"]): r["jaccard"]
                          for r in inc.collect()})
    exp = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.minhash_lsh_pairs(
               d, "text", "doc_id", **_P).collect()}
    assert len(exp) > 0, "fixture corpus must contain near-dups"
    # accumulated store == batch operator over the whole corpus
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_pairs_store(spark, store).collect()}
    assert got == exp
    # each pair was returned by exactly one increment (the one where its
    # later member arrived), and the union of returns is the store
    assert sum(len(p) for p in new_pairs) == len(exp)
    merged = {}
    for p in new_pairs:
        merged.update(p)
    assert merged == exp


@pytest.mark.slow
def test_increment_replay_idempotent(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    first = d.where(F.col("doc_id") < 250)
    second = d.where(F.col("doc_id") >= 250)
    minhash_increment(spark, first, store, **_P)
    out1 = sorted(map(tuple, minhash_increment(
        spark, second, store, **_P).collect()))
    n_before = minhash_pairs_store(spark, store).count()
    # the crash-replay window: the same increment re-lands under its
    # explicit batch_id — identical result, store unchanged
    out2 = sorted(map(tuple, minhash_increment(
        spark, second, store, batch_id=1, **_P).collect()))
    assert out1 == out2
    assert minhash_pairs_store(spark, store).count() == n_before


@pytest.mark.slow
def test_empty_increment_typed_noop(spark, sf_dir, tmp_path):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "store")
    minhash_increment(spark, d.where(F.col("doc_id") < 100), store, **_P)
    empty = minhash_increment(
        spark, d.where(F.lit(False)), store, **_P)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] \
        == ["id_a", "id_b", "jaccard"]
    assert empty.schema["id_a"].dataType.simpleString() == "bigint"
    # the empty ingest consumed no batch id: the next real increment
    # still lands as batch_id=1 and pairs keep accumulating
    nxt = minhash_increment(
        spark, d.where((F.col("doc_id") >= 100)
                       & (F.col("doc_id") < 200)), store, **_P)
    whole = dedup.minhash_lsh_pairs(
        d.where(F.col("doc_id") < 200), "text", "doc_id", **_P)
    got = {(r["id_a"], r["id_b"]) for r in
           minhash_pairs_store(spark, store).collect()}
    assert got == {(r["id_a"], r["id_b"]) for r in whole.collect()}
    assert nxt.schema["jaccard"].dataType.simpleString() == "double"


@pytest.mark.slow
def test_string_keyed_store_roundtrip(spark, sf_dir, tmp_path):
    """A store keyed by STRING doc ids: the returned pair frame derives
    its id type from the ingested frame (regression — a pinned 'long'
    read schema used to mismatch the written strings)."""
    d = (load_table(spark, sf_dir, "documents")
         .select(F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
                 .alias("doc_id"), "text"))
    store = str(tmp_path / "store")
    out = minhash_increment(spark, d, store, **_P)
    assert out.schema["id_a"].dataType.simpleString() == "string"
    rows = out.collect()
    assert rows and all(r["id_a"].startswith("doc-") for r in rows)
    exp = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
        d, "text", "doc_id", **_P).collect()}
    assert {(r["id_a"], r["id_b"]) for r in rows} == exp
    # empty increment on the same store still types from its frame
    empty = minhash_increment(spark, d.where(F.lit(False)), store, **_P)
    assert empty.schema["id_a"].dataType.simpleString() == "string"


def test_increment_at_compaction_tick_returns_its_pairs(spark, tmp_path):
    """The increment that triggers a compaction must still return the
    pairs it introduced, although the tick folds its live pair dir into
    a generation before the read."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    first = spark.createDataFrame([(1, text)], "doc_id long, text string")
    second = spark.createDataFrame([(2, text + " lambda")],
                                   "doc_id long, text string")
    store = str(tmp_path / "store")
    kw = dict(_P, num_hashes=32, bands=8, compact_every=2)
    assert minhash_increment(spark, first, store, **kw).count() == 0
    got = minhash_increment(spark, second, store, **kw).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]


def test_empty_store_pairs_typed_by_id_type(spark, tmp_path):
    """Before any batch lands, ``minhash_pairs_store`` returns an empty
    pair frame typed by ``id_type``, with the schema ingests write."""
    for id_type, name in (("long", "bigint"), ("string", "string")):
        empty = minhash_pairs_store(spark, str(tmp_path / "none"),
                                    id_type=id_type)
        assert empty.count() == 0
        assert [(f.name, f.dataType.simpleString(), f.nullable)
                for f in empty.schema.fields] == [
            ("id_a", name, True), ("id_b", name, True),
            ("jaccard", "double", True)]
