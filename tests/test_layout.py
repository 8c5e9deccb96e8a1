"""Output layout (sources/layout.py): file sizing + Z-order clustering.

The z-order check is physical, not circumstantial: parquet footer
min/max statistics per row group, read back with pyarrow, must show
NARROW ranges on BOTH clustered columns (that narrowness IS what lets a
reader skip row groups), versus ~full-range stats for an unclustered
control write of the same data.
"""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from anomalyzer_spark.sources import load_table
from anomalyzer_spark.sources.layout import (
    export_training_shards, shard_manifest, verify_shards,
    write_sized_parquet, write_zordered, zvalue)


def test_zvalue_bit_interleave(spark):
    df = spark.createDataFrame([(3, 0), (0, 3), (2, 1)], "x long, y long")
    got = [r["z"] for r in df.select(
        zvalue(["x", "y"], bits=2).alias("z")).collect()]
    # bit layout (low→high): x0, y0, x1, y1
    assert got == [0b0101, 0b1010, 0b0110]
    with pytest.raises(ValueError, match=">= 2"):
        zvalue(["x"])
    with pytest.raises(ValueError, match="fit a long"):
        zvalue(["x", "y", "x", "y"], bits=16)


def _rowgroup_ranges(path: str, col: str) -> list[tuple[float, float]]:
    out = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            out.append((float(st.min), float(st.max)))
    return out


def test_write_zordered_narrows_rowgroup_stats(spark, sf_dir, tmp_path):
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    zpath, cpath = str(tmp_path / "z"), str(tmp_path / "control")
    # 32 z-ranges over 2 dims → expected per-dim file range ≈ 1/sqrt(32)
    # plus Morton boundary effects (measured 0.21-0.31 on the fixtures)
    write_zordered(od, zpath, ["o_custkey", "o_totalprice"], n_files=32)
    # control: random (hash) distribution, no clustering
    od.repartition(8).write.mode("overwrite").parquet(cpath)

    # content survives the rewrite exactly
    back = spark.read.parquet(zpath)
    assert back.count() == od.count()
    assert back.agg(F.sum("o_orderkey")).collect()[0][0] == \
        od.agg(F.sum("o_orderkey")).collect()[0][0]

    for col in ("o_custkey", "o_totalprice"):
        lo = float(od.agg(F.min(col)).collect()[0][0])
        hi = float(od.agg(F.max(col)).collect()[0][0])
        span = hi - lo

        def avg_frac(path):
            rng = _rowgroup_ranges(path, col)
            assert rng
            return sum((b - a) for a, b in rng) / len(rng) / span

        z_frac, c_frac = avg_frac(zpath), avg_frac(cpath)
        # control row groups see ~the whole domain; z-ordered ones see a
        # narrow slice of BOTH dimensions at once
        assert c_frac > 0.8, (col, c_frac)
        assert z_frac < 0.5 * c_frac, (col, z_frac, c_frac)


def test_write_sized_parquet_bounds_file_rows(spark, sf_dir, tmp_path):
    od = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "sized")
    n_per_file = write_sized_parquet(od, out, target_mb=1)
    assert n_per_file > 0
    files = glob.glob(f"{out}/*.parquet")
    assert files
    for f in files:
        assert pq.ParquetFile(f).metadata.num_rows <= n_per_file
    with pytest.raises(ValueError, match="target_mb"):
        write_sized_parquet(od, out, target_mb=0)


def test_write_sized_parquet_partition_by(spark, sf_dir, tmp_path):
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    out = str(tmp_path / "sized_parts")
    write_sized_parquet(od, out, target_mb=64,
                        partition_by=["o_orderstatus"])
    parts = glob.glob(f"{out}/o_orderstatus=*")
    assert len(parts) >= 2
    assert spark.read.parquet(out).count() == od.count()


def test_write_sized_parquet_sets_its_own_overwrite_mode(
        spark, sf_dir, tmp_path):
    """The overwrite mode comes from the call, never from the session: a
    static overwrite under a session set to dynamic still replaces the
    whole table, and ``dynamic_overwrite`` under the default static
    session replaces only the partitions the frame has rows for."""
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus")
    out = str(tmp_path / "modes")
    write_sized_parquet(od, out, partition_by=["o_orderstatus"])
    statuses = {r[0] for r in od.select("o_orderstatus").distinct().collect()}
    assert {"F", "O"} <= statuses

    def on_disk():
        return {p.rsplit("=", 1)[1]
                for p in glob.glob(f"{out}/o_orderstatus=*")}

    mode = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(mode, "dynamic")
    try:
        write_sized_parquet(od.where(F.col("o_orderstatus") == "F"), out,
                            partition_by=["o_orderstatus"])
    finally:
        spark.conf.unset(mode)
    assert on_disk() == {"F"}
    write_sized_parquet(od.where(F.col("o_orderstatus") == "O"), out,
                        partition_by=["o_orderstatus"],
                        dynamic_overwrite=True)
    assert on_disk() == {"F", "O"}


def _packed(spark, sf_dir):
    from anomalyzer_spark.functions import packing
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return packing.pack_chunks(docs, 512, n_shards=8, carry_cols=["lang"])


def test_export_and_verify_roundtrip(spark, sf_dir, tmp_path):
    """Export → verify is all-ok; manifest counts match the input; the
    manifest read back equals the one computed from the input."""
    packed = _packed(spark, sf_dir)
    out = str(tmp_path / "exp")
    man = export_training_shards(packed, out, token_col="n_toks")
    want = {r["shard"]: (r["n_rows"], r["n_tokens"], r["checksum"])
            for r in shard_manifest(
                packed, token_col="n_toks").collect()}
    got = {r["shard"]: (r["n_rows"], r["n_tokens"], r["checksum"])
           for r in man.collect()}
    assert got == want and len(got) == 8
    assert sum(v[0] for v in got.values()) == packed.count()
    ver = verify_shards(spark, out, token_col="n_toks")
    assert {r["status"] for r in ver.collect()} == {"ok"}
    assert ver.count() == 8


def test_verify_flags_tampered_shard(spark, sf_dir, tmp_path):
    """Dropping rows from one shard's files flags exactly that shard as
    mismatch; deleting a whole shard directory flags it missing."""
    import shutil

    packed = _packed(spark, sf_dir)
    out = str(tmp_path / "exp")
    export_training_shards(packed, out, token_col="n_toks")
    # tamper: rewrite shard=3 with half its rows
    part = f"{out}/data/shard=3"
    half = spark.read.parquet(part)
    half = half.limit(half.count() // 2).toPandas()
    shutil.rmtree(part)
    spark.createDataFrame(half).write.parquet(part)
    shutil.rmtree(f"{out}/data/shard=5")
    ver = {r["shard"]: r["status"] for r in verify_shards(
        spark, out, token_col="n_toks").collect()}
    assert ver[3] == "mismatch"
    assert ver[5] == "missing"
    assert all(v == "ok" for s, v in ver.items() if s not in (3, 5))


def test_shard_manifest_order_independent_and_dup_sensitive(spark):
    df = spark.createDataFrame(
        [(0, 10, "a"), (0, 11, None), (1, 12, "c")],
        "shard int, doc_id long, tag string")
    a = {tuple(r) for r in shard_manifest(df).collect()}
    b = {tuple(r) for r in shard_manifest(df.repartition(7)).collect()}
    assert a == b
    # a duplicated row CHANGES the checksum (sum fold, not xor)
    dup = df.union(df.limit(1))
    ca = {r["shard"]: r["checksum"] for r in shard_manifest(df).collect()}
    cd = {r["shard"]: r["checksum"] for r in shard_manifest(dup).collect()}
    assert ca[0] != cd[0] and ca[1] == cd[1]
    # NULL vs the string 'NULL' must not collide (sentinel separator)
    n1 = spark.createDataFrame([(0, "x", None)], "shard int, a string, b string")
    n2 = spark.createDataFrame([(0, "x", "\x00NULL")],
                               "shard int, a string, b string")
    c1 = shard_manifest(n1).collect()[0]["checksum"]
    c2 = shard_manifest(n2).collect()[0]["checksum"]
    assert c1 == c2  # documented: sentinel string equals NULL by design
    with pytest.raises(ValueError, match="no checksum columns"):
        shard_manifest(spark.createDataFrame([(1,)], "shard int"))


def test_shard_manifest_duckdb_parity(spark, sf_dir, tmp_path):
    """The manifest fold (md5 -> 48-bit window -> exact sum -> mod) is
    engine-portable: DuckDB recomputes identical checksums from the
    exported parquet, so manifests are verifiable outside Spark."""
    import duckdb

    packed = _packed(spark, sf_dir)
    out = str(tmp_path / "exp")
    man = {r["shard"]: (r["n_rows"], r["n_tokens"], r["checksum"])
           for r in export_training_shards(
               packed, out, token_col="n_toks").collect()}
    con = duckdb.connect()
    # checksum cols = sorted non-shard columns of the exported frame
    cols = sorted(c for c in packed.columns if c != "shard")
    expr = " || chr(31) || ".join(
        f"coalesce({c}::VARCHAR, chr(0) || 'NULL')" for c in cols)
    want = {int(r[0]): (r[1], r[2], r[3]) for r in con.execute(f"""
SELECT shard, count(*)::BIGINT AS n_rows, sum(n_toks)::BIGINT AS n_tokens,
       (sum(('0x' || substr(md5({expr}), 1, 12))::BIGINT::HUGEINT)
        % 281474976710656)::BIGINT AS checksum
FROM read_parquet('{out}/data/*/*.parquet', hive_partitioning = true)
GROUP BY shard""").fetchall()}
    assert man == want and len(man) == 8


def test_assign_shards_deterministic_and_balanced(spark, sf_dir):
    from anomalyzer_spark.sources.layout import assign_shards
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")
    a = assign_shards(docs, 8, id_cols=["doc_id"], seed=7,
                      key_col="k")
    rows = {r["doc_id"]: (r["shard"], r["k"]) for r in a.collect()}
    # deterministic: a second independent plan reproduces the assignment
    b = {r["doc_id"]: (r["shard"], r["k"])
         for r in assign_shards(docs.repartition(13), 8,
                                id_cols=["doc_id"], seed=7,
                                key_col="k").collect()}
    assert rows == b
    # every shard populated, roughly balanced (md5-uniform)
    from collections import Counter
    sizes = Counter(s for s, _ in rows.values())
    assert set(sizes) == set(range(8))
    assert max(sizes.values()) < 2.5 * min(sizes.values())
    # a different seed draws an independent permutation
    c = {r["doc_id"]: r["shard"]
         for r in assign_shards(docs, 8, id_cols=["doc_id"],
                                seed=8).collect()}
    assert any(c[d] != s for d, (s, _) in rows.items())
    # shard == key % n_shards: the order key and placement agree
    assert all(k % 8 == s for s, k in rows.values())


def test_assign_shards_validation(spark):
    from anomalyzer_spark.sources.layout import assign_shards
    df = spark.createDataFrame([(1, "a")], "doc_id long, shard string")
    with pytest.raises(ValueError, match="n_shards"):
        assign_shards(df, 0)
    with pytest.raises(ValueError, match="already exists"):
        assign_shards(df, 2)
    with pytest.raises(ValueError, match="not in frame"):
        assign_shards(df.select("doc_id"), 2, id_cols=["nope"])


def test_assign_shards_duckdb_parity(spark, sf_dir, tmp_path):
    """The (seed, id) -> shard fold is replayable as pure SQL: DuckDB
    recomputes identical shard ids from the raw parquet."""
    import duckdb
    from anomalyzer_spark.sources.layout import assign_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = {r["doc_id"]: r["shard"]
           for r in assign_shards(docs, 5, id_cols=["doc_id"],
                                  seed=3).collect()}
    con = duckdb.connect()
    want = {int(r[0]): int(r[1]) for r in con.execute(f"""
SELECT doc_id,
       ('0x' || substr(md5('shard:3' || chr(31) ||
                        coalesce(doc_id::VARCHAR, chr(0) || 'NULL')),
                       1, 12))::BIGINT % 5 AS shard
FROM read_parquet('{sf_dir}/documents.parquet')""").fetchall()}
    assert got == want and len(got) > 0


def test_assign_shards_export_roundtrip(spark, sf_dir, tmp_path):
    """assign_shards(cluster=True) -> export -> verify is all-ok, and
    re-running the whole pipeline from the same snapshot+seed rebuilds
    shards with identical manifests (the reproducibility contract)."""
    from anomalyzer_spark.sources.layout import assign_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")
    mans = []
    for out in (str(tmp_path / "e1"), str(tmp_path / "e2")):
        sharded = assign_shards(docs, 4, id_cols=["doc_id"], seed=1,
                                cluster=True)
        man = export_training_shards(sharded, out)
        mans.append({r["shard"]: (r["n_rows"], r["checksum"])
                     for r in man.collect()})
        ver = verify_shards(spark, out)
        assert {r["status"] for r in ver.collect()} == {"ok"}
    assert mans[0] == mans[1] and len(mans[0]) == 4


def _doc_snapshots(spark, sf_dir):
    """Old snapshot, new snapshot (adds + changes + removes), and docs."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")
    old = docs.where(F.col("doc_id") < 450)
    new = (docs.where((F.col("doc_id") < 430) | (F.col("doc_id") >= 460))
           .withColumn("text", F.when(F.col("doc_id") % 97 == 0,
                                      F.concat(F.col("text"), F.lit(" v2")))
                       .otherwise(F.col("text"))))
    return old, new


def test_refresh_shards_equals_full_reexport(spark, sf_dir, tmp_path):
    """Incremental refresh from a snapshot diff converges to exactly the
    manifest a fresh full export of the new snapshot produces; verify is
    all-ok; untouched shard partitions keep their files byte-identical;
    replaying the same diff is a no-op on the manifest (idempotent)."""
    import hashlib

    from anomalyzer_spark.functions.dedup import snapshot_diff
    from anomalyzer_spark.sources.layout import assign_shards, refresh_shards

    old, new = _doc_snapshots(spark, sf_dir)
    inc = str(tmp_path / "inc")
    export_training_shards(
        assign_shards(old, 6, id_cols=["doc_id"], seed=2, cluster=True),
        inc)
    diff = snapshot_diff(old, new)
    affected = {r["shard"] for r in diff.select(
        (F.conv(F.substring(F.md5(F.concat_ws(
            "\x1f", F.lit("shard:2"), F.col("doc_id").cast("string"))
            .cast("binary")), 1, 12), 16, 10).cast("long") % 6)
        .cast("int").alias("shard")).distinct().collect()}
    untouched = sorted(set(range(6)) - affected)

    def _dirhash(shard):
        h = hashlib.md5()
        for f in sorted(glob.glob(f"{inc}/data/shard={shard}/*.parquet")):
            h.update(open(f, "rb").read())
        return h.hexdigest()

    before = {s: _dirhash(s) for s in untouched}
    n = refresh_shards(new, diff, inc, 6, seed=2)
    assert n == len(affected) > 0
    assert {s: _dirhash(s) for s in untouched} == before

    ver = verify_shards(spark, inc)
    assert {r["status"] for r in ver.collect()} == {"ok"}

    full = str(tmp_path / "full")
    export_training_shards(
        assign_shards(new, 6, id_cols=["doc_id"], seed=2, cluster=True),
        full)
    man_inc = {r["shard"]: (r["n_rows"], r["checksum"]) for r in
               spark.read.parquet(f"{inc}/manifest").collect()}
    man_full = {r["shard"]: (r["n_rows"], r["checksum"]) for r in
                spark.read.parquet(f"{full}/manifest").collect()}
    assert man_inc == man_full

    # replay: same diff again converges to the same manifest
    refresh_shards(new, diff, inc, 6, seed=2)
    assert {r["shard"]: (r["n_rows"], r["checksum"]) for r in
            spark.read.parquet(f"{inc}/manifest").collect()} == man_full


def test_refresh_shards_deletes_emptied_shard(spark, sf_dir, tmp_path,
                                              conf_unchanged):
    """An affected shard whose documents ALL disappear is deleted from
    disk (dynamic overwrite alone would leave stale files), and verify
    stays all-ok with the remaining shards. The refresh sets its
    overwrite mode on the write, never on the session."""
    from anomalyzer_spark.functions.dedup import snapshot_diff
    from anomalyzer_spark.sources.layout import assign_shards, refresh_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") < 40)
    # keep only the docs of shard 0 (seed 5, 2 shards) -> shard 1 empties
    sharded = assign_shards(old, 2, id_cols=["doc_id"], seed=5)
    keep_ids = [r["doc_id"] for r in
                sharded.where(F.col("shard") == 0).collect()]
    new = old.where(F.col("doc_id").isin(keep_ids))

    out = str(tmp_path / "exp")
    export_training_shards(
        assign_shards(old, 2, id_cols=["doc_id"], seed=5, cluster=True),
        out)
    with conf_unchanged():
        n = refresh_shards(new, snapshot_diff(old, new), out, 2, seed=5)
    assert n == 1
    assert glob.glob(f"{out}/data/shard=1") == []
    ver = verify_shards(spark, out)
    assert {(r["shard"], r["status"]) for r in ver.collect()} == {(0, "ok")}


def test_refresh_shards_contract(spark, sf_dir, tmp_path):
    """Unknown diff statuses raise; an unchanged-only diff is a no-op."""
    from anomalyzer_spark.functions.dedup import snapshot_diff
    from anomalyzer_spark.sources.layout import assign_shards, refresh_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text") \
        .where(F.col("doc_id") < 50)
    out = str(tmp_path / "exp")
    export_training_shards(
        assign_shards(docs, 3, id_cols=["doc_id"], seed=0, cluster=True),
        out)
    bad = spark.createDataFrame([(1, "mutated")], "doc_id long, status string")
    with pytest.raises(ValueError, match="unexpected diff status"):
        refresh_shards(docs, bad, out, 3)
    noop = snapshot_diff(docs, docs, include_unchanged=True)
    assert refresh_shards(docs, noop, out, 3) == 0
    assert {r["status"] for r in verify_shards(spark, out).collect()} \
        == {"ok"}


def _files_per_shard(tmpdir: str) -> dict[int, list[str]]:
    import os
    out = {}
    data = os.path.join(tmpdir, "data")
    for d in os.listdir(data):
        if d.startswith("shard="):
            s = int(d.split("=", 1)[1])
            out[s] = sorted(
                f for f in os.listdir(os.path.join(data, d))
                if f.endswith(".parquet"))
    return out


def test_compact_shards_merges_small_files_only_where_needed(
        spark, sf_dir, tmp_path):
    """Force a small-files explosion (1 row/file via a degenerate
    compression ratio), compact, and pin: file counts collapse to the
    target sizing, the stored manifest STILL verifies (content exactly
    preserved), and rows are identical."""
    from anomalyzer_spark.sources.layout import compact_shards
    packed = _packed(spark, sf_dir)
    out = str(tmp_path / "exp")
    # export with a sane manifest, then blow up the data layout:
    # rewrite the data dir at ~1 row per file
    export_training_shards(packed, out, token_col="n_toks")
    from anomalyzer_spark.sources.layout import write_sized_parquet
    write_sized_parquet(spark.read.parquet(f"{out}/data"), f"{out}/data2",
                        target_mb=1, partition_by=["shard"],
                        compression_ratio=1e-7)
    import shutil
    shutil.rmtree(f"{out}/data")
    shutil.move(f"{out}/data2", f"{out}/data")
    before = _files_per_shard(out)
    assert all(len(v) > 1 for v in before.values())  # explosion is real
    rows_before = sorted(map(tuple,
                             spark.read.parquet(f"{out}/data").collect()))

    n = compact_shards(spark, out, target_mb=256)
    assert n == len(before)  # every shard was oversplit -> all compacted
    after = _files_per_shard(out)
    assert set(after) == set(before)
    assert all(len(v) == 1 for v in after.values())  # tiny data: one file
    assert sorted(map(tuple,
                      spark.read.parquet(f"{out}/data").collect())) \
        == rows_before
    ver = verify_shards(spark, out, token_col="n_toks")
    assert {r["status"] for r in ver.collect()} == {"ok"}
    # second pass: nothing left to do, nothing touched
    assert compact_shards(spark, out, target_mb=256) == 0


def test_compact_shards_leaves_healthy_partitions_untouched(
        spark, sf_dir, tmp_path):
    """Oversplit ONE shard; compaction rewrites exactly that partition —
    every other partition keeps byte-identical file lists (names AND
    mtimes), the healthy-shard files are never even read."""
    import os
    import shutil
    from anomalyzer_spark.sources.layout import (compact_shards,
                                                 write_sized_parquet)
    packed = _packed(spark, sf_dir)
    out = str(tmp_path / "exp")
    export_training_shards(packed, out, token_col="n_toks")
    victim = 3
    vdir = f"{out}/data/shard={victim}"
    vdf = spark.read.parquet(vdir).withColumn("shard", F.lit(victim))
    write_sized_parquet(vdf.drop("shard"), f"{out}/vtmp", target_mb=1,
                        compression_ratio=1e-7)
    shutil.rmtree(vdir)
    os.makedirs(vdir)
    for f in os.listdir(f"{out}/vtmp"):
        if f.endswith(".parquet"):
            shutil.move(f"{out}/vtmp/{f}", f"{vdir}/{f}")
    before = _files_per_shard(out)
    assert len(before[victim]) > 1
    stamp = {s: [(f, os.path.getmtime(f"{out}/data/shard={s}/{f}"))
                 for f in fl] for s, fl in before.items() if s != victim}

    assert compact_shards(spark, out, target_mb=256) == 1
    after = _files_per_shard(out)
    assert len(after[victim]) == 1
    got_stamp = {s: [(f, os.path.getmtime(f"{out}/data/shard={s}/{f}"))
                     for f in fl]
                 for s, fl in after.items() if s != victim}
    assert got_stamp == stamp  # healthy partitions byte-untouched
    ver = verify_shards(spark, out, token_col="n_toks")
    assert {r["status"] for r in ver.collect()} == {"ok"}
