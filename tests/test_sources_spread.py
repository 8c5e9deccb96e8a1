"""spread_partitions: input-size-derived scan spread (r16 item 5).

Pins the scale-adaptive contract: tiny input -> few partitions (no
32-micro-task fan-out), growing input -> more, capped at the session's
defaultParallelism, a constant default divisor, and a safe fallback when
the path cannot be stat'ed.
"""

import os

from anomalyzer_spark.sources import load_table, spread_partitions


def _write(tmp_path, name, n_bytes):
    p = tmp_path / name
    p.write_bytes(b"x" * n_bytes)
    return str(p)


def test_scales_with_bytes(spark, tmp_path):
    p = _write(tmp_path, "t.bin", 700 * 1024)
    assert spread_partitions(spark, p, bytes_per_partition=256 * 1024) == 3
    assert spread_partitions(spark, p, bytes_per_partition=1024 * 1024) == 1


def test_clamped_to_parallelism(spark, tmp_path):
    p = _write(tmp_path, "big.bin", 10 * 1024 * 1024)
    cap = spark.sparkContext.defaultParallelism
    assert spread_partitions(spark, p, bytes_per_partition=1) == cap


def test_conf_override_and_default(spark, tmp_path):
    p = _write(tmp_path, "t.bin", 512 * 1024)
    # library default: 256 KiB per partition
    assert spread_partitions(spark, p) == 2


def test_missing_path_falls_back_to_parallelism(spark, tmp_path, caplog):
    missing = str(tmp_path / "nope.parquet")
    with caplog.at_level("WARNING", logger="anomalyzer_spark"):
        assert spread_partitions(spark, missing) == \
            spark.sparkContext.defaultParallelism
    assert any(r.name == "anomalyzer_spark" and missing in r.getMessage()
               for r in caplog.records)


def test_directory_input_sums_files(spark, tmp_path):
    d = tmp_path / "tbl.parquet"
    d.mkdir()
    for i in range(3):
        (d / f"part-{i}").write_bytes(b"x" * 256 * 1024)
    assert spread_partitions(
        spark, str(d), bytes_per_partition=256 * 1024) == 3


def test_values_unchanged_under_spread(spark, tmp_path):
    """repartition count must never change WHAT a consumer computes."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        return
    from anomalyzer_spark.functions import dedup

    wide = load_table(spark, sf_dir, "documents", repartition=8)
    narrow = load_table(
        spark, sf_dir, "documents",
        repartition=spread_partitions(spark, f"{sf_dir}/documents.parquet"))
    a = dedup.dedup_paragraphs(wide, max_df=2, sep=". ")
    b = dedup.dedup_paragraphs(narrow, max_df=2, sep=". ")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
