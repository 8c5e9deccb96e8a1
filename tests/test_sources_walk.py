"""spread_partitions on directory layouts a flat glob gets wrong: nested
``k=v/`` partition directories, and paths holding glob metacharacters."""

from anomalyzer_spark.sources import spread_partitions

KIB = 1024


def _fill(d, names, n_bytes):
    d.mkdir(parents=True, exist_ok=True)
    for name in names:
        (d / name).write_bytes(b"x" * n_bytes)


def test_nested_partition_dirs_are_summed(spark, tmp_path):
    root = tmp_path / "tbl.parquet"
    _fill(root / "day=1", ["part-0.parquet"], 256 * KIB)
    _fill(root / "day=2" / "hour=0", ["part-0.parquet"], 256 * KIB)
    _fill(root, ["_SUCCESS"], 0)
    assert spread_partitions(spark, str(root), bytes_per_partition=256 * KIB) == 2


def test_hidden_files_are_skipped(spark, tmp_path):
    root = tmp_path / "tbl.parquet"
    _fill(root / "day=1", ["part-0.parquet"], 256 * KIB)
    _fill(root / "day=1", [".part-0.parquet.crc"], 256 * KIB)
    _fill(root / ".staging", ["part-9.parquet"], 256 * KIB)
    assert spread_partitions(spark, str(root), bytes_per_partition=256 * KIB) == 1


def test_glob_metacharacters_in_path(spark, tmp_path):
    root = tmp_path / "t[1].parquet"
    _fill(root, ["part-0", "part-1", "part-2"], 256 * KIB)
    # a decoy the bracket pattern would match as a glob
    _fill(tmp_path / "t1.parquet", ["part-0"], 4 * KIB)
    assert spread_partitions(spark, str(root), bytes_per_partition=256 * KIB) == 3
