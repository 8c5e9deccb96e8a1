"""get_spark's driver heap default."""

from anomalyzer_spark import session

GIB = 2**30


def test_default_driver_memory_is_half_the_memory_capped_at_32g():
    assert session.default_driver_memory(15 * GIB) == "7680m"
    assert session.default_driver_memory(64 * GIB) == "32g"
    assert session.default_driver_memory(512 * GIB) == "32g"
    assert session.default_driver_memory(None) == "32g"


def test_usable_memory_takes_the_cgroup_limit_under_the_host(tmp_path):
    host = session._usable_memory(str(tmp_path))  # no limit files
    assert host is None or host > 0
    (tmp_path / "memory.max").write_text("max\n")
    assert session._usable_memory(str(tmp_path)) == host
    (tmp_path / "memory").mkdir()
    (tmp_path / "memory" / "memory.limit_in_bytes").write_text(
        "9223372036854771712\n")
    assert session._usable_memory(str(tmp_path)) == host
    (tmp_path / "memory.max").write_text(f"{6 * GIB}\n")
    assert session._usable_memory(str(tmp_path)) == 6 * GIB
    assert session.default_driver_memory(6 * GIB) == "3072m"
    (tmp_path / "memory" / "memory.limit_in_bytes").write_text(f"{4 * GIB}\n")
    assert session._usable_memory(str(tmp_path)) == 4 * GIB
