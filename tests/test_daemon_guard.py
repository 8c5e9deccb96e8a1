"""The Python-worker daemon's zipimport invalidate-caches mtime guard.

Spark 4.1's worker runs ``importlib.invalidate_caches()`` once per TASK,
and CPython 3.11's ``zipimporter.invalidate_caches()`` re-reads the
archive's whole central directory unconditionally — ~0.65 s wall /
~0.24 s CPU per Python-boundary task against pyspark.zip on a
distribution install. ``anomalyzer_spark._daemon`` guards the re-read
behind an (mtime_ns, size) check; these tests pin that the guard skips
unchanged archives and still invalidates genuinely modified ones.
"""

import os
import sys
import zipfile
import zipimport

import pytest

from anomalyzer_spark import _daemon
from anomalyzer_spark.session import get_spark


def _make_zip(path, payload: bytes) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("guardmod.py", "VALUE = %r\n" % payload.decode())


def test_guard_skips_unchanged_archive(tmp_path, monkeypatch):
    zpath = str(tmp_path / "pkg.zip")
    _make_zip(zpath, b"one")
    zi = zipimport.zipimporter(zpath)

    calls = []
    monkeypatch.setattr(_daemon, "_orig_invalidate",
                        lambda self: calls.append(self.archive))
    monkeypatch.setattr(_daemon, "_seen", {})

    # first call: unseen archive -> delegates (re-read happens once)
    _daemon._invalidate_caches(zi)
    assert calls == [zpath]
    # per-task repeats on an untouched archive: all skipped
    for _ in range(5):
        _daemon._invalidate_caches(zi)
    assert calls == [zpath]


def test_guard_invalidates_modified_archive(tmp_path, monkeypatch):
    zpath = str(tmp_path / "pkg.zip")
    _make_zip(zpath, b"one")
    zi = zipimport.zipimporter(zpath)

    calls = []
    monkeypatch.setattr(_daemon, "_orig_invalidate",
                        lambda self: calls.append(self.archive))
    monkeypatch.setattr(_daemon, "_seen", {})

    _daemon._invalidate_caches(zi)
    _make_zip(zpath, b"two-with-longer-payload")  # size + mtime change
    _daemon._invalidate_caches(zi)
    assert calls == [zpath, zpath]  # modified archive delegated again

    # and a vanished archive fails open to the original behavior
    os.unlink(zpath)
    _daemon._invalidate_caches(zi)
    assert calls == [zpath, zpath, zpath]


def test_guard_invalidates_every_importer_of_archive(tmp_path, monkeypatch):
    """One archive has several live importers (one per package path in
    it), each with its own cached directory: a changed archive must reach
    all of them, not just the first to be asked."""
    zpath = str(tmp_path / "pkg.zip")
    _make_zip(zpath, b"one")
    importers = [zipimport.zipimporter(zpath) for _ in range(4)]

    calls = []
    monkeypatch.setattr(_daemon, "_orig_invalidate",
                        lambda self: calls.append(self))
    monkeypatch.setattr(_daemon, "_seen", {})

    for zi in importers:
        _daemon._invalidate_caches(zi)
    for zi in importers:  # untouched: every importer skips
        _daemon._invalidate_caches(zi)
    assert calls == importers

    _make_zip(zpath, b"two-with-longer-payload")
    for zi in importers:
        _daemon._invalidate_caches(zi)
    assert calls == importers * 2


def test_guard_preserves_reload_semantics(tmp_path):
    """End-to-end through the REAL patched method: a module imported from
    a zip still picks up a changed archive after invalidate_caches()."""
    zpath = str(tmp_path / "live.zip")
    _make_zip(zpath, b"one")
    sys.path.insert(0, zpath)
    try:
        import guardmod  # noqa: F401
        assert guardmod.VALUE == "one"
        del sys.modules["guardmod"]

        # untouched archive: cached directory still serves the module
        import importlib
        importlib.invalidate_caches()
        import guardmod
        assert guardmod.VALUE == "one"
        del sys.modules["guardmod"]

        _make_zip(zpath, b"two")
        importlib.invalidate_caches()
        import guardmod
        assert guardmod.VALUE == "two"
    finally:
        sys.path.remove(zpath)
        sys.modules.pop("guardmod", None)


def test_session_sets_daemon_module(spark):
    assert (spark.conf.get("spark.python.daemon.module")
            == "anomalyzer_spark._daemon")


def test_detect_kernel_runs_through_daemon(spark, sf_dir):
    """A pandas-UDF query executes through the patched daemon path."""
    from anomalyzer_spark import AnomalyzerConf, detect
    from anomalyzer_spark.sources import load_table

    events = load_table(spark, sf_dir, "events")
    out = detect(events, ["event_type"], "ts", "value",
                 AnomalyzerConf(active_size=2),
                 tiebreak_cols=["event_id"]).collect()
    assert len(out) > 0 and all(0.0 <= r["prob"] <= 1.0 for r in out)


_FOREIGN_CWD_DRIVER = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from anomalyzer_spark.session import get_spark

spark = get_spark("foreign-cwd")

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print("ROWS", [r[0] for r in spark.range(3).select(plus_one("id")).collect()])
spark.stop()
"""


def test_python_tasks_run_from_a_foreign_cwd(tmp_path):
    """A driver that imports the package through sys.path, from a cwd
    that is not the repository and with no PYTHONPATH, must still run
    Python tasks: the workers import the daemon module by name, so the
    session has to put the package on their path."""
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(_daemon.__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    proc = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_DRIVER.format(root=root)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert "ROWS [1, 2, 3]" in proc.stdout, proc.stderr[-3000:]
