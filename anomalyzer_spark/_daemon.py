"""Python-worker daemon with a zipimport invalidate-caches mtime guard.

Spark's worker protocol runs ``importlib.invalidate_caches()`` once per
TASK (pyspark ``worker_util.setup_spark_files``, unconditional), and a
distribution install (SPARK_HOME) launches workers with ``pyspark.zip``
and the py4j zip on ``sys.path`` — one live ``zipimporter`` per package
path entry inside each archive. CPython 3.11's
``zipimporter.invalidate_caches()`` re-reads the archive's WHOLE central
directory unconditionally, so every Python-boundary task re-parses
pyspark.zip ~16 times: measured ~0.65 s wall / ~0.24 s CPU per task on
this box (cProfile of the reused worker: ``zipimport._read_directory``
+ 80k buffered reads per task), which dominates fixture-scale pandas-UDF
stages (a 32-task kernel stage pays ~8 cpu_s/lap before any real work)
and is pure fixed overhead per task at any scale.

This daemon module (``spark.python.daemon.module``) installs the same
guard newer CPython applies to directory finders: skip the re-read when
the archive's (mtime_ns, size) is unchanged, delegate to the original
otherwise. Semantics are preserved — a genuinely modified/replaced
archive (e.g. an ``addPyFile`` zip overwritten mid-session) still
invalidates; an untouched pyspark.zip stops being re-parsed per task.
Skipped instances keep serving their previously cached directory, which
is byte-identical while the archive is unchanged. The last-seen
(mtime_ns, size) is kept PER IMPORTER INSTANCE: one archive has an
importer per package path inside it, and each holds its own cached
directory, so after a change every one of them must re-read it.

Requires ``anomalyzer_spark`` to be importable in the worker Python
environment, as the library's UDF kernels already do (cloudpickle
references ``anomalyzer_spark.oracle`` by module name). When it is not,
every Python task fails with ``No module named 'anomalyzer_spark'`` —
user UDFs included — so ``session.get_spark`` puts the package's parent
directory on the workers' PYTHONPATH (``spark.executorEnv.PYTHONPATH``).
A session built elsewhere must do the same, or install the package on
the workers. Workers on platforms without the daemon (Windows) simply
never load this module; the unpatched behavior is correct, only
slower.
"""

from __future__ import annotations

import os
import weakref
import zipimport

from pyspark import daemon as _daemon

_seen: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_orig_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):  # noqa: ANN001 - zipimporter instance
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        return _orig_invalidate(self)
    if _seen.get(self) == key:
        return None  # unchanged archive: cached directory stays valid
    _seen[self] = key
    return _orig_invalidate(self)


zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    _daemon.manager()
