"""Custom PySpark worker daemon that preloads heavy modules.

Spark kills idle Python workers after a HARD-CODED one minute
(``PythonWorkerFactory.IDLE_WORKER_TIMEOUT_NS``), so any Python stage
arriving more than a minute after the previous one pays a full
fork-and-import storm: N fresh workers each importing numpy/pandas/
pyarrow (plus this package) before the first Arrow batch moves.
Measured on the bench host: a trivial 32-partition ``mapInPandas``
costs ~5 s with cold workers and ~0.3 s with warm ones.

The daemon process forks every worker, and ``fork()`` inherits the
parent's imported modules copy-on-write — so importing the heavy
modules HERE, once per executor, makes every subsequent worker fork
inherit them at zero cost.  This is the documented purpose of
``spark.python.daemon.module`` (pyspark ships the plain
``pyspark.daemon``; pointing the conf at a wrapper that preloads and
then delegates to ``pyspark.daemon.manager`` is the standard recipe).

Set via ``spark.python.daemon.module=pypond_spark.daemon`` (see
``session.py``, overridable with ``$SPARK_GRAFT_DAEMON``).  The
module must be importable from the worker's static ``PYTHONPATH`` —
``session.py`` appends this package's parent directory to
``spark.executorEnv.PYTHONPATH`` for exactly that reason.  Preload
failures are non-fatal: a worker that needs a module the daemon could
not import simply imports it itself, as before.

Reload guard.  Before every task pyspark's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
On CPython 3.11 that makes each ``zipimporter`` (16 in a worker, one
per package path inside ``pyspark.zip``) eagerly re-read the archive's
whole central directory (1,328 entries): 121-288 ms per task, median
150 ms (8 ``mapInPandas`` tasks on a warm 4-core ``local[4]``,
``tools/py_task_cost.py``), for an archive that does not change while
the worker runs.  The daemon wraps
``zipimporter.invalidate_caches`` so that it re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the last read or the
shared ``zipimport._zip_directory_cache`` has no entry for it — the
mtime rule ``FileFinder`` already applies to directories — and
otherwise keeps the cached directory (0.07-0.12 ms per call on the same
host).  A rewritten zip is still re-read, so import semantics hold;
where workers import pyspark from a directory the guard does nothing.
The daemon calls ``importlib.invalidate_caches()`` once after the
preloads, so every forked worker inherits a warm stamp.
"""

from __future__ import annotations

import importlib
import os
import zipimport

for _mod in (
    "numpy",
    "pandas",
    "pyarrow",
    # the serializer path every Arrow stage touches
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    # this package's heavy per-row operator modules (codecs pull in
    # numpy and each other); workers otherwise import them per fork.
    # Guarded: on a deployment where the package reaches workers only
    # via the shipped zip (not the static PYTHONPATH) these fail
    # harmlessly and workers import from the zip as before.
    "pypond_spark.datapipe.multimodal",
    "pypond_spark.datapipe.jpeg",
    "pypond_spark.datapipe.y4m",
    "pypond_spark.datapipe.pdf",
    "pypond_spark.datapipe.tarshard",
    "pypond_spark.datapipe.flac",
    "pypond_spark.datapipe.tiff",
    "pypond_spark.datapipe.zipdoc",
):
    try:
        importlib.import_module(_mod)
    except Exception:  # pragma: no cover - absent optional dep
        pass

from pyspark.daemon import manager  # noqa: E402

_reload_zip = zipimport.zipimporter.invalidate_caches
_zip_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_changed_zip(self):
    """Re-read this importer's archive only if it changed (see above)."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reload_zip(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _zip_stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before the read: a write racing the read leaves the old stamp,
    # so the next call reads again
    _reload_zip(self)
    _zip_stamps[self.archive] = stamp


# Spark starts the daemon with ``-m``, where ``__name__`` is "__main__";
# name the wrapper by its module so a worker can tell who installed it.
_invalidate_changed_zip.__module__ = __spec__.name if __spec__ else __name__
zipimport.zipimporter.invalidate_caches = _invalidate_changed_zip
importlib.invalidate_caches()

if __name__ == "__main__":
    manager()
