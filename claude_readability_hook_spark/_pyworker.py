"""The fixed cost of a Python task, cut to its own work.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython < 3.13 every ``zipimporter`` in
``sys.path_importer_cache`` then re-reads its archive's whole central
directory (``pyspark.zip``, the py4j zip and the Spark jars on the
worker's path): about 0.2 s per task on a 4-core host, before the body
runs. ``install()`` replaces that method, inside a task only, with one
that re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since that importer last read it; a changed archive is still
re-read. CPython 3.13 made the same call lazy, so there it does nothing.

Every ``mapInArrow``/``mapInPandas`` body in the package goes through
``python_stage``. ``_run`` is module-level, so cloudpickle pickles it
by reference: the worker imports this module and installs before the
body runs, and a reused worker keeps the fix for every later task.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

from pyspark import TaskContext

_reread = zipimport.zipimporter.invalidate_caches


def _stat(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self):
    stamp = _stat(self.archive)
    if stamp is None or stamp != getattr(self, "_stat_stamp", None):
        _reread(self)
        self._stat_stamp = stamp


def install() -> None:
    """Idempotent; a no-op on the driver and on CPython >= 3.13."""
    if sys.version_info < (3, 13) and TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def _run(fn, batches):
    install()
    return fn(batches)


def python_stage(fn):
    """``fn`` as a mapInArrow/mapInPandas body that installs the fix in
    its worker first; keeps ``fn``'s name for the plan."""
    return functools.update_wrapper(functools.partial(_run, fn), fn)
