"""PySpark worker daemon that skips re-reading unchanged zip archives.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
JVM starts it with ``python -m filter_vectordb_spark.pydaemon <worker>``
in place of ``pyspark.daemon``.  It patches one method, then hands over
to ``pyspark.daemon.manager()``; the Python workers fork from it and
inherit the patch.

Why: PySpark calls ``importlib.invalidate_caches()`` at the start of
every Python task (``pyspark.worker_util.setup_spark_files``).  On
Python 3.11 that makes every ``zipimporter`` on ``sys.path`` re-read its
archive's whole central directory, and a worker's ``sys.path`` holds the
spark-core jar (~5.4k entries), ``pyspark.zip`` and the py4j zip: about
0.1-0.2 s of fixed cost per task before any kernel work.  The patched
``zipimporter.invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken before its last
read (or the stat fails) and otherwise reuses the cached directory, so
a changed or new archive is still picked up exactly as before.

The daemon also raises its OOM score, which the workers inherit, so a
host that runs out of memory loses a worker (one failed task) rather
than the JVM (the whole session).

Deployment requirement: every Python worker must be able to import
``filter_vectordb_spark`` (the serve kernels already need it);
``get_spark`` puts the package's directory on local workers' PYTHONPATH.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches

#: archive path → (st_mtime_ns, st_size) stat taken just before its
#: directory was last read through ``invalidate_caches``
_stamps: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stat stamp moved since the last read."""
    archive = self.archive
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _stamps.get(archive) == stamp:
        # another importer over the same archive may have done the read:
        # adopt the shared directory, exactly as a fresh importer does
        self._files = files
        return
    _reread(self)
    _stamps[archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and stamp every archive
    already on ``sys.path`` (one read each), so forked workers start
    with the stamps and their first task reads nothing."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def _yield_to_oom_killer() -> None:
    """Raise this process's OOM score (inherited by the forked workers),
    so that when the host runs out of memory the kernel kills a Python
    worker, which fails one task, before the JVM, which ends the
    session.  500 adds half of RAM to the score, so any worker outranks
    a JVM holding less than half of RAM.  Raising one's own score needs
    no privilege."""
    try:
        with open("/proc/self/oom_score_adj", "w") as fh:
            fh.write("500")
    except OSError:
        pass  # no procfs (not Linux): the kernel's default choice stands


def main() -> None:
    install()
    _yield_to_oom_killer()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # run the copy imported under the package name, so the patched
    # method and its stamps live in filter_vectordb_spark.pydaemon
    # rather than in a second, __main__-named instance of this module
    from filter_vectordb_spark.pydaemon import main as _main

    _main()
