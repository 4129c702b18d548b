"""Python-worker daemon with heavyweight imports preloaded.

Guide §4.3 (heavyweight init once per task) taken one step further:
once per *daemon*. ``pyspark.daemon`` forks a worker per task and, with
``spark.python.worker.reuse`` frequently unable to return workers to
the idle pool (short tasks, partially-consumed streams), every fork
re-imported pandas/pyarrow inside the child — measured 0.7 s of CPU
per fork on this class of host, ~150 forks per heavy query ≈ 100+
CPU-seconds per query of pure import work.

Importing those modules HERE, before ``manager()`` starts forking,
lets every worker inherit the already-initialized modules through fork
copy-on-write: a fresh worker then costs milliseconds. Activated via
``spark.python.daemon.module=gostatix_spark.daemon_preload`` (see
``session.get_spark``), which also has to put this package on the
daemon's PYTHONPATH via ``spark.executorEnv.PYTHONPATH``.

Per task, every worker still runs ``worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On Python ≤ 3.12 that
calls ``zipimporter.invalidate_caches`` on each zipimporter in
``sys.path_importer_cache`` — one per package directory imported from
``pyspark.zip``, 16 of them — and each call re-reads the archive's
whole central directory (1,328 entries): ~0.2 s of worker CPU per
task, even for an identity UDF over 4 rows.
:func:`patch_zip_invalidation` replaces that method with one that
re-reads an archive only when its ``(st_ino, st_mtime_ns, st_size)``
differs from the stat taken right before its last read. The daemon
installs it before the preload and reads each archive once before
forking, so every worker inherits the method and the stamps.

* Per fork (inherited, paid once per daemon): module imports, the
  patched method, one directory read per archive.
* Per task: ``setup_spark_files`` itself and one ``os.stat`` per
  zipimporter; a directory read only for an archive that changed.

The stat is safe because it is taken *before* the read it stamps: an
archive replaced during or after that read has a new inode, mtime or
size and is read again, so new ``--py-files`` and rewritten archives
are still seen — all pyspark needs ``invalidate_caches`` for. The one
rewrite it cannot see is an in-place one that keeps the size within a
single filesystem timestamp tick; Spark fetches files under a temporary
name and renames them, which always gives a new inode. An archive that
cannot be stat'ed, or was never read through this method, goes to the
stdlib method. Python 3.13+ zipimporters read lazily (no eager
``_files``); there the stdlib method is left in place.

Imports are best-effort: a missing optional module must never stop the
daemon from coming up (worker creation would fail cluster-wide); each
failed import, and a failed zip-invalidation patch, is reported on
stderr. BLAS/OpenMP pools default to one thread before numpy loads:
every forked worker is one task slot, and a per-worker pool sized to
the host would oversubscribe it.
"""
from __future__ import annotations

import importlib
import os
import sys
import zipimport

PRELOAD = (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    # this library's numpy kernels — referenced by cloudpickled UDFs,
    # re-imported in every worker otherwise
    "gostatix_spark.hashing",
    "gostatix_spark.kernels.bloom",
    "gostatix_spark.kernels.cms",
    "gostatix_spark.kernels.cuckoo",
    "gostatix_spark.kernels.hll",
    "gostatix_spark.kernels.topk",
    "gostatix_spark.kernels.tdigest",
    "gostatix_spark.kernels.kll",
)


def preload(modules) -> None:
    for mod in modules:
        try:
            importlib.import_module(mod)
        except Exception as e:  # preload is strictly optional
            print(f"daemon_preload: cannot preload {mod}: {e!r}",
                  file=sys.stderr)


def patch_zip_invalidation(importer_cls=zipimport.zipimporter) -> bool:
    """Make ``importer_cls.invalidate_caches`` skip the directory
    re-read of an unchanged archive (the replaced method stays reachable
    as ``__wrapped__``). Returns False, replacing nothing, when the
    class reads its directory lazily (``__init__`` sets no ``_files``)."""
    init_code = getattr(importer_cls.__init__, "__code__", None)
    if init_code is None or "_files" not in init_code.co_names:
        return False
    stdlib = importer_cls.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        """Reload the file data of the archive path if it changed."""
        archive = self.archive
        try:
            st = os.stat(archive)
            stamp = st.st_ino, st.st_mtime_ns, st.st_size
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None \
                and stamps.get(archive) == stamp:
            self._files = files
            return
        stdlib(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            stamps[archive] = stamp
        else:  # not stat'able, or unreadable (the stdlib method dropped it)
            stamps.pop(archive, None)

    invalidate_caches.__wrapped__ = stdlib
    importer_cls.invalidate_caches = invalidate_caches
    return True


def install_zip_invalidation(importer_cls=zipimport.zipimporter) -> bool:
    """:func:`patch_zip_invalidation`, strictly optional like
    :func:`preload`: a failure is reported on stderr, never raised."""
    try:
        return patch_zip_invalidation(importer_cls)
    except Exception as e:
        print(f"daemon_preload: cannot patch zipimport invalidation: {e!r}",
              file=sys.stderr)
        return False


for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS"):
    os.environ.setdefault(_var, "1")
_zip_patched = install_zip_invalidation()
preload(PRELOAD)

from pyspark.daemon import manager  # noqa: E402  (argv-sensitive import)

if _zip_patched:
    # read every archive on the path once, here, so that each forked
    # worker inherits its stamp and only stats it per task
    importlib.invalidate_caches()

if __name__ == "__main__":
    manager()
