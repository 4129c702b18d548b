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

Imports are best-effort: a missing optional module must never stop the
daemon from coming up (worker creation would fail cluster-wide); each
failed import is reported on stderr. BLAS/OpenMP pools default to one
thread before numpy loads: every forked worker is one task slot, and a
per-worker pool sized to the host would oversubscribe it.
"""
from __future__ import annotations

import importlib
import os
import sys

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


for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS"):
    os.environ.setdefault(_var, "1")
preload(PRELOAD)

from pyspark.daemon import manager  # noqa: E402  (argv-sensitive import)

if __name__ == "__main__":
    manager()
