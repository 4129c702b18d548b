"""The worker-daemon preload (gostatix_spark.daemon_preload) must (a)
be active in sessions built by get_spark and (b) leave every UDF path
functional: a forked worker inherits pandas/pyarrow/kernel modules from
the daemon, so a UDF observes them in sys.modules before importing
anything itself."""
from __future__ import annotations

import pyspark.sql.functions as F


def test_daemon_module_configured(spark):
    assert (spark.conf.get("spark.python.daemon.module")
            == "gostatix_spark.daemon_preload")
    # the daemon process itself must be able to import the package
    pypath = spark.conf.get("spark.executorEnv.PYTHONPATH")
    import gostatix_spark
    import os
    pkg_root = os.path.dirname(os.path.dirname(
        os.path.abspath(gostatix_spark.__file__)))
    assert pkg_root in pypath.split(os.pathsep)


def test_workers_inherit_preloaded_modules(spark):
    @F.udf("string")
    def probe(_x):
        import sys
        return ",".join(sorted(
            m for m in ("pandas", "pyarrow", "numpy",
                        "gostatix_spark.kernels.hll")
            if m in sys.modules))

    got = spark.range(1).select(probe(F.col("id"))).collect()[0][0]
    # the probe UDF itself imports nothing but sys — anything present
    # arrived through the daemon fork
    assert got == "gostatix_spark.kernels.hll,numpy,pandas,pyarrow", got


def test_daemon_preload_module_importable_standalone():
    # `python -m gostatix_spark.daemon_preload` must never fail at
    # import time (worker creation would break cluster-wide); the
    # module body runs everything except manager()
    import importlib
    mod = importlib.import_module("gostatix_spark.daemon_preload")
    assert hasattr(mod, "manager")


def test_session_defaults_come_from_the_host(monkeypatch):
    import os
    import pytest
    from gostatix_spark.session import default_cores, default_driver_memory
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    if not os.path.exists("/proc/meminfo"):
        pytest.skip("no /proc/meminfo on this platform")
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f
                       if line.startswith("MemTotal:")).split()[1])
    assert default_driver_memory() == f"{kib // 2048}m"


def test_daemon_defaults_blas_threads_to_one():
    # setdefault: an explicit setting wins, an unset one becomes 1
    import os
    import subprocess
    import sys
    import gostatix_spark
    env = {k: v for k, v in os.environ.items()
           if k not in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS")}
    env["OPENBLAS_NUM_THREADS"] = "3"
    env["PYTHONPATH"] = os.path.dirname(os.path.dirname(
        os.path.abspath(gostatix_spark.__file__)))
    out = subprocess.run(
        [sys.executable, "-c",
         "import os, gostatix_spark.daemon_preload;"
         " print(os.environ['OMP_NUM_THREADS'],"
         " os.environ['OPENBLAS_NUM_THREADS'])"],
        env=env, capture_output=True, text=True, check=True,
        timeout=120).stdout
    assert out.split() == ["1", "3"]


def test_daemon_reports_failed_preloads(capsys):
    from gostatix_spark.daemon_preload import preload
    preload(["gostatix_spark.no_such_module", "numpy"])
    err = capsys.readouterr().err
    assert "gostatix_spark.no_such_module" in err
    assert "numpy" not in err
