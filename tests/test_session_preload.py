"""The worker-daemon preload (gostatix_spark.daemon_preload) must (a)
be active in sessions built by get_spark and (b) leave every UDF path
functional: a forked worker inherits pandas/pyarrow/kernel modules from
the daemon, so a UDF observes them in sys.modules before importing
anything itself."""
from __future__ import annotations

import os
import zipimport

import pyspark.sql.functions as F
import pytest


def _zipimporter_is_eager() -> bool:
    code = getattr(zipimport.zipimporter.__init__, "__code__", None)
    return code is not None and "_files" in code.co_names


# daemon_preload patches zipimporter.invalidate_caches only where the
# importer reads its directory eagerly (__init__ sets _files: Python
# 3.12 and older); lazy zipimporters (3.13+) keep the stdlib method
eager_zipimporter = pytest.mark.skipif(
    not _zipimporter_is_eager(),
    reason="lazy zipimporter: the stdlib invalidate_caches is kept")


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


@eager_zipimporter
def test_workers_inherit_patched_zip_invalidation(spark):
    @F.udf("string")
    def probe(_x):
        import zipimport
        method = zipimport.zipimporter.invalidate_caches
        return " ".join((method.__module__, method.__qualname__,
                         method.__code__.co_filename))

    got = spark.range(1).select(probe(F.col("id"))).collect()[0][0]
    module, qualname, filename = got.split(" ", 2)
    # the daemon runs as `python -m gostatix_spark.daemon_preload`
    assert module == "__main__", got
    assert qualname == "patch_zip_invalidation.<locals>.invalidate_caches"
    assert filename.endswith(
        os.path.join("gostatix_spark", "daemon_preload.py")), got


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


MALLOC_VARS = ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_")


class RecordingBuilder:
    """Stands in for ``SparkSession.builder``: ``getOrCreate`` returns
    the collected conf and records the malloc variables the JVM launch
    would inherit (or raises ``fail``)."""

    def __init__(self, fail: Exception | None = None):
        self.conf = {}
        self.fail = fail
        self.launch_env = None

    def master(self, _):
        return self

    appName = master

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.launch_env = {var: os.environ.get(var) for var in MALLOC_VARS}
        if self.fail:
            raise self.fail
        return self.conf


def test_executor_pythonpath_merges_spark_defaults(tmp_path, monkeypatch):
    # a PYTHONPATH from spark-defaults.conf (and the driver's env) is
    # kept after the package root, each entry once, not overwritten
    import types
    import gostatix_spark
    from gostatix_spark import session
    pkg_root = os.path.dirname(os.path.dirname(
        os.path.abspath(gostatix_spark.__file__)))
    (tmp_path / "spark-defaults.conf").write_text(
        "# comment\n"
        "spark.executor.memory 2g\n"
        f"spark.executorEnv.PYTHONPATH  /srv/site{os.pathsep}{pkg_root}\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setenv("PYTHONPATH", f"/srv/env{os.pathsep}/srv/site")
    assert (session.spark_defaults("spark.executorEnv.PYTHONPATH")
            == f"/srv/site{os.pathsep}{pkg_root}")
    assert session.spark_defaults("spark.no.such.key") is None

    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=RecordingBuilder()))
    conf = session.get_spark(cores=1)
    assert (conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
            == [pkg_root, "/srv/site", "/srv/env"])


@pytest.mark.parametrize("fail", [None, RuntimeError("no JVM")])
def test_malloc_env_scoped_to_jvm_launch(monkeypatch, fail):
    # the JVM launch sees the pinned thresholds (a caller's own value
    # wins); afterwards os.environ is the caller's again, launched or not
    import types
    from gostatix_spark import session
    monkeypatch.delenv("MALLOC_MMAP_THRESHOLD_", raising=False)
    monkeypatch.setenv("MALLOC_TRIM_THRESHOLD_", "12345")
    builder = RecordingBuilder(fail)
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=builder))
    if fail:
        with pytest.raises(RuntimeError, match="no JVM"):
            session.get_spark(cores=1)
    else:
        session.get_spark(cores=1)
    assert builder.launch_env == {"MALLOC_MMAP_THRESHOLD_": str(512 << 20),
                                  "MALLOC_TRIM_THRESHOLD_": "12345"}
    assert "MALLOC_MMAP_THRESHOLD_" not in os.environ
    assert os.environ["MALLOC_TRIM_THRESHOLD_"] == "12345"


def _write_module_zip(path, version, padding=""):
    import zipfile
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("gz_zip_probe.py", f"VERSION = {version}{padding}\n")


@pytest.fixture
def zip_importer_cls():
    # a fresh subclass carrying the stdlib method, so each test patches
    # its own class (importing daemon_preload patches the real one)
    import zipimport
    method = zipimport.zipimporter.invalidate_caches
    stdlib = getattr(method, "__wrapped__", method)

    class Importer(zipimport.zipimporter):
        invalidate_caches = stdlib

    return Importer


@eager_zipimporter
def test_zip_invalidation_rereads_only_changed_archives(
        tmp_path, monkeypatch, zip_importer_cls):
    import importlib
    import sys
    import zipimport
    from gostatix_spark.daemon_preload import patch_zip_invalidation
    archive = tmp_path / "probe.zip"
    _write_module_zip(archive, 1)
    importer = zip_importer_cls(str(archive))
    monkeypatch.setitem(sys.path_importer_cache, str(archive), importer)
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "gz_zip_probe", raising=False)
    import gz_zip_probe
    assert gz_zip_probe.VERSION == 1

    calls = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda a: calls.append(a) or read_directory(a))

    def reads():  # of this archive: others on sys.path may be read too
        return calls.count(str(archive))

    stdlib = zip_importer_cls.invalidate_caches
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads() == 2  # control: the stdlib method always re-reads

    assert patch_zip_invalidation(zip_importer_cls)
    assert zip_importer_cls.invalidate_caches.__wrapped__ is stdlib
    importlib.invalidate_caches()  # first call through the patch: stamps
    assert reads() == 3
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads() == 3  # unchanged archive: not re-read

    _write_module_zip(archive, 2, padding="  # rewritten, longer")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads() == 4
    assert importlib.reload(gz_zip_probe).VERSION == 2
    importlib.invalidate_caches()
    assert reads() == 4


@eager_zipimporter
def test_zip_invalidation_falls_back_for_unreadable_archives(
        tmp_path, monkeypatch, zip_importer_cls):
    import zipimport
    from gostatix_spark.daemon_preload import patch_zip_invalidation
    archive = tmp_path / "gone.zip"
    _write_module_zip(archive, 1)
    importer = zip_importer_cls(str(archive))
    assert patch_zip_invalidation(zip_importer_cls)
    importer.invalidate_caches()
    archive.unlink()
    importer.invalidate_caches()  # stat fails: the stdlib method runs
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


def test_lazy_zipimporter_keeps_stdlib_method():
    # Python 3.13+ zipimporters read their directory lazily: no _files
    from gostatix_spark.daemon_preload import patch_zip_invalidation

    class LazyImporter:
        def __init__(self, path):
            self.archive = path

        def invalidate_caches(self):
            pass

    method = LazyImporter.invalidate_caches
    assert patch_zip_invalidation(LazyImporter) is False
    assert LazyImporter.invalidate_caches is method


def test_daemon_comes_up_when_zip_patch_fails():
    # the replacement raising is reported on stderr, never fatal
    import subprocess
    import sys
    import gostatix_spark
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(
        os.path.abspath(gostatix_spark.__file__))))
    code = (
        "import zipimport\n"
        "class ReadOnly(type):\n"
        "    def __setattr__(cls, name, value):\n"
        "        raise TypeError('read-only')\n"
        "class Importer(metaclass=ReadOnly):\n"
        "    def __init__(self, path):\n"
        "        self._files = {}\n"
        "    def invalidate_caches(self):\n"
        "        pass\n"
        "zipimport.zipimporter = Importer\n"
        "import gostatix_spark.daemon_preload as d\n"
        "print(callable(d.manager))\n")
    proc = subprocess.run([sys.executable, "-c", code], env=env,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split() == ["True"]
    assert ("cannot patch zipimport invalidation: TypeError('read-only')"
            in proc.stderr), proc.stderr
