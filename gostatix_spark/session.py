"""SparkSession factory tuned for the sketch workload.

Settings rationale (100 TB design, tested on local[N]):

* AQE on — runtime coalescing of the tiny partial-state shuffle and
  skew-join splitting come for free.
* Arrow everywhere — every UDF in this library is Arrow-batched; the
  batch size bounds phase-1 kernel working sets (10k rows × ~200 tokens
  ≈ 2M hashed elements per batch).
* shuffle partitions sized to cores on local mode; on a real cluster
  set ``spark.sql.shuffle.partitions`` ≈ 2-3× total cores and let AQE
  coalesce — the phase-2 shuffle here is tiny (one sketch row per
  partition×key) so it never dominates.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS``, else every CPU of the host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def default_driver_memory() -> str | None:
    """``SPARK_DRIVER_MEM``, else half of the host's ``MemTotal`` (None
    when ``/proc/meminfo`` is unreadable: Spark's own default holds)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return None
    return f"{kib // 2048}m"


def spark_defaults(key: str) -> str | None:
    """``key`` as set in ``spark-defaults.conf`` (``SPARK_CONF_DIR``, else
    ``$SPARK_HOME/conf``), None when unset or unreadable. Read before the
    JVM exists, so a builder ``.config`` of the same key can merge it
    instead of shadowing it."""
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if not conf_dir:
        from pyspark.find_spark_home import _find_spark_home
        conf_dir = os.path.join(_find_spark_home(), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    value = None
    for line in lines:  # java.util.Properties: key, then '=', ':' or blanks
        m = re.match(r"\s*([^\s=:#!][^\s=:]*)\s*[=:\s]\s*(.*?)\s*$", line)
        if m and m.group(1) == key:
            value = m.group(2)
    return value


def executor_pythonpath(*paths: str | None) -> str:
    """The ``os.pathsep``-joined entries of ``paths`` in order, each once;
    unset or empty ones are skipped."""
    entries: list[str] = []
    for path in paths:
        for entry in (path or "").split(os.pathsep):
            if entry and entry not in entries:
                entries.append(entry)
    return os.pathsep.join(entries)


def get_spark(app: str = "gostatix-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              max_partition_bytes: str = "128m",
              arrow_batch_rows: int = 10000,
              active_processors: int | None = None) -> SparkSession:
    """``arrow_batch_rows`` bounds every Arrow-batched UDF's working
    set (rows × avg element size). 10k is safe for text-heavy columns
    (dedup UDFs see ~KB texts); numeric/token-only pipelines can raise
    it (e.g. 32k in the throughput bench) to amortize the JVM↔Python
    IPC round-trips over bigger batches.

    ``active_processors`` sets ``-XX:ActiveProcessorCount`` so the JVM
    sizes its GC/JIT/netty/ForkJoin pools for N cores — the same
    mechanism container runtimes use for a real N-core executor.
    ``local[N]`` alone caps only task slots; the JVM's service threads
    otherwise assume all host CPUs. Only honored at JVM launch (the
    first session in a process).

    ``cores`` defaults to :func:`default_cores`, the driver heap to
    :func:`default_driver_memory`."""
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cores)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true). The
        # byte-honoring alternative (false + advisory size) was
        # measured and REJECTED: several of this library's post-shuffle
        # stages run interpreted higher-order expressions over NARROW
        # rows (signature-agreement estimates, array_intersect
        # verifies), so sizing partitions by bytes collapsed them to
        # one task and serialized the compute (minhash verify 7 s →
        # 58 s). Compute-per-byte here is too uneven for byte-based
        # coalescing.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        .config("spark.python.worker.reuse", "true")
        # Preload pandas/pyarrow/kernels in the worker daemon so each
        # forked worker inherits them via fork COW (guide §4.3; see
        # daemon_preload docstring — worker reuse alone does not stick,
        # and a cold import was measured at 0.7 s CPU per fork on slow
        # hosts). executorEnv.PYTHONPATH makes the package importable
        # by the daemon process itself (workers get sys.path from the
        # worker-startup protocol, the daemon does not); a PYTHONPATH
        # from spark-defaults.conf or the driver's env is kept after it.
        .config("spark.python.daemon.module", "gostatix_spark.daemon_preload")
        .config("spark.executorEnv.PYTHONPATH", executor_pythonpath(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            spark_defaults("spark.executorEnv.PYTHONPATH"),
            os.environ.get("PYTHONPATH")))
        .config("spark.ui.enabled", "false")
    )
    driver_memory = default_driver_memory()
    if driver_memory is not None:
        builder = builder.config("spark.driver.memory", driver_memory)
    if active_processors is not None:
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={int(active_processors)}")
    # Pin glibc's mmap threshold before the JVM (and, transitively, the
    # python worker daemon) is launched. Arrow/netty direct buffers and
    # numpy batch arrays above the default ~128 KB threshold otherwise
    # go through mmap/munmap on EVERY alloc/free cycle; with 32 task
    # threads that serializes on the kernel's mmap_lock — measured here
    # as 50+ s of system time on a single keyed-sketch query, plus
    # hypervisor steal from the TLB-shootdown storm (guide §5: memory
    # behavior is part of the operator's cost). Serving those from the
    # arena instead cut the suite's sys time 5-8× on the heavy queries.
    # Trade-off: freed arena memory is retained up to the trim
    # threshold (RSS grows toward the high-water mark) — right for a
    # dedicated executor host, overridable via the environment. Only
    # the JVM launch sees the pinned values: the ones the caller had not
    # set are taken out of os.environ again once getOrCreate returns.
    unset = [var for var in ("MALLOC_MMAP_THRESHOLD_",
                             "MALLOC_TRIM_THRESHOLD_")
             if var not in os.environ]
    os.environ.update({var: str(512 * 1024 * 1024) for var in unset})
    try:
        return builder.getOrCreate()
    finally:
        for var in unset:
            os.environ.pop(var, None)
