"""Fixed cost of a Python task: time a JVM-only stage against identity
Python-UDF stages and print each one's median wall and worker CPU.

    python tools/worker_overhead.py

Each case runs one single-stage job over a cached input of ``ROWS``
rows per partition, already hash-partitioned by its key, on 1 and on 4
partitions, ``REPS`` timed runs after one warm-up run. ``local[N]``
comes from ``session.default_cores`` (``SPARK_GRAFT_CPUS``):

* ``jvm``            ``selectExpr`` — no Python worker involved
* ``pandas_udf``     identity scalar ``pandas_udf``
* ``mapInArrow``     identity ``mapInArrow``
* ``applyInPandas``  identity ``groupBy(k).applyInPandas`` (no shuffle:
                     the input's partitioning already clusters ``k``)
* ``applyInArrow``   identity ``groupBy(k).applyInArrow``, the phase-2
                     merge boundary of every sketch build

Worker CPU is the user+system time of every Python process under this
driver's JVM (the worker daemon, its live workers and the ones it has
reaped), read from ``/proc`` before and after each job and divided by
the job's completed tasks. A regression in the per-task bootstrap of
the worker (imports, ``importlib.invalidate_caches``) shows up as
``cpu_ms/task`` on the four Python cases while ``jvm`` stays near 0.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

import pandas as pd

CLK_TCK = os.sysconf("SC_CLK_TCK")
REPS = 7  # timed runs per case, after one warm-up run
ROWS = 4  # rows per partition


def _proc_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (own + reaped children) of every Python process that
    descends from ``root_pid``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(entry)] = int(fields[1])
    ticks = 0
    for pid in parent:
        ancestor = parent.get(pid)
        while ancestor is not None and ancestor != root_pid:
            ancestor = parent.get(ancestor)
        if ancestor is None or pid == root_pid:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"python" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / CLK_TCK


def _completed_tasks(sc, group: str) -> int:
    tracker = sc.statusTracker()
    stages = set()
    for job_id in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(job_id)
        if job is not None:
            stages.update(job.stageIds)
    return sum(info.numCompletedTasks for info in
               (tracker.getStageInfo(s) for s in stages) if info is not None)


def _cases(df):
    import pyspark.sql.functions as F

    @F.pandas_udf("long")
    def identity(s: pd.Series) -> pd.Series:
        return s

    return {
        "jvm": lambda: df.selectExpr("id + k AS id", "k"),
        "pandas_udf": lambda: df.select(identity("id").alias("id"), "k"),
        "mapInArrow": lambda: df.mapInArrow(lambda it: it, df.schema),
        "applyInPandas": lambda: df.groupBy("k").applyInPandas(
            lambda pdf: pdf, df.schema),
        "applyInArrow": lambda: df.groupBy("k").applyInArrow(
            lambda table: table, df.schema),
    }


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from gostatix_spark.session import get_spark

    spark = get_spark("worker-overhead")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jvm_pid = int(sc._jvm.ProcessHandle.current().pid())
    print(f"{'case':<14} {'parts':>5} {'p50_ms':>8} {'min_ms':>8} "
          f"{'tasks':>5} {'cpu_ms/task':>11}")
    for parts in (1, 4):
        df = (spark.range(0, parts * ROWS, numPartitions=parts)
              .selectExpr("id", f"id % {parts} AS k")
              .repartition(parts, "k").cache())
        df.count()
        for name, build in _cases(df).items():
            walls, cpus = [], []
            for rep in range(REPS + 1):
                group = f"worker-overhead-{name}-{parts}-{rep}"
                sc.setJobGroup(group, group)
                cpu0 = _proc_tree_cpu_s(jvm_pid)
                t0 = time.perf_counter()
                build().write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
                cpu = _proc_tree_cpu_s(jvm_pid) - cpu0
                if rep:  # rep 0 warms the daemon and the plan up
                    walls.append(wall)
                    cpus.append(cpu / max(_completed_tasks(sc, group), 1))
            print(f"{name:<14} {parts:>5} "
                  f"{statistics.median(walls) * 1e3:>8.1f} "
                  f"{min(walls) * 1e3:>8.1f} "
                  f"{_completed_tasks(sc, group):>5} "
                  f"{statistics.median(cpus) * 1e3:>11.1f}")
        df.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
