"""Benchmark for gostatix_spark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload build_tokens --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads (see perfbench/NOTES.md):
``build_tokens``, ``probe_mix``, ``driver_suite``, ``incremental_ingest``;
``--workload all`` runs each in its own process and prints every named
metric. Inputs are generated from ``--seed`` once and cached under
``.perfbench/``; every timed operation is a closed loop (the next call
is issued when the previous one returned) against one Spark session,
``local[n]`` with n = the CPUs this process may use.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the Spark event log is enabled,
spans are recorded and the metrics are the per-layer ones. Every named
metric of the workload is also printed as ``metric <name> <value>
<unit>`` and written to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager, suppress
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]
if __name__ == "__main__" and not (REPO / "gostatix_spark").is_dir():
    sys.exit("perfbench: no gostatix_spark package next to perfbench/")

import inputs  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("build_tokens", "probe_mix", "driver_suite",
             "incremental_ingest")
# A run must end within 180 s; keep room for the flush. driver_suite
# (the full 52-query suite over external tables) is not bounded so.
DEADLINE_S = {"driver_suite": 3000.0}


class Interrupted(BaseException):
    """Raised in the main thread on SIGTERM or when the deadline passes."""


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def host_fingerprint() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark
    meminfo = Path("/proc/meminfo").read_text().split("\n")
    mem_kb = next(int(line.split()[1]) for line in meminfo
                  if line.startswith("MemTotal:"))
    model = next((line.split(":", 1)[1].strip()
                  for line in Path("/proc/cpuinfo").read_text().split("\n")
                  if line.startswith("model name")), platform.machine())
    return {"nproc": cpu_count(), "mem_total_kb": mem_kb, "cpu_model": model,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "pandas": pandas.__version__,
            "python": platform.python_version()}


def driver_mem(host: dict) -> str:
    """A quarter of physical memory, at least 1 GB."""
    return f"{max(1, host['mem_total_kb'] // (4 * 1024 * 1024))}g"


class Run:
    """State of one benchmark run: session launches, spans, checks and
    the metrics measured so far (flushed as-is if the run is cut)."""

    def __init__(self, args, host: dict):
        self.args = args
        self.workload = args.workload
        self.size = args.size
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.host = host
        self.cores = cpu_count()
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.out_dir = inputs.ROOT.resolve() / "results"
        self.log_dir = inputs.ROOT.resolve() / "eventlog" / self.run_id
        self.tracer = tracing.Tracer(self.workload, self.run_id, self.traced)
        self.named: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, float] = {}
        self.launch_s: list[float] = []
        self.setup_s: list[float] = []
        self.op_walls: list[float] = []
        self.walls: dict[str, list[float]] = {}
        self.work_units = 0.0
        self.work_seconds = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.timed_groups: list[str] = []
        self._setup_t0: float | None = None
        self._group: str | None = None

    # -- sessions ----------------------------------------------------------

    @contextmanager
    def session(self, cores: int, label: str):
        """A fresh Spark session at ``local[cores]``. Its set-up time runs
        from here to the first timed operation (see :meth:`op`)."""
        from gostatix_spark.session import get_spark
        self._setup_t0 = time.perf_counter()
        with self.tracer.span("session.launch", cores=cores):
            spark = get_spark(f"perfbench-{self.workload}-{label}",
                              cores=cores)
        self.launch_s.append(time.perf_counter() - self._setup_t0)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            yield spark
        except BaseException:
            # a call cut mid-way can leave the gateway unusable; keep
            # the original error, stop_jvm() ends the JVM regardless
            with suppress(Exception):
                spark.stop()
            raise
        spark.stop()

    @contextmanager
    def op(self, spark, group: str, span: str):
        """One timed closed-loop call, tagged with a job group."""
        if self._setup_t0 is not None:
            self.setup_s.append(time.perf_counter() - self._setup_t0)
            self._setup_t0 = None
        spark.sparkContext.setJobGroup(group, group)
        self.timed_groups.append(group)
        self._group = group
        try:
            with self.tracer.span(span, group=group) as rec:
                yield rec
            self.walls.setdefault(span, []).append(rec["wall"])
        finally:
            self.untimed(spark, "between")

    def untimed(self, spark, group: str):
        spark.sparkContext.setJobGroup(group, group)
        self._group = group

    def tag(self, spark, sub: str) -> str:
        """Tag the next jobs as part ``sub`` of the current call."""
        g = f"{self._group}/{sub}"
        spark.sparkContext.setJobGroup(g, g)
        return g

    # -- results -----------------------------------------------------------

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")

    def ops(self, n: int) -> None:
        """Count ``n`` timed calls that returned."""
        self.attempted += n

    def metric(self, name: str, value: float, unit: str) -> None:
        self.named[name] = (float(value), unit)

    def end_to_end(self, peak_mem: float) -> dict[str, tuple[float, str]]:
        out = {}
        if self.setup_s:
            out["setup_s"] = (statistics.median(self.setup_s), "s")
        if self.work_seconds > 0:
            out["work_per_s"] = (self.work_units / self.work_seconds, "1/s")
        if self.op_walls:
            out["op_p50_ms"] = (statistics.median(self.op_walls) * 1e3, "ms")
        if peak_mem:
            out["peak_rss_mb"] = (peak_mem / 1e6, "MB")
        return out

    def record(self, complete: bool, peak_mem: float) -> dict:
        e2e = self.end_to_end(peak_mem)
        named = dict(self.named)
        for k in ("setup_s", "peak_rss_mb"):
            if k in e2e:
                named[k] = e2e[k]
        return {"workload": self.workload, "seed": self.seed,
                "size": self.size, "seconds": self.seconds,
                "trace": int(self.traced), "complete": complete,
                "host": self.host, "cores": self.cores,
                "attempted": self.attempted, "failed": self.failed,
                "failures": self.failures,
                "walls": self.walls,
                "end_to_end": {k: {"value": v, "unit": u}
                               for k, (v, u) in e2e.items()},
                "named": {k: {"value": v, "unit": u}
                          for k, (v, u) in named.items()},
                "layers": self.layers}

    def write(self, rec: dict) -> Path:
        self.out_dir.mkdir(parents=True, exist_ok=True)
        path = self.out_dir / f"{self.workload}_seed{self.seed}_{self.size}" \
                              f"_trace{int(self.traced)}.json"
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(rec, indent=1))
        os.replace(tmp, path)
        return path


# ---------------------------------------------------------------------------
# process environment and shutdown
# ---------------------------------------------------------------------------


def prepare_env(run: Run) -> None:
    """Keep Spark's scratch files inside the working directory, size the
    driver heap from the host and, for a traced run, enable the event
    log. Only honoured at JVM launch, so this runs before any session."""
    base = inputs.ROOT.resolve()
    tmp = base / "tmp"
    local = base / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", driver_mem(run.host))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + ([os.environ["PYTHONPATH"]]
                       if os.environ.get("PYTHONPATH") else []))
    # the whole heap committed and touched at launch, so peak memory does
    # not depend on when the JVM grew its heap or which regions its
    # collector happened to reuse; no perf-data file under /tmp
    args = ["--driver-java-options",
            f"'-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch"
            " -XX:-UsePerfData'",
            "--conf", f"spark.sql.warehouse.dir={base / 'warehouse'}"]
    if run.traced:
        run.log_dir.mkdir(parents=True, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir={run.log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_jvm() -> None:
    """Stop the py4j JVM this process launched and wait until it and its
    Python workers have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    children = tracing.descendants(os.getpid())
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — shutting down regardless
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    t_end = time.time() + 20
    while children and time.time() < t_end:
        children = [p for p in children if Path(f"/proc/{p}").exists()
                    and _state(p) not in ("Z", "X")]
        if children:
            time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def reduce_spark_log(run: Run) -> None:
    """Per-layer ``spark.*`` and ``agg.udf_*`` metrics over the timed
    calls of this run, from Spark's own event log."""
    groups = tracing.read_event_logs(run.log_dir)
    walls = {s["group"]: s["wall"] for s in run.tracer.spans
             if s.get("group") in run.timed_groups}
    stages, jobs, gap = [], 0, 0.0
    for g in run.timed_groups:
        op_stages = tracing.group_stages(groups, g)
        stages += op_stages
        jobs += sum(rec["jobs"] for name, rec in groups.items()
                    if name == g or name.startswith(g + "/"))
        gap += max(0.0, walls.get(g, 0.0)
                   - tracing.stage_totals(op_stages)["stage_union_s"])
    tot = tracing.stage_totals(stages)
    run.layers.update({
        "spark.jobs": float(jobs),
        "spark.tasks": float(tot["tasks"]),
        "spark.driver_gap_s": gap,
        "spark.executor_run_s": tot["run_s"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.shuffle_write_bytes": float(tot["shuffle_write_bytes"]),
        "spark.spill_bytes": float(tot["spill_bytes"]),
        "agg.udf_bytes_to_python": float(tot["udf_to_py"]),
        "agg.udf_bytes_from_python": float(tot["udf_from_py"]),
    })
    run.event_groups = groups


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------


def bench_config() -> dict:
    return json.loads((REPO / "BENCHMARK.json").read_text())


def run_one(args) -> int:
    host = host_fingerprint()
    run = Run(args, host)
    prepare_env(run)

    def on_term(signum, frame):
        raise Interrupted(f"signal {signum}")

    signal.signal(signal.SIGTERM, on_term)
    timer = threading.Timer(DEADLINE_S.get(args.workload, 165.0),
                            lambda: os.kill(os.getpid(), signal.SIGTERM))
    timer.daemon = True
    timer.start()

    import workloads
    complete = False
    cpu0 = tracing.cpu_times()
    sampler = tracing.MemorySampler()
    try:
        with sampler:
            workloads.RUNNERS[args.workload](run)
        if run.traced:
            reduce_spark_log(run)
            workloads.LAYER_EXTRAS[args.workload](run)
        complete = True
    except Interrupted as exc:
        run.failures.append(f"interrupted: {exc}")
    finally:
        timer.cancel()
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        rec = run.record(complete, sampler.peak_bytes)
        rec["peak_jvm_mb"] = sampler.peak_jvm_bytes / 1e6
        rec["peak_python_mb"] = sampler.peak_python_bytes / 1e6
        cpu1 = tracing.cpu_times()
        rec["host_cpu_s"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
        if run.traced:
            rec["span_self_s"] = run.tracer.self_times()
            run.tracer.write(run.out_dir / f"{run.run_id}_spans.json")
        path = run.write(rec)
        stop_jvm()
    print(f"# host {json.dumps(host)}")
    for name, m in sorted(rec["named"].items()):
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    for name, v in sorted(rec["layers"].items()):
        print(f"layer {name} {v:.6g}")
    for f in run.failures:
        print(f"# FAILED {f}")
    print(f"# result written to {path}")
    if not complete:
        print(json.dumps({"incomplete": True, "workload": run.workload}))
        return 3
    cfg = bench_config()
    if run.traced:
        names = [m["name"] for m in cfg["per_layer"]]
        units = {m["name"]: m["unit"] for m in cfg["per_layer"]}
        values = rec["layers"]
        overhead = traced_overhead(run, rec)
        for name, v in overhead.items():
            print(f"trace_overhead {name} {v:+.6g}")
    else:
        names = [m["name"] for m in cfg["end_to_end"]]
        units = {m["name"]: m["unit"] for m in cfg["end_to_end"]}
        values = {k: v["value"] for k, v in rec["end_to_end"].items()}
    missing = [n for n in names if n not in values]
    if missing:
        print(f"# missing metrics: {missing}")
        return 4
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]}
                    for n in names}}))
    return 0


def traced_overhead(run: Run, traced: dict) -> dict[str, float]:
    """Traced end-to-end values minus those of the untraced run of the
    same workload, seed and size, when one has been made."""
    path = run.out_dir / f"{run.workload}_seed{run.seed}_{run.size}_trace0.json"
    if not path.exists():
        return {}
    base = json.loads(path.read_text())
    out = {}
    for sect in ("end_to_end", "named"):
        for k, v in traced[sect].items():
            if k in base[sect]:
                out[k] = v["value"] - base[sect][k]["value"]
    return out


def run_all(args) -> int:
    """Each workload in its own process (a fresh JVM each)."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace",
               str(args.trace), "--size", args.size]
        if w == "driver_suite":
            if not args.sf_dir:
                print("[driver_suite] skipped: no --sf-dir given")
                continue
            cmd += ["--sf-dir", args.sf_dir]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().split("\n")
        for line in lines[:-1]:
            print(f"[{w}] {line}")
        if proc.returncode != 0:
            print(f"[{w}] exited with {proc.returncode}: {lines[-1]}")
            total["correct"] = False
            continue
        last = json.loads(lines[-1])
        total["attempted"] += last["attempted"]
        total["failed"] += last["failed"]
        total["correct"] &= last["correct"]
        res = json.loads((inputs.ROOT / "results" /
                          f"{w}_seed{args.seed}_{args.size}_trace{args.trace}"
                          ".json").read_text())
        for k, v in res["named"].items():
            total["metrics"][f"{w}.{k}" if k in ("setup_s", "peak_rss_mb")
                             else k] = v
    print(json.dumps(total))
    return 0 if total["correct"] else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=tuple(inputs.SIZES), default="full")
    p.add_argument("--sf-dir", help="directory of the sf tables (TESTDATA.md);"
                   " required by driver_suite, which runs every declared"
                   " query over them")
    args = p.parse_args(argv)
    if args.sf_dir:
        args.sf_dir = os.path.abspath(args.sf_dir)
    os.chdir(REPO)
    if args.workload == "all":
        return run_all(args)
    if args.workload == "driver_suite" and not args.sf_dir:
        print("driver_suite needs --sf-dir", file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
