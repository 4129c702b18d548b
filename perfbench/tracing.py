"""Spans, memory sampling and the Spark event-log reduction.

Spans are kept in memory (name, start, end, parent, workload, run id)
and written once when the benchmark ends. They are recorded only here,
around the benchmark's own calls into the library's public functions.
Spark's stage and task metrics come from its event log, which the
benchmark enables at launch; each timed call is tagged with a job
group so the log can be reduced per call.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory span recorder. With ``enabled=False`` spans still time
    the call (the workloads need the wall) but nothing is kept."""

    def __init__(self, workload: str, run_id: str, enabled: bool):
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block; yields a dict whose ``wall`` is set on exit."""
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "run_id": self.run_id, **attrs}
        t0 = time.perf_counter()
        idx = len(self.spans)
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall"]
            if self.enabled:
                self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it covered by its children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = union_length(children.get(i, []))
            out[s["name"]] = out.get(s["name"], 0.0) + s["wall"] - covered
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# memory of the JVM and its Python workers
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, int]:
    """pid -> ppid for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_times() -> dict[str, float]:
    """Host-wide CPU seconds by state from /proc/stat (``steal`` is time
    the hypervisor gave this VM's CPUs to someone else)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    tick = os.sysconf("SC_CLK_TCK")
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal")
    return {n: int(v) / tick for n, v in zip(names, fields)}


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share most of theirs with the daemon) are split among the sharers
    instead of being counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the memory of every descendant of this process (the JVM's
    RSS plus the PSS of the Python worker daemon and its workers) a few
    times a second and keeps the peak, also split into the JVM and the
    rest."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_jvm_bytes = 0
        self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            jvm = other = 0
            for pid in descendants(os.getpid()):
                if _comm(pid) == "java":
                    # nothing else maps the JVM's pages, so RSS is its
                    # share; RSS also avoids a page-table walk of the heap
                    jvm += rss_bytes(pid)
                else:
                    other += pss_bytes(pid)
            self.peak_bytes = max(self.peak_bytes, jvm + other)
            self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
            self.peak_python_bytes = max(self.peak_python_bytes, other)
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

UDF_SENT = "data sent to Python workers"
UDF_RECEIVED = "data returned from Python workers"


def _acc_total(accs: list[dict], name: str) -> int:
    total = 0
    for a in accs:
        if a.get("Name") == name and "Update" in a:
            try:
                total += int(a["Update"])
            except (TypeError, ValueError):
                pass
    return total


def read_event_logs(log_dir: Path) -> dict[str, dict]:
    """Reduce every finished event log in ``log_dir`` (one per Spark
    session) to per-job-group records: job count and stages, each with
    its span and task-metric totals."""
    groups: dict[str, dict] = {}
    for path in sorted(log_dir.glob("*")):
        if path.name.endswith(".inprogress") or not path.is_file():
            continue
        stage_group: dict[int, str] = {}
        stages: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                _reduce_event(json.loads(line), groups, stage_group, stages)
        for sid, st in stages.items():
            g = stage_group.get(sid, "untagged")
            groups.setdefault(g, {"jobs": 0, "stages": []})["stages"].append(st)
    return groups


def _reduce_event(ev: dict, groups: dict, stage_group: dict,
                  stages: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        g = (ev.get("Properties") or {}).get("spark.jobGroup.id") \
            or "untagged"
        groups.setdefault(g, {"jobs": 0, "stages": []})["jobs"] += 1
        for sid in ev.get("Stage IDs", []):
            stage_group[sid] = g
    elif kind == "SparkListenerTaskEnd":
        st = stages.setdefault(ev["Stage ID"], _new_stage(ev["Stage ID"]))
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        st["tasks"] += 1
        st["task_s"].append((info.get("Finish Time", 0)
                             - info.get("Launch Time", 0)) / 1e3)
        st["run_s"] += m.get("Executor Run Time", 0) / 1e3
        st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0))
        st["input_bytes"] += (m.get("Input Metrics") or {}).get(
            "Bytes Read", 0)
        st["output_bytes"] += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics")
                                      or {}).get("Shuffle Bytes Written", 0)
        accs = info.get("Accumulables", [])
        st["udf_to_py"] += _acc_total(accs, UDF_SENT)
        st["udf_from_py"] += _acc_total(accs, UDF_RECEIVED)
    elif kind == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        st = stages.setdefault(si["Stage ID"], _new_stage(si["Stage ID"]))
        st["start"] = si.get("Submission Time", 0) / 1e3
        st["end"] = si.get("Completion Time", 0) / 1e3


def _new_stage(sid: int) -> dict:
    return {"id": sid, "tasks": 0, "task_s": [], "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0,
            "shuffle_write_bytes": 0, "udf_to_py": 0, "udf_from_py": 0,
            "start": None, "end": None}


def group_stages(groups: dict, group: str) -> list[dict]:
    """Stages of ``group`` and of its sub-groups (``group/part``)."""
    return [s for name, rec in groups.items()
            if name == group or name.startswith(group + "/")
            for s in rec["stages"]]


def stage_totals(stage_list: list[dict]) -> dict:
    keys = ("tasks", "run_s", "cpu_s", "gc_s", "spill_bytes",
            "shuffle_write_bytes", "udf_to_py", "udf_from_py")
    out = {k: sum(s[k] for s in stage_list) for k in keys}
    out["stages"] = len(stage_list)
    out["stage_union_s"] = union_length(
        (s["start"], s["end"]) for s in stage_list if s["start"] and s["end"])
    return out


def phase_split(stage_list: list[dict]) -> dict:
    """Phase 1 = the stages that read the input; the merge = the rest."""
    scan = [s for s in stage_list if s["input_bytes"] > 0 and s["start"]]
    rest = [s for s in stage_list if s["input_bytes"] == 0 and s["start"]]
    out = {}
    if scan:
        tasks = [t for s in scan for t in s["task_s"]]
        med = statistics.median(tasks) if tasks else 0.0
        out["phase1_wall_s"] = union_length((s["start"], s["end"])
                                            for s in scan)
        out["phase1_task_cpu_s"] = sum(s["cpu_s"] for s in scan)
        out["phase1_task_skew"] = max(tasks) / med if med > 0 else 1.0
    if rest:
        out["merge_wall_s"] = union_length((s["start"], s["end"])
                                           for s in rest)
    return out
