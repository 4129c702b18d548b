"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload except ``driver_suite`` (which needs the sf
tables) once untraced and once traced at the tiny input size, and
asserts that each run ends with a correct result line holding every end-to-end (untraced) or per-layer (traced)
metric with its unit, and that its result file names every metric of
the workload with a unit. It then checks that a corrupted state, a
Bloom filter with one non-zero word zeroed, is counted as a failed
operation. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(HERE), str(REPO)]

import inputs  # noqa: E402
import workloads  # noqa: E402

from gostatix_spark import hashing, params  # noqa: E402
from gostatix_spark.kernels import bloom  # noqa: E402
from gostatix_spark.state import BloomState  # noqa: E402

SEED = 7
# named metrics each workload's result file must carry
NAMED = {
    "build_tokens": ["build_tok_per_s_c1", "build_tok_per_s_c{c}",
                     "scale_eff_c1_c{c}", "setup_s", "peak_rss_mb"],
    "probe_mix": ["probe_rows_per_s", "point_query_p50_ms",
                  "point_query_p90_ms", "setup_s", "peak_rss_mb"],
    "incremental_ingest": ["ingest_tok_per_s", "ingest_batch_p50_s",
                           "resume_s", "setup_s", "peak_rss_mb"],
}


def fail(msg: str) -> None:
    print(f"FAIL {msg}")
    sys.exit(1)


def run_workload(cfg: dict, workload: str, trace: int) -> None:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "2", "--trace", str(trace),
           "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=300)
    if proc.returncode != 0:
        fail(f"{workload} trace={trace} exited {proc.returncode}")
    last = json.loads(proc.stdout.strip().split("\n")[-1])
    if sorted(last) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"{workload}: result keys {sorted(last)}")
    if not last["correct"] or last["failed"] or last["attempted"] < 1:
        fail(f"{workload} trace={trace}: {last['failed']} of"
             f" {last['attempted']} operations failed")
    want = cfg["per_layer" if trace else "end_to_end"]
    got = last["metrics"]
    if sorted(got) != sorted(m["name"] for m in want):
        fail(f"{workload} trace={trace}: metrics {sorted(got)}")
    for m in want:
        if got[m["name"]]["unit"] != m["unit"]:
            fail(f"{workload}: {m['name']} unit {got[m['name']]['unit']}")
    rec = json.loads((inputs.ROOT / "results" /
                      f"{workload}_seed{SEED}_tiny_trace{trace}.json")
                     .read_text())
    for name in NAMED[workload]:
        name = name.format(c=rec["cores"])
        if not rec["named"].get(name, {}).get("unit"):
            fail(f"{workload}: named metric {name} missing")
    print(f"ok {workload} trace={trace}: {last['attempted']} operations,"
          f" {len(got)} metrics")


class Recorder:
    attempted = 0
    failed = 0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += not ok


def corrupted_bloom_is_counted() -> None:
    ids = inputs.doc_ids(np.arange(500))
    m = params.bloom_filter_size(len(ids), 0.01)
    k = params.bloom_num_hashes(m, len(ids))
    words = bloom.new_state(m)
    h1, h2 = hashing.hash_strings(ids, "metro")
    bloom.insert_batch(words, h1, h2, k, m)
    good = Recorder()
    workloads.check_bloom(good, "intact", BloomState(m, k, words).to_bytes(),
                          ids)
    words[np.flatnonzero(words)[0]] = 0
    bad = Recorder()
    workloads.check_bloom(bad, "zeroed_word", BloomState(m, k, words)
                          .to_bytes(), ids)
    if (good.failed, bad.attempted, bad.failed) != (0, 1, 1):
        fail(f"corrupted Bloom state: intact failed={good.failed},"
             f" corrupted {bad.failed} of {bad.attempted} failed")
    print("ok corrupted Bloom state counted as a failed operation")


def main() -> None:
    os.chdir(REPO)
    cfg = json.loads((REPO / "BENCHMARK.json").read_text())
    corrupted_bloom_is_counted()
    for w in NAMED:
        for trace in (0, 1):
            run_workload(cfg, w, trace)
    print("smoke test passed")


if __name__ == "__main__":
    main()
