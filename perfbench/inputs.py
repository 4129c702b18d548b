"""Seeded benchmark inputs, generated once per seed and cached.

Every input is derived from ``--seed`` alone (``gostatix_spark.corpus``
is counter-based, so a doc index always yields the same row), written
as parquet under ``.perfbench/inputs/seed<N>-<size>/<part>/`` in the
working directory, and stored beside the exact truth that the workload checks
use. Generation runs before any Spark session starts and is never part
of ``setup_s`` or of a timed operation.

A part is complete once its ``truth.json`` exists; it is written last,
so an interrupted generation is redone on the next run.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gostatix_spark import corpus

ROOT = Path(".perfbench")

# Sizes per workload. "full" is what the benchmark measures; "tiny" is
# the smoke-test size (same code paths, seconds instead of minutes).
SIZES = {
    "full": {
        # ~1.5k tokens per doc (training-sequence shape, mu=7.0)
        "build_docs": 1500, "build_splits": 4,
        # default document shape (~244 tokens per doc)
        "probe_docs": 3000, "probe_rows": 48_000, "removal_batch": 30,
        "ingest_docs": 2000, "ingest_batches": 4,
    },
    "tiny": {
        "build_docs": 80, "build_splits": 4,
        "probe_docs": 300, "probe_rows": 4000, "removal_batch": 10,
        "ingest_docs": 200, "ingest_batches": 3,
    },
}

TOPK_K = 100
CMS_CHECK_TOKENS = 300


def _cached(seed: int, size: str, part: str, make) -> tuple[Path, dict]:
    """Return ``(dir, truth)`` for a part, generating it on first use."""
    d = ROOT / "inputs" / f"seed{seed}-{size}" / part
    truth_path = d / "truth.json"
    if truth_path.exists():
        return d, json.loads(truth_path.read_text())
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    truth = make(d)
    tmp = d / "truth.json.tmp"
    tmp.write_text(json.dumps(truth))
    os.replace(tmp, truth_path)
    return d, truth


def doc_ids(idx: np.ndarray, prefix: str = "doc-") -> list[str]:
    """The corpus's doc_id format (``corpus.generate_table``)."""
    return [f"{prefix}{i:012d}" for i in idx]


def _write_splits(table: pa.Table, out: Path, n_splits: int) -> None:
    """One parquet file per split, by contiguous doc ranges."""
    out.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_splits + 1).astype(int)
    for i in range(n_splits):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       out / f"part-{i:03d}.parquet")


def _corpus_truth(table: pa.Table, seed: int) -> dict:
    """Exact per-source distinct tokens, exact top-k and exact counts
    of a sample of tokens (heavy and tail) for the sketch checks."""
    tokens = table.column("tokens").combine_chunks()
    flat = tokens.values.to_numpy()
    lengths = table.column("n_tok").to_numpy()
    sources = np.repeat(table.column("source").to_numpy(zero_copy_only=False),
                        lengths)
    distinct = {str(s): int(len(np.unique(flat[sources == s])))
                for s in np.unique(sources)}
    uniq, counts = np.unique(flat, return_counts=True)
    order = np.lexsort((uniq, -counts))
    top = [[int(uniq[i]), int(counts[i])] for i in order[:TOPK_K]]
    rng = np.random.default_rng(seed)
    pick = np.concatenate([order[:CMS_CHECK_TOKENS // 3],
                           rng.choice(len(uniq),
                                      CMS_CHECK_TOKENS - CMS_CHECK_TOKENS // 3,
                                      replace=False)])
    return {"n_docs": table.num_rows, "n_tokens": int(len(flat)),
            "distinct_per_source": distinct, "topk": top,
            "cms_check": [[int(uniq[i]), int(counts[i])] for i in pick]}


def build_corpus(seed: int, size: str) -> tuple[Path, dict]:
    """build_tokens input: training-sequence corpus (LogNormal mu=7.0,
    sigma=0.75, clip 8192), a fixed number of equal-doc splits."""
    sz = SIZES[size]

    def make(d: Path) -> dict:
        n = sz["build_docs"]
        table = corpus.generate_table(np.arange(n, dtype=np.int64), seed,
                                      mu=7.0, sigma=0.75, max_len=8192)
        _write_splits(table, d / "corpus", sz["build_splits"])
        truth = _corpus_truth(table, seed)
        truth["splits"] = sz["build_splits"]
        return truth

    return _cached(seed, size, "build_tokens", make)


def probe_inputs(seed: int, size: str) -> tuple[Path, dict]:
    """probe_mix input: a document corpus to build sketches over, a
    bulk probe table of doc ids (half inserted, half never inserted,
    Zipf-repeated) and removal batches drawn from inserted ids that
    never appear among the probes."""
    sz = SIZES[size]

    def make(d: Path) -> dict:
        n = sz["probe_docs"]
        table = corpus.generate_table(np.arange(n, dtype=np.int64), seed)
        _write_splits(table, d / "corpus", 4)
        rng = np.random.default_rng(seed + 1)
        rows = sz["probe_rows"]
        # the first half of the corpus is probed, the second half is
        # only ever removed
        pool = n // 2
        ranks = np.minimum(rng.zipf(1.3, rows), pool) - 1
        perm = rng.permutation(pool)
        inserted = rng.random(rows) < 0.5
        idx = perm[ranks]
        ids = np.where(inserted, np.array(doc_ids(idx), dtype=object),
                       np.array(doc_ids(idx, "abs-"), dtype=object))
        probes = pa.table({"doc_id": pa.array(ids.tolist(), pa.string()),
                           "inserted": pa.array(inserted)})
        _write_splits(probes, d / "probes", 4)
        _write_splits(probes.slice(0, rows // 20), d / "probes_warm", 4)
        removable = rng.permutation(np.arange(pool, n))
        b = sz["removal_batch"]
        batches = [removable[i:i + b].tolist()
                   for i in range(0, len(removable) - b + 1, b)]
        truth = _corpus_truth(table, seed)
        truth.update({
            "probe_rows": rows,
            "inserted_rows": int(inserted.sum()),
            "absent_distinct": int(len(np.unique(idx[~inserted]))),
            "removal_batches": batches,
            "point_ids": doc_ids(perm[:64]) + doc_ids(perm[:64], "abs-"),
        })
        return truth

    return _cached(seed, size, "probe_mix", make)


def ingest_inputs(seed: int, size: str) -> tuple[Path, dict]:
    """incremental_ingest input: the corpus cut into micro-batches, one
    parquet directory per batch, in arrival order."""
    sz = SIZES[size]

    def make(d: Path) -> dict:
        n, nb = sz["ingest_docs"], sz["ingest_batches"]
        table = corpus.generate_table(np.arange(n, dtype=np.int64), seed)
        bounds = np.linspace(0, n, nb + 1).astype(int)
        tokens = []
        for i in range(nb):
            part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            _write_splits(part, d / f"batch-{i:03d}", 2)
            tokens.append(int(part.column("n_tok").to_numpy().sum()))
        _write_splits(table, d / "all", 8)
        return {"n_docs": n, "batch_tokens": tokens,
                "n_tokens": int(sum(tokens))}

    return _cached(seed, size, "incremental_ingest", make)
