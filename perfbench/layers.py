"""In-process layer probes for the traced run.

Each probe calls one public kernel, hashing or state function of
``gostatix_spark`` on arrays taken from the workload's own inputs and
reports elements (or MB) per second. They run after the timed part of
a traced run, in the benchmark process, so they measure the layer
without Spark, the JVM or the Arrow UDF boundary in the way.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from gostatix_spark import agg, hashing, params
from gostatix_spark.kernels import bloom, cms, cuckoo, hll, kll, tdigest, topk
from gostatix_spark.state import (BloomState, CMSState, CuckooState, HLLState,
                                  sketch_from_bytes)

PROBE_SECONDS = 0.15


def _rate(fn, n_items: float) -> float:
    """Median items/s of ``fn()`` over repeats filling PROBE_SECONDS."""
    rates, t_end = [], time.perf_counter() + PROBE_SECONDS
    while len(rates) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        rates.append(n_items / (time.perf_counter() - t0))
    return statistics.median(rates)


def load_arrays(corpus_dir, max_tokens: int = 1_000_000) -> dict:
    """Flat tokens, doc ids and per-split token slices from a corpus."""
    files = sorted(corpus_dir.glob("*.parquet"))
    slices = [pq.read_table(f).column("tokens").combine_chunks()
              .values.to_numpy() for f in files]
    tokens = np.concatenate(slices)[:max_tokens]
    ids = pq.read_table(corpus_dir, columns=["doc_id"]) \
        .column("doc_id").to_pylist()
    return {"tokens": tokens, "ids": ids,
            "slices": [s[:max_tokens // len(slices)] for s in slices]}


def measure(arrays: dict) -> dict[str, float]:
    tokens, ids = arrays["tokens"], arrays["ids"]
    out: dict[str, float] = {}
    n = len(tokens)

    out["hashing.token_elem_per_s"] = _rate(
        lambda: hashing.hash_tokens(tokens, "metro"), n)
    out["hashing.string_elem_per_s"] = _rate(
        lambda: hashing.hash_strings(ids, "metro"), len(ids))
    h1, h2 = hashing.hash_tokens(tokens, "metro")

    regs = hll.new_state(16384)
    out["kernels.hll.update_elem_per_s"] = _rate(
        lambda: hll.update_batch(regs, h1), n)
    d, w = params.cms_dims_from_error_bounds(0.001, 0.01)
    mat = cms.new_state(d, w)
    out["kernels.cms.update_elem_per_s"] = _rate(
        lambda: cms.update_batch(mat, h1, h2), n)
    out["kernels.topk.update_elem_per_s"] = _rate(
        lambda: topk.IntCounts().update(tokens), n)
    values = tokens.astype(np.float64)
    out["kernels.tdigest.update_elem_per_s"] = _rate(
        lambda: tdigest.update_batch(*tdigest.new_state(), values), n)
    out["kernels.kll.update_elem_per_s"] = _rate(
        lambda: kll.KLL().update_batch(values), n)

    s1, s2 = hashing.hash_strings(ids, "metro")
    m = params.bloom_filter_size(len(ids), 0.01)
    k = params.bloom_num_hashes(m, len(ids))
    words = bloom.new_state(m)
    out["kernels.bloom.insert_elem_per_s"] = _rate(
        lambda: bloom.insert_batch(words, s1, s2, k, m), len(ids))
    out["kernels.bloom.lookup_elem_per_s"] = _rate(
        lambda: bloom.lookup_batch(words, s1, s2, k, m), len(ids))

    c1, _ = hashing.hash_strings(ids, "murmur3")
    size = params.next_power_of_two(agg.cuckoo_shard_size(len(ids), 1))
    fp_len = params.cuckoo_fingerprint_length(size, 0.01)

    def cuckoo_insert():
        f = cuckoo.CuckooFilter(size, 4, fp_len)
        f.bulk_insert_hashes(c1)
        return f

    out["kernels.cuckoo.insert_elem_per_s"] = _rate(cuckoo_insert, len(ids))
    filt = cuckoo_insert()
    out["kernels.cuckoo.lookup_elem_per_s"] = _rate(
        lambda: filt.lookup_hashes(c1), len(ids))

    # sketch state layer: one partial per input split, as phase 1 emits
    partials = []
    for sl in arrays["slices"]:
        a, b = hashing.hash_tokens(sl, "metro")
        r = hll.new_state(16384)
        hll.update_batch(r, a)
        mt = cms.new_state(d, w)
        n_sum = cms.update_batch(mt, a, b)
        partials.append((HLLState(16384, r, len(sl)), CMSState(d, w, mt, n_sum)))
    bw = bloom.new_state(m)
    bloom.insert_batch(bw, s1, s2, k, m)
    states = [s for pair in partials for s in pair] + [
        BloomState(m, k, bw, len(ids)),
        CuckooState(size, 4, fp_len, 500, filt.length, filt.buckets)]
    blobs = [s.to_bytes() for s in states]
    mb = sum(len(b) for b in blobs) / 1e6
    out["state.encode_mb_per_s"] = _rate(
        lambda: [s.to_bytes() for s in states], mb)
    out["state.decode_mb_per_s"] = _rate(
        lambda: [sketch_from_bytes(b) for b in blobs], mb)
    hll_blobs = [p[0].to_bytes() for p in partials]
    cms_blobs = [p[1].to_bytes() for p in partials]
    merge_mb = sum(len(b) for b in hll_blobs + cms_blobs) / 1e6
    out["state.merge_mb_per_s"] = _rate(
        lambda: (agg.merge_sketch_states(hll_blobs),
                 agg.merge_sketch_states(cms_blobs)), merge_mb)
    out["state.partial_bytes"] = float(sum(len(b) for b in hll_blobs
                                           + cms_blobs))
    return out
