"""Distributed cuckoo build and removals: every (key?, shard) state row
is emitted, keyed removals remove exactly their ids, and each state is
the filter a driver builds by inserting that shard's murmur3 ``h1``s in
(partition, row) order — the same bytes on every run."""

import numpy as np
import pytest

from gostatix_spark import hashing
from gostatix_spark.agg import cuckoo_apply_removals, cuckoo_build
from gostatix_spark.kernels.cuckoo import CuckooFilter
from gostatix_spark.state import CuckooState, sketch_from_bytes

N = 600
N_SHARDS = 4
SIZE = 64  # buckets per shard: ~0.6 load, so insert order matters
FP_LEN = 10  # long fingerprints: no two test ids collide
KEYS = ["a", "b", None, "solo"]  # "solo" has one id: 3 empty shards


def _filter(blob) -> CuckooFilter:
    st = sketch_from_bytes(bytes(blob))
    return CuckooFilter(st.size, st.bucket_size, st.fp_len, st.retries,
                        buckets=st.buckets, length=st.length)


def _h1(ids) -> np.ndarray:
    return hashing.hash_strings(list(ids), "murmur3")[0]


@pytest.fixture(scope="module")
def keyed(spark):
    rows = [(KEYS[i % 3], f"id-{i}") for i in range(N)] + [("solo", "solo")]
    return rows, spark.createDataFrame(rows, "k string, v string")


def test_keyed_build_emits_every_key_shard_and_removes_exact_ids(
        spark, keyed):
    rows, df = keyed
    built = cuckoo_build(df, "v", key_col="k", n_shards=N_SHARDS, size=SIZE,
                         fp_len=FP_LEN)
    gone = [r for i, r in enumerate(rows) if i % 4 == 0]
    after = cuckoo_apply_removals(
        built, spark.createDataFrame(gone, "k string, v string"), "v",
        key_col="k", n_shards=N_SHARDS)
    every = sorted((k or "", s) for k in KEYS for s in range(N_SHARDS))
    got = {}
    for name, states in (("built", built), ("after", after)):
        out = states.collect()
        assert sorted((r["k"] or "", r["shard"]) for r in out) == every
        got[name] = {(r["k"], r["shard"]): r for r in out}
    gone_ids = {v for _, v in gone}
    for key in KEYS:
        ids = [v for k, v in rows if k == key]
        h1 = _h1(ids)
        shard = hashing.shard_of(h1, N_SHARDS)
        kept = np.array([v not in gone_ids for v in ids])
        for s in range(N_SHARDS):
            sel = shard == s
            assert got["built"][(key, s)]["n_items"] == sel.sum()
            assert got["after"][(key, s)]["n_items"] == (sel & kept).sum()
            f = _filter(got["after"][(key, s)]["state"])
            assert np.array_equal(f.lookup_hashes(h1[sel]), kept[sel])


def test_unkeyed_build_over_empty_input_emits_every_shard(spark):
    empties = [
        spark.createDataFrame([], "v string"),
        spark.range(100, numPartitions=3).where("id < 0")
        .selectExpr("string(id) AS v"),
    ]
    for empty in empties:
        rows = cuckoo_build(empty, "v", n_shards=8, size=SIZE).collect()
        assert sorted(r["shard"] for r in rows) == list(range(8))
        assert all(r["n_items"] == 0 for r in rows)
        assert all(_filter(r["state"]).length == 0 for r in rows)


def test_states_replay_partition_row_order_deterministically(spark):
    df = spark.createDataFrame([(f"id-{i}",) for i in range(N)], "v string")
    assert df.rdd.getNumPartitions() > 1
    in_order = [r["v"] for part in df.rdd.glom().collect() for r in part]
    h1 = _h1(in_order)
    shard = hashing.shard_of(h1, N_SHARDS)
    runs = [{r["shard"]: bytes(r["state"]) for r in
             cuckoo_build(df, "v", n_shards=N_SHARDS, size=SIZE,
                          fp_len=FP_LEN, seed=7).collect()}
            for _ in range(2)]
    assert runs[0] == runs[1]
    for s in range(N_SHARDS):
        f = CuckooFilter(SIZE, 4, FP_LEN, 500, seed=7)
        f.bulk_insert_hashes(h1[shard == s])
        want = CuckooState(SIZE, 4, FP_LEN, 500, f.length, f.buckets)
        assert runs[0][s] == want.to_bytes(), s
