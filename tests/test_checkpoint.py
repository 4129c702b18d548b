"""Checkpoint/resume tests (FIXTURES.md F4 resume_sim): kill-after-k
partitions → resume → final state identical to the uninterrupted run;
lineage columns present."""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from gostatix_spark.agg import sketch_agg
from gostatix_spark.checkpoint import checkpointed_sketch_agg
from gostatix_spark.corpus import corpus_df
from gostatix_spark.state import sketch_from_bytes


@pytest.fixture(scope="module")
def corpus(spark):
    df = corpus_df(spark, 1200, seed=7, partitions=16).cache()
    df.count()
    return df


@pytest.mark.parametrize("kind,params", [
    ("hll", {"m": 1024}),
    ("cms", {"d": 3, "w": 500}),
    ("bloom", {"n": 1200, "eps": 0.01}),
    ("topk", {"k": 5, "eps": 0.0001}),
])
def test_resume_equals_uninterrupted(spark, corpus, kind, params):
    straight = sketch_agg(corpus, kind, "tokens", key_col="source", **params)
    want = {r["source"]: bytes(r["state"]) for r in straight.collect()}

    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        # run 1: "executor loss" after partition 6 → only partials 0..6 land
        first = checkpointed_sketch_agg(
            corpus, kind, "tokens", checkpoint_path=path, key_col="source",
            fail_after_partition=6, **params)
        partial_keys = {r["source"] for r in first.collect()}
        assert partial_keys  # partial result exists but is incomplete

        cp = spark.read.parquet(path)
        assert {"sketch_kind", "partition_id", "snapshot_id",
                "rows_consumed", "n_items", "state"} <= set(cp.columns)
        done = {r["partition_id"] for r in
                cp.select("partition_id").distinct().collect()}
        assert done == set(range(7))

        # run 2: resume — only partitions 7..15 recomputed
        resumed = checkpointed_sketch_agg(
            corpus, kind, "tokens", checkpoint_path=path, key_col="source",
            **params)
        got = {r["source"]: bytes(r["state"]) for r in resumed.collect()}

        cp2 = spark.read.parquet(path)
        snaps = [r["snapshot_id"] for r in
                 cp2.select("snapshot_id").distinct().collect()]
        assert len(snaps) == 2  # two build attempts recorded
        assert {r["partition_id"] for r in
                cp2.select("partition_id").distinct().collect()} \
            == set(range(16))

    assert set(got) == set(want)
    for s in want:
        a = sketch_from_bytes(want[s])
        b = sketch_from_bytes(got[s])
        assert a.equals(b), f"{kind}/{s} state differs after resume"


def test_rows_consumed_lineage(spark, corpus):
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        checkpointed_sketch_agg(corpus, "hll", "tokens",
                                checkpoint_path=path, m=256).collect()
        cp = spark.read.parquet(path)
        total_rows = cp.agg(F.sum("rows_consumed")).collect()[0][0]
        assert total_rows == corpus.count()


def test_two_kinds_share_one_path(spark, corpus):
    """A checkpoint path holding another kind's partials must NOT make a
    new kind's build treat partitions as done (it would silently skip
    all of phase 1 and return an empty/garbage result)."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/cp"
        first = checkpointed_sketch_agg(corpus, "hll", "tokens",
                                        checkpoint_path=path, m=1024)
        est1 = first.collect()
        assert len(est1) == 1
        # second build, different kind, SAME path: must run phase 1 fully
        second = checkpointed_sketch_agg(corpus, "cms", "tokens",
                                         checkpoint_path=path, d=3, w=500)
        rows = second.collect()
        assert len(rows) == 1
        st = sketch_from_bytes(bytes(rows[0]["state"]))
        direct = sketch_agg(corpus, "cms", "tokens", d=3, w=500).collect()
        assert bytes(rows[0]["state"]) == bytes(direct[0]["state"])


def test_unreadable_checkpoint_raises(spark, corpus):
    """A checkpoint path that exists but is not parquet must fail the
    build, not silently rerun phase 1 and append to it."""
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/cp"
        os.makedirs(path)
        with open(f"{path}/part-00000.parquet", "w") as f:
            f.write("not parquet")
        with pytest.raises(Exception, match="(?i)parquet|footer|schema"):
            checkpointed_sketch_agg(corpus, "hll", "tokens",
                                    checkpoint_path=path, m=256).collect()
        assert os.listdir(path) == ["part-00000.parquet"]
