"""Every sketch build entry point pinned to fixed state bytes.

The same sketches are built through ``sketch_agg`` (keyed, global and
weighted), ``multi_sketch_agg``, ``checkpointed_sketch_agg`` (with a
resume), the streaming sink and ``bloom_build_sharded`` over one fixed
corpus. HLL/CMS/Bloom states are pinned by the sha256 of their bytes.
Top-k candidate dict order follows merge order, so a top-k state is
pinned with ``.equals`` semantics: its candidates are sorted before the
bytes are hashed.
"""

import hashlib
import tempfile

import pytest
from pyspark.sql import functions as F

from gostatix_spark.agg import (bloom_build_sharded, multi_sketch_agg,
                                sketch_agg)
from gostatix_spark.checkpoint import checkpointed_sketch_agg
from gostatix_spark.corpus import corpus_df
from gostatix_spark.state import TopKState, sketch_from_bytes
from gostatix_spark.streaming import incremental_sketch_sink, load_sketch_state

N_DOCS = 600
PARAMS = {
    "hll": {"m": 1024},
    "cms": {"d": 3, "w": 256},
    "bloom": {"n": N_DOCS, "eps": 0.01},
    "topk": {"k": 5, "eps": 0.001},
}

# (sketch, key) -> sha256 prefix of the final state
PINS = {
    ("bloom/None", None): "b1e0b776f1d3113f",
    ("bloom_sharded", 0): "62815b22ff275ada",
    ("bloom_sharded", 1): "6e20b6029b20d5c6",
    ("bloom_sharded", 2): "b3cbfd316479927d",
    ("bloom_sharded", 3): "fa9ac57c7c149f8c",
    ("cms/None", None): "1da76240f1198f89",
    ("cms/source", "books"): "1ad24e825ab79bf4",
    ("cms/source", "code"): "488d001c6882263f",
    ("cms/source", "web"): "a25c21bbbd0d0d7b",
    ("cms/source", "wiki"): "fc317a2a111c3e7c",
    ("cms_weighted/None", None): "aa61357705bf7b29",
    ("hll/None", None): "d5679022ae0f06bf",
    ("hll/source", "books"): "fcefd00b516ed690",
    ("hll/source", "code"): "c7a54067e8fffc6a",
    ("hll/source", "web"): "c0a34dd57dc92413",
    ("hll/source", "wiki"): "8f5946f94a57f657",
    ("topk/source", "books"): "c5073d7a4f34f0d8",
    ("topk/source", "code"): "828fc75a3fd1644e",
    ("topk/source", "web"): "eb3d8d0a86da75f3",
    ("topk/source", "wiki"): "686f8ba948a44805",
}


@pytest.fixture(scope="module")
def corpus(spark):
    df = corpus_df(spark, N_DOCS, seed=5, partitions=6).cache()
    df.count()
    return df


def digest(blob) -> str:
    st = sketch_from_bytes(bytes(blob))
    if isinstance(st, TopKState):
        st.candidates = dict(sorted(st.candidates.items()))
        blob = st.to_bytes()
    return hashlib.sha256(bytes(blob)).hexdigest()[:16]


def pinned(name: str, rows, key_col: str | None) -> None:
    got = {(name, r[key_col] if key_col else None): digest(r["state"])
           for r in rows}
    assert got == {k: v for k, v in PINS.items() if k[0] == name}


@pytest.mark.parametrize("kind,value_col,key_col,element", [
    ("hll", "tokens", "source", None),
    ("hll", "tokens", None, None),
    ("cms", "tokens", "source", None),
    ("cms", "tokens", None, None),
    ("topk", "tokens", "source", None),
    ("bloom", "doc_id", None, "string"),
])
def test_sketch_agg(corpus, kind, value_col, key_col, element):
    rows = sketch_agg(corpus, kind, value_col, key_col=key_col,
                      element=element, **PARAMS[kind]).collect()
    pinned(f"{kind}/{key_col}", rows, key_col)


def test_sketch_agg_weighted_cms(corpus):
    rows = sketch_agg(corpus, "cms", "source", weight_col="n_tok",
                      **PARAMS["cms"]).collect()
    pinned("cms_weighted/None", rows, None)


def test_multi_sketch_agg(corpus):
    rows = multi_sketch_agg(corpus, [
        {"name": "hll/source", "kind": "hll", "value_col": "tokens",
         "key_col": "source", "params": PARAMS["hll"]},
        {"name": "cms/None", "kind": "cms", "value_col": "tokens",
         "params": PARAMS["cms"]},
        {"name": "topk/source", "kind": "topk", "value_col": "tokens",
         "key_col": "source", "params": PARAMS["topk"]},
        {"name": "bloom/None", "kind": "bloom", "value_col": "doc_id",
         "element": "string", "params": PARAMS["bloom"]},
    ]).collect()
    for name in ("hll/source", "cms/None", "topk/source", "bloom/None"):
        pinned(name, [r for r in rows if r["sketch_name"] == name], "key")


@pytest.mark.parametrize("kind", ["hll", "topk"])
def test_checkpointed_with_resume(corpus, kind):
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        checkpointed_sketch_agg(corpus, kind, "tokens", checkpoint_path=path,
                                key_col="source", fail_after_partition=2,
                                **PARAMS[kind]).collect()
        rows = checkpointed_sketch_agg(corpus, kind, "tokens",
                                       checkpoint_path=path, key_col="source",
                                       **PARAMS[kind]).collect()
    pinned(f"{kind}/source", rows, "source")


@pytest.mark.parametrize("kind,key_col", [("hll", "source"), ("cms", None)])
def test_streaming_sink(spark, corpus, kind, key_col):
    with tempfile.TemporaryDirectory() as tmp:
        sink = incremental_sketch_sink(kind, "tokens", f"{tmp}/state",
                                       key_col=key_col, **PARAMS[kind])
        ids = F.substring("doc_id", 5, 12).cast("long")
        sink(corpus.where(ids % 3 == 0), 0)
        sink(corpus.where(ids % 3 != 0), 1)
        rows = load_sketch_state(spark, f"{tmp}/state").collect()
    pinned(f"{kind}/{key_col}", rows, key_col)


def test_bloom_build_sharded(corpus):
    rows = bloom_build_sharded(corpus, "doc_id", element="string",
                               n=N_DOCS, eps=0.01, n_shards=4).collect()
    pinned("bloom_sharded", rows, "shard")


def test_bloom_build_sharded_emits_every_shard(spark):
    tiny = spark.range(10).select(F.col("id").cast("string").alias("v"))
    rows = bloom_build_sharded(tiny, "v", n=10, eps=0.01,
                               n_shards=64).collect()
    assert sorted(r["shard"] for r in rows) == list(range(64))
    assert sum(r["n_items"] for r in rows) == 10
