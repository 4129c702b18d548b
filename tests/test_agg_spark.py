"""End-to-end Spark tests for the two-phase aggregation (SURVEY.md §5.2:
error-bound gates, partition invariance, global fold invariant)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gostatix_spark import params
from gostatix_spark.agg import cuckoo_build, sketch_agg
from gostatix_spark.corpus import corpus_df
from gostatix_spark.kernels import hll as hll_kernel
from gostatix_spark.query import (bloom_contains, cms_count_col, cms_counts,
                                  cuckoo_contains, hll_estimate, topk_values)
from gostatix_spark.state import sketch_from_bytes

N_DOCS = 2000


@pytest.fixture(scope="module")
def corpus(spark):
    df = corpus_df(spark, N_DOCS, seed=42, partitions=8).cache()
    df.count()
    return df


class TestHLLAgg:
    def test_distinct_tokens_per_source_within_bound(self, spark, corpus):
        m = 4096
        states = sketch_agg(corpus, "hll", "tokens", key_col="source", m=m)
        got = {r["source"]: r["est_distinct"]
               for r in hll_estimate(states).collect()}
        exact = {r["source"]: r["exact"]
                 for r in corpus.select("source", F.explode("tokens").alias("t"))
                 .groupBy("source").agg(F.countDistinct("t").alias("exact"))
                 .collect()}
        assert set(got) == set(exact)
        bound = 3 * params.hll_accuracy(m)
        for s in exact:
            rel = abs(got[s] - exact[s]) / exact[s]
            assert rel <= bound, (s, got[s], exact[s])

    def test_intersect_pairs_inclusion_exclusion(self, spark):
        """hll_intersect_pairs: planted overlapping id sets — the
        estimate must sit within the RSS 3σ bound of the TRUE
        intersection for every pair, and est_a/est_b/est_union must be
        self-consistent (est_intersect = est_a + est_b − est_union)."""
        from gostatix_spark.query import hll_intersect_pairs
        m = 4096
        # groups: g0 = [0, 20k), g1 = [10k, 30k), g2 = [25k, 45k)
        spans = {"g0": (0, 20000), "g1": (10000, 30000),
                 "g2": (25000, 45000)}
        df = None
        for g, (lo, hi) in spans.items():
            part = spark.range(lo, hi).select(
                F.lit(g).alias("grp"), F.col("id").alias("uid"))
            df = part if df is None else df.unionByName(part)
        states = sketch_agg(df, "hll", "uid", key_col="grp", m=m)
        rows = hll_intersect_pairs(states, "grp").collect()
        assert len(rows) == 3
        acc = params.hll_accuracy(m)
        for r in rows:
            (a_lo, a_hi), (b_lo, b_hi) = spans[r["key_a"]], spans[r["key_b"]]
            true = max(0, min(a_hi, b_hi) - max(a_lo, b_lo))
            sigma = acc * (r["est_a"] ** 2 + r["est_b"] ** 2
                           + r["est_union"] ** 2) ** 0.5
            assert r["est_intersect"] == \
                r["est_a"] + r["est_b"] - r["est_union"]
            assert r["est_jaccard"] == pytest.approx(
                r["est_intersect"] / r["est_union"])
            assert abs(r["est_intersect"] - true) <= 3 * sigma, \
                (r, true, sigma)

    def test_intersect_pairs_explicit_subset(self, spark):
        """The scale path: an explicit [key_a, key_b] pairs DataFrame
        replaces the K² all-pairs join — output must contain exactly
        the requested pairs, with values identical to the all-pairs
        run (same sketches, same math)."""
        from gostatix_spark.query import hll_intersect_pairs
        df = None
        for g, (lo, hi) in {"g0": (0, 8000), "g1": (4000, 12000),
                            "g2": (10000, 18000)}.items():
            part = spark.range(lo, hi).select(
                F.lit(g).alias("grp"), F.col("id").alias("uid"))
            df = part if df is None else df.unionByName(part)
        states = sketch_agg(df, "hll", "uid", key_col="grp", m=1024)
        all_rows = {(r["key_a"], r["key_b"]): r.asDict()
                    for r in hll_intersect_pairs(states, "grp").collect()}
        pairs = spark.createDataFrame([("g0", "g1"), ("g1", "g2")],
                                      "key_a string, key_b string")
        sub = {(r["key_a"], r["key_b"]): r.asDict()
               for r in hll_intersect_pairs(states, "grp",
                                            pairs=pairs).collect()}
        assert set(sub) == {("g0", "g1"), ("g1", "g2")}
        for k, row in sub.items():
            assert row == all_rows[k], k
        # a requested pair with a sketch-less key is VISIBLE as a null
        # row, never silently dropped (ADVICE r4: left-join semantics)
        pairs2 = spark.createDataFrame([("g0", "g1"), ("g0", "ghost")],
                                       "key_a string, key_b string")
        rows2 = {(r["key_a"], r["key_b"]): r.asDict()
                 for r in hll_intersect_pairs(states, "grp",
                                              pairs=pairs2).collect()}
        assert set(rows2) == {("g0", "g1"), ("g0", "ghost")}
        ghost = rows2[("g0", "ghost")]
        assert all(ghost[c] is None for c in
                   ("est_a", "est_b", "est_union", "est_intersect",
                    "est_jaccard"))
        assert rows2[("g0", "g1")] == all_rows[("g0", "g1")]

    def test_partition_invariance_bytewise(self, spark, corpus):
        blobs = []
        for nparts in (1, 4, 8):
            states = sketch_agg(corpus.repartition(nparts), "hll", "tokens", m=1024)
            blobs.append(states.collect()[0]["state"])
        regs = [sketch_from_bytes(bytes(b)).registers for b in blobs]
        assert np.array_equal(regs[0], regs[1])
        assert np.array_equal(regs[1], regs[2])

    def test_tree_merge_same_result(self, spark, corpus):
        a = sketch_agg(corpus, "hll", "tokens", m=1024)
        b = sketch_agg(corpus, "hll", "tokens", m=1024, tree_fanout=3)
        ra = sketch_from_bytes(bytes(a.collect()[0]["state"])).registers
        rb = sketch_from_bytes(bytes(b.collect()[0]["state"])).registers
        assert np.array_equal(ra, rb)


class TestCMSInnerProduct:
    def test_join_size_bound_and_no_underestimate(self, spark):
        """Planted frequency vectors with a known true join size:
        a = {k: 3 copies, k<100}; b = {k: 2 copies, 50<=k<150} →
        true Σ f_a·f_b = 50·3·2 = 300. The estimate must satisfy
        true ≤ est ≤ true + (e/w)·|a|·|b|."""
        import numpy as np
        from gostatix_spark.query import cms_inner_product
        d, w = 7, 2719
        a = spark.range(100).withColumn(
            "x", F.explode(F.array(*[F.lit(i) for i in range(3)]))) \
            .select(F.col("id").alias("k"))
        b = spark.range(50, 150).withColumn(
            "x", F.explode(F.array(*[F.lit(i) for i in range(2)]))) \
            .select(F.col("id").alias("k"))
        sa = sketch_agg(a, "cms", "k", element="int64", d=d, w=w)
        sb = sketch_agg(b, "cms", "k", element="int64", d=d, w=w)
        est = cms_inner_product(sa, sb).collect()[0]["est_join_size"]
        true = 300
        assert true <= est <= true + (np.e / w) * 300 * 200, est

    def test_weighted_build_equals_row_build_bytewise(self, spark):
        """CMS linearity: building from a pre-aggregated (key, count)
        table with weight_col must equal the raw-row build
        BIT-FOR-BIT (the reference's Update(data, count),
        count_min_sketch.go:60) — matrix, all_sum, and n_items."""
        rows = spark.range(500).selectExpr("id % 37 AS k")
        agg_tbl = rows.groupBy("k").agg(F.count("*").alias("cnt"))
        plain = sketch_agg(rows, "cms", "k", element="int64", d=5, w=271)
        weighted = sketch_agg(agg_tbl, "cms", "k", element="int64",
                              d=5, w=271, weight_col="cnt")
        b_plain = bytes(plain.collect()[0]["state"])
        b_weighted = bytes(weighted.collect()[0]["state"])
        assert b_plain == b_weighted
        assert weighted.collect()[0]["n_items"] == 500
        # keyed variant too
        krows = spark.range(600).selectExpr("id % 3 AS g", "id % 41 AS k")
        kagg = krows.groupBy("g", "k").agg(F.count("*").alias("cnt"))
        p = {r["g"]: bytes(r["state"]) for r in
             sketch_agg(krows, "cms", "k", key_col="g", element="int64",
                        d=5, w=271).collect()}
        w_ = {r["g"]: bytes(r["state"]) for r in
              sketch_agg(kagg, "cms", "k", key_col="g", element="int64",
                         d=5, w=271, weight_col="cnt").collect()}
        assert p == w_
        # gated to the count-linear kind
        with pytest.raises(ValueError, match="weight_col"):
            sketch_agg(agg_tbl, "hll", "k", element="int64", m=64,
                       weight_col="cnt")

    def test_dim_mismatch_raises(self, spark):
        from gostatix_spark.query import cms_inner_product
        sa = sketch_agg(spark.range(10), "cms", "id", element="int64",
                        d=5, w=271)
        sb = sketch_agg(spark.range(10), "cms", "id", element="int64",
                        d=5, w=547)
        import pytest as _pt
        with _pt.raises(Exception):
            cms_inner_product(sa, sb).collect()


class TestBloomCardinality:
    def test_fill_estimate_ignores_duplicate_inserts(self, spark):
        """bloom_cardinality recovers the DISTINCT count from the
        bitset fill — where n_items (a row counter) double-counts
        re-inserted elements. 10k ∪ [5k,15k) = 20k rows, 15k distinct."""
        from gostatix_spark.query import bloom_cardinality
        df = spark.range(0, 10000).unionByName(spark.range(5000, 15000))
        states = sketch_agg(df.select(F.col("id")), "bloom", "id",
                            n=15000, eps=0.01)
        r = bloom_cardinality(states).collect()[0]
        assert r["n_items"] == 20000            # counter double-counts
        assert abs(r["est_items"] - 15000) / 15000 < 0.03

    def test_saturated_filter_returns_sentinel(self, spark):
        from gostatix_spark.query import bloom_cardinality
        from gostatix_spark.state import BloomState, sketch_from_bytes
        blob = sketch_agg(spark.range(10), "bloom", "id",
                          n=10, eps=0.01).collect()[0]["state"]
        st = sketch_from_bytes(bytes(blob))
        st.words[:] = np.uint64(0xFFFFFFFFFFFFFFFF)
        full = spark.createDataFrame([(bytearray(st.to_bytes()),)],
                                     "state binary")
        assert bloom_cardinality(full).collect()[0]["est_items"] == -1


class TestCMSAgg:
    def test_point_queries_vs_exact(self, spark, corpus):
        # wide CMS + few hot tokens → estimates are exact upper bounds
        states = sketch_agg(corpus, "cms", "tokens", eps=0.0001, fail_prob=0.01)
        hot = [1, 2, 3, 5, 10]
        got = {r["item"]: r["est_count"]
               for r in cms_counts(states, hot, element="int32").collect()}
        exact = {r["t"]: r["cnt"]
                 for r in corpus.select(F.explode("tokens").alias("t"))
                 .where(F.col("t").isin(hot))
                 .groupBy("t").agg(F.count("*").alias("cnt")).collect()}
        n_total = corpus.select(F.sum("n_tok")).collect()[0][0]
        for t in hot:
            assert got[t] >= exact[t]                 # never underestimates
            assert got[t] - exact[t] <= 0.0001 * n_total

    def test_all_sum_tracked(self, spark, corpus):
        states = sketch_agg(corpus, "cms", "tokens", d=3, w=1000)
        st = sketch_from_bytes(bytes(states.collect()[0]["state"]))
        n_total = corpus.select(F.sum("n_tok")).collect()[0][0]
        assert st.all_sum == n_total


class TestBloomAgg:
    def test_no_false_negatives_and_fpr(self, spark, corpus):
        n = N_DOCS
        states = sketch_agg(corpus, "bloom", "doc_id", element="string",
                            n=n, eps=0.01)
        blob = bytes(states.collect()[0]["state"])
        probes = corpus.select("doc_id").withColumn(
            "hit", bloom_contains(spark, blob, F.col("doc_id"), "string"))
        assert probes.where(~F.col("hit")).count() == 0  # no false negatives
        missing = spark.range(N_DOCS, N_DOCS + 5000).select(
            F.format_string("doc-%012d", "id").alias("doc_id"))
        fp = missing.withColumn(
            "hit", bloom_contains(spark, blob, F.col("doc_id"), "string")) \
            .where("hit").count()
        assert fp / 5000 <= 0.02  # ≤ 2×ε slack at this n


class TestTopKAgg:
    def test_heavy_hitters_exact_vs_oracle(self, spark, corpus):
        k = 10
        states = sketch_agg(corpus, "topk", "tokens", element="tokens",
                            k=k, eps=0.0001, slack=4)
        got = topk_values(states, decode="int32").orderBy("rank").collect()
        oracle = (corpus.select(F.explode("tokens").alias("t"))
                  .groupBy("t").agg(F.count("*").alias("cnt"))
                  .orderBy(F.desc("cnt"), F.asc("t")).limit(k).collect())
        n_total = corpus.select(F.sum("n_tok")).collect()[0][0]
        # ranking matches the exact oracle; CMS estimates are ≥ exact and
        # within ε·N (reference semantics: heap stores CMS estimates)
        assert [r["element"] for r in got] == [r["t"] for r in oracle]
        for g, o in zip(got, oracle):
            assert o["cnt"] <= g["est_count"] <= o["cnt"] + 0.0001 * n_total
        # exact mode: summed per-partition candidate counts == oracle
        got_exact = (topk_values(states, exact=True, decode="int32")
                     .orderBy("rank").collect())
        assert [(r["element"], r["est_count"]) for r in got_exact] == \
            [(r["t"], r["cnt"]) for r in oracle]


    def test_string_topk_vectorized_vs_oracle(self, spark, corpus):
        """String elements go through the BytesCounts value_counts path
        (not the old per-element Counter); exact mode must equal the
        GROUP BY oracle, global and keyed."""
        k = 3
        states = sketch_agg(corpus, "topk", "source", element="string",
                            k=k, eps=0.0001, slack=4)
        oracle = (corpus.groupBy("source").agg(F.count("*").alias("cnt"))
                  .orderBy(F.desc("cnt"), F.asc("source")).limit(k).collect())
        got = (topk_values(states, exact=True, decode="string")
               .orderBy("rank").collect())
        assert [(r["element"], r["est_count"]) for r in got] == \
            [(r["source"], r["cnt"]) for r in oracle]
        # keyed path exercises Arrow-take group selection: all doc_ids
        # are unique (count 1), so top-2 per source = the 2 smallest ids
        keyed = sketch_agg(corpus, "topk", "doc_id", element="string",
                           key_col="source", k=2, eps=0.0001)
        got_k = {(r["source"], r["rank"]): r["element"]
                 for r in topk_values(keyed, exact=True,
                                      decode="string").collect()}
        oracle_k = (corpus.selectExpr(
                        "source", "doc_id",
                        "row_number() over (partition by source"
                        " order by doc_id asc) as rn")
                    .where("rn <= 2").collect())
        for r in oracle_k:
            assert got_k[(r["source"], r["rn"])] == r["doc_id"]

    def test_max_distinct_cap_matches_uncapped_topk(self, spark):
        """max_distinct bounds phase-1 memory on a near-unique string
        column (the URL/doc-id workload); the capped build's CMS-mode
        top-k must equal the uncapped build's above the ε·N noise
        floor."""
        k = 10
        # 120k near-unique ids + 15 planted heavy hitters (count ~800)
        df = spark.range(120_000).selectExpr(
            "CASE WHEN id % 150 < 15 THEN concat('hot', id % 150)"
            " ELSE concat('u', id) END AS elem")
        capped = sketch_agg(df, "topk", "elem", k=k, eps=0.0001,
                            slack=8, max_distinct=2048)
        plain = sketch_agg(df, "topk", "elem", k=k, eps=0.0001, slack=8)
        got_c = [(r["element"], r["est_count"])
                 for r in topk_values(capped, exact=False,
                                      decode="string").orderBy("rank").collect()]
        got_p = [(r["element"], r["est_count"])
                 for r in topk_values(plain, exact=False,
                                      decode="string").orderBy("rank").collect()]
        eps_n = 0.0001 * 120_000
        assert {e for e, _ in got_c} == {e for e, _ in got_p}
        cp, pp = dict(got_c), dict(got_p)
        for e in cp:
            assert abs(cp[e] - pp[e]) <= 2 * eps_n, e
        # the capped marker survives serialization + merge, and guards
        # the exact=True fast path (ADVICE r4: no silent undercount)
        from gostatix_spark.state import sketch_from_bytes
        st_c = sketch_from_bytes(bytes(capped.collect()[0]["state"]))
        st_p = sketch_from_bytes(bytes(plain.collect()[0]["state"]))
        assert st_c.capped and not st_p.capped
        with pytest.raises(Exception, match="capped"):
            topk_values(capped, exact=True, decode="string").collect()
        # uncapped exact path still works
        topk_values(plain, exact=True, decode="string").collect()


class TestCuckooAgg:
    def test_membership_sharded(self, spark, corpus):
        states = cuckoo_build(corpus, "doc_id", element="string", n_shards=4,
                              eps=0.001)
        rows = states.collect()
        assert len(rows) == 4
        shard_blobs = [None] * 4
        for r in rows:
            shard_blobs[r["shard"]] = bytes(r["state"])
        assert sum(r["n_items"] for r in rows) == N_DOCS
        probes = corpus.select("doc_id").withColumn(
            "hit", cuckoo_contains(spark, shard_blobs, F.col("doc_id"), "string"))
        assert probes.where(~F.col("hit")).count() == 0


class TestMultiSketchAgg:
    def test_one_scan_matches_individual_builds(self, spark, corpus):
        from gostatix_spark.agg import multi_sketch_agg
        got = {(r["sketch_name"], r["key"]): bytes(r["state"])
               for r in multi_sketch_agg(corpus, [
                   {"name": "hll", "kind": "hll", "value_col": "tokens",
                    "key_col": "source", "params": {"m": 1024}},
                   {"name": "bloom", "kind": "bloom", "value_col": "doc_id",
                    "element": "string",
                    "params": {"n": N_DOCS, "eps": 0.01}},
                   {"name": "topk", "kind": "topk", "value_col": "tokens",
                    "params": {"k": 5, "eps": 0.0001}},
               ]).collect()}
        hll_single = sketch_agg(corpus, "hll", "tokens", key_col="source",
                                m=1024)
        for r in hll_single.collect():
            assert sketch_from_bytes(got[("hll", r["source"])]).equals(
                sketch_from_bytes(bytes(r["state"])))
        bloom_single = sketch_agg(corpus, "bloom", "doc_id",
                                  element="string", n=N_DOCS, eps=0.01)
        assert sketch_from_bytes(got[("bloom", None)]).equals(
            sketch_from_bytes(bytes(bloom_single.collect()[0]["state"])))
        topk_single = sketch_agg(corpus, "topk", "tokens", k=5, eps=0.0001)
        assert sketch_from_bytes(got[("topk", None)]).equals(
            sketch_from_bytes(bytes(topk_single.collect()[0]["state"])))


    def test_mixed_element_kinds_share_columns(self, spark, corpus):
        """Regression (round-2 verdict #1): two jobs over the SAME
        (key_col, value_col) with different element kinds — flattened
        'tokens' vs per-row 'token_array' — must not share the group
        cache's selection arrays (their lengths differ)."""
        from gostatix_spark.agg import multi_sketch_agg
        got = {(r["sketch_name"], r["key"]): bytes(r["state"])
               for r in multi_sketch_agg(corpus, [
                   {"name": "hll_tok", "kind": "hll", "value_col": "tokens",
                    "key_col": "source", "params": {"m": 1024}},
                   {"name": "bloom_arr", "kind": "bloom",
                    "value_col": "tokens", "key_col": "source",
                    "element": "token_array",
                    "params": {"n": N_DOCS, "eps": 0.01}},
               ]).collect()}
        hll_single = sketch_agg(corpus, "hll", "tokens", key_col="source",
                                m=1024)
        for r in hll_single.collect():
            assert sketch_from_bytes(got[("hll_tok", r["source"])]).equals(
                sketch_from_bytes(bytes(r["state"])))
        bloom_single = sketch_agg(corpus, "bloom", "tokens",
                                  key_col="source", element="token_array",
                                  n=N_DOCS, eps=0.01)
        for r in bloom_single.collect():
            assert sketch_from_bytes(got[("bloom_arr", r["source"])]).equals(
                sketch_from_bytes(bytes(r["state"])))


class TestNullElements:
    @pytest.mark.parametrize("kind,params", [
        ("hll", {"m": 256}),
        ("bloom", {"n": 300, "eps": 0.01}),
        ("cms", {"d": 3, "w": 64}),
    ])
    @pytest.mark.parametrize("sql_type,zero,key_col", [
        ("bigint", "0", "g"),
        ("string", "''", None),
    ])
    def test_nulls_build_the_null_free_state(self, spark, kind, params,
                                             sql_type, zero, key_col):
        """A null value is skipped, not hashed as INT64_MIN or ''."""
        df = spark.range(300).selectExpr(
            "id % 3 AS g",
            f"CASE WHEN id % 7 = 0 THEN NULL WHEN id % 11 = 0 THEN {zero}"
            f" ELSE CAST(id % 50 AS {sql_type}) END AS v")

        def build(d):
            return {r[key_col] if key_col else None:
                    (bytes(r["state"]), r["n_items"])
                    for r in sketch_agg(d, kind, "v", key_col=key_col,
                                        **params).collect()}

        assert build(df) == build(df.where("v IS NOT NULL"))


class TestElementKinds:
    def test_token_array_element_dedup_semantics(self, spark, corpus):
        # whole-array membership: every full token array is in the bloom
        states = sketch_agg(corpus, "bloom", "tokens", element="token_array",
                            n=N_DOCS, eps=0.01)
        blob = bytes(states.collect()[0]["state"])
        probes = corpus.select("tokens").withColumn(
            "hit", bloom_contains(spark, blob, F.col("tokens"), "token_array"))
        assert probes.where(~F.col("hit")).count() == 0

    def test_cms_count_col_probe(self, spark, corpus):
        states = sketch_agg(corpus, "cms", "source", element="string",
                            d=5, w=2719)
        blob = bytes(states.collect()[0]["state"])
        got = (corpus.withColumn(
                   "est", cms_count_col(spark, blob, F.col("source"), "string"))
               .groupBy("source").agg(F.max("est").alias("est")).collect())
        exact = {r["source"]: r["cnt"] for r in
                 corpus.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
        for r in got:
            assert r["est"] == exact[r["source"]]  # wide CMS, 4 keys → exact


class TestCuckooRemovals:
    def test_distributed_remove_then_probe(self, spark, corpus):
        """Build sharded → remove half as a DataFrame (no driver loop) →
        remaining elements all found; removed ones (mostly) not."""
        from gostatix_spark.agg import cuckoo_apply_removals
        states = cuckoo_build(corpus, "doc_id", element="string", n_shards=4,
                              eps=0.001)
        removals = corpus.where("int(substr(doc_id, 5)) % 2 = 0") \
            .select("doc_id")
        n_removed = removals.count()
        after = cuckoo_apply_removals(states, removals, "doc_id",
                                      element="string", n_shards=4)
        rows = after.collect()
        assert len(rows) == 4
        assert sum(r["n_items"] for r in rows) == N_DOCS - n_removed
        shard_map = {r["shard"]: bytes(r["state"]) for r in rows}
        kept = corpus.where("int(substr(doc_id, 5)) % 2 = 1")
        probes = kept.select("doc_id").withColumn(
            "hit", cuckoo_contains(spark, shard_map, F.col("doc_id"),
                                   "string", n_shards=4))
        assert probes.where(~F.col("hit")).count() == 0  # no false negatives
        gone = corpus.where("int(substr(doc_id, 5)) % 2 = 0").select("doc_id") \
            .withColumn("hit", cuckoo_contains(spark, shard_map,
                                               F.col("doc_id"), "string",
                                               n_shards=4))
        # removed elements may fp-collide, but the bulk must be gone
        assert gone.where(F.col("hit")).count() < 0.01 * n_removed

    def test_empty_shards_emitted(self, spark):
        """A build whose elements miss some shards still emits a state
        row per shard (probe routing needs the full 0..n-1 set)."""
        one = spark.createDataFrame([(1,)], "v bigint")
        states = cuckoo_build(one, "v", n_shards=8, size=64)
        rows = states.collect()
        assert sorted(r["shard"] for r in rows) == list(range(8))
        assert sum(r["n_items"] for r in rows) == 1

    def test_autosized_sharded_load(self, spark, corpus):
        """Auto-sizing splits capacity across shards; the splitmix shard
        routing must leave every in-shard bucket reachable, or the
        0.955-load build overflows (the raw h1%n_shards routing fixed a
        shard's low bits, freezing i1's low bits with pow-2 sizes)."""
        states = cuckoo_build(corpus, "doc_id", element="string",
                              n_shards=8, eps=0.01)  # size=None → auto
        rows = states.collect()
        assert sum(r["n_items"] for r in rows) == N_DOCS
        shard_map = {r["shard"]: bytes(r["state"]) for r in rows}
        probes = corpus.select("doc_id").withColumn(
            "hit", cuckoo_contains(spark, shard_map, F.col("doc_id"),
                                   "string", n_shards=8))
        assert probes.where(~F.col("hit")).count() == 0

    def test_shard_mapping_validation(self, spark, corpus):
        import pytest as _pt
        states = cuckoo_build(corpus, "doc_id", element="string", n_shards=4,
                              eps=0.01)
        rows = states.collect()
        shard_map = {r["shard"]: bytes(r["state"]) for r in rows}
        del shard_map[2]
        with _pt.raises(ValueError, match="missing"):
            cuckoo_contains(spark, shard_map, F.col("doc_id"), "string",
                            n_shards=4)


class TestBloomSharded:
    def test_no_false_negatives_and_fpr(self, spark, corpus):
        from gostatix_spark.agg import bloom_build_sharded
        from gostatix_spark.query import bloom_contains_sharded
        states = bloom_build_sharded(corpus, "doc_id", element="string",
                                     n=N_DOCS, eps=0.01, n_shards=8)
        rows = states.collect()
        assert sorted(r["shard"] for r in rows) == list(range(8))
        assert sum(r["n_items"] for r in rows) == N_DOCS
        shard_map = {r["shard"]: bytes(r["state"]) for r in rows}
        hits = corpus.select("doc_id").withColumn(
            "hit", bloom_contains_sharded(spark, shard_map, F.col("doc_id"),
                                          "string", n_shards=8))
        assert hits.where(~F.col("hit")).count() == 0
        missing = spark.range(N_DOCS, N_DOCS + 5000).select(
            F.concat(F.lit("doc_"), F.col("id")).alias("doc_id"))
        fp = missing.withColumn(
            "hit", bloom_contains_sharded(spark, shard_map, F.col("doc_id"),
                                          "string", n_shards=8)) \
            .where(F.col("hit")).count()
        assert fp / 5000 < 0.03  # ≈ eps with slack

    def test_matches_unsharded_semantics(self, spark, corpus):
        """Sharded and unsharded filters answer membership identically
        on inserted keys and use the same total bit budget per element."""
        from gostatix_spark.agg import bloom_build_sharded
        from gostatix_spark.state import sketch_from_bytes as sfb
        states = bloom_build_sharded(corpus, "doc_id", element="string",
                                     n=N_DOCS, eps=0.01, n_shards=4)
        sts = [sfb(bytes(r["state"])) for r in states.collect()]
        single = sketch_agg(corpus, "bloom", "doc_id", element="string",
                            n=N_DOCS, eps=0.01)
        st1 = sfb(bytes(single.collect()[0]["state"]))
        total_sharded_bits = sum(s.m for s in sts)
        assert abs(total_sharded_bits - st1.m) / st1.m < 0.01


class TestJoinProbes:
    def test_cuckoo_contains_join(self, spark, corpus):
        """Broadcast-free probe path: states never collected; results
        match the broadcast probe exactly."""
        from gostatix_spark.agg import cuckoo_apply_removals
        from gostatix_spark.query import cuckoo_contains_join
        states = cuckoo_build(corpus, "doc_id", element="string",
                              n_shards=4, eps=0.001)
        removals = corpus.where("int(substr(doc_id, 5)) % 3 = 0") \
            .select("doc_id")
        states = cuckoo_apply_removals(states, removals, "doc_id",
                                       element="string", n_shards=4)
        probes = corpus.select("doc_id")
        got = {r["doc_id"]: r["contained"] for r in
               cuckoo_contains_join(states, probes, "doc_id",
                                    n_shards=4, element="string").collect()}
        assert len(got) == N_DOCS
        shard_map = {r["shard"]: bytes(r["state"]) for r in states.collect()}
        want = {r["doc_id"]: r["hit"] for r in probes.withColumn(
            "hit", cuckoo_contains(spark, shard_map, F.col("doc_id"),
                                   "string", n_shards=4)).collect()}
        assert got == want
        kept = [d for d in got
                if int(d[4:]) % 3 != 0]
        assert all(got[d] for d in kept)  # no false negatives

    def test_bloom_contains_join(self, spark, corpus):
        from gostatix_spark.agg import bloom_build_sharded
        from gostatix_spark.query import bloom_contains_join
        states = bloom_build_sharded(corpus, "doc_id", element="string",
                                     n=N_DOCS, eps=0.01, n_shards=8)
        probes = corpus.select("doc_id")
        got = bloom_contains_join(states, probes, "doc_id", n_shards=8,
                                  element="string")
        assert got.where(~F.col("contained")).count() == 0
        assert got.count() == N_DOCS
