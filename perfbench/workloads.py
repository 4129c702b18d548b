"""The four workloads. Each takes a :class:`run.Run`, sets up its
session(s), runs its timed closed loop for ``run.seconds`` and checks
the library's outputs against the exact truth stored with the inputs.

Only public functions of ``gostatix_spark`` are called; spans and job
groups wrap those calls from here.
"""

from __future__ import annotations

import math
import statistics

import numpy as np

import inputs
import layers
import tracing

from gostatix_spark import agg, hashing, params, query
from gostatix_spark.kernels import bloom, cms, cuckoo, hll, topk
from gostatix_spark.state import sketch_from_bytes

# ---------------------------------------------------------------------------
# shared checks (in-process, on collected states)
# ---------------------------------------------------------------------------

HLL_M = 16384
CMS_EPS, CMS_FAIL = 0.001, 0.01
BLOOM_EPS = 0.01
CUCKOO_EPS = 0.01
CUCKOO_SHARDS = 32


def baseline_jobs(n_docs: int) -> list[dict]:
    """The BASELINE sketch set, as the scaling job builds it."""
    return [
        {"name": "hll", "kind": "hll", "value_col": "tokens",
         "key_col": "source", "params": {"m": HLL_M}},
        {"name": "cms", "kind": "cms", "value_col": "tokens",
         "key_col": "source", "params": {"eps": CMS_EPS,
                                         "fail_prob": CMS_FAIL}},
        {"name": "bloom", "kind": "bloom", "value_col": "doc_id",
         "element": "string", "params": {"n": n_docs, "eps": BLOOM_EPS}},
        {"name": "topk", "kind": "topk", "value_col": "tokens",
         "params": {"k": inputs.TOPK_K, "eps": 0.0001}},
        {"name": "tdigest", "kind": "tdigest", "value_col": "n_tok_d",
         "key_col": "source", "params": {}},
        {"name": "kll", "kind": "kll", "value_col": "n_tok_d",
         "key_col": "source", "params": {}},
    ]


def check_sketches(run, label: str, rows, truth: dict) -> None:
    """HLL bound, CMS one-sided eps*N bound, top-k recall and Bloom
    no-false-negatives on a ``multi_sketch_agg`` result."""
    by = {}
    for r in rows:
        by.setdefault(r["sketch_name"], {})[r["key"]] = bytes(r["state"])
    bound = 3 * params.hll_accuracy(HLL_M)
    for src, exact in truth["distinct_per_source"].items():
        est = hll.count(sketch_from_bytes(by["hll"][src]).registers)
        err = abs(est - exact) / exact
        run.check(f"{label}.hll[{src}]", err <= bound,
                  f"rel err {err:.4f} > {bound:.4f}")
    merged = sketch_from_bytes(agg.merge_sketch_states(by["cms"].values()))
    toks = np.array([t for t, _ in truth["cms_check"]], dtype=np.int32)
    true = np.array([c for _, c in truth["cms_check"]])
    h1, h2 = hashing.hash_tokens(toks, "metro")
    est = cms.query_batch(merged.matrix, h1, h2).astype(np.int64)
    run.check(f"{label}.cms_no_underestimate", bool((est >= true).all()),
              f"{int((est < true).sum())} tokens underestimated")
    within = float(np.mean(est - true <= CMS_EPS * truth["n_tokens"]))
    run.check(f"{label}.cms_eps_bound", within >= 1 - CMS_FAIL,
              f"only {within:.4f} within eps*N")
    st = sketch_from_bytes(by["topk"][None])
    got = {int.from_bytes(e, "big", signed=True) for e, _ in
           topk.final_values(st.cms.matrix, st.candidates, st.k)}
    want = {t for t, _ in truth["topk"]}
    recall = len(got & want) / len(want)
    run.check(f"{label}.topk_recall", recall >= 0.95, f"recall {recall:.3f}")
    check_bloom(run, label, by["bloom"][None],
                inputs.doc_ids(np.arange(truth["n_docs"])))


def check_bloom(run, label: str, blob: bytes, ids: list[str]) -> None:
    """Every inserted id must be found (Bloom filters have no false
    negatives)."""
    b = sketch_from_bytes(blob)
    a1, a2 = hashing.hash_strings(ids, "metro")
    fn = int((~bloom.lookup_batch(b.words, a1, a2, b.k, b.m)).sum())
    run.check(f"{label}.bloom_no_false_negatives", fn == 0, f"{fn} missed")


def cuckoo_filters(shard_rows) -> list:
    out = {}
    for r in shard_rows:
        st = sketch_from_bytes(bytes(r["state"]))
        out[int(r["shard"])] = cuckoo.CuckooFilter(
            st.size, st.bucket_size, st.fp_len, st.retries,
            buckets=st.buckets, length=st.length)
    return [out[i] for i in range(len(out))]


def cuckoo_lookup(filters, ids: list[str]) -> np.ndarray:
    h1, _ = hashing.hash_strings(ids, "murmur3")
    shard = hashing.shard_of(h1, len(filters))
    hit = np.zeros(len(ids), dtype=bool)
    for i, f in enumerate(filters):
        sel = shard == i
        if sel.any():
            hit[sel] = f.lookup_hashes(h1[sel])
    return hit


def check_cuckoo(run, label: str, shard_rows, ids: list[str]) -> None:
    fn = int((~cuckoo_lookup(cuckoo_filters(shard_rows), ids)).sum())
    run.check(f"{label}.cuckoo_no_false_negatives", fn == 0, f"{fn} missed")


def read_splits(spark, path, n_splits: int):
    """Read a directory of ``n_splits`` parquet files as exactly
    ``n_splits`` partitions at any core count: a large file-open cost
    keeps Spark from packing files together or splitting them."""
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 30))
    df = spark.read.parquet(str(path.resolve()))
    got = df.rdd.getNumPartitions()
    if got != n_splits:
        raise RuntimeError(f"{path}: {got} input splits, expected {n_splits}")
    return df


# ---------------------------------------------------------------------------
# build_tokens
# ---------------------------------------------------------------------------


def build_tokens(run) -> None:
    from pyspark.sql import functions as F

    d, truth = inputs.build_corpus(run.seed, run.size)
    run.arrays = layers.load_arrays(d / "corpus")
    n_docs, n_tok = truth["n_docs"], truth["n_tokens"]
    per_shard = agg.cuckoo_shard_size(n_docs, CUCKOO_SHARDS)
    ids = inputs.doc_ids(np.arange(n_docs))
    rates, walls = {}, {}
    run.partial_rows = []

    def build(spark, corpus):
        with run.tracer.span("agg.multi_sketch_agg",
                             group=run.tag(spark, "multi")):
            states = agg.multi_sketch_agg(corpus, baseline_jobs(n_docs),
                                          tree_fanout=8).collect()
        with run.tracer.span("agg.cuckoo_build",
                             group=run.tag(spark, "cuckoo")):
            shards = agg.cuckoo_build(corpus, "doc_id", element="string",
                                      n_shards=CUCKOO_SHARDS, eps=CUCKOO_EPS,
                                      size=per_shard).collect()
        return states, shards

    # c4 first, then c1 in a fresh session over the same splits; each
    # session warms up with untimed builds (the JVM in the first, the
    # new session's Python workers in the second)
    levels = [run.cores, 1]
    n_builds = {levels[0]: max(3, round(run.seconds * 0.3)),
                1: max(2, round(run.seconds * 0.2))}
    n_warmup = {levels[0]: 3, 1: 1}
    for cores in levels:
        with run.session(cores, f"c{cores}") as spark:
            corpus = read_splits(spark, d / "corpus", truth["splits"]) \
                .withColumn("n_tok_d", F.col("n_tok").cast("double"))
            run.untimed(spark, f"warmup:c{cores}")
            for _ in range(n_warmup[cores]):
                build(spark, corpus)
            level_walls = []
            for i in range(n_builds[cores]):
                group = f"op:c{cores}:{i}"
                with run.op(spark, group, "op.build") as rec:
                    states, shards = build(spark, corpus)
                level_walls.append(rec["wall"])
            run.ops(len(level_walls))
            check_sketches(run, f"c{cores}", states, truth)
            check_cuckoo(run, f"c{cores}", shards, ids)
            run.partial_rows.append(sum(int(r["n_partials"]) for r in states))
        walls[cores] = level_walls
        rates[cores] = n_tok / statistics.median(level_walls)

    c_hi = levels[0]
    run.op_walls = walls[c_hi]
    run.work_units, run.work_seconds = n_tok, statistics.median(walls[c_hi])
    run.metric(f"build_tok_per_s_c{c_hi}", rates[c_hi], "tokens/s")
    run.metric("build_tok_per_s_c1", rates[1], "tokens/s")
    run.metric(f"scale_eff_c1_c{c_hi}", rates[c_hi] / rates[1] / c_hi, "ratio")
    run.metric("build_input_splits", truth["splits"], "count")
    run.metric("build_input_tokens", n_tok, "tokens")
    run.metric("build_ops", sum(len(w) for w in walls.values()), "count")


def build_tokens_layers(run) -> None:
    run.layers.update(common_layers(run))
    groups = run.event_groups
    per_level: dict[str, list[float]] = {}
    for g in run.timed_groups:
        level = g.split(":")[1]
        stages = groups.get(f"{g}/multi", {"stages": []})["stages"]
        for k, v in tracing.phase_split(stages).items():
            per_level.setdefault(f"agg.{k}.{level}", []).append(v)
    for k, vs in per_level.items():
        run.layers[k] = statistics.median(vs)
    cuckoo_walls = [s["wall"] for s in run.tracer.spans
                    if s["name"] == "agg.cuckoo_build"
                    and s["group"].startswith("op:")]
    run.layers["agg.cuckoo_build_wall_s"] = statistics.median(cuckoo_walls)
    run.layers["agg.n_partials"] = float(statistics.median(run.partial_rows))


def common_layers(run) -> dict[str, float]:
    out = layers.measure(run.arrays)
    out["session.launch_s"] = statistics.median(run.launch_s)
    return out


# ---------------------------------------------------------------------------
# probe_mix
# ---------------------------------------------------------------------------

PROBE_SHARDS = 8
POINT_QS = [0.1, 0.5, 0.9]


def probe_jobs(n_docs: int) -> list[dict]:
    return [
        {"name": "hll", "kind": "hll", "value_col": "tokens",
         "key_col": "source", "params": {"m": HLL_M}},
        {"name": "cms", "kind": "cms", "value_col": "tokens",
         "key_col": "source", "params": {"eps": CMS_EPS,
                                         "fail_prob": CMS_FAIL}},
        {"name": "topk", "kind": "topk", "value_col": "tokens",
         "params": {"k": inputs.TOPK_K, "eps": 0.0001}},
        {"name": "tdigest", "kind": "tdigest", "value_col": "n_tok_d",
         "key_col": "source", "params": {}},
        {"name": "bloom", "kind": "bloom", "value_col": "doc_id",
         "element": "string", "params": {"n": n_docs, "eps": BLOOM_EPS}},
        {"name": "cms_ids", "kind": "cms", "value_col": "doc_id",
         "element": "string", "params": {"eps": CMS_EPS,
                                         "fail_prob": CMS_FAIL}},
    ]


def _tally(df, flag):
    """(inserted rows flagged, distinct absent ids flagged) of a probe
    result; inserted ids are the ``doc-`` ones."""
    from pyspark.sql import functions as F
    ins = F.col("doc_id").startswith("doc-")
    row = df.agg(
        F.sum(F.when(ins & flag, 1).otherwise(0)).alias("tp"),
        F.countDistinct(F.when(~ins & flag, F.col("doc_id"))).alias("fp"),
    ).collect()[0]
    return int(row["tp"] or 0), int(row["fp"])


def probe_mix(run) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                                   StringType, StructField, StructType)

    d, truth = inputs.probe_inputs(run.seed, run.size)
    run.arrays = layers.load_arrays(d / "corpus")
    n_docs = truth["n_docs"]
    fpr_slack = 4 * math.sqrt(BLOOM_EPS / truth["absent_distinct"]) + 0.002
    eps_n = CMS_EPS * n_docs
    run.probe_rates: dict[str, list[float]] = {}
    run.point_walls: dict[str, list[float]] = {}
    run.removal_walls: list[float] = []

    with run.session(run.cores, "probe") as spark:
        run.untimed(spark, "setup")
        corpus = read_splits(spark, d / "corpus", 4) \
            .withColumn("n_tok_d", F.col("n_tok").cast("double"))
        with run.tracer.span("setup.multi_sketch_agg"):
            rows = agg.multi_sketch_agg(corpus, probe_jobs(n_docs)).collect()
        by = {}
        for r in rows:
            by.setdefault(r["sketch_name"], []).append((r["key"],
                                                        bytes(r["state"])))
        keyed = StructType([StructField("source", StringType()),
                            StructField("state", BinaryType())])
        states = {name: spark.createDataFrame(v, keyed).cache()
                  for name, v in by.items()}
        bloom_blob = by["bloom"][0][1]
        cms_blob = by["cms_ids"][0][1]
        with run.tracer.span("setup.bloom_build_sharded"):
            bshards = agg.bloom_build_sharded(corpus, "doc_id", n=n_docs,
                                              eps=BLOOM_EPS,
                                              n_shards=PROBE_SHARDS).collect()
        bshard_map = {r["shard"]: bytes(r["state"]) for r in bshards}
        shard_t = StructType([StructField("shard", IntegerType()),
                              StructField("state", BinaryType()),
                              StructField("n_items", LongType())])
        bshard_df = spark.createDataFrame(
            [(r["shard"], bytes(r["state"]), r["n_items"]) for r in bshards],
            shard_t).cache()
        with run.tracer.span("setup.cuckoo_build"):
            cuckoo_rows = [(r["shard"], bytes(r["state"]), r["n_items"])
                           for r in agg.cuckoo_build(
                               corpus, "doc_id", element="string",
                               n_shards=PROBE_SHARDS, eps=CUCKOO_EPS,
                               n=n_docs).collect()]
        id_t = StructType([StructField("doc_id", StringType())])

        def probe_once(name: str, cuckoo_df, cuckoo_map, probes):
            col = F.col("doc_id")
            if name == "bloom_broadcast":
                flag = query.bloom_contains(spark, bloom_blob, col, "string")
                return _tally(probes.withColumn("c", flag), F.col("c"))
            if name == "bloom_sharded":
                flag = query.bloom_contains_sharded(
                    spark, bshard_map, col, "string", n_shards=PROBE_SHARDS)
                return _tally(probes.withColumn("c", flag), F.col("c"))
            if name == "bloom_join":
                res = query.bloom_contains_join(bshard_df, probes, "doc_id",
                                                n_shards=PROBE_SHARDS,
                                                element="string")
                return _tally(res, F.col("contained"))
            if name == "cuckoo_broadcast":
                flag = query.cuckoo_contains(spark, cuckoo_map, col, "string",
                                             n_shards=PROBE_SHARDS)
                return _tally(probes.withColumn("c", flag), F.col("c"))
            if name == "cuckoo_join":
                res = query.cuckoo_contains_join(cuckoo_df, probes, "doc_id",
                                                 n_shards=PROBE_SHARDS,
                                                 element="string")
                return _tally(res, F.col("contained"))
            est = query.cms_count_col(spark, cms_blob, col, "string")
            df = probes.withColumn("est", est)
            tp, _ = _tally(df, F.col("est") >= 1)
            _, over = _tally(df, F.col("est") > eps_n)
            return tp, over

        entry_points = ["bloom_broadcast", "bloom_sharded", "bloom_join",
                        "cuckoo_broadcast", "cuckoo_join", "cms_col"]
        # warm every entry point once on a small slice of the probes
        warm = read_splits(spark, d / "probes_warm", 4).select("doc_id")
        cuckoo_df = spark.createDataFrame(cuckoo_rows, shard_t)
        for name in entry_points:
            with run.tracer.span(f"setup.warm.{name}"):
                probe_once(name, cuckoo_df,
                           {s: b for s, b, _ in cuckoo_rows}, warm)
        probes = read_splits(spark, d / "probes", 4).select("doc_id")
        removals = iter(truth["removal_batches"])
        bulk_rows, bulk_s = 0, 0.0
        n_rounds = max(1, round(run.seconds / 8))
        fp_rates: dict[str, list[float]] = {}
        for rnd in range(n_rounds):
            cuckoo_df = spark.createDataFrame(cuckoo_rows, shard_t)
            cuckoo_map = {s: b for s, b, _ in cuckoo_rows}
            for name in entry_points:
                with run.op(spark, f"op:bulk:{rnd}:{name}",
                            f"query.{name}") as rec:
                    tp, fp = probe_once(name, cuckoo_df, cuckoo_map, probes)
                run.probe_rates.setdefault(name, []).append(
                    truth["probe_rows"] / rec["wall"])
                bulk_rows += truth["probe_rows"]
                bulk_s += rec["wall"]
                run.ops(1)
                run.check(f"{name}[{rnd}].no_false_negatives",
                          tp == truth["inserted_rows"],
                          f"{truth['inserted_rows'] - tp} inserted rows missed")
                rate = fp / truth["absent_distinct"]
                fp_rates.setdefault(name, []).append(rate)
                if name.startswith("cuckoo"):
                    # eps only sets the decimal fingerprint length here
                    # (reference sizing formula); it is not an FPR bound
                    continue
                bound = CMS_FAIL if name == "cms_col" \
                    else BLOOM_EPS + fpr_slack
                run.check(f"{name}[{rnd}].false_positive_rate", rate <= bound,
                          f"{rate:.4f} > {bound:.4f}")
            batch = inputs.doc_ids(next(removals))
            with run.op(spark, f"op:remove:{rnd}",
                        "agg.cuckoo_apply_removals") as rec:
                new = agg.cuckoo_apply_removals(
                    cuckoo_df, spark.createDataFrame([(i,) for i in batch],
                                                     id_t),
                    "doc_id", n_shards=PROBE_SHARDS,
                    element="string").collect()
            run.removal_walls.append(rec["wall"])
            run.ops(1)
            removed = sum(n for _, _, n in cuckoo_rows) \
                - sum(r["n_items"] for r in new)
            run.check(f"cuckoo_removals[{rnd}]", removed == len(batch),
                      f"{removed} of {len(batch)} removed")
            cuckoo_rows = [(r["shard"], bytes(r["state"]), r["n_items"])
                           for r in new]
        still = int(cuckoo_lookup(cuckoo_filters(
            [{"shard": s, "state": b} for s, b, _ in cuckoo_rows]),
            inputs.doc_ids(np.arange(n_docs // 2))).sum())
        run.check("cuckoo_after_removals.no_false_negatives",
                  still == n_docs // 2, f"{n_docs // 2 - still} missed")

        # point half: one client, small calls over the built states
        ids = truth["point_ids"]
        point_calls = {
            "hll_estimate": lambda: query.hll_estimate(states["hll"]),
            "cms_counts": lambda: query.cms_counts(
                states["cms"], [int(t) for t, _ in truth["cms_check"][:8]],
                element="int32"),
            "topk_values": lambda: query.topk_values(states["topk"],
                                                     decode="int32"),
            "quantiles": lambda: query.quantiles(states["tdigest"],
                                                 POINT_QS),
        }

        def point(kind: str, doc: str):
            if kind == "bloom_point":
                return spark.createDataFrame([(doc,)], id_t).select(
                    query.bloom_contains(spark, bloom_blob, F.col("doc_id"),
                                         "string").alias("c")).collect()
            return point_calls[kind]().collect()

        kinds = list(point_calls) + ["bloom_point"]
        run.untimed(spark, "warmup:point")
        for kind in kinds:
            with run.tracer.span(f"setup.warm.{kind}"):
                point(kind, ids[0])
        walls: list[float] = []
        for i in range(max(10, round(run.seconds * 1.5))):
            kind = kinds[i % len(kinds)]
            doc = ids[(i // len(kinds)) % len(ids)]
            with run.op(spark, f"op:point:{i}", f"query.{kind}") as rec:
                out = point(kind, doc)
            walls.append(rec["wall"])
            run.point_walls.setdefault(kind, []).append(rec["wall"])
            run.ops(1)
            if i < len(kinds) or kind == "bloom_point":
                check_point(run, kind, out, truth, doc)

    run.op_walls = walls
    run.work_units, run.work_seconds = bulk_rows, bulk_s
    run.metric("probe_rows_per_s", bulk_rows / bulk_s, "rows/s")
    run.metric("point_query_p50_ms", statistics.median(walls) * 1e3, "ms")
    run.metric("point_query_p90_ms",
               statistics.quantiles(walls, n=10)[-1] * 1e3, "ms")
    run.metric("point_calls", len(walls), "count")
    run.metric("probe_rounds", n_rounds, "count")
    for name in ("cuckoo_broadcast", "bloom_broadcast"):
        run.metric(f"{name}_fpr", statistics.median(fp_rates[name]), "ratio")


def check_point(run, kind: str, rows, truth: dict, doc) -> None:
    if kind == "hll_estimate":
        bound = 3 * params.hll_accuracy(HLL_M)
        for r in rows:
            exact = truth["distinct_per_source"][r["source"]]
            err = abs(r["est_distinct"] - exact) / exact
            run.check(f"point.hll[{r['source']}]", err <= bound,
                      f"rel err {err:.4f}")
    elif kind == "cms_counts":
        est = {}
        for r in rows:
            est[r["item"]] = est.get(r["item"], 0) + r["est_count"]
        for t, c in truth["cms_check"][:8]:
            run.check(f"point.cms[{t}]", est.get(t, 0) >= c,
                      f"estimate {est.get(t)} < {c}")
    elif kind == "topk_values":
        got = {r["element"] for r in rows}
        want = {t for t, _ in truth["topk"]}
        recall = len(got & want) / len(want)
        run.check("point.topk_recall", recall >= 0.95, f"recall {recall:.3f}")
    elif kind == "quantiles":
        by: dict[str, list[float]] = {}
        for r in rows:
            by.setdefault(r["source"], []).append(r["quantile_value"])
        ok = all(v == sorted(v) and len(v) == len(POINT_QS)
                 for v in by.values())
        run.check("point.quantiles_monotone", ok and len(by) == 4, str(by))
    else:
        want = doc.startswith("doc-")
        got = bool(rows[0]["c"])
        run.check(f"point.bloom[{doc}]", got or not want, "false negative")


def probe_mix_layers(run) -> None:
    run.layers.update(common_layers(run))
    for name, rates in run.probe_rates.items():
        run.layers[f"query.{name}_rows_per_s"] = statistics.median(rates)
    for name, walls in run.point_walls.items():
        run.layers[f"query.{name}_ms"] = statistics.median(walls) * 1e3
    run.layers["agg.cuckoo_removals_s"] = statistics.median(run.removal_walls)


# ---------------------------------------------------------------------------
# incremental_ingest
# ---------------------------------------------------------------------------

INGEST_M = 4096
INGEST_CMS = {"d": 5, "w": 2719}
CKPT_SPLITS = 8
CKPT_FAIL_AFTER = 3


def _states(rows, key="source") -> dict:
    return {r[key]: sketch_from_bytes(bytes(r["state"])) for r in rows}


def _same(a: dict, b: dict) -> bool:
    return set(a) == set(b) and all(a[k].equals(b[k]) for k in a)


def incremental_ingest(run) -> None:
    import shutil

    from gostatix_spark import checkpoint, sources, streaming

    d, truth = inputs.ingest_inputs(run.seed, run.size)
    run.arrays = layers.load_arrays(d / "all")
    work = inputs.ROOT.resolve() / "work" / run.run_id
    shutil.rmtree(work, ignore_errors=True)
    kinds = {"hll": {"m": INGEST_M}, "cms": INGEST_CMS}
    paths = {k: str(work / f"state_{k}") for k in kinds}
    run.batch_info: list[dict] = []

    with run.session(run.cores, "ingest") as spark:
        run.untimed(spark, "setup")
        sinks = {k: streaming.incremental_sketch_sink(
            k, "tokens", paths[k], key_col="source",
            replay_scope="perfbench", **p) for k, p in kinds.items()}
        batches = [spark.read.parquet(str((d / f"batch-{i:03d}").resolve()))
                   for i in range(len(truth["batch_tokens"]))]
        # batch 0 is folded untimed, as the session's warm-up
        run.untimed(spark, "warmup")
        for sink in sinks.values():
            sink(batches[0], 0)
        walls, folded = [], 0
        for i, batch in enumerate(batches[1:], start=1):
            with run.op(spark, f"op:batch:{i}", "op.micro_batch") as rec:
                for k, sink in sinks.items():
                    with run.tracer.span(f"streaming.sink.{k}",
                                         group=run.tag(spark, k)):
                        sink(batch, i)
            walls.append(rec["wall"])
            folded += truth["batch_tokens"][i]
            ptr = streaming.LocalPointerStore(paths["hll"]).read()
            run.batch_info.append({
                "group": f"op:batch:{i}", "wall": rec["wall"],
                "touched": sum(v.startswith(f"v={ptr['version']}/")
                               for v in ptr["buckets"].values())})
        run.ops(len(walls))
        n_folded = len(batches)

        def committed(kind):
            return _states(streaming.load_sketch_state(
                spark, paths[kind]).collect())

        run.untimed(spark, "check:stream")
        got = {k: committed(k) for k in kinds}
        union = spark.read.parquet(*[
            str((d / f"batch-{i:03d}").resolve()) for i in range(n_folded)])
        for k, p in kinds.items():
            want = _states(agg.sketch_agg(union, k, "tokens",
                                          key_col="source", **p).collect())
            run.check(f"stream_equals_batch.{k}", _same(got[k], want),
                      "streamed state differs from one-shot build")

        replay = n_folded - 1
        version = streaming.LocalPointerStore(paths["hll"]).read()["version"]
        with run.op(spark, "op:replay", "streaming.replay") as rec:
            sinks["hll"](batches[replay], replay)
        run.replay_s = rec["wall"]
        run.ops(1)
        run.check("replay_is_noop",
                  streaming.LocalPointerStore(paths["hll"]).read()["version"]
                  == version and _same(committed("hll"), got["hll"]),
                  "replayed batch changed the state")

        # checkpointed build: lose the partitions after CKPT_FAIL_AFTER,
        # then resume
        all_df = read_splits(spark, d / "all", CKPT_SPLITS)
        ckpt = str(work / "ckpt")
        with run.op(spark, "op:ckpt_fail", "checkpoint.write_partials") as rec:
            checkpoint.checkpointed_sketch_agg(
                all_df, "hll", "tokens", checkpoint_path=ckpt,
                key_col="source", fail_after_partition=CKPT_FAIL_AFTER,
                m=INGEST_M).collect()
        run.ckpt_write_s = rec["wall"]
        run.untimed(spark, "check:ckpt")
        done = checkpoint.completed_partitions(spark, ckpt, "hll")
        run.skipped_ratio = len(done) / CKPT_SPLITS
        with run.op(spark, "op:resume", "checkpoint.resume") as rec:
            resumed = _states(checkpoint.checkpointed_sketch_agg(
                all_df, "hll", "tokens", checkpoint_path=ckpt,
                key_col="source", m=INGEST_M).collect())
        resume_s = rec["wall"]
        run.ops(2)
        run.untimed(spark, "check:resume")
        straight = agg.sketch_agg(all_df, "hll", "tokens", key_col="source",
                                  m=INGEST_M)
        run.check("resume_equals_uninterrupted",
                  _same(resumed, _states(straight.collect())),
                  "resumed build differs")
        run.check("resume_skipped_done_partitions",
                  sorted(done) == list(range(CKPT_FAIL_AFTER + 1)),
                  f"completed partitions {sorted(done)}")

        # persist the final sketch table and load it back
        table = str(work / "sketches")
        with run.op(spark, "op:save", "sources.save_sketches") as rec:
            sources.save_sketches(straight, table, kind="hll")
        run.save_s = rec["wall"]
        with run.op(spark, "op:load", "sources.load_sketches") as rec:
            loaded = _states(sources.load_sketches(spark, table,
                                                   kind="hll").collect())
        run.load_s = rec["wall"]
        run.ops(2)
        run.check("load_equals_saved", _same(loaded, resumed),
                  "loaded sketches differ")
    shutil.rmtree(work, ignore_errors=True)

    run.op_walls = walls
    run.work_units, run.work_seconds = folded, sum(walls)
    run.metric("ingest_tok_per_s", folded / sum(walls), "tokens/s")
    run.metric("ingest_batch_p50_s", statistics.median(walls), "s")
    run.metric("resume_s", resume_s, "s")
    run.metric("ingest_batches", n_folded, "count")


def incremental_ingest_layers(run) -> None:
    run.layers.update(common_layers(run))
    folds, commits = [], []
    for b in run.batch_info:
        stages = tracing.group_stages(run.event_groups, b["group"])
        writes = [s for s in stages if s["output_bytes"] > 0 and s["start"]]
        last_end = max((s["end"] for s in stages if s["end"]), default=None)
        span = next(s for s in run.tracer.spans if s.get("group") == b["group"])
        tail = span["end"] - last_end if last_end else 0.0
        commit = tracing.union_length((s["start"], s["end"]) for s in writes) \
            + max(0.0, tail)
        commits.append(commit)
        folds.append(b["wall"] - commit)
    run.layers["streaming.batch_fold_s"] = statistics.median(folds)
    run.layers["streaming.commit_s"] = statistics.median(commits)
    run.layers["streaming.touched_buckets"] = float(statistics.median(
        b["touched"] for b in run.batch_info))
    run.layers["streaming.replay_noop_ms"] = run.replay_s * 1e3
    run.layers["checkpoint.write_partials_s"] = run.ckpt_write_s
    run.layers["checkpoint.skipped_partition_ratio"] = run.skipped_ratio
    run.layers["sources.save_s"] = run.save_s
    run.layers["sources.load_s"] = run.load_s


# ---------------------------------------------------------------------------
# driver_suite (run by name: needs the sf tables, see NOTES.md)
# ---------------------------------------------------------------------------


def oracle_rows(sf_dir: str) -> dict[str, int]:
    """Row count of every DuckDB ``oracle_sql()`` query over ``sf_dir``,
    captured once per directory."""
    import json
    import os

    import __spark_entry__ as entry
    path = inputs.ROOT / "inputs" / \
        f"oracle-{os.path.basename(os.path.normpath(sf_dir))}.json"
    if path.exists():
        return json.loads(path.read_text())
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    out = {name: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
           for name, sql in entry.oracle_sql().items()}
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(out))
    return out


def driver_suite(run) -> None:
    import __spark_entry__ as entry

    sf_dir = run.args.sf_dir
    oracle = oracle_rows(sf_dir)
    run.query_walls: dict[str, float] = {}
    with run.session(run.cores, "suite") as spark:
        for name, qfn in entry.queries().items():
            try:
                with run.op(spark, f"op:q:{name}", f"suite.{name}") as rec:
                    n = qfn(spark, sf_dir).count()
            except Exception as exc:  # noqa: BLE001 — a failed query is counted
                run.check(f"suite.{name}.runs", False, repr(exc)[:200])
                continue
            finally:
                spark.catalog.clearCache()
            run.query_walls[name] = rec["wall"]
            run.ops(1)
            if name in oracle:
                run.check(f"suite.{name}.rows", n == oracle[name],
                          f"{n} rows, oracle {oracle[name]}")
    walls = list(run.query_walls.values())
    run.op_walls = walls
    run.work_units, run.work_seconds = len(walls), sum(walls)
    run.metric("suite_s", sum(walls), "s")
    run.metric("suite_queries", len(walls), "count")


def driver_suite_layers(run) -> None:
    run.arrays = layers.load_arrays(
        inputs.build_corpus(run.seed, run.size)[0] / "corpus")
    run.layers.update(common_layers(run))
    for name, wall in run.query_walls.items():
        run.layers[f"suite.{name}_s"] = wall


RUNNERS = {"build_tokens": build_tokens, "probe_mix": probe_mix,
           "driver_suite": driver_suite,
           "incremental_ingest": incremental_ingest}
LAYER_EXTRAS = {"build_tokens": build_tokens_layers,
                "probe_mix": probe_mix_layers,
                "driver_suite": driver_suite_layers,
                "incremental_ingest": incremental_ingest_layers}
