"""Two-phase distributed sketch aggregation — the heart of the library.

Every mergeable build entry point (``sketch_agg``, ``multi_sketch_agg``,
``bloom_build_sharded``, ``checkpoint.checkpointed_sketch_agg`` and
``streaming.incremental_sketch_sink``) is a thin caller of ONE phase-1
fold and ONE phase-2 merge (SURVEY.md §3, §4.2):

* **Phase 1 (partial)** — :func:`_fold`, one ``DataFrame.mapInArrow``
  pass over a list of jobs: each input partition streams through as
  Arrow record batches; every batch column is hashed once and folded by
  a numpy kernel into a per-(partition, job, key) sketch state. A job's
  key is a row column (null keys dropped) or, for the sharded Bloom,
  ``shard_of(h1)`` of each element. Output: ONE tiny row per partition
  per job per key ``(sketch_name?, key?, state binary, n_items,
  partition_id, rows_consumed)``. This is map-side combine: whatever
  the row/key skew of the input, the shuffle that follows carries only
  ``O(num_partitions × num_keys)`` sketch-sized rows — skew-immune by
  construction.
* **Phase 2 (merge)** — :func:`_merge`, ``groupBy(key cols)
  .applyInPandas``: decode partial states, fold with the sketch's merge
  law (max for HLL, add for CMS, OR for Bloom; proven
  associative/commutative in tests), emit one row per key. For very
  wide fan-in an optional intermediate level merges ``partition_id %
  tree_fanout`` groups first (a partial reduce) — merge associativity
  makes the tree shape irrelevant to the result.

The cuckoo filter is NOT mergeable (order-dependent kick loop,
``cuckoo_filter.go:74-115``) — see :func:`cuckoo_build`: phase 1 only
*hashes* elements (pure, parallel, vectorized), then elements shuffle to
their (key, shard) and a single task per shard runs the sequential
kernel. Sharding is the scale path: membership routes to the owning
shard by the same hash, so N shards build and probe in parallel.

Element extraction is Arrow-native: list columns are flattened via
offset arithmetic (zero-copy), strings/binaries hashed through
length-grouped fixed-width matrices. Null scalar elements are skipped.
No per-row Python anywhere.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

from gostatix_spark import hashing, params
from gostatix_spark.kernels import bloom, cms, cuckoo, hll, kll, tdigest, topk
from gostatix_spark.state import (BloomState, CMSState, CuckooState, HLLState,
                                  TopKState, sketch_from_bytes)

__all__ = ["sketch_agg", "multi_sketch_agg", "cuckoo_build",
           "cuckoo_apply_removals", "bloom_build_sharded",
           "merge_sketch_states"]


# ---------------------------------------------------------------------------
# Arrow extraction helpers
# ---------------------------------------------------------------------------


def _arrow_var_bytes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint8 values, int64 offsets) for a string/binary Arrow array."""
    if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
        arr = arr.cast(pa.binary())
    elif pa.types.is_string(arr.type):
        arr = arr.cast(pa.binary())
    # a null entry reads as b""; the build fold drops nulls before this
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data_buf = arr.buffers()[2]
    values = (np.frombuffer(data_buf, dtype=np.uint8)
              if data_buf is not None else np.zeros(0, np.uint8))
    return values, offsets


def _arrow_list_ints(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat int values, int64 offsets) for a list<int> Arrow array."""
    lengths = pa.compute.list_value_length(arr).to_numpy(zero_copy_only=False)
    lengths = np.nan_to_num(lengths, nan=0).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    values = arr.flatten().to_numpy(zero_copy_only=False)
    return values, offsets


def extract_hashes(arr: pa.Array, element: str, algo: str):
    """Hash every element of an Arrow column under the canonical
    encodings (SURVEY.md §1.1). Returns (h1, h2, row_of_element) where
    ``row_of_element`` maps each hashed element back to its source row
    (identity except for ``element='tokens'`` which flattens arrays)."""
    n = len(arr)
    ident = None  # identity row map
    if element == "tokens":
        values, offsets = _arrow_list_ints(arr)
        h1, h2 = hashing.hash_tokens(values.astype(np.int64), algo)
        row = np.repeat(np.arange(n), np.diff(offsets))
        return h1, h2, row
    if element == "token_array":
        values, offsets = _arrow_list_ints(arr)
        h1, h2 = hashing.hash_token_arrays(values.astype(np.int64), offsets, algo)
        return h1, h2, ident
    if element == "int64":
        vals = arr.to_numpy(zero_copy_only=False).astype(np.int64)
        h1, h2 = hashing.hash_int64s(vals, algo)
        return h1, h2, ident
    if element == "int32":
        vals = arr.to_numpy(zero_copy_only=False).astype(np.int64)
        h1, h2 = hashing.hash_tokens(vals, algo)
        return h1, h2, ident
    if element in ("string", "binary"):
        values, offsets = _arrow_var_bytes(arr)
        h1, h2 = hashing.hash_var_bytes(values, offsets, algo)
        return h1, h2, ident
    raise ValueError(f"unknown element kind {element!r}")


def element_values(arr: pa.Array, element: str):
    """Raw element values for exact counting (Top-K candidates): a flat
    int numpy array for int-like kinds (vectorized ``np.unique``
    counting), else the canonical per-row byte encodings."""
    if element == "tokens":
        values, _ = _arrow_list_ints(arr)
        return values.astype(np.int64)
    if element in ("int32", "int64"):
        return arr.to_numpy(zero_copy_only=False).astype(np.int64)
    if element == "float64":
        return arr.to_numpy(zero_copy_only=False).astype(np.float64)
    if element in ("string", "binary"):
        # returned as the Arrow array itself: BytesCounts counts it with
        # one C++ value_counts call per batch — no per-element Python
        return arr
    return element_bytes(arr, element)


def encode_candidate(key, element: str) -> bytes:
    """Canonical byte encoding of a counted candidate — must match the
    hashing encodings so merged-CMS re-queries hit the same cells."""
    if element in ("tokens", "int32"):
        return (int(key) & 0xFFFFFFFF).to_bytes(4, "big")
    if element == "int64":
        return int(key).to_bytes(8, "big", signed=True)
    return key  # already bytes


def element_bytes(arr: pa.Array, element: str) -> list[bytes]:
    """Canonical byte encoding of each row's element (row-level kinds
    only) — used by Top-K candidates and driver-side probes."""
    if element == "int64":
        vals = arr.to_numpy(zero_copy_only=False).astype(">i8")
        b = vals.tobytes()
        return [b[i * 8:(i + 1) * 8] for i in range(len(vals))]
    if element == "int32":
        vals = arr.to_numpy(zero_copy_only=False).astype(">i4")
        b = vals.tobytes()
        return [b[i * 4:(i + 1) * 4] for i in range(len(vals))]
    if element in ("string", "binary"):
        values, offsets = _arrow_var_bytes(arr)
        buf = values.tobytes()
        return [buf[offsets[i]:offsets[i + 1]] for i in range(len(arr))]
    if element == "token_array":
        values, offsets = _arrow_list_ints(arr)
        b = values.astype(">u4").tobytes()
        return [b[offsets[i] * 4:offsets[i + 1] * 4] for i in range(len(arr))]
    raise ValueError(f"element kind {element!r} has no row-level bytes")


def _select_elems(elems, sel: np.ndarray):
    """Group-select from whatever :func:`element_values` returned:
    numpy fancy-index, Arrow take (string/binary — stays in C++), or a
    Python-list gather (token_array rows); None stays None."""
    if elems is None:
        return None
    if isinstance(elems, np.ndarray):
        return elems[sel]
    if isinstance(elems, (pa.Array, pa.ChunkedArray)):
        return elems.take(pa.array(sel, type=pa.int64()))
    return [elems[i] for i in sel]


def infer_element(df: DataFrame, value_col: str, element: str | None) -> str:
    if element is not None:
        return element
    dt = dict(df.dtypes)[value_col]
    if dt.startswith("array<"):
        return "tokens"
    if dt in ("bigint", "long"):
        return "int64"
    if dt == "int":
        return "int32"
    if dt == "string":
        return "string"
    if dt == "binary":
        return "binary"
    if dt in ("double", "float", "decimal"):
        return "float64"
    raise ValueError(f"cannot infer element kind for column type {dt}")


# ---------------------------------------------------------------------------
# sketch specs
# ---------------------------------------------------------------------------


class _Spec:
    """Per-kind plumbing over one element kind: init/update/finalize for
    phase 1 (every kind hashes with metro)."""

    def __init__(self, kind: str, element: str, p: dict):
        self.kind = kind
        self.element = element
        self.p = p

    @staticmethod
    def make(kind: str, element: str, **p) -> "_Spec":
        if kind == "hll":
            q = {"m": p.get("m", 16384)}
            if not params.is_power_of_two(q["m"]):
                raise ValueError("hll m must be a power of two")
        elif kind == "cms":
            if "d" in p:
                d, w = p["d"], p["w"]
            elif "fail_prob" in p:
                d, w = params.cms_dims_from_error_bounds(p.get("eps", 0.001),
                                                         p["fail_prob"])
            else:
                d, w = params.cms_dims_from_estimates(p.get("eps", 0.001),
                                                      p.get("delta", 0.999))
            q = {"d": d, "w": w}
        elif kind == "bloom":
            if "m" in p:
                m, k = p["m"], p["k"]
            else:
                m = params.bloom_filter_size(p["n"], p.get("eps", 0.01))
                k = params.bloom_num_hashes(m, p["n"])
            q = {"m": m, "k": k}
        elif kind == "topk":
            d, w = params.cms_dims_from_error_bounds(p.get("eps", 0.0001),
                                                     p.get("fail_prob", 0.01))
            q = {"k": p.get("k", 10), "d": d, "w": w,
                 "slack": p.get("slack", 4), "eps": p.get("eps", 0.0001),
                 "fail_prob": p.get("fail_prob", 0.01),
                 "max_distinct": p.get("max_distinct")}
        elif kind == "tdigest":
            q = {"delta": p.get("delta", 200.0)}
        elif kind == "kll":
            q = {"k": p.get("k", 200), "seed": p.get("seed", 42)}
        else:
            raise ValueError(f"sketch_agg does not handle kind {kind!r}"
                             " (use cuckoo_build for cuckoo)")
        return _Spec(kind, element, q)

    # -- phase 1 ---------------------------------------------------------

    def init(self):
        p = self.p
        if self.kind == "hll":
            return [hll.new_state(p["m"]), 0]
        if self.kind == "cms":
            return [cms.new_state(p["d"], p["w"]), 0]
        if self.kind == "bloom":
            return [bloom.new_state(p["m"]), 0]
        if self.kind == "topk":
            if self.element in ("tokens", "int32", "int64"):
                inner = topk.IntCounts()
            elif self.element in ("string", "binary"):
                inner = topk.BytesCounts()
            else:
                return [Counter(), 0]  # token_array rows (vocab-sized)
            cap = p.get("max_distinct")
            if cap:
                # near-unique columns: bound phase-1 memory to O(cap)
                # per partition — tail counts spill into the CMS
                inner = topk.CappedCounts(inner, cap, self.element,
                                          p["d"], p["w"])
            return [inner, 0]
        if self.kind == "tdigest":
            m, w = tdigest.new_state()
            return [m, w, 0]
        if self.kind == "kll":
            return [kll.KLL(p["k"], p["seed"]), 0]

    def update(self, acc, h1, h2, elems=None, weights=None):
        p = self.p
        if self.kind == "hll":
            hll.update_batch(acc[0], h1)
            acc[1] += len(h1)
        elif self.kind == "cms":
            # weights = the reference's Update(data, count)
            # (count_min_sketch.go:60) vectorized; only cms is linear
            # in counts, so sketch_agg gates weight_col to this kind
            acc[1] += cms.update_batch(acc[0], h1, h2, weights)
        elif self.kind == "bloom":
            bloom.insert_batch(acc[0], h1, h2, p["k"], p["m"])
            acc[1] += len(h1)
        elif self.kind == "topk":
            acc[0].update(elems)  # IntCounts (vectorized) or Counter
            acc[1] += len(elems)
        elif self.kind == "tdigest":
            acc[0], acc[1] = tdigest.update_batch(acc[0], acc[1], elems,
                                                  self.p["delta"])
            acc[2] += len(elems)
        elif self.kind == "kll":
            acc[0].update_batch(elems)
            acc[1] += len(elems)

    def finalize(self, acc) -> tuple[bytes, int]:
        p = self.p
        if self.kind == "hll":
            # finalize emits PHASE-1 PARTIALS: sparse encoding (state.py
            # v2) shrinks mostly-empty register frames; phase 2 decodes
            # transparently and re-emits dense
            return (HLLState(p["m"], acc[0], acc[1]).to_bytes(sparse=True),
                    acc[1])
        if self.kind == "cms":
            return CMSState(p["d"], p["w"], acc[0], acc[1]).to_bytes(), acc[1]
        if self.kind == "bloom":
            return BloomState(p["m"], p["k"], acc[0], acc[1]).to_bytes(), acc[1]
        if self.kind == "topk":
            capped = False
            if isinstance(acc[0], topk.CappedCounts):
                mat, total, cand = acc[0].finalize(
                    p["k"], p["slack"], p["d"], p["w"])
                # only a partial that actually compacted carries
                # inexact candidate counts; a cap that never fired
                # leaves the exact=True read path valid
                capped = acc[0].compactions > 0
            elif isinstance(acc[0], topk.IntCounts):
                mat, total, cand = topk.partial_from_int_counts(
                    acc[0], self.element, p["k"], p["slack"], p["d"], p["w"])
            else:
                mat, total, cand = topk.partial_from_counter(
                    acc[0], p["k"], p["slack"], p["d"], p["w"])
            st = TopKState(p["k"], p["eps"], p["fail_prob"],
                           CMSState(p["d"], p["w"], mat, total), cand,
                           capped=capped)
            return st.to_bytes(), acc[1]
        if self.kind == "tdigest":
            return tdigest.to_bytes(acc[0], acc[1], acc[2], p["delta"]), acc[2]
        if self.kind == "kll":
            return acc[0].to_bytes(), acc[1]

    def needs_elements(self) -> bool:
        return self.kind in ("topk", "tdigest", "kll")


def merge_sketch_states(blobs) -> bytes:
    """Fold a sequence of serialized sketch states with the kind's merge
    law. Works for any mix produced by the same spec; used by phase 2
    and by checkpoint resume."""
    blobs = list(blobs)
    if blobs[0][:4] == tdigest.MAGIC:
        m, w, n, delta = tdigest.from_bytes(blobs[0])
        for b in blobs[1:]:
            m2, w2, n2, _ = tdigest.from_bytes(b)
            m, w = tdigest.merge((m, w), (m2, w2), delta)
            n += n2
        return tdigest.to_bytes(m, w, n, delta)
    if blobs[0][:4] == kll.KLL.MAGIC:
        acc = kll.KLL.from_bytes(blobs[0])
        for b in blobs[1:]:
            acc = acc.merge(kll.KLL.from_bytes(b))
        return acc.to_bytes()
    states = [sketch_from_bytes(b) for b in blobs]
    head = states[0]
    if isinstance(head, HLLState):
        reg = head.registers
        n = head.n_items
        for s in states[1:]:
            reg = hll.merge(reg, s.registers)
            n += s.n_items
        return HLLState(head.m, reg, n).to_bytes()
    if isinstance(head, CMSState):
        mat = head.matrix
        tot = head.all_sum
        for s in states[1:]:
            mat = cms.merge(mat, s.matrix)
            tot += s.all_sum
        return CMSState(head.d, head.w, mat, tot).to_bytes()
    if isinstance(head, BloomState):
        w = head.words
        n = head.n_items
        for s in states[1:]:
            w = bloom.merge(w, s.words)
            n += s.n_items
        return BloomState(head.m, head.k, w, n).to_bytes()
    if isinstance(head, TopKState):
        mat = head.cms.matrix
        tot = head.cms.all_sum
        cand = dict(head.candidates)
        capped = head.capped
        for s in states[1:]:
            mat = cms.merge(mat, s.cms.matrix)
            tot += s.cms.all_sum
            cand = topk.merge_candidates(cand, s.candidates)
            capped = capped or s.capped
        return TopKState(head.k, head.error_rate, head.accuracy,
                         CMSState(head.cms.d, head.cms.w, mat, tot),
                         cand, capped=capped).to_bytes()
    raise TypeError(f"cannot merge {type(head).__name__}")


# ---------------------------------------------------------------------------
# phase 1: the one mapInArrow fold
# ---------------------------------------------------------------------------

_SCALAR = ("int32", "int64", "float64", "string", "binary")


class _Job(NamedTuple):
    """One sketch of a :func:`_fold`. It is keyed by the row column
    ``key_col``, or by ``shard_of(h1, n_shards)`` of each element (every
    shard pre-seeded, so each partition emits all ``n_shards`` rows), or
    by nothing (one global sketch)."""
    spec: _Spec
    value_col: str
    name: str | None = None
    key_col: str | None = None
    n_shards: int | None = None
    weight_col: str | None = None


def _batch_elements(arr: pa.Array, element: str, needs_elems: bool):
    """``(h1, h2, elems, rowmap)`` of one batch column: hashes for the
    hashed kinds, raw values for the counting ones (top-k, quantiles).
    ``rowmap[i]`` is the source row of element i (None: identity). Null
    scalar elements are skipped, as null keys are."""
    rowmap = None
    if element in _SCALAR and arr.null_count:
        rowmap = np.flatnonzero(arr.is_valid().to_numpy(zero_copy_only=False))
        arr = arr.drop_null()
    if needs_elems:
        # Top-K counts exact values; the CMS is built from the counter
        # at finalize — no per-element hashing here
        elems = element_values(arr, element)
        if element == "tokens":
            _, offsets = _arrow_list_ints(arr)
            rowmap = np.repeat(np.arange(len(arr)), np.diff(offsets))
        return None, None, elems, rowmap
    h1, h2, flat_rows = extract_hashes(arr, element, "metro")
    return h1, h2, None, rowmap if flat_rows is None else flat_rows


class _Groups:
    """One batch's element → key grouping. ``ecodes[i]`` is element i's
    key code (-1: dropped); ``row_counts`` counts rows per key. The
    stable group sort is built on first use and shared by every job on
    the same columns."""

    def __init__(self, keys, ecodes: np.ndarray, row_codes: np.ndarray):
        self.keys = keys
        self.ecodes = ecodes
        self.row_counts = np.bincount(row_codes[row_codes >= 0],
                                      minlength=len(keys)).tolist()
        self._sel = None

    def selections(self):
        if self._sel is None:
            order = np.argsort(self.ecodes, kind="stable")
            bounds = np.append(np.searchsorted(self.ecodes[order],
                                               np.arange(len(self.keys))),
                               len(self.ecodes))
            self._sel = [order[bounds[g]:bounds[g + 1]]
                         for g in range(len(self.keys))]
        return zip(self.keys, self._sel)


def _fold(df: DataFrame, jobs: list[_Job], key_field: StructField | None,
          skip_partitions: frozenset[int] = frozenset()) -> DataFrame:
    """Phase 1 of every build: fold ``jobs`` in ONE ``mapInArrow`` pass.

    Each batch column is hashed (or its values extracted) once per
    (column, element kind), each key column factorized once, and each
    group sort shared by every job on the same (key, value) columns.
    Keyed HLL folds every key in one :class:`hll.KeyedHLL` matrix.

    Returns ``[sketch_name?, key?, state, n_items, partition_id,
    rows_consumed]``: ``sketch_name`` when the jobs are named, the key
    under ``key_field`` (stringified when that field is a string)."""
    named = jobs[0].name is not None
    stringify = (key_field is not None
                 and isinstance(key_field.dataType, StringType))
    out_schema = StructType(
        ([StructField("sketch_name", StringType(), False)] if named else [])
        + ([key_field] if key_field else [])
        + [StructField("state", BinaryType(), False),
           StructField("n_items", LongType(), False),
           StructField("partition_id", IntegerType(), False),
           StructField("rows_consumed", LongType(), False)])
    in_cols = list(dict.fromkeys(
        c for j in jobs for c in (j.key_col, j.value_col, j.weight_col) if c))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        if pid in skip_partitions:
            # resume path: this partition's partial is already checkpointed
            # (real deployments prune at the source/manifest level instead)
            return
        accs: dict = {}  # (job index, key) -> accumulator
        rows: dict = {}  # (job index, key) -> rows consumed
        keyed_hll = {i: hll.KeyedHLL(j.spec.p["m"]) for i, j in enumerate(jobs)
                     if j.spec.kind == "hll" and j.key_col}
        for i, j in enumerate(jobs):
            for s in range(j.n_shards or 0):
                accs[(i, s)], rows[(i, s)] = j.spec.init(), 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            elements: dict = {}
            factorized: dict = {}
            groups: dict = {}
            for i, (spec, vcol, _, kcol, n_shards, wcol) in enumerate(jobs):
                ek = (vcol, spec.element, spec.needs_elements())
                if ek not in elements:
                    elements[ek] = _batch_elements(batch.column(vcol), *ek[1:])
                h1, h2, elems, rowmap = elements[ek]
                w = None
                if wcol:
                    w = batch.column(wcol).to_numpy(
                        zero_copy_only=False).astype(np.float64)
                    # exploded elements carry their row's weight
                    w = w if rowmap is None else w[rowmap]
                if kcol is None and not n_shards:
                    spec.update(accs.setdefault((i, None), spec.init()),
                                h1, h2, elems, w)
                    rows[(i, None)] = rows.get((i, None), 0) + batch.num_rows
                    continue
                if n_shards:
                    gk = (ek, n_shards)
                    if gk not in groups:
                        shard = hashing.shard_of(h1, n_shards)
                        groups[gk] = _Groups(range(n_shards), shard, shard)
                else:
                    if kcol not in factorized:
                        factorized[kcol] = pd.factorize(
                            batch.column(kcol).to_pandas(), sort=False)
                    codes, uniques = factorized[kcol]
                    # The cache key MUST include whether the job's
                    # elements are flattened or filtered rows (rowmap is
                    # not None): a flattened job (e.g. HLL over 'tokens')
                    # and a per-row job (e.g. Bloom over 'token_array')
                    # on the SAME columns group arrays of different
                    # lengths — sharing them would misgroup sketches or
                    # raise IndexError.
                    gk = (kcol, vcol, rowmap is not None)
                    if gk not in groups:
                        ecodes = codes if rowmap is None else codes[rowmap]
                        groups[gk] = _Groups(uniques, ecodes, codes)
                g = groups[gk]
                if i in keyed_hll:
                    keep = g.ecodes >= 0  # null keys dropped
                    keyed_hll[i].update(g.keys, g.ecodes[keep], h1[keep])
                else:
                    for key, sel in g.selections():
                        spec.update(accs.setdefault((i, key), spec.init()),
                                    *(_select_elems(a, sel)
                                      for a in (h1, h2, elems, w)))
                for key, n in zip(g.keys, g.row_counts):
                    rows[(i, key)] = rows.get((i, key), 0) + n
        for i, kh in keyed_hll.items():
            accs.update(((i, key), [regs, n]) for key, regs, n in kh.states())
        out = []
        for (i, key), acc in accs.items():
            blob, n_items = jobs[i].spec.finalize(acc)
            row = {"state": blob, "n_items": n_items, "partition_id": pid,
                   "rows_consumed": rows[(i, key)]}
            if named:
                row["sketch_name"] = jobs[i].name
            if key_field:
                row[key_field.name] = (str(key) if stringify
                                       and key is not None else key)
            out.append(row)
        if out:
            yield from pa.Table.from_pylist(
                out, schema=_to_arrow_schema(out_schema)).to_batches()

    return df.select(*in_cols).mapInArrow(fn, out_schema)


def _partials(df: DataFrame, kind: str, value_col: str, *,
              key_col: str | None = None, element: str | None = None,
              weight_col: str | None = None,
              skip_partitions: frozenset[int] = frozenset(),
              **sketch_params) -> DataFrame:
    """Phase-1 partials of one sketch per value of the typed ``key_col``
    — the fold used by ``sketch_agg``, checkpoint and streaming."""
    spec = _Spec.make(kind, infer_element(df, value_col, element),
                      **sketch_params)
    return _fold(df, [_Job(spec, value_col, key_col=key_col,
                           weight_col=weight_col)],
                 df.schema[key_col] if key_col else None, skip_partitions)


def _to_arrow_schema(st: StructType) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(st)


# ---------------------------------------------------------------------------
# phase 2: the one merge
# ---------------------------------------------------------------------------


def _merge(partials: DataFrame, key_cols: list[str],
           tree_fanout: int | None = None,
           merge_buckets: int | None = None) -> DataFrame:
    """Phase 2 of every build: one row per ``key_cols`` group,
    ``[*key_cols, state, n_items, n_partials]``.

    ``tree_fanout`` adds an intermediate level that merges within
    (key, ``partition_id % tree_fanout``) first — the partial-reduce
    pattern for wide fan-in. ``merge_buckets`` hashes keys into that
    many groups so each ``applyInPandas`` call merges many fine-grained
    keys in a tight loop instead of paying ~ms of pandas overhead per
    key."""
    glob = not key_cols
    if glob:
        partials = partials.withColumn("_g", F.lit(1))
        key_cols = ["_g"]
    out_schema = StructType([partials.schema[k] for k in key_cols] + [
        StructField("state", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("n_partials", LongType(), False)])

    def merged(pdf: pd.DataFrame, cols: list[str]) -> dict:
        return {**{c: pdf[c].iloc[0] for c in cols},
                "state": merge_sketch_states(pdf["state"].tolist()),
                "n_items": int(pdf["n_items"].sum()),
                "n_partials": int(pdf["n_partials"].sum()
                                  if "n_partials" in pdf else len(pdf))}

    if tree_fanout:
        salted = key_cols + ["_salt"]
        partials = (partials
                    .withColumn("_salt", (F.col("partition_id") % tree_fanout)
                                .cast("int"))
                    .groupBy(*salted)
                    .applyInPandas(
                        lambda pdf: pd.DataFrame([merged(pdf, salted)]),
                        StructType(out_schema.fields
                                   + [StructField("_salt", IntegerType(),
                                                  False)])))
    if merge_buckets and not glob:
        out = (partials
               .withColumn("_kb", F.pmod(F.hash(*key_cols),
                                         F.lit(merge_buckets)))
               .groupBy("_kb")
               .applyInPandas(lambda pdf: pd.DataFrame(
                   [merged(g, key_cols) for _, g in
                    pdf.groupby(key_cols, dropna=False, sort=False)]),
                   out_schema))
    else:
        out = partials.groupBy(*key_cols).applyInPandas(
            lambda pdf: pd.DataFrame([merged(pdf, key_cols)]), out_schema)
    return out.drop("_g") if glob else out


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def sketch_agg(df: DataFrame, kind: str, value_col: str, *,
               key_col: str | None = None, element: str | None = None,
               tree_fanout: int | None = None,
               merge_buckets: int | None = None,
               weight_col: str | None = None,
               _return_partials: bool = False, **sketch_params) -> DataFrame:
    """Build one mergeable sketch per key over ``df[value_col]``.

    Returns ``DataFrame[key?, state binary, n_items, n_partials]``.

    kinds: ``hll`` (m), ``cms`` (d,w | eps,delta | eps,fail_prob),
    ``bloom`` (m,k | n,eps), ``topk`` (k, eps, fail_prob, slack,
    max_distinct).
    element kinds: ``tokens`` (flatten array<int>), ``token_array``
    (whole array per row), ``int32``/``int64``/``string``/``binary``
    (inferred from the column type when omitted).

    ``topk`` + ``max_distinct=N``: bound phase-1 memory to O(N) per
    partition for near-unique element columns (URLs/doc ids at 10⁹
    rows) — when a partition tracks more than N distinct elements the
    count tail is compacted into the partial's CMS (see
    ``kernels.topk.CappedCounts``). Capped builds must be read with
    ``topk_values(exact=False)`` (the reference's CMS-estimate
    semantics); the ``exact=True`` fast path assumes uncapped counts.

    ``cms`` + ``weight_col=C``: each row adds ``C``, not 1 — the
    reference's ``Update(data, count)`` (``count_min_sketch.go:60``)
    vectorized. Because the CMS is linear in counts, building from a
    pre-aggregated ``(key, count)`` table equals building from the raw
    rows bit-for-bit — the one-scan path when an exact GROUP BY over
    the same input is needed anyway. Only ``cms`` is count-linear, so
    other kinds reject ``weight_col``.
    """
    if weight_col is not None and kind != "cms":
        raise ValueError(
            f"weight_col is only meaningful for kind='cms' (the"
            f" count-linear sketch; reference Update(data, count)) —"
            f" got kind={kind!r}")
    partials = _partials(df, kind, value_col, key_col=key_col,
                         element=element, weight_col=weight_col,
                         **sketch_params)
    if _return_partials:
        return partials
    return _merge(partials, [key_col] if key_col else [], tree_fanout,
                  merge_buckets)


def multi_sketch_agg(df: DataFrame, jobs: list[dict],
                     tree_fanout: int | None = None) -> DataFrame:
    """Build MANY sketches in ONE scan — the 100 TB shape: the input is
    read once, each Arrow batch is hashed once per distinct
    (column, element kind) and folded into every requested sketch.

    ``jobs``: list of dicts ``{name, kind, value_col, key_col?,
    element?, params?}``. Keys are stringified into a uniform ``key``
    column (null for global sketches). Returns
    ``DataFrame[sketch_name, key, state, n_items, n_partials]``.
    """
    fold_jobs = [
        _Job(_Spec.make(j["kind"],
                        infer_element(df, j["value_col"], j.get("element")),
                        **j.get("params", {})),
             j["value_col"], name=j["name"], key_col=j.get("key_col"))
        for j in jobs]
    partials = _fold(df, fold_jobs, StructField("key", StringType(), True))
    return _merge(partials, ["sketch_name", "key"], tree_fanout)


def _element_hashes_df(df: DataFrame, value_col: str, key_col: str | None,
                       element: str, n_shards: int) -> DataFrame:
    """Phase-1 hash extraction shared by the cuckoo build / remove / probe
    paths: ``[key?, h1 long, shard int, _real bool]`` where ``shard =
    shard_of(h1, n_shards)`` (splitmix-mixed — see
    :func:`gostatix_spark.hashing.shard_of`; raw ``h1 % n_shards`` would
    share low bits with the in-filter addressing ``i1 = h1 % size``,
    leaving only 1/n_shards of each shard's buckets reachable).
    ``_real`` is always TRUE here; sentinel rows union FALSE."""
    key_cols = [key_col] if key_col else []
    hash_schema = StructType(
        ([df.schema[key_col]] if key_col else [])
        + [StructField("h1", LongType(), False),
           StructField("shard", IntegerType(), False),
           StructField("_real", BooleanType(), False)])

    def hash_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            h1, _, rowmap = extract_hashes(batch.column(value_col), element,
                                           "murmur3")
            cols = {"h1": pa.array(h1.astype(np.int64)),
                    "shard": pa.array(
                        hashing.shard_of(h1, n_shards).astype(np.int32)),
                    "_real": pa.array(np.ones(len(h1), dtype=bool))}
            if key_col:
                karr = batch.column(key_col)
                if rowmap is not None:
                    karr = karr.take(pa.array(rowmap))
                cols[key_col] = karr
            yield pa.RecordBatch.from_pydict(
                {f.name: cols[f.name] for f in hash_schema.fields},
                schema=_to_arrow_schema(hash_schema))

    return df.select(*key_cols, value_col).mapInArrow(hash_fn, hash_schema)


def _shard_sentinels(df: DataFrame, key_col: str | None,
                     n_shards: int) -> DataFrame:
    """One ``_real=FALSE`` row per (key?, shard) so groupBy emits a state
    row even for shards that received zero elements — probes route by
    ``shard_of`` and a missing shard would misindex every lookup."""
    spark = df.sparkSession
    shards = spark.range(n_shards).select(
        F.col("id").cast("int").alias("shard"))
    base = (df.select(key_col).distinct().crossJoin(shards)
            if key_col else shards)
    return (base
            .withColumn("h1", F.lit(0).cast("long"))
            .withColumn("_real", F.lit(False))
            .select(*([key_col] if key_col else []), "h1", "shard", "_real"))


def cuckoo_shard_size(n_rows: int, n_shards: int, bucket_size: int = 4) -> int:
    """Per-shard bucket count for ``n_rows`` split across ``n_shards``
    at the reference's 0.955 design load (``base_cuckoo_filter.go``
    capacity policy), PLUS a 6σ Poisson-imbalance margin: shard counts
    vary ≈ √(n/shards), and a shard landing above the design load makes
    the kick loop panic — exact 0.955 sizing failed in practice at
    1M × 32 shards when pow-2 rounding happened to add no slack."""
    per_shard_items = n_rows / max(1, n_shards)
    margin = 6.0 * per_shard_items ** 0.5
    return max(64, int(np.ceil(
        (per_shard_items + margin) / bucket_size / 0.955)))


def cuckoo_build(df: DataFrame, value_col: str, *,
                 key_col: str | None = None, element: str | None = None,
                 size: int | None = None, n: int | None = None,
                 bucket_size: int = 4,
                 fp_len: int | None = None, retries: int = 500,
                 eps: float = 0.001, n_shards: int = 1,
                 seed: int = 42) -> DataFrame:
    """Distributed cuckoo-filter build (SURVEY.md §3.3).

    Phase 1 (parallel, vectorized): hash every element. Phase 2: shuffle
    the 8-byte hashes to their (key, shard) and run the sequential
    insert kernel once per shard — the kernel itself is numpy-array
    based. ``n_shards > 1`` splits each key's filter into independent
    shards by ``shard_of(h1)``; lookups and removals route the same way
    (:func:`gostatix_spark.query.cuckoo_contains`,
    :func:`cuckoo_apply_removals`), so build, delete and probe
    parallelize across shards. Size is rounded to a power of two so the
    XOR partner map is involutive (policy SURVEY.md §1.6.5). Every
    shard emits a row even when empty (zero-element shards are states,
    not absent rows).

    ``size`` is the per-shard bucket count when given; else it is
    derived from the expected element count ``n`` (pass it when known —
    skips a full scan) or, as a last resort, from an auto ``df.count()``
    scan, split across shards at 0.955 load
    (``base_cuckoo_filter.go`` capacity policy).

    Returns ``DataFrame[key?, shard int, state binary, n_items]``.
    """
    element = infer_element(df, value_col, element)
    if size is None:
        size = params.next_power_of_two(
            cuckoo_shard_size(n if n is not None else df.count(),
                              n_shards, bucket_size))
    else:
        size = params.next_power_of_two(size)
    if fp_len is None:
        fp_len = params.cuckoo_fingerprint_length(size, eps)

    key_cols = [key_col] if key_col else []
    hashes = _element_hashes_df(df, value_col, key_col, element, n_shards) \
        .unionByName(_shard_sentinels(df, key_col, n_shards))

    out_schema = StructType(
        ([df.schema[key_col]] if key_col else [])
        + [StructField("shard", IntegerType(), False),
           StructField("state", BinaryType(), False),
           StructField("n_items", LongType(), False)])

    def build_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        real = pdf[pdf["_real"]]
        h1 = real["h1"].to_numpy().astype(np.int64).view(np.uint64)
        f = cuckoo.CuckooFilter(size, bucket_size, fp_len, retries, seed=seed)
        f.bulk_insert_hashes(h1)
        st = CuckooState(size, bucket_size, fp_len, retries, f.length, f.buckets)
        row = {"shard": int(pdf["shard"].iloc[0]),
               "state": st.to_bytes(), "n_items": len(h1)}
        for kc in key_cols:
            row[kc] = pdf[kc].iloc[0]
        return pd.DataFrame([row])

    return hashes.groupBy(*key_cols, "shard").applyInPandas(build_fn, out_schema)


def cuckoo_apply_removals(states: DataFrame, removals: DataFrame,
                          value_col: str, *, n_shards: int,
                          key_col: str | None = None,
                          element: str | None = None) -> DataFrame:
    """Distributed ``Remove`` (``cuckoo_filter.go:128-144``) over a
    sharded build: hash the removal elements (vectorized, parallel),
    route each to its owning shard by the build's ``shard_of`` rule,
    and apply the vectorized batch-remove kernel inside a cogrouped
    ``applyInPandas`` — one task per (key?, shard), no element ever
    touches the driver.

    ``states`` is :func:`cuckoo_build` output; ``removals`` is any
    DataFrame with ``value_col`` (and ``key_col`` when the build was
    keyed). ``n_shards`` must equal the build's. Returns the same
    ``[key?, shard, state, n_items]`` shape with removals applied
    (``n_items`` decremented by the count actually removed — absent
    elements are no-ops, as in the reference)."""
    element = infer_element(removals, value_col, element)
    key_cols = [key_col] if key_col else []
    hashes = _element_hashes_df(removals, value_col, key_col, element,
                                n_shards)
    out_schema = StructType(
        ([states.schema[key_col]] if key_col else [])
        + [StructField("shard", IntegerType(), False),
           StructField("state", BinaryType(), False),
           StructField("n_items", LongType(), False)])
    out_cols = key_cols + ["shard", "state", "n_items"]

    def apply_fn(spdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(spdf):
            # removals routed to a (key, shard) with no built state:
            # nothing to remove from
            return pd.DataFrame(columns=out_cols)
        st: CuckooState = sketch_from_bytes(bytes(spdf["state"].iloc[0]))
        f = cuckoo.CuckooFilter(st.size, st.bucket_size, st.fp_len,
                                st.retries, buckets=st.buckets,
                                length=st.length)
        n_removed = 0
        if len(rpdf):
            h1 = rpdf["h1"].to_numpy().astype(np.int64).view(np.uint64)
            n_removed = int(f.bulk_remove_hashes(h1).sum())
        new = CuckooState(st.size, st.bucket_size, st.fp_len, st.retries,
                          f.length, f.buckets)
        row = {"shard": int(spdf["shard"].iloc[0]), "state": new.to_bytes(),
               "n_items": int(spdf["n_items"].iloc[0]) - n_removed}
        for kc in key_cols:
            row[kc] = spdf[kc].iloc[0]
        return pd.DataFrame([row])

    return (states.groupBy(*key_cols, "shard")
            .cogroup(hashes.groupBy(*key_cols, "shard"))
            .applyInPandas(apply_fn, out_schema))


def bloom_build_sharded(df: DataFrame, value_col: str, *,
                        n: int, eps: float = 0.01,
                        element: str | None = None, n_shards: int = 8,
                        tree_fanout: int | None = None) -> DataFrame:
    """Sharded Bloom build (SURVEY.md §7.4.4): the scale path for
    filters too big for one driver/executor blob (n = 10⁹ at p = 0.01
    is ~1.2 GB). Each element belongs to shard ``shard_of(h1)``; each
    shard is an independent Bloom sized for ``n / n_shards`` expected
    elements at the same ``eps`` (total bits identical to the unsharded
    filter, same FPR). Phase 1 stays ONE pass with map-side combine:
    every input partition folds its elements into ``n_shards`` small
    word arrays, emitting one partial row per (partition, shard); phase
    2 ORs per shard. Probe via
    :func:`gostatix_spark.query.bloom_contains_sharded`, which routes by
    the same rule — still no false negatives.

    Returns ``DataFrame[shard int, state, n_items, n_partials]``.
    """
    n_per = max(1, -(-n // n_shards))
    spec = _Spec.make("bloom", infer_element(df, value_col, element),
                      n=n_per, eps=eps)
    partials = _fold(df, [_Job(spec, value_col, n_shards=n_shards)],
                     StructField("shard", IntegerType(), False))
    return _merge(partials, ["shard"], tree_fanout)
