"""Structured Streaming integration: incremental sketch maintenance.

The reference has no streaming runtime (SURVEY.md §2.2) — its "stream"
is a caller loop over ``Insert``. The Spark-native equivalent is a
Structured Streaming query that folds each micro-batch into a
persistent sketch table:

``readStream → foreachBatch( build partials → merge with stored state )``

Merge associativity + commutativity (tested) is exactly what makes this
correct: the stored state is a running ⊕-fold and each micro-batch
contributes its partial, independent of arrival order or batch
boundaries. The same property powers checkpoint/resume — a streaming
restart just resumes the fold from the last committed state.

Execution shape (all distributed — nothing is collected to the driver):

* phase-1 partials over the micro-batch (vectorized ``mapInArrow``,
  map-side combine, skew-immune);
* the state table is KEY-BUCKET-PARTITIONED (``bucket =
  pmod(xxhash64(key), n_state_buckets)``); only the buckets touched by
  the micro-batch are read, merged (``groupBy.applyInPandas``) and
  rewritten. Untouched buckets are carried forward by MANIFEST
  reference — no data is copied or rewritten for them, so steady-state
  commit cost is O(touched buckets), not O(total state) (the round-2
  full-state-rewrite sink's write amplification).
* commit = write touched buckets under a NEW versioned dir
  ``v=<n>/kb=<b>``, then atomically flip the ``_LATEST`` pointer
  (tmp-file + ``os.replace``) whose manifest maps every bucket to the
  version dir that last wrote it — the Iceberg-snapshot pattern on a
  plain filesystem. A crash mid-write leaves the previous pointer (and
  every directory it references) fully intact.

Exactly-once state: ``foreachBatch`` delivers micro-batches
*at-least-once* (a failed epoch is replayed with the same
``batch_id``). The committed pointer records the folded ``batch_id``
AND the replay scope (the query's checkpoint location): a batch with
``batch_id ≤`` committed is skipped only when it comes from the SAME
scope; a restart against a fresh/different Structured Streaming
checkpoint restarts batch ids at 0, and silently dropping that data
would lose it — the sink fails loudly instead and tells the operator
to either restore the original checkpoint or start a new state_path.

Watermarks/late data: sketch merges are insensitive to late or
reordered rows (⊕ is order-free), so no watermark is needed for the
running-total sketch. Windowed variants (sketch per event-time window)
key the aggregation by the window start and let the caller expire old
windows.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from gostatix_spark.agg import _merge, _partials

__all__ = ["incremental_sketch_sink", "sketch_stream_query",
           "load_sketch_state", "PointerStore", "LocalPointerStore",
           "ObjectStorePointerStore", "ConditionalPutClient",
           "InMemoryConditionalPutClient", "PreconditionFailed",
           "pointer_store_for"]


class PointerStore:
    """The commit protocol's ONLY storage-dependent piece: read the
    ``_LATEST`` pointer and conditionally flip it. Everything else
    (versioned bucket dirs, manifests, retention) is plain parquet
    writes that any Spark-supported filesystem already handles.

    ``commit(ptr, expected_version)`` must be a COMPARE-AND-SWAP: it
    installs ``ptr`` only if the currently-committed pointer's version
    equals ``expected_version`` (None = no pointer yet), else raises
    :class:`ConcurrentCommitError`. On S3 this maps to a conditional
    PUT (``If-Match``/``If-None-Match``, supported since 2024); on GCS
    to a generation-match precondition; on HDFS/POSIX to an atomic
    rename under a lock. A plain blind overwrite is NOT a valid
    implementation — two concurrent streaming queries would silently
    clobber each other's manifests."""

    def read(self) -> dict | None:
        raise NotImplementedError

    def commit(self, ptr: dict, expected_version: int | None) -> None:
        raise NotImplementedError


class ConcurrentCommitError(RuntimeError):
    """Another writer committed since this sink read the pointer."""


class LocalPointerStore(PointerStore):
    """POSIX/local-filesystem implementation: tmp-file + ``os.replace``
    for atomic visibility, an ``fcntl`` lock file to make the
    read-compare-replace sequence a true single-host CAS."""

    def __init__(self, state_path: str):
        self.state_path = state_path

    def read(self) -> dict | None:
        try:
            with open(os.path.join(self.state_path, "_LATEST")) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def commit(self, ptr: dict, expected_version: int | None) -> None:
        import fcntl
        os.makedirs(self.state_path, exist_ok=True)
        lock_path = os.path.join(self.state_path, "._LATEST.lock")
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            cur = self.read()
            cur_version = cur["version"] if cur else None
            if cur_version != expected_version:
                raise ConcurrentCommitError(
                    f"pointer at {self.state_path!r} moved to version"
                    f" {cur_version} (expected {expected_version}) — another"
                    " writer is committing to this state_path")
            tmp = os.path.join(self.state_path, "._LATEST.tmp")
            with open(tmp, "w") as f:
                json.dump(ptr, f)
            os.replace(tmp, os.path.join(self.state_path, "_LATEST"))


class PreconditionFailed(RuntimeError):
    """Conditional PUT rejected: the object's ETag/generation moved
    between the caller's read and its write (HTTP 412)."""


class ConditionalPutClient:
    """Minimal client contract an object store must offer for the
    pointer CAS — exactly the operations S3 (conditional writes,
    ``If-Match``/``If-None-Match``, GA since 2024), GCS
    (``x-goog-if-generation-match``) and Azure Blob (ETag access
    conditions) all provide:

    * ``get(key) -> (bytes, etag) | None`` — object body plus the
      opaque version token the store will check writes against.
    * ``put_if_match(key, data, etag) -> new_etag`` — write only if
      the object's current token equals ``etag`` (``etag=None`` means
      "only if the object does not exist", i.e. ``If-None-Match: *``);
      raise :class:`PreconditionFailed` otherwise. The check-and-write
      must be atomic SERVER-side — that atomicity is what replaces the
      POSIX lock file.

    A real S3/GCS adapter is a ~20-line subclass wrapping the vendor
    SDK call; :class:`InMemoryConditionalPutClient` implements the
    same contract for tests and local pipelines."""

    def get(self, key: str):
        raise NotImplementedError

    def put_if_match(self, key: str, data: bytes, etag):
        raise NotImplementedError


class InMemoryConditionalPutClient(ConditionalPutClient):
    """In-memory object store with If-Match semantics — the test
    double for the CAS contract (and a zero-dependency store for
    driver-local pipelines). ETags are monotonic integers; the
    check-and-write runs under one lock, mirroring the server-side
    atomicity the real stores guarantee."""

    def __init__(self):
        import threading
        self._lock = threading.Lock()
        self._objects: dict[str, tuple[bytes, int]] = {}
        self._next_etag = 1

    def get(self, key: str):
        with self._lock:
            got = self._objects.get(key)
            return None if got is None else (got[0], got[1])

    def put_if_match(self, key: str, data: bytes, etag):
        with self._lock:
            cur = self._objects.get(key)
            cur_etag = None if cur is None else cur[1]
            if cur_etag != etag:
                raise PreconditionFailed(
                    f"{key}: etag {cur_etag} != precondition {etag}")
            new = self._next_etag
            self._next_etag += 1
            self._objects[key] = (bytes(data), new)
            return new


class ObjectStorePointerStore(PointerStore):
    """PointerStore over any :class:`ConditionalPutClient` — the
    object-store counterpart of :class:`LocalPointerStore`. There is
    no lock file: atomicity comes from the store's conditional PUT.

    CAS shape: ``commit`` reads ``(ptr, etag)``, verifies the
    committed version equals ``expected_version``, then PUTs with
    ``If-Match: etag``. A writer that lands between the read and the
    PUT changes the etag, so the PUT fails server-side and surfaces
    as :class:`ConcurrentCommitError` — the loser never clobbers the
    winner, closing the TOCTOU window without any client-side
    locking. A writer that crashes between read and commit writes
    nothing, leaving the old pointer intact (commits are all-or-
    nothing: version dirs + manifests land BEFORE the pointer flip,
    so an unflipped pointer just means orphaned, retention-collected
    files)."""

    def __init__(self, client: ConditionalPutClient, key: str = "_LATEST"):
        self.client = client
        self.key = key

    def read(self) -> dict | None:
        got = self.client.get(self.key)
        if got is None:
            return None
        try:
            return json.loads(got[0].decode("utf-8"))
        except ValueError:
            return None

    def commit(self, ptr: dict, expected_version: int | None) -> None:
        got = self.client.get(self.key)
        cur, etag = (None, None) if got is None else (
            json.loads(got[0].decode("utf-8")), got[1])
        cur_version = cur["version"] if cur else None
        if cur_version != expected_version:
            raise ConcurrentCommitError(
                f"pointer {self.key!r} moved to version {cur_version}"
                f" (expected {expected_version}) — another writer is"
                " committing to this state_path")
        try:
            self.client.put_if_match(self.key,
                                     json.dumps(ptr).encode("utf-8"), etag)
        except PreconditionFailed as e:
            raise ConcurrentCommitError(
                f"pointer {self.key!r} changed between read and"
                f" conditional put ({e}) — another writer won the CAS"
            ) from e


def pointer_store_for(state_path: str) -> PointerStore:
    """Pick the pointer-store implementation for a state path. Local
    paths (no scheme, or ``file:``) get :class:`LocalPointerStore`;
    object-store schemes fail LOUDLY with the porting contract instead
    of corrupting state via a non-atomic driver-side write."""
    scheme = state_path.split("://", 1)[0] if "://" in state_path else ""
    if scheme in ("", "file"):
        return LocalPointerStore(state_path.split("://", 1)[-1])
    raise ValueError(
        f"no PointerStore for scheme {scheme!r} ({state_path!r}). The"
        " bucket/manifest layout already works on any Spark filesystem,"
        " but the _LATEST pointer flip needs a conditional-put"
        " implementation for this store (S3: If-Match PUT; GCS:"
        " generation-match) — wrap your store's client in"
        " ObjectStorePointerStore (a ~20-line ConditionalPutClient"
        " adapter over the vendor SDK) and pass it as pointer_store=.")


def _bucket_col(key_col: str | None, n_buckets: int):
    """Stable key→bucket assignment (xxhash64 is a fixed algorithm, so
    the mapping survives session restarts — manifests depend on it)."""
    if key_col is None:
        return F.lit(0)
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _check_pointer_shape(ptr: dict, state_path: str) -> None:
    if "buckets" not in ptr:
        raise ValueError(
            f"state pointer at {state_path!r} has no bucket manifest — it"
            " predates the bucketed state layout (pre-round-3 full-rewrite"
            " sink). Rebuild the state (replay the stream into a fresh"
            " state_path) or migrate by writing a manifest mapping each"
            " kb=<b> dir of the last version to that version.")


def load_sketch_state(spark: SparkSession, state_path: str,
                      pointer_store: PointerStore | None = None
                      ) -> DataFrame | None:
    """The committed sketch table ``[key?, state, n_items, n_partials]``
    (or None before the first commit). Follows the ``_LATEST``
    manifest, so it unions each bucket's LAST-written directory —
    never a half-written one."""
    store = pointer_store or pointer_store_for(state_path)
    ptr = store.read()
    if ptr is None:
        return None
    _check_pointer_shape(ptr, state_path)
    paths = sorted({os.path.join(state_path, rel)
                    for rel in ptr["buckets"].values()})
    if not paths:
        return None
    return spark.read.parquet(*paths)


def incremental_sketch_sink(kind: str, value_col: str, state_path: str, *,
                            key_col: str | None = None,
                            element: str | None = None,
                            merge_buckets: int | None = None,
                            n_state_buckets: int = 32,
                            keep_versions: int = 2,
                            replay_scope: str | None = None,
                            pointer_store: PointerStore | None = None,
                            **sketch_params):
    """Returns a ``foreachBatch`` function maintaining one sketch per
    key under ``state_path`` (bucket-partitioned versioned dirs +
    atomic manifest pointer; read with :func:`load_sketch_state`).

    Each call: verify the replay guard (same ``replay_scope`` +
    ``batch_id`` ≤ committed ⇒ no-op; DIFFERENT scope with a rewound
    ``batch_id`` ⇒ loud failure, see module docstring); phase-1
    partials over the micro-batch; read ONLY the touched state buckets;
    distributed per-key merge; write the touched buckets under
    ``v=<n+1>``; flip the manifest pointer; prune version dirs that are
    old AND no longer referenced.
    """
    store = pointer_store or pointer_store_for(state_path)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ptr = store.read()
        version = ptr["version"] if ptr else None
        if ptr is not None:
            _check_pointer_shape(ptr, state_path)
            if ptr.get("n_state_buckets") != n_state_buckets:
                # the key→bucket mapping is pmod(hash, n_state_buckets):
                # restarting with a different bucket count would read a
                # key's state from the WRONG (empty) bucket, start a
                # fresh sketch there, and leave load_sketch_state
                # returning duplicate rows per key — fail loudly instead
                raise ValueError(
                    f"state at {state_path!r} was committed with"
                    f" n_state_buckets={ptr.get('n_state_buckets')}, but"
                    f" this sink was configured with {n_state_buckets}."
                    " The bucket count is baked into the key→bucket"
                    " mapping; restart with the committed value (or"
                    " rebuild the state at the new bucket count).")
        if ptr is not None and batch_id <= ptr["batch_id"]:
            if replay_scope == ptr.get("replay_scope"):
                return  # at-least-once replay of an already-folded batch
            raise ValueError(
                f"state at {state_path!r} has committed batch_id"
                f" {ptr['batch_id']} from scope {ptr.get('replay_scope')!r},"
                f" but batch {batch_id} arrived from scope {replay_scope!r}"
                " — a fresh streaming checkpoint restarted batch ids over"
                " kept state. Restore the original checkpoint dir or point"
                " the query at a new state_path.")
        if not batch_df.head(1):
            return  # empty micro-batch: state unchanged
        key_cols = [key_col] if key_col else []
        cols = key_cols + ["state", "n_items"]
        partials = _partials(batch_df, kind, value_col, key_col=key_col,
                             element=element, **sketch_params).select(*cols)
        kb = _bucket_col(key_col, n_state_buckets)
        if key_col:
            # the touched-bucket probe and the merge both consume the
            # partials — persist so the phase-1 build runs ONCE per
            # micro-batch, not once per consumer
            partials = partials.persist()
            # tiny collect: ≤ n_state_buckets ints, never key data
            touched = sorted(
                r[0] for r in
                partials.select(kb.alias("kb")).distinct().collect())
        else:
            touched = [0]
        manifest = dict(ptr["buckets"]) if ptr else {}
        inp = partials
        cur_paths = sorted({os.path.join(state_path, manifest[str(b)])
                            for b in touched if str(b) in manifest})
        if cur_paths:
            # partition-pruned state read: ONLY the touched buckets
            current = spark.read.parquet(*cur_paths).select(*cols)
            inp = inp.unionByName(current)
        merged = _merge(inp, key_cols, None, merge_buckets) \
            .select(*key_cols, "state", "n_items", "n_partials") \
            .withColumn("kb", kb if key_col else F.lit(0))
        new_version = (version or 0) + 1
        vdir = os.path.join(state_path, f"v={new_version}")
        try:
            merged.write.mode("overwrite").partitionBy("kb").parquet(vdir)
        finally:
            if key_col:
                partials.unpersist()
        for b in touched:
            manifest[str(b)] = f"v={new_version}/kb={b}"
        # conditional commit: installs the new manifest only if no other
        # writer moved the pointer since this batch read it
        store.commit({
            "version": new_version, "batch_id": batch_id,
            "replay_scope": replay_scope,
            "n_state_buckets": n_state_buckets, "buckets": manifest},
            expected_version=version)
        # retention: drop version dirs outside the keep window that no
        # manifest entry references (the pointer already moved, so
        # readers can't land on them)
        live = {rel.split("/", 1)[0] for rel in manifest.values()}
        try:
            for name in os.listdir(state_path):
                if name.startswith("v=") and name not in live and \
                        int(name[2:]) <= new_version - keep_versions:
                    shutil.rmtree(os.path.join(state_path, name),
                                  ignore_errors=True)
        except OSError:
            pass

    return fn


def sketch_stream_query(stream_df: DataFrame, kind: str, value_col: str,
                        state_path: str, *, key_col: str | None = None,
                        element: str | None = None,
                        merge_buckets: int | None = None,
                        n_state_buckets: int = 32,
                        trigger_available_now: bool = True,
                        checkpoint_dir: str | None = None,
                        pointer_store: PointerStore | None = None,
                        **sketch_params):
    """Launch the streaming query. With ``trigger_available_now`` the
    query drains all available input and stops — the batch-equivalence
    test mode; without it, it runs continuously. The checkpoint
    location doubles as the replay scope recorded in the state pointer
    (see module docstring)."""
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(state_path, "_stream_checkpoint")
    sink = incremental_sketch_sink(kind, value_col, state_path,
                                   key_col=key_col, element=element,
                                   merge_buckets=merge_buckets,
                                   n_state_buckets=n_state_buckets,
                                   replay_scope=os.path.abspath(checkpoint_dir),
                                   pointer_store=pointer_store,
                                   **sketch_params)
    writer = (stream_df.writeStream
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
