"""Checkpoint / resume with per-partition lineage (north_rule requirement).

Analog of the reference's ``*FromKey`` constructors (e.g.
``bloom_filter.go:124-139``, ``count_min_sketch_redis.go:58-72``): state
persisted outside the worker so a build can be reconstructed. Here the
persisted unit is the **phase-1 partial state row** — exactly the
natural unit of recovery in a distributed build:

``(sketch_kind, key?, partition_id, snapshot_id, rows_consumed,
n_items, state)``

written as parquet. Resume reads the checkpoint, determines which input
partitions already contributed (lineage = ``partition_id`` +
``rows_consumed``), re-runs phase 1 **only on the missing partitions**
(the phase-1 fold skips checkpointed partition ids — no data shuffle,
the surviving partials are never recomputed), then merges old + new
partials. Merge associativity/commutativity (tested) makes the
two-source fold equal to the uninterrupted build; for HLL/Bloom,
idempotence additionally makes duplicated partials harmless.

At 100 TB: partials are O(num_partitions × num_keys) sketch-sized rows
(KB each), so checkpointing is a trivially small parquet write compared
to the scan, and resume skips re-reading completed input splits.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from gostatix_spark.agg import _merge, _partials

__all__ = ["checkpointed_sketch_agg", "write_partials", "resume_from_checkpoint"]


def write_partials(partials: DataFrame, path: str, kind: str,
                   snapshot_id: int | None = None) -> int:
    """Persist phase-1 partials with lineage columns. Returns snapshot id."""
    if snapshot_id is None:
        snapshot_id = int(time.time() * 1000)
    (partials
     .withColumn("sketch_kind", F.lit(kind))
     .withColumn("snapshot_id", F.lit(snapshot_id))
     .write.mode("append").parquet(path))
    return snapshot_id


def completed_partitions(spark: SparkSession, path: str,
                         kind: str | None = None) -> list[int]:
    """Partition ids with a checkpointed partial **for this sketch
    kind**. A checkpoint path may hold partials of several kinds (the
    persisted ``sketch_kind`` column exists exactly for that); counting
    another kind's partitions as done would silently skip phase 1 for
    the new kind and return an empty build."""
    try:
        cp = spark.read.parquet(path)
    except AnalysisException as e:
        # only a checkpoint that does not exist yet means "nothing done";
        # an unreadable one must not silently rerun and append to it
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return []
    if kind is not None:
        cp = cp.where(F.col("sketch_kind") == kind)
    return [r["partition_id"] for r in
            cp.select("partition_id").distinct().collect()]


def checkpointed_sketch_agg(df: DataFrame, kind: str, value_col: str, *,
                            checkpoint_path: str, key_col: str | None = None,
                            element: str | None = None,
                            tree_fanout: int | None = None,
                            fail_after_partition: int | None = None,
                            **sketch_params) -> DataFrame:
    """``sketch_agg`` with phase-1 checkpointing + resume.

    If ``checkpoint_path`` already holds partials for some partitions,
    only the missing input partitions are recomputed.
    ``fail_after_partition`` is a test hook: phase-1 tasks for
    partition ids > the given value raise, simulating executor loss
    mid-build (FIXTURES.md F4 ``resume_sim``).
    """
    spark = df.sparkSession
    done = frozenset(completed_partitions(spark, checkpoint_path, kind))
    partials = _partials(df, kind, value_col, key_col=key_col,
                         element=element, skip_partitions=done,
                         **sketch_params)
    if fail_after_partition is not None:
        # test hook: pretend every partition after the limit was lost
        partials = partials.where(
            F.col("partition_id") <= int(fail_after_partition))

    snapshot = write_partials(partials, checkpoint_path, kind)

    all_partials = (spark.read.parquet(checkpoint_path)
                    .where(F.col("sketch_kind") == kind)
                    .drop("sketch_kind", "snapshot_id"))
    # one contribution per partition (idempotent re-runs may append dupes)
    keyc = [key_col] if key_col else []
    dedup = all_partials.dropDuplicates(keyc + ["partition_id"])
    return _merge(dedup, keyc, tree_fanout)
