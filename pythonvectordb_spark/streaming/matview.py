"""Incrementally-maintained aggregate snapshot ("materialized view") via
``foreachBatch`` merge — the streaming upsert pattern the reference's
in-place mutable state maps to in Spark (SURVEY.md §2.7/§2.10).

Each micro-batch folds its partial aggregate into the stored per-key
totals and swaps the snapshot directory via paired renames (old aside,
new in, then delete old), so a reader observes a complete view at any
point except the instant between the two renames, and a crash at any
step leaves a complete copy recoverable on disk.  A ``_last_batch.json`` transaction marker makes the
merge idempotent under foreachBatch's at-least-once replay: a re-delivered
batch_id is skipped instead of double-counted.  (Idempotency holds within
a checkpoint lineage — the Structured Streaming contract; replaying from a
fresh checkpoint is a rebuild and should target an empty directory.)

At 100 TB the same shape runs with the view in a transactional table
format; here the swap + marker implement the same reader guarantees on
plain parquet.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pythonvectordb_spark.streaming.ingest import read_existing

MARKER_FILE = "_last_batch.json"


def _read_marker(target_dir: str) -> int:
    try:
        with open(os.path.join(target_dir, MARKER_FILE)) as f:
            return int(json.load(f)["batch_id"])
    except Exception:
        return -1


def user_spend_delta(batch: DataFrame) -> DataFrame:
    """Per-user (n_events, value_cents) partial aggregate of one batch.
    Exact-integer cents, so merge order never changes the result."""
    return batch.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias(
            "value_cents"
        ),
    )


def merge_user_spend(current: DataFrame | None, batch: DataFrame) -> DataFrame:
    """One incremental-maintenance step: fold a raw batch's partial
    aggregate into the stored per-key totals (None = empty view). This
    is the exact merge `start_user_spend_matview` runs per micro-batch —
    factored out so the registry's `matview_user_spend_twin` can fold a
    deterministic batch split through it and the driver's DuckDB oracle
    (the one-shot GROUP BY) can witness that the incremental fold equals
    the full recompute."""
    delta = user_spend_delta(batch)
    if current is None:
        return delta
    return (
        current.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
    )


def start_user_spend_matview(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Maintain per-user (n_events, value_cents) totals over an event
    stream. Exact-integer aggregates, so merge order never changes the
    result."""

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= _read_marker(target_dir):
            return  # replayed batch: already folded in
        # None only when the view doesn't exist yet (first batch); an
        # unreadable view fails the batch instead of being replaced
        current = read_existing(batch.sparkSession, target_dir)
        merged = merge_user_spend(current, batch)
        tmp = f"{target_dir}__mv_tmp"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, MARKER_FILE), "w") as f:
            json.dump({"batch_id": batch_id}, f)
        # swap order keeps the current view readable until the new one is
        # in place: rename the old copy ASIDE (atomic), rename tmp IN
        # (atomic), then delete the old copy. A crash between the renames
        # leaves the complete new view in tmp and the complete old view in
        # the aside dir — never a missing/partial target for longer than
        # one rename. (rmtree-then-rename would expose a missing dir and a
        # crash there would lose the current view.)
        old = f"{target_dir}__mv_old"
        if os.path.exists(old):
            shutil.rmtree(old)  # leftover from a crashed earlier swap
        had_current = os.path.exists(target_dir)
        if had_current:
            os.rename(target_dir, old)
        os.rename(tmp, target_dir)
        if had_current:
            shutil.rmtree(old)

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
