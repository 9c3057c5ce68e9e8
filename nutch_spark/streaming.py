"""Continuous frontier maintenance — Structured Streaming ingestion of
fetch results into the snapshot-store frontier.

The reference's crawl is strictly batch (segment directories per
cycle); a Spark-native engine can instead run the updatedb merge
CONTINUOUSLY: fetch/parse results land as parquet files in an incoming
directory (e.g. written by a separate fetch fleet, a Kafka sink, or
another cluster), and a Structured Streaming query folds every
micro-batch into the frontier through the exact same updatedb state
machine, committing each merge as an atomic snapshot. Each batch
runs as one `SnapshotStore.run_stage` step keyed by the checkpoint dir
and the batch id, so the ingestion is exactly-once across restarts: a
batch the manifest marks done is skipped when Spark replays it (its
commit log lost the batch, say, after the frontier commit), and a batch
cut before its mark is rolled back to the snapshots it started from
and merged again, the same deterministic merge over the same parent
snapshot. Batch ids restart with every new checkpoint, so each
checkpoint keeps its own marks: a query over a fresh checkpoint merges
its batch 0 even where an earlier query marked one.

At 10^10-URL scale the shape is identical — `availableNow` drains a
backlog with bounded batches; a continuous trigger keeps the frontier
within one micro-batch of the fetch fleet.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import functions as F

from .operators.parse import crawl_parse_from, parse_pages
from .operators.seen import SeenTable
from .schema import FETCH_RESULTS
from .store import SnapshotStore


def stream_updatedb(
    spark,
    store: SnapshotStore,
    incoming_dir: str,
    checkpoint_dir: str,
    clock: Callable[[object], int] | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    schedule: str = "default",
    seen_filter=None,
    parse_cp: Callable[[object], object] | None = None,
):
    """Start the streaming merge: parquet files of FETCH_RESULTS rows
    appearing under `incoming_dir` are parsed and folded into the
    `frontier` table per micro-batch. Returns the StreamingQuery.

    `clock(batch_df) -> cur_time_ms` derives the merge clock from the
    batch (default: max fetch_time in the batch) so the result is a
    pure function of the data — replays after a crash produce the same
    frontier, which is what makes foreachBatch + snapshot commits
    exactly-once here.

    `parse_cp(batch_df) -> crawl_parse DataFrame` overrides the default
    parse stage (parse_pages → crawl_parse_from) — the streaming twin
    of the batch driver's configurable parse surface, for fleets that
    land pre-extracted datums alongside (or instead of) raw span
    content. It must be deterministic in the batch for the replay
    guarantee to hold.

    `seen_filter` (operators.seen SeenFilter | CuckooSeenFilter) prunes
    each micro-batch's frontier join exactly like the batch crawl loop:
    definitely-new outlink datums take the frontier-free reduce, and
    the seen table learns the batch's new keys — maintained through the
    same seen.SeenTable as the crawl loop: built from the current
    frontier on first use or when the stored table's geometry differs
    from `seen_filter`'s, then added to per batch (same filter ⊇
    frontier invariant, same row-identical result).
    """

    seen = SeenTable(spark, store, seen_filter)
    # batch ids restart with every checkpoint, so the marks are per
    # checkpoint
    segment = f"stream:{os.path.abspath(checkpoint_dir)}"

    def _clock(batch_df) -> int:
        if clock is not None:
            return clock(batch_df)
        row = batch_df.agg(F.max("fetch_time").alias("m")).collect()[0]
        return int(row.m or 0)

    def _merge(batch_df) -> None:
        now = _clock(batch_df)
        # cut lineage: the batch is consumed by parse + updatedb twice
        batch_df = batch_df.localCheckpoint()
        if parse_cp is not None:
            cp = parse_cp(batch_df)
        else:
            pd_ = parse_pages(batch_df).localCheckpoint()
            cp = crawl_parse_from(pd_, batch_df)
        seen.merge(batch_df, cp, now, schedule=schedule)

    def _batch(batch_df, batch_id: int) -> None:
        if batch_df.take(1):
            store.run_stage(segment, f"batch{batch_id:08d}",
                            lambda: _merge(batch_df))

    reader = spark.readStream.schema(FETCH_RESULTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(incoming_dir)
    writer = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
