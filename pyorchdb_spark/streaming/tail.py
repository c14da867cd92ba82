"""Structured-Streaming tail of the change log → lake table.

The streaming analogue of the reference's rerun-the-script incrementality:
where PyOrchDB re-lists the blob container and set-diffs against
``catalog.csv`` (PyOrchDB/utilities/catalog.py:96-105), the engine tails
the event-log directory with a file-source ``readStream`` and lets the
Structured Streaming checkpoint own "what have I already seen".

Exactly-once is layered twice:
1. Spark's checkpoint guarantees each source file is delivered to
   ``foreachBatch`` once (resume-after-kill = continue from offsets —
   maps the reference's catalog persistence, catalog.py:107-109).
2. Our own batch markers make the apply idempotent even if a micro-batch
   is re-delivered after a crash *inside* foreachBatch (markers keyed by
   the stream's epoch id).

``availableNow`` trigger = bounded replay of everything currently in the
log, in bounded micro-batches — the batch/stream unification point.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from pyorchdb_spark.ingest import apply_batch, maybe_compact
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import LakeTable

# The change-event envelope (input_hint schema + CDC columns).
EVENT_SCHEMA_DDL = (
    "repo string, path string, commit string, seq long, op string, "
    "lang string, content string, batch_id string, ts timestamp, lang_variant string"
)


def tail_events(
    spark: SparkSession,
    events_path: str,
    lake: LakeTable,
    ledger: BatchLedger,
    checkpoint_dir: str,
    *,
    schema_ddl: str = EVENT_SCHEMA_DDL,
    salted: bool = False,
    n_salts: int = 16,
    num_files: int | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    mor: bool = False,
    mor_compact_factor: int = 8,
    tombstone_lag_batches: int | None = None,
    thin_shuffle: bool = False,
) -> StreamingQuery:
    """Start the tail; returns the query (caller awaits termination).

    ``mor=True``: each micro-batch lands as a merge-on-read delta commit
    (write cost proportional to the micro-batch — the right shape for a
    high-frequency tail) through the same one-job ``apply_batch`` path as
    batch replay; the sink self-compacts once delta commits reach
    ``mor_compact_factor``, through the same ``maybe_compact`` trigger.

    ``tombstone_lag_batches``: opt-in tombstone GC at compaction time
    (see ``ingest.replay`` — low-watermark from the lineage history;
    below-watermark stragglers are quarantined, never merged).
    """
    # NOTE: the event log is written partitionBy("batch_id"); the file
    # source discovers the partition column as long as it appears in the
    # explicit schema (no recursiveFileLookup — that disables discovery).
    reader = spark.readStream.schema(StructType.fromDDL(schema_ddl))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(events_path)

    # Markers are namespaced by the checkpoint identity, not just the
    # epoch id: epoch ids restart at 0 if the checkpoint dir is deleted or
    # a second stream (different checkpoint) feeds the same table, and a
    # bare "stream-{epoch}" marker would silently skip those batches.
    stream_ns = hashlib.sha256(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]

    # previous batch's row count sizes the next delta generation (the
    # fused path learns the true count only after the write) — same
    # rows_hint chaining as batch-mode replay
    state = {"prev_rows": None}

    def _apply(batch_df, epoch_id: int) -> None:
        res = apply_batch(
            lake,
            ledger,
            batch_df,
            batch_id=f"stream-{stream_ns}-{epoch_id:08d}",
            salted=salted,
            n_salts=n_salts,
            num_files=num_files,
            mor=mor,
            rows_hint=state["prev_rows"],
            # prune fat rows to LWW winners before the bucket exchange
            # (VERDICT r4 next #4); decided by the caller — a tail can't
            # sample its own future
            thin_shuffle=thin_shuffle,
        )
        if not res.skipped and res.rows_in:
            state["prev_rows"] = res.rows_in
        if mor:
            maybe_compact(
                lake, ledger,
                compact_factor=mor_compact_factor,
                tombstone_lag_batches=tombstone_lag_batches,
            )

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_tail_to_completion(spark, events_path, lake, ledger, checkpoint_dir, **kw) -> None:
    q = tail_events(spark, events_path, lake, ledger, checkpoint_dir, **kw)
    q.awaitTermination()
