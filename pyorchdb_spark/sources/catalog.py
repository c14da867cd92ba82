"""Batch-marker ledger + lineage metrics — the reference's EventController, reborn.

The reference persists ``catalog.csv`` (file name + timestamp) and diffs
it against the current listing to skip already-processed inputs
(PyOrchDB/utilities/catalog.py:50-109). The engine generalizes this to:

- **markers**: one JSON file per committed ``batch_id``
  (``_markers/{batch_id}.json``), published by atomic rename. The gate is
  an O(1) existence check on the driver (no Spark job), and the whole
  ledger is Spark-readable for the anti-join form of the gate (J1 in
  SURVEY.md section 2.3).
- **lineage**: an append-only parquet table of per-batch per-partition
  metrics (rows in/deduped/tombstones, max seq, merge outcome counts) —
  replacing the reference's per-directory log files
  (PyOrchDB/main.py:342-352).

Crash safety: markers are written *after* the lake-table manifest commit.
A crash in between re-runs the batch, which is a no-op because the merge
itself is idempotent (LWW-by-seq — SURVEY.md section 7, hard part 1).
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MARKER_SCHEMA = "batch_id string, version long, rows_in long, committed_at double"
LINEAGE_SCHEMA = (
    "batch_id string, partition_id int, rows_in long, tombstones long, "
    "max_seq long, min_seq long, committed_at double"
)


class BatchLedger:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.markers_dir = os.path.join(self.root, "_markers")
        self.lineage_dir = os.path.join(self.root, "_lineage")
        os.makedirs(self.markers_dir, exist_ok=True)
        os.makedirs(self.lineage_dir, exist_ok=True)

    # ---------- markers (exactly-once gate) ----------

    def is_committed(self, batch_id: str) -> bool:
        return os.path.exists(os.path.join(self.markers_dir, f"{batch_id}.json"))

    def commit_marker(self, batch_id: str, version: int, rows_in: int) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.markers_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(
                {
                    "batch_id": batch_id,
                    "version": version,
                    "rows_in": rows_in,
                    "committed_at": time.time(),
                },
                fh,
            )
        os.rename(tmp, os.path.join(self.markers_dir, f"{batch_id}.json"))

    def markers(self) -> DataFrame:
        """The ledger as a DataFrame (for the anti-join gate at scale)."""
        files = [
            os.path.join(self.markers_dir, f)
            for f in os.listdir(self.markers_dir)
            if f.endswith(".json")
        ]
        if not files:
            return self.spark.createDataFrame([], MARKER_SCHEMA)
        return self.spark.read.schema(MARKER_SCHEMA).json(files)

    def filter_uncommitted(self, events: DataFrame, batch_col: str = "batch_id") -> DataFrame:
        """J1: drop events of already-committed batches via broadcast anti-join.

        The marker table is small (one row per batch) → always broadcast;
        the event stream is never shuffled by this gate.
        """
        m = self.markers().select(F.col("batch_id").alias(batch_col)).distinct()
        return events.join(F.broadcast(m), on=batch_col, how="left_anti")

    # ---------- lineage ----------

    def collect_partition_metrics(self, source_events: DataFrame, invalid_reason=None) -> list:
        """One pass over the batch: per-partition rows/tombstones/max_seq
        (+ invalid count when a quarantine predicate is given). Collected
        driver-side — one tiny row per task.

        max_seq/min_seq/tombstones are computed over VALID rows only
        (``invalid_reason`` null): quarantined rows never merge, and a
        corrupt row with a garbage seq (e.g. 10^18) recorded into
        lineage would poison the tombstone-GC low-watermark — advancing
        it past every future legitimate event, mass-quarantining the
        whole stream. ``rows_in`` stays the total input count."""
        seq_col = "seq" if "seq" in source_events.columns else source_events.columns[0]
        if invalid_reason is not None:
            valid = invalid_reason.isNull()
            seq_valid = F.when(valid, F.col(seq_col))
            tomb = valid & (F.col("op") == "delete")
        else:
            seq_valid = F.col(seq_col)
            tomb = F.col("op") == "delete"
        aggs = [
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(tomb.cast("long")).alias("tombstones"),
            F.max(seq_valid).alias("max_seq"),
            F.min(seq_valid).alias("min_seq"),
        ]
        if invalid_reason is not None:
            aggs.append(F.sum(invalid_reason.isNotNull().cast("long")).alias("n_invalid"))
        return (
            source_events.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(*aggs)
            .collect()
        )

    def record_lineage(self, batch_id: str, metrics_rows: list) -> int:
        """Append per-partition ingest metrics (from collect_partition_metrics).

        Written driver-side with pyarrow — the rows are already collected
        (one per batch partition), so launching a Spark job to append a
        KB-sized file was pure per-batch fixed cost (VERDICT r2 #1). The
        file schema matches LINEAGE_SCHEMA exactly; ``lineage()`` reads
        the directory with that explicit schema, so driver- and
        Spark-written files interleave freely."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "batch_id": pa.array([batch_id] * len(metrics_rows), pa.string()),
                "partition_id": pa.array(
                    [int(r["partition_id"]) for r in metrics_rows], pa.int32()
                ),
                "rows_in": pa.array([int(r["rows_in"]) for r in metrics_rows], pa.int64()),
                "tombstones": pa.array(
                    [None if r["tombstones"] is None else int(r["tombstones"]) for r in metrics_rows],
                    pa.int64(),
                ),
                "max_seq": pa.array(
                    [None if r["max_seq"] is None else int(r["max_seq"]) for r in metrics_rows],
                    pa.int64(),
                ),
                "min_seq": pa.array(
                    [None if r["min_seq"] is None else int(r["min_seq"]) for r in metrics_rows],
                    pa.int64(),
                ),
                # durable commit ordinal: low_watermark() orders batches
                # by this, NOT by batch_id — id strings from different
                # feeders ('b%06d' replay vs 'stream-<sha>-<epoch>' tails)
                # do not interleave in time order lexicographically
                # (ADVICE r3 #1)
                "committed_at": pa.array([time.time()] * len(metrics_rows), pa.float64()),
            }
        )
        pq.write_table(
            tbl, os.path.join(self.lineage_dir, f"lineage-{uuid.uuid4().hex[:12]}.parquet")
        )
        return int(sum(r["rows_in"] for r in metrics_rows))

    def lineage(self) -> DataFrame:
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_dir)
        except Exception:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    def low_watermark(self, lag_batches: int = 1) -> int | None:
        """Ingest low-watermark: the seq below which no event can still
        arrive, derived from the lineage max/min-seq history.

        Contract (Kafka-compaction shape): an event may arrive at most
        ``lag_batches`` batches after the batch whose seq range covers it.
        The watermark is then the max_seq of the newest batch that is
        ``lag_batches`` behind the head — lowered further if a straggler
        already OBSERVED in the lag window undercuts it (auto-correcting
        for disorder worse than assumed). Tombstones with
        ``seq <= low_watermark()`` are GC-safe (``LakeTable.compact``),
        and the ingest path quarantines any arriving event at or below
        the table's recorded watermark so a GC'd tombstone can never be
        resurrected. Returns None while fewer than ``lag_batches + 1``
        batches have committed (retain everything).

        Batches are ordered by their durable commit ordinal
        (``committed_at``, recorded per lineage row; ties and legacy rows
        without it fall back to batch_id) — NOT by the id string alone:
        ids from different feeders ('b%06d' replay vs
        'stream-<sha12>-<epoch>' tails, or two streams with different
        checkpoint namespaces) interleave wrongly under a lexicographic
        sort, which could misidentify the head batches and derive a
        watermark far too high — GC'ing tombstones that stragglers could
        still resurrect (ADVICE r3 #1).

        One tiny agg over the lineage table (rows ∝ batches x partitions,
        collected as one row per batch) — driver metadata scale."""
        rows = sorted(
            self.lineage()
            .groupBy("batch_id")
            .agg(
                F.max("max_seq").alias("mx"),
                F.min("min_seq").alias("mn"),
                F.max("committed_at").alias("ct"),
            )
            .collect(),
            key=lambda r: (r["ct"] if r["ct"] is not None else float("-inf"), r["batch_id"]),
        )
        if len(rows) <= lag_batches:
            return None
        maxes = [r["mx"] for r in rows[: len(rows) - lag_batches] if r["mx"] is not None]
        if not maxes:
            return None
        w = max(maxes)
        lag_mins = [r["mn"] for r in rows[len(rows) - lag_batches:] if r["mn"] is not None]
        if lag_mins:
            w = min(w, min(lag_mins) - 1)
        return int(w)

    # ---------- quarantine (C3: error-row removal, reborn) ----------
    # The reference silently drops whole tables that fail processing
    # (PyOrchDB/main.py:144-149,300-309) and scrubs them from the catalog
    # (main.py:369-378). The engine quarantines *rows* instead: invalid
    # events are diverted to an append-only _rejects table with a reason,
    # so nothing is lost and reprocessing is possible.

    def record_rejects(self, batch_id: str, rejects: DataFrame) -> None:
        """Append invalid events (+ reject_reason) for this batch."""
        rejects_dir = os.path.join(self.root, "_rejects")
        rejects.withColumn("batch_id_rejected", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(rejects_dir)

    def rejects(self) -> DataFrame:
        rejects_dir = os.path.join(self.root, "_rejects")
        return self.spark.read.parquet(rejects_dir)
