"""Batch ledger + lineage metrics — the reference's EventController, reborn.

The reference persists ``catalog.csv`` (file name + timestamp) and diffs
it against the current listing to skip already-processed inputs
(PyOrchDB/utilities/catalog.py:50-109). The engine generalizes this to a
per-batch record — batch id, rows in and rejected, lineage metrics, the
rejects directory — replacing the reference's per-directory log files
(PyOrchDB/main.py:342-352).

The record rides the manifest version its commit publishes
(``LakeTable.merge(record=...)``), so one ``os.link`` is the only commit
point (the Delta Lake ``txnAppId``/``txnVersion`` shape): a crash before
it leaves orphan files that ``LakeTable.vacuum`` removes, and the batch
uncommitted. The ledger is a driver-side view over ``_manifests/``,
ordered by manifest version; it runs no Spark job.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyorchdb_spark.sources.lake import read_batch_records

MARKER_SCHEMA = "batch_id string, version long, rows_in long"
LINEAGE_KEYS = ("partition_id", "rows_in", "tombstones", "max_seq", "min_seq")
LINEAGE_SCHEMA = (
    "batch_id string, partition_id int, rows_in long, tombstones long, "
    "max_seq long, min_seq long"
)


class BatchLedger:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        # {batch_id: record}, filled from the manifest versions above
        # _read_upto on each refresh — never a re-read of every version
        self._records: dict[str, dict] = {}
        self._read_upto = 0

    def _refresh(self):
        """Committed batch records, in commit (manifest version) order:
        records arrive in version order, and a dict keeps insertion order."""
        records, self._read_upto = read_batch_records(self.root, self._read_upto)
        for r in records:
            # a batch committed twice (a pre-ledger table's re-apply, a
            # repeated direct merge) keeps its first commit
            self._records.setdefault(r["batch_id"], r)
        return self._records.values()

    # ---------- exactly-once gate ----------

    def is_committed(self, batch_id: str) -> bool:
        self._refresh()
        return batch_id in self._records

    def commit_marker(self, batch_id: str, version: int, rows_in: int) -> None:
        # kept only because perfbench/probes.py TRACED_CALLS resolves it
        raise NotImplementedError("batches commit through the manifest; see LakeTable.merge(record=)")

    def markers(self) -> DataFrame:
        """The ledger as a DataFrame (for the anti-join gate at scale)."""
        return self.spark.createDataFrame(
            [(r["batch_id"], r["version"], r.get("rows_in")) for r in self._refresh()],
            MARKER_SCHEMA,
        )

    def filter_uncommitted(self, events: DataFrame, batch_col: str = "batch_id") -> DataFrame:
        """J1: drop events of already-committed batches via broadcast anti-join.

        The marker table is small (one row per batch) → always broadcast;
        the event stream is never shuffled by this gate.
        """
        m = self.markers().select(F.col("batch_id").alias(batch_col)).distinct()
        return events.join(F.broadcast(m), on=batch_col, how="left_anti")

    # ---------- lineage ----------

    def collect_partition_metrics(self, source_events: DataFrame, invalid_reason) -> list:
        """One pass over the batch: per-partition rows/tombstones/min-max
        seq + invalid count under the quarantine predicate. Collected
        driver-side — one tiny row per task.

        max_seq/min_seq/tombstones are computed over VALID rows only
        (``invalid_reason`` null): quarantined rows never merge, and a
        corrupt row with a garbage seq (e.g. 10^18) recorded into
        lineage would poison the tombstone-GC low-watermark — advancing
        it past every future legitimate event, mass-quarantining the
        whole stream. ``rows_in`` stays the total input count."""
        valid = invalid_reason.isNull()
        seq_valid = F.when(valid, F.col("seq"))
        return (
            source_events.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("rows_in"),
                F.sum((valid & (F.col("op") == "delete")).cast("long")).alias("tombstones"),
                F.max(seq_valid).alias("max_seq"),
                F.min(seq_valid).alias("min_seq"),
                F.sum((~valid).cast("long")).alias("n_invalid"),
            )
            .collect()
        )

    def record_lineage(self, batch_id: str, metrics_rows: list, rows_rejected: int, rejects: str | None) -> dict:
        """The batch record for the manifest (``LakeTable.merge(record=)``)
        from the collected per-partition metrics (``collect_partition_metrics``
        or the apply's ``Observation``). Pure: writes nothing."""
        lineage = [{k: r[k] for k in LINEAGE_KEYS} for r in metrics_rows]
        return {
            "batch_id": batch_id,
            "rows_in": sum(r["rows_in"] for r in lineage),
            "rows_rejected": rows_rejected,
            "lineage": lineage,
            "rejects": rejects,
        }

    def lineage(self) -> DataFrame:
        return self.spark.createDataFrame(
            [
                (r["batch_id"], *(p[k] for k in LINEAGE_KEYS))
                for r in self._refresh()
                for p in r.get("lineage", [])
            ],
            LINEAGE_SCHEMA,
        )

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

        Batches (those with lineage) are ordered by the manifest version
        that committed them, NOT by id: ids from different feeders
        ('b%06d' replay vs 'stream-<sha12>-<epoch>' tails) do not sort in
        time order, and a misidentified head derives a watermark too high
        (ADVICE r3 #1). Driver-side arithmetic over the records."""
        batches = [r["lineage"] for r in self._refresh() if r.get("lineage")]
        cut = len(batches) - lag_batches
        maxes = [p["max_seq"] for lin in batches[:cut] for p in lin if p["max_seq"] is not None]
        if cut <= 0 or not maxes:
            return None
        lag_mins = [p["min_seq"] - 1 for lin in batches[cut:] for p in lin if p["min_seq"] is not None]
        return int(min([max(maxes), *lag_mins]))

    # ---------- quarantine (C3: error-row removal, reborn) ----------
    # The reference silently drops whole tables that fail processing
    # (PyOrchDB/main.py:144-149,300-309) and scrubs them from the catalog
    # (main.py:369-378). The engine quarantines *rows* instead: invalid
    # events are diverted to a _rejects side table with a reason, so
    # nothing is lost and reprocessing is possible.

    def record_rejects(self, batch_id: str, rejects: DataFrame) -> str:
        """Write one commit attempt's invalid events (+ reject_reason) to
        their own ``_rejects/<attempt>`` directory, before the manifest
        link; returns the path the batch record names."""
        rel = f"_rejects/{uuid.uuid4().hex[:12]}"
        rejects.withColumn("batch_id_rejected", F.lit(batch_id)).write.mode("error").parquet(
            os.path.join(self.root, rel)
        )
        return rel

    def rejects(self) -> DataFrame:
        """Rejected rows of committed batches: only the directories their
        records name, so a failed attempt's rows never show."""
        paths = [os.path.join(self.root, r["rejects"]) for r in self._refresh() if r.get("rejects")]
        return self.spark.read.parquet(*paths) if paths else self.spark.createDataFrame([], StructType())
