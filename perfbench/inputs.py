"""Seeded change-event logs, written once per run and read by every pass.

``generator.change_events`` takes no seed, so the seed enters through a
shape-preserving transform of the generated log: ``repo`` and ``content``
are salted with a fixed-width token derived from the seed. Keys and
content sha256 values change with the seed; batch sizes, the duplicate
rate, the tombstone share, the repo skew and every row's byte length stay
the same.

Layout: ``batch_id=<id>/`` directories. The generator's id range is split
into ``splits`` partitions per batch, so each batch directory holds
``splits`` files plus one file of duplicate deliveries per split, written
without a shuffle. Every file of batch ``i`` is stamped with mtime
``T0 + 100 * i``: a file-source tail with ``maxFilesPerTrigger`` equal to
the files per batch then maps micro-batches 1:1 onto log batches, and a
batch replay scans each batch with ``splits`` parallel tasks.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyorchdb_spark.generator import change_events

_T0 = 1_700_000_000


@dataclass(frozen=True)
class LogShape:
    batches: int
    events_per_batch: int
    splits: int


@dataclass
class Log:
    path: str
    batch_ids: list[str]
    events: int  # rows, duplicate deliveries included
    bytes: int  # parquet bytes on disk
    files_per_batch: int


def seed_token(seed: int) -> str:
    return hashlib.sha256(f"perfbench:{seed}".encode()).hexdigest()[:8]


def seeded_events(spark: SparkSession, shape: LogShape, token: str) -> DataFrame:
    ev = change_events(
        spark,
        shape.batches * shape.events_per_batch,
        batch_size=shape.events_per_batch,
        num_partitions=shape.batches * shape.splits,
    )
    return ev.withColumn("repo", F.concat("repo", F.lit("-" + token))).withColumn(
        "content", F.concat(F.lit(f"# {token}\n"), "content")
    )


def write_log(spark: SparkSession, shape: LogShape, token: str, out: str) -> None:
    """Write the log; the same (shape, token) gives byte-identical files."""
    seeded_events(spark, shape, token).write.partitionBy("batch_id").parquet(out)
    for i, d in enumerate(sorted(x for x in os.listdir(out) if x.startswith("batch_id="))):
        for f in os.listdir(os.path.join(out, d)):
            os.utime(os.path.join(out, d, f), (_T0 + 100 * i,) * 2)


def load_log(spark: SparkSession, path: str) -> tuple[DataFrame, Log]:
    batch_ids, size, files = [], 0, set()
    for d in sorted(x for x in os.listdir(path) if x.startswith("batch_id=")):
        batch_ids.append(d.split("=", 1)[1])
        parts = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        files.add(len(parts))
        size += sum(os.path.getsize(os.path.join(path, d, f)) for f in parts)
    if len(files) != 1:
        raise RuntimeError(f"uneven log layout under {path}: files per batch {sorted(files)}")
    df = spark.read.parquet(path)
    return df, Log(path, batch_ids, df.count(), size, files.pop())
