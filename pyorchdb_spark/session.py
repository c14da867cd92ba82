"""SparkSession factory with scale-aware defaults.

Local mode stands in for a multi-executor cluster in this sandbox; every
knob below is chosen so the *same* code runs unchanged on a 1000-executor
cluster (AQE, adaptive skew join, Arrow batches sized for wide ``content``
strings).

PySpark's per-call origin capture is off: with
``spark.python.sql.dataFrameDebugging.enabled`` at its default, every
``pyspark.sql.functions`` call and DataFrame method walks the Python
stack and makes extra py4j round trips to record its call site: two
thirds of the round trips a commit made to build its plan (1,232 → 412
per clean commit, counted on the committing thread). The cost:
an analysis error no longer names the Python line that built the failing
expression. To get that back while debugging, pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
to the first ``build_session`` of the process (PySpark reads the setting
once, at the first call it wraps).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "pyorchdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the sandbox).
    ``shuffle_partitions`` defaults to the core count — on a real cluster
    you would set this to ~2-3x total executor cores and let AQE coalesce.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # Derive a sensible shuffle width from the parallelism in the master
    # string so local[8] vs local[32] bench runs scale their shuffles too.
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        elif master.startswith("local-cluster[") and master.endswith("]"):
            # local-cluster[nExecutors,coresPerExecutor,memMB] — the
            # multi-JVM cluster emulation used by the N-vs-4N-executors
            # scaling gate; width scales with TOTAL executor cores, the
            # same rule a real cluster submit would use.
            parts = master[len("local-cluster["):-1].split(",")
            shuffle_partitions = max(int(parts[0]) * int(parts[1]), 4)
        else:
            shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # AQE: runtime coalesce + skew-join splitting; the safety net under
        # our explicit salting (SURVEY.md section 4 item 1).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF; content strings are up to ~4 KiB so
        # cap records/batch to keep Arrow batches ~64 MiB.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # no Python call-site capture per API call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # off by default (headless sandbox); SPARK_GRAFT_UI=true enables
        # the REST status API for shuffle-byte accounting in bench runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # stderr progress bars corrupt captured bench/driver output
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Files: 128 MiB split targets — same default a real cluster uses.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def aqe_off(spark: SparkSession) -> Iterator[None]:
    """Run the block with adaptive query execution off, then restore the
    session's setting. For fixed-shape plans (one user-specified
    repartition, no joins) AQE cannot improve the plan, but it runs each
    exchange as its own job: a clean commit is 2 jobs under AQE and 1
    without. Session-scoped conf: the engine runs no concurrent queries
    inside one such block (the ledger's single-writer contract)."""
    conf = spark.conf
    prev = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", prev)
