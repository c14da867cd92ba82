"""C3 — invalid events are quarantined to _rejects, not silently dropped
(nor allowed to corrupt state)."""

from __future__ import annotations

from pyorchdb_spark.ingest import apply_batch
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import LakeTable

DDL = "repo string, path string, commit string, seq long, op string, lang string, content string, batch_id string"


def test_invalid_rows_quarantined(spark, tmp_path):
    root = str(tmp_path / "q")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    rows = [
        ("r", "ok.py", "c1", 1, "upsert", "python", "good", "b0"),
        (None, "nokey.py", "c2", 2, "upsert", "python", "x", "b0"),
        ("r", "", "c3", 3, "upsert", "python", "x", "b0"),
        ("r", "noseq.py", "c4", None, "upsert", "python", "x", "b0"),
        ("r", "badop.py", "c5", 5, "truncate", "python", "x", "b0"),
    ]
    res = apply_batch(lake, ledger, spark.createDataFrame(rows, DDL), "b0", num_files=1)
    assert res.rows_rejected == 4
    assert res.rows_in == 5  # lineage records raw input; rejects tracked apart

    snap = lake.snapshot()
    assert [r["path"] for r in snap.collect()] == ["ok.py"]

    rej = ledger.rejects()
    reasons = {r["path"]: r["reject_reason"] for r in rej.collect()}
    assert reasons[""] == "null_or_empty_key"
    assert reasons["nokey.py"] == "null_or_empty_key"
    assert reasons["noseq.py"] == "null_seq"
    assert reasons["badop.py"] == "unknown_op"
    assert {r["batch_id_rejected"] for r in rej.collect()} == {"b0"}


def test_clean_batch_writes_no_rejects(spark, tmp_path):
    root = str(tmp_path / "clean")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    rows = [("r", "a.py", "c1", 1, "upsert", "python", "x", "b0")]
    res = apply_batch(lake, ledger, spark.createDataFrame(rows, DDL), "b0", num_files=1)
    assert res.rows_rejected == 0
    import os

    assert not os.path.exists(os.path.join(root, "_rejects"))


def test_quarantined_seq_does_not_poison_watermark(spark, tmp_path):
    """Code-review r3 finding: a rejected row's garbage seq must not
    enter lineage max/min_seq — it would advance the tombstone-GC
    low-watermark past every future legitimate event and mass-quarantine
    the stream."""
    from pyspark.sql import functions as F

    from pyorchdb_spark.generator import change_events
    from pyorchdb_spark.ingest import replay
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import LakeTable

    ev = change_events(spark, 2_000, batch_size=1_000)
    poison = ev.limit(1).select(
        F.lit("repo_0").alias("repo"), F.lit("poison.py").alias("path"),
        F.lit("c").alias("commit"), F.lit(10**15).cast("long").alias("seq"),
        F.lit("upsrt").alias("op"),  # unknown op -> quarantined
        F.lit("py").alias("lang"), F.lit("x").alias("content"),
        F.lit("b000000").alias("batch_id"), F.current_timestamp().alias("ts"),
        F.lit(None).cast("string").alias("lang_variant"),
    )
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    res = replay(lake, ledger, ev.unionByName(poison), num_files=2)
    assert res[0].rows_rejected == 1

    # lineage never saw the poison seq; watermark stays at real max
    lin_max = ledger.lineage().agg(F.max("max_seq")).first()[0]
    assert lin_max < 10**15
    wm = ledger.low_watermark(lag_batches=1)
    assert wm is not None and wm < 10**15

    # a later legitimate event still merges (would be quarantined if the
    # watermark had been poisoned and recorded via a compaction)
    lake.compact(tombstone_watermark_seq=wm)
    assert lake.manifest().tombstone_watermark == wm
    late = ev.limit(1).select(
        F.lit("repo_0").alias("repo"), F.lit("fresh.py").alias("path"),
        F.lit("c2").alias("commit"), F.lit(wm + 10).cast("long").alias("seq"),
        F.lit("upsert").alias("op"), F.lit("py").alias("lang"),
        F.lit("fresh content").alias("content"), F.lit("zfresh").alias("batch_id"),
        F.current_timestamp().alias("ts"), F.lit(None).cast("string").alias("lang_variant"),
    )
    res2 = replay(lake, ledger, late, num_files=2)
    assert res2[0].rows_rejected == 0
    assert lake.snapshot().filter(F.col("path") == "fresh.py").count() == 1


def test_null_path_and_null_content_delete_survive_prepare(spark, tmp_path):
    """The ICU NFC call in prepare is null-guarded: a null path and a
    null-content delete reach the apply without an NPE, and the null path
    is quarantined like any missing key."""
    root = str(tmp_path / "nulls")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    rows = [
        ("r", "a.py", "c1", 1, "upsert", "python", "x", "b0"),
        ("r", None, "c2", 2, "upsert", "python", "y", "b0"),
        ("r", "b.py", "c3", 3, "upsert", "python", "z", "b0"),
        ("r", "b.py", "c4", 4, "delete", "python", None, "b0"),
    ]
    res = apply_batch(lake, ledger, spark.createDataFrame(rows, DDL), "b0", num_files=1)
    assert res.rows_rejected == 1
    assert [r["path"] for r in lake.snapshot().collect()] == ["a.py"]
    rej = ledger.rejects().collect()
    assert [(r["path"], r["reject_reason"]) for r in rej] == [(None, "null_or_empty_key")]
