"""The batch ledger is a view over the lake manifests (sources/catalog.py).

Each batch's record rides the manifest version its commit publishes, so
one ``os.link`` is the only commit point. These tests fail the commit at
every step that remains, pin that reading the ledger runs no Spark job,
and that batch history survives ``vacuum``.
"""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from pyorchdb_spark.generator import change_events
from pyorchdb_spark.ingest import prepare_events, replay
from pyorchdb_spark.oracle import expected_final_state, state_signature
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import ConcurrentCommitError, LakeTable, Manifest, read_batch_records
from pyorchdb_spark.streaming.tail import EVENT_SCHEMA_DDL

BATCHES = ["b000000", "b000001", "b000002"]
REASONS = ["null_or_empty_key", "null_seq", "unknown_op"]


def _sig(df):
    return {tuple(r) for r in df.select("repo", "path", "content_sha256").fillna("<null>").collect()}


def _log(spark):
    """A 3-batch log whose middle batch carries three hostile rows, and
    the oracle's signature over its valid rows."""
    ev = change_events(spark, 1_500, batch_size=500)
    ts = ev.first()["ts"]
    real = ev.filter(F.col("batch_id") == "b000001").orderBy("repo", "path").first()
    hostile = spark.createDataFrame(
        [
            ("", "empty_repo.py", "h1", 10**12, "upsert", "py", "x", "b000001", ts, None),
            ("r", "noseq.py", "h2", None, "upsert", "py", "x", "b000001", ts, None),
            # an unknown op on a real key with the highest seq must never
            # shadow that key's winner
            (real.repo, real.path, "h3", 10**12, "upsrt", "py", "x", "b000001", ts, None),
        ],
        EVENT_SCHEMA_DDL,
    )
    oracle = state_signature(expected_final_state(prepare_events(ev).drop("content_sha256").toPandas()))
    return ev.unionByName(hostile), ev.count() + 3, oracle


def _orphans(lake):
    """Data files no manifest names, and reject directories no record names."""
    named = set()
    for v in range(1, lake.current_version() + 1):
        named |= {f["path"] for f in lake.manifest(v).files}
    data = {
        os.path.relpath(os.path.join(d, f), lake.root)
        for d, _, files in os.walk(os.path.join(lake.root, "data"))
        for f in files
        if f.endswith(".parquet")
    }
    rej_root = os.path.join(lake.root, "_rejects")
    rej = {f"_rejects/{d}" for d in os.listdir(rej_root)} if os.path.isdir(rej_root) else set()
    rej_named = {r["rejects"] for r in read_batch_records(lake.root)[0] if r.get("rejects")}
    return (data - named) | (rej - rej_named)


def _crash(self, *a, **k):
    raise RuntimeError("crash")


def _crash_after(orig):
    def publish(self, manifest):
        orig(self, manifest)
        raise RuntimeError("crash")

    return publish


@pytest.mark.parametrize(
    "step", ["after_data_before_rejects", "after_rejects_before_link", "after_link_before_return"]
)
def test_crash_at_every_commit_step_applies_each_batch_once(spark, tmp_path, monkeypatch, step):
    log, n_rows, oracle = _log(spark)
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    replay(lake, ledger, log.filter(F.col("batch_id") == "b000000"), num_files=2)

    with monkeypatch.context() as mp:
        if step == "after_data_before_rejects":
            mp.setattr(BatchLedger, "record_rejects", _crash)
        elif step == "after_rejects_before_link":
            mp.setattr(LakeTable, "_publish", _crash)
        else:
            mp.setattr(LakeTable, "_publish", _crash_after(LakeTable._publish))
        # the crash hits b000001, the batch with rejects
        with pytest.raises(RuntimeError, match="crash"):
            replay(lake, ledger, log.filter(F.col("batch_id") != "b000000"), num_files=2)

    # restart: fresh table and ledger objects, the whole log re-delivered
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    res = replay(lake, ledger, log, num_files=2)
    linked = step == "after_link_before_return"
    assert [r.skipped for r in res] == [True, linked, False]

    assert _sig(lake.snapshot()) == oracle
    marks = ledger.markers().collect()
    assert sorted(r["batch_id"] for r in marks) == BATCHES
    lin = ledger.lineage()
    assert sorted(r["batch_id"] for r in lin.collect()) == BATCHES
    assert lin.agg(F.sum("rows_in")).first()[0] == n_rows
    rej = ledger.rejects().collect()
    assert sorted(r["reject_reason"] for r in rej) == REASONS
    assert {r["batch_id_rejected"] for r in rej} == {"b000001"}

    for v in range(1, lake.current_version() + 1):
        assert all(os.path.exists(os.path.join(root, f["path"])) for f in lake.manifest(v).files)
    orphans = _orphans(lake)
    assert bool(orphans) == (not linked)
    if step == "after_rejects_before_link":
        assert any(p.startswith("_rejects/") for p in orphans)
    # keep every version: vacuum removes exactly the failed attempt's files
    assert set(lake.vacuum(keep_versions=lake.current_version())) == orphans
    assert not _orphans(lake)
    assert _sig(lake.snapshot()) == oracle
    assert sorted(r["reject_reason"] for r in ledger.rejects().collect()) == REASONS


def test_losing_writer_removes_its_data_files_and_rejects(spark, tmp_path, monkeypatch):
    log, _, oracle = _log(spark)
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    replay(lake, ledger, log.filter(F.col("batch_id") == "b000000"), num_files=2)
    publish = LakeTable._publish
    lost = []

    def lose_race(self, manifest):
        # another writer links this version first: an empty commit over the head
        head = self.manifest()
        rival = dataclasses.replace(head, version=head.version + 1, parent=head.version, batch_id=None, batch=None)
        publish(self, rival)
        lost.extend(f["path"] for f in manifest.files if f not in head.files)
        publish(self, manifest)

    with monkeypatch.context() as mp:
        mp.setattr(LakeTable, "_publish", lose_race)
        with pytest.raises(ConcurrentCommitError):
            replay(lake, ledger, log.filter(F.col("batch_id") == "b000001"), num_files=2)
    assert not _orphans(lake)
    assert os.listdir(os.path.join(root, "_rejects")) == []
    # the loser's attempt directories go whole, checksums and markers included
    loser_dirs = {p.split("/")[1] for p in lost}
    assert loser_dirs and not loser_dirs & set(os.listdir(os.path.join(root, "data")))

    res = replay(LakeTable(spark, root), BatchLedger(spark, root), log, num_files=2)
    assert [r.skipped for r in res] == [True, False, False]
    assert _sig(lake.snapshot()) == oracle
    assert sorted(r["reject_reason"] for r in ledger.rejects().collect()) == REASONS


def test_ledger_reads_run_no_spark_job_and_create_no_directories(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    replay(lake, ledger, change_events(spark, 1_500, batch_size=500), num_files=2)
    assert not any(os.path.exists(os.path.join(root, d)) for d in ("_markers", "_lineage"))

    def job_counter():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    for led in (ledger, BatchLedger(spark, root)):  # warm index and cold start
        before = job_counter()
        assert led.is_committed("b000002") and not led.is_committed("b000003")
        assert led.low_watermark(lag_batches=1) is not None
        led.lineage()
        led.markers()
        assert job_counter() == before
    with monkeypatch.context() as mp:
        mp.setattr(os, "listdir", _crash)  # a warm gate probes new versions, it lists nothing
        assert ledger.is_committed("b000002") and not ledger.is_committed("b000003")


def test_vacuum_keeps_batch_history(spark, tmp_path):
    log, _, oracle = _log(spark)
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    replay(lake, ledger, log.filter(F.col("batch_id") == "b000000"), num_files=2)
    stale = BatchLedger(spark, root)
    assert stale.is_committed("b000000")  # its index stops at version 1
    replay(lake, ledger, log, num_files=2)

    def lineage_rows(led):
        return sorted(tuple(r) for r in led.lineage().collect())

    def reject_rows(led):
        return sorted((r["path"], r["reject_reason"]) for r in led.rejects().collect())

    lin, wm, rej = lineage_rows(ledger), ledger.low_watermark(lag_batches=1), reject_rows(ledger)
    assert wm is not None and len(rej) == 3

    lake.vacuum(keep_versions=1)
    names = sorted(os.listdir(os.path.join(root, "_manifests")))
    assert names == ["batches-v00000002.json", "v00000003.json"]

    for led in (BatchLedger(spark, root), stale, ledger):
        assert lineage_rows(led) == lin
        assert led.low_watermark(lag_batches=1) == wm
        assert reject_rows(led) == rej
    res = replay(LakeTable(spark, root), BatchLedger(spark, root), log, num_files=2)
    assert all(r.skipped for r in res) and len(res) == 3
    assert _sig(lake.snapshot()) == oracle

    # a second vacuum's archive subsumes the first
    replay(lake, ledger, log.withColumn("batch_id", F.lit("b000003")).filter(F.col("seq").between(1_400, 1_499)))
    lake.vacuum(keep_versions=1)
    assert sorted(os.listdir(os.path.join(root, "_manifests"))) == [
        "batches-v00000003.json", "v00000004.json"
    ]
    assert [r["batch_id"] for r in BatchLedger(spark, root).markers().orderBy("version").collect()] == [
        *BATCHES, "b000003"
    ]


def test_vacuum_leaves_no_orphan_directories_or_checksums(spark, tmp_path):
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    replay(lake, ledger, change_events(spark, 2_000, batch_size=500), num_files=2, mor_compact_factor=2)
    assert any(
        str(lake.manifest(v).batch_id).startswith("compact") for v in range(1, lake.current_version() + 1)
    )
    before = lake.snapshot().count()
    lake.vacuum(keep_versions=1)

    head = [f["path"] for f in lake.manifest().files]
    for d, dirs, files in os.walk(os.path.join(root, "data")):
        for sub in dirs:
            rel = os.path.relpath(os.path.join(d, sub), root)
            assert any(p.startswith(rel + "/") for p in head), rel
        for f in files:
            if f.endswith(".crc"):
                assert os.path.exists(os.path.join(d, f[1:-len(".crc")])), os.path.join(d, f)
    assert lake.snapshot().count() == before


def test_head_lookup_probes_instead_of_listing_manifests(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    ev = change_events(spark, 1_500, batch_size=500)
    replay(lake, ledger, ev.filter(F.col("batch_id") == "b000000"), num_files=2)
    mdir = os.path.join(lake.root, "_manifests")
    listed = []
    listdir = os.listdir

    def counting_listdir(path="."):
        if os.path.abspath(os.fspath(path)) == mdir:
            listed.append(path)
        return listdir(path)

    monkeypatch.setattr(os, "listdir", counting_listdir)
    # and the lake parses no head manifest: each one it works on (apply,
    # compaction check, compaction, the next apply) is one it published
    parsed = []
    from_json = Manifest.from_json
    monkeypatch.setattr(Manifest, "from_json", lambda text: parsed.append(1) or from_json(text))
    replay(lake, ledger, ev, num_files=2, mor_compact_factor=2)
    assert lake.manifest().batch_id.startswith("compact")
    assert listed == []
    assert parsed == []
