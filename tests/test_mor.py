"""Merge-on-read delta commits (sources/lake.py ``LakeTable.merge``).

MoR is the scale-correct write path when batch keys disperse across most
buckets: a delta commit writes bytes proportional to the BATCH, never the
table, and reads resolve LWW across base+delta until compaction. These
tests pin state-equality with the replay oracle, idempotency,
out-of-order delete protection, schema evolution, and the replay
self-compaction policy.
"""

from __future__ import annotations

import os
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyorchdb_spark.generator import change_events
from pyorchdb_spark.ingest import prepare_events, replay
from pyorchdb_spark.oracle import expected_final_state, state_signature
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import RETAIN_ALL_TOMBSTONES, LakeTable


def _sig(df):
    rows = df.select("repo", "path", "content_sha256").fillna("<null>").collect()
    return {tuple(r) for r in rows}


def _oracle_sig(ev):
    exp = expected_final_state(prepare_events(ev).drop("content_sha256").toPandas())
    return state_signature(exp)


def test_mor_replay_matches_oracle(spark, tmp_path):
    ev = change_events(spark, 4_000, batch_size=1_000)

    mor_root = str(tmp_path / "mor")
    lake_mor = LakeTable(spark, mor_root)
    replay(lake_mor, BatchLedger(spark, mor_root), ev, num_files=4)

    assert _sig(lake_mor.snapshot()) == _oracle_sig(ev)
    # batches 2..4 landed as deltas; base files from batch 1 untouched
    m = lake_mor.manifest()
    assert any(f.get("delta") for f in m.files)

    # compaction folds deltas to base; state unchanged
    sig_before = _sig(lake_mor.snapshot())
    lake_mor.compact(tombstone_watermark_seq=RETAIN_ALL_TOMBSTONES)
    m2 = lake_mor.manifest()
    assert not any(f.get("delta") for f in m2.files)
    assert _sig(lake_mor.snapshot()) == sig_before
    # RETAIN_ALL keeps tombstones (late-event protection persists)
    assert (
        lake_mor.snapshot(include_tombstones=True).filter(F.col("op") == "delete").count() > 0
    )


def test_mor_delta_write_proportional_to_batch(spark, tmp_path):
    """The point of MoR: a later commit's new bytes scale with the batch,
    not the table — no base file is rewritten."""
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    ev = change_events(spark, 4_000, batch_size=2_000)
    replay(lake, ledger, ev, num_files=8)

    m = lake.manifest()
    base = [f for f in m.files if not f.get("delta")]
    delta = [f for f in m.files if f.get("delta")]
    assert base and delta
    # every base file path is still the batch-1 commit's path (untouched)
    assert all(f["path"].split("/")[1].startswith("commit-00000001") for f in base)
    # delta rows ~ batch-2 LWW winners, far below table rows
    assert sum(f["rows"] for f in delta) <= 2_200  # one 2k-event batch (incl. dups)


def test_mor_idempotent_and_out_of_order_delete(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    ev = change_events(spark, 2_000, batch_size=1_000)
    last = "b000001"
    replay(lake, ledger, ev.filter(F.col("batch_id") != last), num_files=2)

    # crash inside the last batch's delta commit, before the manifest
    # link: its delta files are orphans no version names, and the retry
    # applies the batch once
    def crash(self, manifest):
        raise RuntimeError("crash before the link")

    with monkeypatch.context() as mp:
        mp.setattr(LakeTable, "_publish", crash)
        with pytest.raises(RuntimeError, match="crash before the link"):
            replay(lake, ledger, ev.filter(F.col("batch_id") == last), num_files=2)
    res = replay(lake, ledger, ev, num_files=2)
    assert [r.skipped for r in res] == [True, False]
    sig1 = _sig(lake.snapshot())
    assert sig1 == _oracle_sig(ev)
    # a batch merged twice (a table whose batches predate the manifest
    # record re-applies them) appends a duplicate delta; LWW resolution
    # makes it a logical no-op
    lake.merge(prepare_events(ev.filter(F.col("batch_id") == last)))
    assert _sig(lake.snapshot()) == sig1

    # out-of-order late upsert below an applied delete's seq stays dead.
    # Pick a key whose FINAL state is a tombstone (post-LWW resolve).
    dead = lake.snapshot(include_tombstones=True).filter(F.col("op") == "delete").first()
    late = ev.limit(1).select(
        F.lit(dead.repo).alias("repo"),
        F.lit(dead.path).alias("path"),
        F.lit("latecommit").alias("commit"),
        F.lit(dead.seq - 1).cast("long").alias("seq"),
        F.lit("upsert").alias("op"),
        F.lit(dead.lang).alias("lang"),
        F.lit("resurrect attempt").alias("content"),
        F.lit("late").alias("batch_id"),
        F.current_timestamp().alias("ts"),
        F.lit(None).cast("string").alias("lang_variant"),
    )
    replay(lake, ledger, late, num_files=2)
    live = lake.snapshot().filter((F.col("repo") == dead.repo) & (F.col("path") == dead.path))
    assert live.count() == 0


def test_mor_schema_evolution_and_self_compaction(spark, tmp_path):
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    ev = change_events(spark, 6_000, batch_size=1_000, evolution_batch=3)
    # compact after every 2 delta commits
    replay(lake, ledger, ev, num_files=4, mor_compact_factor=2)

    m = lake.manifest()
    delta_commits = len({f["path"].split("/")[1] for f in m.files if f.get("delta")})
    assert delta_commits < 2  # policy kept the delta backlog bounded

    # evolved column visible and populated for late batches only
    snap = lake.snapshot()
    assert "lang_variant" in snap.columns
    assert snap.filter(F.col("lang_variant").isNotNull()).count() > 0

    # full-state parity with the replay oracle over the same log
    assert _sig(lake.snapshot()) == _oracle_sig(ev)


def _one_event(ev, repo, path, seq, op, content, batch_id, lang="py"):
    return ev.limit(1).select(
        F.lit(repo).alias("repo"),
        F.lit(path).alias("path"),
        F.lit(f"c{seq}").alias("commit"),
        F.lit(seq).cast("long").alias("seq"),
        F.lit(op).alias("op"),
        F.lit(lang).alias("lang"),
        F.lit(content).alias("content"),
        F.lit(batch_id).alias("batch_id"),
        F.current_timestamp().alias("ts"),
        F.lit(None).cast("string").alias("lang_variant"),
    )


def test_tombstone_gc_watermark_drops_dead_keys_and_blocks_stragglers(spark, tmp_path):
    """VERDICT r2 #4: with an opt-in disorder contract
    (tombstone_lag_batches), compaction derives a low-watermark from the
    lineage history and PHYSICALLY drops tombstones at or below it; an
    out-of-order upsert below the recorded watermark is quarantined
    (below_watermark), so the vanished tombstone can never be
    resurrected."""
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    ev = change_events(spark, 2_000, batch_size=1_000)
    # mor_compact_factor=1 -> compact after every delta commit;
    # lag=1 -> watermark trails the head batch by one
    replay(lake, ledger, ev, num_files=2, mor_compact_factor=1,
           tombstone_lag_batches=1)

    m = lake.manifest()
    assert m.tombstone_watermark is not None
    wm = m.tombstone_watermark
    lw = ledger.low_watermark(lag_batches=1)
    assert lw == wm

    # every tombstone at or below the watermark is physically gone
    stored = lake.snapshot(include_tombstones=True)
    assert stored.filter((F.col("op") == "delete") & (F.col("seq") <= wm)).count() == 0
    # the GC actually dropped something: the un-gated replay keeps them
    root2 = str(tmp_path / "ref")
    lake2, ledger2 = LakeTable(spark, root2), BatchLedger(spark, root2)
    replay(lake2, ledger2, ev, num_files=2, mor_compact_factor=1)
    kept = (
        lake2.snapshot(include_tombstones=True)
        .filter((F.col("op") == "delete") & (F.col("seq") <= wm))
        .count()
    )
    assert kept > 0
    # live state identical with and without GC (GC only removes markers)
    assert _sig(lake.snapshot()) == _sig(lake2.snapshot())

    # pick a key deleted at seq <= wm in the reference table; its
    # tombstone is GC'd in `lake`. A straggler upsert BELOW the watermark
    # must be quarantined, not merged.
    dead = (
        lake2.snapshot(include_tombstones=True)
        .filter((F.col("op") == "delete") & (F.col("seq") <= wm))
        .first()
    )
    late = _one_event(ev, dead.repo, dead.path, max(dead.seq - 1, 0), "upsert",
                      "resurrect attempt", "zlate", lang=dead.lang)
    res = replay(lake, ledger, late, num_files=2)
    assert res[0].rows_rejected == 1
    live = lake.snapshot().filter(
        (F.col("repo") == dead.repo) & (F.col("path") == dead.path)
    )
    assert live.count() == 0  # not resurrected
    reasons = {r["reject_reason"] for r in ledger.rejects().collect()}
    assert "below_watermark" in reasons

    # an event ABOVE the watermark for the same key merges normally
    fresh = _one_event(ev, dead.repo, dead.path, wm + 10_000, "upsert",
                       "legit recreate", "zfresh", lang=dead.lang)
    replay(lake, ledger, fresh, num_files=2)
    assert lake.snapshot().filter(
        (F.col("repo") == dead.repo) & (F.col("path") == dead.path)
    ).count() == 1


def test_low_watermark_derivation(spark, tmp_path):
    """low_watermark = max_seq of the batch lag_batches behind the head,
    lowered by any observed straggler in the lag window; None until
    enough batches committed."""
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    assert ledger.low_watermark() is None

    ev = change_events(spark, 3_000, batch_size=1_000)
    replay(lake, ledger, ev, num_files=2)
    lin = ledger.lineage().groupBy("batch_id").agg(
        F.max("max_seq").alias("mx"), F.min("min_seq").alias("mn")
    ).collect()
    by_batch = {r["batch_id"]: r for r in lin}
    batches = sorted(by_batch)
    assert len(batches) == 3

    expected = max(by_batch[b]["mx"] for b in batches[:-1])
    head_min = by_batch[batches[-1]]["mn"]
    if head_min is not None:
        expected = min(expected, head_min - 1)
    assert ledger.low_watermark(lag_batches=1) == expected
    assert ledger.low_watermark(lag_batches=3) is None


def test_partial_compaction_rewrites_only_hot_groups(spark, tmp_path):
    """VERDICT r2 #5: compact_partial folds only bucket groups whose
    delta backlog exceeds the bounds; cold base files keep their paths
    BYTE-identically, and resolved state matches a full compaction."""
    import hashlib

    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    ev = change_events(spark, 4_000, batch_size=4_000)
    replay(lake, ledger, ev, num_files=8)  # base at 8 buckets
    m0 = lake.manifest()
    sig_full = _sig(lake.snapshot())

    # a tiny delta touching exactly ONE existing key -> one hot group
    one = lake.snapshot().orderBy("repo", "path").limit(1).collect()[0]
    from pyorchdb_spark.ingest import apply_batch

    apply_batch(lake, ledger, _one_event(ev, one.repo, one.path, 10_000_000,
                                         "upsert", "hot!", "zhot", lang=one.lang),
                "zhot")
    m1 = lake.manifest()
    delta_files = [f for f in m1.files if f.get("delta")]
    assert delta_files
    hot_buckets = {f["bucket"] % 8 for f in delta_files}

    def sha(relpath):
        with open(os.path.join(root, relpath), "rb") as fh:
            return hashlib.sha256(fh.read()).hexdigest()

    cold_before = {
        f["path"]: sha(f["path"])
        for f in m1.files
        if not f.get("delta") and f["bucket"] % 8 not in hot_buckets
    }

    # delta_fraction=0: any group with a delta exceeds -> the hot group
    # is selected while delta-free groups stay untouched
    m2 = lake.compact_partial(
        delta_fraction=0.0, tombstone_watermark_seq=RETAIN_ALL_TOMBSTONES
    )
    assert m2.version == m1.version + 1
    assert not any(f.get("delta") for f in m2.files)  # hot group folded
    # cold base files: same paths, same bytes
    paths_after = {f["path"] for f in m2.files}
    for p, h in cold_before.items():
        assert p in paths_after and sha(p) == h
    # only the hot group was rewritten
    rewritten = paths_after - {f["path"] for f in m1.files}
    assert all(f"commit-{m2.version:08d}" in p for p in rewritten)
    assert {int(p.split("_bucket=")[1].split("/")[0]) % 8 for p in rewritten} <= hot_buckets

    # resolved state identical to pre-compaction and carries the patch
    sig_after = _sig(lake.snapshot())
    assert sig_after != sig_full  # the patch is visible
    got = lake.snapshot().filter(
        (F.col("repo") == one.repo) & (F.col("path") == one.path)
    ).collect()
    assert len(got) == 1 and got[0]["content"] == "hot!"


def test_partial_compaction_noop_below_bounds(spark, tmp_path):
    """A delta backlog below both bounds publishes NO new version."""
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    ev = change_events(spark, 4_000, batch_size=4_000)
    replay(lake, ledger, ev, num_files=8)
    one = lake.snapshot().orderBy("repo", "path").limit(1).collect()[0]
    from pyorchdb_spark.ingest import apply_batch

    apply_batch(lake, ledger, _one_event(ev, one.repo, one.path, 10_000_000,
                                         "upsert", "tiny", "ztiny", lang=one.lang),
                "ztiny")
    v = lake.manifest().version
    # fraction bound huge, file bound high -> nothing exceeds
    m = lake.compact_partial(delta_fraction=0.99, max_delta_files_per_group=100)
    assert m.version == v  # unchanged manifest returned
    assert any(f.get("delta") for f in m.files)


def test_low_watermark_orders_by_commit_time_not_batch_id(spark, tmp_path):
    """ADVICE r3 #1: batches from heterogeneous feeders ('b%06d' replay +
    'stream-<sha>-<epoch>' tails) do NOT sort in time order
    lexicographically; low_watermark must order them by commit order —
    the manifest version that recorded each batch."""
    from pyorchdb_spark.ingest import apply_batch

    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)

    def rec(batch_id, mn, mx):
        # two events spanning [mn, mx]: the batch's lineage min/max seq
        apply_batch(
            lake, ledger,
            spark.createDataFrame(
                [("r", f"{batch_id}-lo.py", "c", mn, "upsert", "py", "x", batch_id),
                 ("r", f"{batch_id}-hi.py", "c", mx, "upsert", "py", "x", batch_id)],
                "repo string, path string, commit string, seq long, op string, "
                "lang string, content string, batch_id string",
            ),
            batch_id, num_files=1,
        )

    # COMMIT order (time): stream, stream, replay, replay — seqs increase
    # with time. Lexicographic order would be [b000001, b000002,
    # stream-a..., stream-b...], i.e. the two replay batches (the NEWEST)
    # misfiled as the oldest.
    rec("stream-aaaa-100", 1, 100)
    rec("stream-bbbb-200", 101, 200)
    rec("b000001", 201, 300)
    rec("b000002", 301, 400)

    # commit-time order, lag=2: body = the two stream batches -> w =
    # max(100, 200) = 200; head mins cap = min(201, 301) - 1 = 200.
    assert ledger.low_watermark(lag_batches=2) == 200
    # (a lexicographic sort would put b000001/b000002 in the body ->
    # w = 400, capped by min(1, 101) - 1 = 0 — wrong either way)


def test_compact_partial_default_retains_tombstones(spark, tmp_path):
    """ADVICE r3 #2: compact_partial exists for MID-stream use, so its
    default must retain tombstones (RETAIN_ALL_TOMBSTONES) — a direct
    library call during active ingest must not silently GC deletes."""
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    ev = change_events(spark, 2_000, batch_size=2_000)
    replay(lake, ledger, ev, num_files=4)

    victim = lake.snapshot().orderBy("repo", "path").limit(1).collect()[0]
    delete = _one_event(ev, victim.repo, victim.path, 10_000_000, "delete",
                        "", "zdel", lang=victim.lang)
    lake.merge(delete, batch_id="zdel")
    n_tomb = lake.snapshot(include_tombstones=True).filter(F.col("op") == "delete").count()
    assert n_tomb >= 1

    m = lake.compact_partial(delta_fraction=0.0)  # defaults: no watermark passed
    assert not any(f.get("delta") for f in m.files)  # deltas folded
    # every tombstone survived the fold, and no GC watermark was recorded
    assert (
        lake.snapshot(include_tombstones=True).filter(F.col("op") == "delete").count() == n_tomb
    )
    assert m.tombstone_watermark is None

    # More inputs for the rewrite both folds share: before each fold, a
    # delta deletes one key of every base file (so a partial fold
    # rewrites every group, like a full one), at seqs 50 apart that
    # straddle the fold's watermark. Each fold must keep exactly the
    # tombstones above its watermark (all for RETAIN_ALL, none for
    # None), leave the live state alone, and record the watermark
    # monotonically (None and RETAIN_ALL record nothing new).
    import pyarrow.parquet as pq

    def tombstones():
        rows = lake.snapshot(include_tombstones=True).filter(F.col("op") == "delete").collect()
        return {(r.repo, r.path, r.seq) for r in rows}

    cases = [  # (fold, seq of the first new delete, watermark, recorded watermark)
        (lake.compact_partial, 11_000_000, 11_000_060, 11_000_060),
        (lake.compact, 12_000_000, 10_000_000, 11_000_060),  # lower: not recorded
        (lake.compact_partial, 13_000_000, None, 11_000_060),
        (lake.compact, 14_000_000, RETAIN_ALL_TOMBSTONES, 11_000_060),
        (lake.compact, 15_000_000, 15_000_010, 15_000_010),
    ]
    for fold, seq0, wm, recorded in cases:
        keys = [
            pq.read_table(os.path.join(root, f["path"]), columns=["repo", "path", "lang"])
            .slice(0, 1).to_pylist()[0]
            for f in lake.manifest().files
        ]
        dels = [
            _one_event(ev, k["repo"], k["path"], seq0 + 50 * i, "delete", "", f"zd{seq0}", lang=k["lang"])
            for i, k in enumerate(keys)
        ]
        lake.merge(reduce(DataFrame.unionByName, dels), batch_id=f"zd{seq0}")
        before, live = tombstones(), _sig(lake.snapshot())
        if fold == lake.compact_partial:
            m = fold(delta_fraction=0.0, tombstone_watermark_seq=wm)
        else:
            m = fold(tombstone_watermark_seq=wm)
        assert not any(f.get("delta") for f in m.files)
        keep = {
            t for t in before
            if wm == RETAIN_ALL_TOMBSTONES or (wm is not None and t[2] > wm)
        }
        assert tombstones() == keep, (fold.__name__, wm)
        assert {t[2] for t in before} & {seq0, seq0 + 50}  # the new deletes are there
        assert _sig(lake.snapshot()) == live
        assert m.tombstone_watermark == recorded


def test_changes_since_guards_watermark_on_empty_table(spark, tmp_path):
    """ADVICE r3 #5: a table compacted down to ZERO files (every key
    deleted and GC'd) must still refuse changes_since below its tombstone
    watermark — an empty changeset would leave the consumer holding
    deleted keys forever."""
    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    ev = change_events(spark, 500, batch_size=500)
    replay(lake, ledger, ev, num_files=2)

    live = lake.snapshot().select("repo", "path", "lang").collect()
    deletes = None
    for i, r in enumerate(live):
        d = _one_event(ev, r.repo, r.path, 20_000_000 + i, "delete", "", "zkill", lang=r.lang)
        deletes = d if deletes is None else deletes.unionByName(d)
    lake.merge(deletes, batch_id="zkill")
    m = lake.compact(tombstone_watermark_seq=30_000_000)
    assert not m.files  # all keys dead and GC'd -> zero data files
    assert m.tombstone_watermark == 30_000_000

    import pytest

    with pytest.raises(ValueError, match="below the tombstone GC watermark"):
        lake.changes_since(10)
    # at/above the watermark: empty changeset is fine
    assert lake.changes_since(30_000_000).count() == 0
