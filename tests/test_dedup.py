from __future__ import annotations

from pyspark.sql import functions as F

from pyorchdb_spark.functions.udfs import sha256_content
from pyorchdb_spark.generator import change_events
from pyorchdb_spark.operators.dedup import final_state, lww_dedup, lww_dedup_salted
from pyorchdb_spark.oracle import expected_final_state, state_signature


def test_lww_dedup_one_row_per_key(spark):
    ev = change_events(spark, 3_000)
    out = lww_dedup(ev)
    assert out.groupBy("repo", "path").count().filter("count > 1").isEmpty()
    # winner is the max seq per key
    mx = ev.groupBy("repo", "path").agg(F.max("seq").alias("seq"))
    assert out.select("repo", "path", "seq").exceptAll(mx).isEmpty()


def test_salted_equals_unsalted(spark):
    ev = change_events(spark, 3_000)
    a = lww_dedup(ev).select("repo", "path", "seq", "commit", "op")
    for n_salts in (1, 4, 16):
        b = lww_dedup_salted(ev, n_salts=n_salts).select("repo", "path", "seq", "commit", "op")
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_final_state_matches_pandas_oracle(spark):
    ev = change_events(spark, 4_000)
    got = (
        final_state(ev)
        .withColumn("content_sha256", sha256_content("content"))
        .select("repo", "path", "content_sha256")
        .toPandas()
    )
    exp = expected_final_state(ev.toPandas())
    assert set(map(tuple, got.itertuples(index=False, name=None))) == state_signature(exp)


def test_sha256_udf_matches_builtin(spark):
    ev = change_events(spark, 500)
    mismatch = ev.withColumn("a", sha256_content("content")).withColumn(
        "b", F.sha2("content", 256)
    ).filter("a <> b")
    assert mismatch.isEmpty()


def test_tombstone_erases_key(spark):
    rows = [
        ("r1", "a.py", "c1", 1, "upsert", "python", "x", "b0"),
        ("r1", "a.py", "c2", 2, "delete", "python", "", "b0"),
        ("r1", "b.py", "c3", 3, "delete", "python", "", "b0"),
        ("r1", "b.py", "c4", 4, "upsert", "python", "y", "b0"),  # revive
    ]
    ev = spark.createDataFrame(rows, "repo string, path string, commit string, seq long, op string, lang string, content string, batch_id string")
    out = {(r["path"], r["content"]) for r in final_state(ev).collect()}
    assert out == {("b.py", "y")}


def test_bucketed_lww_matches_window_and_salted(spark):
    """The fused bucket-shuffle LWW (one full-row exchange, lag-run winner
    pick) must equal the window and salted strategies on any input,
    including duplicate seqs resolved by tiebreakers."""
    from pyorchdb_spark.operators.dedup import (
        lww_dedup,
        lww_dedup_bucketed,
        lww_dedup_salted,
    )

    ev = change_events(spark, 3_000)
    sig = lambda df: {  # noqa: E731
        (r["repo"], r["path"], r["seq"], r["commit"], r["op"]) for r in df.collect()
    }
    win = sig(lww_dedup(ev))
    for nb in (1, 4, 32):
        assert sig(lww_dedup_bucketed(ev, nb)) == win
    assert sig(lww_dedup_salted(ev)) == win
    # winners stay in their key's bucket and keep the bucket column
    out = lww_dedup_bucketed(ev, 8)
    assert "_bucket" in out.columns
    bad = out.withColumn(
        "_chk", F.pmod(F.xxhash64("repo", "path"), F.lit(8))
    ).filter("_chk <> _bucket")
    assert bad.isEmpty()


def test_fused_merge_under_extreme_skew(spark, tmp_path):
    """One Zipf-degenerate key carrying 50k of 60k events: the salted
    prestage + fused bucketed LWW must produce the same state as the
    plain window strategy, and the hot key's winner must be the max-seq
    event."""
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import LakeTable

    hot = spark.range(50_000).selectExpr(
        "'r' AS repo", "'hot.py' AS path", "concat('c', id) AS commit",
        "id AS seq", "'upsert' AS op", "'py' AS lang",
        "concat('v', id) AS content", "'b0' AS batch_id",
    )
    cold = spark.range(10_000).selectExpr(
        "'r' AS repo", "concat('f', id, '.py') AS path", "concat('k', id) AS commit",
        "id + 100000 AS seq", "'upsert' AS op", "'py' AS lang",
        "'x' AS content", "'b0' AS batch_id",
    )
    events = hot.unionByName(cold)

    states = {}
    for label, salted in (("plain", False), ("salted", True)):
        root = str(tmp_path / label)
        lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
        lake.merge(events, batch_id="b0", salted=salted)
        states[label] = {
            (r["path"], r["content"]) for r in lake.snapshot().collect()
        }
    assert states["plain"] == states["salted"]
    assert ("hot.py", "v49999") in states["plain"]
    assert len(states["plain"]) == 10_001


def test_choose_salt_strategy_uniform_vs_hot(spark):
    """VERDICT r3 next #2: the adaptive chooser must keep uniform feeds
    on the plain path (salting cost 1.5x there for nothing) and salt
    hot-key feeds with S scaled to the measured share."""
    from pyorchdb_spark.operators.dedup import choose_salt_strategy

    # uniform: ~3 events per key, no key dominates
    uniform = change_events(spark, 30_000, batch_size=30_000)
    salted, n_salts = choose_salt_strategy(uniform)
    assert salted is False

    # hot: one key holds half the events
    hot = spark.range(15_000).selectExpr(
        "'hotrepo' AS repo", "'hot.py' AS path", "concat('c', id) AS commit",
        "id AS seq", "'upsert' AS op",
    )
    cold = spark.range(15_000).selectExpr(
        "'r' AS repo", "concat('f', id, '.py') AS path", "concat('k', id) AS commit",
        "id + 100000 AS seq", "'upsert' AS op",
    )
    salted, n_salts = choose_salt_strategy(hot.unionByName(cold))
    assert salted is True
    # hot_share ~0.5, P=8 -> want ~5 -> clamped to the 8 floor (pow2)
    assert n_salts >= 8 and (n_salts & (n_salts - 1)) == 0

    # tiny input: not enough evidence -> plain
    salted, _ = choose_salt_strategy(hot.limit(100))
    assert salted is False


def test_replay_salt_auto_matches_plain_state(spark, tmp_path):
    """salted='auto' replay must reproduce the exact plain-replay state
    (strategy choice is a plan decision, never a semantics one)."""
    from pyorchdb_spark.ingest import replay
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import LakeTable

    ev = change_events(spark, 4_000, batch_size=2_000)
    sigs = {}
    for label, salted in (("plain", False), ("auto", "auto")):
        root = str(tmp_path / label)
        lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
        replay(lake, ledger, ev, salted=salted, num_files=4)
        sigs[label] = {
            tuple(r) for r in lake.snapshot().select("repo", "path", "content_sha256").collect()
        }
    assert sigs["plain"] == sigs["auto"]


def test_prune_to_winners_preserves_lww(spark):
    """Thin-shuffle prestage (VERDICT r4 next #4): pruning to winner-tuple
    rows then running LWW equals plain LWW — including re-delivered exact
    duplicates, seq ties broken by (commit, op), and null tiebreakers."""
    from pyorchdb_spark.operators.dedup import prune_to_winners

    ev = change_events(spark, 3_000)
    # adversarial rows: exact re-delivery, a seq tie with distinct commits,
    # and a null commit on the winning seq of its key
    extra = spark.createDataFrame(
        [
            ("r_x", "p/tie", "c_b", 50, "upsert", "py", "v1", "b000000"),
            ("r_x", "p/tie", "c_a", 50, "upsert", "py", "v2", "b000000"),
            ("r_x", "p/tie", "c_b", 50, "upsert", "py", "v1", "b000000"),  # re-delivery
            ("r_x", "p/null", None, 60, "upsert", "py", "w", "b000000"),
            ("r_x", "p/null", "c_z", 59, "upsert", "py", "old", "b000000"),
        ],
        "repo string, path string, commit string, seq long, op string, "
        "lang string, content string, batch_id string",
    )
    ev = ev.select(*extra.columns).unionByName(extra)
    cols = ["repo", "path", "seq", "commit", "op", "content"]
    plain = lww_dedup(ev).select(*cols)
    pruned = lww_dedup(prune_to_winners(ev)).select(*cols)
    assert plain.exceptAll(pruned).isEmpty() and pruned.exceptAll(plain).isEmpty()
    # the prune itself kept every key and only winner-tuple rows
    kept = prune_to_winners(ev)
    assert kept.select("repo", "path").distinct().count() == ev.select("repo", "path").distinct().count()
    mx = ev.groupBy("repo", "path").agg(F.max("seq").alias("mseq"))
    bad = (
        kept.join(mx, ["repo", "path"])
        .filter(F.col("seq") != F.col("mseq"))
    )
    assert bad.isEmpty()


def test_replay_thin_shuffle_matches_plain_state(spark, tmp_path):
    """thin_shuffle replay (winner pruning before the bucket exchange,
    VERDICT r4 next #4) reaches byte-identical state to a plain replay,
    and 'auto' flips thin ON for this high-dup-ratio feed."""
    from pyorchdb_spark.generator import change_events
    from pyorchdb_spark.ingest import replay
    from pyorchdb_spark.operators.dedup import choose_strategies
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import LakeTable

    # 2 batches x 15k events over ~few-k keys: in-batch dup ratio > 2
    ev = change_events(spark, 30_000, batch_size=15_000).cache()
    try:
        sigs = {}
        for name, kw in {
            "plain": dict(),
            "thin": dict(thin_shuffle=True),
            "auto": dict(thin_shuffle="auto", salted="auto"),
        }.items():
            root = str(tmp_path / name)
            replay(LakeTable(spark, root), BatchLedger(spark, root), ev, num_files=4, **kw)
            rows = LakeTable(spark, root).snapshot().select(
                "repo", "path", "content_sha256").fillna("x").collect()
            sigs[name] = {tuple(r) for r in rows}
        assert sigs["plain"] == sigs["thin"] == sigs["auto"]
        _salted, _n, thin = choose_strategies(ev, keys=("repo", "path"))
        assert thin, "auto probe should enable thin on a dup-heavy feed"
    finally:
        ev.unpersist()


def test_thin_broadcast_budget_gate(spark):
    """The thin decision is gated on the estimated winner-broadcast size
    (BENCH/r5c/cluster_1v4_thin.log: an ungated ~110 MB winner set OOM'd
    1 GiB executors): a budget below the estimate forces thin OFF and
    the salt decision still runs; a generous budget keeps thin ON."""
    from pyorchdb_spark.generator import change_events
    from pyorchdb_spark.operators.dedup import choose_strategies

    ev = change_events(spark, 30_000, batch_size=15_000).cache()
    try:
        _s, _n, thin = choose_strategies(
            ev, keys=("repo", "path"), thin_max_broadcast_bytes=1.0
        )
        assert not thin, "a 1-byte budget must gate thin off"
        salted, n, thin = choose_strategies(
            ev, keys=("repo", "path"), thin_max_broadcast_bytes=1e12
        )
        assert thin, "a generous budget must keep thin on for a dup-heavy feed"
        # gated-off thin falls through to the salt decision, not a crash:
        s2, n2, t2 = choose_strategies(
            ev, keys=("repo", "path"), thin_dup_ratio=float("inf")
        )
        assert not t2 and isinstance(s2, bool) and n2 >= 1
    finally:
        ev.unpersist()


def test_thin_payload_width_gate(spark):
    """Thin pruning saves payload BYTES but costs per-ROW passes, so the
    chooser requires avg payload width >= thin_min_payload_bytes
    (measured: ~190 B content lost wall clock at every parallelism level
    despite a 2.49x byte cut — BENCH/r5c/cluster_1v4_thin6g.json — while
    ~1 KiB content won outright)."""
    from pyorchdb_spark.generator import change_events
    from pyorchdb_spark.operators.dedup import choose_strategies

    # content_max_reps=1 -> 64..128 B content, far under the 512 B default
    ev = change_events(spark, 30_000, batch_size=15_000, content_max_reps=1).cache()
    try:
        _s, _n, thin = choose_strategies(ev, keys=("repo", "path"))
        assert not thin, "narrow payload must gate thin off at default width"
        _s, _n, thin = choose_strategies(
            ev, keys=("repo", "path"), thin_min_payload_bytes=0.0
        )
        assert thin, "width override must re-enable thin on a dup-heavy feed"
        # no payload columns at all -> nothing to save -> never thin
        _s, _n, thin = choose_strategies(
            ev.select("repo", "path", "seq"), keys=("repo", "path"),
            thin_min_payload_bytes=0.0,
        )
        assert not thin
    finally:
        ev.unpersist()


def test_executor_heap_bytes_parsing(spark):
    """Budget heuristics resolve the right JVM heap per master type."""
    from pyorchdb_spark.operators.dedup import _parse_jvm_mem, executor_heap_bytes

    assert _parse_jvm_mem("1g") == 1024**3
    assert _parse_jvm_mem("6144m") == 6144 * 1024**2
    assert _parse_jvm_mem("512") == 512 * 1024**2  # bare number = MiB
    # local[*] session: executors share the driver JVM, so the heap must
    # come from the driver memory conf, never the 1g executor default.
    heap = executor_heap_bytes(spark)
    drv = spark.conf.get("spark.driver.memory", None) or "1g"
    assert heap == _parse_jvm_mem(drv)


def test_murmur3_int32_matches_spark_hash(spark):
    """The driver-side murmur3 reimplementation must equal F.hash on
    IntegerType for the identity-shuffle tokens to place buckets."""
    from pyorchdb_spark.operators.dedup import murmur3_int32

    vals = [0, 1, 2, 7, 42, 255, 4095, 65536, 2**31 - 1, -1, -42, -2**31]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = {r["v"]: r["h"] for r in df.select("v", F.hash("v").alias("h")).collect()}
    for v in vals:
        assert murmur3_int32(v) == got[v], v


def test_identity_shuffle_tokens_invert_partitioning():
    from pyorchdb_spark.operators.dedup import identity_shuffle_tokens, murmur3_int32

    for nb in (1, 2, 8, 64, 512):
        toks = identity_shuffle_tokens(nb)
        assert len(set(toks)) == nb
        for b, t in enumerate(toks):
            assert murmur3_int32(t) % nb == b


def test_bucket_lands_in_its_own_partition(spark):
    """repartition by the token column = identity placement: every row's
    shuffle partition id equals its storage bucket (no empties, no
    balls-in-bins collision skew on the one-wave write stage)."""
    from pyorchdb_spark.operators.dedup import bucket_partition_token

    for nb in (4, 8, 32):
        df = spark.range(10_000).select(
            F.pmod(F.xxhash64("id"), F.lit(nb)).alias("_bucket")
        )
        tok = bucket_partition_token(nb)
        out = (
            df.withColumn("_ibp", tok)
            .repartition(nb, F.col("_ibp"))
            .withColumn("_pid", F.spark_partition_id())
        )
        bad = out.filter(F.col("_pid") != F.col("_bucket")).count()
        assert bad == 0, f"nb={nb}: {bad} rows off their identity partition"


def test_bucketed_dedup_unchanged_by_identity_shuffle(spark):
    """lww_dedup_bucketed (now token-partitioned) still equals lww_dedup."""
    from pyorchdb_spark.operators.dedup import lww_dedup_bucketed

    ev = change_events(spark, 3_000)
    a = lww_dedup(ev).select("repo", "path", "seq", "commit", "op")
    for nb in (4, 16):
        b = lww_dedup_bucketed(ev, nb).select("repo", "path", "seq", "commit", "op")
        assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_subsplit_dedup_equals_window(spark):
    """sub_splits widens the fused exchange to n_buckets*s key-hash
    partitions (write parallelism decoupled from the storage layout);
    winners and the bucket column must be unchanged for any (nb, s)."""
    from pyorchdb_spark.operators.dedup import lww_dedup_bucketed

    ev = change_events(spark, 3_000)
    win = lww_dedup(ev).select("repo", "path", "seq", "commit", "op")
    for nb, s in ((1, 8), (4, 2), (4, 7), (8, 4)):
        out = lww_dedup_bucketed(ev, nb, sub_splits=s)
        assert "_bucket" in out.columns and "_pidx" not in out.columns
        got = out.select("repo", "path", "seq", "commit", "op")
        assert win.exceptAll(got).isEmpty() and got.exceptAll(win).isEmpty()
        bad = out.withColumn(
            "_chk", F.pmod(F.xxhash64("repo", "path"), F.lit(nb))
        ).filter("_chk <> _bucket")
        assert bad.isEmpty()


def test_subsplit_identity_placement(spark):
    """With sub_splits=s every row lands in partition bucket*s + sub —
    the identity token covers the combined index, so the widened one-wave
    write stage still has no balls-in-bins skew and no empty tasks."""
    from pyorchdb_spark.operators.dedup import lww_dedup_bucketed

    nb, s = 4, 3
    out = lww_dedup_bucketed(change_events(spark, 2_000), nb, sub_splits=s).withColumn(
        "_pid", F.spark_partition_id()
    )
    chk = out.withColumn(
        "_sub", F.pmod(F.xxhash64(F.lit("_sub"), "repo", "path"), F.lit(s))
    ).filter(F.col("_pid") != F.col("_bucket") * s + F.col("_sub"))
    assert chk.isEmpty()


def test_merge_subsplit_state_and_layout(spark, tmp_path):
    """A merge forced to sub-split (a base commit and a delta commit) writes
    multiple disjoint-key, key-sorted files per bucket and reaches the
    same final state as the unsplit merge."""
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    from pyorchdb_spark.sources.lake import LakeTable

    ev = change_events(spark, 8_000, batch_size=4_000)
    b0 = ev.filter("batch_id = 'b000000'")
    b1 = ev.filter("batch_id = 'b000001'")

    def build(root: str, forced_s: int | None) -> LakeTable:
        lake = LakeTable(spark, root)
        if forced_s is not None:
            lake._sub_splits = lambda nb, rows_hint: forced_s
        lake.merge(b0, batch_id="b0")
        lake.merge(b1, batch_id="b1")
        return lake

    plain = build(str(tmp_path / "plain"), None)
    split = build(str(tmp_path / "split"), 3)

    sig = lambda lk: {  # noqa: E731
        (r["repo"], r["path"], r["seq"], r["content"]) for r in lk.snapshot().collect()
    }
    assert sig(plain) == sig(split)

    m = split.manifest()
    per_bucket = Counter((f["nb"], f["bucket"]) for f in m.files)
    assert max(per_bucket.values()) > 1, "no bucket gained a sub-split file"
    for f in m.files:
        t = pq.read_table(
            os.path.join(split.root, f["path"]), columns=["repo", "path"]
        )
        keys = list(zip(t["repo"].to_pylist(), t["path"].to_pylist()))
        assert keys == sorted(keys), f"file {f['path']} not key-sorted"


def test_sub_splits_sizing(spark, tmp_path):
    """Sizing rule: wide tables never split; no volume hint or micro-batch
    volume stays narrow (task-launch overhead would dominate); otherwise
    ceil(2*parallelism / n_buckets) capped at 64."""
    from pyorchdb_spark.sources.lake import LakeTable

    lake = LakeTable(spark, str(tmp_path / "t"))
    par = lake.spark.sparkContext.defaultParallelism
    assert lake._sub_splits(2 * par, 10**9) == 1
    assert lake._sub_splits(8, None) == 1
    assert lake._sub_splits(8, 8 * 65536 - 1) == 1
    assert lake._sub_splits(8, 10**9) == min(-(-2 * par // 8), 64)
