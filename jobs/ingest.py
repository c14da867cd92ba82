"""spark-submit entry point: generate / replay a change-event log.

Usage (C1 in SURVEY.md section 2.11 — the reference's 4-phase CLI
run_workflow.py, reborn as one idempotent job):

    spark-submit --py-files dist/engine.zip jobs/ingest.py generate \
        --out /data/events --n-events 10000000 [--batch-size 1000000]

    spark-submit --py-files dist/engine.zip jobs/ingest.py replay \
        --events /data/events --table /data/code_files \
        [--mode batch|stream] [--salt plain|salted|auto] [--checkpoint /data/ckpt]

    spark-submit --py-files dist/engine.zip jobs/ingest.py verify \
        --events /data/events --table /data/code_files
        # independent global-LWW pass over the log vs the replayed
        # table: per-row content sha256 equality (the north-rule gate)

    spark-submit --py-files dist/engine.zip jobs/ingest.py aggview \
        --table /data/code_files --view /data/code_files_by_lang \
        --group lang
        # refresh the durable maintained aggregate view (exactly-once
        # IVM, sources/aggview.py) and cross-check vs full recompute

    spark-submit --py-files dist/engine.zip jobs/ingest.py analyze \
        --table /data/code_files
        # ANALYZE: one-pass per-column stats persisted beside the manifest

    spark-submit --py-files dist/engine.zip jobs/ingest.py rollback \
        --table /data/code_files --to-version 7
        # RESTORE an earlier version (new head, history immutable;
        # downstream changes_since consumers past the restored horizon
        # get an explicit resync error)

Prints one JSON line with rows/sec so the scaling harness (BENCH/) can
compare N vs 4N parallelism.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def _spark(master: str | None, shuffle_partitions: int | None = None) -> SparkSession:
    """The job's session. An in-process caller's active session is reused
    as it is: ``build_session`` would ``getOrCreate`` it and rewrite its
    SQL conf (shuffle width, AQE, split size) under the caller."""
    from pyorchdb_spark.session import build_session

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_session(
        app_name="pyorchdb_spark_ingest",
        master=master,
        shuffle_partitions=shuffle_partitions,
    )


def cmd_generate(args) -> dict:
    from pyorchdb_spark.generator import change_events, write_events

    spark = _spark(args.master)
    t0 = time.time()
    ev = change_events(
        spark,
        args.n_events,
        batch_size=args.batch_size,
        evolution_batch=args.evolution_batch,
        content_max_reps=args.content_max_reps,
        events_per_key=args.events_per_key,
        n_repos=args.n_repos,
        path_mod=args.path_mod,
        key_space=args.key_space,
        hot_share=args.hot_share,
    )
    write_events(ev, args.out)
    n = spark.read.parquet(args.out).count()
    return {"cmd": "generate", "rows": n, "sec": round(time.time() - t0, 3), "out": args.out}


def _shuffle_totals(spark) -> dict | None:
    """Cumulative stage byte counters from the UI REST API (needs
    SPARK_GRAFT_UI=true). Caller diffs two snapshots to isolate a
    section; returns None when the UI is off."""
    url = spark.sparkContext.uiWebUrl
    if not url:
        return None
    import json as _json
    import urllib.request

    try:
        apps = _json.load(urllib.request.urlopen(f"{url}/api/v1/applications", timeout=10))
        app_id = apps[0]["id"]
        stages = _json.load(
            urllib.request.urlopen(f"{url}/api/v1/applications/{app_id}/stages", timeout=10)
        )
        return {
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
            "output_bytes": sum(s.get("outputBytes", 0) for s in stages),
        }
    except Exception:
        return None


def _size_scan_splits(spark, events_dir: str) -> None:
    """Clamp the parquet split size so each PER-BATCH scan stage runs
    ~3 tasks per slot. With the fixed 128 MiB default, a gate-scale batch
    makes the scan+hash map stage exactly one wave wide, and a one-wave
    stage's wall is its SLOWEST task — profiled at the 16M
    local-cluster[4,2] gate as 8 tasks of 5.6-12.9s and the engine-side
    scaling loss (BENCH/r5c/profile_serial.out). Sized from the events
    log's per-batch bytes (the unit replay scans at a time). On a real
    100 TB input per_batch/(3*slots) >> 128 MiB and the default cap
    binds — the rule only engages when the input is small relative to
    the cluster. Local paths only; a cluster submit would derive the same
    numbers from the FileSystem API."""
    try:
        total, batches = 0, 0
        for entry in os.scandir(events_dir):
            if entry.is_dir() and entry.name.startswith("batch_id="):
                batches += 1
                for dp, _, fs in os.walk(entry.path):
                    total += sum(
                        os.path.getsize(os.path.join(dp, f))
                        for f in fs
                        if f.endswith(".parquet")
                    )
    except OSError:
        return
    if not total or not batches:
        return
    slots = spark.sparkContext.defaultParallelism
    mpb = max(16 << 20, min(128 << 20, total // batches // (3 * slots)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(mpb))


def cmd_replay(args) -> dict:
    from pyorchdb_spark.ingest import replay
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import LakeTable
    from pyorchdb_spark.streaming.tail import run_tail_to_completion

    spark = _spark(args.master, args.shuffle_partitions)
    _size_scan_splits(spark, args.events)
    events = spark.read.parquet(args.events)
    if args.coalesce_batches:
        # one logical batch: the throughput-measurement shape (single
        # MERGE over the whole log; per-batch incrementality is exercised
        # by the default path and the streaming tail)
        from pyspark.sql import functions as F

        events = events.withColumn("batch_id", F.lit("all"))
    lake = LakeTable(spark, args.table)
    ledger = BatchLedger(spark, args.table)

    n_events = events.count()  # input size (not timed as apply work)
    if args.warmup:
        # untimed steady-state warmup: spawns the python UDF workers
        # (pandas import is a per-session fixed cost) and faults the input
        # into page cache, so the timed run measures events/sec of the
        # engine, not session bring-up.
        from pyorchdb_spark.ingest import prepare_events

        prepare_events(events, jvm_only=args.jvm_hash).write.format("noop").mode("overwrite").save()
    sb0 = _shuffle_totals(spark)
    t0 = time.time()
    if args.mode == "stream":
        # "auto" probes the whole input once; a tail can't sample its own
        # future, so demand an explicit choice rather than coerce one
        if args.salt == "auto":
            raise SystemExit(
                "--salt auto is batch-only (the chooser probes the whole "
                "input); pass --salt plain or --salt salted for --mode stream"
            )
        if args.thin == "auto":
            # the thin crossover is a PER-MICRO-BATCH dup ratio; a one-shot
            # whole-log probe overestimates it (r5 byte table: log ratio ~3
            # vs per-batch ~1.4), so auto would be a silent lie here
            raise SystemExit(
                "--thin auto is batch-only (the chooser probes the whole "
                "input, but thin's crossover is the per-micro-batch dup "
                "ratio); pass --thin thin or --thin off for --mode stream"
            )
        strategy = {"salted": args.salt == "salted", "n_salts": 16, "thin": args.thin == "thin"}
        ckpt = args.checkpoint or os.path.join(args.table, "_checkpoint")
        run_tail_to_completion(
            spark, args.events, lake, ledger, ckpt,
            salted=strategy["salted"], n_salts=strategy["n_salts"],
            num_files=args.num_files, mor=args.mor,
            max_files_per_trigger=args.max_files_per_trigger,
            thin_shuffle=strategy["thin"],
        )
    else:
        salted: bool | str = {"plain": False, "salted": True, "auto": "auto"}[args.salt]
        thin: bool | str = {"off": False, "thin": True, "auto": "auto"}[args.thin]
        strategy = {}
        replay(lake, ledger, events, salted=salted, num_files=args.num_files,
               jvm_only_udfs=args.jvm_hash, mor=args.mor, thin_shuffle=thin,
               strategy_out=strategy)
    dt = time.time() - t0
    sb1 = _shuffle_totals(spark)
    shuffle = (
        {k: sb1[k] - (sb0 or {}).get(k, 0) for k in sb1} if sb1 is not None else None
    )
    return {
        "cmd": "replay",
        "bytes": shuffle,
        "mode": args.mode,
        "events": n_events,
        "sec": round(dt, 3),
        # epoch-ms bounds of the timed section, so an event-log profiler
        # can window Spark jobs to exactly the measured replay
        "t0_ms": int(t0 * 1000),
        "t1_ms": int((t0 + dt) * 1000),
        "events_per_sec": round(n_events / dt, 1),
        "table_rows": lake.snapshot().count(),
        "version": lake.current_version(),
        "master": spark.sparkContext.master,
        # resolved salt/thin decisions ("auto" runs are otherwise
        # unobservable — the r5e thin matrix was ambiguous about whether
        # thin even engaged)
        "strategy": strategy,
    }


def cmd_verify(args) -> dict:
    """North-rule gate: replaying the full event log must reproduce the
    final table state with per-row content sha256 equality
    (BASELINE.json:6,15). The expected state is computed by a SECOND,
    independent execution path — one global LWW window over the whole log
    (operators/dedup.py) — and compared sha-for-sha against the
    incrementally MERGE-replayed table, so a bug in the merge/bucketing
    path cannot vanish into an identical bug in the oracle.

    Scale shape: one shuffle per side + one full-outer equi-join on the
    key; mismatch counts come from a single aggregate (no exceptAll
    double-recompute).
    """
    from pyspark.sql import functions as F

    from pyorchdb_spark.ingest import invalid_reason, prepare_events
    from pyorchdb_spark.operators.dedup import lww_dedup, lww_dedup_salted
    from pyorchdb_spark.sources.lake import LakeTable

    spark = _spark(args.master, args.shuffle_partitions)
    events = spark.read.parquet(args.events)
    lake = LakeTable(spark, args.table)

    t0 = time.time()
    prepared = prepare_events(events, jvm_only=args.jvm_hash).filter(
        invalid_reason().isNull()
    )
    dedup = lww_dedup_salted if args.salted else lww_dedup
    expected = (
        dedup(prepared)
        .filter(F.col("op") != "delete")
        .select("repo", "path", F.col("content_sha256").alias("_sha_expected"))
    )
    actual = lake.snapshot().select(
        "repo", "path", F.col("content_sha256").alias("_sha_actual")
    )
    j = actual.join(expected, ["repo", "path"], "full_outer")
    row = j.agg(
        F.count(F.lit(1)).alias("keys"),
        F.count(F.when(F.col("_sha_actual").isNull(), 1)).alias("missing_in_table"),
        F.count(F.when(F.col("_sha_expected").isNull(), 1)).alias("extra_in_table"),
        F.count(
            F.when(
                F.col("_sha_actual").isNotNull()
                & F.col("_sha_expected").isNotNull()
                & (F.col("_sha_actual") != F.col("_sha_expected")),
                1,
            )
        ).alias("sha_mismatch"),
    ).collect()[0]
    ok = row.missing_in_table == 0 and row.extra_in_table == 0 and row.sha_mismatch == 0
    out = {
        "cmd": "verify",
        "keys": row.keys,
        "missing_in_table": row.missing_in_table,
        "extra_in_table": row.extra_in_table,
        "sha_mismatch": row.sha_mismatch,
        "sha256_equal": ok,
        "sec": round(time.time() - t0, 3),
        "table_version": lake.current_version(),
    }
    if getattr(args, "roundtrip", False):
        out["roundtrip"] = _verify_roundtrips(spark, lake, args)
    return out


def _verify_roundtrips(spark, lake, args) -> dict:
    """Round-trip the round-4 maintenance surfaces at gate scale
    (VERDICT r4 next #7): aggview refresh vs full recompute, ANALYZE
    stats vs the snapshot, rollback -> restore -> sha-equal, and the
    CDC-safe resync horizon guard while rolled back. One dict, each
    check independently reported with its wall seconds."""
    from pyspark.sql import functions as F

    from pyorchdb_spark.operators.ivm import group_contributions
    from pyorchdb_spark.sources.aggview import MaintainedAggregate
    from pyorchdb_spark.sources.stats import analyze_table

    res: dict = {}

    def sig(df):
        # order-independent table signature: sum of per-row hashes
        # (decimal accumulator — a long sum of xxhash64 overflows ANSI)
        return df.select(
            F.xxhash64("repo", "path", "content_sha256")
            .cast("decimal(38,0)")
            .alias("h")
        ).agg(F.sum("h")).first()[0]

    # aggview: refresh the durable view, compare to a full recompute
    t0 = time.time()
    view = MaintainedAggregate(
        lake, os.path.join(args.table, "_aggview_gate"), "lang", ["seq"]
    )
    agg = view.refresh()
    got = {tuple(r) for r in agg.collect()}
    truth = {
        tuple(r)
        for r in group_contributions(lake.snapshot(), "lang", ["seq"]).collect()
    }
    res["aggview_match_full_recompute"] = got == truth
    res["aggview_sec"] = round(time.time() - t0, 3)

    # analyze: one-pass column stats vs the snapshot row count
    t0 = time.time()
    stats = analyze_table(lake)
    res["analyze_rows_match"] = int(stats["_rows"]) == lake.snapshot().count()
    res["analyze_sec"] = round(time.time() - t0, 3)

    # rollback round-trip: restore an earlier version (sha-equal to that
    # version's own snapshot), horizon guard raises while rolled back,
    # then restore the original head (sha-equal to where we started)
    t0 = time.time()
    m0 = lake.manifest()
    target = max((m0.parent or 1), 1)
    sig_head = sig(lake.snapshot())
    sig_target = sig(lake.snapshot(version=target))
    lake.rollback(target)
    res["rollback_restores_target"] = sig(lake.snapshot()) == sig_target
    guard_raised = False
    if m0.head_seq is not None:
        # only the horizon guard's own ValueError counts as the gate
        # firing — any other failure must propagate, not report green
        try:
            lake.changes_since(int(m0.head_seq) + 1).count()
        except ValueError as e:
            if "resync" not in str(e):
                raise
            guard_raised = True
    res["rollback_horizon_guard_raised"] = guard_raised
    lake.rollback(m0.version)
    res["rollback_roundtrip_sha_equal"] = sig(lake.snapshot()) == sig_head
    res["rollback_sec"] = round(time.time() - t0, 3)
    return res


def cmd_changes(args) -> dict:
    """Incremental CDC consumption: per-key latest changes with
    seq > --since-seq (tombstones included), file-pruned via the
    manifest's per-file seq ranges; optionally written to --out."""
    from pyorchdb_spark.sources.lake import LakeTable

    spark = _spark(args.master, args.shuffle_partitions)
    lake = LakeTable(spark, args.table)
    t0 = time.time()
    ch = lake.changes_since(args.since_seq)
    if args.out:
        ch.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    else:
        n = ch.count()
    m = lake.manifest()
    pruned = sum(
        1 for f in m.files if f.get("seq_max") is not None and f["seq_max"] <= args.since_seq
    )
    return {
        "cmd": "changes",
        "since_seq": args.since_seq,
        "changed_keys": n,
        "files_total": len(m.files),
        "files_pruned": pruned,
        "sec": round(time.time() - t0, 3),
        "out": args.out,
    }


def cmd_compact(args) -> dict:
    """Maintenance entry: fold MoR deltas / GC tombstones.

    --partial rewrites only bucket groups over the delta bounds (cold
    base files keep their paths); --tombstone-lag derives the GC
    watermark from the lineage history (omit = retain every tombstone)."""
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import RETAIN_ALL_TOMBSTONES, LakeTable

    spark = _spark(args.master, args.shuffle_partitions)
    lake = LakeTable(spark, args.table)
    t0 = time.time()
    wm = RETAIN_ALL_TOMBSTONES
    if args.tombstone_lag is not None:
        lw = BatchLedger(spark, args.table).low_watermark(lag_batches=args.tombstone_lag)
        if lw is not None:
            wm = lw
    before = lake.manifest()
    if args.partial:
        m = lake.compact_partial(tombstone_watermark_seq=wm)
    else:
        m = lake.compact(tombstone_watermark_seq=wm)
    return {
        "cmd": "compact",
        "partial": args.partial,
        "version": m.version,
        "rewrote": m.version != (before.version if before else None),
        "files": len(m.files),
        "delta_files": sum(1 for f in m.files if f.get("delta")),
        "tombstone_watermark": m.tombstone_watermark,
        "sec": round(time.time() - t0, 3),
    }


def cmd_aggview(args) -> dict:
    """Refresh (or bootstrap) a durable maintained aggregate view over a
    replayed table (sources/aggview.py) and cross-check the stored
    aggregate against a full recompute of the snapshot — reports
    match_full_recompute so operators can gate on it."""
    from pyorchdb_spark.operators.ivm import group_contributions
    from pyorchdb_spark.sources.aggview import MaintainedAggregate
    from pyorchdb_spark.sources.lake import LakeTable

    spark = _spark(args.master, args.shuffle_partitions)
    lake = LakeTable(spark, args.table)
    view = MaintainedAggregate(lake, args.view, args.group, args.sum)
    t0 = time.time()
    agg = view.refresh()
    sec = round(time.time() - t0, 3)
    got = {tuple(r) for r in agg.collect()}
    truth = {
        tuple(r)
        for r in group_contributions(lake.snapshot(), args.group, args.sum).collect()
    }
    return {
        "cmd": "aggview",
        "view_version": view.current_version(),
        "base_version": lake.manifest().version,
        "groups": len(got),
        "match_full_recompute": got == truth,
        "sec": sec,
    }


def cmd_rollback(args) -> dict:
    """RESTORE the table to an earlier version (publishes a NEW head
    with that version's files — history stays immutable; downstream
    changes_since consumers past the restored horizon get an explicit
    resync error instead of silently keeping rolled-back state)."""
    from pyorchdb_spark.sources.lake import LakeTable

    spark = _spark(args.master, args.shuffle_partitions)
    lake = LakeTable(spark, args.table)
    t0 = time.time()
    m = lake.rollback(args.to_version)
    return {
        "cmd": "rollback",
        "version": m.version,
        "restored": args.to_version,
        "files": len(m.files),
        "head_seq": m.head_seq,
        "sec": round(time.time() - t0, 3),
    }


def cmd_analyze(args) -> dict:
    """ANALYZE TABLE: one aggregate pass over the snapshot computes
    per-column row/null/approx-distinct/min/max stats, persisted as
    versioned JSON beside the manifest (sources/stats.py)."""
    from pyorchdb_spark.sources.lake import LakeTable
    from pyorchdb_spark.sources.stats import analyze_table

    spark = _spark(args.master, args.shuffle_partitions)
    lake = LakeTable(spark, args.table)
    t0 = time.time()
    stats = analyze_table(lake, rsd=args.rsd)
    return {
        "cmd": "analyze",
        "version": stats["_version"],
        "rows": stats["_rows"],
        "columns": len([k for k in stats if not k.startswith("_")]),
        "sec": round(time.time() - t0, 3),
    }


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--n-events", type=int, required=True)
    g.add_argument("--batch-size", type=int, default=1_000_000)
    g.add_argument("--evolution-batch", type=int, default=None)
    g.add_argument("--content-max-reps", type=int, default=16)
    g.add_argument("--events-per-key", type=float, default=3.0)
    g.add_argument("--n-repos", type=int, default=200)
    g.add_argument("--path-mod", type=int, default=997,
                   help="distinct-path image bound; default reproduces the "
                        "~855k-key churn-axis protocol, raise for key-axis "
                        "sweeps where |keys| tracks n_events")
    g.add_argument("--hot-share", type=float, default=0.0,
                   help="fraction of EVENTS collapsed onto a single hot "
                        "(repo, path) key — the skew/salting stress shape; "
                        "0.0 (default) keeps the pinned uniform grid")
    g.add_argument("--key-space", choices=["grid", "wide"], default="grid",
                   help="'grid' (default) reproduces the committed protocol "
                        "(key ids capped at ~1M by the uniform grid); 'wide' "
                        "draws key ids at full 64-bit hash resolution so "
                        "|keys| tracks n_events/events_per_key (key-axis "
                        "sweep part 2)")
    g.add_argument("--master", default=None)

    r = sub.add_parser("replay")
    r.add_argument("--events", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--mode", choices=["batch", "stream"], default="batch")
    r.add_argument("--thin", choices=["off", "thin", "auto"], default="off",
                   help="prune each batch to LWW winner-tuple rows before the "
                        "fat bucket exchange (shuffle bytes track keys, not "
                        "events); auto decides from the same sampled probe as "
                        "--salt auto")
    r.add_argument("--salt", choices=["plain", "salted", "auto"], default="plain",
                   help="skew strategy: 'auto' (batch mode) measures key "
                        "frequency on a deterministic sample and picks "
                        "plain/salted + n_salts")
    r.add_argument("--checkpoint", default=None)
    r.add_argument("--num-files", type=int, default=None)
    r.add_argument("--max-files-per-trigger", type=int, default=None,
                   help="stream mode: bound each micro-batch to this many "
                        "source files (availableNow splits the backlog)")
    r.add_argument("--coalesce-batches", action="store_true")
    r.add_argument("--warmup", action=argparse.BooleanOptionalAction, default=True)
    r.add_argument("--mor", action="store_true",
                   help="merge-on-read delta commits: per-batch write cost "
                        "proportional to the batch (not the table); reads "
                        "resolve LWW across base+delta until self-compaction")
    r.add_argument("--jvm-hash", action="store_true",
                   help="use built-in sha2/regexp instead of pandas UDFs (scaling isolation)")
    r.add_argument("--shuffle-partitions", type=int, default=None,
                   help="hold shuffle width constant across parallelism levels "
                        "(cluster-faithful scaling: same plan/layout, more slots; "
                        "default derives width from the master's core count)")
    r.add_argument("--master", default=None)

    v = sub.add_parser("verify")
    v.add_argument("--events", required=True)
    v.add_argument("--table", required=True)
    v.add_argument("--salted", action="store_true")
    v.add_argument("--roundtrip", action="store_true",
                   help="also round-trip the maintenance surfaces: aggview "
                        "refresh vs full recompute, ANALYZE stats, rollback/"
                        "RESTORE sha-equality + resync horizon guard")
    v.add_argument("--jvm-hash", action="store_true")
    v.add_argument("--shuffle-partitions", type=int, default=None)
    v.add_argument("--master", default=None)

    c = sub.add_parser("changes")
    c.add_argument("--table", required=True)
    c.add_argument("--since-seq", type=int, required=True)
    c.add_argument("--out", default=None)
    c.add_argument("--shuffle-partitions", type=int, default=None)
    c.add_argument("--master", default=None)

    k = sub.add_parser("compact")
    k.add_argument("--table", required=True)
    k.add_argument("--partial", action="store_true")
    k.add_argument("--tombstone-lag", type=int, default=None)
    k.add_argument("--shuffle-partitions", type=int, default=None)
    k.add_argument("--master", default=None)

    a = sub.add_parser("aggview")
    a.add_argument("--table", required=True)
    a.add_argument("--view", required=True)
    a.add_argument("--group", default="lang")
    a.add_argument("--sum", nargs="*", default=[])
    a.add_argument("--shuffle-partitions", type=int, default=None)
    a.add_argument("--master", default=None)

    rb = sub.add_parser("rollback")
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-version", type=int, required=True)
    rb.add_argument("--shuffle-partitions", type=int, default=None)
    rb.add_argument("--master", default=None)

    z = sub.add_parser("analyze")
    z.add_argument("--table", required=True)
    z.add_argument("--rsd", type=float, default=0.02)
    z.add_argument("--shuffle-partitions", type=int, default=None)
    z.add_argument("--master", default=None)

    args = p.parse_args(argv)
    out = {
        "generate": cmd_generate,
        "replay": cmd_replay,
        "verify": cmd_verify,
        "changes": cmd_changes,
        "compact": cmd_compact,
        "aggview": cmd_aggview,
        "analyze": cmd_analyze,
        "rollback": cmd_rollback,
    }[args.cmd](args)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
