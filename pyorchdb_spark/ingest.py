"""The ingest pipeline: one change-event batch → lake table, exactly once.

This is the engine's equivalent of the reference's whole
build→curate→load→upload flow (PyOrchDB/main.py:106-265), collapsed into
a single declarative Catalyst plan per batch:

    raw events
      → marker gate (skip committed batch_ids — one marker-file check)
      → normalize_path / sha256_content (vectorized pandas UDFs)
      → C3 quarantine predicate (invalid rows never merge)
      → LWW dedup (salted two-stage when skew expected)
      → MERGE INTO lake table
      → rejects + lineage + marker commit

There is one apply path. A merge-on-read (MoR) batch into a table that
already has files appends a delta commit, and its lineage/quarantine
aggregates ride the merge-write plan as an ``Observation``: a clean batch
is ONE Spark job, in batch replay and in the streaming tail alike. Every
other batch (copy-on-write, and the first commit of any table) runs the
metrics as a key-only scan first, because CoW must know the affected
buckets before it builds the merge plan. Both end in the same commit
tail. ``maybe_compact`` is the one MoR compaction trigger, called by
batch replay and the streaming tail after each ``apply_batch``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pyorchdb_spark.functions.udfs import normalize_path, sha256_content
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import RETAIN_ALL_TOMBSTONES, LakeTable, Manifest, bucket_expr


@dataclass
class ApplyResult:
    batch_id: str
    skipped: bool
    version: int | None
    rows_in: int
    table_rows_after: int
    rows_rejected: int = 0


# C3 quarantine predicate: an event must carry a key, a sequence, and a
# recognized op to be applicable; anything else goes to _rejects.
# ``watermark_seq``: the table's tombstone GC watermark — an event at or
# below it violates the ingest contract (compaction already dropped
# tombstones up to that seq) and MUST be quarantined, else a straggler
# upsert could resurrect a key whose tombstone is gone.
def invalid_reason(keys=("repo", "path"), watermark_seq: int | None = None):
    key_null = None
    for k in keys:
        cond = F.col(k).isNull() | (F.col(k) == "")
        key_null = cond if key_null is None else (key_null | cond)
    r = (
        F.when(key_null, F.lit("null_or_empty_key"))
        .when(F.col("seq").isNull(), F.lit("null_seq"))
        .when(
            # NULL-safe: ~isin(...) is NULL (not true) for op=NULL, which
            # would let the row slip past quarantine into stored state and
            # then vanish from reads (op != 'delete' drops NULL too).
            F.col("op").isNull() | ~F.col("op").isin("upsert", "delete"),
            F.lit("unknown_op"),
        )
    )
    if watermark_seq is not None:
        r = r.when(F.col("seq") <= F.lit(int(watermark_seq)), F.lit("below_watermark"))
    return r


def prepare_events(events: DataFrame, jvm_only: bool = False) -> DataFrame:
    """Curation: normalize paths, stamp content sha256 (engine columns).

    The sha256 column is the replay invariant (BASELINE.json:15); path
    normalization keeps key identity stable across noisy producers
    (SURVEY.md section 2.10). Both are Arrow-vectorized — no per-row
    Python anywhere in the plan.

    ``jvm_only=True`` swaps in the equivalent built-in expressions
    (``F.sha2``, regexp chain — byte-identical results on ASCII paths,
    cross-checked in tests). Used by the scaling bench to isolate engine
    scalability from python-worker co-scheduling: each pandas-UDF task
    occupies a JVM thread *plus* a python worker, so on one box a "task
    slot" silently consumes ~2 cores, flattening slot-count scaling runs.
    """
    if jvm_only:
        norm = F.regexp_replace(
            F.regexp_replace(F.regexp_replace(F.col("path"), r"^(\./)+", ""), r"/{2,}", "/"),
            r"(.)/$",
            "$1",
        )
        sha = F.sha2("content", 256)
    else:
        norm = normalize_path("path")
        sha = sha256_content("content")
    return events.withColumn("path", norm).withColumn(
        "content_sha256",
        F.when(F.col("op") == "delete", F.lit(None).cast("string")).otherwise(sha),
    )


def apply_batch(
    lake: LakeTable,
    ledger: BatchLedger,
    events: DataFrame,
    batch_id: str,
    *,
    salted: bool = False,
    n_salts: int = 16,
    num_files: int | None = None,
    jvm_only_udfs: bool = False,
    mor: bool = False,
    rows_hint: int | None = None,
    thin_shuffle: bool = False,
) -> ApplyResult:
    """Apply one batch idempotently. Safe to call twice with the same id.

    ``mor=True`` routes the merge through the delta-append path
    (sources/lake.py merge-on-read): bytes written per batch stay
    proportional to the batch, never to the table. Once the table has
    files, the lineage/quarantine aggregates of a MoR batch ride the
    merge-write plan as an ``Observation`` instead of running as their own
    Spark job, so a clean batch costs ONE Spark job. A minimal 2-stage job
    floors at ~0.3 s of pure scheduling in local mode, so at the
    10^4-micro-batch design point a second job would be the single largest
    per-batch fixed cost. CoW batches and a table's first commit run the
    metrics scan first: CoW needs the affected-bucket hit set BEFORE the
    merge plan is built.

    ``rows_hint`` (e.g. the previous batch's row count) sizes a MoR
    delta's bucket generation, since the fused path learns the true count
    only after the write.

    ``thin_shuffle``: prune the batch to its LWW winner-tuple rows before
    the fat bucket exchange (valid rows only: an invalid row must never
    shadow the real winner).
    """
    if ledger.is_committed(batch_id):
        return ApplyResult(batch_id, skipped=True, version=None, rows_in=0, table_rows_after=0)

    # AQE off for the span of one batch apply (saved/restored): a merge
    # plan is fixed-shape — one user-specified repartition(n_buckets) and
    # no joins — so AQE cannot improve it, but it MATERIALIZES the
    # exchange as its own stage-job, doubling the per-batch job count
    # (measured: 2 jobs/clean batch with AQE, 1 without). At the
    # 10^4-micro-batch design point that second job IS the dominant fixed
    # cost this path exists to remove (VERDICT r4 next #3). Session-scoped
    # conf: the engine assumes no concurrent queries inside one apply
    # (same single-writer contract the ledger already imposes).
    conf = events.sparkSession.conf
    aqe_prev = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        prepared = prepare_events(events, jvm_only=jvm_only_udfs)
        m = lake.manifest()
        reason = invalid_reason(
            lake.keys, watermark_seq=m.tombstone_watermark if m is not None else None
        )
        if mor and m is not None and m.files:
            manifest, metrics, rejected = _merge_fused(
                lake, ledger, prepared, batch_id, m, reason,
                salted=salted, n_salts=n_salts, rows_hint=rows_hint, thin_shuffle=thin_shuffle,
            )
        else:
            manifest, metrics, rejected = _merge_scanned(
                lake, ledger, prepared, batch_id, m, reason,
                salted=salted, n_salts=n_salts, num_files=num_files, mor=mor,
                thin_shuffle=thin_shuffle,
            )
        if rejected:
            # divert invalid rows to _rejects: the rare reject path pays
            # one extra job to materialize them; clean batches never do
            ledger.record_rejects(
                batch_id,
                prepared.withColumn("reject_reason", reason).filter(
                    F.col("reject_reason").isNotNull()
                ),
            )
        table_rows = sum(f["rows"] for f in manifest.files)
        rows_in = ledger.record_lineage(batch_id, metrics, table_rows_after=table_rows)
        ledger.commit_marker(batch_id, manifest.version, rows_in)
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe_prev)
    return ApplyResult(
        batch_id,
        skipped=False,
        version=manifest.version,
        rows_in=rows_in,
        table_rows_after=table_rows,
        rows_rejected=rejected,
    )


def _merge_scanned(
    lake: LakeTable,
    ledger: BatchLedger,
    prepared: DataFrame,
    batch_id: str,
    m: Manifest | None,
    reason,
    *,
    salted: bool,
    n_salts: int,
    num_files: int | None,
    mor: bool,
    thin_shuffle: bool,
) -> tuple[Manifest, list, int]:
    """Metrics scan, then merge: CoW batches and a table's first commit.

    ONE key-columns-only pass over the batch (the sha UDF is column-pruned
    out) computes, together: lineage metrics, C3 quarantine detection, AND
    — for the CoW path — the affected-bucket hit set per manifest
    generation that MERGE needs for file pruning. MoR commits touch no
    base file, so they skip the hit aggs. The batch is recomputed, not
    cached: Catalyst column-prunes the pandas UDFs out of this scan, so
    only the data-file write evaluates sha256 over content."""
    gens = [] if mor else LakeTable.bucket_gens(m)
    metrics = ledger.collect_partition_metrics(
        prepared,
        invalid_reason=reason,
        bucket_exprs={nb: bucket_expr(lake.keys, nb) for nb in gens},
    )
    # superset-safe when rejects are filtered below: an extra affected
    # file is rewritten with unchanged rows
    hits = {(nb, b) for r in metrics for nb in gens for b in (r[f"bkt_{nb}"] or [])}
    rejected = int(sum(r["n_invalid"] for r in metrics))
    src = prepared.filter(reason.isNull()) if rejected else prepared
    if thin_shuffle:
        # VERDICT r4 next #4: keep fat content rows out of the bucket
        # exchange — prune the batch to its LWW winner-tuple rows first
        # (thin map-combined aggregate + broadcast semi-join). Valid rows
        # only: an invalid row must never shadow the real winner.
        from pyorchdb_spark.operators.dedup import prune_to_winners

        src = prune_to_winners(prepared.filter(reason.isNull()), keys=lake.keys)
    manifest = lake.merge(
        src,
        batch_id=batch_id,
        salted=salted,
        n_salts=n_salts,
        num_files=num_files,
        mor=mor,
        # first-batch volume hint: sizes the initial bucket count so
        # files start near target_rows_per_file instead of a fixed 32
        rows_hint=int(sum(r["rows_in"] for r in metrics)),
        affected_hits=hits if gens else None,
        manifest=m,
    )
    return manifest, metrics, rejected


def _merge_fused(
    lake: LakeTable,
    ledger: BatchLedger,
    prepared: DataFrame,
    batch_id: str,
    m: Manifest,
    reason,
    *,
    salted: bool,
    n_salts: int,
    rows_hint: int | None,
    thin_shuffle: bool,
) -> tuple[Manifest, list, int]:
    """ONE-job MoR delta commit: the lineage/quarantine aggregates ride the
    merge-write plan as an ``Observation`` — no separate metrics job. Used
    by batch replay and by the streaming tail's ``foreachBatch`` alike.

    ``thin_shuffle``: the winner aggregate is computed from an
    OBSERVATION-FREE branch of the batch — the CollectMetrics node must
    appear exactly once in the plan (on the fat branch) or its counts
    would double.

    Lineage granularity is one row per batch (partition_id = -1): the
    observation yields global aggregates, and per-file granularity for
    the batch is already durable in the manifest's delta entries (rows +
    footer seq ranges per bucket file). ``low_watermark`` groups lineage
    by batch_id, so the watermark derivation is unchanged."""
    seq_valid = F.when(reason.isNull(), F.col("seq"))
    obs = Observation()
    observed = prepared.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(reason.isNotNull().cast("long")).alias("n_invalid"),
        F.sum((reason.isNull() & (F.col("op") == "delete")).cast("long")).alias("tombstones"),
        F.max(seq_valid).alias("max_seq"),
        F.min(seq_valid).alias("min_seq"),
    )
    src = observed.filter(reason.isNull())
    if thin_shuffle:
        from pyorchdb_spark.operators.dedup import prune_to_winners, winner_tuples

        w = winner_tuples(prepared.filter(reason.isNull()), keys=lake.keys)
        src = prune_to_winners(src, keys=lake.keys, winners=w)
    manifest = lake.merge(
        src,
        batch_id=batch_id,
        salted=salted,
        n_salts=n_salts,
        mor=True,
        rows_hint=rows_hint,
        manifest=m,
    )
    try:
        got = obs.get
        metrics = [
            {
                "partition_id": -1,
                "rows_in": int(got["rows_in"] or 0),
                "tombstones": got["tombstones"],
                "max_seq": got["max_seq"],
                "min_seq": got["min_seq"],
            }
        ]
        rejected = int(got["n_invalid"] or 0)
    except Exception:
        # The observation can come back EMPTY (pyspark's conversion then
        # raises): when every row of a literal-sourced batch folds away
        # at optimization time (e.g. a single straggler quarantined by
        # the below-watermark predicate), Catalyst collapses the plan to
        # an empty LocalRelation and the CollectMetrics node never
        # executes. Such batches are degenerate by construction, so pay
        # one explicit (tiny) metrics job for them; clean batches stay
        # at one job.
        metrics = ledger.collect_partition_metrics(prepared, invalid_reason=reason)
        rejected = int(sum(r["n_invalid"] for r in metrics))
    return manifest, metrics, rejected


def maybe_compact(
    lake: LakeTable,
    ledger: BatchLedger,
    *,
    compact_factor: int,
    tombstone_lag_batches: int | None,
) -> None:
    """The MoR compaction trigger, shared by batch replay and the
    streaming tail; call it after each ``apply_batch`` returns.

    Two gates, both driver-only arithmetic: at least ``compact_factor``
    delta commits accumulated AND some bucket group actually exceeds the
    fold bounds — otherwise stale cold-group delta dirs would keep the
    commit count high and re-trigger the (Spark-job) watermark derivation
    after every batch for nothing. The compaction is partial: only bucket
    groups whose delta backlog exceeds the bounds are rewritten; cold
    buckets keep their base files.

    ``tombstone_lag_batches``: None retains ALL tombstones (arbitrarily
    late events may still arrive — no disorder contract declared);
    otherwise tombstones at or below the lineage low-watermark are dropped
    (see ``replay``)."""
    m = lake.manifest()
    if m is None:
        return
    delta_commits = len({f["path"].split("/")[1] for f in m.files if f.get("delta")})
    if delta_commits < compact_factor or not lake.partial_compaction_due(
        max_delta_files_per_group=compact_factor
    ):
        return
    wm = None
    if tombstone_lag_batches is not None:
        wm = ledger.low_watermark(lag_batches=tombstone_lag_batches)
    lake.compact_partial(
        max_delta_files_per_group=compact_factor,
        tombstone_watermark_seq=RETAIN_ALL_TOMBSTONES if wm is None else wm,
    )


def replay(
    lake: LakeTable,
    ledger: BatchLedger,
    events: DataFrame,
    *,
    salted: bool | str = False,
    n_salts: int = 16,
    num_files: int | None = None,
    jvm_only_udfs: bool = False,
    mor: bool = False,
    mor_compact_factor: int = 8,
    tombstone_lag_batches: int | None = None,
    thin_shuffle: bool | str = False,
    strategy_out: dict | None = None,
) -> list[ApplyResult]:
    """Batch-mode replay of a whole event log in batch_id order.

    ``mor=True``: each batch lands as a delta commit (write cost
    proportional to the batch). Read cost grows with accumulated deltas,
    so the replay self-compacts (``maybe_compact``) once delta commits
    reach ``mor_compact_factor`` — amortized, the table is rewritten every
    K batches instead of every batch, turning per-batch write
    amplification from O(table) into O(table / K + batch).

    ``tombstone_lag_batches``: opt-in tombstone GC. When set, each
    self-compaction derives the ingest low-watermark from the lineage
    history (``BatchLedger.low_watermark``) under the contract that
    events arrive at most that many batches late, and physically drops
    tombstones at or below it; arriving events at/below the recorded
    watermark are quarantined (``below_watermark``), so a dropped
    tombstone can never be resurrected. Default None retains every
    tombstone (arbitrarily late events stay mergeable).

    ``salted="auto"``: measure key skew ONCE over the whole input (one
    sampled column-pruned job, ``choose_salt_strategy``) and pick
    plain/salted + n_salts from the evidence — uniform feeds keep plain
    throughput, hot-key feeds get just enough salt.

    ``thin_shuffle``: prune each batch to its LWW winner-tuple rows before
    the fat bucket exchange (VERDICT r4 next #4) — shuffle bytes then track
    distinct keys, not events. ``"auto"`` decides from the SAME sampled
    probe as ``salted="auto"`` (dup ratio >= 2); when thin wins, salting is
    redundant (the thin aggregate partial-combines map-side, so hot keys
    never concentrate an exchange partition) and is forced off.

    ``strategy_out``: optional dict the resolved decisions are written
    into (``salted``/``n_salts``/``thin``) — "auto" runs are otherwise
    unobservable from the outside, which made the round-5e thin matrix
    ambiguous about whether thin had even engaged.
    """
    if thin_shuffle is True:
        salted = False  # redundant under thin pruning (see docstring) —
        # decided BEFORE any salted="auto" probe so the answer it would
        # discard is never paid for (one sampled Spark job per replay)
    if salted == "auto" or thin_shuffle == "auto":
        from pyorchdb_spark.operators.dedup import choose_salt_strategy, choose_strategies

        if thin_shuffle == "auto":
            auto_salted, auto_n, thin_shuffle = choose_strategies(events, keys=lake.keys)
            if salted == "auto":
                salted, n_salts = auto_salted, auto_n
        else:
            salted, n_salts = choose_salt_strategy(events, keys=lake.keys)
    if thin_shuffle is True:
        salted = False
    if strategy_out is not None:
        strategy_out.update(
            salted=bool(salted), n_salts=n_salts, thin=bool(thin_shuffle)
        )
    batch_ids = [r[0] for r in events.select("batch_id").distinct().orderBy("batch_id").collect()]
    results = []
    prev_rows: int | None = None
    for b in batch_ids:
        res = apply_batch(
            lake,
            ledger,
            events.filter(F.col("batch_id") == b),
            b,
            salted=salted,
            n_salts=n_salts,
            num_files=num_files,
            jvm_only_udfs=jvm_only_udfs,
            mor=mor,
            # the previous batch's row count sizes the delta generation
            # (replay feeds are near-constant batch size, and the hint
            # only picks a power-of-two layout)
            rows_hint=prev_rows,
            thin_shuffle=bool(thin_shuffle),
        )
        if not res.skipped and res.rows_in:
            prev_rows = res.rows_in
        results.append(res)
        if mor:
            maybe_compact(
                lake, ledger,
                compact_factor=mor_compact_factor,
                tombstone_lag_batches=tombstone_lag_batches,
            )
    return results
