"""The ingest pipeline: one change-event batch → lake table, exactly once.

This is the engine's equivalent of the reference's whole
build→curate→load→upload flow (PyOrchDB/main.py:106-265), collapsed into
a single declarative Catalyst plan per batch:

    raw events
      → ledger gate (skip committed batch_ids — driver-side, no job)
      → prepare: ICU NFC + path rules, sha256 (built-in expressions, no Python)
      → C3 quarantine predicate (invalid rows never merge)
      → LWW dedup (salted two-stage when skew expected)
      → MERGE INTO lake table: data files, then rejects, then ONE manifest
        link that carries the batch record (the only commit point)

There is one apply path, ``apply_batch``. The merge is merge-on-read
(MoR): a table's first commit writes its base files, every later commit
appends a delta, and the lineage/quarantine aggregates ride the
merge-write plan as an ``Observation`` — a clean batch is ONE Spark job,
in batch replay and in the streaming tail alike. ``maybe_compact`` is the
one compaction trigger, called by batch replay and the streaming tail
after each ``apply_batch``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from pyorchdb_spark.session import aqe_off
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import RETAIN_ALL_TOMBSTONES, LakeTable


@dataclass
class ApplyResult:
    batch_id: str
    skipped: bool
    version: int | None
    rows_in: int
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


def prepare_columns() -> dict[str, Column]:
    """The prepare step's column expressions (see ``prepare_events``)."""
    icu_nfc = F.java_method(F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), "path", F.lit(False))
    nfc = F.when(F.col("path").isNotNull(), icu_nfc)
    norm = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(nfc, r"^(\./)+", ""), r"/{2,}", "/"),
        # (?s) and \z: a newline in a path is just a character, as in _norm_one
        r"(?s)(.)/\z",
        "$1",
    )
    return {
        "path": norm,
        "content_sha256": F.when(F.col("op") == "delete", F.lit(None).cast("string")).otherwise(
            F.sha2("content", 256)
        ),
    }


def prepare_events(events: DataFrame, jvm_only: bool = False) -> DataFrame:
    """Curation: normalize paths, stamp content sha256 (engine columns).

    sha256 is the replay invariant (BASELINE.json:15); path normalization
    (NFC, strip leading ``./``, collapse ``//``, drop a trailing ``/``)
    keeps key identity stable across noisy producers (SURVEY.md 2.10).
    Both are built-in expressions, so no Python worker runs. NFC is ICU's
    (icu4j ships in pyspark's jars), and so is its Unicode version; ICU throws
    on the null that ``java_method`` passes through, hence the guard.
    """
    # jvm_only is ignored: perfbench's udf_probes is its only caller
    return events.withColumns(prepare_columns())


class _Quarantine(NamedTuple):
    """``apply_batch``'s quarantine expressions under one watermark."""

    reason: Column
    valid: Column
    observed: list[Column]  # the batch record's Observation aggregates


def _quarantine(keys, watermark_seq: int | None) -> _Quarantine:
    reason = invalid_reason(keys, watermark_seq=watermark_seq)
    valid = reason.isNull()
    seq_valid = F.when(valid, F.col("seq"))
    return _Quarantine(
        reason,
        valid,
        [
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(reason.isNotNull().cast("long")).alias("n_invalid"),
            F.sum((valid & (F.col("op") == "delete")).cast("long")).alias("tombstones"),
            F.max(seq_valid).alias("max_seq"),
            F.min(seq_valid).alias("min_seq"),
        ],
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
    rows_hint: int | None = None,
    thin_shuffle: bool = False,
) -> ApplyResult:
    """Apply one batch idempotently. Safe to call twice with the same id.

    The merge is merge-on-read (sources/lake.py): bytes written per batch
    stay proportional to the batch, never to the table. The
    lineage/quarantine aggregates ride the merge-write plan as an
    ``Observation`` instead of running as their own Spark job, so a clean
    batch — a table's first commit included — costs ONE Spark job. A
    minimal 2-stage job floors at ~0.3 s of pure scheduling in local
    mode, so at the 10^4-micro-batch design point a second job would be
    the single largest per-batch fixed cost. Used by batch replay and by
    the streaming tail's ``foreachBatch`` alike.

    ``rows_hint`` (e.g. the previous batch's row count) sizes the
    commit's bucket generation, since the fused path learns the true
    count only after the write; ``num_files`` fixes a fresh table's
    bucket count.

    ``thin_shuffle``: prune the batch to its LWW winner-tuple rows before
    the fat bucket exchange. The winner aggregate is computed from an
    OBSERVATION-FREE branch of the valid rows — an invalid row must never
    shadow the real winner, and the CollectMetrics node must appear
    exactly once in the plan (on the fat branch) or its counts would
    double.

    Lineage granularity is one row per batch (partition_id = -1): the
    observation yields global aggregates, and per-file granularity for
    the batch is already durable in the manifest (rows + footer seq
    ranges per bucket file).

    The batch record (lineage, reject counts, the rejects directory) is
    built after the data files are written and published by the same
    manifest link as the data (``LakeTable.merge(record=)``): a failure
    anywhere before the link leaves the batch uncommitted, and a retry
    applies it once.
    """
    if ledger.is_committed(batch_id):
        return ApplyResult(batch_id, skipped=True, version=None, rows_in=0)

    # AQE off for the span of one batch apply: a merge plan is
    # fixed-shape, and AQE would run its exchange as a second job (2
    # jobs/clean batch with AQE, 1 without). At the 10^4-micro-batch
    # design point that second job IS the dominant fixed cost this path
    # exists to remove (VERDICT r4 next #3).
    # The expressions come from the table's cache (LakeTable.plan_columns):
    # a commit rebuilds only what its head changed.
    with aqe_off(events.sparkSession):
        m = lake.manifest()
        wm = m.tombstone_watermark if m is not None else None
        q = lake.plan_columns("quarantine", wm, lambda: _quarantine(lake.keys, wm))
        prepared = events.withColumns(lake.plan_columns("prepare", None, prepare_columns))
        obs = Observation()
        src = prepared.observe(obs, *q.observed).filter(q.valid)
        if thin_shuffle:
            from pyorchdb_spark.operators.dedup import prune_to_winners, winner_tuples

            w = winner_tuples(prepared.filter(q.valid), keys=lake.keys)
            src = prune_to_winners(src, keys=lake.keys, winners=w)

        def record() -> dict:
            try:
                metrics = [{"partition_id": -1, **obs.get}]
            except Exception:
                # The observation can come back EMPTY (pyspark's conversion
                # then raises): when every row of a literal-sourced batch
                # folds away at optimization time (e.g. a single straggler
                # quarantined by the below-watermark predicate), Catalyst
                # collapses the plan to an empty LocalRelation and the
                # CollectMetrics node never executes. Such batches are
                # degenerate by construction, so pay one explicit (tiny)
                # metrics job for them; clean batches stay at one job.
                metrics = ledger.collect_partition_metrics(prepared, q.reason)
            rejected = sum(r["n_invalid"] or 0 for r in metrics)
            rejects = None
            if rejected:  # the rare reject path pays one extra job; clean batches never do
                rejects = ledger.record_rejects(
                    batch_id, prepared.withColumn("reject_reason", q.reason).filter(~q.valid)
                )
            return ledger.record_lineage(batch_id, metrics, rows_rejected=rejected, rejects=rejects)

        manifest = lake.merge(
            src,
            batch_id=batch_id,
            salted=salted,
            n_salts=n_salts,
            num_files=num_files,
            rows_hint=rows_hint,
            manifest=m,
            record=record,
        )
    rec = manifest.batch
    return ApplyResult(batch_id, False, manifest.version, rec["rows_in"], rec["rows_rejected"])


def maybe_compact(
    lake: LakeTable,
    ledger: BatchLedger,
    *,
    compact_factor: int,
    tombstone_lag_batches: int | None,
) -> None:
    """The compaction trigger, shared by batch replay and the
    streaming tail; call it after each ``apply_batch`` returns.

    Two gates, both driver-only arithmetic over the head manifest that
    ``apply_batch`` published (``LakeTable.manifest`` parses a head once,
    so this re-parses nothing): at least ``compact_factor`` delta commits
    accumulated AND some bucket group actually exceeds the fold bounds —
    otherwise stale cold-group delta dirs would keep the commit count high
    and re-run the watermark derivation and fold planning after every
    batch for nothing. The compaction is partial: only bucket groups
    whose delta backlog exceeds the bounds are rewritten, in one Spark
    job; cold buckets keep their base files.

    ``tombstone_lag_batches``: None retains ALL tombstones (arbitrarily
    late events may still arrive — no disorder contract declared);
    otherwise tombstones at or below the lineage low-watermark are dropped
    (see ``replay``)."""
    m = lake.manifest()
    if m is None:
        return
    delta_commits = len({f["path"].split("/")[1] for f in m.files if f.get("delta")})
    if delta_commits < compact_factor or not lake.partial_compaction_due(
        max_delta_files_per_group=compact_factor, manifest=m
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
    mor: bool = True,
    mor_compact_factor: int = 8,
    tombstone_lag_batches: int | None = None,
    thin_shuffle: bool | str = False,
    strategy_out: dict | None = None,
) -> list[ApplyResult]:
    """Batch-mode replay of a whole event log in batch_id order.

    Each batch after the first lands as a delta commit (write cost
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
    # mor: accepted for perfbench/workloads.py, its only caller; MoR is the only merge
    if not mor:
        raise ValueError("the lake is merge-on-read only: mor=False is not supported")
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
    # one job: AQE would add a job per exchange, and a distributed sort a
    # sampling job, for a list of a few thousand ids at most
    with aqe_off(events.sparkSession):
        batch_ids = sorted(r[0] for r in events.select("batch_id").distinct().collect())
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
            # the previous batch's row count sizes the delta generation
            # (replay feeds are near-constant batch size, and the hint
            # only picks a power-of-two layout)
            rows_hint=prev_rows,
            thin_shuffle=bool(thin_shuffle),
        )
        if not res.skipped and res.rows_in:
            prev_rows = res.rows_in
        results.append(res)
        maybe_compact(
            lake, ledger,
            compact_factor=mor_compact_factor,
            tombstone_lag_batches=tombstone_lag_batches,
        )
    return results
