"""Logical MERGE INTO plan, expressed as a pure DataFrame rewrite.

Replaces the reference's append-then-override SQL load
(PyOrchDB/utilities/tools.py:103-133) with true upsert/delete semantics:

    MERGE INTO target t USING source s
      ON t.repo = s.repo AND t.path = s.path
      WHEN MATCHED AND s.op = 'delete' AND s.seq > t.seq THEN DELETE
      WHEN MATCHED AND s.seq > t.seq THEN UPDATE SET *
      WHEN NOT MATCHED AND s.op <> 'delete' THEN INSERT *

Because the engine's conflict rule is total (last-writer-wins over
``seq`` with deterministic tiebreakers), the whole statement collapses to
one algebraic form:

    merged = final_state( target_rows  UNION BY NAME  source_rows )

which Catalyst executes as one hash-partitioned aggregate — no join at
all, and it is *idempotent*: re-applying an already-applied batch is a
no-op (the ``s.seq > t.seq`` guard falls out of the LWW ordering). That
is what makes re-applying a batch safe when no ledger record says it
was applied (SURVEY.md section 7, hard part 1).

**Tombstones are retained in stored state** (op='delete' rows survive the
merge; they are filtered out of user-facing reads). This is load-bearing
for out-of-order delivery ACROSS batches: if batch B1 applies a delete at
seq 200 and batch B2 later delivers an upsert at seq 100, only the
retained tombstone can veto the resurrection. Tombstone GC happens at
compaction time (LakeTable.compact) once the ingest low-watermark passes
the tombstone's seq — the same contract as Kafka compacted topics /
Cassandra tombstones / Iceberg MoR deletes.

``unionByName(allowMissingColumns=True)`` is simultaneously the additive
schema-evolution mechanism: a batch introducing a new column unions with
old target rows carrying null (SURVEY.md section 4 item 3).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyorchdb_spark.operators.dedup import DEFAULT_KEYS, lww_dedup, lww_dedup_salted


def resolve_merge(
    target_rows: DataFrame,
    source_events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    salted: bool = False,
    n_salts: int = 16,
) -> DataFrame:
    """Return the post-merge stored state of the given target slice.

    Both inputs carry the ``op`` column; the result is the LWW winner per
    key *including* tombstone winners (see module docstring). Callers
    expose user-facing state by filtering ``op != 'delete'``.
    """
    unioned = target_rows.unionByName(source_events, allowMissingColumns=True)
    if salted:
        return lww_dedup_salted(unioned, keys=keys, seq_col=seq_col, n_salts=n_salts)
    return lww_dedup(unioned, keys=keys, seq_col=seq_col)


def resolve_full_sync(
    target_rows: DataFrame,
    source_events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
) -> DataFrame:
    """MERGE with the full-sync clause family — the Delta/Iceberg

        WHEN NOT MATCHED BY SOURCE THEN DELETE

    shape: the source batch is a COMPLETE snapshot of the desired key
    universe, so after the ordinary LWW merge, target keys ABSENT from
    the source become tombstones. Returns stored state (tombstones
    retained, as everywhere in this engine).

    LWW coherence rules (the part a naive anti-join delete gets wrong):

    - synthesized tombstones carry ``seq = hw + 1`` where ``hw`` is the
      source's max seq — they out-order everything the snapshot could
      have seen, but genuinely NEWER events (seq > hw, e.g. a racing
      batch from another feeder) still win their tie-break-free LWW
      comparison later;
    - a target key whose current winner is ALREADY newer than the
      snapshot (``seq > hw``) is NOT deleted — the snapshot predates it
      and has no authority over it.

    The high-watermark is a one-row aggregate joined back on a constant
    key (broadcast hash join of a single row) — no driver-side collect,
    no cross join. An EMPTY source coalesces the watermark to -inf, so
    the sync is a NO-OP (every target key is "newer than" the empty
    snapshot and survives) — a missing/zero-row feed must not silently
    delete the table, the classic NOT-MATCHED-BY-SOURCE footgun.
    """
    merged = resolve_merge(target_rows, source_events, keys=keys, seq_col=seq_col)
    src_keys = source_events.select(*keys).distinct()
    missing = merged.join(src_keys, list(keys), "left_anti")
    hw = (
        source_events.agg(
            F.coalesce(F.max(F.col(seq_col)), F.lit(-(1 << 62))).alias("_hw")
        )
        .withColumn("_k", F.lit(1))
    )
    missing = missing.withColumn("_k", F.lit(1)).join(F.broadcast(hw), "_k").drop("_k")
    tombstoned = (
        missing.filter(F.col(seq_col) <= F.col("_hw"))
        .withColumn("op", F.lit("delete"))
        .withColumn(seq_col, (F.col("_hw") + 1).cast("long"))
        .drop("_hw")
    )
    survivors_newer = missing.filter(F.col(seq_col) > F.col("_hw")).drop("_hw")
    matched = merged.join(src_keys, list(keys), "left_semi")
    return matched.unionByName(tombstoned).unionByName(survivors_newer)
