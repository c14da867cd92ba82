"""Last-writer-wins dedup — the engine's core per-key operator.

The reference has no per-key ordering at all: its incrementality is a set
difference over whole file names (PyOrchDB/utilities/catalog.py:96-105)
and recorded timestamps are never compared. The north rule requires true
CDC semantics: per (repo, path) key, the event with the highest ``seq``
wins, ties broken deterministically by ``commit`` then ``op``
(SURVEY.md section 2.5).

Three equivalent implementations, chosen for scale behavior:

- ``lww_dedup`` — ``row_number() over (partition by keys order by seq
  desc)``: one shuffle + one sort of the rows. Measured fastest on
  realistic fat rows (~1 KiB content): 8M events dedup in 15.3s at
  local[32] vs 46.4s for a ``max_by`` hash aggregate — the sort-agg's
  per-row struct materialization is memory-bandwidth-bound and stops
  scaling with cores.
- ``lww_dedup_salted`` — explicit two-stage dedup (SURVEY.md section 4
  item 1) for the window path: stage 1 dedups within (key, salt) so a hot
  key arrives at the final per-key shuffle as at most ``n_salts`` rows.
  The salt derives from ``seq`` (never from the key), so downstream MERGE
  join keys are untouched. Required by the north rule.
- ``lww_dedup_bucketed`` — the fused merge+write plan: shuffle once by
  the STORAGE bucket (a function of the keys), sort in-partition by
  (bucket, keys, order), pick each key-run's first row with a null-safe
  lag comparison. Eliminates the separate per-key window exchange —
  LakeTable.merge runs on this (1 full-row exchange vs 2, verified in
  the physical plan).

All three produce identical results for any input (verified in
tests/test_dedup.py and property-style in tests/test_properties.py).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import lru_cache
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_KEYS = ("repo", "path")
DEFAULT_TIEBREAKERS = ("commit", "op")


def murmur3_int32(v: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of an IntegerType value (``F.hash`` /
    ``HashPartitioning``), reimplemented from the public algorithm
    (Murmur3_x86_32.hashInt, seed 42). Returns the signed 32-bit result.

    Needed driver-side to PRE-SOLVE partition placement: Spark's
    ``repartition(n, col)`` assigns ``pmod(murmur3(col), n)``, so hashing
    the n distinct ``_bucket`` ids into n partitions is balls-in-bins —
    measured on the 16M local-cluster gate: 4 of 8 write-stage partitions
    empty and loads of 3:2:2:1, i.e. the one-wave delta-write stage runs
    3x longer than its mean task. ``identity_shuffle_tokens`` inverts the
    hash instead (verified against ``F.hash`` in tests/test_dedup.py)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k1 = (v & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    k1 = k1 * c2 & 0xFFFFFFFF
    h1 = (seed ^ k1) & 0xFFFFFFFF
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= 4  # fmix: len in bytes
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


# above this width a shuffle runs many waves per slot anyway, so
# balls-in-bins load variance amortizes and the token array (a plan
# literal) stops paying for itself
IDENTITY_SHUFFLE_MAX_BUCKETS = 4096


@lru_cache(maxsize=64)
def identity_shuffle_tokens(n_buckets: int) -> tuple[int, ...]:
    """token[b] = the smallest int t with pmod(murmur3(t), n) == b, so
    that repartitioning by the token column places storage bucket b in
    shuffle partition EXACTLY b — one bucket per task, no empties, no
    collision skew. Coupon-collector scan, ~n*ln(n) hashes, cached."""
    toks: list[int | None] = [None] * n_buckets
    found, t = 0, 0
    while found < n_buckets:
        b = murmur3_int32(t) % n_buckets  # python % == pmod for n > 0
        if toks[b] is None:
            toks[b] = t
            found += 1
        t += 1
    return tuple(toks)  # type: ignore[arg-type]


def bucket_partition_token(n_buckets: int, bucket_col: str | Column = "_bucket"):
    """Column expr mapping ``bucket_col`` (0..n-1; a name or an expression)
    to its identity-shuffle token (IntegerType — Spark hashes int and long
    differently), or None when n_buckets is over the gate and plain
    bucket hashing is fine."""
    if n_buckets > IDENTITY_SHUFFLE_MAX_BUCKETS:
        return None
    toks = identity_shuffle_tokens(n_buckets)
    arr = F.lit(list(toks)).cast("array<int>")
    idx = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    return F.element_at(arr, (idx + 1).cast("int"))


def subsplit_index(keys: Sequence[str], sub_splits: int, bucket: Column):
    """Partition index combining the storage bucket with a key-hash
    sub-split: ``bucket * s + pmod(xxhash64('_sub', keys), s)``.

    Decouples WRITE PARALLELISM from the storage bucket count: a table
    whose n_buckets (sized for ~target_rows_per_file files) is below the
    cluster's slot count would otherwise run its one-wave merge/write
    stage on n_buckets tasks and idle the rest — measured at the 16M
    local-cluster[4,2] gate as slot utilization 0.845 vs 0.98 at one
    executor (BENCH/r5c/profile_serial.out). The sub-split is a hash of
    the KEYS ONLY (salted with a '_sub' literal so it is independent of
    the bucket hash), so every key's rows still land in exactly one
    partition — LWW winner-per-key selection and per-file key sort are
    untouched — and the s files a bucket gains per commit hold DISJOINT
    key sets, so read-side LWW resolution never orders rows between them.
    """
    sub = F.pmod(F.xxhash64(F.lit("_sub"), *[F.col(k) for k in keys]), F.lit(sub_splits))
    return bucket * sub_splits + sub


class BucketExchange(NamedTuple):
    """The exchange that places each storage bucket (or bucket sub-split)
    in its own shuffle partition: add ``columns``, repartition into
    ``n_parts`` by ``part``, drop ``helpers`` after the exchange."""

    columns: dict[str, Column]
    part: Column
    n_parts: int
    helpers: tuple[str, ...]


def bucket_exchange(
    n_buckets: int, keys: Sequence[str], bucket_col: str = "_bucket", sub_splits: int = 1
) -> BucketExchange:
    """The storage bucket ``pmod(xxhash64(keys), n)`` as ``bucket_col``,
    partitioned by its identity-shuffle token (``bucket_partition_token``)
    or, with ``sub_splits`` > 1, by the token of ``subsplit_index``. The
    columns are independent expressions of the input, so one
    ``withColumns`` adds them all."""
    s = max(1, int(sub_splits))
    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))
    idx = subsplit_index(keys, s, bucket) if s > 1 else bucket
    token = bucket_partition_token(n_buckets * s, idx)
    helpers = {}
    if token is not None:
        helpers["_ibp"] = token
    elif s > 1:
        helpers["_pidx"] = idx
    part_col = next(iter(helpers), bucket_col)
    return BucketExchange(
        {bucket_col: bucket, **helpers}, F.col(part_col), n_buckets * s, tuple(helpers)
    )


def _order_cols(seq_col: str, tiebreakers: Sequence[str]):
    return [F.col(seq_col).desc()] + [F.col(c).desc() for c in tiebreakers]


def lww_dedup(
    events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    tiebreakers: Sequence[str] = DEFAULT_TIEBREAKERS,
) -> DataFrame:
    """One row per key: the last writer."""
    tiebreakers = [c for c in tiebreakers if c in events.columns]
    w = Window.partitionBy(*keys).orderBy(*_order_cols(seq_col, tiebreakers))
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_salt_prestage(
    events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    tiebreakers: Sequence[str] = DEFAULT_TIEBREAKERS,
    n_salts: int = 16,
) -> DataFrame:
    """Stage 1 of salted LWW: winner per (key, salt) — a hot key leaves
    this stage as at most ``n_salts`` rows. Lossless: the global winner
    wins its own salt bucket. The salt derives from ``seq`` (never the
    key), so downstream key-based partitioning is untouched."""
    tiebreakers = [c for c in tiebreakers if c in events.columns]
    salt = F.pmod(F.xxhash64(F.col(seq_col), F.lit("salt")), F.lit(n_salts))
    w1 = Window.partitionBy(*list(keys), "_salt").orderBy(*_order_cols(seq_col, tiebreakers))
    return (
        events.withColumn("_salt", salt)
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_salt")
    )


def lww_dedup_salted(
    events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    tiebreakers: Sequence[str] = DEFAULT_TIEBREAKERS,
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted LWW dedup: (key, salt) pre-dedup, then final pick.

    Equivalent to ``lww_dedup`` for any input: the global winner per key
    is also the winner of its own salt bucket, so it survives stage 1 and
    wins stage 2.
    """
    pre = lww_salt_prestage(events, keys, seq_col, tiebreakers, n_salts)
    return lww_dedup(pre, keys, seq_col, tiebreakers)


class BucketedLww(NamedTuple):
    """``lww_dedup_bucketed``'s expressions for one (n_buckets, keys,
    order, sub_splits): the bucket exchange and the key-run start flag."""

    exchange: BucketExchange
    first_of_key: Column


def bucketed_lww_plan(
    n_buckets: int,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    tiebreakers: Sequence[str] = DEFAULT_TIEBREAKERS,
    bucket_col: str = "_bucket",
    sub_splits: int = 1,
) -> BucketedLww:
    """Build ``lww_dedup_bucketed``'s expressions; ``tiebreakers`` must
    all be columns of the input. A caller that dedups many batches into
    one layout builds this once (``LakeTable`` caches it) and passes it
    as ``plan``."""
    from functools import reduce
    from operator import or_

    x = bucket_exchange(n_buckets, keys, bucket_col, sub_splits)
    w = Window.partitionBy(x.part).orderBy(
        *[F.col(k).asc() for k in keys], *_order_cols(seq_col, tiebreakers)
    )
    first = reduce(or_, [~F.lag(F.col(k)).over(w).eqNullSafe(F.col(k)) for k in keys])
    return BucketedLww(x, first)


def lww_dedup_bucketed(
    events: DataFrame,
    n_buckets: int,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    tiebreakers: Sequence[str] = DEFAULT_TIEBREAKERS,
    bucket_col: str = "_bucket",
    sub_splits: int = 1,
    plan: BucketedLww | None = None,
) -> DataFrame:
    """LWW winners, shuffled by STORAGE BUCKET instead of by key — the
    fused merge+write plan (one full-row shuffle total).

    The lake's bucket ``pmod(xxhash64(keys), n)`` is a function of the
    keys, so every key's rows land in one bucket partition; an
    in-partition sort by (bucket, keys asc, order desc) then makes each
    key's winner exactly the first row of its key-run, selected with a
    null-safe lag comparison (no per-key window shuffle). Output keeps
    ``bucket_col`` and stays sorted by (bucket, keys) — precisely the
    layout ``LakeTable._write_bucketed`` needs, so the write adds NO
    further exchange. Versus window-LWW-then-bucketed-write this removes
    one full-row hash shuffle — the dominant memory-bound cost of replay.

    Equivalent to ``lww_dedup`` for any input (asserted in
    tests/test_dedup.py): same total order per key, same winner.

    The exchange distributes by an identity-shuffle TOKEN of the bucket,
    not the bucket id itself: hashing n distinct bucket ids into n
    partitions leaves ~37% of partitions empty and piles 2-4 buckets on
    others (measured 3x write-stage stretch at the one-wave 16M
    local-cluster gate), while the token places bucket b exactly in
    partition b. The window partitions by the same token (bijective with
    the bucket), so no second exchange is introduced.

    ``sub_splits`` > 1 widens the exchange to ``n_buckets * s`` partitions
    on a key-hash sub-split (see ``subsplit_index``) — write parallelism
    decoupled from the storage layout when the table is narrower than the
    cluster. Winner selection is unchanged: the sub-split is a function of
    the keys, so a key's rows never straddle partitions.

    ``plan``: a prebuilt ``bucketed_lww_plan`` of these arguments, which
    then are not read again.
    """
    if plan is None:
        tiebreakers = [c for c in tiebreakers if c in events.columns]
        plan = bucketed_lww_plan(n_buckets, keys, seq_col, tiebreakers, bucket_col, sub_splits)
    x = plan.exchange
    return (
        events.withColumns(x.columns)
        .repartition(x.n_parts, x.part)
        .withColumn("_win", plan.first_of_key)
        .filter("_win")
        .drop("_win", *x.helpers)
    )


def winner_tuples(
    events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    tiebreakers: Sequence[str] = DEFAULT_TIEBREAKERS,
) -> DataFrame:
    """Each key's winning (seq, tiebreakers) order tuple, computed over a
    COLUMN-PRUNED projection: ``max(struct(seq, commit, op))`` is exactly
    the LWW order (all-desc, nulls-last — struct comparison ranks a null
    field below any value, matching ``desc_nulls_last``), and the hash
    aggregate partial-combines map-side, so the shuffle carries at most
    one THIN row per key per map task — never the content column, and
    immune to key skew (a hot key collapses to one candidate per task
    before the exchange). Output columns: keys + order columns."""
    tiebreakers = [c for c in tiebreakers if c in events.columns]
    order_cols = [seq_col, *tiebreakers]
    return (
        events.groupBy(*keys)
        .agg(F.max(F.struct(*[F.col(c) for c in order_cols])).alias("_w"))
        .select(*keys, *[F.col(f"_w.{c}").alias(c) for c in order_cols])
    )


def prune_to_winners(
    events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    tiebreakers: Sequence[str] = DEFAULT_TIEBREAKERS,
    winners: DataFrame | None = None,
) -> DataFrame:
    """Thin-shuffle prestage (VERDICT r4 next #4 — shuffle byte-volume):
    drop every row that cannot win LWW *before* the fat bucket exchange.

    Two passes over the (columnar) source instead of one, but the wide
    shuffle downstream then carries ~|keys| fat rows instead of |events|:
    at the 16M-replay dup ratio (~4.7x per 4M batch, ~19x single-MERGE)
    that is the dominant shuffle-byte reduction available. Pass 1 is the
    thin ``winner_tuples`` aggregate; pass 2 re-reads the source WITH
    content and keeps only rows whose (keys, order) tuple equals their
    key's winner — a null-safe equi-join against the broadcast winner set
    (bounded by the batch's distinct keys; the probe side streams map-side
    with NO exchange).

    Lossless and exact: the true LWW winner's tuple IS the max, so it
    always survives; rows kept beyond it are exact order-ties (e.g.
    re-delivered duplicates), which the downstream LWW pass re-resolves
    to one row exactly as it would have without pruning. Equivalence is
    property-tested in tests/test_dedup.py.

    ``winners``: optionally a precomputed ``winner_tuples`` frame over an
    equivalent row set — ingest's fused paths pass a probe-free branch so
    lineage accumulators/observations are never evaluated twice."""
    tiebreakers = [c for c in tiebreakers if c in events.columns]
    order_cols = [seq_col, *tiebreakers]
    w = winners if winners is not None else winner_tuples(events, keys, seq_col, tiebreakers)
    # fresh names on the broadcast side: winners derives from `events`, so
    # reusing its attribute ids in a join condition would be ambiguous
    wren = w.select(
        *[F.col(c).alias(f"_wt_{c}") for c in [*keys, *order_cols]]
    )
    cond = None
    for c in [*keys, *order_cols]:
        e = F.col(c).eqNullSafe(F.col(f"_wt_{c}"))
        cond = e if cond is None else (cond & e)
    return events.join(F.broadcast(wren), cond, "left_semi")


def _parse_jvm_mem(s: str) -> int:
    """JVM memory-string to bytes; a bare number is MiB (Spark's
    ``byteStringAsMb`` convention for ``spark.executor.memory``)."""
    s = s.strip().lower()
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(float(s)) * 1024**2


def executor_heap_bytes(spark) -> int:
    """Best-effort executor JVM heap for sizing broadcast budgets.

    ``spark.executor.memory`` when set; otherwise Spark's 1g executor
    default for any real-cluster master (incl. ``local-cluster``), and
    the driver heap for ``local[*]`` where executors share the driver
    JVM. Measured consequence of guessing wrong: BENCH/r5c/
    cluster_1v4_thin.log — a ~100 MB winner broadcast OOM'd defaulted
    1g executors that the protocol string claimed were 6 GiB."""
    em = spark.conf.get("spark.executor.memory", None)
    if em:
        return _parse_jvm_mem(em)
    master = spark.conf.get("spark.master", "") or ""
    if master.startswith("local") and not master.startswith("local-cluster"):
        return _parse_jvm_mem(spark.conf.get("spark.driver.memory", None) or "1g")
    return 1024**3


def choose_salt_strategy(
    events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    sample_mod: int = 101,
    min_sample: int = 256,
    min_hot_rows: int = 20,
    max_salts: int = 64,
) -> tuple[bool, int]:
    """Adaptive skew strategy: decide plain vs salted LWW (+ ``n_salts``)
    from measured key frequency — SURVEY §4 item 1's "S scales with
    measured key frequency", closing the static-S=16 deviation (VERDICT
    r3 next #2: always-on salting cost 1.5x on uniform input).

    Evidence is a ~1/``sample_mod`` deterministic sample (xxhash64 of
    ``seq`` — partition-count-independent, stable across runs, never the
    key itself) aggregated to (sample size, hottest-key count): ONE
    column-pruned job whose shuffle carries only sampled key rows. Salting
    pays only when the hottest key materially exceeds a balanced shuffle
    partition (~n/P rows, P = the cluster's ``defaultParallelism``), so:

    - plain when the sample is too small to trust (< ``min_sample`` rows
      or hottest < ``min_hot_rows``) or the hot share <= 4/P;
    - else salted, with ``n_salts`` ≈ hot_share x P rounded up to a power
      of two in [8, ``max_salts``] — enough splits that the hot key's
      per-salt slice shrinks back to ~one balanced partition.

    Decide once per replay (the skew profile of a feed is stable);
    deciding per micro-batch would re-add a per-batch fixed-cost job
    (VERDICT r2 #1).
    """
    # legacy 2-tuple form: decide salting as if thin pruning were
    # unavailable (thin_dup_ratio=inf), so callers that cannot prune
    # still get the salted plan on hot-key feeds
    salted, n_salts, _thin = choose_strategies(
        events, keys, seq_col,
        sample_mod=sample_mod, min_sample=min_sample,
        min_hot_rows=min_hot_rows, max_salts=max_salts,
        thin_dup_ratio=float("inf"),
    )
    return salted, n_salts


def choose_strategies(
    events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    sample_mod: int = 101,
    min_sample: int = 256,
    min_hot_rows: int = 20,
    max_salts: int = 64,
    thin_dup_ratio: float = 2.0,
    thin_max_broadcast_bytes: float | None = None,
    thin_min_payload_bytes: float = 512.0,
) -> tuple[bool, int, bool]:
    """``choose_salt_strategy`` plus a thin-shuffle decision: returns
    ``(salted, n_salts, thin_shuffle)``.

    Skew evidence reuses the sampled per-row probe. The duplication ratio
    (events per distinct key) CANNOT come from that sample — a 1/101 row
    sample sees almost every key once regardless of the true ratio
    (measured: a ratio-5 feed sampled to ~1.0) — so it comes from one
    extra map-mostly aggregate over the full input: exact row count +
    ``approx_count_distinct`` HLL sketch of the key hash (partial-combined
    map-side; the shuffle carries one sketch per task, never key rows).
    ``prune_to_winners`` pays two source passes plus a broadcast, which
    wins only when the fat bucket exchange would carry materially more
    rows than keys — default crossover at ratio >= ``thin_dup_ratio``.
    When thin pruning is on, salting is redundant (the thin aggregate
    partial-combines map-side, so hot keys never concentrate an
    exchange partition), so thin forces plain LWW downstream.

    ``thin_max_broadcast_bytes``: budget for ``prune_to_winners``' winner
    broadcast, estimated as HLL-distinct-keys x avg key width from the
    same probe job. Default (None) is executor_heap/16 — calibrated by
    measurement, not theory: a ~110 MB (raw) winner set built a hash
    relation that OOM'd a 1 GiB executor (BENCH/r5c/cluster_1v4_thin.log)
    while the same set is invisible on a 24 GiB heap (the committed
    shuffle-byte table ran there); relation inflation plus two task
    slots' Arrow/shuffle working set leaves ~1/16 of heap a safe raw
    bound. Over budget, thin falls back to the fat-exchange path and the
    salt decision proceeds as if thin were unavailable — this is the
    100-TB guard: a full-sync batch's winner set scales with |distinct
    keys| and can NEVER be broadcast at that point, while a
    bucket-co-partitioned semi-join would re-shuffle the fat rows and
    erase thin's entire benefit, so falling back is strictly better.

    ``thin_min_payload_bytes``: thin's SAVINGS are the payload bytes the
    pruned rows would have carried through the exchange, while its COSTS
    (the thin pass-1 scan, the aggregate, the broadcast hash-probe of
    every row) are per-ROW and independent of payload width — so payload
    width is the decisive multiplier, and dup ratio alone over-triggers
    on narrow rows. Measured boundary on the 16M replay: ~190 B avg
    content lost wall clock at every parallelism level despite a 2.49x
    shuffle-byte cut (local[32]: BENCH/r5b/scaling2.json 240.7k vs
    293.5k ev/s at 4N; true-6g multi-JVM executors: BENCH/r5c/
    cluster_1v4_thin6g.json, 0.48x plain at 4 executors), while ~1 KiB
    avg content WON outright (committed byte table: coalesced MERGE
    245.6 s -> 197.9 s). 512 B sits between the measured lose/win
    points. Payload width comes from the same probe job (avg octet
    length of the non-key, non-order columns); rows with no payload
    columns have nothing to save and never prune."""
    spark = events.sparkSession
    # P = the task slots the cluster has, not the (session-mutable)
    # shuffle width; build_session sets both to the same value
    n_parts = spark.sparkContext.defaultParallelism
    sampled = events.select(*keys, seq_col).filter(
        F.pmod(F.xxhash64(F.col(seq_col), F.lit("salt-probe")), F.lit(sample_mod)) == 0
    )
    row = (
        sampled.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum("c").alias("n"), F.max("c").alias("mx"))
        .collect()[0]
    )
    n = int(row["n"] or 0)
    mx = int(row["mx"] or 0)
    thin = False
    if thin_dup_ratio != float("inf"):
        payload_cols = [c for c in events.columns if c not in {*keys, seq_col}]
        payload_w = (
            F.avg(F.octet_length(F.concat_ws(
                "", *[F.col(c).cast("string") for c in payload_cols])))
            if payload_cols else F.lit(0.0)
        )
        g = events.agg(
            F.count(F.lit(1)).alias("N"),
            F.approx_count_distinct(
                F.xxhash64(*[F.col(k) for k in keys]), 0.02
            ).alias("K"),
            F.avg(
                F.octet_length(
                    F.concat_ws("", *[F.col(k).cast("string") for k in keys])
                )
            ).alias("W"),
            payload_w.alias("P"),
        ).collect()[0]
        total = int(g["N"] or 0)
        kd = max(int(g["K"] or 0), 1)
        thin = bool(
            payload_cols  # nothing to save without payload columns
            and total >= min_sample
            and (total / kd) >= thin_dup_ratio
            and float(g["P"] or 0.0) >= thin_min_payload_bytes
        )
        if thin:
            # broadcast-budget gate (see docstring): winners are one row
            # per distinct key of (keys, seq, tiebreakers); 72 B covers
            # the order columns plus per-row tuple overhead.
            est_raw = kd * (float(g["W"] or 64.0) + 72.0)
            budget = (
                thin_max_broadcast_bytes
                if thin_max_broadcast_bytes is not None
                else executor_heap_bytes(spark) / 16
            )
            thin = est_raw <= budget
    if thin or n < min_sample or mx < min_hot_rows:
        return False, 16, thin
    hot_share = mx / n
    if hot_share <= 4.0 / n_parts:
        return False, 16, thin
    want = max(8, min(max_salts, int(hot_share * n_parts) + 1))
    n_salts = 1 << (want - 1).bit_length()  # next power of two
    return True, min(n_salts, max_salts), thin


def final_state(
    events: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    seq_col: str = "seq",
    salted: bool = False,
    n_salts: int = 16,
) -> DataFrame:
    """Replay semantics: LWW winners minus tombstones.

    Tombstones participate in the ordering (a delete with the max seq
    erases the key) but are excluded from the surviving state
    (SURVEY.md section 7, hard part 4).
    """
    dedup = (
        lww_dedup_salted(events, keys, seq_col, n_salts=n_salts)
        if salted
        else lww_dedup(events, keys, seq_col)
    )
    return dedup.filter(F.col("op") != "delete")
