"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Conventions used throughout:
- the driver ``events`` table doubles as a generic change log:
  key = user_id, sequence = event_id, op = 'delete' when
  event_type = 'error' else 'upsert' (SURVEY.md section 5);
- every computed column is aliased identically in the Spark plan and the
  DuckDB SQL; ratios are exact rationals (int/int in double) so value
  hashes agree bit-for-bit.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyorchdb_spark.functions.text import (  # noqa: E402
    STOPWORDS,
    lang_id,
    stopword_ratio,
    token_count,
)
from pyorchdb_spark.operators.dedup import lww_dedup, lww_dedup_salted  # noqa: E402
from pyorchdb_spark.operators.dedup_docs import (  # noqa: E402
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shared_substring_pairs,
    simhash_pairs,
)
from pyorchdb_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    embedding_neardup_pairs,
)
from pyorchdb_spark.plans.merge import resolve_full_sync, resolve_merge  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events_as_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table viewed as a CDC stream (see module docstring)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id"),
        F.col("event_id"),
        F.col("event_type"),
        F.col("value"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("event_id").cast("string").alias("commit"),
        F.floor(F.col("event_id") / 1000).alias("batch_no"),
    )


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC replay semantics (LWW + tombstones) on sf0.001 events."""
    return q_cdc_final_state(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# CDC / engine queries (SURVEY.md sections 2.3-2.5, 2.9)
# --------------------------------------------------------------------------

def q_cdc_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key last-writer-wins pick — the engine's window operator."""
    cl = _events_as_changelog(spark, sf_dir)
    out = lww_dedup(cl, keys=("user_id",), seq_col="event_id", tiebreakers=())
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_lww_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted dedup — must equal the plain window (same oracle)."""
    cl = _events_as_changelog(spark, sf_dir)
    out = lww_dedup_salted(cl, keys=("user_id",), seq_col="event_id", tiebreakers=(), n_salts=8)
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def q_cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWW winners minus tombstones — replayed final table state."""
    cl = _events_as_changelog(spark, sf_dir)
    win = lww_dedup(cl, keys=("user_id",), seq_col="event_id", tiebreakers=())
    return win.filter(F.col("op") != "delete").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


def q_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics: state(first half) merged with second-half
    events == LWW final state over the whole log (idempotent upsert)."""
    cl = _events_as_changelog(spark, sf_dir)
    mid = 5_000
    first = cl.filter(F.col("event_id") < mid)
    # stored state retains tombstone winners (see plans/merge.py)
    target = lww_dedup(first, keys=("user_id",), seq_col="event_id", tiebreakers=())
    source = cl.filter(F.col("event_id") >= mid)
    merged = resolve_merge(target, source, keys=("user_id",), seq_col="event_id")
    return merged.filter(F.col("op") != "delete").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


def q_cdc_marker_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once gate (J1): drop events of committed batches via
    broadcast anti-join on batch id; count what remains per batch."""
    cl = _events_as_changelog(spark, sf_dir)
    committed = spark.range(0, 5).select(F.col("id").alias("batch_no"))
    remaining = cl.join(F.broadcast(committed), "batch_no", "left_anti")
    return remaining.groupBy("batch_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("event_id").alias("max_event_id"),
    )


def q_cdc_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-sync MERGE (WHEN NOT MATCHED BY SOURCE THEN DELETE,
    plans/merge.resolve_full_sync): the first-half state synced to the
    second-half snapshot — keys absent from the snapshot are tombstoned
    at the snapshot's high-watermark; live result = the snapshot keys'
    LWW winners over the whole log."""
    cl = _events_as_changelog(spark, sf_dir)
    target = lww_dedup(
        cl.filter(F.col("event_id") < 5_000),
        keys=("user_id",), seq_col="event_id", tiebreakers=(),
    )
    source = cl.filter(F.col("event_id") >= 5_000)
    synced = resolve_full_sync(target, source, keys=("user_id",), seq_col="event_id")
    return synced.filter(F.col("op") != "delete").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version diff — the table_changes CDC-read shape: per-key live
    state at the v1 cut vs the full log, emitting only keys that
    changed, classified insert/update/delete. One full-outer join of two
    thin winner tables."""
    cl = _events_as_changelog(spark, sf_dir)

    def live(df):
        w = lww_dedup(df, keys=("user_id",), seq_col="event_id", tiebreakers=())
        return w.filter(F.col("op") != "delete")

    s1 = live(cl.filter(F.col("event_id") < 5_000)).select(
        "user_id",
        F.col("event_id").alias("old_event_id"),
        F.col("value").alias("old_value"),
    )
    s2 = live(cl).select(
        "user_id",
        F.col("event_id").alias("new_event_id"),
        F.col("value").alias("new_value"),
    )
    j = s1.join(s2, ["user_id"], "full_outer")
    change = (
        F.when(F.col("old_event_id").isNull(), F.lit("insert"))
        .when(F.col("new_event_id").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return j.filter(
        F.col("old_event_id").isNull()
        | F.col("new_event_id").isNull()
        | (F.col("old_event_id") != F.col("new_event_id"))
    ).select(
        "user_id",
        change.alias("change_type"),
        "old_event_id",
        "new_event_id",
        "old_value",
        "new_value",
    )


def q_ivm_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/ivm.py): a GROUP BY
    aggregate of the first-half CDC state, maintained through two change
    batches by retraction deltas — O(changed keys) thin-row shuffles per
    batch, never a base-table rescan — must equal the oracle's full-log
    recompute exactly (decimal-exact retraction)."""
    from pyorchdb_spark.operators.ivm import _live, agg_view, group_contributions, ivm_step

    cl = _events_as_changelog(spark, sf_dir)
    state = lww_dedup(
        cl.filter(F.col("event_id") < 5_000),
        keys=("user_id",), seq_col="event_id", tiebreakers=(),
    )
    agg = group_contributions(_live(state), "event_type", ["value"])
    for lo, hi in ((5_000, 7_500), (7_500, None)):
        batch = cl.filter(F.col("event_id") >= lo)
        if hi is not None:
            batch = batch.filter(F.col("event_id") < hi)
        state, agg = ivm_step(
            state, batch, agg, "event_type", ["value"], keys=("user_id",), seq_col="event_id"
        )
        state = state.localCheckpoint(eager=False)
        agg = agg.localCheckpoint(eager=False)
    return agg_view(agg, ["value"]).select(
        F.col("grp").alias("state_type"),
        F.col("n_rows").alias("n_keys"),
        "total_value",
        "avg_value",
    )


def q_lineage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — lineage-style metrics: per event_type counts/sums/max-seq."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("event_id").alias("max_seq"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --------------------------------------------------------------------------
# curation operators (SURVEY.md section 2.2)
# --------------------------------------------------------------------------

def q_filter_not_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P7 — contains / anti-contains filters on a name column."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(~F.col("source").contains("1"))
        .filter(F.lower(F.col("lang")).contains("e"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_insert_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — extract a yyyy-mm-dd date from a filename-shaped string."""
    ev = _t(spark, sf_dir, "events")
    named = ev.select(
        "event_id",
        F.concat(F.lit("export_"), F.date_format("ts", "yyyy-MM-dd"), F.lit(".csv")).alias("fname"),
    )
    return named.select(
        "event_id",
        F.regexp_extract("fname", r"(\d{4}-\d{2}-\d{2})", 1).alias("periodo"),
    )


def q_distinct_directories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — distinct of a derived segment column (pruned scan + distinct)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(F.col("source").alias("directory")).distinct()


def q_union_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — unionByName(allowMissingColumns): additive schema evolution."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.col("n_chars").alias("extra_chars")
    )
    return old.unionByName(new, allowMissingColumns=True)


# --------------------------------------------------------------------------
# sessions (operators/timeseries.py; streaming/stateful.py holds the
# streaming twin — parity in tests/test_stateful_streaming.py)
# --------------------------------------------------------------------------

def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (strictly-greater-than-gap splits): one shuffle
    on user_id + two window functions; oracle = SQL gaps-and-islands."""
    from pyorchdb_spark.operators.timeseries import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, "ts", gap="1 day", keys=("user_id",))


# --------------------------------------------------------------------------
# CDC history projections (SCD2 / transitions)
# --------------------------------------------------------------------------

def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's event_type state over the changelog
    (operators/scd.py): consecutive identical states collapse into one
    half-open [valid_from, valid_to) version row."""
    from pyorchdb_spark.operators.scd import scd2_history

    ev = _t(spark, sf_dir, "events")
    return scd2_history(
        ev, key_cols=["user_id"], seq_col="event_id", state_cols=["event_type"]
    ).select("user_id", "event_type", "valid_from_seq", "valid_to_seq", "is_current")


def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (operators/scd.py scd2_apply_batch):
    build history from the first two-thirds of the changelog (by global
    sequence — per-key monotone by construction, the contract the replay
    path guarantees), then fold in the rest as a batch.  The oracle is
    the full-log rebuild — incremental maintenance must be
    indistinguishable from it."""
    from pyorchdb_spark.operators.scd import scd2_apply_batch, scd2_history

    ev = _t(spark, sf_dir, "events")
    # one bounded scalar: the split point
    thr = ev.agg(F.floor(F.max("event_id") * 2 / 3).alias("t")).first()[0]
    base = ev.filter(F.col("event_id") <= thr)
    late = ev.filter(F.col("event_id") > thr)
    hist = scd2_history(base, key_cols=["user_id"], seq_col="event_id", state_cols=["event_type"])
    out = scd2_apply_batch(
        hist, late, key_cols=["user_id"], seq_col="event_id", state_cols=["event_type"]
    )
    return out.select("user_id", "event_type", "valid_from_seq", "valid_to_seq", "is_current")


def q_scd2_lake_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-backed SCD2 (sources/scd_table.py, VERDICT r4 next #8): fold
    the changelog into a BUCKETED stored history in two commits — the
    second fold reads only the affected key-buckets via manifest
    arithmetic — then read the stored table. The oracle is the same
    full-log window rebuild as scd2_history: bucket-pruned incremental
    storage must be indistinguishable from it."""
    import shutil
    import tempfile

    from pyorchdb_spark.sources.scd_table import Scd2Table

    ev = _t(spark, sf_dir, "events")
    thr = ev.agg(F.floor(F.max("event_id") * 2 / 3).alias("t")).first()[0]
    root = tempfile.mkdtemp(prefix="scd2_lake_")
    try:
        t = Scd2Table(
            spark, root, key_cols=["user_id"], seq_col="event_id",
            state_cols=["event_type"],
        )
        t.apply_batch(ev.filter(F.col("event_id") <= thr), batch_id="b0", num_files=16)
        t.apply_batch(ev.filter(F.col("event_id") > thr), batch_id="b1")
        out = t.read().select(
            "user_id", "event_type", "valid_from_seq", "valid_to_seq", "is_current"
        )
        # materialize before the temp table vanishes (bounded: one row per
        # state run; the driver collects the result anyway)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_state_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event_type transition counts over each user's
    sequence-ordered changelog (operators/scd.py transition_counts)."""
    from pyorchdb_spark.operators.scd import transition_counts

    ev = _t(spark, sf_dir, "events")
    return transition_counts(ev, key_cols=["user_id"], seq_col="event_id", state_col="event_type")


# --------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text analysis
# --------------------------------------------------------------------------

def q_corpus_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide trigram document frequencies, top 50 — the vocabulary/
    boilerplate-discovery scan.  word_ngrams is per-doc DISTINCT, so the
    count is document frequency, not term frequency.  One shuffle on the
    gram with map-side partial counts; the top-k is TakeOrderedAndProject
    (no global sort materialization)."""
    from pyorchdb_spark.operators.dedup_docs import word_ngrams

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(word_ngrams("text", 3)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(50)
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 longest documents per language — the grouped top-k (window
    rank) shape: one shuffle on the group key, rank computed in the
    sorted partition pass, never a global sort."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("lang", "doc_id", "n_chars", "rk")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("rep_id")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.9, n=1, block_col="lang")


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. ACL'22 ExactSubstr criterion as
    a distributed gram join): doc pairs sharing a verbatim 8-token
    window, boilerplate windows (df > 100) excluded."""
    docs = _t(spark, sf_dir, "documents")
    return shared_substring_pairs(docs, k=8, max_df=100)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.5, num_hashes=32, bands=16, n=3)


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair -> group resolution: connected components over near-dup pairs
    (min-label propagation + pointer jumping, operators/components.py);
    oracle = DuckDB recursive-CTE transitive closure."""
    from pyorchdb_spark.operators.components import resolve_groups

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.9, n=1, block_col="lang")
    return resolve_groups(pairs).select("component_id", "n_members", "rep_id")


def q_dedup_fuzzy_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup: drop every non-representative member of
    each near-dup component; returns surviving doc ids."""
    from pyorchdb_spark.operators.components import drop_duplicates_by_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.9, n=1, block_col="lang")
    return drop_duplicates_by_pairs(docs, pairs, id_col="doc_id").select("doc_id")


def q_dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end scale-path dedup: MinHash-LSH pairs -> connected
    components -> duplicate groups. Oracle: the LSH output at these fixed
    params provably equals the exact 3-gram Jaccard pairs (see the
    dedup_minhash_lsh oracle note), so the recursive-CTE transitive
    closure over those exact edges is the groups oracle."""
    from pyorchdb_spark.operators.components import resolve_groups

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5, num_hashes=32, bands=16, n=3)
    return resolve_groups(pairs).select("component_id", "n_members", "rep_id")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup verification (VERDICT r3 next #5; made NON-VACUOUS
    in r5 — the old empty-set oracle could not distinguish "no violations"
    from "operator returned nothing"). The signatures are xxhash64
    bit-vote values no SQL engine can reproduce, so the oracle checks
    three SQL-derivable invariants in one summary row:

    (a) ``n_violations`` = pairs whose reported hamming disagrees with an
        INDEPENDENT numpy popcount of the XOR of the exported signatures,
        exceeds max_hamming, or is non-canonical — must be 0;
    (b) ``n_exact_pairs`` = exact-duplicate pairs (identical non-blank
        text) — computed from the data by BOTH engines, >0 at every SF;
    (c) ``n_exact_pairs_missing`` = exact-dup pairs the banding failed to
        emit — must be 0, because identical text ⇒ identical signature ⇒
        hamming 0, and pigeonhole banding has no bucket caps
        (operators/dedup_docs.py:412-465).

    The synthetic corpus carries no byte-identical duplicates, so (like
    q_scrub_pii / q_remove_boilerplate) the input is salted first with
    deterministic copies of every 50th doc — both engines derive the
    identical salted corpus, making (b)/(c) non-vacuous at every SF.

    Pair-set exactness vs a brute-force all-pairs scan is separately
    asserted in tests/test_docs_dedup.py."""
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 50 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
    )
    # with_signatures exports (s_a, s_b) so verification reuses the
    # signatures already computed inside the banding — not a second
    # corpus hashing pass
    pairs = simhash_pairs(docs, max_hamming=3, with_signatures=True)

    @F.pandas_udf("integer")
    def np_popcount(x: pd.Series) -> pd.Series:
        # numpy 1.x has no bitwise_count: view int64 as 8 bytes and
        # unpack to bits — one vectorized pass per Arrow batch
        a = x.to_numpy(dtype=np.int64).view(np.uint8).reshape(-1, 8)
        return pd.Series(np.unpackbits(a, axis=1).sum(axis=1).astype(np.int32))

    checked = pairs.withColumn(
        "np_ham", np_popcount(F.col("s_a").bitwiseXOR(F.col("s_b")))
    )
    viol = checked.filter(
        (F.col("hamming") != F.col("np_ham"))
        | (F.col("hamming") > 3)
        | (F.col("id_a") >= F.col("id_b"))
    )
    # exact-dup pairs on a thin sha key (never joins full text); blank
    # docs tokenize to nothing and carry no simhash row, so exclude them
    d = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("h")
    )
    ex_pairs = (
        d.select(F.col("doc_id").alias("id_a"), "h")
        .join(d.select(F.col("doc_id").alias("id_b"), "h"), "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    missing = ex_pairs.join(pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
    # single-row summary via one tagged union-aggregate (no cross join)
    u = (
        viol.select(F.lit("viol").alias("k"))
        .unionByName(ex_pairs.select(F.lit("exact").alias("k")))
        .unionByName(missing.select(F.lit("missing").alias("k")))
    )
    return u.agg(
        F.coalesce(F.sum((F.col("k") == "viol").cast("long")), F.lit(0)).alias("n_violations"),
        F.coalesce(F.sum((F.col("k") == "exact").cast("long")), F.lit(0)).alias("n_exact_pairs"),
        F.coalesce(F.sum((F.col("k") == "missing").cast("long")), F.lit(0)).alias("n_exact_pairs_missing"),
    )


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (email/IPv4/phone -> typed tokens) over doc text.
    The synthetic corpus carries no PII, so each doc's text is salted
    with deterministic doc_id-derived PII first — both engines derive
    the identical input, so the oracle exercises every pattern on every
    row (functions/text.scrub_pii; pure regexp_replace chain, no UDF)."""
    from pyorchdb_spark.functions.text import scrub_pii

    docs = _t(spark, sf_dir, "documents")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".17"),
        F.lit(" call +1 555 0198 "), F.col("doc_id").cast("string"),
    )
    return docs.select("doc_id", scrub_pii(salted).alias("clean_text"))


def q_remove_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line removal (operators/boilerplate.py).
    The single-line synthetic corpus is salted with deterministic shared
    header/footer lines (identically derivable in both engines): the
    headers recur across hundreds of docs and must be dropped; each
    doc's unique body line must survive."""
    from pyorchdb_spark.operators.boilerplate import remove_boilerplate_lines

    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("GENERATED FILE - DO NOT EDIT"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("cookie notice: accept all"))
            .otherwise(F.lit("nav: home | about | contact")),
            F.col("text"),
            F.lit("copyright 2024 example corp"),
        ).alias("text"),
    )
    return remove_boilerplate_lines(salted, min_doc_frequency=10).select(
        F.col("id").alias("doc_id"), "clean_text"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum quota (operators/sampling.stratified_quota):
    at most 30 docs per lang, picked in deterministic md5-hash order —
    sampleBy gives only approximate fractions; curation wants exact,
    engine-portable caps."""
    from pyorchdb_spark.operators.sampling import stratified_quota

    docs = _t(spark, sf_dir, "documents")
    return stratified_quota(
        docs.select("doc_id", "lang"),
        strata=["lang"],
        n_per_stratum=30,
        order_cols=["doc_id"],
    )


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic keyed train/val/test assignment
    (operators/sampling.hash_split — md5-bucket thresholds, portable
    bit-for-bit to DuckDB): per-doc split label plus per-split counts
    are both pinned by the oracle."""
    from pyorchdb_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(
        docs.select("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}, cols=["doc_id"]
    )


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the training-data pipeline a user of
    this engine actually runs, composed from the first-class pieces:
    quality gate (C4/Gopher heuristics) -> exact dedup (keep the lowest
    doc_id per content hash) -> deterministic train/val assignment.
    One oracle covers the whole chain. The clean synthetic corpus is
    salted so every stage does real work (identically in both engines):
    every 10th doc gets an exact duplicate at doc_id+100000 (the dedup
    stage must drop it) and every 17th doc's text becomes pure
    punctuation (the quality gate must drop it)."""
    from pyorchdb_spark.functions.text import quality_score
    from pyorchdb_spark.operators.dedup_docs import exact_dedup
    from pyorchdb_spark.operators.sampling import split_column

    base = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 0, F.lit("!!! ??? !!! ??? !!!"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    dups = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    docs = base.unionByName(dups)
    good = docs.filter(quality_score("text") >= 0.75)
    deduped = exact_dedup(good)
    return deduped.select(
        "doc_id", split_column({"train": 0.9, "val": 0.1}, ["doc_id"]).alias("split")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 3-gram overlap of every training doc
    against the held-out 'benchmark' slice (doc_id % 20 == 0) —
    operators/dedup_docs.ngram_contamination."""
    from pyorchdb_spark.operators.dedup_docs import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_contamination(corpus, bench, n=3).select(
        F.col("id").alias("doc_id"), "n_grams", "n_contaminated",
        F.round("contamination", 9).alias("contamination"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        stopword_ratio("text", "en").alias("stop_ratio_en"),
        lang_id("text").alias("lang_guess"),
    )


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality scoring (functions/text.py): BPE-ish token
    count, punctuation ratio, and a 4-term indicator score — all
    whole-stage-codegen built-ins; score terms are exact quarters so the
    value hash is float-safe."""
    from pyorchdb_spark.functions.text import bpe_token_count, punct_ratio, quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_token_count("text").cast("long").alias("n_bpe_tokens"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition signals (functions/text.py
    repetition_stats): duplicate-line fraction (pure array exprs) and
    top-2-gram mass (explode -> two partial aggs). Exact ratios of
    integer counts, so the value hash is float-safe after 9dp round."""
    from pyorchdb_spark.functions.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    out = repetition_stats(docs)
    return out.select(
        "doc_id",
        F.round("dup_line_frac", 9).alias("dup_line_frac"),
        F.round("top_2gram_frac", 9).alias("top_2gram_frac"),
    )


def q_normalize_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize_path pandas UDF, oracle-checked: synthesize noisy paths
    from the documents table, normalize, compare against the regexp form."""
    from pyorchdb_spark.functions.udfs import normalize_path

    docs = _t(spark, sf_dir, "documents")
    noisy = docs.select(
        "doc_id",
        F.concat(F.lit("./"), F.col("source"), F.lit("//docs///"), F.col("lang"), F.lit("/")).alias("p"),
    )
    return noisy.select("doc_id", normalize_path("p").alias("norm_path"))


def q_sha256_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sha256_content pandas UDF, oracle-checked against DuckDB sha256."""
    from pyorchdb_spark.functions.udfs import sha256_content

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", sha256_content("text").alias("sha"))


def q_lang_of_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang_of_path pandas UDF, oracle-checked: extension -> language tag."""
    from pyorchdb_spark.functions.udfs import lang_of_path

    docs = _t(spark, sf_dir, "documents")
    ext = (
        F.when(F.col("lang") == "en", F.lit(".py"))
        .when(F.col("lang") == "es", F.lit(".md"))
        .when(F.col("lang") == "de", F.lit(".rs"))
        .when(F.col("lang") == "fr", F.lit(".ts"))
        .otherwise(F.lit(".bin"))
    )
    paths = docs.select("doc_id", F.concat(F.col("source"), F.lit("/f"), ext).alias("p"))
    return paths.select("doc_id", lang_of_path("p").alias("lang_tag"))


def q_clean_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — general value cleaning (reference clean_db): accents folded,
    case/whitespace normalized; oracle = DuckDB strip_accents chain."""
    from pyorchdb_spark.operators.curate import clean_string_values

    docs = _t(spark, sf_dir, "documents")
    noisy = docs.select(
        "doc_id",
        F.concat(
            F.lit("  Café  "), F.upper("source"), F.lit("  ÑANDÚ\t"), F.col("lang")
        ).alias("cleaned"),
    )
    return clean_string_values(noisy, cols=["cleaned"])


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.sha2("text", 256).alias("fp"))


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact baseline; LSH path below)."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.3, exact=True).select("id_a", "id_b")


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-bucketed near-dup pairs, reported as a CONTAINMENT check
    (VERDICT round 1, next-round item 6): the LSH path exact-verifies
    cosine on candidates, so its output must be a subset of the exact
    all-pairs result. r5: non-vacuous summary form — one row with
    ``n_containment_violations`` (LSH pairs NOT in the exact set; must
    be 0) and ``n_true_pairs`` (the exact all-pairs count, derived from
    the data by BOTH engines, >0 at every test SF — proves neither side
    returned an empty result by accident). Recall (the part SQL can't
    pin down — hash-family-dependent) is asserted in
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    lsh = embedding_neardup_pairs(emb, threshold=0.3, exact=False, n_bits=6).select("id_a", "id_b")
    exact = embedding_neardup_pairs(emb, threshold=0.3, exact=True).select("id_a", "id_b")
    viol = lsh.join(exact, ["id_a", "id_b"], "left_anti")
    u = viol.select(F.lit("viol").alias("k")).unionByName(
        exact.select(F.lit("exact").alias("k"))
    )
    return u.agg(
        F.coalesce(F.sum((F.col("k") == "viol").cast("long")), F.lit(0)).alias(
            "n_containment_violations"
        ),
        F.coalesce(F.sum((F.col("k") == "exact").cast("long")), F.lit(0)).alias("n_true_pairs"),
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN verification (VERDICT r3 next #1b), dedup_embedding_lsh-
    style containment oracle: the candidate SET is quantizer-model-
    dependent (no SQL oracle can reproduce it), but every pair the IVF
    path RETURNS must (a) report a cos_sim equal (±1e-9) to the exact
    cosine recomputed by an INDEPENDENT numpy path over the same
    vectors, and (b) carry a rank consistent with (cos_sim desc,
    corpus_id asc) dense per query. This query returns one summary row
    per query_id, which must show zero such violations AND exactly k
    results (made NON-VACUOUS in r5: the old empty-violations oracle could
    not distinguish "all correct" from "operator returned nothing"; the
    per-query n_results=k row can — 3 probed cells of an 8-cell IVF always
    hold >= 5 valid candidates at every test SF). Recall vs brute force is
    asserted in tests/test_similarity.py."""
    from pyorchdb_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    res = ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3)

    @F.pandas_udf("double")
    def np_cos(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack([np.asarray(x, dtype=np.float64) for x in a.to_numpy()])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in b.to_numpy()])
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        denom = na * nb
        ok = denom > 0
        out = np.zeros(len(A))
        out[ok] = (A[ok] * B[ok]).sum(axis=1) / denom[ok]
        return pd.Series(out)

    qv = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qv"))
    cv = emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").cast("array<double>").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("corpus_id"))
    checked = (
        res.withColumn("rerank", F.row_number().over(w))
        .join(qv, "query_id")
        .join(cv, "corpus_id")
        .withColumn("np_sim", np_cos("qv", "cv"))
    )
    bad = (F.abs(F.col("cos_sim") - F.col("np_sim")) > 1e-9) | (
        F.col("rank") != F.col("rerank")
    )
    return checked.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_results"),
        F.sum(bad.cast("long")).alias("n_violations"),
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3)
    return brute_force_topk(emb, queries, k=5).select(
        "query_id", "corpus_id", F.col("rank").cast("long").alias("rank")
    )


# --------------------------------------------------------------------------
# registry + oracles
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # At most 50 entries: the correctness board records only the first 50.
    return {
        # CDC engine semantics, IVM and lineage
        "cdc_lww": q_cdc_lww,
        "cdc_lww_salted": q_cdc_lww_salted,
        "cdc_final_state": q_cdc_final_state,
        "cdc_merge_upsert": q_cdc_merge_upsert,
        "cdc_marker_antijoin": q_cdc_marker_antijoin,
        "cdc_full_sync": q_cdc_full_sync,
        "cdc_snapshot_diff": q_cdc_snapshot_diff,
        "ivm_group_stats": q_ivm_group_stats,
        "lineage_counts": q_lineage_counts,
        # CDC history projections
        "scd2_history": q_scd2_history,
        "scd2_incremental": q_scd2_incremental,
        "scd2_lake_incremental": q_scd2_lake_incremental,
        "state_transitions": q_state_transitions,
        "sessionize": q_sessionize,
        # reference-parity curate surface
        "union_evolution": q_union_evolution,
        "insert_period": q_insert_period,
        "filter_not_contains": q_filter_not_contains,
        "distinct_directories": q_distinct_directories,
        "clean_values": q_clean_values,
        # LLM-pipeline dedup / text / UDF / sampling ops
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_substring": q_dedup_substring,
        "dedup_groups": q_dedup_groups,
        "dedup_fuzzy_resolve": q_dedup_fuzzy_resolve,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_minhash_groups": q_dedup_minhash_groups,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "ann_topk": q_ann_topk,
        "ann_topk_ivf": q_ann_topk_ivf,
        "scrub_pii": q_scrub_pii,
        "decontaminate": q_decontaminate,
        "remove_boilerplate": q_remove_boilerplate,
        "stratified_sample": q_stratified_sample,
        "train_val_split": q_train_val_split,
        "curate_corpus": q_curate_corpus,
        "text_stats": q_text_stats,
        "doc_quality": q_doc_quality,
        "repetition_stats": q_repetition_stats,
        "fingerprint": q_fingerprint,
        "normalize_paths": q_normalize_paths,
        "sha256_udf": q_sha256_udf,
        "lang_of_path": q_lang_of_path,
        "corpus_ngrams": q_corpus_ngrams,
        "topk_per_group": q_topk_per_group,
    }


_LWW_SQL = """
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_event_type,
       value AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""

_FINAL_STATE_SQL = """
SELECT user_id,
       event_id AS last_event_id,
       value AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND event_type <> 'error'
"""

# SCD2 full-log rebuild: also the oracle for the INCREMENTAL path —
# folding a batch into an existing history must match the rebuild.
_SCD2_SQL = """
    WITH runs AS (
      SELECT user_id, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ), v AS (
      SELECT user_id, event_type, event_id AS valid_from_seq,
             lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
               AS valid_to_seq
      FROM runs WHERE chg = 1
    )
    SELECT user_id, event_type, valid_from_seq, valid_to_seq,
           valid_to_seq IS NULL AS is_current
    FROM v
"""

_TOKENS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')"

# 3-word shingles, mirroring operators/dedup_docs.word_ngrams(n=3): docs
# shorter than 3 tokens collapse to one whole-text shingle.
_SHINGLES3 = f"""CASE WHEN len({_TOKENS}) >= 3
  THEN list_distinct([array_to_string(({_TOKENS})[i:i+2], ' ')
                      for i in generate_series(1, len({_TOKENS}) - 2)])
  ELSE [array_to_string({_TOKENS}, ' ')] END"""

# 8-token windows, mirroring dedup_docs.shared_substring_pairs(k=8):
# STRICT — a doc under 8 tokens emits no windows (no whole-text fallback)
_WINDOWS8 = f"""CASE WHEN len({_TOKENS}) >= 8
  THEN list_distinct([array_to_string(({_TOKENS})[i:i+7], ' ')
                      for i in generate_series(1, len({_TOKENS}) - 7)])
  ELSE []::VARCHAR[] END"""


def _lang_id_sql() -> str:
    """Deterministic argmax over stopword votes, ties by language code."""
    score = {
        lang: f"len(list_filter({_TOKENS}, t -> t IN ({', '.join(repr(w) for w in words)})))"
        for lang, words in STOPWORDS.items()
    }
    langs = sorted(STOPWORDS)
    expr = f"'{langs[0]}'"
    best = score[langs[0]]
    for lang in langs[1:]:
        expr = f"CASE WHEN {score[lang]} > ({best}) THEN '{lang}' ELSE {expr} END"
        best = f"CASE WHEN {score[lang]} > ({best}) THEN {score[lang]} ELSE ({best}) END"
    return f"CASE WHEN ({best}) > 0 THEN {expr} ELSE 'und' END"


def oracle_sql() -> dict[str, str]:
    en = ", ".join(repr(w) for w in STOPWORDS["en"])
    return {
        "cdc_lww": _LWW_SQL,
        "cdc_lww_salted": _LWW_SQL,
        "cdc_final_state": _FINAL_STATE_SQL,
        "cdc_merge_upsert": _FINAL_STATE_SQL,
        "cdc_full_sync": """
            SELECT user_id, event_id AS last_event_id, value AS last_value
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1 AND event_type <> 'error'
              AND user_id IN (SELECT user_id FROM events WHERE event_id >= 5000)
        """,
        "cdc_snapshot_diff": """
            WITH s1 AS (
              SELECT user_id, event_id, value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
                FROM events WHERE event_id < 5000
              ) WHERE rn = 1 AND event_type <> 'error'
            ), s2 AS (
              SELECT user_id, event_id, value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
                FROM events
              ) WHERE rn = 1 AND event_type <> 'error'
            )
            SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
                   CASE WHEN s1.event_id IS NULL THEN 'insert'
                        WHEN s2.event_id IS NULL THEN 'delete'
                        ELSE 'update' END AS change_type,
                   s1.event_id AS old_event_id,
                   s2.event_id AS new_event_id,
                   s1.value AS old_value,
                   s2.value AS new_value
            FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
            WHERE s1.event_id IS NULL OR s2.event_id IS NULL
               OR s1.event_id <> s2.event_id
        """,
        # the maintained aggregate must equal the full-log recompute —
        # the oracle IS the recompute (incremental path has no SQL twin)
        "ivm_group_stats": """
            SELECT event_type AS state_type,
                   count(*) AS n_keys,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS DOUBLE)
                       AS total_value,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS DOUBLE)
                       / count(*) AS avg_value
            FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1 AND event_type <> 'error'
            GROUP BY event_type
        """,
        "cdc_marker_antijoin": """
            SELECT CAST(floor(event_id / 1000) AS BIGINT) AS batch_no,
                   count(*) AS n_events,
                   max(event_id) AS max_event_id
            FROM events
            WHERE floor(event_id / 1000) >= 5
            GROUP BY 1
        """,
        "lineage_counts": """
            SELECT event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value,
                   max(event_id) AS max_seq,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "filter_not_contains": """
            SELECT source, count(*) AS n_docs
            FROM documents
            WHERE source NOT LIKE '%1%' AND lower(lang) LIKE '%e%'
            GROUP BY source
        """,
        "insert_period": """
            SELECT event_id,
                   regexp_extract('export_' || strftime(ts, '%Y-%m-%d') || '.csv',
                                  '(\\d{4}-\\d{2}-\\d{2})', 1) AS periodo
            FROM events
        """,
        "distinct_directories": "SELECT DISTINCT source AS directory FROM documents",
        "union_evolution": """
            SELECT doc_id, lang, NULL::BIGINT AS extra_chars FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, lang, n_chars AS extra_chars FROM documents WHERE doc_id % 2 = 1
        """,
        "sessionize": """
            WITH o AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR ts > lag(ts) OVER w + INTERVAL 1 DAY
                          THEN 1 ELSE 0 END AS brk
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT *, sum(brk) OVER (
                PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
              ) AS sess FROM o
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM s GROUP BY user_id, sess
        """,
        "scd2_history": _SCD2_SQL,
        "scd2_incremental": _SCD2_SQL,
        "scd2_lake_incremental": _SCD2_SQL,
        "state_transitions": """
            SELECT prev_state, next_state, count(*) AS n_transitions FROM (
              SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
                       AS prev_state,
                     event_type AS next_state
              FROM events
            ) WHERE prev_state IS NOT NULL
            GROUP BY prev_state, next_state
        """,
        "corpus_ngrams": f"""
            SELECT gram, count(*) AS doc_freq FROM (
              SELECT unnest({_SHINGLES3}) AS gram
              FROM documents WHERE len({_TOKENS}) > 0
            ) GROUP BY gram
            ORDER BY doc_freq DESC, gram ASC LIMIT 50
        """,
        "topk_per_group": """
            SELECT lang, doc_id, n_chars, rk FROM (
              SELECT lang, doc_id, n_chars,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY n_chars DESC, doc_id ASC) AS rk
              FROM documents
            ) WHERE rk <= 3
        """,
        "dedup_exact": """
            SELECT sha256(text) AS content_hash,
                   count(*) AS n_dups,
                   min(doc_id) AS rep_id
            FROM documents GROUP BY sha256(text)
        """,
        "scrub_pii": r"""
            SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                         || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17'
                         || ' call +1 555 0198 ' || CAST(doc_id AS VARCHAR),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                '\+?\b\d[\d \-()]{7,}\d\b', '<PHONE>', 'g') AS clean_text
            FROM documents
        """,
        "curate_corpus": f"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 17 = 0 THEN '!!! ??? !!! ??? !!!'
                          ELSE text END AS text
              FROM documents
            ),
            salted AS (
              SELECT doc_id, text FROM base
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text FROM base WHERE doc_id % 10 = 0
            ),
            t AS (
              SELECT doc_id, text,
                     len({_TOKENS}) AS n_tok,
                     CASE WHEN length(text) > 0
                          THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)
                               / length(text) ELSE 0.0 END AS praw,
                     CASE WHEN len({_TOKENS}) > 0
                          THEN CAST(len(list_filter({_TOKENS},
                                 x -> x IN ('the','and','of','to','is','that','with','for'))) AS DOUBLE)
                               / len({_TOKENS}) ELSE 0.0 END AS sraw,
                     CASE WHEN len({_TOKENS}) > 0
                          THEN CAST(length(text) AS DOUBLE) / len({_TOKENS})
                          ELSE 0.0 END AS mean_len
              FROM salted
            ),
            good AS (
              SELECT doc_id, text FROM t
              WHERE (CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
                     + CASE WHEN praw < 0.3 THEN 1.0 ELSE 0.0 END
                     + CASE WHEN sraw > 0.01 THEN 1.0 ELSE 0.0 END
                     + CASE WHEN mean_len BETWEEN 2.0 AND 15.0 THEN 1.0 ELSE 0.0 END
                    ) / 4.0 >= 0.75
            ),
            dedup AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY sha256(text))
            SELECT doc_id,
                   CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'), 1, 8)) AS BIGINT) % 10000 < 9000
                        THEN 'train' ELSE 'val' END AS split
            FROM dedup
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang, row_number() OVER (
                PARTITION BY lang
                ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'), 1, 8)) AS BIGINT) % 2147483648,
                         doc_id
              ) AS rk
              FROM documents
            ) WHERE rk <= 30
        """,
        "train_val_split": """
            SELECT doc_id,
                   CASE
                     WHEN b < 8000 THEN 'train'
                     WHEN b < 9000 THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM (
              SELECT doc_id,
                     CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'), 1, 8)) AS BIGINT) % 10000 AS b
              FROM documents
            )
        """,
        "remove_boilerplate": """
            WITH salted AS (
              SELECT doc_id,
                     'GENERATED FILE - DO NOT EDIT' || chr(10)
                     || CASE WHEN doc_id % 2 = 0 THEN 'cookie notice: accept all'
                             ELSE 'nav: home | about | contact' END || chr(10)
                     || text || chr(10)
                     || 'copyright 2024 example corp' AS text
              FROM documents
            ),
            split AS (
              SELECT doc_id, string_split(text, chr(10)) AS ls FROM salted
            ),
            lines AS (
              SELECT doc_id, u['ord'] AS ord, u['line'] AS line FROM (
                SELECT doc_id,
                       unnest([{'ord': i, 'line': ls[i]}
                               for i in generate_series(1, len(ls))]) AS u
                FROM split
              )
            ),
            boiler AS (
              SELECT line FROM lines WHERE trim(line) <> ''
              GROUP BY line HAVING count(DISTINCT doc_id) >= 10
            )
            SELECT doc_id, string_agg(l.line, chr(10) ORDER BY l.ord) AS clean_text
            FROM lines l LEFT JOIN boiler b ON l.line = b.line
            WHERE b.line IS NULL
            GROUP BY doc_id
        """,
        "decontaminate": f"""
            WITH bench AS (
              SELECT DISTINCT unnest({_SHINGLES3}) AS gram
              FROM documents WHERE doc_id % 20 = 0 AND len({_TOKENS}) > 0
            ),
            doc_grams AS (
              SELECT doc_id, unnest({_SHINGLES3}) AS gram
              FROM documents WHERE doc_id % 20 <> 0 AND len({_TOKENS}) > 0
            )
            SELECT d.doc_id, count(*) AS n_grams,
                   CAST(count(b.gram) AS BIGINT) AS n_contaminated,
                   round(CAST(count(b.gram) AS DOUBLE) / count(*), 9) AS contamination
            FROM doc_grams d LEFT JOIN bench b ON d.gram = b.gram
            GROUP BY d.doc_id
        """,
        "dedup_substring": f"""
            WITH g AS (
              SELECT doc_id AS _id, unnest({_WINDOWS8}) AS gram FROM documents
            ), keep AS (
              SELECT gram FROM g GROUP BY gram HAVING count(*) BETWEEN 2 AND 100
            )
            SELECT DISTINCT a._id AS id_a, b._id AS id_b
            FROM g a JOIN keep USING (gram) JOIN g b USING (gram)
            WHERE a._id < b._id
        """,
        "dedup_ngram_jaccard": f"""
            WITH sig AS (
              SELECT doc_id AS id, lang AS blk,
                     list_distinct({_TOKENS}) AS grams
              FROM documents WHERE len({_TOKENS}) > 0
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
            FROM sig a JOIN sig b ON a.blk = b.blk AND a.id < b.id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.9
        """,
        "dedup_groups": f"""
            WITH RECURSIVE sig AS (
              SELECT doc_id AS id, lang AS blk,
                     list_distinct({_TOKENS}) AS grams
              FROM documents WHERE len({_TOKENS}) > 0
            ),
            edges AS (
              SELECT a.id AS id_a, b.id AS id_b
              FROM sig a JOIN sig b ON a.blk = b.blk AND a.id < b.id
              WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.9
            ),
            und AS (
              SELECT id_a AS s, id_b AS d FROM edges
              UNION SELECT id_b, id_a FROM edges
            ),
            reach(a, b) AS (
              SELECT s, d FROM und
              UNION
              SELECT r.a, u.d FROM reach r JOIN und u ON r.b = u.s
            ),
            comp AS (
              SELECT a AS id, LEAST(a, MIN(b)) AS component_id FROM reach GROUP BY a
            )
            SELECT CAST(component_id AS BIGINT) AS component_id,
                   count(*) AS n_members,
                   CAST(min(id) AS BIGINT) AS rep_id
            FROM comp GROUP BY component_id
        """,
        "dedup_fuzzy_resolve": f"""
            WITH RECURSIVE sig AS (
              SELECT doc_id AS id, lang AS blk,
                     list_distinct({_TOKENS}) AS grams
              FROM documents WHERE len({_TOKENS}) > 0
            ),
            edges AS (
              SELECT a.id AS id_a, b.id AS id_b
              FROM sig a JOIN sig b ON a.blk = b.blk AND a.id < b.id
              WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.9
            ),
            und AS (
              SELECT id_a AS s, id_b AS d FROM edges
              UNION SELECT id_b, id_a FROM edges
            ),
            reach(a, b) AS (
              SELECT s, d FROM und
              UNION
              SELECT r.a, u.d FROM reach r JOIN und u ON r.b = u.s
            ),
            comp AS (
              SELECT a AS id, LEAST(a, MIN(b)) AS component_id FROM reach GROUP BY a
            )
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component_id)
        """,
        # dedup_minhash_lsh: with the fixed seeds/params here, the LSH
        # candidate set provably-with-overwhelming-probability covers every
        # pair at J>=0.5 (P[miss] = (1-J^2)^16 and the verify is exact), and
        # the result is deterministic — so the oracle is the exact 3-gram
        # Jaccard itself (verified equal; any regression hash-fails here).
        "dedup_minhash_lsh": f"""
            WITH sig AS (SELECT doc_id AS id, {_SHINGLES3} AS grams FROM documents WHERE len({_TOKENS}) > 0)
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
            FROM sig a JOIN sig b ON a.id < b.id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
        """,
        # dedup_minhash_groups: same edge set as dedup_minhash_lsh (exact
        # 3-gram Jaccard >= 0.5 — see the note above), closed transitively.
        "dedup_minhash_groups": f"""
            WITH RECURSIVE sig AS (
              SELECT doc_id AS id, {_SHINGLES3} AS grams
              FROM documents WHERE len({_TOKENS}) > 0
            ),
            edges AS (
              SELECT a.id AS id_a, b.id AS id_b
              FROM sig a JOIN sig b ON a.id < b.id
              WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
            ),
            und AS (
              SELECT id_a AS s, id_b AS d FROM edges
              UNION SELECT id_b, id_a FROM edges
            ),
            reach(a, b) AS (
              SELECT s, d FROM und
              UNION
              SELECT r.a, u.d FROM reach r JOIN und u ON r.b = u.s
            ),
            comp AS (
              SELECT a AS id, LEAST(a, MIN(b)) AS component_id FROM reach GROUP BY a
            )
            SELECT CAST(component_id AS BIGINT) AS component_id,
                   count(*) AS n_members,
                   CAST(min(id) AS BIGINT) AS rep_id
            FROM comp GROUP BY component_id
        """,
        # dedup_embedding_lsh is a containment check (see the query
        # docstring): zero LSH-not-in-exact violations, anchored by the
        # SQL-derived true all-pairs count so an empty result can't pass.
        "dedup_embedding_lsh": """
            SELECT CAST(0 AS BIGINT) AS n_containment_violations,
                   CAST(count(*) AS BIGINT) AS n_true_pairs
            FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
            WHERE list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                         CAST(e2.embedding AS DOUBLE[])) >= 0.3
        """,
        # ann_topk_ivf / dedup_simhash are verification queries (see
        # their docstrings): the quantizer-model / hash-family dependent
        # candidate sets can't be reproduced in SQL, but their reported
        # distances are re-derived independently in-engine. r5: both now
        # return NON-VACUOUS summaries — result/exact-dup counts the SQL
        # side derives from the data, not just empty violation sets.
        "ann_topk_ivf": """
            SELECT vec_id AS query_id,
                   CAST(5 AS BIGINT) AS n_results,
                   CAST(0 AS BIGINT) AS n_violations
            FROM embeddings WHERE vec_id < 3
        """,
        "dedup_simhash": """
            WITH s AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 50 = 0
            ), d AS (
              SELECT doc_id, text FROM s WHERE length(trim(text)) > 0
            ), g AS (
              SELECT count(*) AS n FROM d GROUP BY text HAVING count(*) > 1
            )
            SELECT CAST(0 AS BIGINT) AS n_violations,
                   CAST(coalesce(sum(n * (n - 1) // 2), 0) AS BIGINT) AS n_exact_pairs,
                   CAST(0 AS BIGINT) AS n_exact_pairs_missing
            FROM g
        """,
        "text_stats": f"""
            SELECT doc_id,
                   len({_TOKENS}) AS n_tokens,
                   CASE WHEN len({_TOKENS}) > 0
                        THEN CAST(len(list_filter({_TOKENS}, t -> t IN ({en}))) AS DOUBLE)
                             / len({_TOKENS})
                        ELSE 0.0 END AS stop_ratio_en,
                   {_lang_id_sql()} AS lang_guess
            FROM documents
        """,
        "doc_quality": f"""
            WITH t AS (
              SELECT doc_id, text,
                     len({_TOKENS}) AS n_tok,
                     len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
                     CASE WHEN length(text) > 0
                          THEN CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)
                               / length(text) ELSE 0.0 END AS praw,
                     CASE WHEN len({_TOKENS}) > 0
                          THEN CAST(len(list_filter({_TOKENS},
                                 x -> x IN ('the','and','of','to','is','that','with','for'))) AS DOUBLE)
                               / len({_TOKENS}) ELSE 0.0 END AS sraw,
                     CASE WHEN len({_TOKENS}) > 0
                          THEN CAST(length(text) AS DOUBLE) / len({_TOKENS})
                          ELSE 0.0 END AS mean_len
              FROM documents
            )
            SELECT doc_id,
                   n_bpe AS n_bpe_tokens,
                   round(praw, 6) AS punct_ratio,
                   (CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END
                    + CASE WHEN praw < 0.3 THEN 1.0 ELSE 0.0 END
                    + CASE WHEN sraw > 0.01 THEN 1.0 ELSE 0.0 END
                    + CASE WHEN mean_len BETWEEN 2.0 AND 15.0 THEN 1.0 ELSE 0.0 END
                   ) / 4.0 AS quality
            FROM t
        """,
        "repetition_stats": """
            WITH lines AS (
              SELECT doc_id, string_split(text, chr(10)) AS l FROM documents
            ),
            toks AS (
              SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
              FROM documents
            ),
            g AS (
              SELECT doc_id, list_extract(t, i) || ' ' || list_extract(t, i + 1) AS gram
              FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 2
            ),
            tc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
            top AS (
              SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS tg FROM tc GROUP BY 1
            )
            SELECT lines.doc_id,
                   round(CASE WHEN len(l) > 0
                         THEN CAST(len(l) - len(list_distinct(l)) AS DOUBLE) / len(l)
                         ELSE 0.0 END, 9) AS dup_line_frac,
                   round(COALESCE(tg, 0.0), 9) AS top_2gram_frac
            FROM lines LEFT JOIN top USING (doc_id)
        """,
        "clean_values": """
            SELECT doc_id,
                   regexp_replace(
                     trim(lower(strip_accents(
                       '  Café  ' || upper(source) || '  ÑANDÚ' || chr(9) || lang))),
                     '\\s+', ' ', 'g') AS cleaned
            FROM documents
        """,
        "fingerprint": "SELECT doc_id, sha256(text) AS fp FROM documents",
        "normalize_paths": """
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace('./' || source || '//docs///' || lang || '/', '^(\\./)+', ''),
                       '/{2,}', '/', 'g'),
                     '(.)/$', '\\1') AS norm_path
            FROM documents
        """,
        "sha256_udf": "SELECT doc_id, sha256(text) AS sha FROM documents",
        "lang_of_path": """
            SELECT doc_id,
                   CASE lang WHEN 'en' THEN 'python' WHEN 'es' THEN 'markdown'
                             WHEN 'de' THEN 'rust' WHEN 'fr' THEN 'typescript'
                             ELSE 'unknown' END AS lang_tag
            FROM documents
        """,
        "dedup_embedding": """
            SELECT e1.vec_id AS id_a, e2.vec_id AS id_b
            FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
            WHERE list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                                         CAST(e2.embedding AS DOUBLE[])) >= 0.3
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id < 3),
                 c AS (SELECT vec_id AS corpus_id, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings)
            SELECT query_id, corpus_id, rank FROM (
              SELECT q.query_id, c.corpus_id,
                     row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.corpus_id ASC
                     ) AS rank
              FROM q, c WHERE q.query_id <> c.corpus_id
            ) WHERE rank <= 5
        """,
    }

