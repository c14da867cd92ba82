"""Deterministic change-event generator (FIXTURES.md F1).

Synthesizes the binlog/WAL-shaped change log of source-code repositories
the engine ingests: ``(repo, path, commit, seq, op, lang, content,
batch_id, ts [, lang_variant])`` — the input_hint schema plus the CDC
envelope.

Design constraints (SURVEY.md section 7 M0):

- **Everything is a pure function of the row id** (``xxhash64`` of the id
  plus a salt string), so the data is identical regardless of partition
  count, parallelism level, or run — required so the local[8] vs local[32]
  scaling benchmark reads byte-identical logical input.
- **No Python loops, no RDDs, no UDFs** — ``spark.range`` + column
  expressions only; generation itself is distributed and whole-stage
  codegen'd.
- Baked-in pathologies: Zipf-skewed hot repos (salting target), ~3 events
  per key (LWW always exercised), 10% tombstones, ~2% duplicate
  deliveries (same seq re-emitted), mid-stream additive ``lang_variant``
  column (schema-evolution test).

Replaces the reference's notion of "input" (a listing of raw csv/xlsx
blobs, PyOrchDB/main.py:380-385) with an event log; the reference's
``catalog.csv`` incrementality (PyOrchDB/utilities/catalog.py:96-105)
maps to ``batch_id`` ranges here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Modulus for turning xxhash64 output into a uniform [0, 1) double.
_M = 1_000_003

_EXTS = [".py", ".md", ".rs", ".ts", ".java"]
_LANGS = ["python", "markdown", "rust", "typescript", "java"]
_DIRS = ["src", "lib", "core", "util", "api", "cli", "tests", "docs"]
# nfc_noise spellings, (composed, decomposed) by index: Latin acute/grave
# and Hangul L+V, whose NFC is the same in every Unicode version
_NFC = ["\u00e9", "\u00e8", "\u00e1", "\uac00", "\ub098"]
_NFD = ["e\u0301", "e\u0300", "a\u0301", "\u1100\u1161", "\u1102\u1161"]


def _u(col, salt: str):
    """Deterministic uniform [0,1) double derived from a column + salt."""
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(_M)).cast("double") / F.lit(
        float(_M)
    )


def change_events(
    spark: SparkSession,
    n_events: int,
    *,
    n_repos: int = 200,
    events_per_key: float = 3.0,
    batch_size: int = 10_000,
    zipf_exponent: float = 3.0,
    tombstone_pct: int = 10,
    duplicate_mod: int = 50,
    evolution_batch: int | None = None,
    num_partitions: int | None = None,
    content_max_reps: int = 16,
    path_mod: int = 997,
    key_space: str = "grid",
    hot_share: float = 0.0,
    nfc_noise: float = 0.0,
) -> DataFrame:
    """Build the deterministic change-event DataFrame.

    ``evolution_batch``: batches >= this index populate ``lang_variant``
    (column is present but all-null before it — callers that want a true
    mid-stream schema change drop the column for earlier batches, see
    ``split_batches``).
    """
    n_keys = max(1, int(n_events / events_per_key))
    parts = num_partitions or spark.sparkContext.defaultParallelism

    base = spark.range(0, n_events, 1, parts)

    # Key identity: uniform over n_keys, then repo drawn Zipf-ish from the
    # key (power transform concentrates mass near repo 0 → hot repos).
    #
    # key_space="grid" (default, pinned bit-identical by test_generator):
    # floor(u * n_keys) where u comes from the _M = 1,000,003-value uniform
    # grid — so distinct key ids are capped at ~1M regardless of n_keys
    # (the round-5g finding). key_space="wide" draws the key id with full
    # 64-bit hash resolution, pmod n_keys, so |keys| genuinely tracks
    # n_events / events_per_key into the 10^7-8 regime the 10^10-event
    # target implies (key-axis sweep part 2).
    if key_space == "wide":
        key_id = F.pmod(F.xxhash64(F.col("id"), F.lit("key")), F.lit(n_keys)).cast("long")
    else:
        key_id = F.floor(_u(F.col("id"), "key") * n_keys).cast("long")
    if hot_share > 0.0:
        # hot-key stress (salting/skew target at matrix scale): a
        # deterministic ``hot_share`` fraction of EVENTS collapses onto
        # key 0 — one (repo, path) identity receiving that share of the
        # whole log, the round-4 Zipf-stress shape as a generator knob.
        # Default 0.0 leaves the pinned-bit-identical grid untouched.
        key_id = (
            F.when(_u(F.col("id"), "hot") < F.lit(hot_share), F.lit(0))
            .otherwise(key_id)
            .cast("long")
        )
    repo_id = F.floor(
        F.pow(_u(key_id, "repo"), F.lit(zipf_exponent)) * n_repos
    ).cast("long")
    ext_idx = F.pmod(F.xxhash64(key_id, F.lit("ext")), F.lit(len(_EXTS)))

    dir1 = F.element_at(F.lit(_DIRS), (F.pmod(F.xxhash64(key_id, F.lit("d1")), F.lit(len(_DIRS))) + 1).cast("int"))
    dir2 = F.element_at(F.lit(_DIRS), (F.pmod(F.xxhash64(key_id, F.lit("d2")), F.lit(len(_DIRS))) + 1).cast("int"))
    ext = F.element_at(F.lit(_EXTS), (ext_idx + 1).cast("int"))
    lang = F.element_at(F.lit(_LANGS), (ext_idx + 1).cast("int"))

    if nfc_noise > 0.0:
        # non-NFC producers: a deterministic ``nfc_noise`` share of keys gets
        # an accented dir suffix, spelled composed or decomposed per event,
        # so one key reaches the log in both forms. Default 0.0 leaves the
        # pinned-bit-identical grid untouched.
        pick = (F.pmod(F.xxhash64(key_id, F.lit("nfc_ch")), F.lit(len(_NFC))) + 1).cast("int")
        nfd = F.pmod(F.xxhash64(F.col("id"), F.lit("nfd")), F.lit(2)) == 0
        accent = F.element_at(F.when(nfd, F.lit(_NFD)).otherwise(F.lit(_NFC)), pick)
        dir2 = F.when(_u(key_id, "nfc") < nfc_noise, F.concat(dir2, F.lit("_"), accent)).otherwise(dir2)

    # ~5% of paths carry "./" noise — exercises path normalization.
    raw_path = F.concat(
        F.when(F.pmod(F.xxhash64(key_id, F.lit("noise")), F.lit(20)) == 0, F.lit("./")).otherwise(F.lit("")),
        dir1, F.lit("/"), dir2, F.lit("/mod_"),
        # path_mod bounds the distinct-path image (|DIRS|^2 * path_mod *
        # |EXTS| combos): at the default 997 that is ~319k paths, which is
        # what saturates distinct (repo, path) at ~855k regardless of
        # n_events — the CHURN-axis shape. Raising it (key-axis sweeps)
        # scales key cardinality with the event count instead.
        F.pmod(F.xxhash64(key_id, F.lit("mod")), F.lit(path_mod)).cast("string"),
        ext,
    )

    df = base.select(
        F.col("id").alias("seq"),
        F.concat(F.lit("repo_"), repo_id.cast("string")).alias("repo"),
        raw_path.alias("path"),
        key_id.alias("_key_id"),
        lang.alias("lang"),
    )

    commit = F.substring(
        F.sha2(F.concat_ws("|", "repo", "path", F.col("seq").cast("string")), 256), 1, 40
    )
    op = F.when(
        F.pmod(F.xxhash64(F.col("seq"), F.lit("op")), F.lit(100)) < tombstone_pct,
        F.lit("delete"),
    ).otherwise(F.lit("upsert"))

    # Deterministic pseudo-source body, 64-4096 chars: a header line +
    # 1..16 repeats of a 256-char block derived from (key, seq).
    block = F.sha2(F.concat_ws("#", F.col("_key_id").cast("string"), F.col("seq").cast("string")), 512)
    # content length 64..(128*content_max_reps) chars — a workload knob:
    # fat rows stress shuffle/write bandwidth, thin rows stress per-row CPU
    reps = (F.pmod(F.xxhash64(F.col("seq"), F.lit("len")), F.lit(content_max_reps)) + 1).cast("int")
    content = F.concat(
        F.lit("def f_"),
        F.col("_key_id").cast("string"),
        F.lit("():\n    return '"),
        F.repeat(block, reps),
        F.lit("'\n"),
    )

    batch_no = F.floor(F.col("seq") / batch_size)
    df = df.select(
        "repo",
        "path",
        commit.alias("commit"),
        F.col("seq"),
        op.alias("op"),
        "lang",
        content.alias("content"),
        F.format_string("b%06d", batch_no).alias("batch_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("seq")).alias("ts"),
        (
            F.when(
                F.lit(evolution_batch is not None) & (batch_no >= F.lit(evolution_batch or 0)),
                F.concat(F.lit("variant_"), F.pmod(F.xxhash64("seq", F.lit("var")), F.lit(3)).cast("string")),
            ).otherwise(F.lit(None).cast("string"))
        ).alias("lang_variant"),
    )

    # Duplicate deliveries: re-emit ~1/duplicate_mod of rows verbatim
    # (same seq — the exactly-once/idempotency test surface).
    dups = df.filter(F.pmod(F.xxhash64("seq", F.lit("dup")), F.lit(duplicate_mod)) == 0)
    return df.unionAll(dups)


def split_batches(events: DataFrame, *, drop_variant_before: str | None = None):
    """Yield ``(batch_id, batch_df)`` in batch order.

    When ``drop_variant_before`` is set, batches lexicographically below it
    have ``lang_variant`` physically absent — a true mid-stream additive
    schema change for the evolution tests.
    """
    batch_ids = [r[0] for r in events.select("batch_id").distinct().orderBy("batch_id").collect()]
    for b in batch_ids:
        bdf = events.filter(F.col("batch_id") == b)
        if drop_variant_before is not None and b < drop_variant_before:
            bdf = bdf.drop("lang_variant")
        yield b, bdf


def write_events(events: DataFrame, path: str, *, partition_by_batch: bool = True) -> None:
    """Materialize the log once so every bench run reads identical bytes."""
    w = events.write.mode("overwrite")
    if partition_by_batch:
        w = w.partitionBy("batch_id")
    w.parquet(path)
