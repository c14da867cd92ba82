"""The benchmark's workloads and the checks and probes around them.

Both workloads drive the engine only through public library calls
(``ingest.replay``, ``streaming.tail.tail_events``, ``LakeTable``
reads). A pass applies the whole log into a fresh table (and, for the
tail, a fresh checkpoint); a run makes passes until ``--seconds`` of
pass wall have elapsed, and at least ``MIN_PASSES``. Checks run after the
timed window.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import shutil
import sys
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from perfbench.inputs import Log, LogShape, load_log, seed_token, write_log
from perfbench.probes import (
    LEDGER_SPANS,
    Recorder,
    TailProgress,
    median,
    self_times,
    union_length,
)
from pyorchdb_spark import ingest
from pyorchdb_spark.operators.dedup import lww_dedup
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import LakeTable
from pyorchdb_spark.streaming import tail


# mor_compact_factor of every pass: one inline compaction per 5-batch log
COMPACT_FACTOR = 3
# the medians of a run rest on at least this many timed passes
MIN_PASSES = 3

WORKLOADS = {
    # batch MoR replay of coarse fat-content batches: the data path (UDFs,
    # LWW exchange, parquet write) grows with the batch; one inline
    # compaction per pass
    "replay_bulk": LogShape(5, 8_000, 4),
    # Structured-Streaming tail, one small log batch per micro-batch:
    # bound by per-batch fixed cost (gate, job, ledger, compaction)
    "tail_micro": LogShape(5, 3_000, 2),
}


@dataclass
class PassResult:
    wall: float
    commits: list
    table: str


# ---------- running one pass ----------


def run_pass(spark, workload: str, log: Log, events, table: str, rec: Recorder) -> PassResult:
    shutil.rmtree(table, ignore_errors=True)
    lake, ledger = LakeTable(spark, table), BatchLedger(spark, table)
    n0 = len(rec.commits)
    t0 = time.perf_counter()
    if workload == "replay_bulk":
        with rec.span("ingest.replay") as s:
            rec.root = s.sid
            ingest.replay(lake, ledger, events, mor=True, mor_compact_factor=COMPACT_FACTOR)
    else:
        with rec.span("tail.query") as s:
            rec.root = s.sid
            q = tail.tail_events(
                spark, log.path, lake, ledger, os.path.join(table, "_checkpoint"),
                mor=True, available_now=True,
                max_files_per_trigger=log.files_per_batch,
                mor_compact_factor=COMPACT_FACTOR,
            )
            q.awaitTermination()
    wall = time.perf_counter() - t0
    rec.root = None
    return PassResult(wall, rec.commits[n0:], table)


def clean_commits(p: PassResult) -> list:
    """The pass's commits minus the first (bootstrap) and the compacting ones."""
    return [c for c in p.commits[1:] if not c.compacted]


def warm_up(spark, workload: str, log: Log, run_dir: str) -> None:
    """Untimed pass over every other file of the log's first two batches
    (base rows and duplicate deliveries alike), compacting after the delta
    commit, so the bootstrap, delta and compaction paths all run."""
    table = os.path.join(run_dir, "warm")
    lake, ledger = LakeTable(spark, table), BatchLedger(spark, table)
    src = os.path.join(run_dir, "warm-log")  # hard links: same bytes and mtimes
    for b in log.batch_ids[:2]:
        d = f"batch_id={b}"
        os.makedirs(os.path.join(src, d))
        for f in sorted(x for x in os.listdir(os.path.join(log.path, d)) if x.endswith(".parquet"))[::2]:
            os.link(os.path.join(log.path, d, f), os.path.join(src, d, f))
    if workload == "replay_bulk":
        ingest.replay(lake, ledger, spark.read.parquet(src), mor=True, mor_compact_factor=1)
    else:
        tail.run_tail_to_completion(
            spark, src, lake, ledger, os.path.join(table, "_checkpoint"),
            mor=True, max_files_per_trigger=log.files_per_batch // 2, mor_compact_factor=1,
        )
    shutil.rmtree(src)
    shutil.rmtree(table)


# ---------- bytes ----------


def write_bytes(lake: LakeTable) -> dict[int, tuple[int, int]]:
    """{version: (files, bytes)} of the data files each version added."""
    seen: set[str] = set()
    out = {}
    for v in range(1, (lake.current_version() or 0) + 1):
        m = lake.manifest(v)
        new = [f["path"] for f in m.files if f["path"] not in seen]
        seen.update(new)
        out[v] = (len(new), sum(os.path.getsize(os.path.join(lake.root, p)) for p in new))
    return out


def live_bytes(lake: LakeTable) -> int:
    """Logical bytes of the live rows: UTF-8 length of every string
    column plus 8 bytes per non-string value."""
    snap = lake.snapshot()
    size = [
        F.coalesce(F.octet_length(f.name), F.lit(0)) if f.dataType.simpleString() == "string"
        else F.when(F.col(f.name).isNotNull(), F.lit(8)).otherwise(F.lit(0))
        for f in snap.schema.fields
    ]
    total = size[0]
    for s in size[1:]:
        total = total + s
    return int(snap.agg(F.sum(total)).collect()[0][0] or 0)


def amplification(spark, table: str, log: Log) -> tuple[float, float, dict]:
    lake = LakeTable(spark, table)
    per_version = write_bytes(lake)
    written = sum(b for _, b in per_version.values())
    table_bytes = sum(
        os.path.getsize(os.path.join(lake.root, f["path"])) for f in lake.manifest().files
    )
    return written / log.bytes, table_bytes / live_bytes(lake), per_version


# ---------- correctness ----------


def load_verify(checkout: str, spark):
    """``jobs/ingest.py verify`` as library code on this session: its
    ``_spark`` would rebuild the session and rewrite the caller's conf."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_ingest_job", os.path.join(checkout, "jobs", "ingest.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    job._spark = lambda *a, **k: spark
    return job


def verify(job, log: Log, table: str) -> dict:
    return job.cmd_verify(
        argparse.Namespace(
            events=log.path, table=table, master=None, shuffle_partitions=None,
            # built-in sha2 and path rules: independent of the engine's UDFs
            jvm_hash=True, salted=False, roundtrip=False,
        )
    )


def check(job, log: Log, passes: list[PassResult]) -> list[str]:
    """Failed operations: a pass that applied a different number of rows
    than the log holds or skipped a batch on its fresh table, and a last
    table that is not sha256-equal to the verify plan."""
    errors = []
    for i, p in enumerate(passes):
        rows = sum(c.rows_in for c in p.commits)
        if rows != log.events:
            errors.append(f"pass {i}: rows applied {rows} != input rows {log.events}")
        skipped = sum(c.skipped for c in p.commits)
        if skipped:
            errors.append(f"pass {i}: {skipped} batches skipped on a fresh table")
    v = verify(job, log, passes[-1].table)
    if not v["sha256_equal"]:
        errors.append(f"final table differs from the global-LWW plan: {v}")
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    return errors


# ---------- traced-run probes ----------


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def udf_probes(events, log: Log, n_batches: int = 3) -> dict[str, float]:
    """Per-batch prepare (pandas UDFs vs built-ins) and LWW, into a noop sink."""
    prep, prep_jvm, lww = [], [], []
    for b in log.batch_ids[:n_batches]:
        batch = events.filter(F.col("batch_id") == b)
        p = _noop(ingest.prepare_events(batch))
        prep.append(p)
        prep_jvm.append(_noop(ingest.prepare_events(batch, jvm_only=True)))
        lww.append(_noop(lww_dedup(ingest.prepare_events(batch))) - p)
    return {
        "udfs.prepare_s": median(prep),
        "udfs.prepare_jvm_s": median(prep_jvm),
        "dedup.lww_s": median(lww),
    }


def read_probes(spark, table: str, log: Log, n_keys: int = 2000, reps: int = 3) -> dict[str, float]:
    """Lookup (half recent keys, half cold), changes_since from the middle
    of the log, and a full snapshot, each timed to full materialization;
    file counts from ``inputFiles()`` of the returned frame."""
    lake = LakeTable(spark, table)
    m = lake.manifest()
    snap = lake.snapshot(include_tombstones=True)
    keys = []
    for b in (log.batch_ids[-1], log.batch_ids[0]):
        rows = (
            snap.filter(F.col("batch_id") == b).select("repo", "path")
            .orderBy("repo", "path").limit(n_keys // 2).collect()
        )
        keys += [{"repo": r["repo"], "path": r["path"]} for r in rows]
    mid = log.batch_ids[len(log.batch_ids) // 2]
    since = snap.filter(F.col("batch_id") == mid).agg(F.max("seq")).collect()[0][0]
    ops = {
        "lookup": lambda: lake.lookup(keys),
        "changes": lambda: lake.changes_since(since),
        "scan": lambda: lake.snapshot(),
    }
    out: dict[str, float] = {"lake.delta_files": sum(1 for f in m.files if f.get("delta"))}
    times: dict[str, list[float]] = {k: [] for k in ops}
    for _ in range(reps):  # interleaved, so drift hits every kind alike
        for k, op in ops.items():
            df = op()
            times[k].append(_noop(df))
            out[f"lake.{k}_files"] = len(df.inputFiles())
    for k, ts in times.items():
        out[f"lake.{k}_s"] = median(ts)
    return out


def tail_layers(listener: TailProgress, commits: list) -> dict[str, float]:
    """Median per micro-batch of the tail's own durations (seconds);
    framework = triggerExecution minus the commit wall measured here."""
    walls = {}
    for c in commits:
        if c.batch_id.startswith("stream-"):
            walls[int(c.batch_id.rsplit("-", 1)[1])] = c.end - c.start
    prog = [p for p in listener.progress if p.get("rows")]
    get = lambda k: median(p.get(k, 0) / 1000 for p in prog)  # noqa: E731
    return {
        "tail.trigger_s": get("triggerExecution"),
        "tail.add_batch_s": get("addBatch"),
        "tail.wal_commit_s": get("walCommit"),
        "tail.commit_offsets_s": get("commitOffsets"),
        "tail.query_planning_s": get("queryPlanning"),
        "tail.framework_s": median(
            p["triggerExecution"] / 1000 - walls[p["batch"]] for p in prog if p["batch"] in walls
        ),
    }


def trace_layers(rec: Recorder, p: PassResult, per_version: dict) -> dict[str, float]:
    """Per-layer metrics from the spans and commits of one traced pass."""
    by_name: dict[str, list[float]] = {}
    for s in rec.spans:
        by_name.setdefault(s.name, []).append(s.end - s.start)
    compactions = set(rec.compaction_versions)
    commit_versions = [v for v in per_version if v not in compactions]
    counts = rec.commit_counts()
    ledger_per_commit = [
        sum(
            s.end - s.start for s in rec.spans
            if s.name in LEDGER_SPANS and c.start <= s.start and s.end <= c.end
        )
        for c in p.commits
    ]
    root = next(s for s in rec.spans if s.name in ("ingest.replay", "tail.query"))
    top = [
        (max(s.start, root.start), min(s.end, root.end))
        for s in rec.spans if s.parent == root.span_id
    ]
    out = {
        "ingest.apply_s": median(by_name.get("ingest.apply_batch", [])),
        "ingest.skipped": sum(c.skipped for c in p.commits),
        "lake.merge_s": median(by_name.get("lake.merge", [])),
        "lake.files_per_commit": median(per_version[v][0] for v in commit_versions),
        "lake.bytes_per_commit": median(per_version[v][1] for v in commit_versions),
        "lake.compact_s": median(by_name.get("lake.compact_partial", [])),
        "lake.compactions": len(compactions),
        "lake.compact_bytes": sum(per_version[v][1] for v in compactions if v in per_version),
        "catalog.ledger_s": median(ledger_per_commit),
        "catalog.low_watermark_calls": len(by_name.get("catalog.low_watermark", [])),
        "spark.jobs_per_commit": median(counts.get("clean.jobs", [])),
        "spark.stages_per_commit": median(counts.get("clean.stages", [])),
        "spark.tasks_per_commit": median(counts.get("clean.tasks", [])),
        "spark.jobs_first_commit": median(counts.get("first.jobs", [])),
        "spark.jobs_compacting_commit": median(counts.get("compacting.jobs", [])),
        "trace.uncovered_share": 1 - union_length(top) / (root.end - root.start),
    }
    for layer, secs in self_times(rec.spans).items():
        out[f"self.{layer}_s"] = secs
    return out


# ---------- one run ----------


def run(spark, workload: str, args, checkout: str, run_dir: str, build_s: float) -> dict:
    t = time.perf_counter()
    log_path = os.path.join(run_dir, "log")
    write_log(spark, WORKLOADS[workload], seed_token(args.seed), log_path)
    gen_s = time.perf_counter() - t

    table = lambda i: os.path.join(run_dir, f"pass{i}")  # noqa: E731
    rec = Recorder(spark, trace=False, run_id=f"{workload}-{args.seed}-{os.getpid()}")
    job = load_verify(checkout, spark)
    passes: list[PassResult] = []
    with rec:
        # set-up: log load and an untimed warm-up through the same code
        # path (a fresh JVM runs its first batches 2-6x slower)
        t = time.perf_counter()
        events, log = load_log(spark, log_path)
        warm_up(spark, workload, log, run_dir)
        setup_s = build_s + time.perf_counter() - t
        rec.reset()
        print(f"perfbench: {workload} seed={args.seed} events={log.events} build_s={build_s:.2f} "
              f"gen_s={gen_s:.2f} setup_s={setup_s:.2f}", file=sys.stderr)
        if args.trace:
            return traced_run(spark, workload, log, events, rec, job, table, build_s)
        while len(passes) < MIN_PASSES or sum(p.wall for p in passes) < args.seconds:
            i = len(passes)
            passes.append(run_pass(spark, workload, log, events, table(i), rec))
            if i > 1:  # keep the first (amplification) and the last (verify)
                shutil.rmtree(table(i - 1), ignore_errors=True)

    t = time.perf_counter()
    errors = check(job, log, passes)
    write_amp, space_amp, _ = amplification(spark, passes[0].table, log)
    print(f"perfbench: walls={[round(p.wall, 3) for p in passes]} "
          f"check_s={time.perf_counter() - t:.2f}", file=sys.stderr)
    return {
        "correct": not errors,
        "attempted": sum(len(p.commits) for p in passes) + 1,
        "failed": len(errors),
        "metrics": {
            "events_per_s": median(log.events / p.wall for p in passes),
            "commit_s.p50": median(c.end - c.start for p in passes for c in clean_commits(p)),
            "write_amp": write_amp,
            "space_amp": space_amp,
            "setup_s": setup_s,
        },
    }


def traced_run(spark, workload, log, events, rec, job, table, build_s) -> dict:
    """An untraced pass, a traced pass and another untraced pass (the two
    bracket the traced one, so the JVM still warming between consecutive
    passes does not read as tracing overhead), then the layer probes that
    need their own Spark jobs."""
    base = run_pass(spark, workload, log, events, table(0), rec)
    rec.reset()
    rec.trace = True
    listener = TailProgress()
    spark.streams.addListener(listener)
    sb0 = job._shuffle_totals(spark)
    p = run_pass(spark, workload, log, events, table(1), rec)
    sb1 = job._shuffle_totals(spark)
    rec.trace = False
    _, _, per_version = amplification(spark, p.table, log)
    layers = trace_layers(rec, p, per_version)
    if workload == "tail_micro":
        listener.terminated.wait(30)
    # the replay makes no micro-batches: its tail.* metrics read 0
    layers.update(tail_layers(listener, p.commits))
    spark.streams.removeListener(listener)
    after = run_pass(spark, workload, log, events, table(2), rec)
    layers.update(udf_probes(events, log))
    layers.update(read_probes(spark, p.table, log))
    shuffle = {k: sb1[k] - sb0[k] for k in sb1} if sb0 and sb1 else {}
    layers.update({
        "session.build_s": build_s,
        "spark.shuffle_bytes_per_event": shuffle.get("shuffle_write_bytes", 0) / log.events,
        "spark.output_bytes_per_event": shuffle.get("output_bytes", 0) / log.events,
        "trace.events_per_s": log.events / p.wall,
        "trace.overhead": 1 - (base.wall + after.wall) / 2 / p.wall,
    })
    errors = check(job, log, [base, after, p])
    return {
        "correct": not errors,
        "attempted": len(base.commits) + len(after.commits) + len(p.commits) + 1,
        "failed": len(errors),
        "metrics": layers,
    }
