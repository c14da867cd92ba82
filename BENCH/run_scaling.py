"""Scaling-efficiency harness (BASELINE.json:2,14 — the north rule's
two-cluster-size criterion, evidenced in-sandbox as two parallelism
levels).

Protocol (BASELINE.md "Sandbox scaling protocol", declared round 1):
1. generate the change log ONCE to parquet (byte-identical input for
   both runs — SURVEY.md section 7, hard part 5);
2. package the engine as dist/engine.zip and run the SAME replay job via
   ``spark-submit --py-files dist/engine.zip jobs/ingest.py replay`` at
   ``local[8]`` (N) and ``local[32]`` (4N), fresh JVM each, for every
   config in the matrix: {batch replay, stream} x skew/thin strategy x
   shuffle width (every config is merge-on-read, the lake's one merge);
3. interleave the levels (8,32,8,32,...) and take best-of-N per level —
   host noise on this shared box is +/-30% between identical runs;
4. report events/sec at both + scaling efficiency
   = (throughput_4N / throughput_N) / 4, target >= 0.8, alongside a
   CPU-only probe (multiprocess sha256 burn, no Spark/JVM) that measures
   what THIS box can scale 8->32 at all;
5. write BENCH/BASELINE.md with every number and deviation disclosed.

Run:  python BENCH/run_scaling.py [--n-events 16000000] [--runs 2]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing as mp
import os
import shutil
import subprocess
import sys
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit")
# RAM-backed scratch for shuffle dirs and the replayed table: this
# sandbox's single virtual disk serializes concurrent writers (32 parquet/
# shuffle writers measured SLOWER than 8 on it), which would measure the
# disk, not the engine. On a real cluster this is node-local NVMe.
SCRATCH = os.environ.get("SPARK_GRAFT_SCRATCH", "/dev/shm/spark_graft")


def build_zip() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    zpath = os.path.join(dist, "engine.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "pyorchdb_spark")
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in filenames:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def run_submit(zpath: str, args: list[str], master: str, mem: str = "24g",
               env: dict | None = None) -> dict:
    os.makedirs(os.path.join(SCRATCH, "tmp"), exist_ok=True)
    # local-cluster[E,C,M]: M is only the WORKER's capacity — executors
    # still get spark.executor.memory's 1g default unless told otherwise
    # (found the hard way: BENCH/r5c/cluster_1v4_thin.log, a winner
    # broadcast OOM'd "6144 MB" executors that were really 1g). Make the
    # executor heap match what the protocol string claims.
    exec_conf = []
    if master.startswith("local-cluster["):
        m_mb = master.rstrip("]").split(",")[-1]
        exec_conf = ["--conf", f"spark.executor.memory={m_mb}m"]
    cmd = [
        SPARK_SUBMIT,
        "--master", master,
        "--driver-memory", mem,
        *exec_conf,
        "--conf", f"spark.local.dir={os.path.join(SCRATCH, 'tmp')}",
        "--py-files", zpath,
        os.path.join(REPO, "jobs", "ingest.py"),
        *args,
        "--master", master,
    ]
    run_env = dict(os.environ, **env) if env else None
    # One retry per submit: the box's hypervisor-preemption freeze mode
    # kills executors via heartbeat timeout mid-run (both thin6g matrix
    # attempts died this way, BENCH/r5c/cluster_1v4_thin6g*.log), and a
    # single lost sample should not abort a 30-minute matrix. Retried
    # samples are no worse for best-of-N: a retry only happens when the
    # first attempt produced no number at all.
    for attempt in (1, 2):
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600, env=run_env)
        if out.returncode == 0:
            break
        sys.stderr.write(out.stdout[-4000:] + "\n" + out.stderr[-4000:])
        if attempt == 2:
            raise RuntimeError(f"spark-submit failed ({master})")
        sys.stderr.write(f"spark-submit failed ({master}); retrying once\n")
        time.sleep(15)
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


# ---------------- CPU-only substrate probe (no Spark, no JVM) ----------------

def _burn(args):
    n_hashes, = args
    h = b"x" * 256
    for i in range(n_hashes):
        h = hashlib.sha256(h).digest() + b"pad" * 80
        h = h[:256]
    return n_hashes


def cpu_probe(n_procs: int, hashes_per_proc: int = 400_000) -> float:
    """sha256 hashes/sec with n_procs processes — what the box itself can
    scale for CACHE-BOUND work, with zero Spark/Arrow/python-worker
    overheads."""
    t0 = time.time()
    with mp.Pool(n_procs) as pool:
        total = sum(pool.map(_burn, [(hashes_per_proc,)] * n_procs))
    return total / (time.time() - t0)


def _memburn(iters):
    import numpy as np

    a = np.zeros(64 * 1024 * 1024 // 8)  # 64 MiB working set >> LLC
    b = np.empty_like(a)
    for _ in range(iters):
        np.copyto(b, a)
    return iters


def mem_probe(n_procs: int, iters: int = 30) -> float:
    """Streaming memcpy GB/s with n_procs processes — what the box can
    scale for MEMORY-BOUND work (shuffle/parquet/string processing is
    this, not sha256). On this sandbox this probe ANTI-scales 8->32
    (shared-host DRAM), which bounds any wide-shuffle Spark stage."""
    t0 = time.time()
    with mp.Pool(n_procs) as pool:
        pool.map(_memburn, [iters] * n_procs)
    gb = n_procs * iters * 64 * 2 / 1024  # read + write
    return gb / (time.time() - t0)


def _stat_counters() -> tuple[int, int] | None:
    """(steal, busy) jiffies from /proc/stat — busy = everything but idle/
    iowait. Sampled around each matrix run: the round-5i diagnostic
    (BENCH/r5c/diagnose_slowmode.out) proved the bimodal 4-exec samples
    are per-task wall inflation with an unchanged plan/topology, and this
    box's cumulative steal is ~25% of user time — hypervisor steal is the
    mechanism, so name it per sample instead of discarding slow samples
    blind."""
    try:
        f = open("/proc/stat").readline().split()
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, f[1:9])
    except Exception:
        return None
    return steal, user + nice + system + irq + softirq + steal


def steal_share(before: tuple[int, int] | None, after: tuple[int, int] | None) -> float | None:
    """Fraction of this interval's BUSY cpu time the hypervisor stole."""
    if before is None or after is None:
        return None
    dsteal, dbusy = after[0] - before[0], after[1] - before[1]
    return round(dsteal / dbusy, 4) if dbusy > 0 else None


# ---------------------------------- matrix ----------------------------------

CONFIGS = [
    # (key, label, extra replay flags)
    # Every config runs the engine's one prepare (built-in sha2 + ICU NFC,
    # no Python worker) and its one merge, merge-on-read: delta writes ∝
    # batch + partial compaction (measured 2.3x the retired copy-on-write
    # merge at 16M events). The mor_ keys keep their historical names.
    # The official 1v4 rows (mor_multi 0.817/0.852/0.882, mor_stream 0.799;
    # BENCH/r5c/cluster_1v4*) were measured on the pandas-UDF prepare, so
    # the next 1v4 run measures the built-in one.
    ("mor_multi", "incremental 4-batch MoR replay", []),
    # Constant shuffle width at BOTH levels — the cluster-faithful shape:
    # on a real cluster the shuffle layout is sized to the DATA and stays
    # fixed while executors are added; deriving width from the core count
    # (the default) conflates plan shape with slot count.
    ("mor_fixed64", "incremental MoR replay, shuffle width fixed at 64",
     ["--shuffle-partitions", "64"]),
    # adaptive skew strategy (round 4): one sampled key-frequency job
    # picks plain/salted + n_salts; on the generator's near-uniform keys
    # it must match plain-replay throughput (static always-on salting
    # measured a 1.5x penalty here in round 3). Against mor_multi only the
    # dedup strategy differs — the pair the --hot-share matrix reads.
    ("mor_auto", "incremental 4-batch MoR replay, --salt auto",
     ["--salt", "auto"]),
    # thin-row LWW shuffle pruning (round 5, VERDICT r4 next #4): prune
    # each batch to its winner tuples with a column-pruned map-combined
    # aggregate before the fat bucket exchange, then re-join content for
    # winners only — shuffle bytes track distinct KEYS, not events. The
    # generator writes ~3 events/key, so the fat exchange should drop to
    # ~1/3 the rows; --measure-bytes quantifies the byte halving.
    # forced (--thin thin), not auto: the matrix measures the thin PATH;
    # auto's width gate (thin_min_payload_bytes) correctly refuses the
    # protocol's ~190 B content, which would make an auto config measure
    # the plain path under a thin label.
    # the literal north-rule job shape: the Structured-Streaming tail
    # (checkpointed foreachBatch micro-batches, one-job fused metrics)
    # rather than the batch driver loop — ties the streaming surface to
    # the N-vs-4N criterion. --thin off: stream mode refuses auto by
    # design (per-micro-batch dup ratio is unobservable up front).
    ("mor_stream", "streaming tail (availableNow), MoR micro-batches",
     ["--mode", "stream", "--max-files-per-trigger", "4", "--thin", "off"]),
    ("mor_thin", "incremental 4-batch MoR replay, --thin forced",
     ["--thin", "thin"]),
]


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n-events", type=int, default=16_000_000)
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--low", type=int, default=8)     # N     (declared protocol)
    p.add_argument("--high", type=int, default=32)   # 4N
    # thin rows (content <= 256 chars): the throughput-vs-parallelism probe
    # must be CPU-bound, not DRAM-bandwidth-bound — a single box shares
    # memory bandwidth across all task slots, which a real 4x-executor
    # cluster does not (each node brings its own). Fat-row behavior is
    # covered by bench.py (content up to 4 KiB).
    p.add_argument("--content-max-reps", type=int, default=2)
    p.add_argument("--hot-share", type=float, default=0.0,
                   help="generator hot-key share: this fraction of events "
                        "collapses onto ONE (repo,path) key — ties the "
                        "north rule's skew/salting clause to its scaling "
                        "clause (run with --configs mor_multi,"
                        "mor_auto to compare plain vs adaptive salt "
                        "under skew at both cluster sizes)")
    p.add_argument("--configs", default="mor_multi,mor_fixed64")
    p.add_argument("--cluster", action="store_true",
                   help="multi-JVM cluster emulation: masters become "
                        "local-cluster[E,C,M] with SEPARATE executor JVMs "
                        "and netty shuffle, and --low/--high are EXECUTOR "
                        "counts — the literal 'N and 4N executors' shape of "
                        "the north rule (BASELINE.json:north_rule), minus "
                        "only the per-node DRAM/NVMe a real cluster adds.")
    p.add_argument("--exec-cores", type=int, default=4)
    p.add_argument("--exec-mem-mb", type=int, default=6144)
    p.add_argument("--skip-cpu-probe", action="store_true")
    p.add_argument("--measure-bytes", action="store_true",
                   help="byte-accounting pass: run each config ONCE at the "
                        "high level with the Spark UI on and report shuffle "
                        "read/write bytes per config (VERDICT r4 next #4 — "
                        "done criterion is shuffle bytes halved by --thin). "
                        "Separate from the throughput matrix because the UI "
                        "listener costs a few percent.")
    p.add_argument("--write-baseline", action="store_true",
                   help="overwrite BENCH/BASELINE.md with this run's numbers "
                        "(off by default: a small smoke run must not clobber "
                        "the committed full-protocol evidence)")
    a = p.parse_args()
    unknown = set(a.configs.split(",")) - {c[0] for c in CONFIGS}
    if unknown:
        p.error(f"unknown --configs {sorted(unknown)}; known: {[c[0] for c in CONFIGS]}")

    def master_for(n: int) -> str:
        if a.cluster:
            return f"local-cluster[{n},{a.exec_cores},{a.exec_mem_mb}]"
        return f"local[{n}]"

    def probe_procs(n: int) -> int:
        # substrate probes measure the box at the same TOTAL core count
        # the Spark level occupies
        return n * a.exec_cores if a.cluster else n

    zpath = build_zip()
    hot_tag = f"_h{a.hot_share:g}" if a.hot_share > 0 else ""
    events_dir = os.path.join(
        SCRATCH, f"events_{a.n_events}_r{a.content_max_reps}{hot_tag}")
    if not os.path.exists(os.path.join(events_dir, "_SUCCESS")):
        print(f"generating {a.n_events} events once -> {events_dir}", file=sys.stderr)
        gen_args = ["generate", "--out", events_dir, "--n-events", str(a.n_events),
                    "--batch-size", str(a.n_events // 4),
                    "--content-max-reps", str(a.content_max_reps)]
        if a.hot_share > 0:
            gen_args += ["--hot-share", str(a.hot_share)]
        run_submit(zpath, gen_args, master="local[32]")

    wanted = [c for c in CONFIGS if c[0] in a.configs.split(",")]

    if a.measure_bytes:
        # one UI-instrumented run per config at the high level; the replay
        # CLI diffs the stage byte counters around the timed section
        rows = {}
        for key, label, flags in wanted:
            work = os.path.join(SCRATCH, f"bytes_{key}")
            shutil.rmtree(work, ignore_errors=True)
            r = run_submit(
                zpath,
                ["replay", "--events", events_dir, "--table", work, *flags],
                master=master_for(a.high),
                env={"SPARK_GRAFT_UI": "true"},
            )
            shutil.rmtree(work, ignore_errors=True)
            rows[key] = {"label": label, "sec": r["sec"],
                         "events_per_sec": r["events_per_sec"], **(r["bytes"] or {})}
            print(json.dumps({"config": key, **rows[key]}), file=sys.stderr)
        print(json.dumps({"n_events": a.n_events, "byte_accounting": rows}))
        return

    results: dict[str, dict[int, dict]] = {key: {} for key, *_ in wanted}
    for key, label, flags in wanted:
        best: dict[int, dict] = {}
        for run_i in range(a.runs):
            for cores in (a.low, a.high):  # interleaved: noise hits both levels
                work = os.path.join(SCRATCH, f"scale_{key}_{cores}")
                shutil.rmtree(work, ignore_errors=True)
                st0 = _stat_counters()
                r = run_submit(
                    zpath,
                    ["replay", "--events", events_dir, "--table", work, *flags],
                    master=master_for(cores),
                )
                r["steal_share"] = steal_share(st0, _stat_counters())
                if cores not in best or r["events_per_sec"] > best[cores]["events_per_sec"]:
                    best[cores] = r
                shutil.rmtree(work, ignore_errors=True)
                print(json.dumps({"config": key, "run": run_i, "cores": cores,
                                  "events_per_sec": r["events_per_sec"], "sec": r["sec"],
                                  "steal_share": r["steal_share"]}),
                      file=sys.stderr)
        results[key] = best

    cpu, mem = {}, {}
    if not a.skip_cpu_probe:
        for n in (a.low, a.high):
            cpu[n] = cpu_probe(probe_procs(n))
            mem[n] = mem_probe(probe_procs(n))
            print(json.dumps({"probe_procs": probe_procs(n),
                              "hashes_per_sec": round(cpu[n]),
                              "memcpy_gb_per_sec": round(mem[n], 1)}),
                  file=sys.stderr)

    # ------------------------------ report ------------------------------
    factor = a.high / a.low
    lines = []
    summary = {}
    for key, label, _flags in wanted:
        lo, hi = results[key][a.low], results[key][a.high]
        ratio = hi["events_per_sec"] / lo["events_per_sec"]
        eff = ratio / factor
        summary[key] = {
            "label": label,
            f"events_per_sec_{master_for(a.low)}": lo["events_per_sec"],
            f"events_per_sec_{master_for(a.high)}": hi["events_per_sec"],
            "speedup": round(ratio, 3),
            "scaling_efficiency": round(eff, 3),
            "steal_share_best_low": lo.get("steal_share"),
            "steal_share_best_high": hi.get("steal_share"),
        }
        lines.append(
            f"| {label} | {lo['sec']} | {lo['events_per_sec']:,} | {hi['sec']} | "
            f"{hi['events_per_sec']:,} | {ratio:.2f}x | **{eff:.3f}** |"
        )
    cpu_eff = (cpu[a.high] / cpu[a.low] / factor) if cpu else None
    mem_eff = (mem[a.high] / mem[a.low] / factor) if mem else None
    out = {
        "n_events": a.n_events,
        "hot_share": a.hot_share,
        "protocol": f"{master_for(a.low)} vs {master_for(a.high)}",
        "configs": summary,
        "cpu_probe_hashes_per_sec": {str(k): round(v) for k, v in cpu.items()},
        "cpu_probe_efficiency": round(cpu_eff, 3) if cpu_eff else None,
        "mem_probe_gb_per_sec": {str(k): round(v, 1) for k, v in mem.items()},
        "mem_probe_efficiency": round(mem_eff, 3) if mem_eff else None,
        "target": 0.8,
    }
    print(json.dumps(out))

    table_rows = next(iter(results.values()))[a.high]["table_rows"]
    md = f"""# BENCH/BASELINE.md — scaling evidence (north rule)

Declared protocol (BASELINE.md, round 1): same job (`jobs/ingest.py
replay`) submitted via `spark-submit --py-files dist/engine.zip`, same
pre-generated input ({a.n_events:,} change events, generated once to
parquet, byte-identical for every run), `local[{a.low}]` (N) vs
`local[{a.high}]` (4N) standing in for N vs 4N executors (no real cluster
in this sandbox). Levels interleaved, best-of-{a.runs} per level per
config (host noise measured at +/-30% between identical runs). Shuffle
scratch and the replayed table live on RAM-backed storage
(`$SPARK_GRAFT_SCRATCH`, default /dev/shm): the sandbox's single virtual
disk serializes concurrent writers, which would measure the disk, not the
engine; on a real cluster this role is played by node-local NVMe.

| config | N wall s | N ev/s | 4N wall s | 4N ev/s | speedup | efficiency |
|---|---|---|---|---|---|---|
{chr(10).join(lines)}

- scaling efficiency = speedup / {factor:.0f}; target >= 0.8
- verified final table rows: {table_rows:,} — every run produces identical
  state (sha256 per-row equality asserted in tests/test_lake_merge.py and
  tests/test_dedup.py against the pandas oracle)
- **CPU substrate probe** (multiprocess sha256, cache-bound, no Spark/JVM/
  Arrow): {" vs ".join(f"{round(v):,}/s @ {k} procs" for k, v in cpu.items()) or "skipped"}
  -> efficiency **{f"{cpu_eff:.3f}" if cpu_eff else "n/a"}** — the ceiling
  for cache-bound {a.high}-way work on this box before Spark enters.
- **Memory-bandwidth probe** (multiprocess 64 MiB memcpy, no Spark):
  {" vs ".join(f"{v:.1f} GB/s @ {k} procs" for k, v in mem.items()) or "skipped"}
  -> efficiency **{f"{mem_eff:.3f}" if mem_eff else "n/a"}** — shuffle,
  parquet decode, and string work are memory-bound, so THIS probe bounds
  wide-shuffle stages; on a real 4x cluster each node brings its own DRAM
  and this ceiling lifts with the cluster.

Reproduce: `python BENCH/run_scaling.py --n-events {a.n_events}`

## Reading the numbers

Deviations from an ideal cluster measurement, disclosed:

1. **One box, shared DRAM.** All {a.high} task slots share one memory
   bus; a real 4N-executor cluster brings 4x DRAM bandwidth and 4x NVMe.
   Per-task CPU time for identical map work inflates ~2.6x going 2->8
   concurrent slots (round-1 task metrics) — the dominant ceiling.
2. **No python workers on the replay path**: prepare (sha256 + NFC
   path normalization) is built-in JVM expressions, so `local[N]` runs
   N task threads and nothing beside them. Rows measured before that
   change (the round-5 1v4 rows) ran a pandas-UDF prepare, which
   co-scheduled one python worker per task thread.
3. **Best-of-{a.runs} on interleaved runs** on byte-identical input —
   noisy-neighbor variance is the largest single error source.

Engine properties that determine real-cluster scaling (hold by
construction): LWW dedup is ONE hash-partitioned shuffle whose
per-executor volume is constant as executors grow; MERGE plans its input
from manifest bucket metadata (zero table scan); bucket count sizes from
volume with per-bucket splitting, so write parallelism and file sizes are
decoupled from cluster size; all driver-side work is O(files) JSON.
"""
    if a.write_baseline:
        with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as fh:
            fh.write(md)
        print("wrote BENCH/BASELINE.md", file=sys.stderr)
    else:
        print("BENCH/BASELINE.md untouched (pass --write-baseline to record this run)", file=sys.stderr)


if __name__ == "__main__":
    main()
