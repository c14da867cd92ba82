"""Gate-scale checkpoint-resume + mid-stream schema-evolution probe.

North-rule terms exercised at the 16M gate (BASELINE.json north_rule:
"resumable from checkpoint with per-partition lineage + metrics" and
"schema evolution ... handled by schema merge"); both were pytest-green
at toy scale (tests/test_streaming.py, tests/test_evolution.py) but had
no gate-scale evidence row until this probe.

Protocol (all via spark-submit --py-files, the north-rule job surface):
1. generate a 16M-event log, 16 x 1M-event batches, with
   ``--evolution-batch 8``: batches 8..15 carry the additive
   ``lang_variant`` column, batches 0..7 predate it — the mid-stream
   schema evolution happens INSIDE the streamed replay.
2. phase 1: start the streaming tail (``replay --mode stream``)
   as a subprocess and SIGKILL the whole process group (no JVM shutdown
   hooks, no stop(), a real crash) once K batches are committed (batch
   records in the table's manifests, read without Spark).
3. phase 2: rerun the identical command, same checkpoint; it must
   resume from committed offsets and drain the rest.
4. accounting, from durable state only (the manifests' batch records +
   checkpoint commit log + the table itself):
   - ``verify`` CLI: independent global-LWW plan vs the resumed table,
     per-row content sha256 equality (the north-rule invariant);
   - every batch id has ONE record and the records' rows_in sums to
     exactly the event count -> no micro-batch was applied twice
     (exactly-once across the kill);
   - committed batch count == checkpoint commit count (every delivered
     epoch committed exactly once, whether delivered before or after
     the kill);
   - evolution: winners whose LWW event predates batch 8 carry NULL
     lang_variant, later winners carry the value — compared
     winner-by-winner against an independent LWW over the raw log.

Run: python BENCH/run_resume_probe.py [--n-events 16000000]
     [--kill-after-commits 4] [--out BENCH/r5d/resume_probe.json]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run_scaling import SCRATCH, build_zip, run_submit  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit")


def _submit_cmd(zpath: str, args: list[str], master: str) -> list[str]:
    return [
        SPARK_SUBMIT,
        "--master", master,
        "--driver-memory", "24g",
        "--conf", f"spark.local.dir={os.path.join(SCRATCH, 'tmp')}",
        "--py-files", zpath,
        os.path.join(REPO, "jobs", "ingest.py"),
        *args,
        "--master", master,
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-events", type=int, default=16_000_000)
    ap.add_argument("--batch-size", type=int, default=1_000_000)
    ap.add_argument("--kill-after-commits", type=int, default=4)
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    ap.add_argument("--master", default="local[32]")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    zpath = build_zip()
    sys.path.insert(0, REPO)
    from pyorchdb_spark.sources.lake import read_batch_records

    def committed() -> int:
        # driver-side file reads of the manifests: no Spark while the tail runs
        return len({r["batch_id"] for r in read_batch_records(table)[0]})

    n_batches = args.n_events // args.batch_size
    evolution_batch = n_batches // 2
    ev = os.path.join(SCRATCH, f"events_{args.n_events}_evo{evolution_batch}")
    if not os.path.exists(os.path.join(ev, "_SUCCESS")):
        print(f"generating {args.n_events} events (evolution at batch {evolution_batch})",
              file=sys.stderr)
        run_submit(zpath, [
            "generate", "--out", ev, "--n-events", str(args.n_events),
            "--batch-size", str(args.batch_size),
            "--evolution-batch", str(evolution_batch),
            "--content-max-reps", "2",
        ], master=args.master)

    table = os.path.join(SCRATCH, "resume_probe_table")
    subprocess.run(["rm", "-rf", table], check=True)
    replay_args = [
        "replay", "--events", ev, "--table", table, "--mode", "stream",
        "--thin", "off",
        "--max-files-per-trigger", str(args.max_files_per_trigger),
    ]

    # ---- phase 1: start the tail, SIGKILL mid-replay ----
    t0 = time.time()
    proc = subprocess.Popen(
        _submit_cmd(zpath, replay_args, args.master),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,  # own process group: kill driver+executors
    )
    kill_at = args.kill_after_commits
    killed_after_s = None
    while proc.poll() is None:
        if committed() >= kill_at:
            killed_after_s = round(time.time() - t0, 2)
            os.killpg(proc.pid, signal.SIGKILL)
            break
        time.sleep(0.5)
    proc.wait()
    if killed_after_s is None:
        raise RuntimeError(
            f"stream finished before {kill_at} batches committed — lower "
            "--kill-after-commits or --max-files-per-trigger")
    phase1_committed = committed()
    print(f"phase 1: SIGKILL after {killed_after_s}s, "
          f"{phase1_committed} batches committed", file=sys.stderr)

    # ---- phase 2: identical command, same checkpoint; run to completion ----
    t1 = time.time()
    out = subprocess.run(_submit_cmd(zpath, replay_args, args.master),
                         capture_output=True, text=True, timeout=3600)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + "\n" + out.stderr[-4000:])
        raise RuntimeError("phase-2 resume failed")
    phase2_sec = round(time.time() - t1, 2)
    replay_res = json.loads(
        [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1])
    all_committed = committed()

    ckpt_commits = []
    commits_dir = os.path.join(table, "_checkpoint", "commits")
    if os.path.isdir(commits_dir):
        ckpt_commits = sorted(f for f in os.listdir(commits_dir) if not f.startswith("."))

    # ---- north-rule invariant: sha-equal vs independent global LWW ----
    verify = run_submit(zpath, ["verify", "--events", ev, "--table", table],
                        master=args.master)

    # ---- exactly-once accounting + evolution winner equality ----
    # local pyspark in-process, started after phase 2 so it never runs
    # beside the timed tail; reads only durable state
    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "24g")
             .config("spark.local.dir", os.path.join(SCRATCH, "tmp"))
             .getOrCreate())
    from pyorchdb_spark.operators.dedup import lww_dedup
    from pyorchdb_spark.ingest import prepare_events, invalid_reason
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import LakeTable

    lin = BatchLedger(spark, table).lineage().groupBy("batch_id").agg(
        F.sum("rows_in").alias("rows_in")).collect()
    lineage_batches = [r.batch_id for r in lin]
    lineage_rows_total = sum(r.rows_in for r in lin)
    # the ledger view keeps a batch's first record; a re-applied epoch
    # would show as a second record for its batch id in the manifests
    records, _ = read_batch_records(table)
    dup_entries = len(records) - len({r["batch_id"] for r in records})

    raw = spark.read.parquet(ev)
    expected = (
        lww_dedup(prepare_events(raw).filter(invalid_reason().isNull()))
        .filter(F.col("op") != "delete")
        .select("repo", "path", "lang_variant")
    )
    actual = LakeTable(spark, table).snapshot().select(
        "repo", "path", F.col("lang_variant").alias("_lv_actual"))
    j = actual.join(expected, ["repo", "path"], "full_outer")
    evo = j.agg(
        F.count(F.lit(1)).alias("keys"),
        F.count(F.when(F.col("_lv_actual").isNotNull(), 1)).alias("variant_rows"),
        F.count(F.when(
            ~(F.col("_lv_actual").eqNullSafe(F.col("lang_variant"))), 1)
        ).alias("variant_mismatch"),
    ).collect()[0]
    spark.stop()

    # a batch's record rides the manifest link that commits its data
    # (ingest.apply_batch), so there is no window between the table
    # commit and the ledger: wherever the kill lands, a re-delivered
    # epoch is either uncommitted (applied once in phase 2) or committed
    # (skipped). exactly_once must hold on every run; the state check
    # (idempotent_under_redelivery) is reported beside it.
    exactly_once = (
        dup_entries == 0
        and lineage_rows_total == replay_res["events"]
        and all_committed == len(ckpt_commits)
    )
    result = {
        "probe": "resume+evolution",
        "n_events": args.n_events,
        "n_batches": n_batches,
        "evolution_batch": evolution_batch,
        "max_files_per_trigger": args.max_files_per_trigger,
        "phase1_kill_after_s": killed_after_s,
        "phase1_committed": phase1_committed,
        "phase2_sec": phase2_sec,
        "phase2_events_per_sec_overall": replay_res.get("events_per_sec"),
        "committed_total": all_committed,
        "checkpoint_commits": len(ckpt_commits),
        "lineage_distinct_batches": len(set(lineage_batches)),
        "duplicate_batch_records": dup_entries,
        "lineage_rows_in_total": lineage_rows_total,
        "re_applied_rows": lineage_rows_total - replay_res["events"],
        "actual_events": replay_res["events"],
        "exactly_once_clean": exactly_once,
        "idempotent_under_redelivery": bool(verify["sha256_equal"]),
        "verify": {k: verify[k] for k in
                   ("keys", "missing_in_table", "extra_in_table",
                    "sha_mismatch", "sha256_equal")},
        "evolution": {
            "keys": evo.keys,
            "rows_with_variant": evo.variant_rows,
            "variant_mismatch_vs_independent_lww": evo.variant_mismatch,
        },
    }
    line = json.dumps(result)
    print(line)
    if args.out:
        os.makedirs(os.path.dirname(args.out), exist_ok=True)
        with open(args.out, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
