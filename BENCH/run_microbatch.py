"""Micro-batch fixed-cost probe (VERDICT r3 next #3).

The 10^10-event design point means ~10^4 micro-batches; round 3 proved
the per-batch fixed cost dead at FOUR batches, which says nothing about
10^4. This probe replays the SAME event volume once as a few coarse
batches and once as hundreds of micro-batches (batch-partitioned parquet,
byte-identical totals), reporting wall clock, per-batch average, and the
marginal driver-seconds per extra batch — the number that multiplies by
10^4 at the design point.

Protocol notes:
- input generated once per (n_events, batches) into $SPARK_GRAFT_SCRATCH
  (default /dev/shm) and reused; partitioned by batch_id so each batch's
  scan opens only its own directory;
- MoR replay (the lake's one write path: bytes per batch proportional
  to the batch) with the default self-compaction cadence;
- one Spark session per series (scheduling noise dominates at this batch
  size; a fresh JVM per series keeps block-manager state comparable);
- final-state sha equality across series is asserted (same events ->
  same table regardless of batching), reusing jobs/ingest.py verify's
  global-LWW plan.

Usage: python BENCH/run_microbatch.py [--n-events 2000000]
       [--series 4,64,256] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCRATCH = os.environ.get("SPARK_GRAFT_SCRATCH", "/dev/shm/spark_graft")


def gen_events(spark, n_events: int, batches: int) -> str:
    from pyorchdb_spark.generator import change_events, write_events

    out = os.path.join(SCRATCH, f"microbatch_events_{n_events}_{batches}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        bs = -(-n_events // batches)
        write_events(change_events(spark, n_events, batch_size=bs), out)
    return out


def replay_series(spark, events_dir: str, table_root: str) -> dict:
    from pyorchdb_spark.ingest import replay
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import LakeTable

    shutil.rmtree(table_root, ignore_errors=True)
    events = spark.read.parquet(events_dir)
    lake, ledger = LakeTable(spark, table_root), BatchLedger(spark, table_root)
    t0 = time.time()
    results = replay(lake, ledger, events)
    wall = time.time() - t0
    n_batches = len(results)
    state = lake.snapshot()
    sig = (
        state.selectExpr("bit_xor(xxhash64(repo, path, content_sha256)) AS s", "count(*) AS c")
        .collect()[0]
    )
    return {
        "batches": n_batches,
        "wall_sec": round(wall, 2),
        "sec_per_batch": round(wall / n_batches, 3),
        "table_rows": sig["c"],
        "state_sig": sig["s"],
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n-events", type=int, default=2_000_000)
    p.add_argument("--series", default="4,64,256")
    p.add_argument("--cpus", type=int, default=32)
    args = p.parse_args()

    from pyorchdb_spark.session import build_session

    series = [int(s) for s in args.series.split(",")]
    out: dict = {"n_events": args.n_events, "cpus": args.cpus, "series": {}}
    for batches in series:
        spark = build_session(
            app_name=f"microbatch_{batches}", master=f"local[{args.cpus}]"
        )
        events_dir = gen_events(spark, args.n_events, batches)
        row: dict = {}
        row["mor"] = replay_series(spark, events_dir, os.path.join(SCRATCH, "microbatch_table"))
        out["series"][str(batches)] = row
        # partial results to stderr as soon as a series lands: a crashed
        # or killed later series must not erase earlier measurements
        print(f"series {batches}: {json.dumps(row)}", file=sys.stderr, flush=True)
        spark.stop()

    sigs = {r["mor"]["state_sig"] for r in out["series"].values()}
    rowcounts = {r["mor"]["table_rows"] for r in out["series"].values()}
    out["state_equal_across_series"] = len(sigs) == 1 and len(rowcounts) == 1
    # marginal driver cost per EXTRA batch between the extremes
    ks = sorted(int(k) for k in out["series"])
    lo, hi = str(ks[0]), str(ks[-1])
    dw = out["series"][hi]["mor"]["wall_sec"] - out["series"][lo]["mor"]["wall_sec"]
    db = ks[-1] - ks[0]
    out["marginal_sec_per_extra_batch_mor"] = round(dw / db, 3) if db else None
    shutil.rmtree(os.path.join(SCRATCH, "microbatch_table"), ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
