"""IVM probe: incremental aggregate maintenance vs full recompute.

Builds a lake from an N-event changelog, then folds in a final small
batch four ways and reports wall seconds for each:

- merge_only            — the CDC merge with no aggregate (baseline cost)
- merge_plus_maintain   — merge + retraction-delta maintenance of a
                          per-lang (n_files, total_bytes) aggregate
                          (operators/ivm.maintain_on_lake_merge)
- rebuild_from_log      — aggregate recomputed from the RAW log
                          (LWW over N events, what a no-IVM pipeline pays)
- reagg_from_snapshot   — aggregate recomputed from the state table
                          (the cheaper rebuild, still O(table))

plus an exactness check: the maintained aggregate must equal the
rebuild. Reproduce:
    python BENCH/run_ivm_probe.py --n-events 8000000 --batch-pct 0.5
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


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-events", type=int, default=8_000_000)
    ap.add_argument("--batch-pct", type=float, default=0.5)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--num-files", type=int, default=None,
                    help="bucket count for the base table: a fine layout "
                         "(e.g. 1024) lets the manifest prune maintenance "
                         "reads to the batch's buckets - the 100TB design "
                         "point; the default coarse layout shows the "
                         "small-scale crossover honestly")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from pyorchdb_spark.generator import change_events, write_events
    from pyorchdb_spark.operators.dedup import final_state
    from pyorchdb_spark.operators.ivm import (
        group_contributions,
        maintain_on_lake_merge,
    )
    from pyorchdb_spark.session import build_session
    from pyorchdb_spark.sources.lake import LakeTable

    spark = build_session(app_name="ivm_probe", master=f"local[{args.cpus}]")

    events_dir = os.path.join(REPO, ".bench_data", f"events_{args.n_events}")
    if not os.path.exists(os.path.join(events_dir, "_SUCCESS")):
        write_events(
            change_events(spark, args.n_events, batch_size=max(args.n_events // 4, 1)),
            events_dir,
        )
    ev = spark.read.parquet(events_dir)
    max_seq = ev.agg(F.max("seq")).first()[0]
    cut = int(max_seq * (1 - args.batch_pct / 100.0))
    initial = ev.filter(F.col("seq") <= cut)
    batch = ev.filter(F.col("seq") > cut)

    def with_bytes(df):
        return df.withColumn("bytes", F.length("content").cast("double"))

    work = os.path.join(REPO, ".bench_work", "ivm_probe")
    timings: dict[str, float] = {}

    def best(label, fn):
        runs = []
        for _ in range(args.runs):
            runs.append(round(fn(), 3))
        timings[label] = min(runs)

    # one replayed base lake per variant run
    def fresh_lake(tag):
        root = os.path.join(work, tag)
        shutil.rmtree(root, ignore_errors=True)
        lake = LakeTable(spark, root)
        lake.merge(with_bytes(initial), batch_id="init", num_files=args.num_files)
        return lake

    def run_merge_only():
        lake = fresh_lake("merge_only")
        t0 = time.time()
        lake.merge(with_bytes(batch), batch_id="b1")
        return time.time() - t0

    maintained = {}

    def run_merge_maintain():
        lake = fresh_lake("maintain")
        prev = group_contributions(
            with_bytes(lake.snapshot()), "lang", ["bytes"]
        ).localCheckpoint(eager=True)
        t0 = time.time()
        agg = maintain_on_lake_merge(
            lake, with_bytes(batch), prev, "lang", ["bytes"], batch_id="b1"
        )
        rows = {r["grp"]: (r["n_rows"], r["sum_bytes"]) for r in agg.collect()}
        dt = time.time() - t0
        maintained.update(rows)
        return dt

    def run_rebuild_from_log():
        t0 = time.time()
        _force(group_contributions(with_bytes(final_state(ev)), "lang", ["bytes"]))
        return time.time() - t0

    snap_lake = fresh_lake("snapshot_reagg")
    snap_lake.merge(with_bytes(batch), batch_id="b1")

    def run_reagg_snapshot():
        t0 = time.time()
        _force(group_contributions(with_bytes(snap_lake.snapshot()), "lang", ["bytes"]))
        return time.time() - t0

    best("merge_only", run_merge_only)
    best("merge_plus_maintain", run_merge_maintain)
    best("rebuild_from_log", run_rebuild_from_log)
    best("reagg_from_snapshot", run_reagg_snapshot)

    truth = {
        r["grp"]: (r["n_rows"], r["sum_bytes"])
        for r in group_contributions(
            with_bytes(final_state(ev)), "lang", ["bytes"]
        ).collect()
    }
    out = {
        "n_events": args.n_events,
        "batch_rows": batch.count(),
        "timings_sec": timings,
        "maintain_overhead_sec": round(
            timings["merge_plus_maintain"] - timings["merge_only"], 3
        ),
        "exact_match_vs_rebuild": maintained == truth,
        "runs": args.runs, "num_files": args.num_files,
        "cpus": args.cpus,
    }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
