"""Per-round benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} plus engine extras (cdc replay
events/sec).

Bench hygiene (VERDICT r2 #3 — rounds must be comparable on a noisy
shared host, ±30-130% run-to-run):

- every headline query runs N_RUNS (default 3) times, INTERLEAVED
  round-robin so a noise burst hits all queries equally; ``queries``
  reports the per-query MIN (closest to the machine's capability),
  ``queries_all`` carries every sample;
- a no-Spark substrate probe (multiprocess sha256 + streaming-memcpy,
  same code as BENCH/run_scaling.py) runs before and after the query
  block; its fields in the output let a judge noise-normalize any
  cross-round comparison (engine_sec_ratio ~ probe_ratio => host noise,
  not a code change).

The CDC replay input is generated once per (n_events) into
.bench_data/ and reused byte-identically across runs and parallelism
levels (SURVEY.md section 7, hard part 5).
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_EVENTS = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "300000"))
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
REPO = os.path.dirname(os.path.abspath(__file__))


def _force(df) -> int:
    """Fully execute a plan without driver-side materialization."""
    df.write.format("noop").mode("overwrite").save()
    return 0


# ---- no-Spark substrate probes (shared shape with BENCH/run_scaling.py) ----

def _burn(args):
    (n_hashes,) = args
    h = b"x" * 256
    for _ in range(n_hashes):
        h = hashlib.sha256(h).digest() + b"pad" * 80
        h = h[:256]
    return n_hashes


def _memburn(iters):
    import numpy as np

    a = np.zeros(64 * 1024 * 1024 // 8)  # 64 MiB working set >> LLC
    b = np.empty_like(a)
    for _ in range(iters):
        np.copyto(b, a)
    return iters


def substrate_probe(n_procs: int) -> dict:
    """What the box itself delivers right now, no Spark/JVM: cache-bound
    sha256 hashes/sec and memory-bound streaming-copy GB/s."""
    t0 = time.time()
    with mp.Pool(n_procs) as pool:
        total = sum(pool.map(_burn, [(150_000,)] * n_procs))
    cpu = total / (time.time() - t0)
    t0 = time.time()
    with mp.Pool(n_procs) as pool:
        pool.map(_memburn, [12] * n_procs)
    gb = n_procs * 12 * 64 * 2 / 1024
    return {"cpu_hashes_per_sec": round(cpu), "mem_gb_per_sec": round(gb / (time.time() - t0), 1)}


_HIGHWATER_PATH = os.path.join(REPO, "BENCH", "substrate_highwater.json")


def _substrate_highwater() -> float | None:
    """Highest cpu_hashes_per_sec any prior bench run recorded. The
    driver's BENCH_r*.json sidecars never carry the probes (they wrap
    bench.py's summary line, which deliberately excludes them), so the
    high water lives in a dedicated committed sidecar that every run
    raises monotonically; BENCH/bench_detail.json (last run's probes) is
    the fallback for trees that predate the sidecar."""
    best = None
    try:
        with open(_HIGHWATER_PATH) as fh:
            v = json.load(fh).get("cpu_hashes_per_sec")
            if v:
                best = float(v)
    except Exception:
        pass
    try:
        with open(os.path.join(REPO, "BENCH", "bench_detail.json")) as fh:
            d = json.load(fh)
        for k in ("substrate_probe_before", "substrate_probe_after"):
            v = (d.get(k) or {}).get("cpu_hashes_per_sec")
            if v and (best is None or v > best):
                best = float(v)
    except Exception:
        pass
    return best


def _update_substrate_highwater(*probes: dict) -> None:
    best = _substrate_highwater() or 0.0
    for p in probes:
        v = p.get("cpu_hashes_per_sec") or 0
        if v > best:
            best = float(v)
    if best:
        try:
            with open(_HIGHWATER_PATH, "w") as fh:
                json.dump({"cpu_hashes_per_sec": best}, fh)
        except Exception:
            pass


def gated_substrate_probe(n_procs: int, retries: int = 3, sleep_s: int = 20) -> tuple[dict, bool]:
    """Substrate pre-probe with a noise gate (VERDICT r4 next #6: the r4
    window degraded ~40% mid-run and polluted every sub-second
    comparison). If the probe lands >20% below the best cpu probe any
    prior round recorded, wait and retry up to ``retries`` times; if it
    never recovers, proceed but FLAG the run (substrate_degraded=true in
    the summary) so cross-round comparisons know to distrust drifts."""
    hw = _substrate_highwater()
    probe = substrate_probe(n_procs)
    if hw is None:
        return probe, False
    for _ in range(retries):
        if probe["cpu_hashes_per_sec"] >= 0.8 * hw:
            return probe, False
        time.sleep(sleep_s)
        probe = substrate_probe(n_procs)
    return probe, probe["cpu_hashes_per_sec"] < 0.8 * hw


def main() -> None:
    from pyorchdb_spark.session import build_session

    spark = build_session(app_name="pyorchdb_bench", master=f"local[{CPUS}]")

    import __spark_entry__ as entrymod

    q = entrymod.queries()
    headline = [
        "cdc_lww",
        "cdc_lww_salted",
        "cdc_merge_upsert",
        "ivm_group_stats",
        "scd2_incremental",
        "corpus_ngrams",
        "dedup_exact",
        "dedup_ngram_jaccard",
        "dedup_substring",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_groups",
        "text_stats",
        "ann_topk",
        "sessionize",
        "scrub_pii",
        "decontaminate",
        "curate_corpus",
    ]

    probe_before, degraded = gated_substrate_probe(CPUS)

    # interleaved rounds: one sample of every query per round, so a host
    # noise burst lands on all queries instead of whichever ran during it
    samples: dict[str, list[float]] = {name: [] for name in headline}
    for _ in range(N_RUNS):
        for name in headline:
            t0 = time.time()
            _force(q[name](spark, SF_DIR))
            samples[name].append(round(time.time() - t0, 3))
    timings: dict[str, float] = {name: min(s) for name, s in samples.items()}

    probe_after = substrate_probe(CPUS)
    _update_substrate_highwater(probe_before, probe_after)

    # --- CDC replay throughput (the BASELINE.json headline metric) ---
    from pyorchdb_spark.generator import change_events, write_events
    from pyorchdb_spark.ingest import replay
    from pyorchdb_spark.sources.catalog import BatchLedger
    from pyorchdb_spark.sources.lake import LakeTable

    events_dir = os.path.join(REPO, ".bench_data", f"events_{N_EVENTS}")
    if not os.path.exists(os.path.join(events_dir, "_SUCCESS")):
        ev = change_events(spark, N_EVENTS, batch_size=max(N_EVENTS // 4, 1))
        write_events(ev, events_dir)
    events = spark.read.parquet(events_dir)
    n_rows = events.count()

    # A/B the skew strategies on identical input (SURVEY.md section 4):
    # plain window dedup vs salted two-stage. Every row runs the lake's one
    # merge, merge-on-read delta commits.
    replay_stats = {}
    n_replay_runs = int(os.environ.get("SPARK_GRAFT_BENCH_REPLAY_RUNS", "2"))
    configs = (
        ("cdc_replay", False),
        ("cdc_replay_salted", True),
        # evidence the skew-strategy CHOOSER, not just the strategies: on
        # this near-uniform input auto must track plain, while the Zipf
        # stress in BENCH/BASELINE.md shows it beating plain under skew
        ("cdc_replay_auto", "auto"),
    )
    # INTERLEAVED like the headline queries: label-by-label runs hand the
    # first label all of the merge path's JVM warmup (measured: plain's
    # first samples 1.5x slower than the identical plain path chosen by
    # `auto` minutes later in the same process)
    runs_by_label: dict[str, list[float]] = {label: [] for label, _ in configs}
    for i in range(n_replay_runs):
        for label, salted in configs:
            work = os.path.join(REPO, ".bench_work", f"{label}_{i}")
            shutil.rmtree(work, ignore_errors=True)
            lake, ledger = LakeTable(spark, work), BatchLedger(spark, work)
            t0 = time.time()
            replay(lake, ledger, events, salted=salted)
            runs_by_label[label].append(round(time.time() - t0, 3))
            shutil.rmtree(work, ignore_errors=True)
    for label, runs in runs_by_label.items():
        sec = min(runs)  # same min-of-n policy as the headline queries
        samples[label] = runs
        timings[label] = sec
        replay_stats[label] = round(n_rows / sec, 1)
    replay_sec = timings["cdc_replay"]

    total = round(sum(timings.values()), 3)
    summary = {
        "metric": "headline query wall time + CDC replay",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "cdc_replay_events": n_rows,
        "cdc_replay_events_per_sec": round(n_rows / replay_sec, 1),
        "cdc_replay_events_per_sec_by_strategy": replay_stats,
        "cpus": CPUS,
        "n_runs": N_RUNS,
        "substrate_degraded": degraded,
        "detail_file": "BENCH/bench_detail.json",
    }
    # per-sample timings + substrate probes go to a SIDECAR, not the
    # stdout line: r3's embedded queries_all grew the one-line JSON past
    # the driver's tail capture, so BENCH_r03.json recorded
    # "parsed": null (VERDICT r3 next #4). The summary stays small and is
    # the FINAL stdout line.
    detail = {
        "queries_all": samples,
        "substrate_probe_before": probe_before,
        "substrate_probe_after": probe_after,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "bench_detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    sys.stdout.flush()
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
