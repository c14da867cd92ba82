"""Interleaved A/B of the sub-split write-parallelism fix (round 5d).

Single-shot profiles cannot A/B this box: the shared substrate swings
>40% minute-to-minute (BENCH/r5c/profile_serial*.{out,err} — the same
replay moved 81k -> 120k ev/s between two runs with no code change at
the 1-exec level). So this script interleaves OLD (pre-fix commit) and
NEW (working tree) replays back-to-back inside one window, at both
local-cluster levels, and compares per-variant MINIMA — the same
protocol bench.py uses for cross-round noise.

Usage: python BENCH/ab_subsplit.py [--old-tree /tmp/ab_old]
       [--n-events 16000000] [--rounds 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run_scaling import SCRATCH, SPARK_SUBMIT, cpu_probe, mem_probe  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_zip_from(tree: str, name: str) -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    zpath = os.path.join(dist, name)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(tree, "pyorchdb_spark")
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in filenames:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, tree))
    return zpath


def replay(zpath: str, job: str, events: str, master: str, tag: str) -> dict:
    work = os.path.join(SCRATCH, f"ab_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    exec_conf = []
    if master.startswith("local-cluster["):
        m_mb = master.rstrip("]").split(",")[-1]
        exec_conf = ["--conf", f"spark.executor.memory={m_mb}m"]
    cmd = [
        SPARK_SUBMIT, "--master", master, "--driver-memory", "24g",
        *exec_conf,
        "--conf", f"spark.local.dir={os.path.join(SCRATCH, 'tmp')}",
        "--py-files", zpath, job,
        "replay", "--events", events, "--table", work,
        "--master", master,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-3000:])
        raise RuntimeError(f"spark-submit failed ({tag})")
    res = json.loads([l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1])
    shutil.rmtree(work, ignore_errors=True)
    return res


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--old-tree", default="/tmp/ab_old")
    p.add_argument("--n-events", type=int, default=16_000_000)
    p.add_argument("--rounds", type=int, default=2)
    p.add_argument("--exec-cores", type=int, default=2)
    p.add_argument("--levels", default="1,4")
    a = p.parse_args()

    events = os.path.join(SCRATCH, f"events_{a.n_events}_r2")
    assert os.path.exists(os.path.join(events, "_SUCCESS")), events
    variants = {
        "new": (build_zip_from(REPO, "engine_ab_new.zip"),
                os.path.join(REPO, "jobs", "ingest.py")),
        "old": (build_zip_from(a.old_tree, "engine_ab_old.zip"),
                os.path.join(a.old_tree, "jobs", "ingest.py")),
    }
    levels = [int(x) for x in a.levels.split(",")]
    out: dict = {
        "n_events": a.n_events,
        "protocol": (
            f"interleaved old/new x{a.rounds}, minima per variant, "
            f"local-cluster[E,{a.exec_cores},6144]"
        ),
        "samples": {},
        "probes": {},
    }
    for n in levels:
        procs = n * a.exec_cores
        out["probes"][str(n)] = {
            "cpu_hashes_per_sec": round(cpu_probe(procs)),
            "mem_gb_per_sec": round(mem_probe(procs), 1),
        }
        master = f"local-cluster[{n},{a.exec_cores},6144]"
        for r in range(a.rounds):
            for name, (z, job) in variants.items():
                t0 = time.time()
                res = replay(z, job, events, master, f"{name}_{n}_{r}")
                out["samples"].setdefault(f"{name}@{n}", []).append(res["events_per_sec"])
                print(
                    f"{name}@{n} run{r}: {res['events_per_sec']} ev/s "
                    f"({round(time.time() - t0, 1)}s total)",
                    file=sys.stderr,
                )
    summary = {}
    for k, v in out["samples"].items():
        summary[k] = max(v)  # best throughput = least substrate-polluted
    for n in levels:
        if f"new@{n}" in summary and f"old@{n}" in summary:
            summary[f"new_vs_old@{n}"] = round(summary[f"new@{n}"] / summary[f"old@{n}"], 3)
    lo, hi = levels[0], levels[-1]
    for name in variants:
        if f"{name}@{lo}" in summary and f"{name}@{hi}" in summary:
            summary[f"{name}_scaling_eff"] = round(
                summary[f"{name}@{hi}"] / summary[f"{name}@{lo}"] / (hi / lo), 3
            )
    out["summary"] = summary
    print(json.dumps(out))


if __name__ == "__main__":
    main()
