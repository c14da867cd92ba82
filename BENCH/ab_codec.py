"""Interleaved A/B of shuffle/IO compression codec: lz4 (Spark default)
vs zstd (VERDICT r4 next #4 named this lever; round 5 closed the byte
side with --thin, this measures the codec side).

Why it could matter in local-cluster mode: with separate executor JVMs
the shuffle is a real netty transfer, so smaller compressed blocks are
fewer bytes through the loopback AND the shared page cache; on a real
cluster they are fewer bytes on the wire. zstd trades more CPU per MB
for a better ratio — on a DRAM-bound box that trade can go either way,
hence a measurement, not a default flip.

Protocol identical to ab_subsplit.py: interleave variants back-to-back
inside one window at each local-cluster level, best-of-N per variant
(the box swings >40% minute-to-minute), substrate probes per level.

Usage: python BENCH/ab_codec.py [--n-events 16000000] [--rounds 2]
       [--levels 1,4] [--exec-cores 2]
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


def build_zip() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    zpath = os.path.join(dist, "engine_ab_codec.zip")
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


def replay(zpath: str, events: str, master: str, codec: str, tag: str) -> dict:
    work = os.path.join(SCRATCH, f"abc_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    exec_conf = []
    if master.startswith("local-cluster["):
        m_mb = master.rstrip("]").split(",")[-1]
        exec_conf = ["--conf", f"spark.executor.memory={m_mb}m"]
    cmd = [
        SPARK_SUBMIT, "--master", master, "--driver-memory", "24g",
        *exec_conf,
        "--conf", f"spark.local.dir={os.path.join(SCRATCH, 'tmp')}",
        "--conf", f"spark.io.compression.codec={codec}",
        "--py-files", zpath, os.path.join(REPO, "jobs", "ingest.py"),
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
    p.add_argument("--n-events", type=int, default=16_000_000)
    p.add_argument("--rounds", type=int, default=2)
    p.add_argument("--exec-cores", type=int, default=2)
    p.add_argument("--levels", default="1,4")
    a = p.parse_args()

    events = os.path.join(SCRATCH, f"events_{a.n_events}_r2")
    assert os.path.exists(os.path.join(events, "_SUCCESS")), events
    zpath = build_zip()
    codecs = ["lz4", "zstd"]
    levels = [int(x) for x in a.levels.split(",")]
    out: dict = {
        "n_events": a.n_events,
        "protocol": (
            f"interleaved lz4/zstd x{a.rounds}, best-of per variant, "
            f"local-cluster[E,{a.exec_cores},6144], MoR incremental replay"
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
            for codec in codecs:
                t0 = time.time()
                res = replay(zpath, events, master, codec, f"{codec}_{n}_{r}")
                out["samples"].setdefault(f"{codec}@{n}", []).append(res["events_per_sec"])
                print(
                    f"{codec}@{n} run{r}: {res['events_per_sec']} ev/s "
                    f"({round(time.time() - t0, 1)}s total)",
                    file=sys.stderr,
                )
    summary = {}
    for k, v in out["samples"].items():
        summary[k] = max(v)
    for n in levels:
        if f"zstd@{n}" in summary and f"lz4@{n}" in summary:
            summary[f"zstd_vs_lz4@{n}"] = round(summary[f"zstd@{n}"] / summary[f"lz4@{n}"], 3)
    lo, hi = levels[0], levels[-1]
    for codec in codecs:
        if f"{codec}@{lo}" in summary and f"{codec}@{hi}" in summary:
            summary[f"{codec}_scaling_eff"] = round(
                summary[f"{codec}@{hi}"] / summary[f"{codec}@{lo}"] / (hi / lo), 3
            )
    out["summary"] = summary
    print(json.dumps(out))


if __name__ == "__main__":
    main()
