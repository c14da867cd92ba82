"""Diagnose the bimodal 4-executor samples in the 1-core matrix.

Both invocations of the 1v4x1-core matrix (BENCH/r5c/cluster_1v4_1core*)
show the FIRST 4-executor sample collapsing to ~1-executor throughput
(85-88k ev/s vs 191-251k on later samples). This script reproduces the
trigger — a 1-executor replay followed by a 4-executor replay — with the
Spark event log on for the 4-executor runs, then reports, per run:

  - executor add/remove timeline relative to the timed window
  - task count + task-ms per executor (is one executor doing all work?)
  - job spans inside the timed window (is the wall in one stage?)

Run:  python BENCH/diagnose_slowmode.py [--n-events 16000000] [--high-runs 3]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run_scaling import SCRATCH, SPARK_SUBMIT, build_zip  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EVLOG = os.path.join(SCRATCH, "eventlog_slowmode")


def run_replay(zpath: str, events_dir: str, master: str, tag: str,
               evlog: bool) -> dict:
    work = os.path.join(SCRATCH, f"diag_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    ev_conf = []
    if evlog:
        os.makedirs(EVLOG, exist_ok=True)
        for f in glob.glob(os.path.join(EVLOG, "*")):
            shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)
        ev_conf = [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{EVLOG}",
        ]
    m_mb = master.rstrip("]").split(",")[-1]
    cmd = [
        SPARK_SUBMIT,
        "--master", master,
        "--driver-memory", "24g",
        "--conf", f"spark.executor.memory={m_mb}m",
        "--conf", f"spark.local.dir={os.path.join(SCRATCH, 'tmp')}",
        *ev_conf,
        "--py-files", zpath,
        os.path.join(REPO, "jobs", "ingest.py"),
        "replay", "--events", events_dir, "--table", work,
        "--master", master,
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-3000:] + "\n" + out.stderr[-3000:])
        raise RuntimeError(f"spark-submit failed ({master})")
    res = json.loads([l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1])
    if evlog:
        logs = glob.glob(os.path.join(EVLOG, "*"))
        assert len(logs) == 1, logs
        res["executors"] = parse_executors(logs[0], res["t0_ms"], res["t1_ms"])
    shutil.rmtree(work, ignore_errors=True)
    return res


def parse_executors(path: str, t0: int, t1: int) -> dict:
    execs: dict[str, dict] = {}
    jobs: list[tuple[int, int, int]] = []
    parts = (sorted(glob.glob(os.path.join(path, "events_*")))
             if os.path.isdir(path) else [path])

    def lines():
        for p in parts:
            with open(p) as fh:
                yield from fh

    job_start: dict[int, int] = {}
    for line in lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerExecutorAdded":
            execs[ev["Executor ID"]] = {
                "added_ms_vs_t0": ev["Timestamp"] - t0, "tasks": 0, "task_ms": 0,
            }
        elif e == "SparkListenerExecutorRemoved":
            ex = execs.setdefault(ev["Executor ID"], {"tasks": 0, "task_ms": 0})
            ex["removed_ms_vs_t0"] = ev["Timestamp"] - t0
            ex["removed_reason"] = ev.get("Removed Reason", "")[:120]
        elif e == "SparkListenerTaskEnd":
            ti = ev.get("Task Info", {})
            # only tasks inside the timed window
            if ti.get("Launch Time", 0) < t0 or ti.get("Launch Time", 0) > t1:
                continue
            ex = execs.setdefault(ti.get("Executor ID", "?"),
                                  {"tasks": 0, "task_ms": 0})
            ex["tasks"] += 1
            ex["task_ms"] += ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
            if ti.get("Failed", False):
                ex["failed"] = ex.get("failed", 0) + 1
        elif e == "SparkListenerJobStart":
            job_start[ev["Job ID"]] = ev["Submission Time"]
        elif e == "SparkListenerJobEnd":
            s = job_start.get(ev["Job ID"])
            if s is not None and ev["Completion Time"] >= t0 and s <= t1:
                jobs.append((ev["Job ID"], s - t0, ev["Completion Time"] - t0))
    return {"executors": execs, "jobs_in_window": jobs}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n-events", type=int, default=16_000_000)
    p.add_argument("--high-runs", type=int, default=3)
    p.add_argument("--skip-trigger", action="store_true")
    a = p.parse_args()

    zpath = build_zip()
    events_dir = os.path.join(SCRATCH, f"events_{a.n_events}_r2")
    if not os.path.exists(os.path.join(events_dir, "_SUCCESS")):
        print(f"generating {a.n_events} events -> {events_dir}", file=sys.stderr)
        subprocess.run([
            SPARK_SUBMIT, "--master", "local[32]", "--driver-memory", "24g",
            "--conf", f"spark.local.dir={os.path.join(SCRATCH, 'tmp')}",
            "--py-files", zpath, os.path.join(REPO, "jobs", "ingest.py"),
            "generate", "--out", events_dir, "--n-events", str(a.n_events),
            "--batch-size", str(a.n_events // 4), "--master", "local[32]",
        ], check=True, capture_output=True, timeout=3600)

    out = {"runs": []}
    if not a.skip_trigger:
        r = run_replay(zpath, events_dir, "local-cluster[1,1,6144]",
                       "trigger_1exec", evlog=False)
        print(json.dumps({"run": "trigger_1exec",
                          "events_per_sec": r["events_per_sec"],
                          "sec": r["sec"]}), file=sys.stderr)
        out["trigger_1exec"] = {"events_per_sec": r["events_per_sec"], "sec": r["sec"]}

    for i in range(a.high_runs):
        r = run_replay(zpath, events_dir, "local-cluster[4,1,6144]",
                       f"high_{i}", evlog=True)
        row = {"run": f"4exec_{i}", "events_per_sec": r["events_per_sec"],
               "sec": r["sec"], **r["executors"]}
        print(json.dumps(row), file=sys.stderr)
        out["runs"].append(row)

    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
