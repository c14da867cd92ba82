"""Decompose the non-scaling term in the local-cluster replay (round 5c).

The 1-vs-4-executor matrix (BENCH/r5c/cluster_1v4.json) measured MoR
replay scaling efficiency 0.484 while the same-window substrate probes
had headroom (cpu 0.88, memcpy 0.81) — so ~27% of the 1-executor wall
is an ENGINE-side term that does not shrink with workers. This script
names it: it re-runs the same replay at local-cluster[1,2] and
local-cluster[4,2] with the Spark event log on, then decomposes the
timed replay window into

  - task time       (sum of executor task runtimes, per stage)
  - stage critical  (sum of stage wall durations, capped by the window)
  - driver gaps     (wall inside the window not covered by any job span
                     = pure driver/planning/commit time)
  - single-task / few-task stage wall (stages that CANNOT scale)

and prints a per-level table plus the 1-exec stages ranked by how
little their wall shrank at 4 executors.

Run:  python BENCH/profile_serial.py [--n-events 16000000]
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
EVLOG = os.path.join(SCRATCH, "eventlog")


def run_replay(zpath: str, events_dir: str, master: str, tag: str) -> dict:
    os.makedirs(EVLOG, exist_ok=True)
    for f in glob.glob(os.path.join(EVLOG, "*")):
        shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)
    work = os.path.join(SCRATCH, f"prof_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    cmd = [
        SPARK_SUBMIT,
        "--master", master,
        "--driver-memory", "24g",
        "--conf", f"spark.local.dir={os.path.join(SCRATCH, 'tmp')}",
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "--conf", f"spark.eventLog.dir=file://{EVLOG}",
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
    logs = glob.glob(os.path.join(EVLOG, "*"))
    assert len(logs) == 1, logs
    res["eventlog"] = logs[0]
    shutil.rmtree(work, ignore_errors=True)
    return res


def parse_eventlog(path: str, t0: int, t1: int) -> dict:
    """Windowed decomposition of one app's event log to [t0, t1] epoch ms."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    # Spark 4 rolling event log: a directory of events_* part files
    parts = (
        sorted(glob.glob(os.path.join(path, "events_*")))
        if os.path.isdir(path) else [path]
    )

    def lines():
        for p in parts:
            with open(p) as fh:
                yield from fh

    if True:
        for line in lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"start": ev["Submission Time"]}
            elif e == "SparkListenerJobEnd":
                j = jobs.get(ev["Job ID"])
                if j is not None:
                    j["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if "Submission Time" not in si or "Completion Time" not in si:
                    continue
                prev = stages.get(si["Stage ID"], {})
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:70],
                    "start": si["Submission Time"],
                    "end": si["Completion Time"],
                    "tasks": si["Number of Tasks"],
                    "task_ms": prev.get("task_ms", 0),
                    "task_list": prev.get("task_list", []),
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                ti = ev.get("Task Info", {})
                dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                rec = (dur, ti.get("Executor ID", "?"), ti.get("Launch Time", 0))
                if sid in stages:
                    stages[sid]["task_ms"] += dur
                    stages[sid].setdefault("task_list", []).append(rec)
                else:
                    # TaskEnd precedes StageCompleted; buffer under a stub
                    stages[sid] = {"name": "?", "start": 0, "end": 0, "tasks": 0,
                                   "task_ms": dur, "task_list": [rec]}

    in_win = lambda s, e: e > t0 and s < t1  # noqa: E731
    wjobs = sorted(
        (max(j["start"], t0), min(j["end"], t1))
        for j in jobs.values()
        if "end" in j and in_win(j["start"], j["end"])
    )
    # merge job spans, measure covered wall vs gaps (pure driver time)
    covered, cur_s, cur_e = 0, None, None
    for s, e in wjobs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    window = t1 - t0
    wstages = {
        sid: st for sid, st in stages.items()
        if st["end"] and in_win(st["start"], st["end"])
    }
    # wall inside job spans not covered by any stage span = in-job driver
    # time (DAG submit, commit coordination between stages)
    sspans = sorted((max(s["start"], t0), min(s["end"], t1)) for s in wstages.values())
    scov, cs, ce = 0, None, None
    for s, e in sspans:
        if ce is None or s > ce:
            if ce is not None:
                scov += ce - cs
            cs, ce = s, e
        else:
            ce = max(ce, e)
    if ce is not None:
        scov += ce - cs
    few = [st for st in wstages.values() if st["tasks"] <= 2]
    return {
        "window_ms": window,
        "job_covered_ms": covered,
        "driver_gap_ms": window - covered,
        "stage_covered_ms": scov,
        "in_job_driver_ms": covered - scov,
        "n_jobs": len(wjobs),
        "n_stages": len(wstages),
        "task_ms_total": sum(s["task_ms"] for s in wstages.values()),
        "few_task_stage_wall_ms": sum(min(s["end"], t1) - max(s["start"], t0) for s in few),
        "few_task_stages": len(few),
        "stages": wstages,
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n-events", type=int, default=16_000_000)
    p.add_argument("--exec-cores", type=int, default=2)
    p.add_argument("--low", type=int, default=1)
    p.add_argument("--high", type=int, default=4)
    a = p.parse_args()

    zpath = build_zip()
    events_dir = os.path.join(SCRATCH, f"events_{a.n_events}_r2")
    assert os.path.exists(os.path.join(events_dir, "_SUCCESS")), \
        f"generate events first (run_scaling.py does): {events_dir}"

    out = {}
    for n in (a.low, a.high):
        master = f"local-cluster[{n},{a.exec_cores},6144]"
        res = run_replay(zpath, events_dir, master, f"{n}x{a.exec_cores}")
        prof = parse_eventlog(res["eventlog"], res["t0_ms"], res["t1_ms"])
        stages = prof.pop("stages")
        prof["wall_s"] = res["sec"]
        prof["events_per_sec"] = res["events_per_sec"]
        slots = n * a.exec_cores
        # slot utilization: total task time / (slots x stage-covered wall)
        prof["slot_utilization"] = round(
            prof["task_ms_total"] / (slots * max(prof["stage_covered_ms"], 1)), 3)
        out[n] = {"prof": prof, "stages": stages}
        print(json.dumps({"level": n, **prof}), file=sys.stderr)
        print(f"\ntop stages at {n} executors (wall_ms, tasks, task_ms_sum):",
              file=sys.stderr)
        for st in sorted(stages.values(), key=lambda s: s["start"] - s["end"])[:16]:
            print(f"  {st['end'] - st['start']:>8} ms  {st['tasks']:>4}t  "
                  f"{st['task_ms']:>9}  {st['name']}", file=sys.stderr)
            tl = sorted(st.get("task_list", []), reverse=True)
            if tl and st["end"] - st["start"] > 3000:
                # (dur_ms, executor, launch_offset_ms) per task, slowest first
                print("      tasks: " + " ".join(
                    f"{d}ms@e{x}+{lt - st['start']}" for d, x, lt in tl[:12]),
                    file=sys.stderr)

    lo, hi = out[a.low], out[a.high]
    print(json.dumps({
        "protocol": f"local-cluster[{a.low}v{a.high},{a.exec_cores},6144] eventlog decomposition",
        "n_events": a.n_events,
        "low": lo["prof"],
        "high": hi["prof"],
    }))

    # rank 1-exec stages by wall that did NOT shrink at 4 exec (match by name)
    by_name_hi: dict[str, list] = {}
    for st in hi["stages"].values():
        by_name_hi.setdefault(st["name"], []).append(st)
    rows = []
    for st in lo["stages"].values():
        wall = st["end"] - st["start"]
        hi_walls = [h["end"] - h["start"] for h in by_name_hi.get(st["name"], [])]
        rows.append((wall, st["name"], st["tasks"],
                     sum(hi_walls) / len(hi_walls) if hi_walls else None))
    rows.sort(reverse=True)
    print("\ntop 1-exec stages (wall_ms, tasks, mean 4-exec wall_ms of same-name stages):",
          file=sys.stderr)
    for wall, name, tasks, hw in rows[:18]:
        print(f"  {wall:>8} ms  {tasks:>4}t  {'' if hw is None else round(hw):>8}  {name}",
              file=sys.stderr)


if __name__ == "__main__":
    main()
