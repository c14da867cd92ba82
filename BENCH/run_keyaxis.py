"""Key-cardinality scaling sweep (round 5f/5g): throughput vs distinct-key
count at fixed event volume and fixed parallelism.

The datasweep (run_datasweep.py) scales CHURN — the generator's default
path space saturates distinct (repo, path) at ~855k, so 4M -> 64M events
means 4.8 -> 75 events/key. The 10^10-event regime also grows the KEY
axis (~10^8-9 keys), which stresses the opposite ends of the engine:
the LWW winner set (and hence MoR delta write volume and the final
table) scales with |keys|, not events, and the bucket count sizes from
volume. This sweep holds events fixed at one volume and widens the key
image, then replays the same MoR incremental path and sha-verifies the
final state per point.

Part 1 (--mods, round 5g) swept the path modulus and found it is NOT a
key axis: the generator's 1,000,003-value uniform grid caps distinct key
ids at ~1M whatever path_mod is. Part 2 (--points, this file's default)
sweeps the REAL key axis using the ``--key-space wide`` generator mode
(full 64-bit hash resolution) and the events_per_key knob, so |keys|
spans ~855k -> ~20M at the same 64M-event volume.

Expected honest shape: events/s FALLS as keys grow (more winner rows =
more real write work per event — at 855k keys 98.7% of events lose LWW
and are never written), while per-WINNER cost stays flat-to-falling and
verify stays at zero diffs. A collapse worse than the winner-volume
growth would indicate a structure that scales with key cardinality
(driver state, planning, memory) — the failure mode this sweep exists
to rule out.

Run: python BENCH/run_keyaxis.py [--n-events 64000000]
     [--points grid:3:997,wide:16:99991,wide:3:99991]
Points are ``key_space:events_per_key:path_mod`` triples, replayed
interleaved, best-of-N, sha-verified per point.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run_scaling import (  # noqa: E402
    SCRATCH, build_zip, cpu_probe, mem_probe, run_submit,
)


def parse_point(spec: str) -> dict:
    ks, epk, mod = spec.split(":")
    return {"key_space": ks, "events_per_key": float(epk), "path_mod": int(mod)}


def point_label(pt: dict) -> str:
    epk = pt["events_per_key"]
    epk_s = str(int(epk)) if float(epk).is_integer() else str(epk)
    return f"{pt['key_space']}_epk{epk_s}_pm{pt['path_mod']}"


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--n-events", type=int, default=64_000_000)
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--points", default="grid:3:997,wide:16:99991,wide:3:99991",
                   help="comma list of key_space:events_per_key:path_mod")
    p.add_argument("--mods", default=None,
                   help="part-1 sugar: comma list of path mods, expands to "
                        "grid:3:<mod> points")
    p.add_argument("--cores", type=int, default=32)
    p.add_argument("--content-max-reps", type=int, default=2)
    p.add_argument("--flags", default="")
    p.add_argument("--skip-verify", action="store_true")
    p.add_argument("--keep-inputs", action="store_true",
                   help="leave generated event dirs on scratch for reuse")
    p.add_argument("--out", default=None)
    a = p.parse_args()

    if a.mods:
        points = [parse_point(f"grid:3:{m}") for m in a.mods.split(",")]
    else:
        points = [parse_point(s) for s in a.points.split(",")]
    labels = [point_label(pt) for pt in points]
    flags = [f for f in a.flags.split(",") if f]
    master = f"local[{a.cores}]"
    zpath = build_zip()

    def events_dir(pt: dict) -> str:
        # the grid/epk3/pm997 point is the committed default: reuse the
        # datasweep's input byte-identically rather than regenerating it
        # under a new name
        if (pt["key_space"], pt["events_per_key"], pt["path_mod"]) == ("grid", 3.0, 997):
            suffix = ""
        else:
            suffix = f"_{point_label(pt)}"
        return os.path.join(SCRATCH, f"events_{a.n_events}_r{a.content_max_reps}{suffix}")

    for pt in points:
        ev = events_dir(pt)
        if not os.path.exists(os.path.join(ev, "_SUCCESS")):
            print(f"generating {a.n_events:,} events @ {point_label(pt)} -> {ev}",
                  file=sys.stderr)
            run_submit(
                zpath,
                ["generate", "--out", ev, "--n-events", str(a.n_events),
                 "--batch-size", str(a.n_events // 4),
                 "--content-max-reps", str(a.content_max_reps),
                 "--path-mod", str(pt["path_mod"]),
                 "--events-per-key", str(pt["events_per_key"]),
                 "--key-space", pt["key_space"]],
                master=master,
            )

    probes = {"before": {"cpu_hashes_per_sec": round(cpu_probe(8)),
                         "memcpy_gb_per_sec": round(mem_probe(8, iters=15), 1)}}
    print(json.dumps({"probe": "before", **probes["before"]}), file=sys.stderr)

    best: dict[str, dict] = {}
    samples: dict[str, list] = {lb: [] for lb in labels}
    for run_i in range(a.runs):
        for pt, lb in zip(points, labels):  # interleaved: a noise burst hits every point
            work = os.path.join(SCRATCH, f"keyaxis_{lb}")
            shutil.rmtree(work, ignore_errors=True)
            t0 = time.time()
            r = run_submit(
                zpath,
                ["replay", "--events", events_dir(pt), "--table", work, *flags],
                master=master,
            )
            samples[lb].append(r["events_per_sec"])
            if lb not in best or r["events_per_sec"] > best[lb]["events_per_sec"]:
                best[lb] = r
            print(json.dumps({"point": lb, "run": run_i,
                              "events_per_sec": r["events_per_sec"],
                              "sec": r["sec"], "table_rows": r.get("table_rows"),
                              "wall_incl_jvm": round(time.time() - t0, 1)}),
                  file=sys.stderr)
            # last run leaves the table in place for the verify pass
            if not (run_i == a.runs - 1 and not a.skip_verify):
                shutil.rmtree(work, ignore_errors=True)

    verify = {}
    if not a.skip_verify:
        for pt, lb in zip(points, labels):
            work = os.path.join(SCRATCH, f"keyaxis_{lb}")
            v = run_submit(
                zpath,
                ["verify", "--events", events_dir(pt), "--table", work],
                master=master,
            )
            verify[lb] = v
            print(json.dumps({"verify_point": lb, **v}), file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)

    probes["after"] = {"cpu_hashes_per_sec": round(cpu_probe(8)),
                       "memcpy_gb_per_sec": round(mem_probe(8, iters=15), 1)}
    print(json.dumps({"probe": "after", **probes["after"]}), file=sys.stderr)

    if not a.keep_inputs:
        for pt in points:
            if events_dir(pt).endswith(f"_r{a.content_max_reps}"):
                continue  # committed-default input is shared with other harnesses
            shutil.rmtree(events_dir(pt), ignore_errors=True)

    base = best[labels[0]]
    out = {
        "protocol": f"{master}, {a.n_events} events fixed, replay "
                    f"{' '.join(flags)}, best-of-{a.runs}, points interleaved, "
                    "sha-verify per point",
        "points": {
            lb: {
                "events_per_sec": best[lb]["events_per_sec"],
                "samples": samples[lb],
                "sec": best[lb]["sec"],
                "table_rows": best[lb].get("table_rows"),
                "keys_vs_base": round(
                    (best[lb].get("table_rows") or 0)
                    / max(1, base.get("table_rows") or 1), 2),
                "ev_s_vs_base": round(
                    best[lb]["events_per_sec"] / base["events_per_sec"], 3),
                "us_per_winner_row": round(
                    best[lb]["sec"] * 1e6 / max(1, best[lb].get("table_rows") or 1), 2),
                "verify": verify.get(lb),
            }
            for lb in labels
        },
        "substrate_probes": probes,
    }
    print(json.dumps(out))
    if a.out:
        os.makedirs(os.path.dirname(a.out), exist_ok=True)
        with open(a.out, "w") as fh:
            fh.write(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main()
