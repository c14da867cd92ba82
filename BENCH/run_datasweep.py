"""Data-size scaling sweep (round 5e): throughput vs input volume at
fixed parallelism.

The north rule's 10^10-event target is 625x the 16M-row gate; the
parallelism matrices (run_scaling.py) evidence the N->4N executor axis,
but nothing yet evidences the DATA axis — that per-event cost stays flat
as the input grows. This sweep replays the same MoR incremental path on
4M / 16M / 64M change events (x4 steps, 16x end-to-end) at a fixed
local[32], 4 batches each (batch size grows with input, so per-batch
fixed cost amortizes identically and the measurement isolates marginal
per-event cost). Flat or rising ev/s across the sweep = the replay is
O(data): bucket counts size from volume, MoR delta writes are
proportional to the batch, LWW is one hash exchange per batch, and no
driver-side structure grows with history.

Protocol hygiene matches run_scaling.py: inputs generated once to
parquet and reused byte-identically, sizes interleaved (4,16,64 x runs)
so a noise burst hits all sizes, best-of-N per size, substrate probes
before/after the block.

Run: python BENCH/run_datasweep.py [--runs 2] [--sizes 4000000,16000000,64000000]
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


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--sizes", default="4000000,16000000,64000000")
    p.add_argument("--cores", type=int, default=32)
    p.add_argument("--content-max-reps", type=int, default=2)
    p.add_argument("--flags", default="",
                   help="extra replay flags, comma-separated (default: none)")
    p.add_argument("--out", default=None, help="write the summary JSON here too")
    a = p.parse_args()

    sizes = [int(s) for s in a.sizes.split(",")]
    flags = [f for f in a.flags.split(",") if f]
    master = f"local[{a.cores}]"
    zpath = build_zip()

    for n in sizes:
        events = os.path.join(SCRATCH, f"events_{n}_r{a.content_max_reps}")
        if not os.path.exists(os.path.join(events, "_SUCCESS")):
            print(f"generating {n:,} events once -> {events}", file=sys.stderr)
            run_submit(
                zpath,
                ["generate", "--out", events, "--n-events", str(n),
                 "--batch-size", str(n // 4),
                 "--content-max-reps", str(a.content_max_reps)],
                master=master,
            )

    probes = {"before": {"cpu_hashes_per_sec": round(cpu_probe(8)),
                         "memcpy_gb_per_sec": round(mem_probe(8, iters=15), 1)}}
    print(json.dumps({"probe": "before", **probes["before"]}), file=sys.stderr)

    best: dict[int, dict] = {}
    for run_i in range(a.runs):
        for n in sizes:  # interleaved: noise hits every size
            events = os.path.join(SCRATCH, f"events_{n}_r{a.content_max_reps}")
            work = os.path.join(SCRATCH, f"sweep_{n}")
            shutil.rmtree(work, ignore_errors=True)
            t0 = time.time()
            r = run_submit(
                zpath,
                ["replay", "--events", events, "--table", work, *flags],
                master=master,
            )
            shutil.rmtree(work, ignore_errors=True)
            if n not in best or r["events_per_sec"] > best[n]["events_per_sec"]:
                best[n] = r
            print(json.dumps({"n_events": n, "run": run_i,
                              "events_per_sec": r["events_per_sec"],
                              "sec": r["sec"],
                              "wall_incl_jvm": round(time.time() - t0, 1)}),
                  file=sys.stderr)

    probes["after"] = {"cpu_hashes_per_sec": round(cpu_probe(8)),
                       "memcpy_gb_per_sec": round(mem_probe(8, iters=15), 1)}
    print(json.dumps({"probe": "after", **probes["after"]}), file=sys.stderr)

    base = best[sizes[0]]["events_per_sec"]
    out = {
        "protocol": f"{master}, replay {' '.join(flags)}, 4 batches per size, "
                    f"best-of-{a.runs}, sizes interleaved",
        "sizes": {
            str(n): {
                "events_per_sec": best[n]["events_per_sec"],
                "sec": best[n]["sec"],
                "table_rows": best[n].get("table_rows"),
                "ev_s_vs_smallest": round(best[n]["events_per_sec"] / base, 3),
            }
            for n in sizes
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
