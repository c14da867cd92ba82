"""CDC ingest benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run brackets one traced pass with two untraced ones and reports the
per-layer metrics, after a table of them. Metric names and units come
from BENCHMARK.json. See perfbench/NOTES.md.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(CHECKOUT, ".perfbench")  # one run-<pid> directory per run

# per-layer metric -> (end-to-end metric it should move, workload that
# shows it); "-" marks the read-path probes and the tracing overhead
# itself. Names and units come from BENCHMARK.json.
MOVES = {
    "session.build_s": ("setup_s", "both"),
    "udfs.prepare_s": ("events_per_s", "replay_bulk"),
    "udfs.prepare_jvm_s": ("events_per_s", "replay_bulk"),
    "dedup.lww_s": ("events_per_s", "replay_bulk"),
    "ingest.apply_s": ("commit_s.p50", "both"),
    "ingest.skipped": ("commit_s.p50", "both"),
    "lake.merge_s": ("events_per_s", "replay_bulk"),
    "lake.files_per_commit": ("write_amp", "replay_bulk"),
    "lake.bytes_per_commit": ("write_amp", "replay_bulk"),
    "lake.compact_s": ("events_per_s", "tail_micro"),
    "lake.compactions": ("write_amp", "both"),
    "lake.compact_bytes": ("write_amp", "both"),
    "lake.delta_files": ("space_amp", "both"),
    "lake.lookup_files": ("-", "both"),
    "lake.changes_files": ("-", "both"),
    "lake.scan_files": ("-", "both"),
    "lake.lookup_s": ("-", "both"),
    "lake.changes_s": ("-", "both"),
    "lake.scan_s": ("-", "both"),
    "catalog.ledger_s": ("commit_s.p50", "tail_micro"),
    "catalog.low_watermark_calls": ("commit_s.p50", "tail_micro"),
    "tail.trigger_s": ("events_per_s", "tail_micro"),
    "tail.add_batch_s": ("commit_s.p50", "tail_micro"),
    "tail.wal_commit_s": ("events_per_s", "tail_micro"),
    "tail.commit_offsets_s": ("events_per_s", "tail_micro"),
    "tail.query_planning_s": ("events_per_s", "tail_micro"),
    "tail.framework_s": ("events_per_s", "tail_micro"),
    "spark.jobs_per_commit": ("commit_s.p50", "tail_micro"),
    "spark.stages_per_commit": ("commit_s.p50", "tail_micro"),
    "spark.tasks_per_commit": ("commit_s.p50", "tail_micro"),
    "spark.jobs_first_commit": ("events_per_s", "both"),
    "spark.jobs_compacting_commit": ("events_per_s", "both"),
    "spark.shuffle_bytes_per_event": ("events_per_s", "replay_bulk"),
    "spark.output_bytes_per_event": ("write_amp", "replay_bulk"),
    "self.ingest_s": ("events_per_s", "both"),
    "self.lake_s": ("events_per_s", "both"),
    "self.catalog_s": ("commit_s.p50", "both"),
    "trace.uncovered_share": ("events_per_s", "both"),
    "trace.events_per_s": ("events_per_s", "both"),
    "trace.overhead": ("-", "both"),
}


def metric_units(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def slots() -> int:
    """Spark slots: half the CPUs this process may use, at most 2. Each
    pandas-UDF task also runs a Python worker, so k slots keep about 2k
    processes busy; local[4] on 4 CPUs ran 1.5-6x less steady than local[2]
    (see NOTES.md)."""
    return max(1, min(2, len(os.sched_getaffinity(0)) // 2))


def session(run_dir: str, trace: bool):
    from pyorchdb_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": "3g",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # the stage REST API behind spark.*_bytes_per_event: traced runs only
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
    }
    return build_session(app_name="perfbench", master=f"local[{slots()}]", extra_conf=conf)


def stop(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, CHECKOUT)
    try:
        import pyorchdb_spark.ingest  # noqa: F401  (the engine under test)

        from perfbench import workloads as bench
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {CHECKOUT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in bench.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = metric_units(bool(args.trace))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [CHECKOUT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    spark = None
    try:
        t0 = time.perf_counter()
        spark = session(run_dir, bool(args.trace))
        build_s = time.perf_counter() - t0
        result = bench.run(spark, args.workload, args, CHECKOUT, run_dir, build_s)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        report(result["metrics"], units, args.workload)
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    print(json.dumps(result), flush=True)
    return 0


def report(metrics: dict, units: dict[str, str], workload: str) -> None:
    print(f"traced run of {workload}: per-layer metrics")
    print(f"{'metric':34} {'value':>14} {'unit':6} {'should move':14} on")
    for k, unit in units.items():
        moves, on = MOVES[k]
        print(f"{k:34} {metrics[k]:14.6g} {unit:6} {moves:14} {on}")


if __name__ == "__main__":
    sys.exit(main())
