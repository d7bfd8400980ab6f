"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``; names and units as declared in BENCHMARK.json). The lines
before it carry the host stamp and details such as sample counts. All
files go under ``.perfbench_work/`` in the checkout and are removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("backfill", "cdc_stream")


def _declared(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares for the run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _run(args, work: str) -> dict:
    import importlib

    from perfbench.context import CORES, DRIVER_MEMORY, MASTER, Bench
    from perfbench.harness import cpu_probe, host_stamp

    host = host_stamp()
    host["cpu_probe_before_msha_s"] = cpu_probe(CORES)
    workload = importlib.import_module(f"perfbench.{args.workload}")

    b = Bench(work, args.seed, args.seconds, bool(args.trace))
    try:
        b.start_spark()
        fold_layers = workload.run(b)
        b.finish_common()
    finally:
        b.stop()
    host["cpu_probe_after_msha_s"] = cpu_probe(CORES)
    host["driver_memory"] = DRIVER_MEMORY
    host["master"] = MASTER
    print(json.dumps({"host": host}))
    if args.trace:
        fold_layers()
        # against the untraced run's events_per_s: the event log's cost
        b.layers["trace.events_per_s"] = b.e2e["events_per_s"]
        for name in workload.BYPASSED_LAYERS:
            if name in b.layers:
                raise RuntimeError(f"{name} is measured, yet declared bypassed")
            b.layers[name] = 0.0
        values = b.layers
    else:
        values = b.e2e
    print(json.dumps({"detail": b.detail}))
    units = _declared(bool(args.trace))
    if set(values) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: missing {sorted(set(units) - set(values))},"
            f" undeclared {sorted(set(values) - set(units))}"
        )
    return {
        "correct": b.correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {
            name: {"value": float(v), "unit": units[name]}
            for name, v in sorted(values.items())
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")

    sys.path[:0] = [ROOT]
    from perfbench.context import DRIVER_MEMORY

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the engine's own defaults size the heap for a large host and keep
    # scratch data in the system temp dir; keep both inside the checkout
    os.environ.update({
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_ETL_SCRATCH_DIR": os.path.join(work, "scratch"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    try:
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
