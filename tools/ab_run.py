"""Run an interleaved parent/change A/B of ``perfbench/run.py``.

For each seed it runs one workload once in the parent checkout and once in
the change checkout (by default the checkout this tool lives in), with
the run length from ``BENCHMARK.json`` and tracing off. Which side runs
first alternates from pair to pair, so drift on the host falls on both
sides alike. Each run's standard output goes to ``par_<seed>.out`` or
``chg_<seed>.out`` in the output dir, which ``tools/ab_pairs.py`` reads.
A run writes to a ``.tmp`` file that is renamed only when the run exits
cleanly, so a side whose ``.out`` exists is complete and is skipped: a
killed loop resumes where it stopped.

Usage: python tools/ab_run.py --parent DIR --workload W --seeds 9401-9410 --out DIR
           [--change DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    """``"9401-9403,9410"`` -> [9401, 9402, 9403, 9410]."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_seconds(checkout: str) -> int:
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return int(json.load(f)["run_seconds"])


def run_side(checkout: str, workload: str, seed: int, seconds: int, out: str) -> None:
    """One perfbench run in ``checkout``; its stdout lands in ``out``."""
    tmp = out + ".tmp"
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    with open(tmp, "w") as f:
        code = subprocess.run(cmd, cwd=checkout, stdout=f).returncode
    if code != 0:
        raise SystemExit(f"{' '.join(cmd)} in {checkout} exited {code}; output kept in {tmp}")
    os.replace(tmp, out)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", default=ROOT, help="checkout of the change (default: this one)")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 9401-9410 or 9401,9403")
    p.add_argument("--out", required=True, help="dir for par_<seed>.out / chg_<seed>.out")
    args = p.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)
    seconds = run_seconds(args.change)
    dirs = {"par": args.parent, "chg": args.change}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        for side in ("par", "chg") if i % 2 == 0 else ("chg", "par"):
            out = os.path.join(args.out, f"{side}_{seed}.out")
            if os.path.exists(out):
                continue
            print(f"seed {seed}: {side}", file=sys.stderr, flush=True)
            run_side(dirs[side], args.workload, seed, seconds, out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
