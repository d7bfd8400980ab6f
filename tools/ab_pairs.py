"""Summarise an interleaved parent/change A/B of ``perfbench/run.py``.

Reads the ``par_<seed>.out`` / ``chg_<seed>.out`` files the A/B recipe
writes (stdout of one run each: the last line is the result JSON, an
earlier line carries ``{"detail": {..., "timed_steal_share": ...}}``).
For every end-to-end metric it prints each side's median and quartiles,
every pair's change/parent ratio, the change's wins (ties count for
neither side) and whether the claim rule holds: the change wins at least
9 in 10 pairs and its median beats the parent's by more than the parent's
interquartile range. Then it lists every run's steal share, ``correct``
and ``failed``.

Usage: python tools/ab_pairs.py DIR [--claim METRIC]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_run(path: str) -> dict:
    """The result JSON of one run plus its ``timed_steal_share``."""
    result, detail = None, {}
    with open(path) as f:
        for line in f:
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and "detail" in obj:
                detail = obj["detail"]
            elif isinstance(obj, dict) and "metrics" in obj:
                result = obj
    if result is None:
        raise ValueError(f"{path}: no result line")
    return {**result, "steal": detail.get("timed_steal_share")}


def load_pairs(out_dir: str) -> dict[int, dict[str, dict]]:
    """seed -> {"par": run, "chg": run}, for the seeds both sides ran."""
    runs: dict[int, dict[str, dict]] = {}
    for path in glob.glob(os.path.join(out_dir, "*.out")):
        m = re.fullmatch(r"(par|chg)_(\d+)\.out", os.path.basename(path))
        if m:
            runs.setdefault(int(m.group(2)), {})[m.group(1)] = load_run(path)
    return {s: r for s, r in sorted(runs.items()) if len(r) == 2}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: dict[int, dict[str, dict]], metric: str, higher_better: bool) -> dict:
    """Medians, quartiles, per-pair ratios and wins of ``metric``, and
    whether the claim rule holds for the change."""
    par = [pairs[s]["par"]["metrics"][metric]["value"] for s in pairs]
    chg = [pairs[s]["chg"]["metrics"][metric]["value"] for s in pairs]
    sign = 1 if higher_better else -1
    wins = sum(sign * (c - p) > 0 for p, c in zip(par, chg))
    pq, cq = quartiles(par), quartiles(chg)
    gap = sign * (cq[1] - pq[1])
    return {
        "metric": metric, "pairs": len(par), "par": pq, "chg": cq,
        "ratios": [c / p if p else float("nan") for p, c in zip(par, chg)],
        "wins": wins, "gap": gap, "par_iqr": pq[2] - pq[0],
        "claim_holds": len(par) >= 10 and wins >= 0.9 * len(par) and gap > pq[2] - pq[0],
    }


def _directions() -> dict[str, bool]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] == "higher" for m in bench["end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("dir")
    p.add_argument("--claim", help="the claimed metric; exit 1 if its rule does not hold")
    args = p.parse_args(argv)
    pairs = load_pairs(args.dir)
    if not pairs:
        p.error(f"no par_<seed>.out / chg_<seed>.out pairs in {args.dir}")
    first = next(iter(pairs.values()))["par"]["metrics"]
    verdicts = {}
    for metric, higher in _directions().items():
        if metric not in first:
            continue
        s = summarize(pairs, metric, higher)
        verdicts[metric] = s["claim_holds"]
        fmt = "{0[1]:.4g} [{0[0]:.4g}-{0[2]:.4g}]"
        moved = f"{s['chg'][1] / s['par'][1] - 1:+.1%}" if s["par"][1] else "n/a"
        print(f"{metric} ({'higher' if higher else 'lower'} is better, {s['pairs']} pairs)")
        print(f"  parent {fmt.format(s['par'])}  change {fmt.format(s['chg'])}  median {moved}")
        print("  ratios " + " ".join(f"{r:.3f}" for r in s["ratios"]))
        print(f"  change wins {s['wins']}/{s['pairs']}; gap {s['gap']:.4g} vs parent IQR "
              f"{s['par_iqr']:.4g}; claim rule {'holds' if s['claim_holds'] else 'not met'}")
    print("runs: seed side timed_steal_share correct failed/attempted")
    for seed, sides in pairs.items():
        for side in ("par", "chg"):
            r = sides[side]
            print(f"  {seed} {side} {r['steal']} {r['correct']} {r['failed']}/{r['attempted']}")
    if args.claim is not None:
        return 0 if verdicts.get(args.claim) else 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
