"""tools/ab_run.py against two fake checkouts whose perfbench/run.py
prints a result line."""

import json
import os

import pytest

from tools import ab_pairs, ab_run

FAKE_RUN = """\
import argparse, json, os
p = argparse.ArgumentParser()
for a in ("--workload", "--seed", "--seconds", "--trace"):
    p.add_argument(a)
a = p.parse_args()
side = open("SIDE").read().strip()
with open(os.environ["AB_RUN_LOG"], "a") as f:
    f.write(f"{side} {a.seed} {a.workload} {a.seconds} {a.trace}\\n")
if os.environ.get("AB_RUN_FAIL") == f"{side} {a.seed}":
    raise SystemExit(3)
print(json.dumps({"detail": {"timed_steal_share": 0.01}}))
value = 100 if side == "par" else 60
print(json.dumps({"correct": True, "attempted": 4, "failed": 0,
                  "metrics": {"write_bytes_per_event": {"value": value, "unit": "B"}}}))
"""


@pytest.fixture
def checkouts(tmp_path, monkeypatch):
    dirs = {}
    for side in ("par", "chg"):
        d = tmp_path / side
        (d / "perfbench").mkdir(parents=True)
        (d / "perfbench" / "run.py").write_text(FAKE_RUN)
        (d / "BENCHMARK.json").write_text(json.dumps({"run_seconds": 7}))
        (d / "SIDE").write_text(side)
        dirs[side] = str(d)
    log = tmp_path / "runs.log"
    monkeypatch.setenv("AB_RUN_LOG", str(log))
    return dirs, log


def _ab(dirs, out, seeds):
    return ab_run.main(["--parent", dirs["par"], "--change", dirs["chg"],
                        "--workload", "cdc_stream", "--seeds", seeds, "--out", str(out)])


def test_parse_seeds_takes_ranges_and_lists():
    assert ab_run.parse_seeds("9401-9403,9410") == [9401, 9402, 9403, 9410]
    assert ab_run.parse_seeds("7") == [7]


def test_pairs_alternate_their_order_and_feed_ab_pairs(checkouts, tmp_path):
    dirs, log = checkouts
    out = tmp_path / "ab"
    assert _ab(dirs, out, "11-14") == 0
    assert log.read_text().splitlines() == [
        "par 11 cdc_stream 7 0", "chg 11 cdc_stream 7 0",
        "chg 12 cdc_stream 7 0", "par 12 cdc_stream 7 0",
        "par 13 cdc_stream 7 0", "chg 13 cdc_stream 7 0",
        "chg 14 cdc_stream 7 0", "par 14 cdc_stream 7 0",
    ]
    pairs = ab_pairs.load_pairs(str(out))
    assert sorted(pairs) == [11, 12, 13, 14]
    s = ab_pairs.summarize(pairs, "write_bytes_per_event", higher_better=False)
    assert s["wins"] == 4 and s["ratios"] == [0.6] * 4


def test_a_killed_loop_resumes_with_the_runs_it_lacks(checkouts, tmp_path, monkeypatch):
    dirs, log = checkouts
    out = tmp_path / "ab"
    monkeypatch.setenv("AB_RUN_FAIL", "par 12")
    with pytest.raises(SystemExit, match="exited 3"):
        _ab(dirs, out, "11-12")
    assert sorted(os.listdir(out)) == ["chg_11.out", "chg_12.out", "par_11.out", "par_12.out.tmp"]
    monkeypatch.delenv("AB_RUN_FAIL")
    log.write_text("")
    assert _ab(dirs, out, "11-12") == 0
    assert log.read_text().splitlines() == ["par 12 cdc_stream 7 0"]
    assert sorted(ab_pairs.load_pairs(str(out))) == [11, 12]
