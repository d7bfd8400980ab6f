"""tools/ab_pairs.py on synthetic perfbench outputs."""

import json

import pytest

from tools import ab_pairs


def _write(path, events, merge, steal=0.01, correct=True, failed=0):
    lines = [
        {"host": {"cores": 4}},
        {"detail": {"timed_steal_share": steal}},
        {"correct": correct, "attempted": 8, "failed": failed, "metrics": {
            "events_per_s": {"value": events, "unit": "1/s"},
            "merge_p50_s": {"value": merge, "unit": "s"},
        }},
    ]
    path.write_text("Spark warning on stdout\n" + "\n".join(json.dumps(x) for x in lines) + "\n")


@pytest.fixture
def outs(tmp_path):
    """Ten pairs: the change has 20% more events/s in 9 of them and the
    same merge latency."""
    for i in range(10):
        seed = 2000 + i
        _write(tmp_path / f"par_{seed}.out", 1000 + 10 * i, 1.0, steal=0.02)
        _write(tmp_path / f"chg_{seed}.out", (1200 + 10 * i) if i else 990, 1.0)
    _write(tmp_path / "par_9999.out", 1, 1.0)  # a pair with no change side
    return tmp_path


def test_summary_counts_wins_and_applies_the_claim_rule(outs):
    pairs = ab_pairs.load_pairs(str(outs))
    assert sorted(pairs) == list(range(2000, 2010))
    assert pairs[2000]["par"]["steal"] == 0.02
    ev = ab_pairs.summarize(pairs, "events_per_s", higher_better=True)
    assert ev["wins"] == 9 and ev["pairs"] == 10
    assert ev["ratios"][0] == pytest.approx(0.99)
    assert ev["par"][1] == pytest.approx(1045.0)
    assert ev["gap"] > ev["par_iqr"] and ev["claim_holds"]
    merge = ab_pairs.summarize(pairs, "merge_p50_s", higher_better=False)
    assert merge["wins"] == 0 and not merge["claim_holds"]  # ties count for neither


def test_claim_rule_needs_nine_in_ten_and_a_gap_beyond_the_iqr(tmp_path):
    for i in range(10):
        _write(tmp_path / f"par_{i}.out", 1000 + 100 * i, 1.0)
        _write(tmp_path / f"chg_{i}.out", 1000 + 100 * i + 50, 1.0)
    s = ab_pairs.summarize(ab_pairs.load_pairs(str(tmp_path)), "events_per_s", True)
    assert s["wins"] == 10 and s["gap"] < s["par_iqr"] and not s["claim_holds"]


def test_main_prints_every_run_and_exits_on_the_claim(outs, capsys):
    assert ab_pairs.main([str(outs), "--claim", "events_per_s"]) == 0
    out = capsys.readouterr().out
    assert "change wins 9/10" in out and "claim rule holds" in out
    assert "2003 chg 0.01 True 0/8" in out
    assert ab_pairs.main([str(outs), "--claim", "merge_p50_s"]) == 1
