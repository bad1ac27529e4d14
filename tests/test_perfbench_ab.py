"""tools/perfbench_ab.py's summarizer on synthetic result lines (no Spark)."""

import importlib.util
import pathlib

_PATH = pathlib.Path(__file__).resolve().parent.parent / "tools" / \
    "perfbench_ab.py"
_spec = importlib.util.spec_from_file_location("perfbench_ab", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def _rec(seed, side, build, query, correct=True, attempted=52, failed=0):
    return {"seed": seed, "side": side, "result": {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {"build_s": {"value": build, "unit": "s"},
                    "query_p50_ms": {"value": query, "unit": "ms"}}}}


def test_parse_seeds():
    assert ab.parse_seeds("71-74") == [71, 72, 73, 74]
    assert ab.parse_seeds("1,3-4,9") == [1, 3, 4, 9]


def test_summary_medians_wins_and_resolution():
    parent = [39.0, 40.0, 41.0, 42.0, 38.0]
    change = [30.0, 31.0, 43.0, 29.0, 30.5]
    query = [(600, 610), (620, 590), (640, 700), (630, 600), (610, 650)]
    recs = []
    for seed, (p, c, (qp, qc)) in enumerate(zip(parent, change, query)):
        recs += [_rec(seed, "parent", p, qp), _rec(seed, "change", c, qc)]
    # a change run without a result line: its seed is not a pair
    recs += [_rec(9, "parent", 40.0, 600),
             {"seed": 9, "side": "change", "result": None}]
    recs.append(_rec(10, "change", 30.0, 600, correct=False, failed=2))
    s = ab.summarize(recs, {"build_s": "lower", "query_p50_ms": "lower"})
    assert s["pairs"] == 5
    b = s["metrics"]["build_s"]
    assert b["parent"] == {"median": 40.0, "q1": 39.0, "q3": 41.0}
    assert b["change"]["median"] == 30.5
    assert b["change_won"] == 4 and b["pairs"] == 5
    assert b["delta_median"] == -9.5 and b["parent_iqr"] == 2.0
    assert b["resolved"] and b["unit"] == "s"
    q = s["metrics"]["query_p50_ms"]
    assert q["change_won"] == 2
    assert q["parent"]["median"] == 620 and q["change"]["median"] == 610
    assert not q["resolved"]  # |Δ| 10 <= parent IQR 20
    t = s["totals"]
    assert t["parent"] == {"runs": 6, "correct": 6, "attempted": 312,
                           "failed": 0, "no_result": 0}
    assert t["change"] == {"runs": 7, "correct": 5, "attempted": 312,
                           "failed": 2, "no_result": 1}
    lines = ab.report_lines(s)
    assert any(line.startswith("build_s [s]: parent 40 [39, 41]")
               and "change won 4/5" in line and "> parent IQR 2" in line
               for line in lines), lines


def test_higher_is_better_and_single_pair():
    recs = [_rec(1, "parent", 2.0, 5.0), _rec(1, "change", 3.0, 5.0)]
    s = ab.summarize(recs, {"build_s": "higher"})
    assert s["metrics"]["build_s"]["change_won"] == 1
    assert s["metrics"]["build_s"]["parent_iqr"] == 0.0
    assert s["metrics"]["query_p50_ms"]["change_won"] == 0  # a tie


def test_last_json_line_skips_log_lines():
    out = 'perfbench: x 1\n{"correct": true, "attempted": 1, "failed": 0, ' \
          '"metrics": {}}\n'
    assert ab.last_json_line(out)["correct"] is True
    assert ab.last_json_line("perfbench: only logs\n") is None
