"""Smoke test of the benchmark.

    python3 perfbench/smoke.py [--skip-runs]

1. Runs the benchmark command on every workload with ``--trace 0`` and
   ``--trace 1`` and a short ``--seconds``, and asserts that the result
   line is well formed, that every check passed, and that it names every
   metric BENCHMARK.json lists for that mode, each with its unit (about
   five minutes on 4 cores).
2. Corrupts correct results in the ways each correctness check exists to
   catch and asserts that the check reports every one (no Spark needed).

Exits 0 when all assertions hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import workloads as w  # noqa: E402


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", wl["name"], "--seed", "7",
                   "--seconds", "4", "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            assert p.returncode == 0, p.stderr[-3000:]
            out = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}
            assert out["correct"] and out["failed"] == 0, p.stdout[-3000:]
            assert out["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (wl["name"], trace, set(got) ^ set(want))
            assert all(isinstance(v["value"], float)
                       for v in out["metrics"].values())
            print(f"ok  {wl['name']} --trace {trace}: {len(got)} metrics, "
                  f"{out['attempted']} operations checked", flush=True)


def check_corruptions() -> None:
    offset = w.row_offset(7)
    rows = set(range(offset, offset + w.ROWS))
    truth = w.Truth(rows)
    good = {w.image_id(i): w.image_id(lbl) for i, lbl in truth.full.items()}
    assert w.check_partition(good, truth) is None

    def corrupt(changes: dict[int, int]) -> dict[str, str]:
        bad = dict(good)
        bad.update({w.image_id(k): w.image_id(v) for k, v in changes.items()})
        return bad

    g = offset  # first group: r0..r9 at offset..offset+9
    cases = {
        # r7 is a singleton: labelling it with r0 joins two components
        "false merge": corrupt({g + 7: g}),
        # r1 is r0's exact copy: a label of its own breaks that link
        "broken exact link": corrupt({g + 1: g + 1}),
        # the first group's component labelled by its second-smallest id
        "label not min member": corrupt(
            {i: g + 1 for i in rows if truth.full[i] == g}),
    }
    missing = dict(good)
    missing.pop(w.image_id(g + 2))
    cases["missing id"] = missing
    # every near-duplicate link missed: far beyond the LSH allowance
    cases["near links missed"] = {
        k: (k if w._index(k) % 10 in (3, 4) else v) for k, v in good.items()}
    for name, bad in cases.items():
        assert w.check_partition(bad, truth) is not None, name

    ids = [g, g + 3, g + 7]
    answer = {w.image_id(i): good[w.image_id(i)] for i in ids}
    assert w.check_lookup(answer, ids, truth) is None
    assert w.check_lookup({**answer, w.image_id(g + 7): w.image_id(g)},
                          ids, truth) is not None, "lookup false merge"
    assert w.check_lookup({k: v for k, v in answer.items()
                           if k != w.image_id(g)}, ids, truth) is not None

    hits = {"img_a", "img_b"}
    assert w.check_hits("t", set(hits), hits) is None
    assert w.check_hits("t", {"img_a"}, hits) is not None, "missed hit"
    assert w.check_hits("t", hits | {"img_c"}, hits) is not None, "false hit"

    relabelled = {**good, w.image_id(g + 7): w.image_id(g)}
    assert w.fingerprint(relabelled) != w.fingerprint(good), "fold check"
    print(f"ok  {len(cases) + 5} corrupted results tripped their checks",
          flush=True)


if __name__ == "__main__":
    check_corruptions()
    if "--skip-runs" not in sys.argv:
        check_runs()
