"""Alternating parent/change A/B runs of the product-path benchmark.

    python3 tools/perfbench_ab.py --parent ../parent --change . \\
        --workload dedup_up --seeds 71-80 --seconds 20 --label build

For each seed it runs ``perfbench/run.py --trace 0`` once in each checkout,
one after the other; which side goes first alternates from pair to pair,
so a drift of the host's speed during a session lands on both sides. The
raw result lines go to ``BENCH/ab_<workload>_<label>.json`` beside this
tool (rewritten after every pair, so an interrupted session keeps what it
measured). At the end it prints, per end-to-end metric: each side's median
[q1, q3], how many pairs the change won, and whether |Δmedian| is larger
than the parent's interquartile range; then the correct/attempted/failed
totals of each side. Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    """'71-80' or '1,3,5' (or a mix: '1-3,9') → the seed list."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; one sample is its own spread."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def better_of(benchmark_json: str) -> dict[str, str]:
    """Metric name → 'lower'/'higher' from a BENCHMARK.json's end_to_end
    list ({} when the file is missing)."""
    try:
        with open(benchmark_json) as fh:
            spec = json.load(fh)
    except OSError:
        return {}
    return {m["name"]: m.get("better", "lower")
            for m in spec.get("end_to_end", [])}


def summarize(records: list[dict], better: dict[str, str] | None = None,
              ) -> dict:
    """Fold raw run records ({seed, side, result}) into the A/B report.

    A pair is one seed with a result line on both sides; a metric's win
    count is over the pairs that report it. ``resolved`` means the medians
    differ by more than the parent's interquartile range."""
    better = better or {}
    by_seed: dict[int, dict[str, dict]] = {}
    totals = {s: {"runs": 0, "correct": 0, "attempted": 0, "failed": 0,
                  "no_result": 0} for s in SIDES}
    for rec in records:
        side, res = rec["side"], rec.get("result")
        t = totals[side]
        t["runs"] += 1
        if res is None:
            t["no_result"] += 1
            continue
        t["correct"] += bool(res.get("correct"))
        t["attempted"] += int(res.get("attempted", 0))
        t["failed"] += int(res.get("failed", 0))
        by_seed.setdefault(rec["seed"], {})[side] = res["metrics"]

    pairs = [(seed, m["parent"], m["change"])
             for seed, m in sorted(by_seed.items())
             if "parent" in m and "change" in m]
    names = sorted({k for _, p, c in pairs for k in p.keys() & c.keys()})
    metrics = {}
    for name in names:
        vals = {s: [] for s in SIDES}
        wins = n = 0
        unit = ""
        for _, p, c in pairs:
            if name not in p or name not in c:
                continue
            unit = p[name].get("unit", "")
            pv, cv = p[name]["value"], c[name]["value"]
            vals["parent"].append(pv)
            vals["change"].append(cv)
            n += 1
            if better.get(name, "lower") == "higher":
                wins += cv > pv
            else:
                wins += cv < pv
        pq, cq = quartiles(vals["parent"]), quartiles(vals["change"])
        delta = cq[1] - pq[1]
        iqr = pq[2] - pq[0]
        metrics[name] = {
            "unit": unit,
            "parent": {"median": pq[1], "q1": pq[0], "q3": pq[2]},
            "change": {"median": cq[1], "q1": cq[0], "q3": cq[2]},
            "ratio": cq[1] / pq[1] if pq[1] else None,
            "change_won": wins,
            "pairs": n,
            "delta_median": delta,
            "parent_iqr": iqr,
            "resolved": abs(delta) > iqr,
        }
    return {"pairs": len(pairs), "metrics": metrics, "totals": totals}


def report_lines(summary: dict) -> list[str]:
    lines = [f"{summary['pairs']} complete pairs"]
    for name, m in summary["metrics"].items():
        p, c = m["parent"], m["change"]
        ratio = f"{m['ratio']:.3f}x" if m["ratio"] is not None else "-"
        lines.append(
            f"{name} [{m['unit']}]: parent {p['median']:.6g} "
            f"[{p['q1']:.6g}, {p['q3']:.6g}]  change {c['median']:.6g} "
            f"[{c['q1']:.6g}, {c['q3']:.6g}]  {ratio}  change won "
            f"{m['change_won']}/{m['pairs']}  |dmedian| {abs(m['delta_median']):.6g}"
            f" {'>' if m['resolved'] else '<='} parent IQR {m['parent_iqr']:.6g}")
    for side in SIDES:
        t = summary["totals"][side]
        lines.append(
            f"{side}: {t['correct']}/{t['runs']} runs correct, "
            f"{t['attempted']} operations attempted, {t['failed']} failed, "
            f"{t['no_result']} runs without a result line")
    return lines


def last_json_line(stdout: str) -> dict | None:
    for line in reversed(stdout.strip().splitlines()):
        try:
            out = json.loads(line)
        except ValueError:
            continue
        if isinstance(out, dict) and "metrics" in out:
            return out
    return None


def run_once(checkout: str, workload: str, seed: int,
             seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    return {"returncode": proc.returncode,
            "wall_s": round(time.time() - t0, 3),
            "result": last_json_line(proc.stdout) if proc.returncode == 0
            else None,
            "stderr_tail": proc.stderr[-2000:] if proc.returncode else ""}


def revision(checkout: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "describe", "--always", "--dirty"], cwd=checkout,
            capture_output=True, text=True, check=True)
    except (OSError, subprocess.CalledProcessError):
        return None
    return out.stdout.strip() or None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 71-80 or 1,2,5")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--label", required=True,
                    help="names the output: BENCH/ab_<workload>_<label>.json")
    args = ap.parse_args(argv)

    checkouts = {"parent": args.parent, "change": args.change}
    out_path = os.path.join(ROOT, "BENCH",
                            f"ab_{args.workload}_{args.label}.json")
    better = better_of(os.path.join(args.change, "BENCHMARK.json"))
    doc = {"workload": args.workload, "seconds": args.seconds,
           "command": "perfbench/run.py --trace 0",
           "revisions": {s: revision(d) for s, d in checkouts.items()},
           "runs": []}
    for k, seed in enumerate(parse_seeds(args.seeds)):
        order = SIDES if k % 2 == 0 else SIDES[::-1]
        for side in order:
            rec = {"seed": seed, "side": side, "first": side == order[0],
                   **run_once(checkouts[side], args.workload, seed,
                              args.seconds)}
            doc["runs"].append(rec)
            res = rec["result"]
            print(f"seed {seed} {side}: rc {rec['returncode']} "
                  f"wall {rec['wall_s']} s "
                  + (json.dumps({k: v["value"] for k, v in
                                 res["metrics"].items()}) if res else
                     "no result line"), flush=True)
        doc["summary"] = summarize(doc["runs"], better)
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as fh:
            json.dump(doc, fh, indent=1)
    for line in report_lines(doc["summary"]):
        print(line)
    print(f"raw runs: {os.path.relpath(out_path, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
