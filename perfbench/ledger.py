"""Traced-run report: the per-module ledger of one workload and seed, with
the tracing overhead measured against an untraced run of the same inputs.

    python3 perfbench/ledger.py --workload dedup_up --seed 1 [--seconds 20]

Runs ``run.py`` twice (``--trace 0`` then ``--trace 1``) and prints:

* timed wall of both runs and the tracing overhead (traced / untraced - 1);
* for each ``DedupPipeline.run`` in the traced run, the stage spans plus
  ``outside_stages_s`` against the run wall, and each stage span beside the
  seconds the program's own ``pipe.metrics`` recorded for it;
* every non-zero per-layer metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> tuple[list[str], dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True,
                       text=True, timeout=900)
    if p.returncode:
        sys.exit(f"run.py --trace {trace} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def _timed_wall(lines: list[str]) -> float:
    for line in lines:
        if line.startswith("perfbench: timed_wall_s "):
            return float(line.split()[2])
    raise ValueError("no timed_wall_s line")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()

    plain_lines, plain = _run(args, 0)
    traced_lines, traced = _run(args, 1)
    t0, t1 = _timed_wall(plain_lines), _timed_wall(traced_lines)
    print(f"workload {args.workload} seed {args.seed}")
    print(f"timed wall: untraced {t0:.3f} s, traced {t1:.3f} s, "
          f"tracing overhead {100 * (t1 / t0 - 1):+.1f}%")
    print(f"checks: untraced {plain['failed']}/{plain['attempted']} failed, "
          f"traced {traced['failed']}/{traced['attempted']} failed")
    for line in traced_lines:
        if line.startswith("perfbench: ledger: "):
            print(line.removeprefix("perfbench: ledger: "))
    for name, m in traced["metrics"].items():
        if m["value"]:
            print(f"{name:<62} {m['value']:>14.6g} {m['unit']}")


if __name__ == "__main__":
    main()
