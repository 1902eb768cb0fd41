"""Per-layer report with tracing overhead for one workload.

    python3 perfbench/report.py --workload pyramid --seed 1

Runs the workload untraced, then traced (same seed, one process each, one
after the other), prints the traced run's per-layer table, and reports the
tracing overhead as the difference between the two runs' cycle CPU times.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, traced: int, size: str):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(traced), "--size", size]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE), check=False)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited with {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    a = ap.parse_args(argv)
    _, plain = _run(a.workload, a.seed, a.seconds, 0, a.size)
    notes, traced = _run(a.workload, a.seed, a.seconds, 1, a.size)
    print("\n".join(notes))
    base = plain["metrics"]["cycle_cpu_s"]["value"]
    with_trace = traced["metrics"]["trace.cycle_cpu_s"]["value"]
    print(f"# tracing overhead ({a.workload}, seed {a.seed}): cycle CPU {base:.3f} s untraced, "
          f"{with_trace:.3f} s traced, {with_trace - base:+.3f} s ({(with_trace / base - 1) * 100:+.1f}%)")
    print(f"# correct: untraced {plain['correct']}, traced {traced['correct']}")
    return 0 if plain["correct"] and traced["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
