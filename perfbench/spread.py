"""Run the benchmark once per seed and report each end-to-end metric's spread.

    python3 perfbench/spread.py --workload link_many --seeds 1-10

Runs are sequential, from the repository root, with the run length in
``BENCHMARK.json``. For every metric it prints the median, the distance
between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), the metric's bound and whether the
spread stays below a third of that bound. Each run's ``record:`` line (input
hashes and F1 per input, the values ``expected.json`` holds) is printed too.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(text: str) -> list[int]:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,7,11")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.monotonic() - t0
        for line in proc.stderr.splitlines():
            if line.startswith("record: "):
                print(line, flush=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        summary = {k: round(v[-1], 4) for k, v in values.items()}
        print(f"seed {seed} ({wall:.0f}s): {summary}", flush=True)
    if args.trace:
        return 0
    ok = True
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        share = (q3 - q1) / med if med else 0.0
        steady = share < m["bound"] / 3 or m["name"] == "setup_s"
        ok &= steady
        print(
            f"{args.workload}/{m['name']}: median {med:.6g} {m['unit']}, "
            f"spread {share:.4f} (bound {m['bound']}) {'ok' if steady else 'TOO WIDE'}"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
