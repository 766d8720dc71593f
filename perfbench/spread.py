"""Run one workload over several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-5 [--seconds 10] [--trace 0]
    python3 perfbench/spread.py --workload build --seeds 0,6999,123456789

For every metric of the result line: the median over the seeds and the
distance between the first and third quartile (``statistics.quantiles``
with n=4) as a share of the median — the run-to-run spread a bound in
BENCHMARK.json has to cover. Runs one seed at a time, from the checkout
root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def seeds(spec: str) -> list[int]:
    """``1-10`` is an inclusive range; ``3,77,123456789`` a list."""
    if "," in spec or spec.lstrip("-").isdigit():
        return [int(s) for s in spec.split(",")]
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5", help="inclusive range, e.g. 1-10, or a list, e.g. 3,77,123456789")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, RUN, "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True, cwd=os.path.dirname(os.path.dirname(RUN)),
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        print(f"seed {seed}: {wall:.1f} s wall, attempted {result['attempted']}, "
              f"failed {result['failed']}, correct {result['correct']}, "
              + ", ".join(f"{n} {m['value']:.4g}" for n, m in result["metrics"].items()), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(float(m["value"]))
            units[name] = m["unit"]

    for name, vals in values.items():
        med = statistics.median(vals)
        if len(vals) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = f"{(q3 - q1) / abs(med):.3f}"
        else:
            spread = "n/a"
        print(f"{name:36s} median {med:12.4f} {units[name]:6s} spread {spread}  "
              f"[{min(vals):.4g} .. {max(vals):.4g}]")
    return 0


if __name__ == "__main__":
    sys.exit(main())
