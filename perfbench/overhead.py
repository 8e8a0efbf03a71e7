"""Tracing overhead: the traced-minus-untraced difference in pass_s.

Runs the benchmark untraced and traced on each seed, alternating which
goes first, and prints both medians and their difference::

    python3 perfbench/overhead.py --workload corpus --seeds 1 2 3
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def pass_s(workload: str, seed: int, trace: int) -> float:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    result = json.loads(out[-1])["metrics"]
    return result["trace.pass_s" if trace else "pass_s"]["value"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args()
    runs: dict[int, list[float]] = {0: [], 1: []}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(pass_s(args.workload, seed, trace))
    plain, traced = statistics.median(runs[0]), statistics.median(runs[1])
    print(json.dumps({
        "workload": args.workload, "seeds": args.seeds,
        "pass_s": runs[0], "trace.pass_s": runs[1],
        "overhead_s": traced - plain, "overhead_frac": traced / plain - 1,
    }))


if __name__ == "__main__":
    main()
