"""Tracing overhead: run one workload untraced, then traced, with the same
seed, and print each end-to-end metric of both runs and their difference.

    python3 perfbench/overhead.py --workload api_serve --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(Path(__file__).with_name("run.py")), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)], capture_output=True, text=True, check=True)
    # the line before the result carries the end-to-end figures of both modes
    return json.loads(out.stdout.strip().splitlines()[-2])["end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    off = run_once(args.workload, args.seed, args.seconds, 0)
    on = run_once(args.workload, args.seed, args.seconds, 1)
    print(json.dumps({name: {"untraced": off[name], "traced": on[name],
                             "overhead": on[name] - off[name],
                             "overhead_share": (on[name] - off[name]) / off[name]}
                      for name in off}, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
