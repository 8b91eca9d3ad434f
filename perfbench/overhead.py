"""Tracing overhead: run one workload untraced, then traced, with the same
seed, and print traced minus untraced for each end-to-end metric.

    python3 perfbench/overhead.py --workload ingest --seed 1 --seconds 15

The traced run reports its end-to-end figures in its trace file
(``end_to_end_traced``); the untraced run prints them on its last line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    a = ap.parse_args()
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace"]
    out = subprocess.run(cmd + ["0"], cwd=ROOT, capture_output=True, text=True, check=True)
    plain = {k: v["value"] for k, v in json.loads(out.stdout.splitlines()[-1])["metrics"].items()}
    subprocess.run(cmd + ["1"], cwd=ROOT, capture_output=True, text=True, check=True)
    with open(os.path.join(ROOT, ".perfbench_out", f"trace-{a.workload}-{a.seed}.json")) as f:
        traced = json.load(f)["end_to_end_traced"]
    print(json.dumps({
        k: {"untraced": plain[k], "traced": traced[k], "traced_minus_untraced": traced[k] - plain[k],
            "share": (traced[k] - plain[k]) / plain[k]}
        for k in plain
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
