"""Write a baseline record: for each workload, one untraced and one traced
run of the same seed, and the tracing overhead between them.

    python3 perfbench/record.py --seed 1 --out perfbench/baseline/seed1.json

The overhead of an end-to-end metric is (traced - untraced) / untraced.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    return {"record": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    out = {}
    for w in (w["name"] for w in bench["workloads"]):
        plain = _run(w, args.seed, args.seconds, 0)
        traced = _run(w, args.seed, args.seconds, 1)
        overhead = {
            k: (traced["record"]["e2e"][k]["value"] - v["value"]) / v["value"]
            for k, v in plain["record"]["e2e"].items() if v["value"]
        }
        out[w] = {"untraced": plain, "traced": traced, "tracing_overhead": overhead}
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(out, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
