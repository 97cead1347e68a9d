"""Run a workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload lakehouse_ann --seeds 1-10 [--out perfbench/SPREADS.json]

Each run is ``run.py --trace 0`` in a fresh process, one after another.
For every end-to-end metric the spread is the distance between the first
and third quartile (``statistics.quantiles(values, n=4)``) as a share of
the median, stated with the number of runs it comes from.  Metrics the
workload reports beside the BENCHMARK.json set (``docs_per_s``,
``commit_p50_ms`` ...) are read from each run's report line.  With
``--out`` the result is merged into that JSON file under the workload's
name.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "samples": len(values),
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else None,
    }


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=False,
        )
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        report = json.loads(lines[-2])["report"]
        for name, m in report["end_to_end"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s", {k: round(v[-1], 3) for k, v in values.items()},
              {k: [round(x) for x in v] for k, v in report["op_ms"].items()}, file=sys.stderr)
    result = {
        "seeds": args.seeds,
        "run_wall_s": spread(walls),
        "metrics": {name: spread(v) for name, v in values.items() if len(v) >= 2},
    }
    print(json.dumps(result, indent=1))
    if args.out:
        merged = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                merged = json.load(f)
        merged[args.workload] = result
        with open(args.out, "w") as f:
            json.dump(merged, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
