"""Which work counters repeat exactly between two runs of the same inputs.

    python3 perfbench/repeat_counts.py [--seed 1] [--out perfbench/COUNTS.json]

Runs every workload twice with the same seed, traced (each run is one
timed round), then compares per span name the Spark
counters the tracer read (jobs, stages, tasks, shuffle-write bytes,
input bytes) and the count-valued metrics of the two reports.  A counter
that repeats exactly may be cited as a count by a later change; one that
does not must be treated like a timing.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "input_bytes")
#: report metrics that are counts or ratios of counts, not timings
COUNT_METRICS = (
    "engine.jobs_per_op", "dedup.shuffle_bytes_per_doc", "cache.frames_released",
    "curation.jobs_per_op", "mutate.files_rewritten", "mutate.bytes_written",
    "mutate.changed_per_rewritten", "occ.jobs_per_commit", "mor.dv_batches",
    "versioning.versions", "versioning.bytes_retained", "similarity.files_read_frac",
    "pq.jobs_per_probe", "write_amp", "space_amp", "recall_at_k",
)


def traced_run(workload: str, seed: int) -> tuple[dict, list]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    )
    report = json.loads(p.stdout.strip().splitlines()[-2])["report"]
    with open(os.path.join(ROOT, report["trace_file"])) as f:
        spans = json.load(f)
    return report, spans


def by_span(spans: list) -> dict:
    """``{"phase/name": {counter: total}}`` over all spans of that name."""
    out: dict[str, dict] = {}
    for s in spans:
        if "jobs" not in s:
            continue
        row = out.setdefault(f"{s['phase']}/{s['name']}", dict.fromkeys(COUNTERS, 0))
        for c in COUNTERS:
            row[c] += s[c]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    result = {}
    for w in workloads:
        (r1, s1), (r2, s2) = traced_run(w, args.seed), traced_run(w, args.seed)
        a, b = by_span(s1), by_span(s2)
        spans = {}
        for name in sorted(set(a) | set(b)):
            x, y = a.get(name, {}), b.get(name, {})
            spans[name] = {c: {"repeats": x.get(c) == y.get(c), "runs": [x.get(c), y.get(c)]}
                           for c in COUNTERS}
        metrics = {}
        for m in COUNT_METRICS:
            x, y = r1["per_layer"].get(m), r2["per_layer"].get(m)
            if x is not None and y is not None:
                metrics[m] = {"repeats": x["value"] == y["value"], "runs": [x["value"], y["value"]]}
        result[w] = {"seed": args.seed, "metrics": metrics, "spans": spans}
        same = sum(v["repeats"] for s in spans.values() for v in s.values())
        total = sum(len(s) for s in spans.values())
        print(f"{w}: {same}/{total} span counters and "
              f"{sum(v['repeats'] for v in metrics.values())}/{len(metrics)} count metrics repeat")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
