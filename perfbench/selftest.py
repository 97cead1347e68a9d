"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload with ``--tiny`` (sf0.001 tables, a few hundred
documents and vectors) untraced and traced, and asserts that

- the last line has exactly ``correct``, ``attempted``, ``failed`` and
  ``metrics``, with every BENCHMARK.json ``end_to_end`` (untraced) or
  ``per_layer`` (traced) metric and its unit;
- the report line names every end-to-end metric the workload measures,
  with its unit, and every output check ran at least once;
- a wrong result makes the run print ``"correct": false`` and exit 1;
- run from a directory holding only BENCHMARK.json and ``perfbench/``,
  the benchmark exits non-zero without printing a result.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics each workload must report (beside the BENCHMARK.json set)
REPORTED = {
    "olap_curation": {"error_rate": "ratio", "docs_per_s": "docs/s"},
    "lakehouse_ann": {
        "error_rate": "ratio", "commit_p50_ms": "ms", "read_p50_ms": "ms",
        "write_amp": "ratio", "space_amp": "ratio", "probe_p50_ms": "ms",
        "recall_at_k": "ratio", "index_build_s": "s",
    },
}


def run(args: list[str], cwd: str = ROOT, env: dict | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600, env=env,
    )


def check_run(workload: str, trace: int, bench: dict) -> None:
    p = run(["--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--tiny"])
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["attempted"] >= 1 and result["failed"] == 0
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }, f"{workload}: metric set differs from BENCHMARK.json"
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float)), v
    e2e = {k: v["unit"] for k, v in report["end_to_end"].items()}
    for m in bench["end_to_end"]:
        assert e2e.get(m["name"]) == m["unit"], (workload, m["name"])
    for name, unit in REPORTED[workload].items():
        assert e2e.get(name) == unit, (workload, name, e2e.get(name))
    assert report["checks"] and all(n > 0 for n in report["checks"].values()), report["checks"]
    print(f"ok  {workload} trace={trace}: {report['samples']}, checks {report['checks']}")


def check_wrong_result_fails() -> None:
    """A corrupted OLAP result must fail the run with exit 1."""
    code = (
        "import sys, runpy; sys.path[:0] = ['perfbench', '.']\n"
        "import w_olap\n"
        "orig = w_olap.OlapPart._check\n"
        "w_olap.OlapPart._check = lambda self, name, rows: orig(self, name, rows[1:] + rows[:1] * 2)\n"
        "sys.argv = ['run.py', '--workload', 'olap_curation', '--seed', '1', '--seconds', '1', '--tiny']\n"
        "runpy.run_path('perfbench/run.py', run_name='__main__')\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    assert p.returncode == 1 and json.loads(last).get("correct") is False, (
        p.returncode, last, p.stderr[-2000:])
    print("ok  a wrong result exits 1 with correct=false")


def check_bare_directory_fails(bench_path: str) -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(bench_path, bare)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = run(["--workload", "olap_curation", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, env=env)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout[-500:])
    print("ok  a directory without the program exits non-zero, prints nothing")


def main() -> int:
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(bench_path) as f:
        bench = json.load(f)
    check_bare_directory_fails(bench_path)
    for w in bench["workloads"]:
        for trace in (0, 1):
            check_run(w["name"], trace, bench)
    check_wrong_result_fails()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
