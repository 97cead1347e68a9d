"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_curation --seed 1 --seconds 1 --trace 0

Run from the repository root.  The workload's inputs are generated from
``--seed`` under ``.perfbench_work/`` (removed at exit), one SparkSession
is started, the workload is set up and its warm ops run once untimed,
and then one client sends ops in a closed loop: whole rounds, each one
fixed mix of op kinds in a seeded order, until ``--seconds`` of measured
time have passed.  One round takes longer than any ``--seconds`` the
benchmark is run with, so a run measures exactly one round, the same
round for every run of a seed.  Outputs are checked outside the timed
region.

The last stdout line is one JSON object, ``{"correct", "attempted",
"failed", "metrics"}``: with ``--trace 0`` the metrics are the
``end_to_end`` metrics of BENCHMARK.json, with ``--trace 1`` its
``per_layer`` metrics.  The line before it is a report with every metric
the workload measures, its input sizes, the tail percentile and sample
counts, and the checks that ran.  A traced run runs exactly what the
untraced run of its seed runs, with a span around every layer call;
it reports the time its spans spent setting job groups and reading
counters as the tracing overhead, and writes its spans to
``.perfbench_runs/``.  A failed output check prints ``"correct": false``
and exits with code 1.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import common  # noqa: E402
from tracer import Tracer  # noqa: E402


@dataclass
class Context:
    seed: int
    work: str
    tracer: Tracer
    tiny: bool


#: workload -> (module, part class) of the parts whose op groups make up
#: each round
WORKLOADS = {
    "olap_curation": (("w_olap", "OlapPart"), ("w_curation", "CurationPart")),
    "lakehouse_ann": (("w_ann", "AnnPart"), ("w_lakehouse", "LakehousePart")),
}


class Workload:
    """The parts of one workload, driven as one closed loop."""

    def __init__(self, name: str, ctx: Context):
        import importlib

        self.ctx = ctx
        self.parts = [
            getattr(importlib.import_module(mod), cls)(ctx) for mod, cls in WORKLOADS[name]
        ]

    def generate(self) -> dict:
        return {type(p).__name__: p.generate() for p in self.parts}

    def setup(self, spark) -> None:
        """Set each part up, then run its warm ops (those of round 0
        marked ``warm``) once, untimed, before the next part is set up."""
        import numpy as np

        rng = np.random.default_rng([self.ctx.seed, 0])
        self.warm_ops = 0
        self.phases = {}
        for p in self.parts:
            t0 = time.perf_counter()
            p.setup(spark)
            t1 = time.perf_counter()
            for op in (op for g in p.groups(rng, 0) for op in g if op.warm):
                self.warm_ops += 1
                out = op.run()
                if op.after is not None:
                    op.after(out)
            name = type(p).__name__
            self.phases[f"{name}.setup_s"] = t1 - t0
            self.phases[f"{name}.warm_up_s"] = time.perf_counter() - t1

    def rounds(self):
        """Timed rounds of ops: every part's op groups (a group runs in
        order), the groups in a seeded order."""
        import numpy as np

        for round_no in itertools.count(1):
            rng = np.random.default_rng([self.ctx.seed, round_no])
            groups = [g for p in self.parts for g in p.groups(rng, round_no)]
            yield [op for i in rng.permutation(len(groups)) for op in groups[i]]

    def finish(self, loop) -> tuple[dict, dict]:
        specific, layer = {}, {}
        for p in self.parts:
            s, l = p.finish(loop)
            specific.update(s)
            layer.update(l)
        return specific, layer

    def final_check(self) -> None:
        for p in self.parts:
            p.final_check()

    def checks(self) -> dict:
        return {k: v for p in self.parts for k, v in p.checks().items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    args = ap.parse_args(argv)

    # fail before any output when the program under test is not in this
    # checkout (an installed copy elsewhere would be the wrong program)
    if not os.path.isdir(os.path.join(ROOT, "sql_query_optimizer_cpp_spark")):
        print(f"no sql_query_optimizer_cpp_spark package under {ROOT}", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(args.seed, work, tracer, args.tiny)
    wl = Workload(args.workload, ctx)
    spark = None
    loop = common.LoopResult()
    phases = {}  # wall seconds of each phase of this run, for the budget
    t_run = time.perf_counter()
    try:
        os.makedirs(work, exist_ok=True)
        sizes = wl.generate()
        t0 = time.perf_counter()
        phases["generate_s"] = t0 - t_run
        spark = common.start_session(work, tracer)
        start_s = time.perf_counter() - t0
        tracer.attach(spark)
        t1 = time.perf_counter()
        wl.setup(spark)
        setup_s = start_s + time.perf_counter() - t1
        phases.update(start_s=start_s, **wl.phases)

        tracer.phase = "run"
        cost0 = tracer.cost_s
        t2 = time.perf_counter()
        common.closed_loop(wl.rounds(), args.seconds, tracer, loop)
        if not loop.latencies_ms:
            raise RuntimeError(f"no op completed: {loop.errors[:3]}")
        t3 = time.perf_counter()
        phases["loop_s"] = t3 - t2
        trace_s = tracer.cost_s - cost0
        specific, layer = wl.finish(loop)
        wl.final_check()
        rss = common.peak_rss_mb()
        phases["final_check_s"] = time.perf_counter() - t3
    except common.CheckFailed as e:
        # the op whose result was wrong counts as failed
        attempted = getattr(wl, "warm_ops", 0) + loop.attempted
        print(f"output check failed: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": max(1, attempted),
                          "failed": loop.failed + 1, "metrics": {}}))
        return 1
    finally:
        if spark is not None:
            common.stop_session(spark)
        common.clean(work)

    lat = common.latency_metrics(loop)
    tail_info = lat.pop("_tail")
    e2e = {
        "setup_s": (setup_s, "s"),
        **lat,
        "peak_rss_mb": (rss, "MB"),
        **specific,
    }
    trace_file = None
    if args.trace:
        # the traced loop's ops spent trace_s in the tracer; without it
        # they would have taken wall_s - trace_s
        overhead = {
            "trace.overhead_ratio": (trace_s / (loop.wall_s - trace_s), "ratio"),
            "trace.counter_ms_per_op": (trace_s * 1000.0 / loop.attempted, "ms"),
        }
        layer = {"session.start_s": (start_s, "s"), **layer, **overhead, **specific}
        os.makedirs(".perfbench_runs", exist_ok=True)
        trace_file = os.path.join(".perfbench_runs", f"trace-{args.workload}-{args.seed}-{os.getpid()}.json")
        tracer.write(trace_file)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    available = layer if args.trace else e2e
    metrics = {}
    for m in wanted:
        value, unit = available.get(m["name"], (0.0, m["unit"]))
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {unit} != {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": sizes,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layer.items()},
        "tail": tail_info,
        "samples": {"ops": len(loop.latencies_ms), "rounds": loop.rounds},
        "op_ms": {k: loop.of(k) for k in dict.fromkeys(loop.kinds)},
        "checks": wl.checks(),
        "phases": {**phases, "total_s": time.perf_counter() - t_run},
        "errors": loop.errors[:5],
        "trace_file": trace_file,
    }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": True,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
