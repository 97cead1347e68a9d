"""Session lifetime, the closed loop and the statistics every workload
shares."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field


class CheckFailed(Exception):
    """An output check found a wrong result; the run must fail."""


def assert_rows_equal(what: str, cols, rows, o_cols, o_rows) -> None:
    """Order-insensitive equality of two row sets under the oracle-parity
    semantics of tests/compare.py (columns matched by name, cells exact)."""
    from tests.compare import _cells_equal, _rows_table

    cols, o_cols = [c.lower() for c in cols], [c.lower() for c in o_cols]
    if sorted(cols) != sorted(o_cols) or len(rows) != len(o_rows):
        raise CheckFailed(
            f"{what}: {len(rows)} rows of {sorted(cols)}, oracle {len(o_rows)} rows of {sorted(o_cols)}"
        )
    for a, b in zip(_rows_table(cols, rows)[1], _rows_table(o_cols, o_rows)[1]):
        if not all(_cells_equal(x, y) for x, y in zip(a, b)):
            raise CheckFailed(f"{what}: row {a} differs from the oracle's {b}")


def cpu_count() -> int:
    # nproc honours OMP_NUM_THREADS; the CPU set is what Spark can use
    return len(os.sched_getaffinity(0))


def start_session(work: str, tracer):
    """The engine's own session factory, with every path Spark writes
    (shuffle files, warehouse, JVM temp files) under ``work``."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # PySpark's gateway handshake file goes to Python's temp directory; the
    # JVMs (spark-submit's launcher, the Spark driver) write no /tmp/hsperfdata
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from sql_query_optimizer_cpp_spark.session import get_session

    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms3g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    with tracer.span("session.start", job_group=False):
        spark = get_session(app_name="perfbench", extra_conf=conf)
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    kb = _hwm_kb("self")
    pid = jvm_pid()
    if pid is not None:
        kb += _hwm_kb(pid)
    return kb / 1024.0


def dir_bytes(path: str) -> dict[str, int]:
    """``{relative file path: size}`` for every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that appeared or changed size between two listings."""
    return sum(n for p, n in after.items() if before.get(p) != n)


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(samples: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank): ``(value, percentile, samples beyond)``.  Below 50
    samples such a percentile would lie under p80, at or below the
    median for the smallest rounds, so p90 is reported instead, with
    the fewer samples beyond it that the round has."""
    xs = sorted(samples)
    n = len(xs)
    p = math.floor(100 * (n - 10) / n) if n >= 50 else 90
    rank = max(1, math.ceil(p * n / 100))
    return xs[rank - 1], p, n - rank


@dataclass
class Op:
    """One request of the closed loop.  ``run`` is timed; ``after`` runs
    outside the timed region with ``run``'s result (checks, bookkeeping)."""

    kind: str
    run: object
    after: object = None
    warm: bool = True  # also run in the untimed warm-up round


@dataclass
class LoopResult:
    latencies_ms: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rounds: int = 0
    wall_s: float = 0.0
    errors: list[str] = field(default_factory=list)

    def of(self, *kinds: str) -> list[float]:
        return [x for x, k in zip(self.latencies_ms, self.kinds) if k in kinds]


def closed_loop(rounds, seconds: float, tracer, res: LoopResult) -> LoopResult:
    """One client: send the next op only after the previous one returned.
    Ops come in rounds (one fixed mix of op kinds each); whole rounds run
    until ``seconds`` of measured time have passed, at least one, so every
    run measures the same mix.  An op's latency includes its spans'
    counter reads when tracing is on.  An op that raises counts as
    failed; a wrong result raises CheckFailed from its ``after`` hook and
    ends the run, ``res`` then holding the counts so far."""
    for ops in rounds:
        if res.rounds and res.wall_s >= seconds:
            break
        res.rounds += 1
        for op in ops:
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op.{op.kind}", op=True):
                    out = op.run()
            except Exception as e:  # an engine error is a failed op, not a crash
                res.wall_s += time.perf_counter() - t0
                res.failed += 1
                res.errors.append(f"{op.kind}: {type(e).__name__}: {e}"[:300])
                continue
            dt = time.perf_counter() - t0
            res.wall_s += dt
            res.latencies_ms.append(dt * 1000.0)
            res.kinds.append(op.kind)
            if op.after is not None:
                op.after(out)
    return res


def latency_metrics(loop: LoopResult) -> dict:
    """The end-to-end metrics every workload reports from its loop."""
    lat = loop.latencies_ms
    value, pct, beyond = tail(lat)
    return {
        "latency_p50_ms": (median(lat), "ms"),
        "latency_tail_ms": (value, "ms"),
        "ops_per_s": (len(lat) / loop.wall_s, "1/s"),
        "error_rate": (loop.failed / max(1, loop.attempted), "ratio"),
        "_tail": {"percentile": pct, "samples": len(lat), "beyond": beyond},
    }


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
