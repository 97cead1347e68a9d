"""The OLAP half of ``olap_curation``: an analyst replaying read-only
headline queries over seeded sf0.01 tables.

Each op is one inventory query (``Engine.sql(text).collect()`` where the
inventory holds SQL text, its inventory function otherwise) or an
optimizer-surface call (``Engine.optimize``, ``Engine.cost``,
``Engine.join_order_advice``) on the same texts.  A pass runs every query
and every optimizer call once; set-up runs one pass untimed to warm them,
and a timed round runs ``PASSES`` passes, so the round has enough warm
samples for an upper tail (p83 of 62 ops, with the curation stages).  Checks compare each query's first result with
its DuckDB oracle and every later result with the first.
"""

from __future__ import annotations

import os
from collections import Counter

import gen
from common import CheckFailed, Op, assert_rows_equal

QUERIES = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q19",
    "join_asof",
    "join_range",
    "agg_rollup",
    "win_topk_per_group",
    "scalar_subquery_agg",
    "events_tumbling",
)
#: Optimizer-surface calls: (Engine method, query whose text it plans).
OPTIMIZER_CALLS = (
    ("optimize", "tpch_q3"),
    ("cost", "tpch_q19"),
    ("join_order_advice", "tpch_q5"),
)
ANALYZED = ("nation",)
#: passes per timed round (the warm-up round runs one)
PASSES = 4
SPAN = {"optimize": "plans.optimize", "cost": "plans.cost", "join_order_advice": "plans.advice"}


def _sql_text(spec) -> tuple[str, bool]:
    """``(text, True)`` when the inventory implements the query as SQL
    text, else ``(oracle text, False)``."""
    code = spec.fn.__code__
    if "sql" in code.co_freevars:
        return spec.fn.__closure__[code.co_freevars.index("sql")].cell_contents, True
    return spec.oracle, False


class OlapPart:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = 0.001 if ctx.tiny else 0.01
        self.dir = os.path.join(ctx.work, "sf")
        self.first: dict[str, Counter] = {}
        self.checked: Counter = Counter()

    def generate(self) -> dict:
        rows = gen.write_tpch(self.dir, self.ctx.seed, self.sf)
        return {"sf": self.sf, "rows": rows}

    def setup(self, spark) -> None:
        from sql_query_optimizer_cpp_spark.engine import Engine
        from sql_query_optimizer_cpp_spark.inventory import all_queries

        tr = self.ctx.tracer
        self.spark = spark
        registry = all_queries()
        self.specs = {q: registry[q] for q in QUERIES + tuple(q for _, q in OPTIMIZER_CALLS)}
        with tr.span("catalog.register"):
            self.eng = Engine(spark, self.dir)
        with tr.span("catalog.analyze"):
            self.eng.analyze(ANALYZED)

    def _query(self, name: str):
        spec = self.specs[name]
        text, is_sql = _sql_text(spec)
        tr = self.ctx.tracer

        def run():
            with tr.span("engine.plan"):
                df = self.eng.sql(text) if is_sql else spec.fn(self.spark, self.dir)
                df._jdf.queryExecution().executedPlan()
            with tr.span("engine.exec"):
                return df.collect()

        return Op(name, run, lambda rows: self._check(name, rows))

    def _optimizer(self, verb: str, name: str):
        text = _sql_text(self.specs[name])[0]
        method = getattr(self.eng, verb)

        def run():
            with self.ctx.tracer.span(SPAN[verb]):
                return method(text)

        return Op(verb, run)

    def groups(self, rng, round_no: int) -> list[list[Op]]:
        """Every query and every optimizer call once per pass: one pass in
        the warm-up round, ``PASSES`` (two with ``--tiny``) in a timed one."""
        passes = 1 if round_no == 0 else 2 if self.ctx.tiny else PASSES
        return [[self._query(q)] for q in QUERIES] * passes + [
            [self._optimizer(v, q)] for v, q in OPTIMIZER_CALLS
        ] * passes

    def _check(self, name: str, rows) -> None:
        got = Counter(tuple(r) for r in rows)
        if name not in self.first:
            self._oracle_check(name, rows)
            self.first[name] = got
        elif got != self.first[name]:
            raise CheckFailed(f"{name}: result differs from its first execution")
        self.checked[name] += 1

    def _oracle_check(self, name: str, rows) -> None:
        import duckdb

        if not hasattr(self, "duck"):
            self.duck = duckdb.connect()
            for f in os.listdir(self.dir):
                table = f.removesuffix(".parquet")
                path = os.path.join(self.dir, f)
                self.duck.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        rel = self.duck.sql(self.specs[name].oracle)
        cols = rows[0].__fields__ if rows else rel.columns
        assert_rows_equal(name, cols, [tuple(r) for r in rows], rel.columns, rel.fetchall())

    def finish(self, loop) -> tuple[dict, dict]:
        """``(workload-specific end-to-end metrics, per-layer metrics)``."""
        from tracer import calls_median_ms, per_call

        tr = self.ctx.tracer
        queries = [f"op.{q}" for q in QUERIES]
        layer = {}
        if tr.enabled:
            layer = {
                "catalog.register_s": (tr.setup_s("catalog.register"), "s"),
                "catalog.analyze_s": (tr.setup_s("catalog.analyze"), "s"),
                "engine.plan_ms": (calls_median_ms(tr, "engine.plan"), "ms"),
                "engine.exec_ms": (calls_median_ms(tr, "engine.exec"), "ms"),
                "engine.jobs_per_op": (per_call(tr, "jobs", *queries), "count"),
                "engine.driver_gap_ms": (per_call(tr, "driver_gap_ms", *queries), "ms"),
                "plans.optimize_ms": (calls_median_ms(tr, "plans.optimize"), "ms"),
                "plans.cost_ms": (calls_median_ms(tr, "plans.cost"), "ms"),
                "plans.advice_ms": (calls_median_ms(tr, "plans.advice"), "ms"),
            }
        return {}, layer

    def final_check(self) -> None:
        if not self.first:
            raise CheckFailed("no query result was checked")

    def checks(self) -> dict:
        """Queries checked against their oracle, and results checked."""
        return {"olap_oracle_equal": len(self.first), "olap_results_checked": sum(self.checked.values())}
