"""The lakehouse half of ``lakehouse_ann``: a writer committing UPDATE,
DELETE and MERGE statements through ``Engine.dml`` and reading each table
back after every commit.

Three private copies of a seeded sf0.02 ``lineitem`` (120k rows in 12
files sorted by ``l_orderkey``, so file pruning has something to prune)
are versioned, one per write mode: copy-on-write (COW), merge-on-read
(MOR, ``mor=True``) and optimistic concurrency (OCC,
``optimistic=True``).  The seed draws statements on disjoint key ranges,
so they commute.  Statements come in triples (one UPDATE, DELETE, MERGE)
and each triple gives each copy one statement: the COW copy the MERGE,
the MOR copy the DELETE and the OCC copy the UPDATE, so every round
times every write mode and every statement kind.  A round runs two
triples in one fixed order: the first pays each commit and read path's
first execution in the process (the JVM itself is warm from the index
builds that run before), the second runs warm, and every run pays the
same first executions; a warm-up round would add about 15 s to every
run.  Each commit is followed by a read of that table; each triple also
reads the COW copy's previous version, and folds the deletion vectors
of the MOR copy's DELETE into files right after reading it.

Every copy is mirrored in DuckDB by replaying exactly the statements it
received: each read must match its mirror's aggregate, and at the end the
rows of every key range a statement touched must equal the mirror's.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import common
import gen
from common import CheckFailed, Op, assert_rows_equal

MODES = {"cow": {}, "mor": {"mor": True}, "occ": {"optimistic": True}}
SPAN = {"cow": "mutate.cow_commit", "mor": "mor.commit", "occ": "occ.commit"}
KINDS = ("UPDATE", "DELETE", "MERGE")
#: the statement kind each copy receives every round
ASSIGN = {"cow": "MERGE", "mor": "DELETE", "occ": "UPDATE"}
#: the order of the copies' commits within a triple
ORDER = ("mor", "occ", "cow")
TRIPLES = 2  # statement triples per round
SF = 0.02
FILES = 12
SLOT = 40  # orders per key-range slot; statements take distinct slots
AGG = "count(*) AS n, sum(l_orderkey) AS k, sum(CAST(l_quantity AS BIGINT)) AS q"
COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
)


class LakehousePart:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = 0.001 if ctx.tiny else SF
        self.files = 4 if ctx.tiny else FILES
        self.paths = {m: os.path.join(ctx.work, "lake", m) for m in MODES}
        self.stmts: list[dict] = []  # the statement stream, made on demand
        self.commits: list[dict] = []  # per commit: mode, stats, bytes
        self.checked = 0
        self.mat_bytes = 0
        self.dv_batches: list[int] = []  # MOR deletion-vector batches after each traced MOR commit

    # -- inputs -----------------------------------------------------------
    def generate(self) -> dict:
        self.base = gen.lineitem_table(self.ctx.seed, self.sf)
        for path in self.paths.values():
            gen._write(self.base, path, self.files)
        self.n_orders = int(self.base["l_orderkey"][-1].as_py()) + 1
        self.slots = np.random.default_rng([self.ctx.seed, 31]).permutation(
            self.n_orders // SLOT
        )
        return {"rows": self.base.num_rows, "files_per_copy": self.files, "copies": list(MODES)}

    def _statement(self, i: int) -> dict:
        """Statement ``i`` of the stream: kind ``KINDS[i % 3]`` on its own
        seeded key-range slot, of a fixed width per kind (MERGE also
        inserts rows under a fresh order key above every existing one)."""
        while len(self.stmts) <= i:
            j = len(self.stmts)
            rng = np.random.default_rng([self.ctx.seed, 32, j])
            lo = int(self.slots[j]) * SLOT
            kind = KINDS[j % 3]
            if kind == "UPDATE":
                hi = lo + SLOT // 2
                sql = (f"UPDATE lineitem SET l_quantity = l_quantity + 1, l_tax = 0.05 "
                       f"WHERE l_orderkey BETWEEN {lo} AND {hi}")
                st = {"sql": sql, "dsql": sql}
            elif kind == "DELETE":
                hi = lo + 5
                sql = f"DELETE FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {hi}"
                st = {"sql": sql, "dsql": sql}
            else:
                hi = lo + SLOT - 1
                st = self._merge(j, lo, hi, rng)
            st.update(kind=kind, lo=lo, hi=hi)
            self.stmts.append(st)
        return self.stmts[i]

    def _merge(self, j: int, lo: int, hi: int, rng) -> dict:
        """A MERGE whose seeded source updates and deletes rows of one key
        range and inserts rows under a fresh order key."""
        okey = self.base["l_orderkey"].to_numpy()
        hits = np.flatnonzero((okey >= lo) & (okey <= hi))
        src = self.base.take(rng.permutation(hits)[:24])
        n = src.num_rows
        src = src.set_column(4, "l_quantity", pa.array(rng.integers(1, 51, n).astype(float)))
        src = src.set_column(5, "l_extendedprice", pa.array(gen._money(rng, 900.0, 105_000.0, n)))
        src = src.append_column("op", pa.array(np.where(np.arange(n) % 3 == 0, "D", "U")))
        new = gen.lineitem_table(self.ctx.seed + 1000 + j, 0.00001).slice(0, 8)
        new = new.set_column(0, "l_orderkey", pa.array(np.full(8, self.n_orders + j), pa.int64()))
        new = new.set_column(3, "l_linenumber", pa.array(np.arange(1, 9), pa.int32()))
        new = new.append_column("op", pa.array(["I"] * 8))
        path = os.path.join(self.ctx.work, "merge_src", f"s{j}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.concat_tables([src, new]), path)
        on = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
        sql = (
            f"MERGE INTO lineitem t USING src s ON {on} "
            "WHEN MATCHED AND s.op = 'D' THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity, l_extendedprice = s.l_extendedprice "
            "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT"
        )
        src_sql = f"(SELECT * FROM read_parquet('{path}'))"
        dsql = [
            f"DELETE FROM {{t}} t USING {src_sql} s WHERE {on} AND s.op = 'D'",
            f"UPDATE {{t}} t SET l_quantity = s.l_quantity, l_extendedprice = s.l_extendedprice "
            f"FROM {src_sql} s WHERE {on} AND s.op = 'U'",
            f"INSERT INTO {{t}} SELECT {COLS} FROM {src_sql} s WHERE s.op = 'I'",
        ]
        return {"sql": sql, "dsql": dsql, "src": path}

    # -- set-up -----------------------------------------------------------
    def setup(self, spark) -> None:
        import duckdb
        from sql_query_optimizer_cpp_spark.engine import Engine

        self.spark = spark
        self.eng = Engine(spark)
        self.duck = duckdb.connect()
        self.duck.register("base_arrow", self.base)
        for m, path in self.paths.items():
            self.duck.execute(f"CREATE TABLE {m} AS SELECT * FROM base_arrow")
            self.eng.enable_versioning(path)
        self.version_aggs = {self.eng.table_versions(self.paths["cow"])[-1]: self._mirror_agg("cow")}
        self.row_bytes = sum(common.dir_bytes(self.paths["cow"]).values()) / self.base.num_rows
        self.listing = {m: common.dir_bytes(p) for m, p in self.paths.items()}

    def _mirror(self, mode: str, st: dict) -> None:
        for q in st["dsql"] if isinstance(st["dsql"], list) else [st["dsql"]]:
            self.duck.execute(q.format(t=mode) if "{t}" in q else q.replace("lineitem", mode))

    def _mirror_agg(self, table: str) -> tuple:
        return self.duck.execute(f"SELECT {AGG} FROM {table}").fetchone()

    # -- ops --------------------------------------------------------------
    def _commit(self, mode: str, i: int) -> list[Op]:
        st = self._statement(i)
        path = self.paths[mode]
        tables = {"lineitem": path}
        if "src" in st:
            tables["src"] = st["src"]

        def run():
            with self.ctx.tracer.span(SPAN[mode]):
                return self.eng.dml(st["sql"], tables, **MODES[mode])

        def after(stats):
            self._mirror(mode, st)
            listing = common.dir_bytes(path)
            self.commits.append({
                "mode": mode, "kind": st["kind"], "stats": stats,
                "new_bytes": common.new_bytes(self.listing[mode], listing),
            })
            self.listing[mode] = listing
            if mode == "mor" and self.ctx.tracer.enabled:
                from sql_query_optimizer_cpp_spark.operators.mor import dv_count

                self.dv_batches.append(dv_count(self.spark, path))
            if mode == "cow":
                self.version_aggs[self.eng.table_versions(path)[-1]] = self._mirror_agg("cow")

        def read():
            with self.ctx.tracer.span("mor.read" if mode == "mor" else "mutate.read"):
                return self.eng.table(path).selectExpr(*AGG.split(", ")).collect()[0]

        def check_read(row):
            self._expect(tuple(row), self._mirror_agg(mode), f"read of {mode}")

        return [Op(f"commit_{mode}", run, after, warm=False),
                Op(f"read_{mode}", read, check_read, warm=False)]

    def _expect(self, got: tuple, want: tuple, what: str) -> None:
        if tuple(got) != tuple(want):
            raise CheckFailed(f"{what}: engine {got} != DuckDB mirror {want}")
        self.checked += 1

    def _read_version(self) -> Op:
        """Read the COW copy as of the version before its latest."""
        path = self.paths["cow"]

        def run():
            v = sorted(self.version_aggs)[-2:][0]
            with self.ctx.tracer.span("versioning.read_version"):
                row = self.eng.read_version(path, v).selectExpr(*AGG.split(", ")).collect()[0]
            return v, row

        return Op("read_version", run, lambda out: self._expect(
            tuple(out[1]), self.version_aggs[out[0]], f"version {out[0]} of cow"), warm=False)

    def _materialize(self) -> Op:
        path = self.paths["mor"]

        def run():
            with self.ctx.tracer.span("mor.materialize"):
                return self.eng.materialize_deletes(path)

        def after(_):
            listing = common.dir_bytes(path)
            self.mat_bytes += common.new_bytes(self.listing["mor"], listing)
            self.listing["mor"] = listing

        return Op("materialize", run, after, warm=False)

    def groups(self, rng, round_no: int) -> list[list[Op]]:
        """One group, in a fixed order: ``TRIPLES`` triples, the three
        statements of each going to the three copies as ``ASSIGN`` says,
        so every round times every mode and every kind, first cold, then
        warm, and the same commit path pays the process's first DML
        execution in every run."""
        ops = []
        for t in range(TRIPLES * round_no, TRIPLES * (round_no + 1)):
            for m in ORDER:
                ops += self._commit(m, 3 * t + KINDS.index(ASSIGN[m]))
                if m == "mor":
                    ops.append(self._materialize())  # fold the DELETE's vectors just written
            ops.append(self._read_version())
        return [ops]

    # -- results ------------------------------------------------------------
    def finish(self, loop) -> tuple[dict, dict]:
        """``(workload-specific end-to-end metrics, per-layer metrics)``."""
        from sql_query_optimizer_cpp_spark.operators.mutate import list_data_files
        from tracer import calls_median_ms, per_call

        changed = sum(c["stats"].rows_matched + c["stats"].rows_inserted for c in self.commits)
        written = sum(c["new_bytes"] for c in self.commits) + self.mat_bytes
        on_disk = sum(sum(common.dir_bytes(p).values()) for p in self.paths.values())
        live_rows = sum(self._mirror_agg(m)[0] for m in MODES)
        specific = {
            "commit_p50_ms": (common.median(loop.of(*(f"commit_{m}" for m in MODES))), "ms"),
            "read_p50_ms": (common.median(loop.of("read_cow", "read_mor", "read_occ", "read_version")), "ms"),
            "write_amp": (written / max(1.0, changed * self.row_bytes), "ratio"),
            "space_amp": (on_disk / (live_rows * self.row_bytes), "ratio"),
        }
        tr = self.ctx.tracer
        layer = {}
        if tr.enabled:
            cow = [c for c in self.commits if c["mode"] == "cow"]
            rows_per_file = self.base.num_rows / self.files
            rewritten = sum(c["stats"].files_rewritten for c in cow) * rows_per_file
            live_files = list_data_files(self.spark, self.paths["cow"])
            live_bytes = sum(os.path.getsize(f.removeprefix("file:")) for f in live_files)
            cow_bytes = sum(common.dir_bytes(self.paths["cow"]).values())
            layer = {
                "mutate.cow_commit_ms": (calls_median_ms(tr, SPAN["cow"]), "ms"),
                "mutate.files_rewritten": (
                    sum(c["stats"].files_rewritten for c in cow) / max(1, len(cow)), "count"),
                "mutate.bytes_written": (sum(c["new_bytes"] for c in cow) / max(1, len(cow)), "bytes"),
                "mutate.changed_per_rewritten": (
                    sum(c["stats"].rows_matched for c in cow) / max(1.0, rewritten), "ratio"),
                "occ.commit_ms": (calls_median_ms(tr, SPAN["occ"]), "ms"),
                "occ.jobs_per_commit": (per_call(tr, "jobs", SPAN["occ"]), "count"),
                "mor.commit_ms": (calls_median_ms(tr, SPAN["mor"]), "ms"),
                "mor.read_ms": (calls_median_ms(tr, "mor.read"), "ms"),
                "mor.dv_batches": (sum(self.dv_batches) / max(1, len(self.dv_batches)), "count"),
                "mor.materialize_ms": (calls_median_ms(tr, "mor.materialize"), "ms"),
                "versioning.read_version_ms": (calls_median_ms(tr, "versioning.read_version"), "ms"),
                "versioning.versions": (float(len(self.eng.table_versions(self.paths["cow"]))), "count"),
                "versioning.bytes_retained": (float(cow_bytes - live_bytes), "bytes"),
            }
        return specific, layer

    def final_check(self) -> None:
        """Rows of every touched key range equal each copy's DuckDB mirror
        (the whole-table aggregates were checked by every read)."""
        ranges = [(st["lo"], st["hi"]) for st in self.stmts]
        ranges += [(self.n_orders, self.n_orders + len(self.stmts))]
        where = " OR ".join(f"l_orderkey BETWEEN {lo} AND {hi}" for lo, hi in ranges)
        cols = COLS.split(", ")
        for mode, path in self.paths.items():
            mine = [tuple(r) for r in self.eng.table(path).where(where).selectExpr(*cols).collect()]
            theirs = self.duck.execute(f"SELECT {COLS} FROM {mode} WHERE {where}").fetchall()
            assert_rows_equal(f"touched rows of {mode}", cols, mine, cols, theirs)
            self.checked += 1

    def checks(self) -> dict:
        return {"lakehouse_mirror_equal": self.checked}
