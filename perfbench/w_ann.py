"""The ANN half of ``lakehouse_ann``: a serving caller probing the
persisted IVF and IVFPQ indexes of a clustered vector table while the
table changes under them.

The corpus (2 000 vectors of dimension 64, the fixture's size) is
generated from the seed around 32 cluster centres.  Both indexes are
built once during set-up (``index_build_s``).  Each round probes the
IVF index with a small batch on one cell and the IVFPQ index with a
larger batch on three cells (``PROBES``), appends a data file, deletes a
few vectors merge-on-read, and folds both changes into both indexes
with ``maintain_ivf_index`` / ``maintain_ivfpq_index``.  The batch sizes
and cell counts are the same for every seed, because a probe's cost
grows with its batch size: the seed draws the vectors, the appended and
deleted ones, and where the probes fall in the round.  Recall@k is
measured against exact brute force over the live vectors; at the end an
IVF probe of every cell must equal ``brute_force_topk``.

No op is warmed: the index builds have run every probe and maintenance
code path's Spark machinery once, and a warm-up round would add about
15 s to every run.  Each run pays the same first executions.
"""

from __future__ import annotations

import os

import numpy as np

import gen
from common import CheckFailed, Op

K = 10
#: index -> (n_queries, n_probes) of its probe in each round: a small
#: batch on one cell and a larger batch on three
PROBES = {"ivf": (4, 1), "ivfpq": (16, 3)}
MAX_QUERIES = 64  # query vectors are the rows with vec_id < n_queries; never deleted
FILES = 8


class AnnPart:
    def __init__(self, ctx):
        self.ctx = ctx
        self.n = 400 if ctx.tiny else 2000
        self.path = os.path.join(ctx.work, "vectors")
        self.recall: dict[str, list[float]] = {"ivf": [], "ivfpq": []}
        self.read_frac: list[float] = []
        self.build_s = {}

    def generate(self) -> dict:
        vecs = gen.write_vectors(self.path, self.ctx.seed, self.n, files=FILES)
        self.live = dict(enumerate(vecs))
        self.next_id = self.n
        return {"vectors": self.n, "dim": int(vecs.shape[1]), "files": FILES, "k": K}

    def setup(self, spark) -> None:
        import time

        from sql_query_optimizer_cpp_spark.engine import Engine
        from sql_query_optimizer_cpp_spark.operators import pq, similarity

        self.spark = spark
        self.eng = Engine(spark)
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("similarity.build"):
            self.cells = similarity.build_ivf_index(spark, self.path)
        t1 = time.perf_counter()
        with tr.span("pq.build"):
            pq.build_ivfpq_index(spark, self.path)
        t2 = time.perf_counter()
        self.build_s = {"ivf": t1 - t0, "ivfpq": t2 - t1}

    # -- ops --------------------------------------------------------------
    def _probe(self, index: str, n_queries: int, n_probes: int) -> Op:
        from sql_query_optimizer_cpp_spark.operators import pq, similarity

        def run():
            if index == "ivf":
                with self.ctx.tracer.span("similarity.probe"):
                    df = similarity.ivf_search_indexed(
                        self.spark, self.path, n_queries=n_queries, k=K,
                        n_probes=n_probes, exact=False)
                    return df.collect(), df
            with self.ctx.tracer.span("pq.probe"):
                df = pq.ivfpq_search_indexed(
                    self.spark, self.path, n_queries=n_queries, k=K, n_probes=n_probes)
                return df.collect(), df

        def after(out):
            rows, df = out
            truth = self._truth(n_queries)
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            if set(got) - set(truth):
                raise CheckFailed(f"{index} probe answered queries it was not asked")
            for q, want in truth.items():
                self.recall[index].append(len(got.get(q, set()) & want) / K)
            if index == "ivf":
                files = [f for f in df.inputFiles() if "/_index/ivf/" in f]
                post = os.path.join(self.path, "_index", "ivf", "embedding", "postings")
                n_post = sum(
                    f.endswith(".parquet") for _, _, fs in os.walk(post) for f in fs
                )
                self.read_frac.append(len(files) / max(1, n_post))

        return Op(f"probe_{index}", run, after, warm=False)

    def _truth(self, n_queries: int) -> dict[int, set]:
        """Exact cosine top-k of each live query vector over the live
        vectors, itself excluded."""
        ids = np.fromiter(self.live, dtype=np.int64)
        mat = np.stack([self.live[i] for i in ids]).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        qids = [q for q in range(n_queries) if q in self.live]
        sims = mat[np.searchsorted(ids, qids)] @ mat.T if qids else np.empty((0, len(ids)))
        out = {}
        for row, q in zip(sims, qids):
            row[ids == q] = -np.inf
            out[q] = set(ids[np.argpartition(-row, K)[:K]].tolist())
        return out

    def _change(self, rng) -> list[Op]:
        """Append one data file, delete a few vectors merge-on-read, then
        fold both changes into both indexes."""
        from sql_query_optimizer_cpp_spark.operators import pq, similarity

        batch = os.path.join(self.ctx.work, f"append_{self.next_id}.parquet")
        ids, vecs, labels = gen.clustered_vectors(self.ctx.seed, 50, start=self.next_id)
        gen._write(gen.vectors_table(ids, vecs, labels), batch)
        self.next_id += 50
        # ten vectors of one seeded original data file (never a query
        # vector), so every delete touches the same number of files
        per_file = self.n // FILES
        f = int(rng.integers(-(-MAX_QUERIES // per_file), FILES))
        doomed = rng.choice(
            [i for i in range(f * per_file, (f + 1) * per_file) if i in self.live],
            size=10, replace=False,
        ).tolist()

        def append():
            with self.ctx.tracer.span("sources.append"):
                self.spark.read.parquet(batch).write.mode("append").parquet(self.path)

        def delete():
            sql = f"DELETE FROM vectors WHERE vec_id IN ({', '.join(map(str, doomed))})"
            with self.ctx.tracer.span("mor.vector_delete"):
                return self.eng.dml(sql, {"vectors": self.path}, mor=True)

        def maintain(index: str):
            def run():
                with self.ctx.tracer.span(f"{'similarity' if index == 'ivf' else 'pq'}.maintain"):
                    if index == "ivf":
                        return similarity.maintain_ivf_index(self.spark, self.path)
                    return pq.maintain_ivfpq_index(self.spark, self.path)
            return run

        def appended(_):
            self.live.update(zip(ids.tolist(), vecs))

        def deleted(stats):
            if stats.rows_matched != len(doomed):
                raise CheckFailed(f"vector delete matched {stats.rows_matched} of {len(doomed)}")
            for i in doomed:
                del self.live[i]

        return [
            Op("append_vectors", append, appended, warm=False),
            Op("delete_vectors", delete, deleted, warm=False),
            Op("maintain_ivf", maintain("ivf"), warm=False),
            Op("maintain_ivfpq", maintain("ivfpq"), warm=False),
        ]

    def groups(self, rng, round_no: int) -> list[list[Op]]:
        """One probe of each index as ``PROBES`` says, and the table change."""
        probes = [[self._probe(i, nq, n_probes)] for i, (nq, n_probes) in PROBES.items()]
        return probes + [self._change(rng)]

    # -- results ------------------------------------------------------------
    def finish(self, loop) -> tuple[dict, dict]:
        """``(workload-specific end-to-end metrics, per-layer metrics)``."""
        from common import median
        from tracer import calls_median_ms, per_call

        # each index weighs the same, whatever batch sizes were drawn
        recall = {f"{i}_recall_at_k": (sum(r) / len(r), "ratio") for i, r in self.recall.items()}
        specific = {
            "probe_p50_ms": (median(loop.of("probe_ivf", "probe_ivfpq")), "ms"),
            "recall_at_k": (sum(v for v, _ in recall.values()) / len(recall), "ratio"),
            **recall,
            "index_build_s": (self.build_s["ivf"] + self.build_s["ivfpq"], "s"),
        }
        tr = self.ctx.tracer
        layer = {}
        if tr.enabled:
            layer = {
                "similarity.build_s": (self.build_s["ivf"], "s"),
                "similarity.probe_ms": (calls_median_ms(tr, "similarity.probe"), "ms"),
                "similarity.maintain_ms": (calls_median_ms(tr, "similarity.maintain"), "ms"),
                "similarity.files_read_frac": (sum(self.read_frac) / max(1, len(self.read_frac)), "ratio"),
                "pq.build_s": (self.build_s["ivfpq"], "s"),
                "pq.probe_ms": (calls_median_ms(tr, "pq.probe"), "ms"),
                "pq.maintain_ms": (calls_median_ms(tr, "pq.maintain"), "ms"),
                "pq.driver_gap_ms": (per_call(tr, "driver_gap_ms", "pq.probe"), "ms"),
                "pq.jobs_per_probe": (per_call(tr, "jobs", "pq.probe"), "count"),
            }
        return specific, layer

    def final_check(self) -> None:
        """Probing every cell of the maintained IVF index returns exactly
        the brute-force top-k."""
        from sql_query_optimizer_cpp_spark.operators import similarity

        ivf = similarity.ivf_search_indexed(
            self.spark, self.path, n_queries=16, k=K, n_probes=self.cells, exact=False)
        brute = similarity.brute_force_topk(self.eng.table(self.path), n_queries=16, k=K, exact=False)
        key = lambda rows: sorted((r["query_id"], r["neighbor_id"], r["rn"]) for r in rows)  # noqa: E731
        if key(ivf.collect()) != key(brute.collect()):
            raise CheckFailed("IVF probe of every cell differs from brute force")
        self.full_probe_checked = True

    def checks(self) -> dict:
        return {
            "ann_recall_measured": len(self.recall["ivf"]) + len(self.recall["ivfpq"]),
            "ann_full_probe_equal": int(getattr(self, "full_probe_checked", False)),
        }
