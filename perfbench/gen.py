"""Seeded input generation for the benchmark workloads.

Everything the program under test receives is built here from the run's
``--seed`` with NumPy and written as parquet with PyArrow, so no Spark job
runs while inputs are made and the same seed always gives the same files.

The TPC-H-shaped tables follow the schema and value domains of the
repository's fixture tables (FIXTURES.md part B): the same columns and
types, uniform value draws, ``sf`` scaling the row counts.  Unlike the
fixture, ``(l_orderkey, l_linenumber)`` is unique, so MERGE statements
keyed on it have exactly one target row.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "red", "small", "green")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """Midnight timestamps (microseconds) uniform over [lo, hi]."""
    d0, d1 = _epoch_us(lo) // _US_PER_DAY, _epoch_us(hi) // _US_PER_DAY
    return rng.integers(d0, d1 + 1, n) * _US_PER_DAY


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """One parquet file at ``path`` (``files == 1``), or a directory of
    ``files`` row-contiguous part files, the layout of a DML table."""
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def lineitem_table(seed: int, sf: float) -> pa.Table:
    """``lineitem`` sorted by ``l_orderkey``, unique on
    ``(l_orderkey, l_linenumber)``."""
    rng = np.random.default_rng([seed, 7])
    n_orders = max(15, int(1_500_000 * sf))
    n = max(60, int(6_000_000 * sf))
    okey = np.sort(rng.integers(0, n_orders, n))
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, n]))
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(20, int(200_000 * sf)), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(10, int(10_000 * sf)), n), pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", n)),
    })


def write_tpch(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The ten fixture tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(15, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": lineitem_table(seed, sf),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(np.sort(rng.integers(
                _epoch_us("2024-01-01"), _epoch_us("2024-01-31"), n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
    }
    tables["embeddings"] = vectors_table(*clustered_vectors(seed, max(500, int(20_000 * sf))))
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    n_docs = max(500, int(50_000 * sf))
    write_documents(os.path.join(out_dir, "documents.parquet"), seed, n_docs, 0.002)
    return {"documents": n_docs, **{name: t.num_rows for name, t in tables.items()}}


def write_documents(path: str, seed: int, n_docs: int, dup_rate: float) -> int:
    """A ``documents`` corpus (fixture schema) of random-word texts in
    which a ``dup_rate`` share of documents are planted duplicates: a copy
    of an earlier document with zero, one or two words substituted (exact
    duplicates, and near-duplicates whose shingle-set Jaccard is mostly
    above the 0.8 MinHash threshold).  Returns the number of copies."""
    rng = np.random.default_rng([seed, 11, n_docs])
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    n_dup = int(n_docs * dup_rate)
    targets = rng.choice(np.arange(1, n_docs), n_dup, replace=False)
    for t in targets:
        toks = texts[int(rng.integers(0, t))].split()
        for _ in range(int(rng.integers(0, 3))):
            toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, len(words)))]
        texts[t] = " ".join(toks)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(table, path)
    return n_dup


def clustered_vectors(
    seed: int, n: int, dim: int = 64, clusters: int = 32, start: int = 0
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Unit vectors around ``clusters`` random centres: ``(ids, vectors,
    labels)``, ids ``start .. start+n-1``.  The centres depend on the
    seed only, so an appended batch is drawn from the same distribution
    as the corpus it joins."""
    centres = np.random.default_rng([seed, 21]).standard_normal((clusters, dim))
    rng = np.random.default_rng([seed, 22, start])
    labels = rng.integers(0, clusters, n)
    vecs = centres[labels] + 0.8 * rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return np.arange(start, start + n), vecs.astype(np.float32), labels


def vectors_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    """The fixture ``embeddings`` schema: ``(vec_id, embedding, label)``."""
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1]), pa.int32())
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def write_vectors(path: str, seed: int, n: int, files: int, start: int = 0) -> np.ndarray:
    """Write a clustered corpus as a DML table directory; returns the
    vectors (row ``i`` has ``vec_id == start + i``)."""
    ids, vecs, labels = clustered_vectors(seed, n, start=start)
    _write(vectors_table(ids, vecs, labels), path, files)
    return vecs
