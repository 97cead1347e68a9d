"""Text kernels on edge-case documents: the tokens-once Spark kernels
against their DuckDB twins, the plan shape that keeps one split per
document, and where the quality filter spreads its input."""

from __future__ import annotations

from collections import Counter

import duckdb
import pytest

from sql_query_optimizer_cpp_spark.operators.curation import (
    quality_filter,
    quality_filter_sql,
)
from sql_query_optimizer_cpp_spark.operators.dedup import doc_shingles, shingles_sql

PROSE_EN = "the cat is on the mat and it is the end of the story for a dog in the house"
EDGE_DOCS = [
    (1, ""),
    (2, "   "),
    (3, "one"),
    (4, "one two"),
    (5, "a  b   c    d"),
    (6, "  lead and trail  "),
    (7, None),
    (8, "repeat repeat repeat repeat"),
    (9, PROSE_EN),
    (10, "  " + PROSE_EN + "   " + PROSE_EN + "  "),
    (11, "el perro y la casa de los que una " * 3),
    (12, "der hund und das haus ist nicht ein " * 3),
    (13, "le chat et les chiens des une est " * 3),
    (14, "xq zz kk " * 9),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id bigint, text string")


@pytest.fixture(scope="module")
def docs_duck():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", EDGE_DOCS)
    yield con
    con.close()


@pytest.mark.parametrize("n", [1, 2, 3])
def test_doc_shingles_match_duckdb_twin(docs, docs_duck, n):
    want = Counter(
        docs_duck.sql(
            f"SELECT doc_id, unnest({shingles_sql('text', n)}) AS s FROM documents"
        ).fetchall()
    )
    got = Counter(map(tuple, doc_shingles(docs, n=n, distinct=False).collect()))
    assert got == want
    got_set = sorted(map(tuple, doc_shingles(docs, n=n).collect()))
    assert got_set == sorted(want)


@pytest.mark.parametrize(
    "min_tokens,min_score,langs",
    [(20, 0.5, ("en", "es", "de", "fr")), (1, 0.3, ("en", "de"))],
)
@pytest.mark.parametrize("passthrough", [False, True])
def test_quality_filter_matches_duckdb_twin(
    docs, docs_duck, min_tokens, min_score, langs, passthrough
):
    oracle = quality_filter_sql(
        "documents", min_tokens=min_tokens, min_score=min_score, langs=langs
    )
    want = sorted(
        docs_duck.sql(f"SELECT doc_id, reason, keep FROM ({oracle})").fetchall()
    )
    out = quality_filter(
        docs,
        min_tokens=min_tokens,
        min_score=min_score,
        langs=langs,
        passthrough=passthrough,
    )
    if passthrough:
        assert out.columns == ["doc_id", "text", "reason", "keep"]
    got = sorted(map(tuple, out.select("doc_id", "reason", "keep").collect()))
    assert got == want
    # every rule fires somewhere on these documents under the loose
    # thresholds, so the parity above covers each branch
    if min_tokens == 1:
        assert {r for _, r, _ in got} == {
            "null_text", "low_quality", "lang_not_allowed", "ok"
        }


@pytest.mark.parametrize(
    "build",
    [
        lambda df: doc_shingles(df, distinct=False),
        lambda df: quality_filter(df),
        lambda df: quality_filter(df, passthrough=True),
    ],
    ids=["doc_shingles", "quality_filter", "quality_filter_passthrough"],
)
def test_text_is_split_once_per_document(docs, build):
    """The tokens Project stays separate in the optimized plan: Catalyst
    must not inline the split back into each feature or into the shingle
    lambda, which would split the text once per feature or per token."""
    plan = build(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan


def test_quality_filter_spreads_only_unshuffled_input(spark):
    """A single-split scan is spread over the cores; an input that already
    went through a shuffle is not (counting its partitions would run its
    shuffle stages once more)."""
    from pyspark.sql import functions as F

    from sql_query_optimizer_cpp_spark.catalog import load_tables

    from .conftest import SF_DIR

    def repartitions(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count("Repartition")

    scan = load_tables(spark, SF_DIR, ("documents",))["documents"]
    assert scan.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert repartitions(quality_filter(scan)) == 1
    shuffled = scan.groupBy("doc_id").agg(F.first("text").alias("text"))
    assert repartitions(quality_filter(shuffled)) == 0
