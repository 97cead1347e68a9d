"""Corpus-curation inventory queries over ``documents``: deterministic
stratified sampling, sequence packing, and the composite quality filter.

All three are hash-graded against full DuckDB oracles (the sampling hash
is the portable seeded md5-prefix ``hash64``, so even the sampling
decision matches bit-for-bit across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import register
from ..catalog import load_tables
from ..operators import curation as C

#: Downsample the over-represented languages, keep the tail intact —
#: the canonical rebalancing move in a multilingual training mix.
SAMPLE_RATES = {"en": 0.3, "es": 0.75}
DEFAULT_RATE = 1.0
N_SHARDS = 8
CTX = 2048
MIN_TOKENS = 20
MIN_SCORE = 0.5
ALLOWED_LANGS = ("en", "es", "de", "fr")


@register(
    "sample_stratified",
    oracle=C.stratified_sample_sql(
        "documents", "lang", SAMPLE_RATES, DEFAULT_RATE
    ),
    doc="deterministic hash-bucket stratified sample by lang (en 30%, es "
    "75%, rest 100%): map-side filter, no shuffle, reproducible across "
    "runs/engines/partitionings — rand() sampling is none of those",
    tags=("curation",),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return C.stratified_sample(
        t["documents"], "lang", SAMPLE_RATES, DEFAULT_RATE
    )


@register(
    "pack_sequences",
    oracle=C.pack_sequences_sql("documents", n_shards=N_SHARDS, ctx=CTX),
    doc="GPT-style concat-and-chop sequence packing: per-shard window "
    "cumsum assigns each doc its context bin (ctx=2048) and offset; one "
    "shuffle on shard, shard count = parallelism knob at 100 TB",
    tags=("curation",),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return C.pack_sequences(t["documents"], n_shards=N_SHARDS, ctx=CTX)


@register(
    "text_filter_pipeline",
    oracle=C.quality_filter_sql(
        "documents",
        min_tokens=MIN_TOKENS,
        min_score=MIN_SCORE,
        langs=ALLOWED_LANGS,
    ),
    doc="composite curation filter with auditable first-failing-rule "
    "reason (too_short / low_quality / lang_not_allowed / ok), composed "
    "from the text-analysis operators — pure JVM expressions",
    tags=("curation", "text"),
)
def text_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return C.quality_filter(
        t["documents"],
        min_tokens=MIN_TOKENS,
        min_score=MIN_SCORE,
        langs=ALLOWED_LANGS,
    )


PROBE_MOD = 97
MIN_SHARED = 2


@register(
    "decontaminate",
    oracle=C.decontaminate_sql(
        "documents", probe_mod=PROBE_MOD, min_shared=MIN_SHARED
    ),
    doc="benchmark decontamination: flag training docs sharing >= 2 "
    "distinct 3-gram shingles with the held-out probe split (doc_id % 97 "
    "== 0) — broadcast probe side, shingle equi-join, never a cross join",
    tags=("curation", "dedup"),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return C.decontaminate(
        t["documents"], probe_mod=PROBE_MOD, min_shared=MIN_SHARED
    )


def _pipeline_oracle() -> str:
    """The whole curation pass as one CTE chain, each stage generated by
    the same helper that generates its standalone oracle."""
    qf = C.quality_filter_sql(
        "documents", min_tokens=MIN_TOKENS, min_score=MIN_SCORE, langs=ALLOWED_LANGS
    )
    from ..operators.text import content_fingerprint_sql

    sampled = C.stratified_sample_sql("deduped", "lang", SAMPLE_RATES, DEFAULT_RATE)
    packed = C.pack_sequences_sql("survivors", n_shards=N_SHARDS, ctx=CTX)
    return f"""
WITH qf AS ({qf}),
kept AS (SELECT d.* FROM documents d JOIN qf ON d.doc_id = qf.doc_id WHERE qf.keep),
reps AS (SELECT MIN(doc_id) AS doc_id FROM kept
         GROUP BY {content_fingerprint_sql('text')}),
deduped AS (SELECT k.* FROM kept k JOIN reps ON k.doc_id = reps.doc_id),
sampled AS ({sampled}),
survivors AS (SELECT d.* FROM deduped d JOIN sampled ON d.doc_id = sampled.doc_id),
packed AS ({packed})
SELECT p.doc_id, s.lang, p.shard, p.n_tokens, p.bin_id, p.bin_offset
FROM packed p JOIN survivors s ON p.doc_id = s.doc_id
"""


@register(
    "curation_pipeline_e2e",
    oracle=_pipeline_oracle(),
    doc="the full curation pass as ONE declarative plan: quality filter "
    "(keep only 'ok') -> exact dedup (min-id representative per content "
    "hash) -> stratified sample by lang -> sequence packing; each stage "
    "is the standalone operator in pass-through mode, so the whole "
    "pipeline is ONE corpus scan and exactly two shuffles (content-hash "
    "window for dedup, shard window for packing) — the filters and "
    "text-analysis expressions run map-side exactly once, with no "
    "join-backs re-scanning the corpus (the shape that survives 100 TB)",
    tags=("curation", "dedup", "text"),
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..operators.text import content_fingerprint, token_count

    # quality_filter spreads a single-split scan over the cores itself.
    # r14 measured a spread here as a loss (1.49 s without, 2.25 s with at
    # sf0.1) while the filter split each text about ten times.  Splitting
    # once per document and spreading measured 1.47-2.07 s against
    # 1.84-2.18 s for the r15 form (warm medians of three interleaved
    # sessions each, sf0.1, 4 cores).
    #
    # r15 (guide §2.3, VERDICT r14 #7): the only downstream consumers of
    # ``text`` are the content fingerprint (the dedup window key) and the
    # token count (packing) — both computed MAP-SIDE here, so the text
    # payload is dropped before the first shuffle.  The dedup-window
    # Exchange previously carried struct<doc_id,text,lang,fp>; now it
    # carries fixed-width columns only (plan diff in plans/r15/) — at
    # 100 TB the corpus bytes never leave the scan stage.  Same keep-set
    # and output as the exact_dedup_keep form by construction: identical
    # partition key (content_fingerprint of the same text), identical
    # min-doc_id rank order, identical token counts.
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    kept = C.quality_filter(
        docs,
        min_tokens=MIN_TOKENS,
        min_score=MIN_SCORE,
        langs=ALLOWED_LANGS,
        passthrough=True,
    ).filter("keep")
    narrow = kept.select(
        "doc_id",
        "lang",
        token_count("text").alias("_n_tokens"),
        content_fingerprint("text").alias("_fp"),
    )
    w = W.partitionBy("_fp").orderBy("doc_id")
    deduped = (
        narrow.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )
    survivors = C.stratified_sample(
        deduped, "lang", SAMPLE_RATES, DEFAULT_RATE, passthrough=True
    )
    packed = C.pack_sequences(
        survivors,
        n_shards=N_SHARDS,
        ctx=CTX,
        carry_cols=("lang",),
        n_tokens_col="_n_tokens",
    )
    return packed.select(
        "doc_id", "lang", "shard", "n_tokens", "bin_id", "bin_offset"
    )


FIXED_K = 150


@register(
    "sample_fixed_k",
    oracle=C.sample_fixed_k_sql("documents", "lang", FIXED_K),
    doc="budgeted per-stratum sample: exactly min(k, |stratum|) docs per "
    "lang, ranked by the portable id hash (deterministic reservoir — "
    "same rows on re-run, backfill, and both engines); one shuffle on "
    "the stratum key",
    tags=("curation",),
)
def sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return C.sample_fixed_k(t["documents"], "lang", FIXED_K)


def _mix_report_oracle() -> str:
    from ..operators.text import token_count_sql

    return (
        "SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs, "
        f"CAST(sum({token_count_sql('text')}) AS BIGINT) AS total_tokens, "
        "CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars, "
        "round(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 4) AS p50_chars "
        "FROM documents GROUP BY lang, source"
    )


@register(
    "corpus_mix_report",
    oracle=_mix_report_oracle(),
    doc="training-mix report: per (lang, source) doc counts, total token "
    "budget, mean and median doc length — the dashboard numbers a data "
    "team watches while rebalancing a pre-training mix; one "
    "map-side-combinable aggregation (integer sums are exact, so no "
    "decimal trick needed; median rounded 4dp for cross-engine FP parity)",
    tags=("curation", "agg"),
)
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.text import token_count

    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(token_count("text")).cast("long").alias("total_tokens"),
            (
                F.sum("n_chars").cast("double") / F.count("*")
            ).alias("avg_chars"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        )
    )


def _neardup_pipeline_oracle() -> str:
    """The near-dup curation pass: quality filter -> MinHash+LSH pair
    graph -> connected components -> keep each cluster's min-id
    representative -> stratified sample -> pack.  Reuses the SAME CTE
    generators as the standalone dedup_clusters / sample / pack oracles,
    pointed at the filtered subset."""
    from .dedup import _cc_ctes, _minhash_ctes

    qf = C.quality_filter_sql(
        "documents", min_tokens=MIN_TOKENS, min_score=MIN_SCORE, langs=ALLOWED_LANGS
    )
    sampled = C.stratified_sample_sql("deduped", "lang", SAMPLE_RATES, DEFAULT_RATE)
    packed = C.pack_sequences_sql("survivors", n_shards=N_SHARDS, ctx=CTX)
    return f"""
WITH RECURSIVE qf AS ({qf}),
kept AS (SELECT d.* FROM documents d JOIN qf ON d.doc_id = qf.doc_id WHERE qf.keep),
{_minhash_ctes('kept')},
{_cc_ctes('kept')},
reps AS (SELECT doc_id FROM comp WHERE doc_id = cluster_rep),
deduped AS (SELECT k.* FROM kept k JOIN reps ON k.doc_id = reps.doc_id),
sampled AS ({sampled}),
survivors AS (SELECT d.* FROM deduped d JOIN sampled ON d.doc_id = sampled.doc_id),
packed AS ({packed})
SELECT p.doc_id, s.lang, p.shard, p.n_tokens, p.bin_id, p.bin_offset
FROM packed p JOIN survivors s ON p.doc_id = s.doc_id
"""


@register(
    "curation_pipeline_neardup",
    oracle=_neardup_pipeline_oracle(),
    doc="the near-dup curation pass: quality filter (pass-through) -> "
    "MinHash+LSH pair graph over the kept subset -> connected-component "
    "clusters -> keep each cluster's min-id representative -> stratified "
    "sample -> pack; the fuzzy-dedup twin of curation_pipeline_e2e — "
    "the CC label frame is id-only (tiny), so the one join-back it needs "
    "is cheap, and everything else flows through the linear "
    "pass-through stages",
    tags=("curation", "dedup"),
)
def curation_pipeline_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D
    from ..operators.cache import persist_tracked
    from .dedup import BANDS, NUM_HASHES, THRESHOLD

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # kept feeds three consumers (shingle explosion, the CC label seed,
    # and the representative join-back): persist it once so the
    # regex-heavy quality expressions don't re-run per consumer
    kept = persist_tracked(
        C.quality_filter(
            docs,
            min_tokens=MIN_TOKENS,
            min_score=MIN_SCORE,
            langs=ALLOWED_LANGS,
            passthrough=True,
        ).filter("keep")
    )
    clusters = D.neardup_clusters(
        kept, num_hashes=NUM_HASHES, bands=BANDS, threshold=THRESHOLD
    )
    reps = clusters.filter("doc_id = cluster_rep").select("doc_id")
    deduped = kept.join(reps, "doc_id")
    survivors = C.stratified_sample(
        deduped, "lang", SAMPLE_RATES, DEFAULT_RATE, passthrough=True
    )
    packed = C.pack_sequences(
        survivors, n_shards=N_SHARDS, ctx=CTX, carry_cols=("lang",)
    )
    return packed.select(
        "doc_id", "lang", "shard", "n_tokens", "bin_id", "bin_offset"
    )


def _split_case_sql() -> str:
    """Train/val/test CASE over the portable hash — ONE definition shared
    by every oracle that assigns splits, generated from the same
    ``hash64_sql`` the Spark side's ``hash64`` mirrors (a hand-inlined
    copy would silently fork the bucket function if the hash ever
    changed)."""
    from ..functions import hash64_sql

    h = f"({hash64_sql('CAST(doc_id AS VARCHAR)', seed='split:')} % 100)"
    return (
        f"CASE WHEN {h} < 90 THEN 'train' "
        f"WHEN {h} < 95 THEN 'val' ELSE 'test' END"
    )


def _split_col():
    """Spark twin of :func:`_split_case_sql`."""
    from pyspark.sql import functions as F

    from ..functions import hash64

    bucket = hash64(F.col("doc_id").cast("string"), seed="split:") % 100
    return (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )


@register(
    "sample_train_val_test",
    oracle="WITH assigned AS (SELECT lang, "
    + _split_case_sql()
    + " AS split FROM documents) "
    "SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs "
    "FROM assigned GROUP BY 1, 2",
    doc="deterministic 90/5/5 train/val/test split assignment via the "
    "portable 60-bit hash of doc_id (no RNG state: re-running on a "
    "grown corpus never reassigns an existing doc across splits — the "
    "property that prevents silent train/test contamination), reported "
    "as per-(lang, split) counts; pure map-side assignment, one "
    "combinable count",
    tags=("curation", "sample"),
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .select("lang", _split_col().alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _ingest_oracle() -> str:
    from ..operators.text import (
        content_fingerprint_sql,
        lang_id_sql,
        quality_score_sql,
        token_count_sql,
    )

    langs = ", ".join(f"'{l}'" for l in ALLOWED_LANGS)
    return f"""
WITH f AS (SELECT doc_id, text, lang,
                  {content_fingerprint_sql('text')} AS h FROM documents),
newb AS (SELECT * FROM f WHERE doc_id % 10 = 7),
corpus AS (SELECT DISTINCT h FROM f WHERE doc_id % 10 <> 7),
bm AS (SELECT newb.*, MIN(doc_id) OVER (PARTITION BY h ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS earlier
       FROM newb),
fresh AS (SELECT b.doc_id, b.text, b.lang
          FROM bm b LEFT JOIN corpus c ON b.h = c.h
          WHERE b.earlier IS NULL AND c.h IS NULL),
kept AS (SELECT doc_id, text, lang FROM fresh
         WHERE {token_count_sql('text')} >= {MIN_TOKENS}
           AND {quality_score_sql('text')} >= {MIN_SCORE}
           AND {lang_id_sql('text')} IN ({langs})),
assigned AS (SELECT lang,
                    {_split_case_sql()} AS split,
                    {token_count_sql('text')} AS toks
             FROM kept)
SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS total_tokens
FROM assigned GROUP BY 1, 2"""


@register(
    "ingest_incremental_e2e",
    oracle=_ingest_oracle(),
    doc="the day-2 ingest pipeline end-to-end: an incoming batch "
    "(doc_id%10==7) is exact-deduped against the corpus fingerprint "
    "index (anti join on the 64-bit content hash — the corpus side is "
    "the persisted (hash) index, never re-scanned text) and against "
    "itself (earliest-in-batch window), quality-filtered in passthrough "
    "mode (no join-back), split-assigned by the stable doc_id hash, and "
    "reported as per-(split, lang) doc/token budgets — one batch scan, "
    "the window + final aggregate are the only shuffles, the hash index "
    "join is hash-to-hash; composes the dedup_incremental, "
    "text_filter_pipeline and sample_train_val_test operators exactly "
    "as production would chain them",
    tags=("curation", "dedup"),
)
def ingest_incremental_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from ..operators.text import content_fingerprint, token_count

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    is_new = F.col("doc_id") % 10 == 7
    corpus_idx = (
        docs.filter(~is_new)
        .select(content_fingerprint("text").alias("h"))
        .distinct()
    )
    batch = docs.filter(is_new).withColumn("h", content_fingerprint("text"))
    w = (
        W.partitionBy("h")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    fresh = (
        batch.withColumn("earlier", F.min("doc_id").over(w))
        .filter(F.col("earlier").isNull())
        .join(corpus_idx, "h", "left_anti")
    )
    kept = C.quality_filter(
        fresh,
        min_tokens=MIN_TOKENS,
        min_score=MIN_SCORE,
        langs=ALLOWED_LANGS,
        passthrough=True,
    ).filter("keep")
    return (
        kept.select(
            "lang", _split_col().alias("split"), token_count("text").alias("toks")
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
        )
    )


def _leakage_oracle() -> str:
    from ..operators.text import content_fingerprint_sql

    return f"""
WITH assigned AS (
  SELECT doc_id, {_split_case_sql()} AS split,
         {content_fingerprint_sql('text')} AS fp
  FROM documents),
by_fp AS (
  SELECT fp,
         CAST(COUNT(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
         CAST(COUNT(*) FILTER (WHERE split = 'val') AS BIGINT) AS n_val,
         CAST(COUNT(*) FILTER (WHERE split = 'test') AS BIGINT) AS n_test
  FROM assigned GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS n_contents,
       CAST(COUNT(*) FILTER (WHERE n_train > 0 AND n_test > 0) AS BIGINT)
         AS train_test_leaks,
       CAST(COUNT(*) FILTER (WHERE n_train > 0 AND n_val > 0) AS BIGINT)
         AS train_val_leaks,
       CAST(COUNT(*) FILTER (WHERE n_val > 0 AND n_test > 0) AS BIGINT)
         AS val_test_leaks
FROM by_fp"""


@register(
    "split_leakage_report",
    oracle=_leakage_oracle(),
    doc="eval-integrity check: normalized-content fingerprints that appear "
    "in MORE THAN ONE split of the hash-assigned train/val/test "
    "partition — the contamination a held-out eval silently inflates on "
    "when exact duplicates straddle the split boundary (hash splitting "
    "assigns per doc_id, so two byte-identical docs with different ids "
    "CAN land on opposite sides — this query is the audit that catches "
    "it); one map-side fingerprint+split pass, one conditional-count "
    "groupBy on the fingerprint, one global rollup row",
    tags=("curation", "dedup"),
)
def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.text import content_fingerprint

    t = load_tables(spark, sf_dir, ("documents",))
    assigned = t["documents"].select(
        content_fingerprint("text").alias("fp"), _split_col().alias("split")
    )
    by_fp = assigned.groupBy("fp").agg(
        *[
            F.count(F.when(F.col("split") == s, 1))
            .cast("long")
            .alias(f"n_{s}")
            for s in ("train", "val", "test")
        ]
    )
    leak = lambda a, b: F.count(  # noqa: E731
        F.when((F.col(f"n_{a}") > 0) & (F.col(f"n_{b}") > 0), 1)
    ).cast("long")
    return by_fp.agg(
        F.count("*").cast("long").alias("n_contents"),
        leak("train", "test").alias("train_test_leaks"),
        leak("train", "val").alias("train_val_leaks"),
        leak("val", "test").alias("val_test_leaks"),
    )
