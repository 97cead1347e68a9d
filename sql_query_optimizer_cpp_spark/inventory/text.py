"""Text-analysis inventory queries over the ``documents`` table.

Each query pairs the Spark operator (operators/text.py — pure built-in
expressions) with a DuckDB oracle generated from the same helper so the
heuristics are replicated bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from ..catalog import load_tables
from ..functions import pround
from ..operators import text as T


@register(
    "text_tokens",
    oracle="SELECT doc_id, "
    + T.token_count_sql("text")
    + " AS n_tokens, CAST(length(text) AS BIGINT) AS n_chars_actual "
    "FROM documents",
    doc="token counting (whitespace tokenizer) + char counts",
    tags=("text",),
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


@register(
    "text_quality",
    oracle="SELECT doc_id, "
    + T.token_count_sql("text")
    + " AS n_tokens, "
    + T.stopword_count_sql("text")
    + " AS n_stopwords, "
    + T.avg_token_len_sql("text")
    + " AS avg_token_len, "
    + T.quality_score_sql("text")
    + " AS quality FROM documents",
    doc="quality scoring: stopword ratio + length + token-shape heuristic "
    "(all JVM-side expressions; no UDFs)",
    tags=("text", "bench"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.stopword_count("text").alias("n_stopwords"),
        T.avg_token_len("text").alias("avg_token_len"),
        T.quality_score("text").alias("quality"),
    )


@register(
    "text_langid",
    oracle="SELECT doc_id, "
    + T.lang_id_sql("text")
    + " AS lang_pred FROM documents",
    doc="language-ID heuristic (stopword-profile argmax with fixed "
    "tie-break; the fixture corpus shares one vocabulary across lang labels, "
    "so this verifies deterministic classification, not label recovery)",
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select("doc_id", T.lang_id("text").alias("lang_pred"))


@register(
    "text_fingerprint",
    oracle="SELECT doc_id, "
    + T.content_fingerprint_sql("text")
    + " AS content_hash FROM documents",
    doc="document fingerprinting: 60-bit hash of normalized content "
    "(lowercased, space-collapsed)",
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select(
        "doc_id", T.content_fingerprint("text").alias("content_hash")
    )


@register(
    "text_tokens_pandas_udf",
    oracle="SELECT doc_id, " + T.token_count_sql("text") + " AS n_tokens FROM documents",
    doc="UDF surface (§2.9, absent in reference): Arrow-vectorized pandas "
    "UDF computing token counts; carries the SAME oracle as the built-in "
    "expression path, proving the two implementations agree — use built-ins "
    "in hot paths, this exists to exercise the UDF machinery",
    tags=("text", "udf"),
)
def text_tokens_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def n_tokens(texts: pd.Series) -> pd.Series:
        # same tokenizer semantics as operators/text.tokens: trim, split on
        # runs of spaces
        return texts.str.strip().str.split(" +", regex=True).map(len).astype("int64")

    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select("doc_id", n_tokens(F.col("text")).alias("n_tokens"))


@register(
    "text_fuzzy_match",
    oracle="SELECT n1.n_name AS name_a, n2.n_name AS name_b, "
    "CAST(levenshtein(n1.n_name, n2.n_name) AS BIGINT) AS edit_dist "
    "FROM nation n1 JOIN nation n2 "
    "ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey "
    "WHERE levenshtein(n1.n_name, n2.n_name) <= 6",
    doc="fuzzy string matching: Levenshtein edit distance over "
    "region-blocked name pairs (blocking bounds the comparison set — "
    "the same structure as the dedup pair joins)",
    tags=("text", "join"),
)
def text_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("nation",))
    n1 = t["nation"].select(
        F.col("n_name").alias("name_a"),
        F.col("n_nationkey").alias("key_a"),
        F.col("n_regionkey").alias("reg_a"),
    )
    n2 = t["nation"].select(
        F.col("n_name").alias("name_b"),
        F.col("n_nationkey").alias("key_b"),
        F.col("n_regionkey").alias("reg_b"),
    )
    return (
        n1.join(n2, (F.col("reg_a") == F.col("reg_b")) & (F.col("key_a") < F.col("key_b")))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= 6)
        .select("name_a", "name_b", "edit_dist")
    )


@register(
    "text_vocab_topk",
    oracle=T.vocab_topk_sql("documents", k=100),
    doc="corpus vocabulary: top-100 tokens by frequency with deterministic "
    "rank (count desc, token) — flatMap explode + one combinable agg + "
    "TakeOrderedAndProject; rank window runs over only k rows",
    tags=("text", "curation"),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return T.vocab_topk(t["documents"], k=100)


#: The synthetic corpus carries no real PII, so the redaction query
#: plants some deterministically from row data — emails for doc_id % 3
#: != 0, phone numbers for even ids, IPv4s for doc_id % 5 == 0 — then
#: scrubs it.  Both engines run the identical construction, so the
#: regex behavior (greedy matching, global replace) is what's graded.
def _pii_text_col() -> F.Column:
    did = F.col("doc_id")
    email = F.when(
        did % 3 > 0,
        F.concat(
            F.lit(" contact user"),
            did.cast("string"),
            F.lit("@mail-"),
            F.col("source"),
            F.lit(".com"),
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 2 == 0,
        F.concat(
            F.lit(" call +1-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit(".0."),
            ((did * 7) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.substring("text", 1, 40), email, phone, ip)


_PII_TEXT_SQL = (
    "substr(text, 1, 40) "
    "|| CASE WHEN doc_id % 3 > 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@mail-' || source || '.com' ELSE '' END "
    "|| CASE WHEN doc_id % 2 = 0 THEN ' call +1-555-' "
    "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END "
    "|| CASE WHEN doc_id % 5 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) "
    "|| '.0.' || CAST(doc_id * 7 % 256 AS VARCHAR) ELSE '' END"
)


def _redact_oracle() -> str:
    counts = T.pii_counts_sql("pii_text")
    clean = " + ".join(T.pii_counts_sql("redacted").values())
    return (
        f"WITH planted AS (SELECT doc_id, {_PII_TEXT_SQL} AS pii_text FROM documents), "
        f"scrubbed AS (SELECT doc_id, pii_text, {T.redact_pii_sql('pii_text')} AS redacted FROM planted) "
        f"SELECT doc_id, {counts['email']} AS n_email, {counts['phone']} AS n_phone, "
        f"{counts['ipv4']} AS n_ipv4, redacted, ({clean}) = 0 AS clean "
        f"FROM scrubbed"
    )


@register(
    "text_redact_pii",
    oracle=_redact_oracle(),
    doc="PII redaction: emails / phone numbers / IPv4s masked with typed "
    "placeholders via a portable regexp_replace chain (Java-regex/RE2 "
    "common subset; DuckDB needs the 'g' flag Spark implies); per-kind "
    "hit counts as audit columns and a redacted-is-clean assertion — "
    "zero shuffle, pure codegen'd expressions",
    tags=("text", "curation"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    planted = t["documents"].select(
        "doc_id", _pii_text_col().alias("pii_text")
    )
    counts = T.pii_counts("pii_text")
    scrubbed = planted.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
        T.redact_pii("pii_text").alias("redacted"),
    )
    residue = T.pii_counts("redacted")
    clean = (residue["email"] + residue["phone"] + residue["ipv4"]) == 0
    return scrubbed.withColumn("clean", clean)


def _repetition_oracle() -> str:
    s = T.repetition_stats_sql("text")
    return (
        f"SELECT doc_id, {s['n_bigrams']} AS n_bigrams, "
        f"{s['n_distinct']} AS n_distinct, {s['rep_ratio']} AS rep_ratio "
        f"FROM documents"
    )


@register(
    "text_repetition",
    oracle=_repetition_oracle(),
    doc="Gopher-style repetition signal: fraction of adjacent-token "
    "bigrams that repeat an earlier bigram in the document (high = "
    "boilerplate/degenerate text); per-row array expressions, zero "
    "shuffle",
    tags=("text", "curation"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    s = T.repetition_stats("text")
    return t["documents"].select(
        "doc_id",
        s["n_bigrams"].alias("n_bigrams"),
        s["n_distinct"].alias("n_distinct"),
        s["rep_ratio"].alias("rep_ratio"),
    )


@register(
    "text_tokens_bpeish",
    oracle="WITH planted AS (SELECT doc_id, text, "
    + _PII_TEXT_SQL
    + " AS rich_text FROM documents) "
    "SELECT doc_id, "
    + T.token_count_sql("text")
    + " AS n_ws, "
    + T.bpeish_token_count_sql("text")
    + " AS n_bpeish, "
    + T.bpeish_token_count_sql("rich_text")
    + " AS n_bpeish_rich FROM planted",
    doc="BPE-ish model-token counting: GPT-2-shape pre-tokenizer regex "
    "(letter/digit/punctuation runs, optional leading space) alongside "
    "the whitespace count — the budget number that matters when 'tokens' "
    "means model tokens; also counted over punctuation-rich planted text "
    "since the synthetic corpus is bare lowercase words",
    tags=("text",),
)
def text_tokens_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    planted = t["documents"].select(
        "doc_id", "text", _pii_text_col().alias("rich_text")
    )
    return planted.select(
        "doc_id",
        T.token_count("text").alias("n_ws"),
        T.bpeish_token_count("text").alias("n_bpeish"),
        T.bpeish_token_count("rich_text").alias("n_bpeish_rich"),
    )


@register(
    "text_lang_confidence",
    oracle="SELECT doc_id, "
    + T.lang_id_sql("text")
    + " AS lang_pred, "
    + T.lang_margin_sql("text")
    + " AS margin, ("
    + T.lang_margin_sql("text")
    + " >= 2 AND "
    + T.lang_id_sql("text")
    + " <> 'und') AS confident FROM documents",
    doc="language-ID with a confidence verdict: evidence margin (best "
    "stopword-hit count minus runner-up) plus a confident flag (margin "
    ">= 2 and not 'und') — the signal a curation pipeline thresholds on "
    "before trusting the heuristic label; pure JVM expressions, the "
    "four profile counts are computed once per row map-side",
    tags=("text", "curation"),
)
def text_lang_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    margin = T.lang_margin("text")
    lang = T.lang_id("text")
    return t["documents"].select(
        "doc_id",
        lang.alias("lang_pred"),
        margin.alias("margin"),
        ((margin >= 2) & (lang != "und")).alias("confident"),
    )


#: Span-extraction pattern: long alphabetic runs (>= 8 chars).  Written in
#: the shared Java-regex/RE2 subset (see PII_PATTERNS note) so both
#: engines extract identical spans from identical offsets.
_SPAN_PATTERN = "[A-Za-z][a-z]{7,}"


@register(
    "doc_span_extract",
    oracle=f"""
WITH m AS (SELECT doc_id,
                  regexp_extract_all(text, '{_SPAN_PATTERN}') AS spans
           FROM documents WHERE doc_id < 200)
SELECT doc_id,
       CAST(unnest(generate_series(1, len(spans))) - 1 AS INTEGER) AS pos,
       unnest(spans) AS span
FROM m
""",
    doc="span extraction: every >=8-char alphabetic run per document with "
    "its match ordinal — the extract-then-explode shape (regexp_extract_all "
    "+ posexplode) behind mention/entity harvesting; the explode is a "
    "flatMap (zero shuffle), and the DuckDB twin zips parallel unnests "
    "to reproduce Spark's posexplode ordinals",
    tags=("text",),
)
def doc_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(f"regexp_extract_all(text, '{_SPAN_PATTERN}', 0)")
            ).alias("pos", "span"),
        )
    )


_TFIDF_K = 3
_TFIDF_DOCS = 100


@register(
    "text_tfidf_topk",
    # score = tf * N / df as a single int->double division per token:
    # IEEE-portable without transcendental log() (whose last-ulp behavior
    # differs between JVM StrictMath and libm builds); same ranking as
    # tf*idf under any monotone idf(df).
    oracle=f"""
WITH tok AS (
  SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({T.tokens_sql('text')}) AS t FROM documents)
  GROUP BY 1, 2),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tok.doc_id, tok.token, tok.tf, df.df,
         (floor((CAST(tok.tf * n.n_docs AS DOUBLE) / df.df) * 1000000.0 + 0.5) / 1000000.0) AS score
  FROM tok JOIN df USING (token) CROSS JOIN n
  WHERE tok.doc_id < {_TFIDF_DOCS})
SELECT doc_id, token, tf, df, score, rnk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, token) AS BIGINT) AS rnk
  FROM scored) t WHERE rnk <= {_TFIDF_K}
""",
    doc="TF-IDF distinctive terms: corpus-wide document frequencies "
    "joined back to per-doc term frequencies, top-3 terms per document "
    "by tf*N/df (rational idf — same ranking as log-idf, but exactly "
    "portable without transcendental functions); the df side is a "
    "token-keyed aggregate a 100 TB run broadcasts for common tokens "
    "and the per-doc rank is a small window over each doc's own terms",
    tags=("text",),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ("documents",))
    docs = t["documents"]
    tok = (
        docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_counts = tok.groupBy("token").agg(
        F.count("*").cast("long").alias("df")
    )
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tok.filter(F.col("doc_id") < _TFIDF_DOCS)
        .join(df_counts, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            pround(
                (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"), 6
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _TFIDF_K)
        .select("doc_id", "token", "tf", "df", "score", "rnk")
    )


_LM_MIN_COUNT = 5

from ..operators.dedup import shingles_sql as _shingles_sql  # noqa: E402


@register(
    "text_ngram_lm",
    # trigram occurrences (MULTISET — no distinct: LM counts weigh
    # repetitions), conditional probability as one exact-int division
    oracle=f"""
WITH tri AS (
  SELECT s FROM (SELECT unnest({_shingles_sql('text', 3)}) AS s
                 FROM documents)),
split AS (
  SELECT s, regexp_extract(s, '^(.*) ([^ ]+)$', 1) AS ctx,
            regexp_extract(s, '^(.*) ([^ ]+)$', 2) AS w
  FROM tri),
c3 AS (SELECT ctx, w, CAST(COUNT(*) AS BIGINT) AS n3 FROM split GROUP BY 1, 2),
c2 AS (SELECT ctx, CAST(SUM(n3) AS BIGINT) AS n2 FROM c3 GROUP BY 1)
SELECT c3.ctx, c3.w, c3.n3, c2.n2,
       (floor((CAST(c3.n3 AS DOUBLE) / c2.n2) * 1000000.0 + 0.5) / 1000000.0) AS p
FROM c3 JOIN c2 ON c3.ctx = c2.ctx
WHERE c3.n3 >= {_LM_MIN_COUNT}""",
    doc="n-gram language-model counts: trigram multiset counts split into "
    "(context bigram, next word), conditional p(w|ctx) = c3/c2 as one "
    "exact-integer division (6dp) — the count-based LM/data-quality "
    "signal (predictable continuations = boilerplate); explode is a "
    "flatMap, both counts map-side combinable on the context key",
    tags=("text",),
)
def text_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import doc_shingles

    t = load_tables(spark, sf_dir, ("documents",))
    tri = doc_shingles(t["documents"], n=3, distinct=False).select("s")
    split = tri.select(
        F.regexp_extract("s", r"^(.*) ([^ ]+)$", 1).alias("ctx"),
        F.regexp_extract("s", r"^(.*) ([^ ]+)$", 2).alias("w"),
    )
    c3 = split.groupBy("ctx", "w").agg(
        F.count("*").cast("long").alias("n3")
    )
    c2 = c3.groupBy("ctx").agg(F.sum("n3").cast("long").alias("n2"))
    return (
        c3.join(c2, "ctx")
        .filter(F.col("n3") >= _LM_MIN_COUNT)
        .select(
            "ctx",
            "w",
            "n3",
            "n2",
            pround(F.col("n3").cast("double") / F.col("n2"), 6).alias("p"),
        )
    )


@register(
    "doc_quality_histogram",
    oracle="SELECT CAST(floor("
    + T.quality_score_sql("text")
    + " * 20) AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_docs "
    "FROM documents GROUP BY 1",
    doc="quality-score histogram in 0.05-wide bins: the distribution "
    "readout that decides where a corpus quality threshold should sit "
    "before filtering — the score is the same exact-integer-ratio "
    "expression as text_quality (bit-identical across engines, so "
    "floor() bins agree even at boundaries); map-side-combinable count, "
    "shuffle bytes ∝ number of bins",
    tags=("text", "agg"),
)
def doc_quality_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return (
        t["documents"]
        .groupBy(
            F.floor(T.quality_score("text") * 20).cast("long").alias("bin")
        )
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


@register(
    "text_boilerplate_ngrams",
    oracle=r"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS t
              FROM documents),
long_enough AS (SELECT * FROM toks WHERE len(t) >= 5),
grams AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
          FROM long_enough,
               unnest(generate_series(1, len(t)-4)) AS s(i)),
cnt AS (SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM grams GROUP BY 1)
SELECT gram, n_docs FROM cnt WHERE n_docs >= 2
ORDER BY n_docs DESC, gram LIMIT 100""",
    doc="boilerplate detection: 5-grams appearing in >= 2 distinct "
    "documents, ranked by document frequency — the C4-style cleaning "
    "signal that finds headers/footers/licenses repeated across a crawl "
    "so they can be stripped before training; the gram explosion is a "
    "flatMap (no shuffle), then one count-distinct groupBy keyed on the "
    "gram (shuffle ∝ distinct grams; at 100 TB key on hash64(gram) "
    "instead of the string to fix the shuffle width, exactly as the "
    "MinHash pipeline already does for shingles)",
    tags=("text", "dedup"),
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    toks = t["documents"].select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("t")
    )
    # docs shorter than one gram are filtered BEFORE sequence(): Spark's
    # sequence(1, 0) steps DOWNWARD to [1, 0] and slice(t, 0, 5) then
    # throws — greatest(size-4, 0) does not save it (found in review; the
    # DuckDB twin's generate_series(1, 0) is empty, so filtering is also
    # the parity-preserving behavior)
    grams = toks.filter(F.size("t") >= 5).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t)-4), "
                "i -> concat_ws(' ', slice(t, i, 5)))"
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "gram")
        .limit(100)
    )


VOCAB_K = 500


@register(
    "text_oov_rate",
    oracle=f"""
WITH tok AS (SELECT doc_id, lang, unnest({T.tokens_sql('text')}) AS token
             FROM documents),
freq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
vocab AS (SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS rk
    FROM freq) t WHERE rk <= {VOCAB_K}),
per_doc AS (
  SELECT tok.doc_id, tok.lang,
         CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(COUNT(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov
  FROM tok LEFT JOIN vocab v ON tok.token = v.token
  GROUP BY 1, 2),
ratios AS (
  SELECT lang,
         (floor((CAST(n_oov AS DOUBLE) / NULLIF(n_tok, 0)) * 1000000.0 + 0.5) / 1000000.0) AS oov
  FROM per_doc)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       (floor((MIN(oov)) * 1000000.0 + 0.5) / 1000000.0) AS min_oov, (floor((MAX(oov)) * 1000000.0 + 0.5) / 1000000.0) AS max_oov,
       (floor((CAST(SUM(CAST(oov AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0)
         AS mean_oov
FROM ratios GROUP BY 1""",
    doc=f"out-of-vocabulary rate per language against the corpus's own "
    f"top-{VOCAB_K} token vocabulary (deterministic tie-break on the "
    "token): the tokenizer-coverage QA a pipeline runs before committing "
    "to a vocab — languages with high OOV get garbage tokenization; the "
    "vocab is a top-k over token frequencies (combinable agg + rank) and "
    "broadcasts into the per-doc left join, per-doc ratios aggregate "
    "through 6dp-rounded decimals so accumulation order cannot drift",
    tags=("text",),
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    t = load_tables(spark, sf_dir, ("documents",))
    tok = t["documents"].select(
        "doc_id", "lang", F.explode(T.tokens("text")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count("*").cast("long").alias("cnt"))
    vocab = (
        freq.withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.col("cnt").desc(), "token")),
        )
        .filter(F.col("rk") <= VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    oov = pround(
        F.col("n_oov").cast("double") / F.nullif("n_tok", F.lit(0)), 6
    )
    return (
        per_doc.select("lang", oov.alias("oov"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            pround(F.min("oov"), 6).alias("min_oov"),
            pround(F.max("oov"), 6).alias("max_oov"),
            pround(
                F.sum(F.col("oov").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_oov"),
        )
    )


@register(
    "text_chunk_windows",
    oracle="SELECT doc_id, chunk_id, chunk, n_tokens FROM "
    + T.chunk_documents_sql(
        "documents", "text", ("doc_id",), chunk_tokens=16, overlap=4
    )
    + " ORDER BY doc_id, chunk_id",
    doc="Document chunking for RAG/training-sample windows (new r8, "
    "operators/text.py chunk_documents): every document splits into "
    "16-token windows starting every 12 tokens (4-token overlap, only "
    "the final window short), built ENTIRELY from JVM built-ins "
    "(split + sequence + explode + slice + array_join — zero shuffle, "
    "zero Python, whole-stage codegen); the oracle reproduces the "
    "windows with regexp_split_to_array + generate_series + array "
    "slicing, so equality pins tokenization, window arithmetic, overlap "
    "placement, and tail-window truncation bit-for-bit.  At 100 TB this "
    "is a map-only pass feeding the embed/pack stages",
    tags=("text",),
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ("documents",))
    return T.chunk_documents(
        t["documents"], "text", ("doc_id",), chunk_tokens=16, overlap=4
    ).orderBy("doc_id", "chunk_id")
