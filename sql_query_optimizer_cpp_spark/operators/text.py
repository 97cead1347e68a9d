"""Text-analysis operators for training-data pipelines.

The reference has no scalar functions at all (SURVEY.md §2.7); these are the
driver-mandated LLM-data-pipeline extensions: tokenization, quality scoring,
language-ID heuristics, and document fingerprinting over the ``documents``
table.

Everything is built-in-expression-only (JVM-side, whole-stage codegen): no
Python UDFs anywhere in this module, so the same pipeline runs at 100 TB
bounded by scan throughput, not Python serde.

Cross-engine note: each helper has a DuckDB twin (``*_sql``) used by the
inventory oracles; tokenization is regex-split on runs of spaces after
trim in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions import hash64, hash64_sql

#: Tiny stopword inventories for the lang-id heuristic (public-knowledge
#: function-word lists, a la textcat / CLD n-gram profiles, reduced to the
#: whitespace-tokenizable case).
STOPWORDS = {
    "en": ("the", "of", "and", "to", "in", "is", "a"),
    "es": ("el", "la", "de", "que", "y", "los", "una"),
    "de": ("der", "die", "und", "das", "nicht", "ein", "ist"),
    "fr": ("le", "la", "et", "les", "des", "une", "est"),
}

#: Quality-heuristic stopwords (English function words; a high ratio of
#: function words correlates with natural prose vs. boilerplate/code).
QUALITY_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")


def tokens(col: str = "text") -> Column:
    """Whitespace tokens of a trimmed text column (array<string>)."""
    return F.split(F.trim(F.col(col)), " +")


def tokens_sql(expr: str = "text") -> str:
    return f"regexp_split_to_array(trim({expr}), ' +')"


def _toks(col: str, toks: str | None) -> str:
    """Spark SQL text of a document's token array.

    The helpers that :func:`..curation.quality_filter` combines take an
    optional ``toks``: the name of a column already holding
    ``tokens(col)``.  A caller that needs several features of one
    document projects that column once and passes it to each, so the
    text is split once per document, not once per feature (Catalyst does
    not share a ``split`` repeated across CASE branches or hoist it out of
    a lambda)."""
    return toks if toks is not None else f"split(trim({col}), ' +')"


def token_count(col: str = "text", toks: str | None = None) -> Column:
    return F.expr(f"size({_toks(col, toks)})").cast("long")


def token_count_sql(expr: str = "text") -> str:
    return f"CAST(len({tokens_sql(expr)}) AS BIGINT)"


def _in_list(items: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in items)


def stopword_count(
    col: str = "text",
    words: tuple[str, ...] = QUALITY_STOPWORDS,
    toks: str | None = None,
) -> Column:
    return F.expr(
        f"size(filter({_toks(col, toks)}, t -> t IN ({_in_list(words)})))"
    ).cast("long")


def stopword_count_sql(expr: str = "text", words: tuple[str, ...] = QUALITY_STOPWORDS) -> str:
    return (
        f"CAST(len(list_filter({tokens_sql(expr)}, "
        f"t -> t IN ({_in_list(words)}))) AS BIGINT)"
    )


def avg_token_len(col: str = "text", toks: str | None = None) -> Column:
    """Mean token length = len(all chars in tokens) / n_tokens (double)."""
    t = _toks(col, toks)
    return F.expr(f"CAST(length(concat_ws('', {t})) AS DOUBLE) / size({t})")


def avg_token_len_sql(expr: str = "text") -> str:
    toks = tokens_sql(expr)
    return (
        f"(CAST(length(list_aggregate({toks}, 'string_agg', '')) AS DOUBLE)"
        f" / len({toks}))"
    )


def quality_score(col: str = "text", toks: str | None = None) -> Column:
    """Composite prose-quality heuristic in [0, ~1.5]:

    0.5 * stopword_ratio + 0.5 * min(n_tokens/100, 1) + 0.5 * (avg token
    length between 3 and 8).  Deterministic double arithmetic only.
    """
    n = token_count(col, toks).cast("double")
    sw = stopword_count(col, toks=toks).cast("double") / n
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    atl = avg_token_len(col, toks)
    shape_term = F.when((atl >= 3.0) & (atl <= 8.0), F.lit(0.5)).otherwise(F.lit(0.0))
    return sw * 0.5 + length_term * 0.5 + shape_term


def quality_score_sql(expr: str = "text") -> str:
    n = f"CAST({token_count_sql(expr)} AS DOUBLE)"
    sw = f"(CAST({stopword_count_sql(expr)} AS DOUBLE) / {n})"
    length_term = f"least({n} / 100.0, 1.0)"
    atl = avg_token_len_sql(expr)
    shape = f"(CASE WHEN {atl} >= 3.0 AND {atl} <= 8.0 THEN 0.5 ELSE 0.0 END)"
    return f"({sw} * 0.5 + {length_term} * 0.5 + {shape})"


def lang_scores(col: str = "text", toks: str | None = None) -> dict[str, Column]:
    """Per-language stopword hit counts (the textcat-style evidence)."""
    return {
        lang: stopword_count(col, words, toks) for lang, words in STOPWORDS.items()
    }


def lang_id(col: str = "text", toks: str | None = None) -> Column:
    """Deterministic argmax over language stopword scores.

    Ties break in fixed priority order en > es > de > fr; all-zero evidence
    labels the document 'und' (undetermined, BCP-47 convention).
    """
    s = lang_scores(col, toks)
    return (
        F.when(
            (s["en"] + s["es"] + s["de"] + s["fr"]) == 0, F.lit("und")
        )
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), F.lit("en"))
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), F.lit("es"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def lang_id_sql(expr: str = "text") -> str:
    s = {
        lang: stopword_count_sql(expr, words) for lang, words in STOPWORDS.items()
    }
    return (
        f"(CASE WHEN ({s['en']} + {s['es']} + {s['de']} + {s['fr']}) = 0 THEN 'und' "
        f"WHEN {s['en']} >= {s['es']} AND {s['en']} >= {s['de']} AND {s['en']} >= {s['fr']} THEN 'en' "
        f"WHEN {s['es']} >= {s['de']} AND {s['es']} >= {s['fr']} THEN 'es' "
        f"WHEN {s['de']} >= {s['fr']} THEN 'de' ELSE 'fr' END)"
    )


def lang_margin(col: str = "text") -> Column:
    """Evidence margin for the lang-id decision: best stopword-hit count
    minus second-best across the four language profiles (bigint).  The
    classifier-confidence signal a curation pipeline thresholds on before
    trusting a heuristic label."""
    s = lang_scores(col)
    arr = F.array_sort(F.array(*[s[l].cast("long") for l in STOPWORDS]))
    return (F.element_at(arr, -1) - F.element_at(arr, -2)).cast("long")


def lang_margin_sql(expr: str = "text") -> str:
    s = {lang: stopword_count_sql(expr, w) for lang, w in STOPWORDS.items()}
    arr = f"list_sort([{', '.join(s[l] for l in STOPWORDS)}])"
    return f"CAST(({arr}[-1] - {arr}[-2]) AS BIGINT)"


def content_fingerprint(col: str = "text") -> Column:
    """60-bit content hash of the normalized (trimmed, space-collapsed,
    lowercased) text — the exact-dedup key."""
    normalized = F.lower(F.regexp_replace(F.trim(F.col(col)), " +", " "))
    return hash64(normalized)


def content_fingerprint_sql(expr: str = "text") -> str:
    normalized = f"lower(regexp_replace(trim({expr}), ' +', ' ', 'g'))"
    return hash64_sql(normalized)


def vocab_topk(df, k: int = 100, text_col: str = "text"):
    """Corpus vocabulary: top-k tokens by frequency with a deterministic
    rank (count desc, then token) — the tokenizer-training precursor.

    Shape for scale: explode is a flatMap, the count is one map-side-
    combinable aggregation on token, and the top-k goes through
    sort+LIMIT (TakeOrderedAndProject — no global sort materialized);
    the rank window then runs over only k rows.

    Output: (token, cnt, rank), all ranks 1..k.
    """
    from pyspark.sql import Window as W

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(k)
    w = W.orderBy(F.col("cnt").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def vocab_topk_sql(table: str = "documents", k: int = 100, text_expr: str = "text") -> str:
    """DuckDB twin of :func:`vocab_topk`."""
    return f"""
WITH tok AS (SELECT unnest({tokens_sql(text_expr)}) AS token FROM {table}),
counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT {k})
SELECT token, cnt,
       CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
FROM top
"""


#: PII patterns shared by the Spark and DuckDB sides.  Written for the
#: common subset of Java regex (Spark) and RE2 (DuckDB): character
#: classes, bounded repetition, and greedy quantifiers only — no
#: backreferences or lookaround (RE2 has neither), no \d/\b shorthands
#: (identical in both, but spelled out to keep the subset obvious).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("phone", "[+][0-9]{1,3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ipv4", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
)


def redact_pii(col: str = "text") -> Column:
    """Mask emails, international-format phone numbers, and IPv4 addresses
    with typed placeholder tokens — the standard scrub a pre-training
    corpus gets before the tokenizer ever sees it.

    Pure ``regexp_replace`` chain: JVM-side, codegen'd, embarrassingly
    parallel — zero shuffle at any scale.  Order matters: emails first so
    the phone/IP passes never see user@host fragments.
    """
    c = F.col(col)
    for _, pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def redact_pii_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`redact_pii` (note the 'g' flag: DuckDB's
    regexp_replace is first-match-only by default, Spark's is global)."""
    out = expr
    for _, pattern, token in PII_PATTERNS:
        sql_pattern = pattern.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pattern}', '{token}', 'g')"
    return out


def pii_counts(col: str = "text") -> dict[str, Column]:
    """Per-kind PII hit counts (BIGINT) for audit columns."""
    return {
        kind: F.regexp_count(F.col(col), F.lit(pattern)).cast("long")
        for kind, pattern, _ in PII_PATTERNS
    }


def pii_counts_sql(expr: str = "text") -> dict[str, str]:
    return {
        kind: f"CAST(len(regexp_extract_all({expr}, '{pattern}')) AS BIGINT)"
        for kind, pattern, _ in PII_PATTERNS
    }


def bigram_list(col: str = "text") -> Column:
    """Adjacent-token bigrams as an array<string> — built-in expressions
    only (the UDTF twin ``text_bigrams_udtf`` exists to exercise the UDTF
    surface; THIS is the hot-path formulation).

    Formulated as ``zip_with`` over two shifted slices of the token array
    rather than ``transform(sequence(...), i -> element_at(toks, i)...)``:
    Catalyst doesn't hoist deterministic subtrees out of HOF lambdas, so
    the index formulation would re-split the full text per ELEMENT
    (O(n_tokens) splits per row); slices reference the array a constant
    number of times per row.  Empty array below 2 tokens: Spark's
    ``sequence(1, 0)`` counts DOWN and ``slice`` rejects negative
    lengths, so the guard is not optional."""
    toks = tokens(col)
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, F.lit(1), n - 1),
            F.slice(toks, F.lit(2), n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bigram_list_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`bigram_list` (range(1, n) is empty for
    n <= 1, so no guard needed)."""
    t = tokens_sql(expr)
    return (
        f"list_transform(range(1, len({t})), "
        f"i -> {t}[i] || ' ' || {t}[i + 1])"
    )


def repetition_stats(col: str = "text") -> dict[str, Column]:
    """Gopher-style repetition signal: the fraction of adjacent-token
    bigrams that are repeats of an earlier bigram in the same document.
    High ratio = boilerplate/spam/degenerate text; a standard pre-training
    quality gate alongside :func:`quality_score`.

    Per-row array expressions — zero shuffle at any scale.  The ratio is
    one scalar IEEE division per row, deterministic across engines.
    """
    bi = bigram_list(col)
    n = F.size(bi).cast("long")
    d = F.size(F.array_distinct(bi)).cast("long")
    ratio = F.when(n > 0, 1.0 - d.cast("double") / n.cast("double")).otherwise(
        F.lit(0.0)
    )
    return {"n_bigrams": n, "n_distinct": d, "rep_ratio": ratio}


def repetition_stats_sql(expr: str = "text") -> dict[str, str]:
    bi = bigram_list_sql(expr)
    n = f"CAST(len({bi}) AS BIGINT)"
    d = f"CAST(len(list_distinct({bi})) AS BIGINT)"
    ratio = (
        f"(CASE WHEN {n} > 0 THEN 1.0 - CAST({d} AS DOUBLE) / "
        f"CAST({n} AS DOUBLE) ELSE 0.0 END)"
    )
    return {"n_bigrams": n, "n_distinct": d, "rep_ratio": ratio}


#: BPE-ish pre-tokenization pattern (the GPT-2 shape, simplified to the
#: Java-regex/RE2 common subset — no contraction lookaheads): a token is
#: an optionally-space-prefixed letter run, digit run, or punctuation
#: run.  This is the *pre-tokenizer* split every BPE implementation
#: applies before merges; counting these pieces upper-bounds (and on
#: prose closely tracks) the trained-vocab token count without shipping
#: a merges table into the engine.
BPEISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpeish_token_count(col: str = "text") -> Column:
    """Count of BPE-ish pre-tokens (see :data:`BPEISH_PATTERN`) — the
    budget estimator a training pipeline uses when 'tokens' means model
    tokens, not whitespace words.  Pure JVM regex, zero shuffle."""
    return F.size(
        F.expr(f"regexp_extract_all({col}, '{BPEISH_PATTERN}', 0)")
    ).cast("long")


def bpeish_token_count_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`bpeish_token_count`."""
    return (
        f"CAST(len(regexp_extract_all({expr}, '{BPEISH_PATTERN}')) AS BIGINT)"
    )


def chunk_documents(
    df: "DataFrame",
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> "DataFrame":
    """Split each document into overlapping token windows — the RAG /
    training-sample chunking pass — entirely with JVM built-ins (split +
    sequence + explode + slice + array_join): zero shuffle, zero Python,
    whole-stage codegen end to end.

    One output row per window: the ``id_cols``, ``chunk_id`` (0-based),
    ``chunk`` (the window's text re-joined with single spaces), and
    ``n_tokens`` (window size; only the final window may be short).
    Windows start every ``chunk_tokens - overlap`` tokens, so consecutive
    chunks share ``overlap`` tokens; documents with no tokens yield no
    rows.  At 100 TB this is a map-only pass: output partitioning and
    row order follow the input, ready for a downstream embed/pack stage.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(text_col)  # the module's canonical tokenizer, whose
    # SQL twin the oracle side (chunk_documents_sql) already uses
    out = (
        # split('') is [''] (size 1) in Spark AND DuckDB, so emptiness is
        # tested on the trimmed text, not the token array
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(*id_cols, toks.alias("__toks"))
        .select(
            *id_cols,
            F.col("__toks"),
            F.explode(
                F.sequence(
                    F.lit(1), F.size("__toks"), F.lit(step)
                )
            ).alias("__start"),
        )
        .select(
            *id_cols,
            ((F.col("__start") - 1) / step).cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("__start"), chunk_tokens),
                " ",
            ).alias("chunk"),
            F.least(
                F.lit(chunk_tokens),
                F.size("__toks") - F.col("__start") + 1,
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )
    return out


def chunk_documents_sql(
    table: str = "documents",
    text_expr: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> str:
    """DuckDB twin of :func:`chunk_documents` (FROM-clause fragment)."""
    step = chunk_tokens - overlap
    ids = ", ".join(id_cols)
    toks = tokens_sql(text_expr)
    return (
        f"(WITH __toks AS (SELECT {ids}, {toks} AS t FROM {table} "
        f"WHERE length(trim({text_expr})) > 0), "
        f"__starts AS (SELECT {ids}, t, "
        f"unnest(generate_series(1, len(t), {step})) AS s FROM __toks) "
        f"SELECT {ids}, CAST((s - 1) / {step} AS BIGINT) AS chunk_id, "
        f"array_to_string(t[s : s + {chunk_tokens} - 1], ' ') AS chunk, "
        f"CAST(least({chunk_tokens}, len(t) - s + 1) AS BIGINT) AS n_tokens "
        f"FROM __starts)"
    )
