"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Standard near-dup machinery for LLM training corpora (Broder'97 shingling /
MinHash, Charikar'02 SimHash, banded LSH as in Mining of Massive Datasets
ch.3), expressed as pure DataFrame compositions:

- shingle/token explosion is a flatMap (no shuffle),
- signatures are one hash-partitioned aggregation by doc_id,
- candidate generation is a self-equi-join on (band_id, band_hash) — i.e.
  a shuffle on the *bucket* key, never an all-pairs cross join,
- verification joins only the candidate pairs back to shingle sets.

At 100 TB the only heavy shuffles are the two groupBys (doc_id, band key);
both are linear in corpus size.  Skewed buckets (a shingle/band shared by
millions of docs) are handled by AQE skew-join splitting; for adversarial
skew, raise ``num_hashes``/``bands`` or add a bucket-size cap filter before
the pair join (documented, not needed at fixture scale).

Every function is deterministic (seeded md5-prefix hashes from
``functions.hash64``) so the DuckDB oracles in ``inventory/dedup.py`` can
replicate results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import hash64, hash64_sql, minhash_params, minhash_transform
from .cache import persist_tracked as _persist_tracked, release_cached  # noqa: F401
from .text import content_fingerprint, tokens, tokens_sql

# Shingle frames from the pair pipelines are persisted via the shared
# tracked-cache helper (operators/cache.py): MEMORY_AND_DISK, LRU-evictable,
# reclaimed by release_cached() (re-exported here for compatibility).


def shingle_array(toks: str, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>) of the token-array column
    ``toks`` (a projected :func:`..text.tokens`).

    The lambda reads the projected array instead of splitting the text
    itself: Catalyst does not hoist a deterministic subtree out of a
    lambda, so ``element_at(split(trim(text), ' +'), i)`` would re-split
    the whole document for every token of every shingle."""
    joined = " || ' ' || ".join(f"element_at({toks}, i + {k})" for k in range(n))
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), i -> {joined}) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def shingles_sql(expr: str = "text", n: int = 3) -> str:
    """DuckDB twin of :func:`shingle_array` over the tokens of the text
    ``expr`` (1-based list indexing, empty generate_series when the text
    is shorter than n tokens)."""
    t = tokens_sql(expr)
    joined = " || ' ' || ".join(f"{t}[i + {k}]" for k in range(n))
    return f"list_transform(generate_series(1, len({t}) - {n - 1}), i -> {joined})"


def _spread(df: DataFrame) -> DataFrame:
    """Spread rows across all cores before hash-heavy per-row work.

    A small documents file arrives as one input split, and Spark evaluates
    shingle explosion + seeded hashing map-side in that single task (12s
    single-core at sf0.1).  At 100 TB the scan naturally yields thousands
    of splits, so the repartition is GATED: it only fires when the input has
    fewer partitions than cores — a full shuffle of an already-parallel
    100 TB corpus would be pure waste.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= parallelism:
        return df
    return df.repartition(parallelism)


def _runs_adaptive(df: DataFrame) -> bool:
    """Whether Spark plans ``df`` adaptively, i.e. its plan has a shuffle.
    Counting such a frame's partitions the way :func:`_spread` does
    (``df.rdd``) runs its shuffle stages once just to count, and the
    query that consumes the frame runs them again."""
    plan = df._jdf.queryExecution().executedPlan()
    return plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"


def doc_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 n: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) pairs — the set representation when ``distinct``
    (default), else the raw multiset.

    ``distinct=False`` skips a full corpus-wide shuffle (the explode stays
    a pure flatMap) and is correct wherever duplicates don't change the
    answer: MinHash signatures (min is duplicate-invariant) paired with a
    duplicate-aware verify (:func:`_verify_jaccard` counts DISTINCT
    matches).  Keep the default for consumers whose counts are
    set-semantics (PPJoin prefix ranks, probe-overlap joins)."""
    ex = (
        _spread(df)
        .select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), F.explode(shingle_array("_toks", n)).alias("s"))
    )
    return ex.distinct() if distinct else ex


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup by normalized-content hash: one representative (min id)
    per distinct content, with the duplicate count.

    One hash-aggregation; at scale this is the cheapest possible dedup
    (shuffle on a 60-bit key, heavily combinable map-side).
    """
    return (
        df.select(
            F.col(id_col), content_fingerprint(text_col).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("rep_doc_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


def exact_dedup_keep(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Pass-through exact dedup: keep only the min-id representative ROW
    per content hash, all columns intact.

    Same keep-set as :func:`exact_dedup` (min id per normalized-content
    hash), but as a window rank over the content-hash partition instead of
    an aggregate — so a pipeline keeps flowing through one shuffle with no
    join-back against the input (which would re-scan and re-compute every
    upstream expression).  Use :func:`exact_dedup` when you want the
    dup-count summary; use this inside multi-stage pipelines.
    """
    w = W.partitionBy(content_fingerprint(text_col)).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: one base hash64 per shingle, then
    ``num_hashes`` universal-hash permutations (a_i*x + b_i mod 2^31-1)
    minimized per document.  Columns mh_0..mh_{k-1}.

    One md5 feeds all k permutations — k seeded md5s per shingle would cost
    k× the hashing CPU for the same MinHash guarantees (k-mins estimator
    over a 2-universal family), and hashing dominates this stage at corpus
    scale.

    Pass a precomputed (cached) ``shingles`` frame to share the explosion
    with other consumers (LSH verification) instead of recomputing it.
    """
    ex = shingles if shingles is not None else doc_shingles(df, id_col, text_col, n)
    base = hash64(F.col("s"), seed="mh:")
    aggs = [
        F.min(minhash_transform(base, a, b)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, verified by true Jaccard.

    bands=4 x rows=4 over 16 hashes → candidate-capture probability
    1-(1-j^4)^4 (≈0.98 at j=0.8).  Candidates sharing ≥1 band bucket are
    verified against exact shingle-set Jaccard >= threshold, so the output
    has no false positives; recall is the LSH capture probability.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # bands must tile num_hashes exactly: bands > num_hashes would give
    # rows_per_band = 0 — every band hash becomes hash64('') and the
    # candidate self-join degenerates into the all-pairs cross product
    # this module exists to avoid; a non-divisor would silently drop the
    # trailing hash columns and change the documented capture probability
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must be a positive divisor of num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    # The shingle explosion feeds both the signatures and the exact-Jaccard
    # verify; without a cache Catalyst recomputes the whole explode subtree
    # for each consumer (~1/3 of the query's work at sf0.1).  Tracked for
    # release_cached(); LRU-evictable in the meantime.  MULTISET on
    # purpose: MinHash mins ignore duplicates and the verify dedups
    # per-candidate, so the corpus-wide distinct() shuffle is pure waste
    # here (measured 0.9 s at sf0.1, linear in corpus at scale).
    ex = _persist_tracked(doc_shingles(df, id_col, text_col, n, distinct=False))
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n, shingles=ex)

    band_cols = []
    for b in range(bands):
        members = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_hash = hash64(F.concat_ws(",", *members), seed=f"band{b}:")
        band_cols.append(F.struct(F.lit(b).alias("band_id"), band_hash.alias("bh")))
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.bh")

    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    return _verify_jaccard(df, cand, id_col, text_col, n, threshold, shingles=ex)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs.

    With ``prefix_filter`` (the 100 TB path, PPJoin-style): under a global
    total order on shingles (ascending corpus frequency, then value), any
    pair with Jaccard >= t must share a shingle within each doc's first
    ``|S| - ceil(t*|S|) + 1`` shingles — so only those prefixes are
    blocking keys.  Exact for the given threshold: the final Jaccard filter
    is unchanged, the prefix only prunes candidates that provably cannot
    pass it.  Rare-first ordering also shrinks bucket sizes (the hottest,
    most-skewed shingles land outside most prefixes).

    Without it: block on every shared shingle (still an equi-join, never a
    cross join).  Results are identical; tests assert so.
    """
    # cached: consumed by freq, sizes, blocking AND the Jaccard verify below;
    # tracked for release_cached(), LRU-evictable in the meantime
    ex = _persist_tracked(doc_shingles(df, id_col, text_col, n))
    if prefix_filter:
        freq = ex.groupBy("s").agg(F.count("*").alias("_freq"))
        sizes_w = ex.groupBy(id_col).agg(F.count("*").alias("_sz"))
        rank_w = W.partitionBy(id_col).orderBy(F.col("_freq"), F.col("s"))
        block = (
            ex.join(freq, "s")
            .join(sizes_w, id_col)
            .withColumn("_rk", F.row_number().over(rank_w))
            .filter(
                F.col("_rk")
                <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
            )
            .select(id_col, "s")
        )
    else:
        block = ex
    cand = _shared_shingle_candidates(block, id_col)
    return _verify_jaccard(df, cand, id_col, text_col, n, threshold, shingles=ex)


def _shared_shingle_candidates(block: DataFrame, id_col: str) -> DataFrame:
    """Ordered candidate pairs (doc_a < doc_b) sharing >= 1 shingle in
    ``block`` — the equi-join blocking step every exact pair pipeline
    starts from (never an all-pairs scan)."""
    a, b = block.alias("a"), block.alias("b")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def _verify_overlap(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    score_name: str,
    score_of,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact set-overlap verification of candidate pairs (no false
    positives), scored by ``score_of(inter, sz_a, sz_b) -> Column`` —
    Jaccard and containment differ only in this expression, so they share
    the whole candidate-scoped machinery (a review pass found the two
    pipelines carrying verbatim copies that could silently diverge).

    Set at a time: each candidate document's DISTINCT shingles are
    aggregated once into an array (``collect_set``), and a pair is scored
    from ``size(array_intersect(a, b))`` and the two set sizes — one
    aggregation and two joins on the candidate pairs, with no per-shingle
    pair join.  Set semantics regardless of the shingle frame's
    duplication, so a multiset ``shingles`` input (the cheap path — see
    :func:`doc_shingles`) verifies identically to a pre-distinct one."""
    ex = shingles if shingles is not None else doc_shingles(df, id_col, text_col, n)
    # Candidate-scoped (r15): only the shingles of docs in SOME candidate
    # pair matter, so the corpus-scale shingle frame is semi-joined down
    # to that doc set before it is shuffled into sets.  ``cand`` feeds
    # both sides of the doc set and the scoring joins, so it is persisted
    # (tracked, released by release_cached like the shingle cache) and
    # materialized HERE: the planner then sees its real size instead of
    # an unknown cache.  Candidates under Spark's broadcast threshold make
    # the semi-join and both scoring joins broadcast joins, so the shingle
    # frame is filtered map-side before its one shuffle; a corpus-scale
    # candidate set keeps the shuffle joins.
    cand = _persist_tracked(cand)
    cand.count()
    docs = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sets = (
        ex.join(docs, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("s").alias("_set"))
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("_set").alias("_sa"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("_set").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    sz_a = F.size("_sa").cast("long")
    sz_b = F.size("_sb").cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", score_of(inter, sz_a, sz_b).alias(score_name))
        .filter(F.col(score_name) >= threshold)
    )


def _verify_jaccard(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification (see :func:`_verify_overlap`)."""
    return _verify_overlap(
        df,
        cand,
        id_col,
        text_col,
        n,
        threshold,
        "jaccard",
        lambda inter, sz_a, sz_b: inter.cast("double")
        / (sz_a + sz_b - inter),
        shingles=shingles,
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Near-dup pairs by shingle-set CONTAINMENT: |A∩B| / min(|A|,|B|).

    Jaccard misses the doc-inside-a-longer-doc case (a quoted article, a
    boilerplate-wrapped page): the union term dilutes the score.
    Containment normalizes by the smaller set, so a short doc fully
    embedded in a long one scores 1.0.  Same blocking discipline as the
    Jaccard path — candidates from a shared-shingle equi-join, never a
    cross join — then the exact containment verify on candidates only.

    Output: (doc_a, doc_b, containment) with doc_a < doc_b.
    """
    ex = _persist_tracked(doc_shingles(df, id_col, text_col, n))
    cand = _shared_shingle_candidates(ex, id_col)
    return _verify_overlap(
        df,
        cand,
        id_col,
        text_col,
        n,
        threshold,
        "containment",
        lambda inter, sz_a, sz_b: inter.cast("double") / F.least(sz_a, sz_b),
        shingles=ex,
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """Charikar SimHash fingerprint (token-frequency weighted).

    Per document: for bit j, s_j = sum over tokens of cnt * (2*bit_j(h)-1)
    where h = hash64(token); fingerprint bit j is set iff s_j > 0.
    One explode + one aggregation; entirely JVM-side expressions.

    Output: (doc_id, simhash bigint).
    """
    tok = (
        _spread(df)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count("*").alias("cnt"))
        .withColumn("th", hash64(F.col("t"), seed="sh:"))
    )
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.col("cnt") * (F.expr(f"(th >> {j}) & 1") * 2 - 1)
            ).alias(f"s_{j}")
            for j in range(bits)
        ]
    )
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select(F.col(id_col), fp.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Blocking: split the fingerprint into ``bands`` nibble bands; any pair
    with hamming <= bands-1 shares at least one identical band (pigeonhole),
    so candidates come from an equi-join on (band_id, band_value) — never an
    all-pairs scan.  Output: (doc_a, doc_b, hamming).
    """
    # ValueError, not assert: python -O strips asserts and a violating
    # config would then silently LOSE true near-duplicates (a pair with
    # hamming spread across every band shares no bucket)
    if max_hamming > bands - 1:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming <= bands-1 "
            f"(got max_hamming={max_hamming}, bands={bands})"
        )
    if bands <= 0 or bits % bands != 0:
        raise ValueError(f"bands={bands} must be a positive divisor of bits={bits}")
    band_width = bits // bands
    mask = (1 << band_width) - 1
    fp = simhash(df, id_col, text_col, bits)
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.expr(f"(simhash >> {b * band_width}) & {mask}").alias("bv"),
        )
        for b in range(bands)
    ]
    buckets = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "simhash", "band.band_id", "band.bv")
    a, b_ = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def cc_labels_star(
    pairs: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Connected-component labels via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log n)-round alternative to min-label propagation
    for adversarially long near-dup chains.

    Each round is two node-keyed aggregations + joins (same shuffle shape
    as one propagation step), but the star moves contract paths
    doubly-exponentially, so round count is ~log(diameter) instead of
    diameter.  Both algorithms converge to the same fixpoint (every node
    edged to its component minimum), so either can serve
    :func:`neardup_clusters`; equivalence is asserted in
    tests/test_operators.py.

    * large-star: for every node u, hang each LARGER neighbor v > u onto
      m = min(N(u) ∪ {u});
    * small-star: for every node u, hang u and each not-larger neighbor
      onto their collective minimum.

    Input: (doc_a, doc_b) pair frame (any extra columns ignored).
    Output: (doc_id, label) for every node appearing in some pair —
    label = component minimum.  Singletons don't appear (no edges), same
    contract as the pair graph itself.
    """
    # Explicitly bound the loop's partitioning: under a vanilla session
    # (shuffle.partitions=200) each of the ~6 shuffles per round spawns
    # 200 mostly-empty tasks, and across rounds the stage/broadcast
    # bookkeeping alone can OOM a default-heap driver.  The edge frame is
    # the contracted graph (small and shrinking), so core-count partitions
    # are plenty locally; at cluster scale defaultParallelism scales with
    # the executor fleet.
    par = pairs.sparkSession.sparkContext.defaultParallelism
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .repartition(par, "u")
        .localCheckpoint()
    )

    def _bidir(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _sig(e: DataFrame) -> tuple:
        # Order-independent edge-set fingerprint: (count, XOR of per-edge
        # hashes — overflow-free under ANSI mode, unlike SUM).  One cheap
        # aggregate per round instead of a per-round exceptAll (two extra
        # shuffle/broadcast stages); a false "converged" needs a 64-bit
        # XOR collision AT equal counts over distinct edge sets, and the
        # final result is confirmed exactly below before returning.
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = _sig(edges)
    for _ in range(max_iter):
        # large-star: (v, m) for v in N(u), v > u, m = min(N(u) ∪ {u})
        b = _bidir(edges)
        mins = b.groupBy("u").agg(F.min("v").alias("_nmin"))
        mins = mins.withColumn("m", F.least(F.col("_nmin"), F.col("u")))
        large = (
            b.join(mins.select("u", "m"), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the large-star output: for node u over its
        # not-larger neighborhood N<=, hang everyone (incl. u) onto the min
        b2 = _bidir(large)
        le = b2.filter(F.col("v") <= F.col("u"))
        mins2 = le.groupBy("u").agg(F.min("v").alias("_nmin"))
        mins2 = mins2.withColumn("m", F.least(F.col("_nmin"), F.col("u")))
        hang_neighbors = (
            le.join(mins2.select("u", "m"), "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        hang_self = mins2.select("u", F.col("m").alias("v"))
        small = (
            hang_neighbors.union(hang_self)
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .repartition(par, "u")
            .localCheckpoint()  # truncate the iterative lineage
        )
        # fixpoint: star rounds leave the edge set unchanged exactly when
        # every node points straight at its component minimum
        sig = _sig(small)
        if sig == prev:
            # exact confirmation, ONCE at convergence (not per round)
            assert small.exceptAll(edges).isEmpty(), "fingerprint collision"
            edges = small
            break
        edges, prev = small, sig
    else:
        raise RuntimeError(f"cc_labels_star did not converge in {max_iter} rounds")

    b = _bidir(edges)
    return (
        b.groupBy("u")
        .agg(F.min("v").alias("_nmin"))
        .select(
            F.col("u").alias("doc_id"),
            F.least(F.col("_nmin"), F.col("u")).alias("label"),
        )
    )


def neardup_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 25,
    **minhash_kwargs,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    labeled with the smallest doc id reachable through near-dup edges (its
    cluster representative) plus the cluster size — the step that turns
    pairwise dedup output into keep/drop groups.

    Algorithm: iterative min-label propagation to a fixpoint.  Each round
    is two shuffles (edges⋈labels groupBy dst, then labels⋈neighbor-min);
    rounds needed = graph diameter, which for near-dup clusters at a 0.8
    Jaccard threshold is small (near-cliques).  Lineage is truncated per
    round with localCheckpoint so plans stay bounded.  For adversarially
    long chains at 100 TB, switch to the alternating large-star/small-star
    variant (Kiveris et al., "Connected Components in MapReduce"), which
    converges in O(log n) rounds with the same per-round shuffle shape —
    propagation order does not change the fixpoint, so results agree.

    Output: (doc_id, cluster_rep, cluster_size); singleton docs are their
    own representative with size 1.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(df, id_col, text_col, **minhash_kwargs)
    # bounded partitioning for the iterative stages (same rationale as
    # cc_labels_star): under a vanilla 200-shuffle-partition session the
    # per-round task/stage bookkeeping dwarfs the tiny contracted frames
    par = df.sparkSession.sparkContext.defaultParallelism
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .repartition(par, "src")
    )
    edges = _persist_tracked(edges)
    labels = df.select(F.col(id_col)).distinct().withColumn("label", F.col(id_col))
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["src"] == labels[id_col])
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
        )
        step = (
            labels.join(neigh, labels[id_col] == neigh["dst"], "left")
            .select(labels[id_col], "label", "nlabel")
            .localCheckpoint()  # truncate the iterative lineage
        )
        changed = step.filter(F.col("nlabel") < F.col("label")).count()
        labels = step.select(
            F.col(id_col), F.least("label", "nlabel").alias("label")
        )
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iter} rounds; "
            "use the large-star/small-star variant for long-chain graphs"
        )
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        labels.join(sizes, "label")
        .select(
            F.col(id_col),
            F.col("label").alias("cluster_rep"),
            F.col("cluster_size"),
        )
    )
