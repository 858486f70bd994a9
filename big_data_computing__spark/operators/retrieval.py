"""Text retrieval over the documents table: BM25 ranking, conjunctive
(AND) search over an inverted-postings shape, and shuffle-free phrase
search.

Extension family beyond the reference's operator set (the reference's
text processing is word-count shaped — big_data_computing_1.py's
grouped counts); retrieval is the natural query-side complement of the
engine's curation/dedup stack: the same (doc_id, term) explode feeds
tf/df/BM25 here and tf-idf/rarity in textstats.py.

Portability contract (the tfidf/unigram_rarity convention): no libm
``ln`` anywhere — Spark's and DuckDB's log results differ in the last
ulp (measured; see tfidf_top_terms's docstring). Every score here is a
ratio of exact integers materialized with one floor division, so both
engines produce bit-identical BIGINT scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import _TOKS_SQL, tokens

# BM25 shape parameters as exact rationals: k1 = 6/5 (1.2), b = 3/4
# (0.75) — the textbook defaults, chosen representable so the
# saturation denominator clears to integers (see bm25_topk).

# The per-term integer score, shared verbatim by the batch operator and
# the streaming corpus-stats twin (retrieval_stream.Bm25State) — one
# expression string is what makes their parity structural. Expects
# columns tf, df, dl (BIGINT) and n_docs, l_total (BIGINT scalars).
BM25_SCORE_EXPR = (
    "(44000000 * tf * greatest(2*n_docs - 2*df + 1, 1)) div "
    "((2*df + 1) * (20000*tf + 6000 "
    " + 18*((1000 * dl * n_docs) div l_total)))"
)


# Largest k that bm25_topk answers with Spark's top-k heap
# (TakeOrderedAndProject). That heap allocates its buffers for k rows
# up front: k=10**9 asks for ~16 GB whatever the row count. Above this
# k, a row_number filter costs time and memory in the rows, not in k.
TOPK_HEAP_MAX = 100_000


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query under BM25 with
    integer-exact scoring: DataFrame[doc_id, n_hit_terms, score_milli],
    ordered (score_milli DESC, doc_id) — a total order, so the top-k
    row set is unique.

    Scoring variant (documented, like tfidf's linear idf): the idf
    factor is the LINEAR Robertson form
    ``max(2N - 2df + 1, 1) / (2df + 1)`` — the argument of the classic
    ``ln((N - df + ½)/(df + ½))`` without the log (the max(…,1) floor
    is the Lucene convention for df > N/2), because no libm log is
    bit-portable across engines. The tf saturation is the textbook
    ``tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl))`` with k1=6/5, b=3/4;
    ``dl/avgdl`` is quantized once per document to integer milli
    ``r_dl = (1000·dl·N) div L`` (N docs, L total tokens), which clears
    the whole per-term score to one integer floor division:

        score_milli(t, d) = (44_000_000·tf·idf_num)
                            div (idf_den·(20_000·tf + 6_000 + 18·r_dl))

    (44000 = 1000·k1+1 scaled by the 20000 denominator clearing;
    derivation in-line below). The document score is the BIGINT sum
    over query terms — bit-identical in Spark and DuckDB.

    Plan: one (doc_id, term) count over the query-filtered explode
    (map-side combined, the word-count shape), per-doc lengths over the
    full explode, a 2-scalar global (broadcast), a term-keyed df
    aggregation over ≤|query| rows (broadcast), and a TakeOrderedAnd-
    Project top-k (a ``row_number`` filter above ``TOPK_HEAP_MAX``) —
    no shuffle wider than the tf aggregation. At 100 TB
    the only large intermediate is (doc_id, term) for query terms only:
    the `isin` filter prunes before the shuffle, so cost scales with
    postings length, not corpus size — the inverted-index access path
    expressed declaratively.

    Overflow headroom: the numerator is ≤ 44e6·tf·2N; with tf ≤ 1e4
    and N ≤ 1e9 documents it stays under 2^63 for tf·N ≤ ~1e13, i.e.
    exact through ~10-billion-document corpora at realistic tf; beyond
    that, drop the 1000× milli factor to centi (4.4e6) for another
    order of magnitude.
    """
    pairs = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("term")
    )
    # per-doc length over ALL terms (BM25 normalizes by full doc length)
    dl = pairs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("dl")
    )
    totals = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("l_total"),
    )
    qpairs = pairs.where(F.col("term").isin(list(query_terms)))
    tf = qpairs.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_ = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "term",
            # r_dl = milli-quantized dl/avgdl = (1000·dl·N) div L
            F.expr(BM25_SCORE_EXPR).alias("s_milli"),
        )
    )
    ranked = scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_hit_terms"),
        F.sum("s_milli").cast("long").alias("score_milli"),
    )
    order = [F.col("score_milli").desc(), F.col("doc_id")]
    if k <= TOPK_HEAP_MAX:
        return ranked.orderBy(*order).limit(k)
    return (
        ranked.withColumn("_rank", F.row_number().over(Window.orderBy(*order)))
        .where(F.col("_rank") <= F.lit(k))
        .drop("_rank")
    )


def bm25_topk_sql(query_terms: list[str], k: int = 20) -> str:
    """DuckDB twin of :func:`bm25_topk` (identical integer floor
    divisions; ``//`` on positive BIGINTs ≡ Spark's ``div``)."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH pairs AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM pairs GROUP BY doc_id
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS l_total FROM dl
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM pairs WHERE term IN ({terms}) GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         (44000000 * tf * GREATEST(2*n_docs - 2*df + 1, 1)) //
         ((2*df + 1) * (20000*tf + 6000
          + 18*((1000 * dl.dl * n_docs) // l_total))) AS s_milli
  FROM tf
  JOIN dl USING (doc_id)
  JOIN dfreq USING (term)
  CROSS JOIN totals
)
SELECT doc_id,
       CAST(COUNT(*) AS INT) AS n_hit_terms,
       CAST(SUM(s_milli) AS BIGINT) AS score_milli
FROM scored
GROUP BY doc_id
ORDER BY score_milli DESC, doc_id
LIMIT {k}
"""


def conjunctive_search(
    docs: DataFrame, terms: list[str], text_col: str = "text"
) -> DataFrame:
    """Documents containing ALL the given terms (boolean AND over the
    inverted index): DataFrame[doc_id, n_chars].

    Plan: the postings-intersection shape expressed declaratively —
    explode → filter to the query terms (prunes before any shuffle) →
    distinct (doc_id, term) → per-doc matched-term count → keep docs
    matching all |terms|. One aggregation keyed on doc_id; the
    metadata join back to `docs` stays doc_id-keyed. At scale this
    reads like an index AND-merge: work ∝ total postings of the query
    terms, never corpus size.
    """
    n = len(terms)
    hits = (
        docs.select(
            "doc_id", F.explode(tokens(F.col(text_col))).alias("term")
        )
        .where(F.col("term").isin(list(terms)))
        .select("doc_id", "term")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
        .where(F.col("n_matched") == n)
        .select("doc_id")
    )
    return hits.join(docs.select("doc_id", "n_chars"), "doc_id").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )


def conjunctive_search_sql(terms: list[str]) -> str:
    """DuckDB twin of :func:`conjunctive_search`."""
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH hits AS (
  SELECT doc_id
  FROM (
    SELECT DISTINCT doc_id, term
    FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
    WHERE term IN ({tlist})
  )
  GROUP BY doc_id
  HAVING COUNT(*) = {len(terms)}
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM hits JOIN documents USING (doc_id)
"""


def phrase_search(
    docs: DataFrame, phrase: list[str], text_col: str = "text"
) -> DataFrame:
    """Documents containing the exact token phrase, with occurrence
    counts: DataFrame[doc_id, n_occurrences] (docs with ≥1 match).

    Plan: SHUFFLE-FREE — the positional-postings adjacency check is a
    per-row array scan (`filter` over the token positions testing each
    following phrase token), entirely inside whole-stage codegen; no
    explode, no join, no aggregation beyond the row itself. This is
    the plan a positional inverted index emulates; at 100 TB it is a
    single map over the corpus with full predicate pushdown.
    """
    m = len(phrase)
    # 1-based positions in BOTH engines: Spark's try_element_at (NULL
    # out of range — bracket indexing would be 0-based and ANSI-throwy)
    # mirrors DuckDB's 1-based bracket (NULL out of range). The upper
    # bound clamps to 1 (Spark's sequence(1, 0) would DESCEND) and the
    # clamped probe at a too-short doc fails through the NULL compare.
    cond = " AND ".join(
        f"try_element_at(toks, i + {j}) = '{w}'"
        for j, w in enumerate(phrase)
    )
    return (
        docs.select(
            "doc_id", tokens(F.col(text_col)).alias("toks")
        )
        .select(
            "doc_id",
            F.expr(
                f"size(filter(sequence(1, greatest(size(toks) - {m - 1},"
                f" 1)), i -> {cond}))"
            )
            .cast("int")
            .alias("n_occurrences"),
        )
        .where(F.col("n_occurrences") > 0)
    )


def phrase_search_sql(phrase: list[str]) -> str:
    """DuckDB twin of :func:`phrase_search` (same positional scan as a
    list comprehension over 1-based positions)."""
    m = len(phrase)
    cond = " AND ".join(
        f"toks[i + {j}] = '{w}'" for j, w in enumerate(phrase)
    )
    return f"""
WITH scans AS (
  SELECT doc_id,
         CAST(len([i FOR i IN range(1, greatest(len(toks) - {m - 1}, 1)
                                        + 1) IF {cond}]) AS INT)
           AS n_occurrences
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
)
SELECT doc_id, n_occurrences FROM scans WHERE n_occurrences > 0
"""


# ---------------------------------------------------------------------
# MaxSim late-interaction retrieval (ColBERT-style, integer-exact)
# ---------------------------------------------------------------------

#: hashed character-trigram space for token vectors — 2^20 buckets
#: keeps real trigram collisions negligible (≈50k distinct trigrams in
#: a natural-language vocabulary) while the bucket id stays a cheap
#: BIGINT modulus of the engine's canonical hash60.
MAXSIM_BUCKETS = 1 << 20


def token_trigram_vectors(
    toks: DataFrame,
    tok_col: str = "token",
    n_buckets: int = MAXSIM_BUCKETS,
) -> DataFrame:
    """Hashed character-trigram count vector per DISTINCT token:
    DataFrame[token, bucket, c] with c = multiplicity of the trigram
    bucket inside '^' + token + '$'.

    This is the engine's stand-in for a learned per-token embedding:
    a deterministic sparse vector in a 2^20-dim hashed space, exactly
    reproducible in DuckDB (hash60 is the md5-based canonical hash).
    The VECTOR is computed on the vocabulary (distinct tokens), never
    per occurrence — at 100 TB the vocabulary is orders of magnitude
    smaller than the corpus, so the trigram explode + (token, bucket)
    count is a vocabulary-sized job.
    """
    from ..functions.hashing import hash60

    padded = F.concat(F.lit("^"), F.col(tok_col), F.lit("$"))
    return (
        toks.select(F.col(tok_col).alias("token"))
        .distinct()
        .select(
            "token",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(concat('^', token,"
                    " '$')) - 2),"
                    " i -> substring(concat('^', token, '$'), i, 3))"
                )
            ).alias("gram"),
        )
        .select(
            "token",
            (hash60(F.col("gram")) % F.lit(n_buckets)).alias("bucket"),
        )
        .groupBy("token", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
    )


def maxsim_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    n_buckets: int = MAXSIM_BUCKETS,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents under ColBERT-style MaxSim late interaction
    with an integer-exact similarity kernel:
    DataFrame[doc_id, n_hit_terms, score_micro], ordered
    (score_micro DESC, doc_id) — a total order, so the top-k row set
    is unique.

    MaxSim (Khattab & Zaharia, SIGIR 2020): score(q, d) =
    Σ_{t∈q} max_{u∈d} sim(t, u) — each query token matches its best
    document token and the per-token maxima are summed. Here the
    token "embedding" is the deterministic hashed character-trigram
    count vector (:func:`token_trigram_vectors`) and sim is the
    SQUARED cosine in integer micro units,

        sim_micro(t, u) = (1_000_000 · dot(t,u)²) div (‖t‖²·‖u‖²)

    — squared because ‖·‖ needs no libm sqrt that way (the engine's
    bit-portability convention: tfidf_top_terms docstring), and
    squaring is monotone for the non-negative count-vector dots, so
    per-query-token argmax is the cosine argmax. Distinct query /
    document tokens (set semantics, like conjunctive_search): a
    repeated token cannot out-vote a better match.

    Plan (the late-interaction index shape, declaratively):
      1. vocabulary trigram vectors — vocabulary-sized, not corpus;
      2. query vectors: a |Q|-token tiny DataFrame through the SAME
         expression, broadcast;
      3. candidate token pairs by bucket equi-join (only vocabulary
         tokens SHARING a real trigram with a query token survive —
         the prefix-filter effect; at 2^20 buckets chance collisions
         are negligible) → (q_tok, d_tok, dot);
      4. per-pair sim via the token-norm join (token-keyed, vocabulary
         sized);
      5. distinct (doc_id, token) occurrence pairs join sim on token —
         the ONLY corpus-sized shuffle — then max per (doc_id, q_tok),
         sum per doc_id, TakeOrderedAndProject top-k.
    At 100 TB steps 1-4 cost vocabulary, step 5 costs one
    doc_id-keyed aggregation over the matched minority of tokens.

    Overflow headroom: dot ≤ Σc_q·max(c_d) ≲ 10³ for natural tokens,
    so 10⁶·dot² ≲ 10¹² ≪ 2^63; norms² ≲ 10³ each.
    """
    qterms = sorted(set(query_terms))
    spark = docs.sparkSession
    q_toks = spark.createDataFrame(
        [(t,) for t in qterms], ["token"]
    )
    qv = token_trigram_vectors(q_toks, n_buckets=n_buckets).select(
        F.col("token").alias("q_tok"),
        "bucket",
        F.col("c").alias("cq"),
    )
    qn = qv.groupBy("q_tok").agg(
        F.sum(F.col("cq") * F.col("cq")).alias("nq2")
    )
    occ = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("token")
    ).distinct()
    dv = token_trigram_vectors(occ, n_buckets=n_buckets)
    dn = dv.groupBy("token").agg(
        F.sum(F.col("c") * F.col("c")).alias("nd2")
    )
    pair_dot = (
        dv.join(F.broadcast(qv), "bucket")
        .groupBy("q_tok", "token")
        .agg(F.sum(F.col("c") * F.col("cq")).alias("dot"))
    )
    sim = (
        pair_dot.join(dn, "token")
        .join(F.broadcast(qn), "q_tok")
        .select(
            "q_tok",
            "token",
            F.expr("(1000000 * dot * dot) div (nq2 * nd2)").alias(
                "sim_micro"
            ),
        )
    )
    return (
        occ.join(sim, "token")
        .groupBy("doc_id", "q_tok")
        .agg(F.max("sim_micro").alias("best"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_hit_terms"),
            F.sum("best").cast("long").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(k)
    )


def maxsim_topk_sql(
    query_terms: list[str],
    k: int = 20,
    n_buckets: int = MAXSIM_BUCKETS,
) -> str:
    """DuckDB twin of :func:`maxsim_topk` (identical md5 trigram
    buckets, identical integer floor divisions)."""
    from ..functions.hashing import hash60_sql

    qterms = sorted(set(query_terms))
    tlist = ", ".join(f"'{t}'" for t in qterms)
    grams = (
        "SELECT token, unnest(list_transform("
        "range(1, length('^' || token || '$') - 2 + 1),"
        " i -> substr('^' || token || '$', i, 3))) AS gram FROM {src}"
    )
    return f"""
WITH q_toks AS (SELECT unnest([{tlist}]) AS token),
occ AS (
  SELECT DISTINCT doc_id, term AS token
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
),
d_vocab AS (SELECT DISTINCT token FROM occ),
qg AS ({grams.format(src='q_toks')}),
dg AS ({grams.format(src='d_vocab')}),
qv AS (
  SELECT token AS q_tok, {hash60_sql('gram')} % {n_buckets} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cq
  FROM qg GROUP BY 1, 2
),
dv AS (
  SELECT token, {hash60_sql('gram')} % {n_buckets} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM dg GROUP BY 1, 2
),
qn AS (SELECT q_tok, SUM(cq * cq) AS nq2 FROM qv GROUP BY q_tok),
dn AS (SELECT token, SUM(c * c) AS nd2 FROM dv GROUP BY token),
pair_dot AS (
  SELECT q_tok, token, SUM(c * cq) AS dot
  FROM dv JOIN qv USING (bucket) GROUP BY q_tok, token
),
sim AS (
  SELECT q_tok, token,
         (1000000 * dot * dot) // (nq2 * nd2) AS sim_micro
  FROM pair_dot JOIN dn USING (token) JOIN qn USING (q_tok)
),
best AS (
  SELECT doc_id, q_tok, MAX(sim_micro) AS best
  FROM occ JOIN sim USING (token) GROUP BY doc_id, q_tok
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_hit_terms,
       CAST(SUM(best) AS BIGINT) AS score_micro
FROM best GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# late-interaction (MaxSim) rankers — the standard two-tower serving
# fusion (Cormack, Clarke & Büttcher, SIGIR 2009), integer-exact.
# ---------------------------------------------------------------------------

RRF_SCALE = 1_000_000  # contribution = RRF_SCALE div (k_const + rank)


def rrf_fuse_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k_const: int = 60,
    n_candidates: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Reciprocal-rank fusion of BM25 and MaxSim candidate lists:
    DataFrame[doc_id, bm25_rank, maxsim_rank, rrf_score], top-``k`` by
    (rrf_score DESC, doc_id) — a total order.

    Convention (documented like BM25's linear idf): the classic RRF
    score Σ 1/(k_const + rank) is kept integer as
    ``Σ (RRF_SCALE div (k_const + rank))`` — floor division on
    positive operands, bit-identical across engines. With
    RRF_SCALE = 10⁶ and k_const = 60 the floor changes no ordering a
    double kernel would give until candidate lists exceed ~10⁴ ranks.
    A doc absent from one list contributes 0 from it (rank reported as
    0 = "unranked"); ranks come from each ranker's own total order
    (score DESC, doc_id), so fusion is deterministic end to end.

    Plan: both candidate lists are already top-``n_candidates`` —
    driver-size relations; the fusion is a full-outer join + one
    projection over ≤ 2·n_candidates rows. All corpus-scale work
    happens inside the two rankers (postings-pruned / vocabulary-
    sized, see their docstrings); fusion adds nothing data-sized.
    """
    bm = bm25_topk(docs, query_terms, k=n_candidates, text_col=text_col)
    ms = maxsim_topk(docs, query_terms, k=n_candidates, text_col=text_col)
    wb = Window.orderBy(F.desc("score_milli"), F.asc("doc_id"))
    wm = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    br = bm.select(
        "doc_id", F.row_number().over(wb).alias("bm25_rank")
    )
    mr = ms.select(
        "doc_id", F.row_number().over(wm).alias("maxsim_rank")
    )
    contrib = lambda rank_col: F.when(
        F.col(rank_col).isNull(), F.lit(0).cast("long")
    ).otherwise(
        F.expr(f"CAST({RRF_SCALE} AS BIGINT) div ({k_const} + {rank_col})")
    )
    return (
        br.join(mr, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("bm25_rank", F.lit(0)).cast("int").alias("bm25_rank"),
            F.coalesce("maxsim_rank", F.lit(0)).cast("int").alias("maxsim_rank"),
            (contrib("bm25_rank") + contrib("maxsim_rank")).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(k)
    )


def rrf_fuse_topk_sql(
    query_terms: list[str],
    k: int = 20,
    k_const: int = 60,
    n_candidates: int = 50,
) -> str:
    """DuckDB twin of :func:`rrf_fuse_topk` (wraps the two rankers'
    own twins as derived tables; identical floor-div convention)."""
    bm = bm25_topk_sql(query_terms, n_candidates)
    ms = maxsim_topk_sql(query_terms, n_candidates)
    return f"""
WITH br AS (
  SELECT doc_id, CAST(row_number() OVER
    (ORDER BY score_milli DESC, doc_id ASC) AS INT) AS bm25_rank
  FROM ({bm}) bm
),
mr AS (
  SELECT doc_id, CAST(row_number() OVER
    (ORDER BY score_micro DESC, doc_id ASC) AS INT) AS maxsim_rank
  FROM ({ms}) ms
),
fused AS (
  SELECT COALESCE(br.doc_id, mr.doc_id) AS doc_id,
         COALESCE(br.bm25_rank, 0) AS bm25_rank,
         COALESCE(mr.maxsim_rank, 0) AS maxsim_rank,
         (CASE WHEN br.bm25_rank IS NULL THEN 0
               ELSE {RRF_SCALE} // ({k_const} + br.bm25_rank) END
          + CASE WHEN mr.maxsim_rank IS NULL THEN 0
                 ELSE {RRF_SCALE} // ({k_const} + mr.maxsim_rank) END
         ) AS rrf_score
  FROM br FULL OUTER JOIN mr ON br.doc_id = mr.doc_id
)
SELECT doc_id, bm25_rank, maxsim_rank, CAST(rrf_score AS BIGINT) AS rrf_score
FROM fused
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {k}
"""


def keyword_tags(
    docs: DataFrame,
    phrases: list[list[str]],
    text_col: str = "text",
) -> DataFrame:
    """Dictionary phrase tagging (the FlashText/Aho-Corasick use case —
    blocklist/allowlist curation): which documents contain which of the
    dictionary's token phrases, with occurrence counts.
    DataFrame[doc_id, phrase, n_hits] (pairs with ≥1 hit).

    Plan: ONE corpus scan — every phrase's positional adjacency check
    (the :func:`phrase_search` per-row array scan) is evaluated in the
    same codegen pass, stacked as a row-local explode of (phrase,
    count) structs; no join, no shuffle beyond the final filter.
    That inlines one expression per dictionary entry, the right trade
    up to a few hundred phrases; a 100k-entry dictionary wants the
    first-token inverted-index join instead (build (first_tok -> 
    phrase) once, join the token explode, verify tails positionally —
    the :func:`conjunctive_search` shape), at the cost of the token
    shuffle this form avoids.
    """
    def _count(p: list[str]) -> str:
        m = len(p)
        cond = " AND ".join(
            f"try_element_at(toks, i + {j}) = '{w}'"
            for j, w in enumerate(p)
        )
        return (
            f"size(filter(sequence(1, greatest(size(toks) - {m - 1},"
            f" 1)), i -> {cond}))"
        )

    entries = F.array(
        *[
            F.struct(
                F.lit(" ".join(p)).alias("phrase"),
                F.expr(_count(p)).cast("int").alias("n_hits"),
            )
            for p in phrases
        ]
    )
    return (
        docs.select(
            "doc_id", tokens(F.col(text_col)).alias("toks")
        )
        .select("doc_id", F.explode(entries).alias("e"))
        .select("doc_id", "e.phrase", "e.n_hits")
        .where(F.col("n_hits") > 0)
    )


def keyword_tags_sql(phrases: list[list[str]]) -> str:
    """DuckDB twin of :func:`keyword_tags` (one positional-scan block
    per dictionary entry, unioned)."""
    blocks = []
    for p in phrases:
        m = len(p)
        label = " ".join(p).replace("'", "''")
        cond = " AND ".join(
            f"toks[i + {j}] = '{w}'" for j, w in enumerate(p)
        )
        blocks.append(
            f"""
SELECT doc_id, '{label}' AS phrase,
       CAST(len([i FOR i IN range(1, greatest(len(toks) - {m - 1}, 1)
                                      + 1) IF {cond}]) AS INT)
         AS n_hits
FROM toks_cte"""
        )
    u = "\nUNION ALL".join(blocks)
    return f"""
WITH toks_cte AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
tagged AS ({u})
SELECT doc_id, phrase, n_hits FROM tagged WHERE n_hits > 0
"""


# ---------------------------------------------------------------------------
# retrieval evaluation: recall@k / MRR / nDCG against an exact truth set
# ---------------------------------------------------------------------------

def _disc_micro(k: int) -> list[int]:
    """Pinned nDCG discount table: disc[i] = ⌊10^6 / log2(i+1)⌋ for
    ranks i = 1..k. Computed ONCE in Python and injected as the SAME
    integer literals into both engines, so cross-engine exactness never
    depends on either engine's log."""
    import math

    return [int(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def _disc_case(col: str, k: int) -> str:
    """CASE expression mapping a 1-based rank column to its pinned
    micro discount — valid in both Spark SQL and DuckDB."""
    arms = " ".join(
        f"WHEN {col} = {i + 1} THEN {d}"
        for i, d in enumerate(_disc_micro(k))
    )
    return f"(CASE {arms} ELSE 0 END)"


def retrieval_eval(
    result: DataFrame,
    truth: DataFrame,
    k: int,
) -> DataFrame:
    """Rank-quality report of an ANN ``result`` against an exact
    ``truth`` top-k — one row: DataFrame[n_queries, total_hits,
    recall_milli, mrr_micro, ndcg_micro].

    Both inputs are DataFrame[query_id, vec_id, score] (any extra
    columns ignored); ranks are re-derived inside under the engine's
    deterministic total order (score DESC, vec_id ASC), so callers pass
    raw top-k outputs, not pre-ranked ones.

    Integer-exact metric conventions (documented floors, identical in
    the SQL twin):

    - ``recall_milli``: micro-averaged — (1000 · Σ_q hits_q) div
      Σ_q |truth_q|.
    - ``mrr_micro``: per-query reciprocal rank floored at micro
      (10^6 div first_hit_rank, 0 when no hit), then mean-floored
      over queries.
    - ``ndcg_micro``: micro-averaged binary-relevance nDCG with the
      pinned ⌊10^6/log2(1+rank)⌋ discount table (:func:`_disc_micro`);
      IDCG_q places all |truth_q| relevant items first. Bound:
      n_queries · k · 10^12 < 2^63 (shard by query block beyond
      ~9·10^6 query·k).

    Scale shape: one (query_id, vec_id) equi-join between two already-
    top-k tables (k·|queries| rows each — the corpus never re-enters),
    two skinny per-query aggregates, a 1-row reduction. Queries that
    retrieve nothing still count: the query universe comes from
    ``truth``, left-joined.
    """
    wq = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    res = result.select("query_id", "vec_id", "score").select(
        "query_id", "vec_id", F.row_number().over(wq).alias("rk")
    ).where(F.col("rk") <= k)
    tru = truth.select("query_id", "vec_id", "score").select(
        "query_id", "vec_id", F.row_number().over(wq).alias("trk")
    ).where(F.col("trk") <= k)

    hits = res.join(tru, ["query_id", "vec_id"]).select(
        "query_id",
        "rk",
        F.expr(_disc_case("rk", k)).alias("disc"),
    )
    per_hit = hits.groupBy("query_id").agg(
        F.count("*").cast("long").alias("hits"),
        F.min("rk").alias("first_rk"),
        F.sum("disc").cast("long").alias("dcg"),
    )
    # IDCG from the truth size: prefix sums of the pinned table
    disc = _disc_micro(k)
    prefix = [0]
    for d in disc:
        prefix.append(prefix[-1] + d)
    idcg_arms = " ".join(
        f"WHEN n_truth = {i} THEN {prefix[i]}" for i in range(1, k + 1)
    )
    per_q = (
        tru.groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_truth"))
        .join(per_hit, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.coalesce(
                F.expr("1000000 div first_rk"), F.lit(0)
            ).alias("rr_micro"),
            F.coalesce("dcg", F.lit(0)).alias("dcg"),
            F.expr(f"CASE {idcg_arms} ELSE 0 END").alias("idcg"),
        )
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("hits").cast("long").alias("total_hits"),
        F.expr("(1000 * sum(hits)) div sum(n_truth)").alias(
            "recall_milli"
        ),
        F.expr("sum(rr_micro) div count(*)").alias("mrr_micro"),
        F.expr("(1000000 * sum(dcg)) div sum(idcg)").alias("ndcg_micro"),
    )


def retrieval_eval_sql(result_sql: str, truth_sql: str, k: int) -> str:
    """DuckDB twin of :func:`retrieval_eval` — same pinned discounts,
    same floors, same truth-anchored query universe."""
    disc = _disc_micro(k)
    prefix = [0]
    for d in disc:
        prefix.append(prefix[-1] + d)
    idcg_arms = " ".join(
        f"WHEN n_truth = {i} THEN {prefix[i]}" for i in range(1, k + 1)
    )
    return f"""
WITH res0 AS ({result_sql}),
tru0 AS ({truth_sql}),
res AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rk
  FROM res0 QUALIFY rk <= {k}
),
tru AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS trk
  FROM tru0 QUALIFY trk <= {k}
),
hit AS (
  SELECT r.query_id, r.rk, {_disc_case('r.rk', k)} AS disc
  FROM res r JOIN tru t USING (query_id, vec_id)
),
per_hit AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS hits,
         MIN(rk) AS first_rk, CAST(SUM(disc) AS BIGINT) AS dcg
  FROM hit GROUP BY query_id
),
per_q AS (
  SELECT t.query_id, t.n_truth,
         COALESCE(h.hits, 0) AS hits,
         COALESCE(1000000 // h.first_rk, 0) AS rr_micro,
         COALESCE(h.dcg, 0) AS dcg,
         CASE {idcg_arms} ELSE 0 END AS idcg
  FROM (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
        FROM tru GROUP BY query_id) t
  LEFT JOIN per_hit h USING (query_id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(hits) AS BIGINT) AS total_hits,
       CAST((1000 * SUM(hits)) // SUM(n_truth) AS BIGINT)
         AS recall_milli,
       CAST(SUM(rr_micro) // COUNT(*) AS BIGINT) AS mrr_micro,
       CAST((1000000 * SUM(dcg)) // SUM(idcg) AS BIGINT) AS ndcg_micro
FROM per_q
"""
