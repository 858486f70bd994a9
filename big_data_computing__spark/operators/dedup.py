"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline extensions (not in the reference, which has no
string/dedup machinery). Everything is deterministic and Catalyst-only,
built on the cross-engine md5 hash (functions/hashing.py), so each
operator has an exact DuckDB-SQL twin for the correctness oracles.

Scale design (100 TB corpus):
- Exact dedup: one hash aggregation on a 60-bit fingerprint — the
  canonical groupBy-min survivor pick. No full-text shuffle: only
  (fingerprint, doc_id) pairs move.
- MinHash+LSH: signatures are per-document maps (no shuffle); candidate
  generation shuffles only (band_key, doc_id) pairs and joins documents
  *within* LSH buckets — the standard way to avoid the O(n²) pair space.
  Bands use r=2 rows combined arithmetically (sig₀·p + sig₁ fits in a
  bigint) so bucket keys are fixed-width integers, not strings.
- SimHash: one 60-bit signature per doc; near-dup candidates join on
  band-of-bits equality (4 × 15-bit bands → Hamming distance ≤ 3 is
  guaranteed to collide on ≥ 1 band), verified by popcount(xor).
- n-gram Jaccard: inverted-index join on distinct shingles (prune-less
  baseline; at scale add df-based shingle pruning), intersection counts
  per pair, |A|+|B|−∩ for the union.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    MINHASH_PRIME,
    hash60,
    hash60_sql,
    minhash_value,
    minhash_value_sql,
)
from ..functions.text import normalized, word_ngrams

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Fingerprint groups: DataFrame[fingerprint, n_docs, keep_doc_id].

    keep_doc_id = min doc_id per group (the survivor); n_docs > 1 marks
    duplicate groups.
    """
    fp = hash60(normalized(F.col(text_col)))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def exact_dedup_survivors(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deduplicated corpus: DataFrame[doc_id] of survivors (min doc_id per
    fingerprint group)."""
    return exact_dedup_groups(docs, text_col).select(
        F.col("keep_doc_id").alias("doc_id")
    )


def exact_dedup_groups_sql() -> str:
    norm = "trim(regexp_replace(lower(text), ' +', ' ', 'g'))"
    return f"""
SELECT {hash60_sql(norm)} AS fingerprint,
       COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _shingle_hashes(
    docs: DataFrame, text_col: str, ngram: int
) -> DataFrame:
    """Distinct (doc_id, shingle-hash x) pairs over the *normalized* text
    (lowercase, collapsed whitespace — near-dup detection should not be
    case/spacing sensitive); x ∈ [0, 2^60).

    No global distinct: array_distinct already dedups within the document,
    so a distinct here would shuffle the full shingle stream to remove
    (effectively) nothing.
    """
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    word_ngrams(normalized(F.col(text_col)), ngram)
                )
            ).alias("shingle"),
        )
        .select("doc_id", hash60(F.col("shingle")).alias("x"))
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    ngram: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """MinHash signatures: DataFrame[doc_id, sig array<long>] with
    sig[i] = min over shingles of h_i(shingle-hash)."""
    sh = _shingle_hashes(docs, text_col, ngram)
    aggs = [
        F.min(minhash_value(F.col("x"), i)).alias(f"_s{i}")
        for i in range(num_hashes)
    ]
    per_doc = sh.groupBy("doc_id").agg(*aggs)
    return per_doc.select(
        "doc_id",
        F.array(*[F.col(f"_s{i}") for i in range(num_hashes)]).alias("sig"),
    )


# Production guard for every banded similarity self-join in this
# module: a single degenerate bucket (a boilerplate string shared by
# 10^6 docs at corpus scale) makes that bucket's self-join contribute
# |bucket|^2 candidate pairs — AQE's skew-join splits the SHUFFLE but
# not the pair count itself. Buckets larger than this are dropped from
# pair generation (and surfaced by the *_super_buckets reports, so the
# drop is audited, never silent). Docs in such a bucket are
# overwhelmingly exact/boilerplate duplicates, which the exact-hash
# dedup path already handles at O(n).
LSH_MAX_BUCKET = 100_000


def lsh_max_bucket_from_stats(
    snapshot: dict,
    pairs_per_row_budget: int = 8,
    floor: int = 64,
    cap: int = LSH_MAX_BUCKET,
) -> int:
    """Derive the super-bucket cap from a documents table's RECORDED
    manifest row count at zero data read — the join-gate pattern
    (relational.join_strategy_from_stats) applied to the last
    hardcoded threshold in the dedup path (VERDICT r8 item #5).

    Cost model: a bucket of size b contributes b·(b−1)/2 candidate
    pairs to the band self-join, so the cap is sized to keep ONE
    degenerate bucket's contribution within a LINEAR budget of the
    corpus — ``b²/2 ≤ pairs_per_row_budget · N`` →
    ``b = √(2 · budget · N)``. A fixed global cap is wrong in both
    directions: at N=10⁴ a 100k cap admits a bucket whose self-join is
    10⁹ pairs (10⁵× the corpus); at N=10¹⁰ it drops buckets whose
    pair volume the cluster would not notice. ``floor`` keeps tiny
    fixtures from capping out genuine near-dup buckets; ``cap`` keeps
    the absolute ceiling (beyond it the docs are boilerplate exact
    dups the O(n) hash path already handles).

    A/B at two corpus shapes in tools/lsh_cap_ab.py (STRESS.md r9).
    """
    n = sum(e["n_rows"] for e in snapshot["files"])
    b = int((2.0 * pairs_per_row_budget * max(n, 0)) ** 0.5)
    return max(floor, min(b, cap))


def _drop_super_buckets(
    buckets: DataFrame, keys: list, max_bucket: int
) -> DataFrame:
    """Anti-join out every row of a bucket whose population exceeds
    ``max_bucket``. The oversize set is tiny by construction (only
    degenerate buckets qualify), so it broadcasts; the extra pass is
    one partial+final count over the bucket rows — same shuffle key
    the pair self-join uses anyway."""
    over = (
        buckets.groupBy(*keys)
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > max_bucket)
    )
    return buckets.join(F.broadcast(over.select(*keys)), keys, "left_anti")


def _band_buckets(sigs: DataFrame, bands: int) -> DataFrame:
    """(doc_id, band, bkey) LSH bucket rows from a signature table —
    bkey = sig[2b]·p + sig[2b+1], the injective integer combine of the
    band's two minhash rows. Shared by the self-join pair generator
    and the incremental new-vs-corpus probe."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.col("sig")[2 * b] * F.lit(MINHASH_PRIME)
                            + F.col("sig")[2 * b + 1]
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bkey").alias("bkey"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    ngram: int = 3,
    text_col: str = "text",
    sigs: DataFrame | None = None,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """LSH candidate pairs (band-collision, r=2 rows/band):
    DataFrame[doc_a, doc_b, n_bands] with doc_a < doc_b.

    Bucket key for band b = sig[2b]·p + sig[2b+1] — an injective integer
    combine (both values < p), avoiding string keys. Docs sharing ≥ 1
    bucket become candidates; n_bands counts collisions (a monotone
    proxy for similarity). ``sigs`` lets a caller that also needs the
    signatures (minhash_similarity_pairs) compute them once.

    ``max_bucket``: super-bucket guard (see :data:`LSH_MAX_BUCKET`) —
    buckets above the cap contribute no pairs; n_bands counts only
    surviving bands. ``None`` disables (exact banded semantics, can go
    quadratic on degenerate corpora). Dropped buckets are listed by
    :func:`lsh_super_buckets` at the same cap.
    """
    bands = num_hashes // 2
    if sigs is None:
        sigs = minhash_signatures(docs, num_hashes, ngram, text_col)
    buckets = _band_buckets(sigs, bands)
    if max_bucket is not None:
        buckets = _drop_super_buckets(buckets, ["band", "bkey"], max_bucket)
    # Both sides of the self-join read `buckets`; without persistence the
    # whole upstream (shingle explode → md5 → 16-way min aggregation) runs
    # twice — measured ~2× the operator's wall at sf0.1. The persisted
    # footprint is 3 fixed-width ints × bands per doc, far smaller than
    # the text, and spills cleanly (MEMORY_AND_DISK).
    # localCheckpoint (not cache): blocks are dropped by the
    # ContextCleaner when the result DataFrame is garbage-collected, so
    # repeated calls in a long-lived session don't accumulate storage —
    # a plain cache() with no unpersist hook would.
    buckets = buckets.localCheckpoint()
    left = buckets.select(
        F.col("band"), F.col("bkey"), F.col("doc_id").alias("doc_a")
    )
    right = buckets.select(
        F.col("band"), F.col("bkey"), F.col("doc_id").alias("doc_b")
    )
    return (
        left.join(right, ["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands"))
    )


def minhash_lsh_pairs_sharded(
    docs: DataFrame,
    num_hashes: int = 16,
    ngram: int = 3,
    text_col: str = "text",
    sigs: DataFrame | None = None,
    max_bucket: int | None = LSH_MAX_BUCKET,
    shard_dir: str | None = None,
) -> DataFrame:
    """Band-sharded LSH candidate pairs — ROW-IDENTICAL to
    :func:`minhash_lsh_pairs` (same columns, same values, asserted in
    tests and under the value oracle), but the bucket self-join runs
    as ``bands`` independent per-band sub-joins unioned before the
    (doc_a, doc_b) count, so no single shuffle stage carries ALL
    bands' bucket rows.

    Why: at 50M docs the one-shot band join was the composed
    pipeline's largest single-stage shuffle (13.9 GiB, 24% of wall,
    STRESS.md r9) and grows linearly with the corpus — the one stage
    whose spill/disk footprint a 100-TB run must provision for
    whole. Sharding by band cuts that provisioning unit ~bands-fold:
    each sub-join exchanges only its band's ~n rows on ``bkey``
    alone, and AQE sizes each sub-shuffle independently. Total
    shuffle volume is unchanged (the same rows move, band by band);
    what changes is the MAXIMUM any one stage carries — the metric
    that decides whether a stage fits its executors' spill budget.
    Identity holds because each doc has exactly ONE bucket per band,
    so a pair collides at most once per band and the post-union
    count(*) ≡ the unsharded count over (band, bkey).

    ``shard_dir``: optional caller-owned directory. When given, the
    (capped) bucket rows are written ONCE as a ``band=N``-partitioned
    parquet layout and each sub-join reads its band back via
    partition pruning — the 100-TB shape, where re-scanning a
    checkpoint ``bands`` times (the in-memory default) would read
    the bucket table ``bands``× instead of once. The caller deletes
    the directory when done.
    """
    bands = num_hashes // 2
    if sigs is None:
        sigs = minhash_signatures(docs, num_hashes, ngram, text_col)
    buckets = _band_buckets(sigs, bands)
    if max_bucket is not None:
        buckets = _drop_super_buckets(buckets, ["band", "bkey"], max_bucket)
    if shard_dir is not None:
        buckets.write.partitionBy("band").mode("overwrite").parquet(
            shard_dir
        )
        buckets = docs.sparkSession.read.parquet(shard_dir)
    else:
        # same persistence rationale as minhash_lsh_pairs; the
        # per-band filters below all read these blocks
        buckets = buckets.localCheckpoint()
    per_band = []
    for b in range(bands):
        bb = buckets.where(F.col("band") == b).select("bkey", "doc_id")
        per_band.append(
            bb.select("bkey", F.col("doc_id").alias("doc_a"))
            .join(
                bb.select("bkey", F.col("doc_id").alias("doc_b")),
                "bkey",
            )
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
    out = per_band[0]
    for p in per_band[1:]:
        out = out.unionByName(p)
    return out.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_bands")
    )


def minhash_signatures_sql(
    num_hashes: int = 16, ngram: int = 3, source: str = "documents"
) -> str:
    """``source``: table/CTE name with (doc_id, text) — parameterized so
    composed pipelines (clean_corpus) can run the same SQL over a
    filtered corpus CTE."""
    toks = (
        "list_filter(string_split("
        "trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' '), "
        "t -> t <> '')"
    )
    mins = ", ".join(
        f"MIN({minhash_value_sql('x', i)}) AS _s{i}"
        for i in range(num_hashes)
    )
    arr = ", ".join(f"_s{i}" for i in range(num_hashes))
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM {source}),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {ngram - 1}, 0) + 1),
           i -> array_to_string(t[i:i+{ngram - 1}], ' ')))) AS shingle
  FROM toks
),
xs AS (SELECT doc_id, {hash60_sql('shingle')} AS x FROM grams),
per_doc AS (SELECT doc_id, {mins} FROM xs GROUP BY doc_id)
SELECT doc_id, [{arr}] AS sig FROM per_doc
"""


def minhash_lsh_pairs_sql(
    num_hashes: int = 16,
    ngram: int = 3,
    source: str = "documents",
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> str:
    bands = num_hashes // 2
    sig_sql = minhash_signatures_sql(num_hashes, ngram, source)
    structs = ", ".join(
        f"{{'band': {b}, 'bkey': sig[{2 * b + 1}] * {MINHASH_PRIME} "
        f"+ sig[{2 * b + 2}]}}"
        for b in range(bands)
    )
    cap = "" if max_bucket is None else f""",
over AS (
  SELECT band, bkey FROM buckets
  GROUP BY 1, 2 HAVING COUNT(*) > {max_bucket}
),
kept AS (
  SELECT b.* FROM buckets b ANTI JOIN over o USING (band, bkey)
)"""
    src = "buckets" if max_bucket is None else "kept"
    return f"""
WITH sigs AS ({sig_sql}),
buckets AS (
  SELECT doc_id, unnest([{structs}], recursive := true) FROM sigs
){cap}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
FROM {src} a JOIN {src} b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def lsh_super_buckets(
    docs: DataFrame,
    num_hashes: int = 16,
    ngram: int = 3,
    text_col: str = "text",
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """The audit companion of :func:`minhash_lsh_pairs`'s super-bucket
    guard: every (band, bkey) bucket whose population exceeds the cap,
    with its size — DataFrame[band, bkey, n_docs]. What the capped
    pair join dropped, as a first-class queryable report (the drop is
    never silent): a non-empty result at production scale means the
    corpus carries boilerplate clusters the exact-dedup pass should
    absorb first."""
    bands = num_hashes // 2
    sigs = minhash_signatures(docs, num_hashes, ngram, text_col)
    cap = LSH_MAX_BUCKET if max_bucket is None else max_bucket
    return (
        _band_buckets(sigs, bands)
        .groupBy("band", "bkey")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > cap)
    )


def lsh_super_buckets_sql(
    num_hashes: int = 16,
    ngram: int = 3,
    source: str = "documents",
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> str:
    bands = num_hashes // 2
    sig_sql = minhash_signatures_sql(num_hashes, ngram, source)
    structs = ", ".join(
        f"{{'band': {b}, 'bkey': sig[{2 * b + 1}] * {MINHASH_PRIME} "
        f"+ sig[{2 * b + 2}]}}"
        for b in range(bands)
    )
    cap = LSH_MAX_BUCKET if max_bucket is None else max_bucket
    return f"""
WITH sigs AS ({sig_sql}),
buckets AS (
  SELECT doc_id, unnest([{structs}], recursive := true) FROM sigs
)
SELECT band, bkey, COUNT(*) AS n_docs
FROM buckets GROUP BY 1, 2 HAVING COUNT(*) > {cap}
"""


def incremental_lsh_duplicates(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    num_hashes: int = 16,
    ngram: int = 3,
    text_col: str = "text",
    new_sigs: DataFrame | None = None,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate matches of an INCREMENT against an existing
    corpus signature index: DataFrame[new_doc_id, corpus_doc_id,
    n_bands] — every LSH band collision between a new document and a
    previously-indexed one.

    ``max_bucket`` guards the CORPUS side of the probe (same rationale
    as :func:`minhash_lsh_pairs`): an index bucket holding 10^6
    boilerplate docs would fan every colliding new doc out 10^6 ways.
    Index buckets above the cap contribute no matches; audit with
    :func:`lsh_super_buckets` over the same corpus. ``None`` disables.

    The daily-ingest shape of dedup at 100 TB: the corpus is indexed
    ONCE (``corpus_sigs`` = :func:`minhash_signatures` output, a few
    fixed-width integers per document — the persisted artifact a
    ZTable holds), and each increment signs only its own documents and
    probes the index by band-key equi-join. No corpus-vs-corpus pair
    is ever enumerated, so per-batch cost is
    O(batch · bands + collisions), independent of corpus size — vs
    re-running :func:`minhash_lsh_pairs` over corpus+batch, which
    re-pays the full self-join every day. Within-increment duplicates
    are deliberately OUT of scope here (run the self-join pair
    generator on the small increment for those; union the two pair
    sets for the full picture).

    Plan: the increment's signature aggregation (its only heavy step),
    two band explodes, one (band, bkey)-keyed join — the probe side is
    batch-sized, so at scale Spark broadcast-joins it against the
    bucketed index scan — and one (new, corpus)-keyed count.
    """
    bands = num_hashes // 2
    if new_sigs is None:
        new_sigs = minhash_signatures(
            new_docs, num_hashes, ngram, text_col
        )
    nb = _band_buckets(new_sigs, bands).withColumnRenamed(
        "doc_id", "new_doc_id"
    )
    cb = _band_buckets(corpus_sigs, bands).withColumnRenamed(
        "doc_id", "corpus_doc_id"
    )
    if max_bucket is not None:
        cb = _drop_super_buckets(cb, ["band", "bkey"], max_bucket)
    return (
        nb.join(cb, ["band", "bkey"])
        .groupBy("new_doc_id", "corpus_doc_id")
        .agg(F.count("*").alias("n_bands"))
    )


def lsh_greedy_within_rejects(
    sigs: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """Documents with a LOWER-id LSH band collision inside one
    signature table: DataFrame[doc_id] — the within-batch rejection
    set of a greedy (arrival-ordered) dedup gate, computed EXACTLY
    and pair-free.

    The greedy acceptance predicate only ever asks "does d have ANY
    partner with earlier arrival?" — never which partner. Per band
    bucket that collapses to ``doc_id > min(doc_id)``: every
    non-minimum member has the minimum as an earlier partner, and the
    minimum has none (within that bucket). The union over buckets is
    therefore IDENTICAL to deriving the predicate from the uncapped
    pair graph (:func:`minhash_lsh_pairs` with ``max_bucket=None``),
    but costs one O(n·bands) min-aggregation instead of a self-join —
    a 10^6-doc boilerplate bucket contributes 10^6 rows, not 10^12
    pairs, so no super-bucket cap is needed and none is applied.
    The equivalence is pinned against the uncapped pair graph in
    tests/test_hardening.py.
    """
    bands = num_hashes // 2
    b = _band_buckets(sigs, bands)
    mins = b.groupBy("band", "bkey").agg(
        F.min("doc_id").alias("min_doc")
    )
    return (
        b.join(mins, ["band", "bkey"])
        .where(F.col("doc_id") > F.col("min_doc"))
        .select("doc_id")
        .distinct()
    )


def lsh_greedy_cross_rejects(
    new_sigs: DataFrame, corpus_sigs: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """New documents sharing ANY LSH band key with an already-indexed
    document: DataFrame[doc_id] — the cross-batch rejection set of a
    greedy dedup gate, computed exactly and fan-out-free.

    Every indexed document arrived earlier, so the greedy predicate is
    just key membership: a new doc is rejected iff one of its band
    keys occurs in the index. No per-partner enumeration — an index
    bucket of 10^6 boilerplate docs rejects a colliding new doc via
    ONE key hit, where :func:`incremental_lsh_duplicates` would emit
    10^6 match rows (the fan-out its ``max_bucket`` cap guards).

    Plan, sized for a batch probing a 100-TB index: broadcast the
    batch's distinct band keys, stream the index scan once against
    them, and partial-aggregate the hits to distinct keys map-side —
    the shuffle carries at most |batch|·bands key rows regardless of
    index bucket sizes. The surviving keys broadcast back onto the
    batch as a semi-join.
    """
    bands = num_hashes // 2
    nb = _band_buckets(new_sigs, bands)
    batch_keys = nb.select("band", "bkey").distinct()
    hit_keys = (
        _band_buckets(corpus_sigs, bands)
        .join(F.broadcast(batch_keys), ["band", "bkey"])
        .select("band", "bkey")
        .distinct()
    )
    return (
        nb.join(F.broadcast(hit_keys), ["band", "bkey"], "left_semi")
        .select("doc_id")
        .distinct()
    )


def lsh_greedy_within_rejects_sql(
    num_hashes: int = 16, ngram: int = 3, source: str = "documents"
) -> str:
    """DuckDB twin of :func:`lsh_greedy_within_rejects`, restated
    pair-side: a doc is rejected iff it has SOME lower-id band
    partner, i.e. iff it appears as ``doc_b`` in the UNCAPPED pair
    graph. The operator computes the same set pair-free (bucket-min);
    the oracle enumerating the pairs the operator never materializes
    is exactly the equivalence being pinned."""
    return (
        "SELECT DISTINCT doc_b AS doc_id FROM ("
        + minhash_lsh_pairs_sql(num_hashes, ngram, source, None)
        + ")"
    )


def lsh_greedy_cross_rejects_sql(
    new_pred: str,
    corpus_pred: str,
    num_hashes: int = 16,
    ngram: int = 3,
) -> str:
    """DuckDB twin of :func:`lsh_greedy_cross_rejects`: the distinct
    new-side ids of the UNCAPPED incremental probe — key membership
    is "≥1 banded match", enumerated here, fan-out-free there."""
    return (
        "SELECT DISTINCT new_doc_id AS doc_id FROM ("
        + incremental_lsh_duplicates_sql(
            new_pred, corpus_pred, num_hashes, ngram, max_bucket=None
        )
        + ")"
    )


def incremental_lsh_duplicates_sql(
    new_pred: str,
    corpus_pred: str,
    num_hashes: int = 16,
    ngram: int = 3,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> str:
    """DuckDB twin of :func:`incremental_lsh_duplicates` with the
    corpus/increment split expressed as predicates over ``documents``
    (the oracle's stand-in for "yesterday's index + today's batch")."""
    sig_new = minhash_signatures_sql(
        num_hashes, ngram,
        f"(SELECT * FROM documents WHERE {new_pred})",
    )
    sig_corpus = minhash_signatures_sql(
        num_hashes, ngram,
        f"(SELECT * FROM documents WHERE {corpus_pred})",
    )
    bands = num_hashes // 2
    structs = ", ".join(
        f"{{'band': {b}, 'bkey': sig[{2 * b + 1}] * {MINHASH_PRIME} "
        f"+ sig[{2 * b + 2}]}}"
        for b in range(bands)
    )
    return f"""
WITH new_sigs AS ({sig_new}),
corpus_sigs AS ({sig_corpus}),
nb AS (
  SELECT doc_id AS new_doc_id, unnest([{structs}], recursive := true)
  FROM new_sigs
),
cb0 AS (
  SELECT doc_id AS corpus_doc_id, unnest([{structs}], recursive := true)
  FROM corpus_sigs
),
over AS (
  SELECT band, bkey FROM cb0
  GROUP BY 1, 2 HAVING COUNT(*) > {max_bucket or 2**62}
),
cb AS (
  SELECT c.* FROM cb0 c ANTI JOIN over o USING (band, bkey)
)
SELECT new_doc_id, corpus_doc_id, COUNT(*) AS n_bands
FROM nb JOIN cb USING (band, bkey)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Connected components: near-dup pairs → duplicate groups
# ---------------------------------------------------------------------------


def duplicate_components(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iterations: int = 100,
) -> DataFrame:
    """Connected components over a near-dup pair graph:
    DataFrame[doc_id, component_id] for every doc appearing in a pair,
    with component_id = min doc_id in the component.

    The missing piece between pairwise dedup (MinHash/SimHash/Jaccard/
    embedding pairs) and an actual deduplicated corpus: transitive
    closure groups A~B~C into one unit so one survivor is kept per
    group, not per pair.

    Algorithm: min-label propagation to fixpoint — a driver-coordinated
    loop of joins (the standard Spark CC shape; GraphX Pregel does the
    same). Iterations = graph diameter, which for near-dup graphs is
    tiny (duplicate clusters are dense and small); ``max_iterations``
    bounds pathological chains. Each round is one shuffle join on node
    id plus a partial+final min aggregation; the convergence check is a
    count of changed labels (bounded driver data: one long). At 100 TB
    the per-round shuffle is on (node, label) pairs only — never
    documents.

    Each round's labels are ``localCheckpoint``-ed, not just cached:
    caching truncates *execution* but the logical plan still nests the
    previous round's plan twice (propagate + union), so the lineage —
    and with it optimizer time and the plan-description string Spark
    builds for every action — grows exponentially with the iteration
    count (observed: a 15-round chain graph spent >17 min inside
    ``explainString`` before the fix). Checkpointing resets the plan to
    a leaf each round — the standard practice for iterative DataFrame
    algorithms (GraphFrames does the same). On a real cluster prefer
    reliable ``checkpoint()`` if executor loss matters mid-algorithm.
    """
    edges = (
        pairs.select(F.col(doc_a).alias("s"), F.col(doc_b).alias("t"))
        .union(pairs.select(F.col(doc_b).alias("s"), F.col(doc_a).alias("t")))
        .distinct()
        # read once per round: persist, with GC-driven cleanup (lazy —
        # round 1's convergence aggregate materializes both tables)
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lab"))
        .localCheckpoint(eager=False)
    )
    # Convergence check (r10 round-overhead fix, guide §1.2): min-label
    # propagation only ever DECREASES a label, so the label column's
    # total is strictly monotone and the fixpoint is exactly "sum
    # unchanged" — one shuffle-free aggregate instead of the r9 shape's
    # per-round join of consecutive label tables. With a LAZY
    # localCheckpoint the aggregate is also the action that
    # materializes the round's checkpoint (the agg scans every
    # partition), so each round runs ONE job where the r9 shape ran two
    # (eager checkpoint + join-count). DECIMAL(38,0) keeps the sum
    # exact for any BIGINT id universe at any node count.
    def _lab_sum(lb: DataFrame):
        return lb.agg(
            F.sum(F.col("lab").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = None
    for _ in range(max_iterations):
        prop = edges.join(
            labels.withColumnRenamed("id", "s"), "s"
        ).select(F.col("t").alias("id"), "lab")
        labels = (
            labels.union(prop)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"))
        ).localCheckpoint(eager=False)
        new_sum = _lab_sum(labels)
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # returning silently-wrong components is worse than failing:
        # propagation needs diameter rounds, so a graph deeper than the
        # bound must go to a round-logarithmic variant
        raise RuntimeError(
            f"duplicate_components did not converge in {max_iterations} "
            "rounds (graph diameter exceeds the bound); use "
            "duplicate_components_twophase or "
            "duplicate_components_shortcut for high-diameter graphs"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("lab").alias("component_id")
    )


def duplicate_components_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`duplicate_components`: transitive closure
    via a recursive CTE over the same pair set."""
    return f"""
WITH RECURSIVE
p AS ({pairs_sql}),
nodes AS (
  SELECT doc_a AS id FROM p UNION SELECT doc_b FROM p
),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM p
  UNION ALL
  SELECT doc_b, doc_a FROM p
),
reach(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.t, r.lab FROM reach r JOIN edges e ON e.s = r.id
)
SELECT id AS doc_id, MIN(lab) AS component_id FROM reach GROUP BY id
"""


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    doc_id: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Deduplicated corpus ids: DataFrame[doc_id] keeping, per duplicate
    component, only the min-id representative; docs in no component pass
    through. The end-to-end output of a near-dup pipeline
    (pairs → components → survivors).

    ``components``: a precomputed ``duplicate_components(pairs)`` table
    — pass it when a composed pipeline needs the closure MORE than once
    (survivors + leakage splits both consume it; the 10M-doc composed
    stress measured the duplicated closure at 87 s / 15 GiB shuffle of
    pure waste — tools/pipeline_stress.py, STRESS.md r8). At scale
    prefer :func:`duplicate_components_shortcut` as the generator:
    identical output (0 mismatches at 7M nodes), 2.1× faster there."""
    comp = components if components is not None else duplicate_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component_id")).select(
        "doc_id"
    )
    return docs.select(F.col(doc_id).alias("doc_id")).join(
        losers, "doc_id", "left_anti"
    )


def dedup_survivors_quality(
    scores: DataFrame, pairs: DataFrame, score_col: str = "score_micro"
) -> DataFrame:
    """Quality-ranked near-dup survivors: DataFrame[doc_id, score_micro,
    n_dups] — per duplicate component keep the HIGHEST-quality member
    (ties -> min doc_id) with the component size it represents; docs in
    no component pass through with n_dups = 1.

    The production survivor rule: min-id (:func:`dedup_survivors`) is
    the benchmark convention, but a real curation pipeline keeps the
    best document of each near-dup cluster, not an arbitrary one —
    cf. the cleaning policies around Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better").

    ``scores`` must cover every document (doc_id, <score_col> integer —
    float scores should be pre-scaled to micro units so the argmax is
    exact). Scale shape: components and scores join on their keys only
    (never text), the per-component argmax is two grouped aggregations
    (map-side combined), and nothing is collected or broadcast — the
    number of components is corpus-sized.
    """
    comp = duplicate_components(pairs)
    member = comp.join(scores, "doc_id").select(
        "doc_id", "component_id", F.col(score_col).alias("_score")
    )
    best = member.groupBy("component_id").agg(
        F.max("_score").alias("_best"),
        F.count("*").cast("long").alias("n_dups"),
    )
    winner = (
        member.join(best, "component_id")
        .where(F.col("_score") == F.col("_best"))
        .groupBy("component_id", "n_dups")
        .agg(F.min("doc_id").alias("_survivor"))
    )
    losers = (
        member.join(
            winner.select("component_id", "_survivor"), "component_id"
        )
        .where(F.col("doc_id") != F.col("_survivor"))
        .select("doc_id")
    )
    return (
        scores.select("doc_id", score_col)
        .join(losers, "doc_id", "left_anti")
        .join(
            winner.select(
                F.col("_survivor").alias("doc_id"), "n_dups"
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            score_col,
            F.coalesce("n_dups", F.lit(1)).cast("long").alias("n_dups"),
        )
    )


def dedup_survivors_quality_sql(pairs_sql: str, scores_sql: str) -> str:
    """DuckDB twin of :func:`dedup_survivors_quality` over the same
    pair generator and score table (scores_sql must yield
    (doc_id, score_micro))."""
    return f"""
WITH comp AS ({duplicate_components_sql(pairs_sql)}),
q AS ({scores_sql}),
member AS (
  SELECT c.doc_id, c.component_id, q.score_micro
  FROM comp c JOIN q USING (doc_id)
),
best AS (
  SELECT component_id, MAX(score_micro) AS best,
         CAST(COUNT(*) AS BIGINT) AS n_dups
  FROM member GROUP BY component_id
),
winner AS (
  SELECT m.component_id, b.n_dups, MIN(m.doc_id) AS survivor
  FROM member m
  JOIN best b ON m.component_id = b.component_id
            AND m.score_micro = b.best
  GROUP BY m.component_id, b.n_dups
)
SELECT q.doc_id, q.score_micro,
       CAST(COALESCE(w.n_dups, 1) AS BIGINT) AS n_dups
FROM q LEFT JOIN winner w ON q.doc_id = w.survivor
WHERE q.doc_id NOT IN (
  SELECT m.doc_id FROM member m
  JOIN winner w ON m.component_id = w.component_id
  WHERE m.doc_id <> w.survivor
)
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", hash_mode: str = "md5"
) -> DataFrame:
    """60-bit SimHash per document: DataFrame[doc_id, simhash].

    bit b of the signature = 1 iff Σ_tokens (2·bit_b(hash60(token)) − 1) > 0.
    Distinct tokens weighted once (set semantics) — keeps the SQL twin
    simple and the operator deterministic.

    ``hash_mode``: "md5" (oracle parity, the SQL twin's hash) or
    "xxhash64" (production — JVM-intrinsic, severalfold cheaper on the
    per-token hot path; signatures differ from md5's but the operator's
    near-dup semantics are identical). The md5 digest dominated this
    operator's wall at sf0.1, so production corpora should pass
    "xxhash64".
    """
    token_bits = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(normalized(F.col(text_col)), " "),
                        lambda t: t != F.lit(""),
                    )
                )
            ).alias("tok"),
        )
        .select("doc_id", hash60(F.col("tok"), hash_mode).alias("h"))
    )
    bit_sums = [
        F.sum(
            (F.shiftright(F.col("h"), b) % 2) * 2 - 1
        ).alias(f"_b{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = token_bits.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_b{b}") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash_signatures_sql() -> str:
    toks = (
        "list_filter(string_split("
        "trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' '), "
        "t -> t <> '')"
    )
    h = hash60_sql("tok")
    bit_sums = ", ".join(
        f"SUM(((h // {2**b}) % 2) * 2 - 1) AS _b{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN _b{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tb AS (
  SELECT doc_id, unnest(list_distinct({toks})) AS tok FROM documents
),
hs AS (SELECT doc_id, {h} AS h FROM tb),
per_doc AS (SELECT doc_id, {bit_sums} FROM hs GROUP BY doc_id)
SELECT doc_id, {sig} AS simhash FROM per_doc
"""


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    hash_mode: str = "md5",
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-duplicate pairs: DataFrame[doc_a, doc_b, hamming].

    Band-of-bits blocking: the 60-bit signature splits into 4 × 15-bit
    bands; any pair within Hamming distance 3 matches on at least one
    band (pigeonhole), so the join is equi on (band, band_value) and the
    exact popcount(xor) filter runs only within buckets.

    ``hash_mode``: see :func:`simhash_signatures` — "xxhash64" for
    production corpora, "md5" (default) for oracle parity.

    ``max_bucket``: super-bucket guard (:data:`LSH_MAX_BUCKET`) —
    a band value shared by more than this many docs contributes no
    candidates (its pairs would be |bucket|^2); with it the pigeonhole
    completeness bound holds only for pairs outside dropped buckets,
    which at production scale are exact-duplicate boilerplate the
    O(n) hash-dedup path absorbs. ``None`` disables.
    """
    sigs = simhash_signatures(docs, text_col, hash_mode)
    n_bands = 4
    width = SIMHASH_BITS // n_bands  # 15 bits
    bucketed = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col("simhash"), b * width)
                            % F.lit(2**width)
                        ).alias("bval"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.bval").alias("bval"),
    )
    if max_bucket is not None:
        bucketed = _drop_super_buckets(
            bucketed, ["band", "bval"], max_bucket
        )
    left = bucketed.select(
        "band", "bval", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    right = bucketed.select(
        "band", "bval", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
    )
    # hamming filter BEFORE distinct: multi-band collisions duplicate
    # pairs up to 4×, and far pairs dominate the candidate set — filtering
    # first shrinks the dedup shuffle by the full rejection rate
    return (
        left.join(right, ["band", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(
                F.col("sig_a").bitwiseXOR(F.col("sig_b"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_pairs_sql(
    max_hamming: int = 3, max_bucket: int | None = LSH_MAX_BUCKET
) -> str:
    n_bands, width = 4, SIMHASH_BITS // 4
    sig_sql = simhash_signatures_sql()
    structs = ", ".join(
        f"{{'band': {b}, 'bval': (simhash // {2 ** (b * width)}) % {2**width}}}"
        for b in range(n_bands)
    )
    cap = "" if max_bucket is None else f""",
over AS (
  SELECT band, bval FROM bucketed
  GROUP BY 1, 2 HAVING COUNT(*) > {max_bucket}
),
kept AS (
  SELECT b.* FROM bucketed b ANTI JOIN over o USING (band, bval)
)"""
    src = "bucketed" if max_bucket is None else "kept"
    return f"""
WITH sigs AS ({sig_sql}),
bucketed AS (
  SELECT doc_id, simhash, unnest([{structs}], recursive := true) FROM sigs
){cap}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM {src} a JOIN {src} b
  ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    ngram: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Pairs with n-gram-set Jaccard ≥ threshold:
    DataFrame[doc_a, doc_b, jaccard (rounded 6dp)].

    Inverted-index join: explode distinct shingle hashes, self-join on the
    shingle, count intersections per pair; union = |A| + |B| − ∩.

    Exact pruning: shingles with document frequency 1 cannot contribute
    to any pair, so they are dropped from the join (not from the per-doc
    set sizes). On natural corpora this removes the long unique-shingle
    tail — most of the posting-list volume.
    """
    # read 3× (sizes, df-prune, join); localCheckpoint so the blocks are
    # freed on GC instead of living until session end like cache() would
    sh = _shingle_hashes(docs, text_col, ngram).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("nsh"))
    shared = sh.groupBy("x").agg(F.count("*").alias("_df")).where(
        F.col("_df") >= 2
    )
    pruned = sh.join(shared.select("x"), "x", "left_semi")
    left = pruned.select(F.col("doc_id").alias("doc_a"), "x")
    right = pruned.select(F.col("doc_id").alias("doc_b"), "x")
    inter = (
        left.join(right, "x")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nb"))
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(jac >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def ngram_jaccard_pairs_sql(threshold: float = 0.5, ngram: int = 3) -> str:
    toks = (
        "list_filter(string_split("
        "trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' '), "
        "t -> t <> '')"
    )
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {ngram - 1}, 0) + 1),
           i -> array_to_string(t[i:i+{ngram - 1}], ' ')))) AS shingle
  FROM toks
),
xs AS (SELECT doc_id, {hash60_sql('shingle')} AS x FROM grams),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM xs GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM xs a JOIN xs b ON a.x = b.x AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) >= {threshold!r}
"""


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    threshold: float = 0.5,
    ngram: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Prefix-filtered n-gram Jaccard join — OUTPUT-IDENTICAL to
    :func:`ngram_jaccard_pairs` (same schema, same rows, same oracle),
    with the inverted index shrunk by the PPJoin prefix-filtering
    principle (Xiao et al., WWW 2008; Bayardo et al., WWW 2007).

    Order every document's shingles by GLOBAL rarity (ascending document
    frequency, hash as tie-break — a total order) and index only the
    first ``p = n − ⌈t·n⌉ + 1`` of each document's ``n``. Lossless: a
    pair with Jaccard ≥ t shares ≥ ⌈t·max(na, nb)⌉ shingles, so its
    EARLIEST common shingle in the global order must fall inside both
    prefixes (if it didn't, the ≥ p earlier, non-shared entries would
    leave fewer than the required overlap). Candidates = prefix-prefix
    join; each candidate is then verified EXACTLY on the full shingle
    sets (array_intersect on the per-doc sets, bounded by doc length).

    Why this is the 100 TB shape while the baseline is the small-corpus
    shape: the baseline joins the full index, so a stop-shingle
    appearing in df documents contributes df² candidate rows — natural
    corpora have many such shingles. Rarity ordering pushes exactly
    those to the END of every document, so they almost never enter a
    prefix: posting-list volume drops to ~(1−t)·Σ|d| and the df²
    blow-ups vanish. The df≥2 prune composes (df-1 shingles cannot
    match anything).
    """
    from pyspark.sql import Window

    sh = _shingle_hashes(docs, text_col, ngram).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("nsh"))
    dfreq = sh.groupBy("x").agg(F.count("*").alias("_df"))
    # ceil(t·n) with a tiny epsilon so float noise can only LENGTHEN the
    # prefix (shorter-than-exact prefixes would drop true pairs)
    p_len = F.col("nsh") - F.ceil(
        F.col("nsh") * F.lit(threshold) - F.lit(1e-9)
    ) + 1
    prefixes = (
        sh.join(dfreq, "x")
        .where(F.col("_df") >= 2)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("_df").asc(), F.col("x").asc()
                )
            ),
        )
        .join(sizes, "doc_id")
        .where(F.col("rnk") <= p_len)
        .select("doc_id", "x")
    )
    cand = (
        prefixes.select(F.col("doc_id").alias("doc_a"), "x")
        .join(prefixes.select(F.col("doc_id").alias("doc_b"), "x"), "x")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("x")).alias("xs"),
        F.count("*").alias("nsh"),
    )
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("xs").alias("xa"),
        F.col("nsh").alias("na"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("xs").alias("xb"),
        F.col("nsh").alias("nb"),
    )
    inter = F.size(F.array_intersect("xa", "xb")).cast("long")
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(jac >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Duplicate-graph centrality: deterministic integer PageRank
# ---------------------------------------------------------------------------

PR_SCALE = 10**12
PR_DAMPING_PCT = 85
PR_ITERATIONS = 6


def pagerank_integer(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
    damping_pct: int = PR_DAMPING_PCT,
) -> DataFrame:
    """PageRank over the (undirected) duplicate-pair graph in EXACT
    integer arithmetic: DataFrame[doc_id, rank_scaled] with ranks as
    BIGINTs scaled by ``scale``.

    Centrality on the near-dup graph is the canonical-representative
    signal (rank duplicates by connectivity, keep the hub) — and the
    engine's demonstration that *iterative numeric* algorithms can be
    oracle-exact: every update is floor division and BIGINT sums
    (``rank div degree`` fan-out, ``(damping·Σ)div 100`` combine), so
    there is no float-summation-order hazard at all and DuckDB unrolls
    the same recurrence to the same bits. The floors leak a little
    probability mass (< 1 ulp of scale per node per round) — this is a
    deterministic PageRank *variant*, documented as such; ranks ORDER
    the same way the float algorithm's would for any separation above
    the leak.

    Shape per round: one shuffle join of (node, rank) onto edges +
    a partial+final BIGINT sum keyed by target — the CC loop's cost
    model — with per-round ``localCheckpoint`` for the same
    exponential-lineage reason (see :func:`duplicate_components`).
    Nodes are those appearing in ≥ 1 pair (degree ≥ 1, no dangling
    mass). ``iterations`` is fixed, not convergence-tested: the oracle
    unrolls exactly that many rounds.
    """
    edges = (
        pairs.select(F.col(doc_a).alias("s"), F.col(doc_b).alias("t"))
        .union(
            pairs.select(F.col(doc_b).alias("s"), F.col(doc_a).alias("t"))
        )
        .distinct()
        .localCheckpoint()
    )
    deg = edges.groupBy("s").agg(F.count("*").cast("long").alias("deg"))
    n = deg.count()  # bounded driver scalar (one long), like CC's check
    base = ((100 - damping_pct) * scale) // (100 * n)
    rank = deg.select(
        F.col("s").alias("id"), F.lit(scale // n).alias("rank")
    ).localCheckpoint()
    for _ in range(iterations):
        contrib = (
            edges.join(rank, edges.s == rank.id)
            .join(deg, "s")
            .select("t", F.expr("rank div deg").alias("c"))
            .groupBy("t")
            .agg(F.sum("c").alias("total"))
        )
        ids = deg.select(F.col("s").alias("id"))
        rank = (
            ids.join(contrib, ids.id == contrib.t, "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"(CAST({damping_pct} AS BIGINT)"
                        " * coalesce(total, CAST(0 AS BIGINT))) div 100"
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return rank.select(
        F.col("id").alias("doc_id"), F.col("rank").alias("rank_scaled")
    )


def pagerank_integer_sql(
    pairs_sql: str,
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
    damping_pct: int = PR_DAMPING_PCT,
) -> str:
    """DuckDB twin of :func:`pagerank_integer`: the fixed-round
    recurrence UNROLLED into one CTE per iteration (aggregation inside
    a recursive CTE's step is not portable SQL; unrolling is — and the
    round count is part of the operator's contract)."""
    rounds = []
    prev = "pr0"
    for k in range(1, iterations + 1):
        rounds.append(f"""
pr{k} AS (
  SELECT d.s AS id,
         (SELECT base FROM params)
         + ({damping_pct}::BIGINT * COALESCE(SUM(p.rank // dd.deg), 0))
           // 100 AS rank
  FROM deg d
  LEFT JOIN edges e ON e.t = d.s
  LEFT JOIN {prev} p ON p.id = e.s
  LEFT JOIN deg dd ON dd.s = e.s
  GROUP BY d.s
)""")
        prev = f"pr{k}"
    return f"""
WITH
p AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM p
  UNION
  SELECT doc_b, doc_a FROM p
),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY s),
params AS (
  SELECT CAST(({100 - damping_pct} * {scale}::BIGINT)
              // (100 * COUNT(*)) AS BIGINT) AS base,
         CAST({scale}::BIGINT // COUNT(*) AS BIGINT) AS r0
  FROM deg
),
pr0 AS (SELECT s AS id, (SELECT r0 FROM params) AS rank FROM deg),
{','.join(rounds)}
SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank_scaled FROM {prev}
"""


# ---------------------------------------------------------------------------
# Duplicate-graph triangle counting (degree-oriented, each triangle once)
# ---------------------------------------------------------------------------


def triangle_counts(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
) -> DataFrame:
    """Per-node triangle participation over the undirected duplicate
    graph: DataFrame[doc_id, n_triangles] for every node in >= 1
    triangle. Triangle density separates genuine duplicate CLUSTERS
    (near-cliques: one document copied many times) from chains of
    borderline pairwise matches — the standard confidence signal on top
    of the CC components (x_dedup_components gives membership, this
    gives cohesion).

    Plan: the degree-orientation trick (Cohen's MapReduce triangle
    counting / the "compact-forward" algorithm). Orient every canonical
    edge from its lower endpoint in the total order ord(n) = (deg(n),
    n); each triangle {x,y,z} with ord x < y < z then appears as
    exactly one wedge (x->y, x->z) closed by (y->z). Out-degrees under
    this orientation are O(sqrt(m)), so the wedge join's fan-out is
    O(m^1.5) worst-case instead of the naive sum of deg^2 — the
    difference between a star node of degree d contributing d^2 wedges
    and contributing 0. Three shuffles total (degree agg, wedge self-
    join on src, closure join on (dst_lo, dst_hi)); no driver state.

    The reference has no graph operators at all; this extends the CC /
    PageRank family (dedup.py:242,717) the way a curation pipeline
    ranks duplicate clusters by cohesion.
    """
    # checkpoint the edge list: the wedge join references it four times
    # (degrees, two join sides, closure) — without this the upstream
    # pair generator (e.g. the whole MinHash pipeline) replays per
    # reference. Bounded: two longs per edge.
    e = _canonical_edges(pairs, doc_a, doc_b).localCheckpoint(eager=False)
    tri = _oriented_triangles(e, n_edges=e.count())
    # one explode, not a 3-way union: a union re-enumerates the full
    # triangle set once per branch (see ktruss_edges)
    nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("doc_id")
    )
    return nodes.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def _canonical_edges(
    pairs: DataFrame, doc_a: str = "doc_a", doc_b: str = "doc_b"
) -> DataFrame:
    """Distinct undirected edges as (u, v) with u < v, self-loops out."""
    return (
        pairs.select(
            F.least(doc_a, doc_b).alias("u"),
            F.greatest(doc_a, doc_b).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


_TRIANGLE_BROADCAST_EDGE_LIMIT = 5_000_000


def _oriented_triangles(
    e: DataFrame, n_edges: int | None = None
) -> DataFrame:
    """Each triangle exactly once as (a, b, c), via the degree-oriented
    wedge join described in :func:`triangle_counts`.

    ``n_edges``: pass the (checkpointed) edge count when known. When
    the edge list is small enough to replicate
    (<= ``_TRIANGLE_BROADCAST_EDGE_LIMIT``), the degree table, the
    wedge build side, and — critically — the CLOSURE side are
    broadcast: the wedge stream (the O(m^1.5) term, far bigger than
    the edge list) then pipelines straight into a broadcast-probe +
    partial aggregation instead of being exchanged AND sorted on
    (y, z) for a sort-merge join. The edge inputs are localCheckpoints
    with no table statistics, so Spark's auto-broadcast never fires on
    its own here. Above the limit (billions of edges at 100 TB) the
    plan falls back to the shuffled joins, which is the only correct
    choice when the edge list itself cannot be replicated."""
    small = (
        n_edges is not None and n_edges <= _TRIANGLE_BROADCAST_EDGE_LIMIT
    )
    bc = F.broadcast if small else (lambda df: df)
    deg = (
        e.select(F.col("u").alias("n"))
        .union(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    du = bc(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")))
    dv = bc(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")))
    lower_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_is_u, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_is_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(lower_is_u, F.col("dv")).otherwise(F.col("du")).alias("dd"),
        )
    )
    e1 = oriented.select(
        F.col("src"), F.col("dst").alias("y"), F.col("dd").alias("dy")
    )
    if small:
        # the whole wedge stream pipelines through broadcast probes in
        # ONE stage, so its balance is fixed by e1's partitioning —
        # round-robin the (tiny) edge list first, or hub-heavy input
        # partitions serialize the O(m^1.5) fan-out on a few cores
        e1 = e1.repartition(e1.sparkSession.sparkContext.defaultParallelism * 2)
    e2 = oriented.select(
        F.col("src"), F.col("dst").alias("z"), F.col("dd").alias("dz")
    )
    wedges = e1.join(bc(e2), "src").where(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closure = oriented.select(
        F.col("src").alias("y"), F.col("dst").alias("z")
    )
    return wedges.join(bc(closure), ["y", "z"]).select(
        F.col("src").alias("a"), F.col("y").alias("b"), F.col("z").alias("c")
    )


def triangle_counts_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`triangle_counts`. Enumerates each triangle
    once by sorted NODE ids (e1=(x,y), e2=(y,z), e3=(x,z) with x<y<z)
    rather than by the degree order — a different traversal of the same
    triangle set, so the per-node counts are identical; degree
    orientation is a distributed-fan-out optimization, not a semantic
    one."""
    return f"""
WITH p AS ({pairs_sql}),
e AS (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM p WHERE doc_a <> doc_b
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
nodes AS (
  SELECT a AS doc_id FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY doc_id
"""


def dup_cluster_report(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
) -> DataFrame:
    """Per-duplicate-cluster cohesion report: DataFrame[component_id,
    n_docs, n_edges, n_triangles, density(6dp)].

    The composition the graph family exists for: connected components
    give cluster MEMBERSHIP, edge count and triangle count give cluster
    COHESION — a near-clique (density → 1, triangles ~ n³) is one
    document copied many times and safe to collapse to one survivor; a
    sparse chain (density → 2/n, zero triangles) is a run of borderline
    pairwise matches that deserves review before deletion. One row per
    cluster, so the output is tiny at any corpus scale; the cost is the
    CC loop + the oriented triangle join, both already bounded.
    """
    # replay guard: materialize the edge list once, then feed the SAME
    # checkpointed frame to the CC loop, the triangle join, and the
    # per-cluster edge counts — the upstream pair generator (e.g. the
    # whole MinHash pipeline) runs exactly once
    e = _canonical_edges(pairs, doc_a, doc_b).localCheckpoint()
    comp = duplicate_components(
        e.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    )
    tri = _oriented_triangles(e, n_edges=e.count())
    sizes = comp.groupBy("component_id").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    ecnt = (
        e.join(
            comp.select(F.col("doc_id").alias("u"), "component_id"), "u"
        )
        .groupBy("component_id")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    tcnt = (
        tri.join(
            comp.select(F.col("doc_id").alias("a"), "component_id"), "a"
        )
        .groupBy("component_id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        sizes.join(ecnt, "component_id")
        .join(tcnt, "component_id", "left")
        .select(
            "component_id",
            "n_docs",
            "n_edges",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.round(
                F.lit(2.0)
                * F.col("n_edges")
                / (F.col("n_docs") * (F.col("n_docs") - F.lit(1))),
                6,
            ).alias("density"),
        )
    )


def dup_cluster_report_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`dup_cluster_report`: recursive-CTE
    components + sorted-id triangle enumeration, same aggregate
    expressions (single float division, rounded 6dp)."""
    return f"""
WITH
comp AS ({duplicate_components_sql(pairs_sql)}),
p AS ({pairs_sql}),
e AS (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM p WHERE doc_a <> doc_b
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
sizes AS (
  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM comp GROUP BY component_id
),
ecnt AS (
  SELECT c.component_id, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM e JOIN comp c ON c.doc_id = e.u GROUP BY c.component_id
),
tcnt AS (
  SELECT c.component_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM tri JOIN comp c ON c.doc_id = tri.a GROUP BY c.component_id
)
SELECT s.component_id, s.n_docs, ecnt.n_edges,
       CAST(COALESCE(tcnt.n_triangles, 0) AS BIGINT) AS n_triangles,
       ROUND(2.0 * ecnt.n_edges / (s.n_docs * (s.n_docs - 1)), 6)
         AS density
FROM sizes s
JOIN ecnt USING (component_id)
LEFT JOIN tcnt USING (component_id)
"""


# ---------------------------------------------------------------------------
# k-core decomposition (fixed k, peel to fixed point)
# ---------------------------------------------------------------------------

KCORE_MAX_ROUNDS = 20


def kcore_nodes(
    pairs: DataFrame,
    k: int = 3,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iterations: int = KCORE_MAX_ROUNDS,
) -> DataFrame:
    """Nodes of the k-core (the maximal subgraph where every node has
    degree ≥ k): DataFrame[doc_id, degree] with the node's degree
    INSIDE the core.

    The peeling fixed point: repeatedly drop nodes whose current degree
    is < k; what survives is the k-core (unique, order-independent —
    Matula & Beck's classic result, which is why the parallel
    delete-all-weak-nodes-at-once rounds below land on the same answer
    as sequential peeling). On the duplicate graph the 3-core is the
    "hard kernel" of a duplicate cluster — nodes tied into at least
    three mutual near-dup relations — a stronger collapse-safe signal
    than triangle membership alone.

    Per round: one degree aggregation + two semi-joins to keep edges
    whose BOTH endpoints stay; ``localCheckpoint`` per round (the CC
    loop's lineage rule). Raises after ``max_iterations`` rounds
    without convergence so the unrolled-round oracle can never silently
    diverge from a still-peeling computation; converged rounds are
    idempotent, so an oracle that unrolls MORE rounds than the engine
    needed computes the identical fixed point.
    """
    e = _canonical_edges(pairs, doc_a, doc_b).localCheckpoint(eager=False)
    # r10 made each round ONE job (lazy checkpoints + a combined
    # total/weak aggregate); r11 chains rounds lazily in windows of
    # ITER_UNROLL with one boundary aggregate (guide §1.2). Peel
    # rounds past the fixpoint are no-ops (no weak nodes → the
    # semi-joins keep every edge and the recomputed degrees are
    # identical), so the boundary's degree table carries the fixpoint
    # values whatever the overshoot.
    rounds_done = 0
    while rounds_done < max_iterations:
        for _ in range(min(ITER_UNROLL, max_iterations - rounds_done)):
            deg = (
                e.select(F.col("u").alias("n"))
                .union(e.select(F.col("v").alias("n")))
                .groupBy("n")
                .agg(F.count("*").cast("long").alias("deg"))
            ).localCheckpoint(eager=False)
            strong = deg.where(F.col("deg") >= k).select("n")
            e = (
                e.join(
                    strong.withColumnRenamed("n", "u"), "u", "left_semi"
                )
                .join(strong.withColumnRenamed("n", "v"), "v", "left_semi")
                .select("u", "v")
                .localCheckpoint(eager=False)
            )
            rounds_done += 1
        row = deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum(
                F.when(F.col("deg") < k, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_weak"),
        ).collect()[0]
        if (row["n_weak"] or 0) == 0:
            return deg.select(
                F.col("n").alias("doc_id"), F.col("deg").alias("degree")
            )
    raise RuntimeError(
        f"kcore_nodes: no fixed point after {max_iterations} rounds "
        "(raise max_iterations; the oracle unrolls the same bound)"
    )


def kcore_nodes_sql(
    pairs_sql: str, k: int = 3, rounds: int = KCORE_MAX_ROUNDS
) -> str:
    """DuckDB twin of :func:`kcore_nodes`: the peel unrolled into
    ``rounds`` CTE pairs (degree, filtered edges). Safe because the
    engine RAISES if it needs more than ``rounds`` rounds, and a
    converged edge set is a fixed point of further rounds."""
    # every round MATERIALIZED: e_{i} references e_{i-1} three times
    # (degree count twice via the union, filter once) — inlined CTEs
    # would re-expand the whole prefix 3^rounds times
    ctes = []
    prev = "e0"
    for i in range(1, rounds + 1):
        ctes.append(f"""
d{i} AS MATERIALIZED (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev}
  ) GROUP BY n
),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN d{i} a ON a.n = e.u AND a.deg >= {k}
  JOIN d{i} b ON b.n = e.v AND b.deg >= {k}
)""")
        prev = f"e{i}"
    # AS MATERIALIZED: without it DuckDB inlines the pair-generator CTE
    # into every unrolled round — 20 re-reads of the corpus (observed as
    # a too-many-open-files failure), vs one materialized edge list
    return f"""
WITH p AS MATERIALIZED ({pairs_sql}),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM p WHERE doc_a <> doc_b
),
{','.join(ctes)}
SELECT n AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
  SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev}
) GROUP BY n
"""


MIS_MAX_ROUNDS = 12


def mis_nodes(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    seed: int = 0,
    max_iterations: int = MIS_MAX_ROUNDS,
) -> DataFrame:
    """Deterministic Luby maximal independent set over the duplicate
    graph: DataFrame[doc_id, round] — no two selected docs are
    near-dups, and no further doc can be added (every non-member has a
    selected neighbor). On a near-dup graph the MIS is a *diverse
    representative* pick: a maximal set of pairwise-dissimilar docs,
    the graph-exact counterpart of SemDeDup's one-per-cluster rule
    (clusters with internal structure contribute several mutually
    non-adjacent representatives, not just one).

    Luby's algorithm (Luby, SICOMP'86) with the engine's counter-based
    PRNG: node v's priority is the md5 60-bit hash of (seed, v), so
    every round is a pure function of the graph — deterministic,
    order-free, and reproducible in SQL (the oracle unrolls the same
    rounds). Per round, a node joins the MIS iff its priority is
    STRICTLY below every active neighbor's; winners and their
    neighbors leave the active set. Isolated active nodes have an
    empty neighbor min and win immediately. A hash tie between
    neighbors (an md5 collision) merely defers both nodes — no wrong
    answer is possible; total deadlock would trip the round bound,
    which RAISES so the unrolled oracle can never silently diverge.
    Expected rounds are O(log n); edges carry both endpoint priorities
    so each round is two aggregations and two semi-join filters, with
    per-round ``localCheckpoint`` (the CC loop's lineage rule).
    """
    pri = lambda c: hash60(  # noqa: E731
        F.concat_ws("-", F.lit("mis"), F.lit(str(seed)), c.cast("string"))
    )
    e0 = _canonical_edges(pairs, doc_a, doc_b)
    edges = e0.select(
        "u", "v", pri(F.col("u")).alias("hu"), pri(F.col("v")).alias("hv")
    ).localCheckpoint()
    nodes = (
        edges.select(F.col("u").alias("n"), F.col("hu").alias("h"))
        .union(edges.select("v", "hv"))
        .distinct()
        .localCheckpoint()
    )
    spark = pairs.sparkSession
    mis = spark.createDataFrame([], "doc_id long, round long")
    # r10 round-overhead fix (guide §1.2): TWO count jobs per round
    # (winners, then surviving nodes) — each doubles as the
    # materializing action of the round's lazy checkpoints (counts
    # scan every partition; the isEmpty probes they replace stop at
    # the first non-empty partition and would leave a lazy checkpoint
    # partial). The r9 shape paid up to 7 jobs per round: two isEmpty
    # probes + five eager checkpoints.
    # r11 (guide §1.2): rounds chain lazily in windows of ITER_UNROLL;
    # the boundary active-node count materializes the window's chain.
    # Every productive round strictly shrinks the active set (>= 1
    # winner leaves), so "boundary count unchanged and nonzero" ⟺ a
    # total neighbor-hash-tie deadlock (the old per-round
    # zero-winners break), and rounds past convergence/deadlock are
    # no-ops on an unchanged (or empty) active set.
    n_active = nodes.count()
    rnd = 0
    rounds_done = 0
    while n_active > 0 and rounds_done < max_iterations:
        prev_active = n_active
        for _ in range(min(ITER_UNROLL, max_iterations - rounds_done)):
            rnd += 1
            rounds_done += 1
            nbr_min = (
                edges.select(
                    F.col("u").alias("n"), F.col("hv").alias("nh")
                )
                .union(edges.select("v", "hu"))
                .groupBy("n")
                .agg(F.min("nh").alias("min_nh"))
            )
            winners = (
                nodes.join(nbr_min, "n", "left")
                .where(
                    F.col("min_nh").isNull()
                    | (F.col("h") < F.col("min_nh"))
                )
                .select("n")
                .localCheckpoint(eager=False)
            )
            mis = mis.union(
                winners.select(
                    F.col("n").alias("doc_id"), F.lit(rnd).cast("long")
                )
            ).localCheckpoint(eager=False)
            covered = (
                winners.union(
                    edges.join(
                        winners.withColumnRenamed("n", "u"),
                        "u",
                        "left_semi",
                    ).select(F.col("v").alias("n"))
                )
                .union(
                    edges.join(
                        winners.withColumnRenamed("n", "v"),
                        "v",
                        "left_semi",
                    ).select(F.col("u").alias("n"))
                )
                .distinct()
                .localCheckpoint(eager=False)
            )
            nodes = nodes.join(covered, "n", "left_anti").localCheckpoint(
                eager=False
            )
            edges = (
                edges.join(
                    covered.withColumnRenamed("n", "u"), "u", "left_anti"
                )
                .join(
                    covered.withColumnRenamed("n", "v"), "v", "left_anti"
                )
                .localCheckpoint(eager=False)
            )
        n_active = nodes.count()
        if n_active == prev_active:
            break  # only reachable under a total neighbor hash tie
    if n_active != 0:
        raise RuntimeError(
            f"mis_nodes: active nodes remain after {max_iterations} "
            "rounds (raise max_iterations; the oracle unrolls the "
            "same bound)"
        )
    return mis


def mis_nodes_sql(
    pairs_sql: str, seed: int = 0, rounds: int = MIS_MAX_ROUNDS
) -> str:
    """DuckDB twin of :func:`mis_nodes`: the Luby rounds unrolled into
    MATERIALIZED CTEs with identical md5 priorities. Safe because the
    engine raises past the bound and converged (empty) states are
    fixed points — an exhausted active set makes later rounds no-ops."""
    pri = lambda c: hash60_sql(  # noqa: E731
        f"concat('mis', '-', '{seed}', '-', CAST({c} AS VARCHAR))"
    )
    ctes = []
    prev_nodes, prev_edges = "n0", "g0"
    sel = []
    for i in range(1, rounds + 1):
        ctes.append(f"""
m{i} AS MATERIALIZED (
  SELECT n FROM {prev_nodes} a
  WHERE NOT EXISTS (
    SELECT 1 FROM (
      SELECT u AS n, hv AS nh FROM {prev_edges}
      UNION ALL SELECT v, hu FROM {prev_edges}
    ) x WHERE x.n = a.n AND x.nh <= a.h
  )
),
c{i} AS MATERIALIZED (
  SELECT n FROM m{i}
  UNION SELECT v FROM {prev_edges} WHERE u IN (SELECT n FROM m{i})
  UNION SELECT u FROM {prev_edges} WHERE v IN (SELECT n FROM m{i})
),
n{i} AS MATERIALIZED (
  SELECT * FROM {prev_nodes} WHERE n NOT IN (SELECT n FROM c{i})
),
g{i} AS MATERIALIZED (
  SELECT * FROM {prev_edges}
  WHERE u NOT IN (SELECT n FROM c{i})
    AND v NOT IN (SELECT n FROM c{i})
)""")
        sel.append(
            f"SELECT n AS doc_id, CAST({i} AS BIGINT) AS round FROM m{i}"
        )
        prev_nodes, prev_edges = f"n{i}", f"g{i}"
    return f"""
WITH p AS MATERIALIZED ({pairs_sql}),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM p WHERE doc_a <> doc_b
),
g0 AS MATERIALIZED (
  SELECT u, v, {pri('u')} AS hu, {pri('v')} AS hv FROM e0
),
n0 AS MATERIALIZED (
  SELECT DISTINCT n, h FROM (
    SELECT u AS n, hu AS h FROM g0 UNION ALL SELECT v, hv FROM g0
  )
),
{','.join(ctes)}
{' UNION ALL '.join(sel)}
"""


DENSEST_MAX_ROUNDS = 16


def densest_subgraph(
    pairs: DataFrame,
    eps_milli: int = 0,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iterations: int = DENSEST_MAX_ROUNDS,
) -> DataFrame:
    """Approximate densest subgraph (max |E(S)|/|S|) by parallel
    peeling: DataFrame[doc_id, n_nodes, n_edges] — the members of the
    densest prefix the peel visits, with its size and edge count (the
    density is their exact ratio). On a near-dup graph this is the
    "most intensely copied core": the single community with the
    highest internal duplication rate, a stronger triage signal than
    any fixed k in k-core/k-truss because the threshold adapts to the
    graph.

    Bahmani, Kumar, Vassilvitskii (VLDB'12): each round removes EVERY
    node whose degree is <= 2(1+ε)·ρ(S) (ρ = current density) — a
    2(1+ε)-approximation of the optimum (Charikar's greedy needs n
    sequential steps; this is its MapReduce form). The min-degree
    node always qualifies (min <= avg = 2ρ), so every round strictly
    shrinks S even at the default ε=0 (the tightest factor, 2);
    ε>0 additionally guarantees O(log_{1+ε} n) rounds on
    adversarial-depth graphs — real duplicate graphs peel in a
    handful either way, and exhaustion raises loudly. The removal
    inequality is evaluated in exact integers (deg·|S|·1000 <=
    2·(1000+ε_milli)·|E|), the best round is picked by exact
    cross-multiplied density comparison (ties to the EARLIER round),
    and every round is a pure function of the graph — the DuckDB twin
    unrolls identical rounds. Average degree says some node always
    qualifies, so each round strictly shrinks S; the engine raises
    past ``max_iterations`` (the unrolled-oracle contract).

    Per round: one degree aggregation + one anti-join + two semi-join
    edge filters, ``localCheckpoint`` per round (the CC loop's lineage
    rule). Round node sets are retained as checkpointed references so
    the winner is returned without recomputation — O(rounds) handles,
    each holding only (node) rows.
    """
    spark = pairs.sparkSession
    # r10 round-overhead fix (guide §1.2): every checkpoint in the
    # peel is LAZY; the two per-round counts (edges, surviving nodes)
    # are the materializing actions, so a round costs 2 jobs where the
    # r9 shape paid 4 (the counts plus two eager checkpoints)
    e = _canonical_edges(pairs, doc_a, doc_b).localCheckpoint(
        eager=False
    )
    nodes = (
        e.select(F.col("u").alias("n"))
        .union(e.select("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rounds: list[tuple[int, int, object]] = []  # (n_edges, n_nodes, df)
    for _ in range(max_iterations + 1):
        n_edges, n_nodes = e.count(), nodes.count()
        if n_nodes == 0:
            break
        rounds.append((n_edges, n_nodes, nodes))
        if n_edges == 0:
            break
        deg = (
            e.select(F.col("u").alias("n"))
            .union(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").cast("long").alias("deg"))
        )
        # exact-integer removal rule: deg*|S|*1000 <= 2*(1000+eps)*|E|;
        # isolated nodes (deg 0 via the left join) always qualify
        keep = (
            nodes.join(deg, "n", "left")
            .where(
                F.coalesce(F.col("deg"), F.lit(0))
                * F.lit(n_nodes)
                * F.lit(1000)
                > F.lit(2 * (1000 + eps_milli) * n_edges)
            )
            .select("n")
            .localCheckpoint(eager=False)
        )
        nodes = keep
        e = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    else:
        raise RuntimeError(
            f"densest_subgraph: peel still active after "
            f"{max_iterations} rounds (raise max_iterations; the "
            "oracle unrolls the same bound)"
        )
    if not rounds:
        return spark.createDataFrame(
            [], "doc_id long, n_nodes long, n_edges long"
        )
    # exact cross-multiplied density argmax, ties to the earlier round
    best = 0
    for i in range(1, len(rounds)):
        ei, si, _ = rounds[i]
        eb, sb, _ = rounds[best]
        if ei * sb > eb * si:
            best = i
    n_edges, n_nodes, nodes = rounds[best]
    return nodes.select(
        F.col("n").alias("doc_id"),
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(n_edges).cast("long").alias("n_edges"),
    )


def densest_subgraph_sql(
    pairs_sql: str,
    eps_milli: int = 0,
    rounds: int = DENSEST_MAX_ROUNDS,
) -> str:
    """DuckDB twin of :func:`densest_subgraph`: the peel unrolled into
    MATERIALIZED round CTEs, best round by exact cross-multiplied
    density with ties to the earlier round. Safe because the engine
    raises past the bound and an empty node set is a fixed point (its
    rounds contribute no candidate rows)."""
    ctes = []
    cand = [
        "SELECT 0 AS i, (SELECT COUNT(*) FROM g0) AS e,"
        " (SELECT COUNT(*) FROM n0) AS s"
    ]
    nodes_all = ["SELECT 0 AS i, n FROM n0"]
    prev_n, prev_e = "n0", "g0"
    for i in range(1, rounds + 1):
        ctes.append(f"""
d{i} AS MATERIALIZED (
  SELECT a.n, COALESCE(x.deg, 0) AS deg
  FROM {prev_n} a LEFT JOIN (
    SELECT n, COUNT(*) AS deg FROM (
      SELECT u AS n FROM {prev_e} UNION ALL SELECT v FROM {prev_e}
    ) GROUP BY n
  ) x ON x.n = a.n
),
n{i} AS MATERIALIZED (
  SELECT n FROM d{i}
  WHERE deg * (SELECT COUNT(*) FROM {prev_n}) * 1000
        > 2 * (1000 + {eps_milli}) * (SELECT COUNT(*) FROM {prev_e})
),
g{i} AS MATERIALIZED (
  SELECT u, v FROM {prev_e}
  WHERE u IN (SELECT n FROM n{i}) AND v IN (SELECT n FROM n{i})
)""")
        cand.append(
            f"SELECT {i} AS i, (SELECT COUNT(*) FROM g{i}) AS e,"
            f" (SELECT COUNT(*) FROM n{i}) AS s"
        )
        nodes_all.append(f"SELECT {i} AS i, n FROM n{i}")
        prev_n, prev_e = f"n{i}", f"g{i}"
    return f"""
WITH p AS MATERIALIZED ({pairs_sql}),
g0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM p WHERE doc_a <> doc_b
),
n0 AS MATERIALIZED (
  SELECT DISTINCT n FROM (
    SELECT u AS n FROM g0 UNION ALL SELECT v FROM g0
  )
),
{','.join(ctes)},
cand AS ({' UNION ALL '.join(cand)}),
valid AS (SELECT * FROM cand WHERE s > 0),
best AS (
  SELECT i, e, s FROM valid r
  WHERE NOT EXISTS (
    SELECT 1 FROM valid r2
    WHERE r2.e * r.s > r.e * r2.s
       OR (r2.e * r.s = r.e * r2.s AND r2.i < r.i)
  )
),
nodes_all AS ({' UNION ALL '.join(nodes_all)})
SELECT na.n AS doc_id, CAST(best.s AS BIGINT) AS n_nodes,
       CAST(best.e AS BIGINT) AS n_edges
FROM nodes_all na JOIN best ON na.i = best.i
"""


KTRUSS_MAX_ROUNDS = 10


def ktruss_edges(
    pairs: DataFrame,
    k: int = 3,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iterations: int = KTRUSS_MAX_ROUNDS,
) -> DataFrame:
    """Edges of the k-truss (the maximal subgraph where every edge is
    supported by >= k-2 triangles): DataFrame[doc_a, doc_b, support]
    with each edge's triangle support INSIDE the truss (doc_a < doc_b).

    The truss is the edge-analog of the k-core and a strictly stronger
    cohesion filter: the 3-truss keeps only edges that close at least
    one triangle, the 4-truss only edges in >= 2 triangles, so chains
    of borderline pairwise matches fall away while copied-many-times
    near-cliques survive intact. Like the core, the k-truss is unique
    and order-independent (peeling is a monotone fixed point), so the
    parallel delete-all-weak-edges-at-once rounds below reach the same
    answer as sequential peeling.

    Plan: ONE full triangle enumeration (the degree-oriented wedge join
    from :func:`triangle_counts` — fan-out O(m^1.5), not sum-of-deg^2)
    seeds per-edge supports; every later round is INCREMENTAL — only
    triangles through just-removed edges are enumerated (common-
    neighbor join keyed on the removed edges, cost ∝ removed·avg-deg,
    not m^1.5), deduped by node triple, and their surviving edges
    decremented. Equivalence to full recomputation: a triangle of the
    previous graph either lies wholly in the kept subgraph (support
    contribution unchanged) or contains a removed edge (decremented
    exactly once via the triple dedup) — so the per-round supports are
    identical to re-enumerating, just ~m^1.5/(removed·deg) cheaper on
    the near-converged rounds real duplicate graphs spend their time
    in (measured: 271k-edge graph, 1k edges peel over 4 rounds).
    ``localCheckpoint`` per round (the CC loop's lineage rule). Rounds
    are bounded by ``max_iterations`` and the engine RAISES on
    exhaustion so the unrolled-round oracle can never silently diverge;
    a converged edge set is a fixed point of further rounds, so an
    oracle that unrolls MORE rounds computes the identical truss.

    The reference has no graph operators (this extends the CC /
    triangle / k-core family, dedup.py:245,933,1172); the composition
    a curation pipeline uses to split "collapse the whole cluster"
    decisions from "review each borderline pair" ones.
    """
    if k < 3:
        raise ValueError(
            "ktruss_edges: k must be >= 3 (the 2-truss is every edge; "
            "use the edge list itself)"
        )
    e = _canonical_edges(pairs, doc_a, doc_b).localCheckpoint(eager=False)
    n_e = e.count()
    support = triangle_supports(e, n_edges=n_e)
    kept = _truss_peel(e, support, k, max_iterations, n_edges=n_e)
    return kept.select(
        F.col("u").alias("doc_a"), F.col("v").alias("doc_b"), "support"
    )


def triangle_supports(
    e: DataFrame, n_edges: int | None = None
) -> DataFrame:
    """Full-graph per-edge triangle supports: DataFrame[u, v, support]
    for every canonical edge in >= 1 triangle (zero-triangle edges are
    absent — callers treat missing as 0). One O(m^1.5) degree-oriented
    enumeration; the support stream is a single explode per triangle,
    NOT a 3-way union of selects — the union form plants three copies
    of the wedge-join subtree in the plan, and only AQE's runtime
    stage reuse saves it from enumerating three times (clean A/B in
    STRESS.md: explode is ~15-20% faster on sf0.1's 30M triangles and
    makes the single enumeration structural rather than
    planner-dependent). The wedge join emits triangles in DEGREE
    order, so each member edge is canonicalized back to u < v.
    ``n_edges`` forwards to :func:`_oriented_triangles`'s broadcast
    gate."""
    tri = _oriented_triangles(e, n_edges=n_edges)
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"),
                    F.greatest("a", "b").alias("v"),
                ),
                F.struct(
                    F.least("a", "c").alias("u"),
                    F.greatest("a", "c").alias("v"),
                ),
                F.struct(
                    F.least("b", "c").alias("u"),
                    F.greatest("b", "c").alias("v"),
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    return tri_edges.groupBy("u", "v").agg(
        F.count("*").cast("long").alias("support")
    )


#: decrement rounds chained LAZILY per materializing boundary job
#: (r11, guide §1.2): within a window the rounds are plain lazy
#: checkpoints of each other; one aggregate at the window boundary
#: materializes the whole chain and reads (rows, kept) for the
#: convergence test. Rounds after the fixpoint are no-ops (empty
#: removed set → empty decrement join → identical scored table), so a
#: window that overshoots converges to the same values; the boundary
#: test n_rows == n_kept is exactly the old per-round n_removed == 0.
#: The same window pattern drives the k-core and MIS loops
#: (ITER_UNROLL), whose peels are also idempotent at the fixpoint.
TRUSS_UNROLL = 4
ITER_UNROLL = TRUSS_UNROLL


def _peel_round(scored: DataFrame, thr: int) -> DataFrame:
    """One decrement round of the truss peel (see :func:`_truss_peel`):
    from the scored edge table, enumerate triangles of the previous
    graph through below-threshold edges (common-neighbor join), dedup
    by node triple, decrement surviving edges. Returns the next scored
    table as a LAZY localCheckpoint."""
    kept = scored.where(F.col("support") >= thr)
    removed = scored.where(F.col("support") < thr).select("u", "v")
    # G_prev = kept ∪ removed = every edge of the scored table;
    # triangles of G_prev through a removed edge (u, v) = common
    # neighbors w of u and v.
    # (Broadcasting the small `removed` side here was measured and
    # does NOT pay: the per-round adjacency shuffles are already
    # small, and the peel wall is identical either way — see
    # STRESS.md r5. The support SEEDING is where broadcast wins.)
    gprev = scored.select("u", "v")
    adj = gprev.union(
        gprev.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("n"), F.col("v").alias("w"))
    cand = removed.join(adj, removed["u"] == adj["n"]).select(
        removed["u"], removed["v"], adj["w"]
    )
    tri_hit = cand.join(
        adj.select(F.col("n").alias("v"), F.col("w")),
        ["v", "w"],
        "left_semi",
    )
    # dedup by node triple: a triangle with 2-3 removed edges is
    # found once per removed edge but must decrement each of its
    # surviving edges exactly once
    triple = tri_hit.select(
        F.array_sort(F.array("u", "v", "w")).alias("t")
    ).distinct()
    # one explode, not a 3-way union of selects, so the candidate
    # join + distinct above runs once per round, not three times
    dec_edges = (
        triple.select(
            F.explode(
                F.array(
                    F.struct(
                        F.element_at("t", 1).alias("u"),
                        F.element_at("t", 2).alias("v"),
                    ),
                    F.struct(
                        F.element_at("t", 1).alias("u"),
                        F.element_at("t", 3).alias("v"),
                    ),
                    F.struct(
                        F.element_at("t", 2).alias("u"),
                        F.element_at("t", 3).alias("v"),
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("dec"))
    )
    return (
        kept.join(dec_edges, ["u", "v"], "left")
        .select(
            "u",
            "v",
            (
                F.col("support")
                - F.coalesce("dec", F.lit(0).cast("long"))
            ).alias("support"),
        )
        .localCheckpoint(eager=False)
    )


def _peel_stats(scored: DataFrame, thresholds: list[int]):
    """One full-scan aggregate (the window's materializing job):
    (row count, {t: count of edges with support >= t}). The row/kept
    counts at the CURRENT threshold drive convergence; the extra
    thresholds are free and let :func:`truss_decomposition` skip
    levels whose first round would remove nothing."""
    aggs = [F.count("*").alias("n")] + [
        F.sum(
            F.when(F.col("support") >= t, F.lit(1)).otherwise(F.lit(0))
        ).alias(f"ge{t}")
        for t in thresholds
    ]
    row = scored.agg(*aggs).collect()[0]
    return (row["n"] or 0), {
        t: (row[f"ge{t}"] or 0) for t in thresholds
    }


def _truss_peel_state(
    scored: DataFrame,
    k: int,
    max_iterations: int,
    n_rows: int,
    ge: dict[int, int],
    thresholds: list[int],
    unroll: int = TRUSS_UNROLL,
):
    """Window-unrolled peel from an already-scored, already-counted
    edge table: returns (scored_fixpoint, n_rows, ge) where ge carries
    kept-counts at every requested threshold (measured at the final
    boundary, i.e. over the fixpoint). Executes at most
    ``max_iterations - 1`` REAL decrement rounds (the raise-on-
    exhaustion contract of :func:`ktruss_edges` — the oracle unrolls
    the same bound); window overshoot past the fixpoint is value-free
    (no-op rounds)."""
    thr = k - 2
    rounds_done = 0
    while True:
        if n_rows - ge[thr] == 0:
            return scored, n_rows, ge
        if rounds_done >= max_iterations - 1:
            raise RuntimeError(
                f"ktruss_edges: no fixed point after {max_iterations} "
                "rounds (raise max_iterations; the oracle unrolls the "
                "same bound)"
            )
        # cap the window so the total REAL rounds never exceed the
        # contract; rounds after an in-window fixpoint are no-ops
        for _ in range(min(unroll, max_iterations - 1 - rounds_done)):
            scored = _peel_round(scored, thr)
            rounds_done += 1
        n_rows, ge = _peel_stats(scored, thresholds)


def _truss_peel(
    e: DataFrame,
    support: DataFrame,
    k: int,
    max_iterations: int = KTRUSS_MAX_ROUNDS,
    n_edges: int | None = None,
) -> DataFrame:
    """The parallel delete-all-weak-edges peel, starting from already-
    computed full-graph supports: returns DataFrame[u, v, support]
    (supports INSIDE the truss). Shared by :func:`ktruss_edges` (which
    computes supports with one full enumeration) and the streaming
    maintenance path (streaming/graph_stream.py, which maintains
    supports incrementally across micro-batches) — the peel never
    re-enumerates; every round touches only triangles through
    just-removed edges.

    ``n_edges``: pass ``e``'s row count when known. r10 made each round
    ONE job (lazy checkpoints, derived removed-counts); r11 goes
    further (guide §1.2): rounds are chained lazily in windows of
    :data:`TRUSS_UNROLL` and ONE boundary aggregate materializes the
    whole window — ~unroll× fewer driver actions and convergence-count
    stages for the same per-round shuffles (see
    :func:`_truss_peel_state`).
    """
    n_e = n_edges if n_edges is not None else e.count()
    # left join + coalesce(0): an edge in NO triangle has support
    # 0 < k-2 for every legal k, so the filter below removes it — and,
    # unlike the old inner-join form, it stays visible in `removed`
    # without a separate anti-join + checkpoint pass
    scored = (
        e.join(support, ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.coalesce("support", F.lit(0).cast("long")).alias("support"),
        )
        .localCheckpoint(eager=False)
    )
    thr = k - 2
    _, ge = _peel_stats(scored, [thr])
    scored, _, _ = _truss_peel_state(
        scored, k, max_iterations, n_e, ge, [thr]
    )
    return scored.select("u", "v", "support")


def _truss_peel_ctes(
    start: str, k: int, rounds: int, tag: str = ""
) -> tuple[list[str], str]:
    """Unrolled peel CTEs for one truss level: from edge CTE ``start``,
    ``rounds`` (triangles, support, filtered edges) triples named with
    ``tag``. Returns (ctes, final_edge_cte_name). The oracle enumerates
    each triangle once by sorted node ids (a < b < c via e1=(a,b),
    e2=(b,c), e3=(a,c)) — a different traversal of the same triangle
    set as the engine's degree orientation, so member edges and
    supports are identical. Every round MATERIALIZED for the same
    reason as :func:`kcore_nodes_sql` (3 references per round).
    """
    ctes = []
    prev = start
    for i in range(1, rounds + 1):
        ctes.append(f"""
t{tag}{i} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM {prev} e1
  JOIN {prev} e2 ON e2.u = e1.v
  JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v
),
s{tag}{i} AS MATERIALIZED (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support FROM (
    SELECT a AS u, b AS v FROM t{tag}{i}
    UNION ALL SELECT b, c FROM t{tag}{i}
    UNION ALL SELECT a, c FROM t{tag}{i}
  ) GROUP BY u, v
),
e{tag}{i} AS MATERIALIZED (
  SELECT s.u, s.v, s.support
  FROM s{tag}{i} s JOIN {prev} e ON e.u = s.u AND e.v = s.v
  WHERE s.support >= {k - 2}
)""")
        prev = f"e{tag}{i}"
    return ctes, prev


def ktruss_edges_sql(
    pairs_sql: str, k: int = 3, rounds: int = KTRUSS_MAX_ROUNDS
) -> str:
    """DuckDB twin of :func:`ktruss_edges`: the peel unrolled into
    ``rounds`` CTE triples (see :func:`_truss_peel_ctes`)."""
    ctes, prev = _truss_peel_ctes("e0", k, rounds)
    return f"""
WITH p AS MATERIALIZED ({pairs_sql}),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM p WHERE doc_a <> doc_b
),
{','.join(ctes)}
SELECT u AS doc_a, v AS doc_b, support FROM {prev}
"""


def truss_decomposition(
    pairs: DataFrame,
    kmax: int = 6,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iterations: int = KTRUSS_MAX_ROUNDS,
) -> DataFrame:
    """Per-edge TRUSSNESS, capped at ``kmax``: DataFrame[doc_a, doc_b,
    trussness] where trussness = max k with the edge in the k-truss
    (2 for edges in no triangle; ``kmax`` means "kmax or higher" — the
    documented cap, since near-clique duplicate graphs have trussness
    up to clique size).

    The full cohesion spectrum in one output — a curation pipeline
    thresholds it per decision (collapse at >= 5, review at 3) instead
    of re-running the peel per k. Cost: ONE full triangle enumeration,
    then a CHAIN of peels — the (k+1)-truss of G equals the (k+1)-truss
    of truss_k(G), and :func:`_truss_peel` returns each level's
    *inside-the-truss* supports, which are exactly the starting
    supports the next level needs, so no level ever re-enumerates.
    Level diffs label edges; rounds per level bounded by
    ``max_iterations`` with the same raise-on-exhaustion contract as
    :func:`ktruss_edges` (the oracle unrolls the same bounds).
    """
    if kmax < 3:
        raise ValueError("truss_decomposition: kmax must be >= 3")
    e = _canonical_edges(pairs, doc_a, doc_b).localCheckpoint(eager=False)
    n_e = e.count()
    support = triangle_supports(e, n_edges=n_e)
    # r11 level chaining (guide §1.2): the peel level k+1 used to
    # re-join the k-fixpoint against its own supports, re-checkpoint
    # and re-count it. The fixpoint SCORED table already is that
    # relation, and the boundary aggregate of every peel carries the
    # kept-count at EVERY level threshold (1..kmax-2, free in the same
    # job) — so level transitions are pure filter-view changes with
    # ZERO jobs, and levels whose first round would remove nothing
    # (histogram says every edge clears the next threshold) are
    # skipped outright: their fixpoint IS the current edge set and
    # their trussness diff is empty.
    thresholds = list(range(1, kmax - 1))
    scored = (
        e.join(support, ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.coalesce("support", F.lit(0).cast("long")).alias("support"),
        )
        .localCheckpoint(eager=False)
    )
    _, ge = _peel_stats(scored, thresholds)
    scored, n_rows, ge = _truss_peel_state(
        scored, 3, max_iterations, n_e, ge, thresholds
    )
    frames = [
        e.join(scored.select("u", "v"), ["u", "v"], "left_anti").select(
            "u", "v", F.lit(2).cast("long").alias("trussness")
        )
    ]
    k = 3
    while k < kmax:
        # smallest level whose threshold actually removes an edge of
        # the current fixpoint; every level below it shares this edge
        # set and contributes an empty diff
        k_star = next(
            (
                kk
                for kk in range(k + 1, kmax + 1)
                if ge.get(kk - 2, n_rows) < n_rows
            ),
            None,
        )
        if k_star is None or k_star > kmax:
            break
        prev = scored
        scored, n_rows, ge = _truss_peel_state(
            scored,
            k_star,
            max_iterations,
            n_rows,
            ge,
            thresholds,
        )
        frames.append(
            prev.select("u", "v")
            .join(scored.select("u", "v"), ["u", "v"], "left_anti")
            .select(
                "u",
                "v",
                F.lit(k_star - 1).cast("long").alias("trussness"),
            )
        )
        k = k_star
    frames.append(
        scored.select(
            "u", "v", F.lit(kmax).cast("long").alias("trussness")
        )
    )
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    return out.select(
        F.col("u").alias("doc_a"), F.col("v").alias("doc_b"), "trussness"
    )


def truss_decomposition_sql(
    pairs_sql: str, kmax: int = 6, rounds: int = KTRUSS_MAX_ROUNDS
) -> str:
    """DuckDB twin of :func:`truss_decomposition`: one unrolled peel
    chain per level k=3..kmax, each starting from the previous level's
    final edge CTE, with level diffs labelled by anti-joins."""
    all_ctes: list[str] = []
    prev = "e0"
    finals = {}
    for k in range(3, kmax + 1):
        ctes, prev = _truss_peel_ctes(prev, k, rounds, tag=f"k{k}_")
        all_ctes += ctes
        finals[k] = prev
    diffs = [
        f"""
SELECT e0.u, e0.v, CAST(2 AS BIGINT) AS trussness
FROM e0 LEFT JOIN {finals[3]} t ON t.u = e0.u AND t.v = e0.v
WHERE t.u IS NULL"""
    ]
    for k in range(3, kmax):
        diffs.append(f"""
SELECT a.u, a.v, CAST({k} AS BIGINT) AS trussness
FROM {finals[k]} a LEFT JOIN {finals[k + 1]} b
  ON b.u = a.u AND b.v = a.v
WHERE b.u IS NULL""")
    diffs.append(
        f"\nSELECT u, v, CAST({kmax} AS BIGINT) AS trussness "
        f"FROM {finals[kmax]}"
    )
    union = "\nUNION ALL".join(diffs)
    return f"""
WITH p AS MATERIALIZED ({pairs_sql}),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM p WHERE doc_a <> doc_b
),
{','.join(all_ctes)}
SELECT u AS doc_a, v AS doc_b, trussness FROM ({union})
"""


def dup_cluster_truss_report(
    pairs: DataFrame,
    k: int = 4,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
) -> DataFrame:
    """Per-cluster truss-kernel report: DataFrame[component_id, n_docs,
    n_edges, n_truss_edges, truss_frac(6dp)] — how much of each
    duplicate cluster survives the k-truss peel.

    The edge-level sequel to :func:`dup_cluster_report`: density and
    triangle count summarize cohesion globally, but the truss fraction
    localizes it — a cluster whose edges are ~all in the 4-truss is a
    hard near-clique kernel (collapse it); a large component with a
    small truss fraction is a chain/star of borderline matches welded
    to a small hard core (split the decision: collapse the kernel,
    review the fringe). Costs one CC loop + one truss peel over the
    SAME checkpointed edge list; output is one row per cluster.
    """
    e = _canonical_edges(pairs, doc_a, doc_b).localCheckpoint()
    as_pairs = e.select(
        F.col("u").alias("doc_a"), F.col("v").alias("doc_b")
    )
    comp = duplicate_components(as_pairs)
    truss = ktruss_edges(as_pairs, k=k)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    ecnt = (
        e.join(
            comp.select(F.col("doc_id").alias("u"), "component_id"), "u"
        )
        .groupBy("component_id")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )
    tcnt = (
        truss.join(
            comp.select(F.col("doc_id").alias("doc_a"), "component_id"),
            "doc_a",
        )
        .groupBy("component_id")
        .agg(F.count("*").cast("long").alias("n_truss_edges"))
    )
    return (
        sizes.join(ecnt, "component_id")
        .join(tcnt, "component_id", "left")
        .select(
            "component_id",
            "n_docs",
            "n_edges",
            F.coalesce(F.col("n_truss_edges"), F.lit(0))
            .cast("long")
            .alias("n_truss_edges"),
            F.round(
                F.coalesce(F.col("n_truss_edges"), F.lit(0)).cast(
                    "double"
                )
                / F.col("n_edges").cast("double"),
                6,
            ).alias("truss_frac"),
        )
    )


def dup_cluster_truss_report_sql(pairs_sql: str, k: int = 4) -> str:
    """DuckDB twin of :func:`dup_cluster_truss_report` (recursive-CTE
    components + the unrolled truss peel, nested as derived CTEs)."""
    return f"""
WITH
comp AS ({duplicate_components_sql(pairs_sql)}),
tr AS ({ktruss_edges_sql(pairs_sql, k)}),
p AS ({pairs_sql}),
e AS (
  SELECT DISTINCT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v
  FROM p WHERE doc_a <> doc_b
),
sizes AS (
  SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM comp GROUP BY component_id
),
ecnt AS (
  SELECT c.component_id, CAST(COUNT(*) AS BIGINT) AS n_edges
  FROM e JOIN comp c ON c.doc_id = e.u GROUP BY c.component_id
),
tcnt AS (
  SELECT c.component_id, CAST(COUNT(*) AS BIGINT) AS n_truss_edges
  FROM tr JOIN comp c ON c.doc_id = tr.doc_a GROUP BY c.component_id
)
SELECT s.component_id, s.n_docs, ecnt.n_edges,
       CAST(COALESCE(tcnt.n_truss_edges, 0) AS BIGINT) AS n_truss_edges,
       ROUND(CAST(COALESCE(tcnt.n_truss_edges, 0) AS DOUBLE)
             / CAST(ecnt.n_edges AS DOUBLE), 6) AS truss_frac
FROM sizes s
JOIN ecnt USING (component_id)
LEFT JOIN tcnt USING (component_id)
"""


def weighted_truss_edges(
    pairs: DataFrame,
    min_wsupport: int,
    weight_col: str = "n_bands",
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iterations: int = KTRUSS_MAX_ROUNDS,
) -> DataFrame:
    """Edges of the WEIGHTED truss: the maximal subgraph where every
    edge's weighted support — the sum over its triangles of each
    triangle's MIN edge weight (a triangle is only as strong as its
    weakest link) — is >= ``min_wsupport``. Returns
    DataFrame[doc_a, doc_b, wsupport] with doc_a < doc_b, wsupport
    measured INSIDE the truss.

    The weighted generalization of :func:`ktruss_edges` (which is the
    special case weight ≡ 1, min_wsupport = k-2): similarity strength
    (band collisions, inverse Hamming) participates in the cohesion
    decision, so one strong triangle can outvote two barely-matching
    ones — the graph-cohesion analog of score-thresholded dedup.
    Uniqueness: removal only ever DECREASES other edges' weighted
    support (weights are static and positive), so the delete-all-
    weak-edges-at-once rounds reach the same fixed point as sequential
    peeling, exactly the unweighted argument.

    Plan: one full O(m^1.5) degree-oriented enumeration seeds supports
    — member edges explode with a sorted node-triple key, ONE join
    against the static weight map prices all three member edges, a
    triple-keyed min prices each triangle, and collect_list + explode
    fans the triangle price back to its member edges without a second
    weight join. Later rounds are INCREMENTAL like the unweighted
    peel: only triangles through just-removed edges are enumerated
    (common-neighbor join, cost ∝ removed·avg-deg), deduped by
    triple, re-priced off the weight map, and their surviving edges
    decremented by the triangle price. Same raise-on-exhaustion
    contract; a converged edge set is a fixed point, so the unrolled
    oracle can never silently diverge.
    """
    if min_wsupport < 1:
        raise ValueError("weighted_truss_edges: min_wsupport must be >= 1")
    # canonical weighted edges; MAX collapses duplicate pair rows so
    # the weight of an unordered pair is well-defined
    # r11: the identical 1-job-per-round restructure _truss_peel got in
    # r10 (guide §1.2) — lazy checkpoints materialized by the kept-side
    # count, removed-count derived from the previous kept count, and
    # kept/removed as filter views of one scored table. The r10 shape
    # here still paid 4 jobs per round (2 eager checkpoints + 2 counts)
    # plus a 3-job seeding pass.
    wmap = (
        pairs.select(
            F.least(doc_a, doc_b).alias("u"),
            F.greatest(doc_a, doc_b).alias("v"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.max("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    n_e = wmap.count()
    e = wmap.select("u", "v")
    tri = _oriented_triangles(e, n_edges=n_e)
    mem = tri.select(
        F.array_sort(F.array("a", "b", "c")).alias("t")
    ).select(
        "t",
        F.explode(
            F.array(
                F.struct(
                    F.element_at("t", 1).alias("u"),
                    F.element_at("t", 2).alias("v"),
                ),
                F.struct(
                    F.element_at("t", 1).alias("u"),
                    F.element_at("t", 3).alias("v"),
                ),
                F.struct(
                    F.element_at("t", 2).alias("u"),
                    F.element_at("t", 3).alias("v"),
                ),
            )
        ).alias("e"),
    ).select("t", "e.u", "e.v")
    priced = (
        mem.join(wmap, ["u", "v"])
        .groupBy("t")
        .agg(
            F.min("w").alias("tw"),
            F.collect_list(F.struct("u", "v")).alias("edges"),
        )
        .select("tw", F.explode("edges").alias("e"))
        .select("e.u", "e.v", "tw")
    )
    support = priced.groupBy("u", "v").agg(
        F.sum("tw").cast("long").alias("wsupport")
    )
    # left join + coalesce(0): an edge in no triangle has wsupport
    # 0 < min_wsupport (>= 1), so it lands in `removed` without the
    # old anti-join + second checkpoint pass
    scored = (
        wmap.join(support, ["u", "v"], "left")
        .select(
            "u",
            "v",
            "w",
            F.coalesce("wsupport", F.lit(0).cast("long")).alias(
                "wsupport"
            ),
        )
        .localCheckpoint(eager=False)
    )
    kept = scored.where(F.col("wsupport") >= min_wsupport)
    removed = scored.where(F.col("wsupport") < min_wsupport).select(
        "u", "v"
    )
    n_kept = kept.count()
    n_removed = n_e - n_kept
    for _ in range(max_iterations - 1):
        if n_removed == 0:
            return kept.select(
                F.col("u").alias("doc_a"),
                F.col("v").alias("doc_b"),
                "wsupport",
            )
        gprev = scored.select("u", "v")
        adj = gprev.union(
            gprev.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).select(F.col("u").alias("n"), F.col("v").alias("w2"))
        cand = removed.join(adj, removed["u"] == adj["n"]).select(
            removed["u"], removed["v"], adj["w2"]
        )
        tri_hit = cand.join(
            adj.select(F.col("n").alias("v"), F.col("w2")),
            ["v", "w2"],
            "left_semi",
        )
        triple = tri_hit.select(
            F.array_sort(F.array("u", "v", "w2")).alias("t")
        ).distinct()
        memr = triple.select(
            "t",
            F.explode(
                F.array(
                    F.struct(
                        F.element_at("t", 1).alias("u"),
                        F.element_at("t", 2).alias("v"),
                    ),
                    F.struct(
                        F.element_at("t", 1).alias("u"),
                        F.element_at("t", 3).alias("v"),
                    ),
                    F.struct(
                        F.element_at("t", 2).alias("u"),
                        F.element_at("t", 3).alias("v"),
                    ),
                )
            ).alias("e"),
        ).select("t", "e.u", "e.v")
        dec_edges = (
            memr.join(wmap, ["u", "v"])
            .groupBy("t")
            .agg(
                F.min("w").alias("tw"),
                F.collect_list(F.struct("u", "v")).alias("edges"),
            )
            .select("tw", F.explode("edges").alias("e"))
            .select("e.u", "e.v", "tw")
            .groupBy("u", "v")
            .agg(F.sum("tw").cast("long").alias("dec"))
        )
        scored = (
            kept.join(dec_edges, ["u", "v"], "left")
            .select(
                "u",
                "v",
                "w",
                (
                    F.col("wsupport")
                    - F.coalesce("dec", F.lit(0).cast("long"))
                ).alias("wsupport"),
            )
            .localCheckpoint(eager=False)
        )
        kept = scored.where(F.col("wsupport") >= min_wsupport)
        removed = scored.where(F.col("wsupport") < min_wsupport).select(
            "u", "v"
        )
        n_prev = n_kept
        n_kept = kept.count()
        n_removed = n_prev - n_kept
    if n_removed == 0:
        return kept.select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            "wsupport",
        )
    raise RuntimeError(
        f"weighted_truss_edges: no fixed point after {max_iterations} "
        "rounds (raise max_iterations; the oracle unrolls the same "
        "bound)"
    )


def weighted_truss_edges_sql(
    pairs_sql: str,
    min_wsupport: int,
    weight_col: str = "n_bands",
    rounds: int = KTRUSS_MAX_ROUNDS,
) -> str:
    """DuckDB twin of :func:`weighted_truss_edges`: the weighted peel
    unrolled into ``rounds`` (triangles+prices, supports, filter) CTE
    triples. Triangles enumerate by sorted node ids (a < b < c); the
    price LEAST(w1, w2, w3) reads the three member edges' STATIC
    weights directly off the join."""
    ctes = []
    prev = "we0"
    for i in range(1, rounds + 1):
        ctes.append(f"""
wt{i} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c,
         LEAST(w1.w, w2.w, w3.w) AS tw
  FROM {prev} e1
  JOIN {prev} e2 ON e2.u = e1.v
  JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v
  JOIN wmap w1 ON w1.u = e1.u AND w1.v = e1.v
  JOIN wmap w2 ON w2.u = e2.u AND w2.v = e2.v
  JOIN wmap w3 ON w3.u = e3.u AND w3.v = e3.v
),
ws{i} AS MATERIALIZED (
  SELECT u, v, CAST(SUM(tw) AS BIGINT) AS wsupport FROM (
    SELECT a AS u, b AS v, tw FROM wt{i}
    UNION ALL SELECT b, c, tw FROM wt{i}
    UNION ALL SELECT a, c, tw FROM wt{i}
  ) GROUP BY u, v
),
we{i} AS MATERIALIZED (
  SELECT s.u, s.v, s.wsupport
  FROM ws{i} s JOIN {prev} e ON e.u = s.u AND e.v = s.v
  WHERE s.wsupport >= {min_wsupport}
)""")
        prev = f"we{i}"
    return f"""
WITH p AS MATERIALIZED ({pairs_sql}),
wmap AS MATERIALIZED (
  SELECT LEAST(doc_a, doc_b) AS u, GREATEST(doc_a, doc_b) AS v,
         CAST(MAX({weight_col}) AS BIGINT) AS w
  FROM p WHERE doc_a <> doc_b GROUP BY 1, 2
),
we0 AS MATERIALIZED (SELECT u, v FROM wmap),
{','.join(ctes)}
SELECT u AS doc_a, v AS doc_b, wsupport FROM {prev}
"""


DUP_SPAN_WINDOW = 10


def dup_span_report(
    docs: DataFrame,
    window: int = DUP_SPAN_WINDOW,
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-span report: DataFrame[doc_id,
    n_windows, n_dup_windows, dup_frac(6dp)] where a "window" is a run
    of ``window`` consecutive word tokens (stride 1) and a window is
    *duplicated* when its hash occurs in >= 2 distinct documents.

    This is the exact-substring dedup signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better") in its
    bounded fixed-width form — the fraction-of-duplicated-n-grams
    quality column curation pipelines threshold on — as opposed to the
    document-level verdicts the pairwise family gives: a doc that
    merely EMBEDS a big quoted block scores high here while staying
    invisible to whole-doc fingerprints.

    Plan: posexplode the W-token windows (the same inverted-index
    stream the MinHash shingler already materializes), one (hash →
    distinct-doc count) aggregation, one hash-keyed join back, one
    per-doc aggregation. Only (hash, doc_id) pairs ever shuffle — never
    text — and every step is Catalyst-native with an exact SQL twin.
    Docs shorter than ``window`` tokens report 0 windows / 0.0 frac
    (complete per-doc output, the curation-join-friendly shape).
    """
    grams = docs.select(
        "doc_id",
        F.explode(
            word_ngrams(normalized(F.col(text_col)), window)
        ).alias("gram"),
    ).select("doc_id", hash60(F.col("gram")).alias("h"))
    ndocs = grams.groupBy("h").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    per_doc = (
        grams.join(ndocs, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum((F.col("nd") >= 2).cast("long"))
            .cast("long")
            .alias("n_dup_windows"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0).cast("long")).alias(
                "n_windows"
            ),
            F.coalesce("n_dup_windows", F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("n_dup_windows").cast("double")
                    / F.col("n_windows").cast("double"),
                    6,
                )
            )
            .alias("dup_frac"),
        )
    )


def dup_span_report_sql(window: int = DUP_SPAN_WINDOW) -> str:
    """DuckDB twin of :func:`dup_span_report` (same tokenizer as the
    winnowing oracle; windows via list slices over an offset range)."""
    toks = (
        "list_filter(string_split("
        "trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' '), "
        "t -> t <> '')"
    )
    gram = f"array_to_string(t[i:i+{window - 1}], ' ')"
    return f"""
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
grams AS (
  SELECT doc_id, {hash60_sql(gram)} AS h
  FROM toks,
       UNNEST(range(1, greatest(len(t) - {window - 1}, 0) + 1)) AS u(i)
),
cnt AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY h
),
per AS (
  SELECT g.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_windows
  FROM grams g JOIN cnt c USING (h) GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_windows, 0) AS n_windows,
       COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
       CASE WHEN COALESCE(p.n_windows, 0) = 0 THEN 0.0
            ELSE ROUND(CAST(p.n_dup_windows AS DOUBLE)
                       / CAST(p.n_windows AS DOUBLE), 6)
       END AS dup_frac
FROM documents d LEFT JOIN per p USING (doc_id)
"""


def despanned_corpus(
    docs: DataFrame,
    window: int = DUP_SPAN_WINDOW,
    text_col: str = "text",
) -> DataFrame:
    """Span-level dedup TRANSFORM: DataFrame[doc_id, n_tokens,
    n_removed, clean_text] — the normalized text with every token
    covered by a *non-surviving* duplicated window removed.

    The cleaning step :func:`dup_span_report` is the signal for (Lee
    et al. 2022's exact-substring dedup, bounded to fixed-width
    windows): a window is duplicated when its hash occurs in >= 2
    distinct docs; the single doc with the MINIMUM doc_id among them
    keeps its occurrence (the survivor rule exact_dedup uses at doc
    granularity), every other doc drops all ``window`` tokens the
    flagged window covers. Unique text, and the first copy of any
    duplicated run, survive verbatim.

    Plan: one (hash → distinct-doc count + min-doc) aggregation, one
    join back to flag windows, an explode of flagged windows into
    covered token indices (bounded by duplicated-content volume ×
    window, not corpus size), one anti-join at the (doc, token-index)
    grain, and an order-preserving re-assembly via
    ``sort_array(collect_list(struct(idx, tok)))`` — deterministic,
    Catalyst-only, exact SQL twin. At 100 TB only hashes, indices and
    the duplicated minority of tokens shuffle.
    """
    from ..functions.text import tokens

    base = docs.select(
        "doc_id", tokens(normalized(F.col(text_col))).alias("t")
    )
    # word_ngrams on the same normalized text produces the same gram
    # strings (and so the same hash60 keys) x_dup_spans flags; pos is
    # the 0-based start token index of each window
    grams = docs.select(
        "doc_id",
        F.posexplode(
            word_ngrams(normalized(F.col(text_col)), window)
        ).alias("pos", "gram"),
    ).select("doc_id", "pos", hash60(F.col("gram")).alias("h"))
    agg = grams.groupBy("h").agg(
        F.count_distinct("doc_id").alias("nd"),
        F.min("doc_id").alias("keeper"),
    )
    flagged = (
        grams.join(agg, "h")
        .where((F.col("nd") >= 2) & (F.col("doc_id") != F.col("keeper")))
        .select("doc_id", "pos")
    )
    covered = flagged.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + window - 1)
        ).alias("idx"),
    ).distinct()
    tok_rows = base.select(
        "doc_id", F.posexplode("t").alias("idx", "tok")
    )
    kept = tok_rows.join(covered, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("idx", "tok"))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = base.select(
        "doc_id", F.size("t").cast("long").alias("n_tokens")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (
                F.col("n_tokens")
                - F.coalesce("n_kept", F.lit(0).cast("long"))
            ).alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def despanned_corpus_sql(window: int = DUP_SPAN_WINDOW) -> str:
    """DuckDB twin of :func:`despanned_corpus` (same tokenizer as the
    dup-span oracle; list slices for windows, range unnest for covered
    indices, ordered string_agg for re-assembly)."""
    toks = (
        "list_filter(string_split("
        "trim(regexp_replace(lower(text), ' +', ' ', 'g')), ' '), "
        "t -> t <> '')"
    )
    gram = f"array_to_string(t[i:i+{window - 1}], ' ')"
    return f"""
WITH base AS (SELECT doc_id, {toks} AS t FROM documents),
grams AS (
  SELECT doc_id, i AS pos, {hash60_sql(gram)} AS h
  FROM base,
       UNNEST(range(1, greatest(len(t) - {window - 1}, 0) + 1)) AS u(i)
),
agg AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd, MIN(doc_id) AS keeper
  FROM grams GROUP BY h
),
flagged AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN agg a USING (h)
  WHERE a.nd >= 2 AND g.doc_id <> a.keeper
),
covered AS (
  SELECT DISTINCT doc_id, CAST(j AS BIGINT) AS idx
  FROM flagged, UNNEST(range(pos, pos + {window})) AS v(j)
),
tokens AS (
  SELECT doc_id, CAST(i AS BIGINT) AS idx, t[i] AS tok
  FROM base, UNNEST(range(1, len(t) + 1)) AS u(i)
),
kept AS (
  SELECT tk.doc_id, tk.idx, tk.tok
  FROM tokens tk ANTI JOIN covered c
    ON c.doc_id = tk.doc_id AND c.idx = tk.idx
),
rebuilt AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY idx) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.t) AS BIGINT) AS n_tokens,
       CAST(len(b.t) AS BIGINT) - COALESCE(r.n_kept, 0) AS n_removed,
       COALESCE(r.clean_text, '') AS clean_text
FROM base b LEFT JOIN rebuilt r USING (doc_id)
"""


def minhash_similarity_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    ngram: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """LSH candidate pairs WITH the MinHash similarity estimate:
    DataFrame[doc_a, doc_b, n_bands, est_jaccard(6dp)].

    est_jaccard = (# agreeing signature components) / num_hashes — the
    unbiased MinHash estimator of the true n-gram Jaccard (each
    component agrees with probability exactly J). This closes the
    candidates-only gap of :func:`minhash_lsh_pairs`: a curation
    pipeline can THRESHOLD on estimated similarity without ever
    re-touching the text (the exact-verification alternative,
    :func:`ngram_jaccard_pairs`, re-reads every candidate's shingles).
    Signatures are computed once and shared with bucket generation;
    the estimate join moves only (doc_id, 16 longs) rows.
    """
    sigs = minhash_signatures(
        docs, num_hashes, ngram, text_col
    ).localCheckpoint()
    pairs = minhash_lsh_pairs(
        docs, num_hashes, ngram, text_col, sigs=sigs
    )
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb"))
    matches = sum(
        F.when(F.col("sa")[i] == F.col("sb")[i], 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            F.round(
                matches.cast("double") / F.lit(float(num_hashes)), 6
            ).alias("est_jaccard"),
        )
    )


def minhash_similarity_pairs_sql(
    num_hashes: int = 16, ngram: int = 3
) -> str:
    """DuckDB twin of :func:`minhash_similarity_pairs`: the pair SQL
    joined back to the signature CTE, agreement counted by the same
    per-component sum (DuckDB lists are 1-based; the values match the
    0-based Spark getItem on the same arrays)."""
    terms = " + ".join(
        f"CASE WHEN a.sig[{i + 1}] = b.sig[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    # outer CTE named msigs: the embedded pair SQL defines its own
    # `sigs` CTE, and shadowing a MATERIALIZED name confuses DuckDB's
    # planner (observed as a bogus recursive-CTE error)
    return f"""
WITH msigs AS MATERIALIZED ({minhash_signatures_sql(num_hashes, ngram)}),
pairs AS ({minhash_lsh_pairs_sql(num_hashes, ngram)})
SELECT p.doc_a, p.doc_b, p.n_bands,
       ROUND(CAST(({terms}) AS DOUBLE) / {float(num_hashes)!r}, 6)
         AS est_jaccard
FROM pairs p
JOIN msigs a ON a.doc_id = p.doc_a
JOIN msigs b ON b.doc_id = p.doc_b
"""


# ---------------------------------------------------------------------------
# Sorted-neighborhood (SNM) dedup blocking
# ---------------------------------------------------------------------------


def snm_pairs(
    docs: DataFrame,
    window: int = 10,
    threshold: float = 0.5,
    ngram: int = 3,
    text_col: str = "text",
    key_len: int = 24,
    key_expr: Column | None = None,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs: DataFrame[doc_a, doc_b,
    jaccard(6dp)] — candidates are documents within ``window``
    positions of each other in the corpus sorted by a blocking key
    (the first ``key_len`` chars of the normalized text), each
    candidate verified by EXACT n-gram Jaccard ≥ threshold.

    The third blocking family next to hash-based (MinHash/SimHash) and
    index-based (inverted shingle index): Hernández–Stolfo's
    sorted-neighborhood method. Candidates are O(n·window) by
    construction — no dependence on shingle frequency or band
    collisions at all — which makes SNM the predictable-cost option
    when corpus skew makes the other families' candidate counts hard
    to bound. Recall is limited by the blocking key (docs differing in
    their first ``key_len`` chars sort apart — the standard SNM trade,
    mitigated in practice by multi-pass runs with different keys).

    Scale shape: the global sort order comes from
    :func:`~..operators.relational.global_rank` (range partitions +
    driver-side offset cumsum — no single-partition window), the
    neighbor join is an exact 2-bucket blocking on rank div window
    (the band-join trick in rank space), and verification touches only
    candidate pairs' shingle sets.
    """
    from .relational import global_rank

    key = (
        key_expr
        if key_expr is not None
        else F.substring(normalized(F.col(text_col)), 1, key_len)
    )
    ranked = global_rank(
        docs.select("doc_id", key.alias("k")), "k", "doc_id"
    ).localCheckpoint()
    a = ranked.select(
        F.col("doc_id").alias("da"),
        F.col("rank").alias("ra"),
        F.explode(
            F.array(
                F.expr(f"rank div {window}"),
                F.expr(f"rank div {window} + 1"),
            )
        ).alias("bucket"),
    )
    b = ranked.select(
        F.col("doc_id").alias("db"),
        F.col("rank").alias("rb"),
        F.expr(f"rank div {window}").alias("bucket"),
    )
    cand = (
        a.join(b, "bucket")
        .where(
            (F.col("rb") > F.col("ra"))
            & (F.col("rb") - F.col("ra") <= window)
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
        .distinct()
    )
    sh = _shingle_hashes(docs, text_col, ngram)
    sets = sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("x")).alias("xs"),
        F.count("*").alias("nsh"),
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("xs").alias("xa"),
        F.col("nsh").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("xs").alias("xb"),
        F.col("nsh").alias("nb"),
    )
    inter = F.size(F.array_intersect("xa", "xb")).cast("long")
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= F.lit(threshold))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def snm_pairs_sql(
    window: int = 10,
    threshold: float = 0.5,
    ngram: int = 3,
    key_len: int = 24,
    key_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`snm_pairs`: plain ROW_NUMBER over the same
    total order (the distributed two-pass rank computes exactly this),
    rank-distance candidates, exact-Jaccard verification restricted to
    the candidate set."""
    norm = "trim(regexp_replace(lower(text), ' +', ' ', 'g'))"
    toks = (
        "list_filter(string_split("
        f"{norm}, ' '), t -> t <> '')"
    )
    key = key_sql or f"substring({norm}, 1, {key_len})"
    return f"""
WITH ranked AS MATERIALIZED (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY {key}, doc_id
         ) AS rank
  FROM documents
),
cand AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
         GREATEST(a.doc_id, b.doc_id) AS doc_b
  FROM ranked a JOIN ranked b
    ON b.rank > a.rank AND b.rank <= a.rank + {window}
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {ngram - 1}, 0) + 1),
           i -> array_to_string(t[i:i+{ngram - 1}], ' ')))) AS shingle
  FROM (SELECT doc_id, {toks} AS t FROM documents)
),
xs AS (SELECT doc_id, {hash60_sql('shingle')} AS x FROM grams),
sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM xs GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
  FROM cand c
  JOIN xs a ON a.doc_id = c.doc_a
  JOIN xs b ON b.doc_id = c.doc_b AND b.x = a.x
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       ROUND(CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.nsh + sb.nsh - inter) >= {threshold!r}
"""


def snm_pairs_multipass(
    docs: DataFrame,
    window: int = 10,
    threshold: float = 0.5,
    ngram: int = 3,
    text_col: str = "text",
    key_len: int = 24,
) -> DataFrame:
    """Two-pass SNM (the standard blind-spot mitigation): run the
    sorted-neighborhood join under TWO independent blocking keys — the
    normalized-text prefix and the REVERSED normalized-text prefix —
    and union the verified pairs. A duplicate pair missed by one key
    (docs differing in their first characters sort apart) is caught by
    the other unless they differ at BOTH ends; candidates stay
    O(2·n·window). Pairs found by both passes dedup exactly (verified
    Jaccard is identical, same rounding).
    """
    fwd = snm_pairs(docs, window, threshold, ngram, text_col, key_len)
    rev_key = F.substring(
        F.reverse(normalized(F.col(text_col))), 1, key_len
    )
    rev = snm_pairs(
        docs, window, threshold, ngram, text_col, key_len,
        key_expr=rev_key,
    )
    return fwd.union(rev).distinct()


def snm_pairs_multipass_sql(
    window: int = 10,
    threshold: float = 0.5,
    ngram: int = 3,
    key_len: int = 24,
) -> str:
    norm = "trim(regexp_replace(lower(text), ' +', ' ', 'g'))"
    rev_key = f"substring(reverse({norm}), 1, {key_len})"
    return f"""
SELECT DISTINCT * FROM (
  ({snm_pairs_sql(window, threshold, ngram, key_len)})
  UNION
  ({snm_pairs_sql(window, threshold, ngram, key_len, key_sql=rev_key)})
)
"""


def duplicate_components_shortcut(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iterations: int = 60,
) -> DataFrame:
    """Connected components via hook + pointer-doubling shortcut
    (Shiloach & Vishkin 1982): same contract as
    :func:`duplicate_components` — DataFrame[doc_id, component_id],
    component_id = min doc id — in O(log n) rounds with LINEAR
    per-round state.

    It exists because the other CC bodies each concede something
    measured: min-label propagation needs diameter rounds (refuses
    long chains), and Hash-to-Min's member sets blow up to ~n·d/2
    rows mid-convergence on paths (STRESS.md r6 — OOM at 100k chain
    nodes). Here the state is exactly ONE (v, parent) row per vertex
    plus the static edge list: each round (1) HOOKS every vertex to
    the minimum parent in its closed neighborhood (one edges⋈parents
    join + min agg) and (2) SHORTCUTS parent ← parent(parent) (one
    parents self-join), so labels travel ~2^r hops after r rounds —
    O(log d) rounds like Hash-to-Min, linear state like
    :func:`duplicate_components_twophase`. Chain A/B in STRESS.md r6.
    Every parent value is itself a vertex id, so the shortcut
    self-join is total; fixpoint (no parent changed) implies parents
    are constant per component and equal to the component min (hook
    would fire across any unequal edge, shortcut across any unequal
    chain). Self-loop pairs stay in the edge list (their hook is a
    no-op), so a doc that appears only in ``(d, d)`` still gets the
    label ``d``. ``localCheckpoint`` per round resets lineage
    (iterative-loop rule); raises if the bound is exhausted rather
    than returning partial labels."""
    edges = (
        pairs.select(F.col(doc_a).alias("v"), F.col(doc_b).alias("u"))
        .union(
            pairs.select(F.col(doc_b).alias("v"), F.col(doc_a).alias("u"))
        )
        .distinct()
        # lazy: round 1's parent-sum aggregate materializes both
        .localCheckpoint(eager=False)
    )
    parents = (
        edges.select("v")
        .distinct()
        .select("v", F.col("v").alias("p"))
        .localCheckpoint(eager=False)
    )
    # Convergence (r10, guide §1.2): hook takes a least() and shortcut
    # replaces p by p(p) ≤ p (the p(x) ≤ x invariant holds inductively
    # from p=v), so every parent is monotone non-increasing and "no
    # parent changed" ⟺ "Σp unchanged" — one shuffle-free
    # DECIMAL(38,0) aggregate per round, which also materializes the
    # round's lazy checkpoint; the superseded state unpersists after.
    prev_sum = None
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(
                parents.select(
                    F.col("v").alias("u"), F.col("p").alias("pu")
                ),
                "u",
            )
            .groupBy("v")
            .agg(F.min("pu").alias("nm"))
        )
        hooked = (
            parents.join(nbr_min, "v", "left")
            .select(
                "v",
                F.least(F.col("p"), F.coalesce("nm", F.col("p"))).alias(
                    "p"
                ),
            )
        )
        shortcut = (
            hooked.alias("a")
            .join(
                hooked.select(
                    F.col("v").alias("p"), F.col("p").alias("pp")
                ).alias("b"),
                "p",
            )
            .select(F.col("a.v").alias("v"), F.col("pp").alias("p"))
            .localCheckpoint(eager=False)
        )
        new_sum = shortcut.agg(
            F.sum(F.col("p").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        parents.unpersist()
        parents = shortcut
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"duplicate_components_shortcut did not converge in "
            f"{max_iterations} rounds"
        )
    return parents.select(
        F.col("v").alias("doc_id"), F.col("p").alias("component_id")
    )


def duplicate_components_twophase(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iterations: int = 40,
) -> DataFrame:
    """Connected components via the two-phase large-star/small-star
    alternation (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond", Alg. 3): same contract as
    :func:`duplicate_components` — DataFrame[doc_id, component_id],
    component_id = min doc id — in O(log² n) rounds on ANY graph
    shape, where min-label propagation needs diameter rounds. Both
    ``x_dedup_components_star`` and ``x_dedup_components_2p`` run it.

    Its PER-ROUND cost SHRINKS: unlike hook+shortcut (which joins the
    STATIC edge list against parents every round — the measured
    58%-of-wall/72%-of-shuffle stage of the 10M-doc composed pipeline,
    STRESS.md r8), both phases here rewrite the edge list itself, and
    as stars form the rewritten list collapses toward one (node, root)
    edge per node — so round r+1 shuffles the CONTRACTED graph, not
    the input.

    - **large-star** (per node u, over ALL neighbors): emit
      (w, min(Γ⁺(u))) for every neighbor w > u — strictly-larger
      neighbors re-hook to u's best-known minimum;
    - **small-star** (per node u, over smaller neighbors only): emit
      (w, m) for every w ∈ Γ⁻(u) ∪ {u} − {m}, m = min(Γ⁻(u)) —
      u and its smaller neighbors consolidate under their minimum.

    Both emissions preserve connectivity and never raise the
    component minimum (each new edge connects two nodes through a
    current common neighbor). Edges stay canonical (lo < hi), so
    neither phase needs a re-symmetrising or re-orienting
    ``distinct``.

    Fixpoint: the loop stops as soon as the new edge list is a star
    forest — every ``hi`` has exactly one ``lo`` and no ``lo`` is
    also a ``hi``. Both phases map a star forest to itself, and a
    star's centre is its component minimum, so the test is exact and
    needs no repeat round to see that nothing changed; it is one
    aggregate over the new edges, which also materializes the round's
    lazy ``localCheckpoint``. The read-out is (hi, lo) for every leaf
    and (d, d) for every centre and every doc seen only in self-loop
    pairs. Raises on bound exhaustion rather than returning partial
    labels."""
    base = (
        pairs.select(
            F.least(doc_a, doc_b).alias("lo"),
            F.greatest(doc_a, doc_b).alias("hi"),
        )
        .distinct()
        # lazy: round 1's star-forest test materializes it
        .localCheckpoint(eager=False)
    )
    edges = base.where(F.col("lo") != F.col("hi"))

    def large_star(e: DataFrame) -> DataFrame:
        # bidirect, group by center u over all neighbors
        nbrs = e.select(
            F.col("lo").alias("u"), F.col("hi").alias("w")
        ).union(e.select(F.col("hi").alias("u"), F.col("lo").alias("w")))
        m = nbrs.groupBy("u").agg(
            F.least(F.min("w"), F.first("u")).alias("m")
        )
        # emit (w, m) for w > u; m <= u < w so (m, w) is canonical
        return (
            nbrs.join(m, "u")
            .where(F.col("w") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("w").alias("hi"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # direct big -> small: center u = hi endpoint, Γ⁻(u) = los
        m = e.groupBy(F.col("hi").alias("u")).agg(
            F.min("lo").alias("m")
        )
        withm = e.join(m, e["hi"] == m["u"], "inner").select(
            "lo", "hi", "m"
        )
        # emit (w, m) for w in Γ⁻(u) ∪ {u} − {m}: the smaller
        # neighbors (excluding m itself) plus the center u; m < w in
        # both, so the emitted edges are canonical
        from_small = (
            withm.where(F.col("lo") != F.col("m"))
            .select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
        )
        from_center = withm.select(
            F.col("m").alias("lo"), F.col("hi").alias("hi")
        )
        return from_small.union(from_center).distinct()

    for _ in range(max_iterations):
        new_edges = small_star(large_star(edges)).localCheckpoint(
            eager=False
        )
        # per node: h = times it is a hi, d = its degree; a node breaks
        # the star forest iff it is a hi and has a second edge
        ends = new_edges.select(
            F.inline(
                F.array(
                    F.struct(F.col("lo").alias("n"), F.lit(0).alias("h")),
                    F.struct(F.col("hi").alias("n"), F.lit(1).alias("h")),
                )
            )
        )
        n_bad = (
            ends.groupBy("n")
            .agg(F.sum("h").alias("h"), F.count("*").alias("d"))
            .where((F.col("h") > 0) & (F.col("d") > 1))
            .count()
        )
        edges.unpersist()
        edges = new_edges
        if n_bad == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_components_twophase did not converge in "
            f"{max_iterations} rounds"
        )
    loops = base.where(F.col("lo") == F.col("hi")).select(
        F.col("lo").alias("doc_id"), F.col("lo").alias("component_id")
    )
    # min per doc: a leaf's centre beats its own (d, d) self-loop row
    return (
        edges.select(
            F.col("hi").alias("doc_id"), F.col("lo").alias("component_id")
        )
        .union(edges.select(F.col("lo").alias("doc_id"), "lo"))
        .union(loops)
        .groupBy("doc_id")
        .agg(F.min("component_id").alias("component_id"))
    )


def duplicate_components_auto(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    edge_threshold: int = 2_000,
) -> DataFrame:
    """Closure with the variant picked by measured regime. The r10
    quiet-host ladder (tools/cc_crossover_ab.py, production-shaped
    trio dup graphs, STRESS.md r10) moved the crossover far below
    the earlier estimates: two-phase wins EVERY probed rung —
    2.2k edges 2.0 vs 3.1 s, 8.7k 2.0 vs 3.7, 26k 3.0 vs 6.9,
    96k 4.8 vs 14.8, 293k 6.1 vs 14.5, 660k 14.4 vs 20.1, 1.06·10⁷
    116 vs 152 s with 2.6× fewer shuffle bytes — and the only
    remaining shortcut win is the 1.3k-edge sf0.1 fixture graph, by
    0.45 s (2.39 vs 2.84). The r8/r9 numbers that put the crossover
    at ~600k ("tie at 6.6·10⁵") came from contended runs: re-measured
    quiet, the same rung reads 14.4 vs 20.1 (two-phase has more
    stage barriers per round, so contention inflates it 1.6× where
    shortcut moves 1.1× — the tie was an artifact). One edge count
    decides; the threshold sits between the fixture's marginal
    shortcut win and the first measured two-phase win, where the
    loss surface is sub-second in both directions. Same output from
    either side — labels are identical by the cross-implementation
    tests.

    The count MATERIALIZES ``pairs`` via ``localCheckpoint`` first, so
    the chosen variant starts from the computed edge rows instead of
    re-deriving the (possibly LSH-sized) lineage from scratch — the
    dispatch count must not double the most expensive upstream stage
    (ADVICE r8)."""
    pairs = pairs.localCheckpoint()
    n_edges = pairs.count()
    if n_edges >= edge_threshold:
        return duplicate_components_twophase(pairs, doc_a, doc_b)
    return duplicate_components_shortcut(pairs, doc_a, doc_b)


def duplicate_components_htm(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iterations: int = 40,
    max_state_factor: int = 64,
) -> DataFrame:
    """Connected components via Hash-to-Min (Rastogi et al. 2013):
    same contract as :func:`duplicate_components` —
    DataFrame[doc_id, component_id], component_id = min doc id — but
    converging in O(log n) rounds on ANY graph shape, including the
    long chains where min-label propagation needs diameter rounds and
    without the per-round double-join of the large-star/small-star
    variant (:func:`duplicate_components_twophase`).

    State is the cluster relation (v, member): each node starts with
    itself + its neighbors. Per round every node v with m = min(C_v)
    (1) broadcasts m to every member of C_v and (2) ships its whole
    C_v to m — so minima race down chains at doubling speed while
    non-minimum nodes' sets collapse toward {m}. Fixpoint when no
    node's min changes for a round. Per-round cost: one min
    aggregation + one explode-shaped join on node ids. Lineage is
    reset per round with ``localCheckpoint`` (iterative-loop rule, see
    duplicate_components). Raises rather than returning silently-wrong
    components if the bound is exhausted (log₂ n rounds suffice, so 40
    covers any practical n).

    MEASURED scale contract (STRESS.md r6, tools/stress_test.py
    --cc-only): the O(log d) ROUND bound holds — 14 rounds on a
    5,000-hop chain forest — but on long-path graphs the STATE does
    not stay linear: every node's member set doubles per round until
    it collapses (~min(2^r, d) members), so total state peaks at
    ~n·d/2 rows mid-convergence (63.2M rows from a 20k-node input;
    Java-heap OOM at 100k nodes), and wall-clock loses to
    large-star/small-star contraction 210 s vs 17 s there. Use HTM
    where its state premise holds — bounded-diameter cluster graphs
    like near-dup components, its registered workload
    (`x_dedup_components_htm`) — and
    :func:`duplicate_components_shortcut` (O(log n) rounds AND linear
    state — 8.4 s / 18.2 s on the same 20k / 100k chains) or
    :func:`duplicate_components_twophase` for unknown or adversarial
    diameters."""
    edges = (
        pairs.select(F.col(doc_a).alias("v"), F.col(doc_b).alias("m"))
        .union(
            pairs.select(F.col(doc_b).alias("v"), F.col(doc_a).alias("m"))
        )
        .distinct()
    )
    state = (
        edges.union(
            edges.select("v", F.col("v").alias("m")).distinct()
        )
        .distinct()
        .localCheckpoint()
    )
    state_bound = max(state.count(), 1) * max_state_factor
    mins = None
    prev_minsum = None
    for _ in range(max_iterations):
        cur_min = state.groupBy("v").agg(F.min("m").alias("mn"))
        with_min = state.join(cur_min, "v")
        # (1) min broadcast: every member u of C_v learns mn(v)
        bcast = with_min.select(
            F.col("m").alias("v"), F.col("mn").alias("m")
        )
        # (2) aggregate to min: mn(v) receives all of C_v
        tomin = with_min.select(
            F.col("mn").alias("v"), F.col("m")
        )
        state = bcast.union(tomin).distinct().localCheckpoint(
            eager=False
        )
        # r10 round-overhead fix (guide §1.2): ONE aggregate job per
        # round returns the state size (the loud blow-up gate below)
        # AND the per-v-min total together, materializing the round's
        # lazy checkpoint. The v-slot set is CONSTANT across rounds
        # (every node starts as a member via its self row, tomin
        # re-sends every member to the current min so membership never
        # lapses, and bcast turns every member into a v-slot), and a
        # persistent v always keeps mn(v) in its member set (the bcast
        # row with m = v), so each v's min is monotone non-increasing
        # over a fixed key set and "no min changed" ⟺ "Σ mins
        # unchanged" —
        # the same exact fixpoint the r9 shape established with a
        # per-round join of consecutive min tables (4 jobs per round:
        # eager state checkpoint, state count, join-count, eager mins
        # checkpoint).
        grp = state.groupBy("v").agg(
            F.min("m").alias("mn"), F.count("*").alias("c")
        )
        row = grp.agg(
            F.sum("c").alias("n_state"),
            F.sum(F.col("mn").cast("decimal(38,0)")).alias("minsum"),
        ).collect()[0]
        # empty-input guard (r11, ADVICE): SUM over zero rows is NULL —
        # `None > state_bound` raised where the pre-r10 shape returned
        # an empty result. 0 never trips the gate (state_bound >= 1),
        # and minsum None == prev None breaks to the empty `mins`.
        n_state = row["n_state"] or 0
        # loud state gate instead of a mid-round executor OOM: on long
        # paths the member sets double per round (~n·d/2 peak — the
        # measured blowup, STRESS.md r6), which no memory setting
        # survives at scale. Raising names the safe alternatives.
        if n_state > state_bound:
            raise RuntimeError(
                "duplicate_components_htm state blow-up: "
                f"{n_state} rows > {max_state_factor}x the initial "
                "relation — the long-path regime where Hash-to-Min's "
                "communication is super-linear. Use "
                "duplicate_components_shortcut (O(log n) rounds, "
                "linear state) or duplicate_components_twophase "
                "instead, or raise max_state_factor if memory allows."
            )
        mins = grp.select("v", "mn")
        if row["minsum"] == prev_minsum:
            break
        prev_minsum = row["minsum"]
    else:
        raise RuntimeError(
            f"duplicate_components_htm did not converge in "
            f"{max_iterations} rounds"
        )
    return mins.select(
        F.col("v").alias("doc_id"), F.col("mn").alias("component_id")
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (synchronous LPA)
# ---------------------------------------------------------------------------


def label_propagation(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    rounds: int = 4,
) -> DataFrame:
    """Community detection over the near-dup pair graph by synchronous
    label propagation (Raghavan et al. 2007): DataFrame[doc_id,
    community] for every node of the graph after ``rounds`` rounds.

    Each round every node adopts the most frequent label in its
    INCLUSIVE neighborhood (its neighbors plus itself — the self-vote
    damps the 2-cycle oscillation plain synchronous LPA exhibits on
    bipartite shapes), tie-broken toward the SMALLEST label, so the
    whole iteration is deterministic and row-order independent. Run to
    a fixed round count (a report, like the k-core/k-truss unrolled
    contracts — not a convergence loop).

    Deterministic-tiebreak caveat (honest semantics): in round 1 every
    label is still distinct, so every vote is a tie and the min
    tiebreak acts like one step of min-label propagation — density
    starts to matter from round 2, once groups have coalesced enough
    to outvote bridges (a ≥4-clique reclaims a member that round 1
    pulled across a bridge; a 3-clique can stay tied). Tie-heavy
    sparse shapes (long chains) drift toward the min label with more
    rounds. This is the price of replacing the paper's RANDOM
    tiebreak with a reproducible one; dense near-dup groups — the
    shape this operator targets — are exactly where the vote is
    unambiguous, and where LPA differs from the engine's three CC
    operators (closure vs density-sensitive groups).

    Plan per round: one (neighbor)-keyed join of the label table onto
    the symmetrized edge list and one (node, label) count + per-node
    argmin — both keyed on node ids, no hot keys beyond graph skew,
    state is one label per node. localCheckpoint per round keeps
    lineage flat (iterative-loop rule, PLANS.md).
    """
    e = pairs.select(
        F.col(doc_a).cast("long").alias("u"),
        F.col(doc_b).cast("long").alias("v"),
    )
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    nodes = sym.select("u").distinct()
    # inclusive neighborhood: self-loop vote
    # r10: the whole fixed-round loop is LAZY-checkpointed — each
    # round's plan is already a LogicalRDD leaf (lineage stays flat),
    # but no per-round materialization job runs; the consumer's single
    # action computes and persists the chain (guide §1.2: N checkpoint
    # jobs collapse into the one job that needed the result).
    # FOOTPRINT BOUND (r11, ADVICE): at materialization every round's
    # checkpoint persists until the DataFrames are GC'd — `rounds`
    # label tables of ONE (node, label) row per node each (4 × |V|
    # rows at the default; personalized_pagerank likewise holds
    # `iterations` rank tables of one row per node). There is no safe
    # earlier unpersist: no action runs inside the loop, so every
    # earlier checkpoint is an ancestor of a not-yet-materialized one.
    adj = sym.unionByName(
        nodes.select("u", F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = nodes.select("u", F.col("u").alias("lbl")).localCheckpoint(
        eager=False
    )
    for _ in range(rounds):
        votes = (
            adj.join(
                labels.select(
                    F.col("u").alias("v"), F.col("lbl")
                ),
                "v",
            )
            .groupBy("u", "lbl")
            .agg(F.count("*").cast("long").alias("c"))
        )
        new_labels = (
            votes.groupBy("u")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("neg"),
                        F.col("lbl").alias("lbl"),
                    )
                ).alias("m")
            )
            .select("u", F.col("m.lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        labels = new_labels
    return labels.select(
        F.col("u").alias("doc_id"), F.col("lbl").alias("community")
    )


def label_propagation_sql(pairs_sql: str, rounds: int = 4) -> str:
    """DuckDB twin of :func:`label_propagation` — the same rounds
    unrolled as CTEs (identical inclusive-neighborhood vote, identical
    (count DESC, label ASC) argmax)."""
    ctes = [
        f"""
e AS (SELECT doc_a AS u, doc_b AS v FROM ({pairs_sql})),
sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
adj AS (
  SELECT u, v FROM sym
  UNION ALL
  SELECT DISTINCT u, u AS v FROM sym
),
l0 AS (SELECT DISTINCT u, u AS lbl FROM sym)"""
    ]
    for r in range(rounds):
        ctes.append(f"""
v{r} AS (
  SELECT a.u, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
  FROM adj a JOIN l{r} l ON l.u = a.v
  GROUP BY a.u, l.lbl
),
l{r + 1} AS (
  SELECT u, lbl FROM (
    SELECT u, lbl,
           ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, lbl) AS rn
    FROM v{r}
  ) WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\nSELECT u AS doc_id, lbl AS community FROM l{rounds}"
    )


def personalized_pagerank(
    pairs: DataFrame,
    seed_pred: str = "s % 20 = 0",
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
    damping_pct: int = PR_DAMPING_PCT,
) -> DataFrame:
    """PERSONALIZED PageRank over the duplicate-pair graph in the same
    exact integer arithmetic as :func:`pagerank_integer`:
    DataFrame[doc_id, rank_scaled], where teleport mass returns only
    to the SEED set (graph nodes satisfying ``seed_pred`` over the
    node id column ``s``) instead of spreading uniformly.

    This is the graph-diffusion "more like these" primitive: rank mass
    radiates from the seeds through near-dup edges, so high-ranked
    non-seeds are documents structurally entangled with the seed set
    (the retrieval/contamination-expansion companion to the global
    centrality of pagerank_integer). Same recurrence, two changes:
    r0 = scale div |S| on seeds (0 elsewhere) and the (1-d) base term
    lands on seeds only — still all BIGINT floor arithmetic, so the
    DuckDB twin unrolls to the same bits. Raises if no node satisfies
    the predicate.

    Shape per round: identical to pagerank_integer (one edge join +
    one target-keyed BIGINT sum, localCheckpoint per round).
    """
    edges = (
        pairs.select(F.col(doc_a).alias("s"), F.col(doc_b).alias("t"))
        .union(
            pairs.select(F.col(doc_b).alias("s"), F.col(doc_a).alias("t"))
        )
        .distinct()
        .localCheckpoint()
    )
    deg = edges.groupBy("s").agg(F.count("*").cast("long").alias("deg"))
    seeds = deg.select("s", F.expr(seed_pred).alias("is_seed"))
    n_seeds = seeds.where("is_seed").count()  # one driver long
    if n_seeds == 0:
        raise ValueError(
            f"personalized_pagerank: no nodes satisfy {seed_pred!r}"
        )
    base = ((100 - damping_pct) * scale) // (100 * n_seeds)
    r0 = scale // n_seeds
    # r10: fixed-round loop, lazy checkpoints — lineage stays flat
    # (every round is a LogicalRDD leaf) but the materialization jobs
    # collapse into the consumer's single action (guide §1.2)
    rank = seeds.select(
        F.col("s").alias("id"),
        F.when(F.col("is_seed"), F.lit(r0))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    ).localCheckpoint(eager=False)
    for _ in range(iterations):
        contrib = (
            edges.join(rank, edges.s == rank.id)
            .join(deg, "s")
            .select("t", F.expr("rank div deg").alias("c"))
            .groupBy("t")
            .agg(F.sum("c").alias("total"))
        )
        rank = (
            seeds.join(contrib, seeds.s == contrib.t, "left")
            .select(
                F.col("s").alias("id"),
                (
                    F.when(F.col("is_seed"), F.lit(base))
                    .otherwise(F.lit(0))
                    .cast("long")
                    + F.expr(
                        f"(CAST({damping_pct} AS BIGINT)"
                        " * coalesce(total, CAST(0 AS BIGINT))) div 100"
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return rank.select(
        F.col("id").alias("doc_id"), F.col("rank").alias("rank_scaled")
    )


def personalized_pagerank_sql(
    pairs_sql: str,
    seed_pred: str = "s % 20 = 0",
    iterations: int = PR_ITERATIONS,
    scale: int = PR_SCALE,
    damping_pct: int = PR_DAMPING_PCT,
) -> str:
    """DuckDB twin of :func:`personalized_pagerank` (unrolled rounds,
    seed-conditional base/init)."""
    rounds = []
    prev = "pr0"
    for k in range(1, iterations + 1):
        rounds.append(f"""
pr{k} AS (
  SELECT sd.s AS id,
         (CASE WHEN sd.is_seed THEN (SELECT base FROM params)
               ELSE 0 END)
         + ({damping_pct}::BIGINT * COALESCE(SUM(p.rank // dd.deg), 0))
           // 100 AS rank
  FROM seeds sd
  LEFT JOIN edges e ON e.t = sd.s
  LEFT JOIN {prev} p ON p.id = e.s
  LEFT JOIN deg dd ON dd.s = e.s
  GROUP BY sd.s, sd.is_seed
)""")
        prev = f"pr{k}"
    return f"""
WITH
p AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM p
  UNION
  SELECT doc_b, doc_a FROM p
),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY s),
seeds AS (SELECT s, ({seed_pred}) AS is_seed FROM deg),
params AS (
  SELECT CAST(({100 - damping_pct} * {scale}::BIGINT)
              // (100 * COUNT(*)) AS BIGINT) AS base,
         CAST({scale}::BIGINT // COUNT(*) AS BIGINT) AS r0
  FROM seeds WHERE is_seed
),
pr0 AS (
  SELECT s AS id,
         CASE WHEN is_seed THEN (SELECT r0 FROM params)
              ELSE 0 END AS rank
  FROM seeds
),
{','.join(rounds)}
SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank_scaled FROM {prev}
"""


# ---------------------------------------------------------------------------
# Record linkage / entity resolution: blocked fuzzy matching
# ---------------------------------------------------------------------------


def fuzzy_name_pairs(
    df: DataFrame,
    id_col: str = "p_partkey",
    name_col: str = "p_name",
    max_dist: int = 3,
) -> DataFrame:
    """Blocked fuzzy-match candidate pairs over a name column — the
    record-linkage front end (Fellegi-Sunter blocking + edit-distance
    compare): DataFrame[block, name_a, name_b, node_a, node_b, dist]
    with dist = levenshtein(name_a, name_b) <= max_dist, matched ONLY
    within a blocking key (here the name's last token — the
    head-noun block classic for product/entity names).

    Two scale levers, in order of importance:

    1. **Distinct-name reduction**: names repeat massively in real
       catalogs, so matching runs over DISTINCT names (each carrying
       ``node_id = min(id)`` as its canonical representative), never
       over records. A 100 TB record set with a vocabulary-sized name
       set does the quadratic part on the vocabulary.
    2. **Blocking**: the self-join is an equi-join on the block key,
       so candidates are per-block quadratic instead of global — the
       same pigeonhole contract as the SimHash bands. A pathological
       mega-block is the skew risk; at catalog scale, block = head
       noun keeps blocks vocabulary-bounded.

    levenshtein is unit-cost insert/delete/substitute in both engines
    (Spark `levenshtein`, DuckDB `levenshtein`), so the pair set is
    value-oracled. node_a < node_b dedupes the symmetric pair."""
    names = (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.min(F.col(id_col)).cast("long").alias("node_id"))
        .withColumn(
            "block", F.element_at(F.split(F.col("name"), " "), -1)
        )
    )
    a = names.select(
        F.col("block"),
        F.col("name").alias("name_a"),
        F.col("node_id").alias("node_a"),
    )
    b = names.select(
        F.col("block"),
        F.col("name").alias("name_b"),
        F.col("node_id").alias("node_b"),
    )
    return (
        a.join(b, "block")
        .where(F.col("node_a") < F.col("node_b"))
        .withColumn(
            "dist", F.levenshtein(F.col("name_a"), F.col("name_b"))
        )
        .where(F.col("dist") <= max_dist)
    )


def fuzzy_entities(
    df: DataFrame,
    id_col: str = "p_partkey",
    name_col: str = "p_name",
    max_dist: int = 3,
) -> DataFrame:
    """Entity resolution over the fuzzy-match graph: every record
    assigned a canonical entity — DataFrame[rec_id, entity_id] where
    entity_id = min node_id over the record's name's connected
    component (fuzzy matches are transitive through the CC closure:
    'red plate' ~ 'old plate' ~ 'old rod' collapse to one entity even
    when the ends don't match directly), and a name with no fuzzy
    neighbor keeps its own canonical node_id (exact-duplicate names
    still collapse — the node id is min(record id) per distinct name).

    Composition: :func:`fuzzy_name_pairs` (blocked compare over
    distinct names) -> :func:`duplicate_components` (the shared CC,
    label shuffle on vocabulary-sized nodes) -> one broadcast join of
    the name->entity map back onto the records. The record table is
    touched exactly twice (distinct + final map-back), never joined
    against itself."""
    names = (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.min(F.col(id_col)).cast("long").alias("node_id"))
    )
    pairs = fuzzy_name_pairs(df, id_col, name_col, max_dist)
    cc = duplicate_components(
        pairs.select(
            F.col("node_a").alias("doc_a"),
            F.col("node_b").alias("doc_b"),
        )
    )
    name_map = names.join(
        cc, names.node_id == cc.doc_id, "left"
    ).select(
        "name",
        F.coalesce(F.col("component_id"), F.col("node_id")).alias(
            "entity_id"
        ),
    )
    return df.join(
        F.broadcast(name_map),
        df[name_col] == name_map.name,
    ).select(
        F.col(id_col).cast("long").alias("rec_id"), "entity_id"
    )


def _fuzzy_names_cte(
    table: str, id_col: str, name_col: str
) -> str:
    return f"""
names AS (
  SELECT {name_col} AS name,
         CAST(MIN({id_col}) AS BIGINT) AS node_id,
         (string_split({name_col}, ' '))[-1] AS block
  FROM {table} GROUP BY {name_col}
)"""


def fuzzy_name_pairs_sql(
    table: str = "part",
    id_col: str = "p_partkey",
    name_col: str = "p_name",
    max_dist: int = 3,
) -> str:
    """DuckDB twin of :func:`fuzzy_name_pairs`."""
    return f"""
WITH {_fuzzy_names_cte(table, id_col, name_col)}
SELECT a.block, a.name AS name_a, b.name AS name_b,
       a.node_id AS node_a, b.node_id AS node_b,
       levenshtein(a.name, b.name) AS dist
FROM names a JOIN names b
  ON a.block = b.block AND a.node_id < b.node_id
WHERE levenshtein(a.name, b.name) <= {max_dist}
"""


def fuzzy_entities_sql(
    table: str = "part",
    id_col: str = "p_partkey",
    name_col: str = "p_name",
    max_dist: int = 3,
) -> str:
    """DuckDB twin of :func:`fuzzy_entities` — the shared recursive-CTE
    CC over the node-level pair set, COALESCE'd onto the name map."""
    pairs = f"""
SELECT node_a AS doc_a, node_b AS doc_b
FROM ({fuzzy_name_pairs_sql(table, id_col, name_col, max_dist)})"""
    return f"""
WITH {_fuzzy_names_cte(table, id_col, name_col)},
cc AS ({duplicate_components_sql(pairs)})
SELECT CAST(t.{id_col} AS BIGINT) AS rec_id,
       COALESCE(cc.component_id, n.node_id) AS entity_id
FROM {table} t
JOIN names n ON t.{name_col} = n.name
LEFT JOIN cc ON n.node_id = cc.doc_id
"""


# ---------------------------------------------------------------------------
# Multi-source BFS hop distances
# ---------------------------------------------------------------------------


def hop_distances(
    pairs: DataFrame,
    seeds: tuple[int, ...],
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_hops: int = 6,
) -> DataFrame:
    """Multi-source BFS over the undirected pair graph:
    DataFrame[doc_id, hop] — the minimum edge count from any seed
    (seeds themselves at hop 0, isolated seeds included), truncated at
    ``max_hops``. The graph-exploration primitive next to the closure
    family (components = "which cluster", hops = "how far"): blast
    radius of a contaminated document through the near-dup graph,
    curation-review rings, graph sampling by distance.

    Frontier iteration: each round joins ONLY the newly-reached
    frontier against the edge list, anti-joins the settled set, and
    checkpoints — per-round shuffle is O(frontier out-degree), and
    rounds = min(max_hops, eccentricity of the seed set), each plan a
    leaf thanks to localCheckpoint (the iterative-DataFrame discipline
    of :func:`duplicate_components`). BFS settles each node at its
    first visit, so the min is implicit — no re-relaxation rounds.
    """
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(doc_a).alias("s"), F.col(doc_b).alias("t"))
        .union(pairs.select(F.col(doc_b).alias("s"), F.col(doc_a).alias("t")))
        .distinct()
        .localCheckpoint()
    )
    dist = spark.createDataFrame(
        [(int(s), 0) for s in seeds], "doc_id long, hop int"
    ).localCheckpoint()
    frontier = dist
    for h in range(1, max_hops + 1):
        # r10 round-overhead fix (guide §1.2): one count job per round
        # — it materializes the frontier's LAZY checkpoint (a count
        # scans every partition; isEmpty would stop at the first
        # non-empty one and leave the checkpoint partial) — and the
        # settled set stays a lazy union chain of leaves that the next
        # round's anti-join (or the final consumer) computes. The r9
        # shape paid 3 jobs per round: eager frontier checkpoint,
        # isEmpty probe, eager settled-union checkpoint.
        nxt = (
            frontier.join(edges, frontier["doc_id"] == edges["s"])
            .select(F.col("t").alias("doc_id"))
            .distinct()
            .join(dist.select("doc_id"), "doc_id", "left_anti")
            .withColumn("hop", F.lit(h).cast("int"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        dist = dist.union(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return dist


def hop_distances_sql(
    pairs_sql: str, seeds: tuple[int, ...], max_hops: int = 6
) -> str:
    """DuckDB twin of :func:`hop_distances`: bounded recursive CTE,
    min-hop per node (the UNION-distinct recursion enumerates every
    (node, hop<=max_hops) reachable pair; MIN collapses it to BFS)."""
    seed_rows = ", ".join(f"({int(s)}, 0)" for s in seeds)
    return f"""
WITH RECURSIVE
p AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM p
  UNION ALL
  SELECT doc_b, doc_a FROM p
),
walk(id, hop) AS (
  SELECT * FROM (VALUES {seed_rows}) v(id, hop)
  UNION
  SELECT e.t, w.hop + 1
  FROM walk w JOIN edges e ON e.s = w.id
  WHERE w.hop < {max_hops}
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(hop) AS INT) AS hop
FROM walk GROUP BY id
"""


def pair_set_eval(
    result_pairs: DataFrame,
    truth_pairs: DataFrame,
) -> DataFrame:
    """Precision/recall/F1 of a candidate near-duplicate PAIR set
    against an exact truth set — one row: DataFrame[n_truth, n_result,
    n_hit, precision_milli, recall_milli, f1_milli].

    The dedup analog of ``retrieval.retrieval_eval``: every blocked
    similarity surface in this module (MinHash bands, SimHash bands,
    prefix filters) trades recall for candidate-set size, and this
    report prices that trade as a value-oracled number instead of a
    test-only sweep. Inputs are any two (doc_a, doc_b) frames with
    doc_a < doc_b (the module's pair convention; extra columns
    ignored); both sides are de-duplicated defensively so a pair
    emitted twice cannot inflate a score.

    Integer conventions: precision = hits/|result| and recall =
    hits/|truth| floored at milli; ``f1_milli = (2000·hits) div
    (|truth| + |result|)`` — the harmonic mean computed WITHOUT the
    intermediate ratios (exact, one floor). Empty truth or result
    yields NULL for the affected ratio rather than a crash or a
    silent 0 (an empty truth set means the threshold found nothing —
    the caller should see that, not a fake perfect score).

    Scale: both inputs are pair tables (candidate-sized, not
    corpus-sized); one (doc_a, doc_b) equi-join + three 1-row counts.
    """
    res = result_pairs.select("doc_a", "doc_b").distinct()
    tru = truth_pairs.select("doc_a", "doc_b").distinct()
    hit = res.join(tru, ["doc_a", "doc_b"], "left_semi")
    return (
        tru.agg(F.count("*").cast("long").alias("n_truth"))
        .crossJoin(res.agg(F.count("*").cast("long").alias("n_result")))
        .crossJoin(hit.agg(F.count("*").cast("long").alias("n_hit")))
        .select(
            "n_truth",
            "n_result",
            "n_hit",
            F.expr(
                "CASE WHEN n_result > 0 THEN"
                " (1000 * n_hit) div n_result END"
            ).alias("precision_milli"),
            F.expr(
                "CASE WHEN n_truth > 0 THEN"
                " (1000 * n_hit) div n_truth END"
            ).alias("recall_milli"),
            F.expr(
                "CASE WHEN n_truth + n_result > 0 THEN"
                " (2000 * n_hit) div (n_truth + n_result) END"
            ).alias("f1_milli"),
        )
    )


def pair_set_eval_sql(result_sql: str, truth_sql: str) -> str:
    """DuckDB twin of :func:`pair_set_eval`."""
    return f"""
WITH res AS (SELECT DISTINCT doc_a, doc_b FROM ({result_sql})),
tru AS (SELECT DISTINCT doc_a, doc_b FROM ({truth_sql})),
hit AS (SELECT r.doc_a, r.doc_b
        FROM res r JOIN tru t USING (doc_a, doc_b)),
c AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tru) AS n_truth,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM res) AS n_result,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit
)
SELECT n_truth, n_result, n_hit,
       CAST(CASE WHEN n_result > 0 THEN (1000 * n_hit) // n_result END
            AS BIGINT) AS precision_milli,
       CAST(CASE WHEN n_truth > 0 THEN (1000 * n_hit) // n_truth END
            AS BIGINT) AS recall_milli,
       CAST(CASE WHEN n_truth + n_result > 0 THEN
            (2000 * n_hit) // (n_truth + n_result) END
            AS BIGINT) AS f1_milli
FROM c
"""


def full_assignment(
    docs: DataFrame, pairs: DataFrame, doc_id: str = "doc_id"
) -> DataFrame:
    """Total clustering induced by a pair set: DataFrame[doc_id,
    cluster] over EVERY document — docs inside a connected component
    get its min-id label, docs in no pair are their own singleton
    cluster. The completion :func:`bcubed_eval` needs: B-cubed is
    defined over a partition of the whole corpus, not just the paired
    subset."""
    comp = duplicate_components(pairs)
    return (
        docs.select(F.col(doc_id).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("cluster"),
        )
    )


def bcubed_eval(
    assign_result: DataFrame,
    assign_truth: DataFrame,
) -> DataFrame:
    """B-cubed precision/recall/F1 of a candidate clustering against a
    truth clustering (Bagga & Baldwin 1998; the standard entity-
    resolution / dedup-cluster metric): one row DataFrame[n_docs,
    bcubed_precision_micro, bcubed_recall_micro, bcubed_f1_micro].

    Inputs are total assignments DataFrame[doc_id, cluster] (use
    :func:`full_assignment` to fill singletons). Per document d,
    B-cubed precision is |C(d) ∩ T(d)| / |C(d)| — averaging over docs
    collapses to the (c, t) contingency identity

        precision = (1/N) · Σ_{(c,t)} n_ct² / n_c
        recall    = (1/N) · Σ_{(c,t)} n_ct² / n_t

    computed here with per-(c,t) micro floors then a final floor over
    N (documented double-floor, deterministic in both engines; error
    < (n_cells+1)·10^-6), DECIMAL(38)/HUGEINT carrying n_ct². F1 is
    the harmonic mean of the two micro values, one more floor.

    Unlike pair-level precision/recall (:func:`pair_set_eval`),
    B-cubed penalizes the TRANSITIVE damage of a bad merge: one false
    pair that glues two big clusters costs every member's score, which
    is exactly the failure mode CC-based dedup has and pair metrics
    underprice.

    Scale: the contingency table n_ct is one (cluster, cluster) count
    over the doc_id join of the two assignments; cluster-size tables
    re-aggregate IT, never the corpus. All map-side combinable.
    """
    j = assign_result.select(
        "doc_id", F.col("cluster").alias("c")
    ).join(
        assign_truth.select("doc_id", F.col("cluster").alias("t")),
        "doc_id",
    )
    ct = j.groupBy("c", "t").agg(F.count("*").cast("long").alias("n_ct"))
    nc = ct.groupBy("c").agg(F.sum("n_ct").cast("long").alias("n_c"))
    nt = ct.groupBy("t").agg(F.sum("n_ct").cast("long").alias("n_t"))
    cells = ct.join(nc, "c").join(nt, "t").select(
        "n_ct",
        F.expr(
            "CAST((1000000 * CAST(n_ct AS DECIMAL(38,0)) * n_ct)"
            " div n_c AS DECIMAL(38,0))"
        ).alias("p_cell"),
        F.expr(
            "CAST((1000000 * CAST(n_ct AS DECIMAL(38,0)) * n_ct)"
            " div n_t AS DECIMAL(38,0))"
        ).alias("r_cell"),
    )
    return cells.agg(
        F.sum("n_ct").cast("long").alias("n_docs"),
        F.sum("p_cell").alias("sp"),
        F.sum("r_cell").alias("sr"),
    ).select(
        "n_docs",
        F.expr("CAST(sp div n_docs AS BIGINT)").alias(
            "bcubed_precision_micro"
        ),
        F.expr("CAST(sr div n_docs AS BIGINT)").alias(
            "bcubed_recall_micro"
        ),
        F.expr(
            "CAST(CASE WHEN sp div n_docs + sr div n_docs > 0 THEN "
            "(2 * (sp div n_docs) * (sr div n_docs))"
            " div (sp div n_docs + sr div n_docs) ELSE 0 END AS BIGINT)"
        ).alias("bcubed_f1_micro"),
    )


def bcubed_eval_sql(
    result_pairs_sql: str, truth_pairs_sql: str
) -> str:
    """DuckDB twin of :func:`bcubed_eval` over :func:`full_assignment`
    of the two pair sets — recursive-CTE closures + the contingency
    identity, identical floors."""

    def _assign(pairs_sql: str, name: str) -> str:
        return f"""
{name}_p AS ({pairs_sql}),
{name}_nodes AS (
  SELECT doc_a AS id FROM {name}_p UNION SELECT doc_b FROM {name}_p
),
{name}_edges AS (
  SELECT doc_a AS s, doc_b AS t FROM {name}_p
  UNION ALL SELECT doc_b, doc_a FROM {name}_p
),
{name}_reach(id, lab) AS (
  SELECT id, id FROM {name}_nodes
  UNION
  SELECT e.t, r.lab FROM {name}_reach r
  JOIN {name}_edges e ON e.s = r.id
),
{name}_comp AS (
  SELECT id AS doc_id, MIN(lab) AS component_id
  FROM {name}_reach GROUP BY id
),
{name}_assign AS (
  SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS cluster
  FROM documents d LEFT JOIN {name}_comp c USING (doc_id)
)"""

    return f"""
WITH RECURSIVE
{_assign(result_pairs_sql, 'res')},
{_assign(truth_pairs_sql, 'tru')},
ct AS (
  SELECT r.cluster AS c, t.cluster AS t,
         CAST(COUNT(*) AS BIGINT) AS n_ct
  FROM res_assign r JOIN tru_assign t USING (doc_id)
  GROUP BY 1, 2
),
nc AS (SELECT c, CAST(SUM(n_ct) AS BIGINT) AS n_c FROM ct GROUP BY c),
nt AS (SELECT t, CAST(SUM(n_ct) AS BIGINT) AS n_t FROM ct GROUP BY t),
cells AS (
  SELECT ct.n_ct,
         (1000000 * CAST(ct.n_ct AS HUGEINT) * ct.n_ct) // nc.n_c
           AS p_cell,
         (1000000 * CAST(ct.n_ct AS HUGEINT) * ct.n_ct) // nt.n_t
           AS r_cell
  FROM ct JOIN nc USING (c) JOIN nt USING (t)
),
agg AS (
  SELECT CAST(SUM(n_ct) AS BIGINT) AS n_docs,
         SUM(p_cell) AS sp, SUM(r_cell) AS sr
  FROM cells
)
SELECT n_docs,
       CAST(sp // n_docs AS BIGINT) AS bcubed_precision_micro,
       CAST(sr // n_docs AS BIGINT) AS bcubed_recall_micro,
       CAST(CASE WHEN sp // n_docs + sr // n_docs > 0 THEN
         (2 * (sp // n_docs) * (sr // n_docs))
           // (sp // n_docs + sr // n_docs) ELSE 0 END AS BIGINT)
         AS bcubed_f1_micro
FROM agg
"""


WALK_SEED = "walk-v1"


def random_walks(
    pairs: DataFrame,
    length: int = 4,
    seed: str = WALK_SEED,
) -> DataFrame:
    """Deterministic random walks over an undirected pair graph — the
    data side of DeepWalk/node2vec (Perozzi et al. 2014): one
    ``length``-step walk per node, DataFrame[start, step, node] with
    step 0 = the start itself.

    The step choice is the engine's counter-PRNG contract instead of a
    stateful RNG: from node u at step t of start s's walk, the
    successor is the neighbor v minimizing
    ``hash60(seed:s:t:u:v)`` — a pure row function, so the walk corpus
    is order-free, embarrassingly parallel, identical on any cluster
    size, and replayable verbatim in DuckDB (each neighbor's hash is
    fresh per (walk, step), so this is a uniform draw per step, not a
    fixed per-edge priority). Dead-end nodes simply truncate (no
    self-loop padding) — with symmetrized edges that only happens on
    isolated starts, which never enter.

    Plan: ``length`` chained candidate joins, each frontier-sized ×
    mean degree, with a per-(start)-partitioned rank window picking
    the argmin — a STATIC declarative plan (no driver loop state), so
    Catalyst sees the whole pipeline. Walk fan-out is n_nodes rows per
    step, never edges².
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(
            pairs.select(
                F.col("doc_b").alias("u"), F.col("doc_a").alias("v")
            )
        )
        .distinct()
    )
    frontier = edges.select(F.col("u").alias("start")).distinct().select(
        "start", F.lit(0).alias("step"), F.col("start").alias("node")
    )
    out = frontier
    for t in range(1, length + 1):
        cand = frontier.join(
            edges, frontier["node"] == edges["u"]
        ).select(
            "start",
            F.lit(t).alias("step"),
            F.col("v").alias("nxt"),
            hash60(
                F.concat_ws(
                    ":",
                    F.lit(seed),
                    F.col("start").cast("string"),
                    F.lit(str(t)),
                    F.col("node").cast("string"),
                    F.col("v").cast("string"),
                )
            ).alias("h"),
        )
        w = Window.partitionBy("start").orderBy("h", "nxt")
        frontier = (
            cand.select(
                "start",
                "step",
                F.col("nxt").alias("node"),
                F.row_number().over(w).alias("rn"),
            )
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        out = out.unionByName(frontier)
    return out


def random_walks_sql(
    pairs_sql: str, length: int = 4, seed: str = WALK_SEED
) -> str:
    """DuckDB twin of :func:`random_walks` — identical hashes,
    identical argmin tie order."""
    h = hash60_sql(
        f"'{seed}:' || CAST(w.start AS VARCHAR) || ':{{t}}:' "
        f"|| CAST(w.node AS VARCHAR) || ':' || CAST(e.v AS VARCHAR)"
    )
    ctes = [
        f"p AS ({pairs_sql})",
        "e AS (SELECT doc_a AS u, doc_b AS v FROM p "
        "UNION SELECT doc_b, doc_a FROM p)",
        "w0 AS (SELECT DISTINCT u AS start, 0 AS step, u AS node FROM e)",
    ]
    for t in range(1, length + 1):
        ht = h.replace("{t}", str(t))
        ctes.append(
            f"""w{t} AS (
  SELECT start, {t} AS step, node FROM (
    SELECT w.start, e.v AS node,
           ROW_NUMBER() OVER (PARTITION BY w.start
                              ORDER BY {ht}, e.v) AS rn
    FROM w{t - 1} w JOIN e ON e.u = w.node
  ) WHERE rn = 1
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT start, step, node FROM w{t}" for t in range(length + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + selects
