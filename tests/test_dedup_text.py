"""Dedup + text analysis on planted fixtures (exact and near duplicates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_computing__spark.operators import dedup as D
from big_data_computing__spark.operators import textstats as TS


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old barn"
    near = "the quick brown fox jumps over the lazy cat near the old barn"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base, "en", "s", len(base)),  # exact dup of 1
        (3, "  The  Quick  Brown  Fox  Jumps  Over  The  Lazy  Dog  "
            "Near  The  Old  Barn ", "en", "s", 10),  # normalized dup of 1
        (4, near, "en", "s", len(near)),  # near dup (1 word changed)
        (5, "completely different text about spark query engines and "
            "distributed joins", "en", "s", 20),
        (6, "der hund und die katze ist das haus", "de", "s", 20),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_groups(spark, docs):
    groups = D.exact_dedup_groups(docs).collect()
    dup_groups = [g for g in groups if g["n_docs"] > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0]["n_docs"] == 3  # docs 1, 2, 3 (normalized)
    assert dup_groups[0]["keep_doc_id"] == 1
    survivors = {
        r["doc_id"] for r in D.exact_dedup_survivors(docs).collect()
    }
    assert survivors == {1, 4, 5, 6}


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(docs).collect()
    }
    # exact dups always collide on all bands; near dup should collide too
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (1, 4) in pairs
    # unrelated docs must not pair with the fox docs
    assert not any(5 in p or 6 in p for p in pairs)


def test_lsh_pairs_sharded_row_identity(spark, sf_dir, tmp_path):
    """The band-sharded pair join is row-identical to the one-shot
    join — uncapped, through the super-bucket cap, and via the
    disk-backed band=N shard layout — on the 500-doc fixture corpus
    (real buckets, cap=2 actually drops some)."""
    from big_data_computing__spark.sources.readers import read_table

    corpus = read_table(spark, sf_dir, "documents")
    for cap in (None, 2, D.LSH_MAX_BUCKET):
        want = sorted(
            map(
                tuple,
                D.minhash_lsh_pairs(corpus, max_bucket=cap).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                D.minhash_lsh_pairs_sharded(
                    corpus, max_bucket=cap
                ).collect(),
            )
        )
        assert got == want
    disk = sorted(
        map(
            tuple,
            D.minhash_lsh_pairs_sharded(
                corpus,
                max_bucket=2,
                shard_dir=str(tmp_path / "bands"),
            ).collect(),
        )
    )
    assert disk == sorted(
        map(tuple, D.minhash_lsh_pairs(corpus, max_bucket=2).collect())
    )


def test_lsh_pairs_sharded_degenerate_shapes(spark):
    """Sharded ≡ one-shot on the shapes that break banded joins:
    one corpus-wide super bucket (all-identical texts), a pair-free
    corpus (all-distinct random texts), and a seeded mix — at an
    exceeded cap, the production cap, and uncapped."""
    import random

    rng = random.Random(7)
    words = ["alpha", "bravo", "carol", "delta", "echos", "fox"]

    def corpus(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    identical = corpus([(i, "same text for every doc") for i in range(60)])
    distinct = corpus(
        [
            (i, " ".join(rng.choice(words) for _ in range(12)) + f" u{i}")
            for i in range(60)
        ]
    )
    mixed = corpus(
        [
            (i, "boilerplate header common to the group " + str(i % 7))
            for i in range(60)
        ]
    )
    for c in (identical, distinct, mixed):
        for cap in (2, D.LSH_MAX_BUCKET, None):
            want = sorted(
                map(
                    tuple,
                    D.minhash_lsh_pairs(c, max_bucket=cap).collect(),
                )
            )
            got = sorted(
                map(
                    tuple,
                    D.minhash_lsh_pairs_sharded(
                        c, max_bucket=cap
                    ).collect(),
                )
            )
            assert got == want


def test_simhash_hamming(spark, docs):
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash_signatures(docs).collect()
    }
    assert sigs[1] == sigs[2] == sigs[3]  # same token set
    ham_near = bin(sigs[1] ^ sigs[4]).count("1")
    ham_far = bin(sigs[1] ^ sigs[5]).count("1")
    assert ham_near < ham_far
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_near_pairs(docs, max_hamming=15).collect()
    }
    assert pairs[(1, 2)] == 0


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs


def test_token_stats(spark, docs):
    stats = {
        r["doc_id"]: r for r in TS.token_stats(docs).collect()
    }
    assert stats[1]["n_tokens"] == 13
    assert stats[1]["n_distinct_tokens"] == 11  # 'the' ×3
    assert stats[3]["n_tokens"] == 13  # multi-space split yields no empties


def test_language_id(spark, docs):
    langs = {
        r["doc_id"]: r["pred_lang"]
        for r in TS.language_id(docs).collect()
    }
    assert langs[1] == "en"
    assert langs[6] == "de"


def test_quality_scores_bounds(spark, docs):
    for r in TS.quality_scores(docs).collect():
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 < r["distinct_ratio"] <= 1.0
        assert 0.0 <= r["quality_score"] <= 1.0


def test_fingerprint_normalization(spark, docs):
    fps = {
        r["doc_id"]: r["fingerprint"]
        for r in TS.fingerprints(docs).collect()
    }
    assert fps[1] == fps[2] == fps[3]
    assert fps[1] != fps[4]


def test_bpe_token_counts(spark, docs):
    rows = {
        r["doc_id"]: r for r in TS.bpe_token_counts(docs).collect()
    }
    # doc 1: 13 plain words, no punctuation → bpe == word count
    assert rows[1]["n_bpe_tokens"] == rows[1]["n_word_tokens"] == 13


def test_rolling_fingerprint_normalization(spark, docs):
    fps = {
        r["doc_id"]: r["rolling_fp"]
        for r in TS.rolling_fingerprints(docs).collect()
    }
    assert fps[1] == fps[2] == fps[3]  # normalized dups agree
    assert fps[1] != fps[4]
    assert all(0 <= v < 2147483647 for v in fps.values())


def test_winnow_shared_substring_guarantee(spark):
    """Two docs sharing a long substring must share >= 1 winnowing
    fingerprint (w+k-1 = 8 words guaranteed; here 10 shared words)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, shared + " one two three unique tail words here", "en", "s", 1),
        (2, "different head words " + shared, "en", "s", 1),
        (3, "totally unrelated content with no overlap at all whatsoever "
            "in any window", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    fps = {}
    for r in TS.winnow_fingerprints(docs, k=4, w=5).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared substring produced no shared fingerprint"
    assert not (fps[1] & fps[3])


def test_duplicate_components_hand_graph(spark):
    """CC over a hand-built pair graph: two chains and an isolated pair.
    Transitivity: 1-2, 2-3 → {1,2,3} labeled 1 even though (1,3) was
    never a candidate pair."""
    from big_data_computing__spark.operators.dedup import (
        dedup_survivors,
        duplicate_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    comp = {
        (r["doc_id"], r["component_id"])
        for r in duplicate_components(pairs).collect()
    }
    assert comp == {
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20), (23, 20),
    }
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 23, 99]],
        "doc_id long",
    )
    survivors = {
        r["doc_id"] for r in dedup_survivors(docs, pairs).collect()
    }
    assert survivors == {1, 10, 20, 99}


def test_dedup_survivors_quality_hand_graph(spark):
    """Quality-ranked survivor rule on a hand graph: the HIGHEST score
    in each component wins (not the min id), score ties break to the
    min id, and out-of-component docs pass through with n_dups = 1."""
    from big_data_computing__spark.operators.dedup import (
        dedup_survivors_quality,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)],
        "doc_a long, doc_b long",
    )
    scores = spark.createDataFrame(
        [
            # component {1,2,3}: 2 has the top score -> 2 survives
            (1, 50), (2, 90), (3, 70),
            # component {10,11}: tie -> min id 10 survives
            (10, 40), (11, 40),
            # component {20,21}: the max-id member wins on score
            (20, 10), (21, 95),
            # singleton
            (99, 5),
        ],
        "doc_id long, score_micro long",
    )
    out = {
        r["doc_id"]: (r["score_micro"], r["n_dups"])
        for r in dedup_survivors_quality(scores, pairs).collect()
    }
    assert out == {
        2: (90, 3),
        10: (40, 2),
        21: (95, 2),
        99: (5, 1),
    }


def test_quality_lang_gate_equals_join_form(spark, sf_dir):
    """The fused join-free gate ≡ the docs ⋈ quality_scores ⋈
    language_id filter it replaced (two threshold/lang points), all
    input columns preserved, and the plan has NO join and NO exchange
    — a pure codegen filter over the scan."""
    from big_data_computing__spark.operators.textstats import (
        quality_lang_gate,
    )
    from big_data_computing__spark.plans import executed_plan
    from big_data_computing__spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    for min_q, lg in ((0.45, "en"), (0.6, "en")):
        q = TS.quality_scores(docs).select("doc_id", "quality_score")
        lng = TS.language_id(docs).select("doc_id", "pred_lang")
        want = sorted(
            r["doc_id"]
            for r in docs.join(q, "doc_id")
            .join(lng, "doc_id")
            .where(
                (F.col("quality_score") >= F.lit(min_q))
                & (F.col("pred_lang") == F.lit(lg))
            )
            .select("doc_id")
            .collect()
        )
        gated = quality_lang_gate(docs, "text", min_q, lg)
        assert gated.columns == docs.columns
        got = sorted(
            r["doc_id"] for r in gated.select("doc_id").collect()
        )
        assert got == want and len(want) > 0
    plan = executed_plan(quality_lang_gate(docs))
    assert "Exchange" not in plan
    for bad in ("Join", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_clean_corpus_composition(spark, sf_dir):
    """The composed curation pipeline: survivors are a subset of the
    corpus, contain no exact-duplicate texts, and every stage filter
    actually holds on the output."""
    from big_data_computing__spark.operators.pipelines import clean_corpus
    from big_data_computing__spark.operators.textstats import (
        language_id,
        quality_scores,
    )
    from big_data_computing__spark.sources.readers import read_table

    # cache MUST be released: the tests share one SparkSession, and a
    # lingering cached full-column scan of `documents` substitutes into
    # every later plan over the table, breaking plan-shape assertions
    # (column pruning) in unrelated tests
    docs = read_table(spark, sf_dir, "documents").cache()
    kept = None
    try:
        out = clean_corpus(docs, min_quality=0.45, lang="en")
        ids = {r["doc_id"] for r in out.collect()}
        assert 0 < len(ids) <= docs.count()
        kept = docs.where(F.col("doc_id").isin(*ids)).cache()
        # no two survivors share a normalized text
        texts = [r["text"].lower().strip() for r in kept.collect()]
        assert len(texts) == len(set(texts))
        # stage filters hold
        q = {r["doc_id"]: r["quality_score"]
             for r in quality_scores(kept).collect()}
        assert all(v >= 0.45 for v in q.values())
        langs = {r["pred_lang"] for r in language_id(kept).collect()}
        assert langs == {"en"}
    finally:
        if kept is not None:
            kept.unpersist()
        docs.unpersist()


def test_duplicate_components_vs_union_find(spark):
    """CC operator vs a plain Python union-find on seeded random graphs —
    independent implementations must agree exactly."""
    import random

    from big_data_computing__spark.operators.dedup import (
        duplicate_components,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        n_nodes, n_edges = 60, 45
        edges = [
            tuple(sorted(rng.sample(range(n_nodes), 2)))
            for _ in range(n_edges)
        ]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        want = {(v, find(v)) for v in touched}
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            (r["doc_id"], r["component_id"])
            for r in duplicate_components(pairs).collect()
        }
        assert got == want, f"seed {seed}"


def test_duplicate_components_star_matches_minlabel(spark):
    """Large-star/small-star contraction (the body behind
    x_dedup_components_star) vs min-label propagation on adversarial
    graph shapes (chains are the star algorithm's reason to exist:
    diameter >> log² n)."""
    import random

    from big_data_computing__spark.operators.dedup import (
        duplicate_components,
        duplicate_components_twophase,
    )

    rng = random.Random(11)
    cases = [
        [(i, i + 1) for i in range(30)],               # chain
        [(0, i) for i in range(1, 20)],                # star
        [(i + 1, i) for i in range(25)],               # reversed chain
        [tuple(rng.sample(range(80), 2)) for _ in range(60)],  # random
    ]
    for edges in cases:
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
        )
        a = {
            (r["doc_id"], r["component_id"])
            for r in duplicate_components_twophase(df).collect()
        }
        b = {
            (r["doc_id"], r["component_id"])
            for r in duplicate_components(df).collect()
        }
        assert a == b and len(a) > 0


def test_duplicate_components_star_raises_without_convergence(spark):
    """Truncated iteration budget must raise, not return partial labels
    (same loud-failure contract as the min-label sibling)."""
    import pytest

    from big_data_computing__spark.operators.dedup import (
        duplicate_components_twophase,
    )

    df = spark.createDataFrame(
        [(int(i), int(i + 1)) for i in range(40)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_components_twophase(df, max_iterations=1)


def test_simhash_xxhash64_production_mode(spark, docs):
    """hash_mode='xxhash64' (the production fast path) must preserve
    SimHash semantics: identical token sets → identical signatures, and
    the planted near-dup still lands within the hamming threshold."""
    sigs = {
        r["doc_id"]: r["simhash"]
        for r in D.simhash_signatures(docs, hash_mode="xxhash64").collect()
    }
    assert sigs[1] == sigs[2] == sigs[3]  # same token set
    assert all(0 <= s < 2**60 for s in sigs.values())
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.simhash_near_pairs(
            docs, max_hamming=10, hash_mode="xxhash64"
        ).collect()
    }
    assert (1, 4) in pairs  # near dup survives the hash swap
    assert not any(5 in p or 6 in p for p in pairs)


def test_hash60_modes(spark):
    """xxhash64 mode: deterministic, in [0, 2^60), distinct from md5
    mode but same contract; md5 mode unchanged."""
    from big_data_computing__spark.functions.hashing import hash60

    df = spark.createDataFrame(
        [(f"tok{i}",) for i in range(200)], "s string"
    )
    out = df.select(
        hash60(F.col("s")).alias("h_md5"),
        hash60(F.col("s"), "xxhash64").alias("h_xx"),
        hash60(F.col("s"), "xxhash64").alias("h_xx2"),
    ).collect()
    assert all(0 <= r["h_xx"] < 2**60 for r in out)
    assert all(r["h_xx"] == r["h_xx2"] for r in out)  # deterministic
    assert len({r["h_xx"] for r in out}) == 200  # no collisions here
    with pytest.raises(ValueError):
        hash60(F.col("s"), "fnv")


def test_pagerank_integer_properties(spark):
    """Integer PageRank on a hand-built star+chain graph: the hub
    outranks leaves, two runs are bit-identical, ranks are positive,
    and total mass stays within the documented floor-leak bound
    (n·(iterations+1) scale units below the ideal)."""
    from big_data_computing__spark.operators.dedup import (
        PR_ITERATIONS,
        PR_SCALE,
        pagerank_integer,
    )

    # star: 1 is hub of 2..5; chain 6-7 attached via 5
    pairs = spark.createDataFrame(
        [(1, i) for i in range(2, 6)] + [(5, 6), (6, 7)],
        "doc_a long, doc_b long",
    )
    r1 = {r["doc_id"]: r["rank_scaled"]
          for r in pagerank_integer(pairs).collect()}
    r2 = {r["doc_id"]: r["rank_scaled"]
          for r in pagerank_integer(pairs).collect()}
    assert r1 == r2
    assert all(v > 0 for v in r1.values())
    assert r1[1] == max(r1.values())          # hub wins
    assert r1[1] > r1[7]                      # leaf of chain is lowest-ish
    n = len(r1)
    leak_bound = n * (PR_ITERATIONS + 1) * (n + 100)
    assert PR_SCALE - sum(r1.values()) < leak_bound


def test_triangle_counts_hand_graph(spark):
    """Two triangles sharing edge (2,3), plus a pendant and an isolated
    edge: {1,2,3} and {2,3,4}. Node 1 and 4 sit in one triangle each,
    nodes 2 and 3 in two; pendant/isolated nodes don't appear."""
    from big_data_computing__spark.operators.dedup import triangle_counts

    edges = [
        (1, 2), (2, 3), (1, 3),          # triangle A
        (2, 4), (3, 4),                  # triangle B closes via (2,3)
        (4, 5),                          # pendant
        (8, 9),                          # isolated edge
        (3, 2),                          # reversed duplicate — ignored
    ]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r["doc_id"]: r["n_triangles"]
        for r in triangle_counts(pairs).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_counts_matches_bruteforce(spark):
    """Property check on a deterministic pseudo-random graph: the
    degree-oriented distributed count equals the itertools brute force,
    including on a high-degree hub (the case the orientation exists
    for)."""
    from itertools import combinations

    from big_data_computing__spark.operators.dedup import triangle_counts

    # hub node 0 connected to everyone + a sparse ring + chords
    n = 40
    edges = [(0, i) for i in range(1, n)]
    edges += [(i, i % (n - 1) + 1) for i in range(1, n)]
    edges += [(i, (i * 7) % (n - 1) + 1) for i in range(1, n, 3)]
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    want: dict[int, int] = {}
    for x, y, z in combinations(range(n), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for node in (x, y, z):
                want[node] = want.get(node, 0) + 1
    assert sum(want.values()) % 3 == 0 and want, "fixture sanity"
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["n_triangles"]
        for r in triangle_counts(pairs).collect()
    }
    assert got == want


def test_prefix_jaccard_equals_baseline(spark, sf_dir):
    """PPJoin prefix filtering is lossless: identical (doc_a, doc_b,
    jaccard) rows as the full inverted-index join on the real corpus,
    at two thresholds (including one low enough to stress the prefix
    length math)."""
    from big_data_computing__spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from big_data_computing__spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    for t in (0.5, 0.2):
        want = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs, threshold=t).collect()
        )
        got = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in ngram_jaccard_pairs_prefix(docs, threshold=t).collect()
        )
        assert got == want, f"threshold {t}"
        assert want, "fixture must produce pairs for the test to bite"


def test_dup_cluster_report_hand_graph(spark):
    """Triangle {1,2,3} + chain 10-11-12: the clique reports density 1
    with one triangle; the chain reports density 2/3 with none."""
    from big_data_computing__spark.operators.dedup import dup_cluster_report

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)], ["doc_a", "doc_b"]
    )
    rows = {
        r["component_id"]: r for r in dup_cluster_report(pairs).collect()
    }
    assert set(rows) == {1, 10}
    clique, chain = rows[1], rows[10]
    assert (clique["n_docs"], clique["n_edges"], clique["n_triangles"]) == (
        3, 3, 1
    )
    assert clique["density"] == 1.0
    assert (chain["n_docs"], chain["n_edges"], chain["n_triangles"]) == (
        3, 2, 0
    )
    assert abs(chain["density"] - 0.666667) < 1e-9


def test_kcore_hand_graph(spark):
    """Pendant chain hanging off a triangle plus a 4-clique: the 2-core
    keeps triangle+clique (chain peeled back in cascading rounds); the
    3-core keeps only the clique."""
    from big_data_computing__spark.operators.dedup import kcore_nodes

    edges = (
        [(1, 2), (2, 3), (1, 3)]              # triangle
        + [(3, 4), (4, 5), (5, 6)]            # pendant chain, cascades
        + [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
    )
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    core2 = {
        r["doc_id"]: r["degree"]
        for r in kcore_nodes(pairs, k=2).collect()
    }
    assert core2 == {1: 2, 2: 2, 3: 2, 10: 3, 11: 3, 12: 3, 13: 3}
    core3 = {
        r["doc_id"]: r["degree"]
        for r in kcore_nodes(pairs, k=3).collect()
    }
    assert core3 == {10: 3, 11: 3, 12: 3, 13: 3}


def test_kcore_raises_without_convergence(spark):
    """A long chain at k=2 peels one node per end per round; with
    max_iterations too low the operator must refuse, not return a
    half-peeled set (the oracle contract)."""
    import pytest

    from big_data_computing__spark.operators.dedup import kcore_nodes

    chain = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="no fixed point"):
        kcore_nodes(pairs, k=2, max_iterations=3)
    # with enough rounds the chain peels to nothing: empty 2-core
    assert kcore_nodes(pairs, k=2, max_iterations=10).count() == 0


def test_ktruss_hand_graph(spark):
    """4-clique with a pendant triangle hanging off node 13 and a bare
    chain: the 3-truss keeps clique + triangle (every edge closes a
    triangle, chain edges close none); the 4-truss keeps only the
    clique (every clique edge sits in 2 triangles, the pendant
    triangle's edges in 1 — and (13,14)/(13,15) dropping must CASCADE
    to (14,15), whose own support was fine until its wing edges left)."""
    from big_data_computing__spark.operators.dedup import ktruss_edges

    clique = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
    wing = [(13, 14), (13, 15), (14, 15)]
    chain = [(1, 2), (2, 3)]
    pairs = spark.createDataFrame(
        clique + wing + chain, ["doc_a", "doc_b"]
    )
    t3 = {
        (r["doc_a"], r["doc_b"]): r["support"]
        for r in ktruss_edges(pairs, k=3).collect()
    }
    assert t3 == {**{e: 2 for e in clique}, **{e: 1 for e in wing}}
    t4 = {
        (r["doc_a"], r["doc_b"]): r["support"]
        for r in ktruss_edges(pairs, k=4).collect()
    }
    assert t4 == {e: 2 for e in clique}


def test_ktruss_rejects_k_below_3(spark):
    from big_data_computing__spark.operators.dedup import ktruss_edges

    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    with pytest.raises(ValueError, match="k must be >= 3"):
        ktruss_edges(pairs, k=2)


def test_ktruss_raises_without_convergence(spark):
    """A ladder of triangles (strip 0-1-2, 1-2-3, ...) at k=4 peels one
    rung per end per round; with max_iterations too low the operator
    must refuse, not return a half-peeled edge set."""
    import pytest

    from big_data_computing__spark.operators.dedup import ktruss_edges

    strip = []
    for i in range(14):
        strip += [(i, i + 1), (i, i + 2)]
    pairs = spark.createDataFrame(strip, ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="no fixed point"):
        ktruss_edges(pairs, k=4, max_iterations=2)
    # with enough rounds the strip peels to nothing: no edge ever has
    # support 2 once the ends start cascading inward
    assert ktruss_edges(pairs, k=4, max_iterations=10).count() == 0


def test_dup_cluster_truss_report_hand_graph(spark):
    """Component A = 4-clique + pendant chain (6 of 8 edges in the
    4-truss); component B = bare triangle (no 4-truss: every edge has
    support 1 < 2). Fractions are per-cluster, not global."""
    from big_data_computing__spark.operators.dedup import (
        dup_cluster_truss_report,
    )

    clique = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
    chain = [(13, 14), (14, 15)]
    tri = [(1, 2), (2, 3), (1, 3)]
    pairs = spark.createDataFrame(
        clique + chain + tri, ["doc_a", "doc_b"]
    )
    got = {
        r["component_id"]: (
            r["n_docs"], r["n_edges"], r["n_truss_edges"], r["truss_frac"]
        )
        for r in dup_cluster_truss_report(pairs, k=4).collect()
    }
    assert got == {
        10: (6, 8, 6, round(6 / 8, 6)),
        1: (3, 3, 0, 0.0),
    }


def test_dup_span_report_hand_corpus(spark):
    """Docs A and B share an embedded 6-token run inside otherwise
    unique text (window=4 → the shared run contributes 3 aligned
    windows to each); C is unique; D is shorter than the window and
    must still appear with 0 windows / 0.0 frac."""
    from big_data_computing__spark.operators.dedup import dup_span_report

    shared = "the quick brown fox jumps high"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta"),
            (2, f"one two three {shared} four"),
            (3, "totally unique words nowhere else repeated at all"),
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (
            r["n_windows"], r["n_dup_windows"], r["dup_frac"]
        )
        for r in dup_span_report(docs, window=4).collect()
    }
    # doc1: 10 tokens -> 7 windows; shared run at offsets 2..7 gives
    # windows starting 2,3,4 fully inside the run
    assert got[1] == (7, 3, round(3 / 7, 6))
    # doc2: 10 tokens -> 7 windows; run at offsets 3..8 -> starts 3,4,5
    assert got[2] == (7, 3, round(3 / 7, 6))
    assert got[3] == (5, 0, 0.0)
    assert got[4] == (0, 0, 0.0)


def test_dup_span_report_self_repetition_not_flagged(spark):
    """A window repeated WITHIN one document only is not a cross-doc
    duplicate (distinct-doc count stays 1)."""
    from big_data_computing__spark.operators.dedup import dup_span_report

    docs = spark.createDataFrame(
        [(1, "spam ham spam ham spam ham spam ham")],
        ["doc_id", "text"],
    )
    (row,) = dup_span_report(docs, window=2).collect()
    assert row["n_windows"] == 7
    assert row["n_dup_windows"] == 0


def test_despanned_corpus_survivor_rule(spark):
    """Span removal pinned: the min-doc_id occurrence of a duplicated
    window survives verbatim; every other doc loses exactly the covered
    tokens (including overlap-merged coverage); unique docs and
    too-short docs pass through unchanged."""
    from big_data_computing__spark.operators.dedup import despanned_corpus

    shared = "the quick brown fox"          # 4 tokens, window=4
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),      # survivor (min id)
            (2, f"one two {shared} three"),         # loses the 4 tokens
            # doc 3 embeds the run twice — both occurrences cut, and the
            # two coverage ranges merge without double-counting
            (3, f"{shared} x {shared}"),
            (4, "totally unique content here okay"),
            (5, "shorty"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in despanned_corpus(docs, window=4).collect()
    }
    assert got[1] == (7, 0, f"alpha beta {shared} gamma")
    assert got[2] == (7, 4, "one two three")
    assert got[3] == (9, 8, "x")
    assert got[4] == (5, 0, "totally unique content here okay")
    assert got[5] == (1, 0, "shorty")


def test_ktruss_matches_bruteforce_peel(spark):
    """Property check on a deterministic pseudo-random graph: the
    distributed parallel peel equals a sequential Python peel,
    including the per-edge supports inside the truss."""
    from big_data_computing__spark.operators.dedup import ktruss_edges

    n = 30
    edges = {(0, i) for i in range(1, n)}
    edges |= {tuple(sorted((i, i % (n - 1) + 1))) for i in range(1, n)}
    edges |= {
        tuple(sorted((i, (i * 11) % (n - 1) + 1)))
        for i in range(1, n, 2)
    }
    edges = {(a, b) for a, b in edges if a != b}

    def support(es):
        adj = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {
            (a, b): len(adj[a] & adj[b]) for a, b in es
        }

    k = 4
    want = set(edges)
    while True:
        sup = support(want)
        weak = {e for e, s in sup.items() if s < k - 2}
        if not weak:
            break
        want -= weak
    want_sup = support(want)
    assert want_sup, "fixture sanity: 4-truss must be non-empty"
    pairs = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"])
    got = {
        (r["doc_a"], r["doc_b"]): r["support"]
        for r in ktruss_edges(pairs, k=k).collect()
    }
    assert got == want_sup


def test_minhash_similarity_estimates_track_exact_jaccard(spark, sf_dir):
    """The signature-agreement estimate must track the exact n-gram
    Jaccard on the real corpus: for every LSH candidate pair that has
    an exact Jaccard, |est - exact| is within the 16-hash estimator's
    plausible band; and near-identical pairs estimate near 1."""
    from big_data_computing__spark.operators.dedup import (
        minhash_similarity_pairs,
        ngram_jaccard_pairs,
    )
    from big_data_computing__spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_similarity_pairs(docs).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert est, "fixture must produce candidate pairs"
    checked = 0
    for pair, e in est.items():
        if pair in exact:
            # std error of a 16-trial binomial mean is ≤ 0.125; allow 4σ
            assert abs(e - exact[pair]) <= 0.5, (pair, e, exact[pair])
            checked += 1
    assert checked > 0
    high = [e for pair, e in est.items() if exact.get(pair, 0) > 0.9]
    if high:
        assert min(high) >= 0.75


def test_containment_catches_subset_copy(spark):
    """A short document pasted verbatim into a much longer one:
    symmetric Jaccard is low (the pair is invisible to the 0.5-Jaccard
    operator) but containment of the short doc is ~1 — the case this
    operator exists for."""
    from big_data_computing__spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from big_data_computing__spark.operators.textstats import (
        containment_pairs,
    )

    short = " ".join(f"quoted token{i} payload{i * 7}" for i in range(12))
    long_doc = (
        " ".join(f"filler word{i} stuff{i * 3}" for i in range(80))
        + " "
        + short
        + " "
        + " ".join(f"tail item{i} extra{i * 5}" for i in range(80))
    )
    unrelated = " ".join(f"other thing{i} text{i * 11}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, unrelated)], ["doc_id", "text"]
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["containment_a"], r["containment_b"])
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in got
    ca, cb = got[(1, 2)]
    assert ca >= 0.8 and cb < 0.5, (ca, cb)  # asymmetric by design
    assert (1, 3) not in got and (2, 3) not in got
    # and the symmetric Jaccard operator indeed misses the pair
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) not in jac


def test_snm_window_semantics(spark):
    """SNM candidates are exactly the rank-window neighbors: two
    identical docs adjacent in sort order pair up; identical docs
    forced far apart by the blocking key do NOT (the documented SNM
    recall trade)."""
    from big_data_computing__spark.operators.dedup import snm_pairs

    same = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = [(1, "aaa " + same), (2, "aab " + same)]  # adjacent keys
    # identical bodies, but keys at opposite ends of the order, with
    # > window distinct docs between them
    docs += [(3, "ccc " + same), (4, "zzz " + same)]
    docs += [
        (10 + i, f"m{i:02d} " + " ".join(f"w{i}x{j}" for j in range(40)))
        for i in range(15)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"])
        for r in snm_pairs(df, window=3, threshold=0.5).collect()
    }
    assert (1, 2) in got
    assert (3, 4) not in got  # sorted apart: the SNM blind spot


def test_snm_multipass_closes_reversed_blind_spot(spark):
    """The pair sorted apart by the forward key (differing first
    token) but adjacent under the reversed key (identical suffix) is
    missed by single-pass SNM and caught by the two-pass union."""
    from big_data_computing__spark.operators.dedup import (
        snm_pairs,
        snm_pairs_multipass,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta " * 4
    docs = [(3, "ccc " + same), (4, "zzz " + same)]
    docs += [
        (10 + i, f"m{i:02d} " + " ".join(f"w{i}x{j}" for j in range(40)))
        for i in range(15)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    single = {
        (r["doc_a"], r["doc_b"])
        for r in snm_pairs(df, window=3, threshold=0.5).collect()
    }
    multi = {
        (r["doc_a"], r["doc_b"])
        for r in snm_pairs_multipass(df, window=3, threshold=0.5).collect()
    }
    assert (3, 4) not in single
    assert (3, 4) in multi
    assert single <= multi


def test_truss_decomposition_hand_graph(spark):
    """Two 5-cliques + a chain + a lone triangle: clique edges have
    trussness 5, the triangle 3, chain edges 2; levels are consistent
    with running ktruss_edges per k."""
    from big_data_computing__spark.operators.dedup import (
        ktruss_edges,
        truss_decomposition,
    )

    edges = []
    for base in (0, 100):
        nodes = [base + i for i in range(5)]
        edges += [
            (a, b) for i, a in enumerate(nodes) for b in nodes[i + 1 :]
        ]
    edges += [(4, 50), (50, 51), (51, 100)]
    edges += [(200, 201), (201, 202), (200, 202)]
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["trussness"]
        for r in truss_decomposition(df, kmax=6).collect()
    }
    assert len(got) == len(edges)
    for a, b in edges:
        want = 2
        if a >= 200:
            want = 3
        elif (a < 5 and b < 5) or (100 <= a and b < 200):
            want = 5
        assert got[(a, b)] == want, (a, b)
    # cross-check every level against the one-k operator
    for k in (3, 4, 5, 6):
        want_k = {
            (r["doc_a"], r["doc_b"])
            for r in ktruss_edges(df, k=k).collect()
        }
        got_k = {e for e, t in got.items() if t >= k}
        assert got_k == want_k, k


def test_unigram_rarity_hand_computed(spark):
    """Three tiny docs: rarity is the mean inverse smoothed unigram
    probability — rare-token docs score strictly higher; values match
    a by-hand computation."""
    from big_data_computing__spark.operators.textstats import (
        unigram_rarity,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a b"),
            (2, "a b c"),
            (3, "zzz qqq a"),
        ],
        "doc_id long, text string",
    )
    # corpus: N=9 tokens; counts a=4 b=2 c=1 zzz=1 qqq=1; V=5
    # weight(t) = (2N+V)/(2c+1) = 23/(2c+1)
    w = {"a": 23 / 9, "b": 23 / 5, "c": 23 / 3, "zzz": 23 / 3, "qqq": 23 / 3}
    want = {
        1: round((w["a"] + w["a"] + w["b"]) / 3, 6),
        2: round((w["a"] + w["b"] + w["c"]) / 3, 6),
        3: round((w["zzz"] + w["qqq"] + w["a"]) / 3, 6),
    }
    got = {
        r["doc_id"]: r["rarity"]
        for r in unigram_rarity(docs).collect()
    }
    assert got == want
    assert got[3] > got[2] > got[1]  # rare-token docs score higher


def test_bpe_top_pairs_hand_computed(spark):
    """Word-frequency-weighted bigram counts match a by-hand BPE
    first-merge computation; ties break on the pair string."""
    from big_data_computing__spark.operators.textstats import (
        bpe_top_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "low newest")],
        "doc_id long, text string",
    )
    # vocab: low x3, lower x1, newest x1
    # "lo" 3+1=4, "ow" 3+1=4, "we" 1+1=2, "er" 1, "ne" 1, "ew" 1,
    # "es" 1, "st" 1
    got = [
        (r["pair"], r["n_pairs"])
        for r in bpe_top_pairs(docs, k=4).collect()
    ]
    assert got == [("lo", 4), ("ow", 4), ("we", 2), ("er", 1)]


def test_bpe_train_matches_sequential_reference(spark):
    """The distributed trainer reproduces the exact greedy merge
    sequence of a sequential BPE learner (Sennrich-style) on the
    classic low/lower/newest/widest corpus — counts, order, and
    leftmost non-overlapping application all agree."""
    from big_data_computing__spark.operators.textstats import bpe_train

    def ref_bpe(word_counts, n):
        vocab = {tuple(w): c for w, c in word_counts.items()}
        out = []
        for _ in range(n):
            pairs = {}
            for syms, c in vocab.items():
                for x, y in zip(syms, syms[1:]):
                    pairs[(x, y)] = pairs.get((x, y), 0) + c
            if not pairs:
                break
            (a, b), n_p = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out.append((a, b, n_p))
            new = {}
            for syms, c in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                key = tuple(merged)
                new[key] = new.get(key, 0) + c
            vocab = new
        return out

    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    text = " ".join(w for w, c in wc.items() for _ in range(c))
    docs = spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    )
    got = bpe_train(docs, n_merges=8)
    want = ref_bpe(wc, 8)
    assert got == want
    # sanity: the famous first merges on this corpus
    assert got[0][:2] == ("e", "s") and got[0][2] == 9
    assert got[1][:2] == ("es", "t") and got[1][2] == 9


def test_bpe_incremental_equals_full_recount(spark):
    """The delta-maintained trainer (incremental=True) must produce
    the byte-identical merge sequence — pairs, counts, order — as the
    full per-round re-aggregation it replaces."""
    from big_data_computing__spark.operators.textstats import bpe_train

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )
    inc = bpe_train(docs, n_merges=24, incremental=True)
    full = bpe_train(docs, n_merges=24, incremental=False)
    assert len(inc) == 24
    assert inc == full


def test_bpe_train_256_merges_matches_sequential_reference(spark):
    """VERDICT r5 #3's bar: the trainer stays exactly greedy at real
    tokenizer-training depth. 256 incremental merges over a real text
    sample must equal the sequential learner's sequence element for
    element (the 8-merge toy test pins the full-recount path; the
    incremental-vs-full test pins path equality; this pins depth)."""
    from big_data_computing__spark.operators.textstats import (
        bpe_train,
        tokens,
    )

    # the parquet fixture has only 31 distinct words (saturates at 89
    # merges), so generate a deterministic zipf-ish corpus rich enough
    # to sustain real depth: 1,200 distinct seeded words
    import random

    rng = random.Random(20260814)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab_words = {
        "".join(
            rng.choice(letters) for _ in range(rng.randint(5, 12))
        )
        for _ in range(1200)
    }
    wc = {
        w: max(1, int(2000 / (i + 1)))
        for i, w in enumerate(sorted(vocab_words))
    }
    flat = [w for w, c in wc.items() for _ in range(c)]
    rng.shuffle(flat)
    batch = 200
    docs = spark.createDataFrame(
        [
            (i, " ".join(flat[i * batch : (i + 1) * batch]))
            for i in range(1 + (len(flat) - 1) // batch)
        ],
        "doc_id long, text string",
    ).localCheckpoint()
    # sanity: the Spark-side tokenization sees exactly wc
    got_wc = {
        r["term"]: r["c"]
        for r in docs.select(
            F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got_wc == wc

    def ref_bpe(word_counts, n):
        vocab = {tuple(w): c for w, c in word_counts.items()}
        out = []
        for _ in range(n):
            pairs = {}
            for syms, c in vocab.items():
                for x, y in zip(syms, syms[1:]):
                    pairs[(x, y)] = pairs.get((x, y), 0) + c
            if not pairs:
                break
            (a, b), n_p = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out.append((a, b, n_p))
            new = {}
            for syms, c in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                key = tuple(merged)
                new[key] = new.get(key, 0) + c
            vocab = new
        return out

    want = ref_bpe(wc, 256)
    got = bpe_train(docs, n_merges=256)
    assert len(want) == 256, "corpus too small to sustain 256 merges"
    assert got == want


def test_leakage_safe_splits_respect_clusters(spark):
    """Every pair endpoint lands in the same split; singleton docs get
    their own hash bucket; all three splits exist on enough ids."""
    from big_data_computing__spark.operators.curation import (
        leakage_safe_splits,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)],
        "doc_id long, text string",
    )
    # three clusters: {0,1,2}, {5,6}, {10,11}; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (10, 11)],
        "doc_a long, doc_b long",
    )
    out = leakage_safe_splits(docs, pairs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == 200
    for a, b in [(0, 1), (1, 2), (0, 2), (5, 6), (10, 11)]:
        assert rows[a]["split"] == rows[b]["split"], (a, b)
        assert rows[a]["cluster_rep"] == rows[b]["cluster_rep"]
    assert rows[0]["cluster_rep"] == 0 and rows[5]["cluster_rep"] == 5
    assert {r["split"] for r in rows.values()} == {
        "train", "val", "test",
    }
    # the hash is over the cluster rep, so roughly train-heavy
    n_train = sum(1 for r in rows.values() if r["split"] == "train")
    assert n_train > 120


def test_bpe_apply_roundtrip_with_trainer(spark):
    """Applying the learned merges reproduces the reference
    tokenization (merges in training order, leftmost non-overlapping
    per word) — the train/apply round trip is closed."""
    from big_data_computing__spark.operators.textstats import (
        bpe_apply,
        bpe_train,
    )

    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    text = " ".join(w for w, c in wc.items() for _ in range(c))
    docs = spark.createDataFrame(
        [(1, text), (2, "lowest newcomer")],
        "doc_id long, text string",
    )
    merges = bpe_train(docs, n_merges=6)

    def ref_apply(word):
        syms = list(word)
        for a, b, _n in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == a
                    and syms[i + 1] == b
                ):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_apply(docs, merges).collect()
    }
    for doc_id, t in [(1, text), (2, "lowest newcomer")]:
        want = [
            s for w in t.split(" ") if w for s in ref_apply(w)
        ]
        assert got[doc_id] == want, doc_id
    # the learned merges actually compress: fewer symbols than chars
    assert len(got[1]) < sum(len(w) for w in text.split(" "))


def test_vocab_coverage_hand_computed(spark):
    """Head coverage matches a by-hand computation, including the
    count-desc/term-asc rank tiebreak at the k boundary."""
    from big_data_computing__spark.operators.textstats import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d")],
        "doc_id long, text string",
    )
    # counts: a=4 b=3 c=1 d=1; total=9; rank: a,b,c,d (ties on cnt=1
    # break c before d)
    out = {
        r["k"]: r for r in vocab_coverage(docs, ks=(1, 3)).collect()
    }
    assert out[1]["covered_tokens"] == 4
    assert out[3]["covered_tokens"] == 4 + 3 + 1  # a, b, then c (not d)
    assert out[1]["total_tokens"] == 9
    assert out[1]["vocab_size"] == 4
    assert out[1]["coverage"] == round(4 / 9, 6)
    assert out[3]["coverage"] == round(8 / 9, 6)


def test_components_htm_agrees_with_other_two_impls(spark):
    """Every CC body (min-label propagation, large-star/small-star,
    hash-to-min, hook+shortcut pointer doubling) and the dispatcher on
    both of its branches must produce the labeling of the DuckDB
    recursive-CTE oracle on an adversarial mix: a 30-node chain
    (diameter stress), two dense clusters, isolated pairs, and
    self-loop pairs — one on a chain node, one on a doc that appears
    in no other pair and so must still be labelled by itself."""
    import duckdb

    from big_data_computing__spark.operators.dedup import (
        duplicate_components,
        duplicate_components_auto,
        duplicate_components_htm,
        duplicate_components_shortcut,
        duplicate_components_sql,
        duplicate_components_twophase,
    )

    chain = [(i, i + 1) for i in range(100, 130)]
    dense = [(200, x) for x in range(201, 206)] + [(202, 204)]
    dense2 = [(300, 301), (301, 302), (300, 302)]
    lone = [(400, 401), (500, 501)]
    loops = [(600, 600), (100, 100)]
    rows = chain + dense + dense2 + lone + loops
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")

    def lab(df):
        return {
            (r["doc_id"], r["component_id"]) for r in df.collect()
        }

    con = duckdb.connect()
    con.execute("CREATE TABLE pairs (doc_a BIGINT, doc_b BIGINT)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", rows)
    sql = duplicate_components_sql("SELECT * FROM pairs")
    want = set(con.execute(sql).fetchall())
    assert (600, 600) in want

    a = lab(duplicate_components(pairs))
    b = lab(duplicate_components_twophase(pairs))
    c = lab(duplicate_components_htm(pairs))
    d = lab(duplicate_components_shortcut(pairs))
    e = lab(duplicate_components_auto(pairs))
    f = lab(duplicate_components_auto(pairs, edge_threshold=0))
    assert a == b == c == d == e == f == want
    # spot-check the chain collapsed to one component rooted at 100
    assert (129, 100) in c and (115, 100) in c


def test_unigram_viterbi_matches_exhaustive_reference():
    """The trainer's Viterbi DP must pick exactly the segmentation an
    EXHAUSTIVE enumeration picks under the documented total order
    (max score, then fewest pieces, then lexicographically smallest)
    — including None for uncoverable words. Pure-Python property, no
    Spark."""
    import itertools
    import math

    from big_data_computing__spark.operators.textstats import (
        _viterbi_segment,
    )

    logp = {
        p: math.log(w)
        for p, w in {
            "a": 0.08, "b": 0.05, "c": 0.05, "ab": 0.1, "bc": 0.1,
            "abc": 0.2, "aa": 0.04, "ba": 0.06, "cab": 0.12,
        }.items()
    }

    def exhaustive(word, max_len):
        n = len(word)
        best = None
        for cuts in itertools.product([0, 1], repeat=n - 1):
            seg, start = [], 0
            for i, cut in enumerate(list(cuts) + [1], 1):
                if cut:
                    seg.append(word[start:i])
                    start = i
            if any(len(p) > max_len or p not in logp for p in seg):
                continue
            score = 0.0
            for p in seg:
                score = score + logp[p]
            key = (score, -len(seg))
            if best is None or key > best[0] or (
                key == best[0] and seg < best[1]
            ):
                best = (key, seg)
        return None if best is None else best[1]

    words = [
        "abc", "abcabc", "aabbcc", "cabab", "bca", "aaa", "abba",
        "cabcab", "bcbcbc", "aabcab", "x", "axb", "abcx",
    ]
    for w in words:
        assert _viterbi_segment(w, logp, 3) == exhaustive(w, 3), w


def test_unigram_train_matches_sequential_reference(spark):
    """The distributed unigram-LM trainer (hard-EM + prune) must equal
    a sequential reference running the same algorithm with the
    EXHAUSTIVE segmenter — seed vocabulary, every EM round's counts,
    the prune order, and the final (piece, logprob) table."""
    import itertools
    import math

    from big_data_computing__spark.operators.textstats import (
        unigram_apply,
        unigram_train,
    )

    wc = {
        "low": 5, "lower": 2, "lowest": 4, "newest": 6, "widest": 3,
        "newer": 4, "wider": 2, "news": 5, "lows": 2, "widen": 1,
    }
    text = " ".join(w for w, c in wc.items() for _ in range(c))
    docs = spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    )
    K, SEED, EM, VS = 4, 64, 2, 24

    def exhaustive(word, logp, max_len):
        n = len(word)
        best = None
        for cuts in itertools.product([0, 1], repeat=n - 1):
            seg, start = [], 0
            for i, cut in enumerate(list(cuts) + [1], 1):
                if cut:
                    seg.append(word[start:i])
                    start = i
            if any(len(p) > max_len or p not in logp for p in seg):
                continue
            score = 0.0
            for p in seg:
                score = score + logp[p]
            key = (score, -len(seg))
            if best is None or key > best[0] or (
                key == best[0] and seg < best[1]
            ):
                best = (key, seg)
        return None if best is None else best[1]

    def ref_train():
        subs: dict[str, int] = {}
        for w, c in wc.items():
            for i in range(len(w)):
                for j in range(i + 1, min(i + K, len(w)) + 1):
                    subs[w[i:j]] = subs.get(w[i:j], 0) + c
        chars = {p: n for p, n in subs.items() if len(p) == 1}
        multi = sorted(
            ((p, n) for p, n in subs.items() if len(p) > 1),
            key=lambda pn: (-pn[1], pn[0]),
        )[: max(SEED - len(chars), 0)]
        counts = dict(chars)
        counts.update(dict(multi))

        def to_logp(cnts):
            total = math.fsum(cnts.values())
            return {p: math.log(c / total) for p, c in cnts.items()}

        logp = to_logp(counts)
        while True:
            for _ in range(EM):
                ec: dict[str, float] = {}
                for w, c in wc.items():
                    seg = exhaustive(w, logp, K)
                    if seg is None:
                        continue
                    for p in seg:
                        ec[p] = ec.get(p, 0.0) + float(c)
                merged = {p: ec.get(p, 1e-9) for p in logp}
                logp = to_logp(merged)
            if len(logp) <= VS:
                break
            keep = max(VS, int(len(logp) * 0.75))
            multi_sorted = sorted(
                ((p, c) for p, c in merged.items() if len(p) > 1),
                key=lambda pc: (-pc[1], pc[0]),
            )
            kept = {p: merged[p] for p in chars if p in merged}
            for p, c in multi_sorted[: max(keep - len(kept), 0)]:
                kept[p] = c
            if len(kept) == len(logp):
                break
            logp = to_logp(kept)
        return sorted(logp.items(), key=lambda pl: (-pl[1], pl[0]))

    got = unigram_train(
        docs, vocab_size=VS, seed_size=SEED, max_piece_len=K,
        em_rounds=EM,
    )
    want = ref_train()
    assert [p for p, _ in got] == [p for p, _ in want]
    for (gp, gl), (wp, wl) in zip(got, want):
        assert gl == wl, (gp, gl, wl)

    # apply round-trips through the same kernel: every training word
    # re-segments into in-vocabulary pieces that concatenate back
    seg = {
        r["doc_id"]: r["pieces"]
        for r in unigram_apply(
            docs, got, max_piece_len=K
        ).collect()
    }[1]
    vocab_set = {p for p, _ in got}
    assert all(p in vocab_set for p in seg)
    assert "".join(seg) == text.replace(" ", "")


def test_substring_seed_vocab_hand_computed(spark):
    """Weighted substring ranking on a hand corpus: 'aba' ×2 and
    'ab' ×1 → 'a' = 2·2+1 = 5, 'b' = 2+1 = 3, 'ab' = 2+1 = 3 (count
    desc, piece asc puts 'ab' before 'b'), 'ba' = 2, 'aba' = 2."""
    from big_data_computing__spark.operators.textstats import (
        substring_seed_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "aba ab"), (2, "aba")], "doc_id long, text string"
    )
    rows = [
        (r["piece"], r["n"])
        for r in substring_seed_vocab(docs, k=5, max_piece_len=3).collect()
    ]
    assert rows == [("a", 5), ("ab", 3), ("b", 3), ("aba", 2), ("ba", 2)]


def test_components_shortcut_random_graphs_vs_union_find(spark):
    """Seeded random graphs (sparse G(n,p), a long chain, a star
    forest) against a Python union-find ground truth — the shortcut
    CC's hook/compress interleaving has no partial-labeling escape
    hatch."""
    import random

    from big_data_computing__spark.operators.dedup import (
        duplicate_components_shortcut,
    )

    def union_find_labels(n_ids, edge_list):
        parent = {i: i for i in n_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min-label per component
        out = {}
        for i in n_ids:
            r = find(i)
            out.setdefault(r, []).append(i)
        return {
            i: min(members)
            for r, members in out.items()
            for i in members
        }

    cases = []
    rng = random.Random(7)
    for n, p in ((60, 0.03), (120, 0.015)):
        cases.append(
            [
                (a, b)
                for a in range(n)
                for b in range(a + 1, n)
                if rng.random() < p
            ]
        )
    cases.append([(i, i + 1) for i in range(300, 380)])  # long chain
    cases.append(
        [(h, h + j) for h in (500, 600, 700) for j in (1, 2, 3)]
    )  # star forest
    for edge_list in cases:
        if not edge_list:
            continue
        ids = sorted({x for e in edge_list for x in e})
        want = union_find_labels(ids, edge_list)
        pairs = spark.createDataFrame(
            edge_list, "doc_a long, doc_b long"
        )
        got = {
            r["doc_id"]: r["component_id"]
            for r in duplicate_components_shortcut(pairs).collect()
        }
        assert got == want


def test_components_htm_state_gate_raises_loudly(spark):
    """On a long chain with a tight state budget the HTM guard must
    raise the documented error (naming the safe alternatives) instead
    of inflating toward an executor OOM."""
    import pytest

    from big_data_computing__spark.operators.dedup import (
        duplicate_components_htm,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="state blow-up.*shortcut"):
        duplicate_components_htm(chain, max_state_factor=2)
    # the default budget also trips on this 400-hop chain (peak state
    # ~n·d/2 = 80k vs the 64x bound) — that IS the regime the gate is
    # for. A bounded-diameter graph (HTM's sweet spot) completes fine:
    short_chains = spark.createDataFrame(
        [(i, i + 1) for i in range(400) if (i + 1) % 10 != 0],
        "doc_a long, doc_b long",
    )
    out = {
        r["doc_id"]: r["component_id"]
        for r in duplicate_components_htm(short_chains).collect()
    }
    assert all(v == (k // 10) * 10 for k, v in out.items())


def test_bpe_train_bytes_matches_sequential_reference(spark):
    """Byte-level trainer: greedy merges over space-prefixed UTF-8
    hex byte cells match the sequential learner run on the same
    encoding — including a non-ASCII word (multi-byte UTF-8), which
    byte-level BPE must represent with no UNK."""
    from big_data_computing__spark.operators.textstats import bpe_train

    def ref_bpe_bytes(word_counts, n):
        vocab = {}
        for w, c in word_counts.items():
            bs = (" " + w).encode("utf-8")
            syms = tuple(f"{b:02X}" for b in bs)
            vocab[syms] = vocab.get(syms, 0) + c
        out = []
        for _ in range(n):
            pairs = {}
            for syms, c in vocab.items():
                for x, y in zip(syms, syms[1:]):
                    pairs[(x, y)] = pairs.get((x, y), 0) + c
            if not pairs:
                break
            (a, b), n_p = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out.append((a, b, n_p))
            new = {}
            for syms, c in vocab.items():
                merged, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                key = tuple(merged)
                new[key] = new.get(key, 0) + c
            vocab = new
        return out

    wc = {"low": 5, "lower": 2, "newest": 6, "naïve": 3}
    text = " ".join(w for w, c in wc.items() for _ in range(c))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = bpe_train(docs, n_merges=10, level="byte")
    assert got == ref_bpe_bytes(wc, 10)
    # incremental ≡ full recount holds at byte level too
    assert got == bpe_train(
        docs, n_merges=10, level="byte", incremental=False
    )


def test_bpe_apply_bytes_round_trip(spark):
    """Concatenating a word's byte-level tokens re-spells the hex of
    its space-prefixed UTF-8 bytes exactly — lossless, no UNK, even
    for words (and codepoints) never seen in training."""
    from big_data_computing__spark.operators.textstats import (
        bpe_apply,
        bpe_train,
    )

    train = spark.createDataFrame(
        [(1, "low low low lower newest newest")],
        "doc_id long, text string",
    )
    merges = bpe_train(train, n_merges=6, level="byte")
    assert len(merges) == 6
    test_words = ["low", "lowest", "naïve", "Ω", "zzz"]
    docs = spark.createDataFrame(
        [(1, " ".join(test_words))], "doc_id long, text string"
    )
    toks = bpe_apply(docs, merges, level="byte").collect()[0][
        "bpe_tokens"
    ]
    spelled = "".join(toks)
    want = "".join(
        (" " + w).encode("utf-8").hex().upper() for w in test_words
    )
    assert spelled == want
    # at least one multi-byte merged symbol actually applied
    assert any(len(t) > 2 for t in toks)


def test_label_propagation_density_beats_bridge(spark):
    """Two 4-cliques joined by a bridge stay DISTINCT communities:
    round 1's all-ties min step pulls the bridge endpoint across, but
    from round 2 the clique outvotes the bridge and reclaims it — the
    density-sensitivity that separates LPA from connected components
    (which would merge everything into one closure)."""
    from big_data_computing__spark.operators.dedup import (
        label_propagation,
    )

    def clique(ids):
        return [
            (a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
        ]

    edges = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(0, 10)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["community"]
        for r in label_propagation(pairs, rounds=4).collect()
    }
    assert got[0] == got[1] == got[2] == got[3] == 0
    assert got[10] == got[11] == got[12] == got[13] == 10


def test_label_propagation_deterministic_tiebreak(spark):
    """An isolated edge: both endpoints see labels {u, v} once each in
    the inclusive neighborhood — tie -> both adopt min(u, v), and the
    result is stable across rounds (no synchronous oscillation)."""
    from big_data_computing__spark.operators.dedup import (
        label_propagation,
    )

    pairs = spark.createDataFrame([(7, 3)], "doc_a long, doc_b long")
    for rounds in (1, 2, 3):
        got = {
            r["doc_id"]: r["community"]
            for r in label_propagation(pairs, rounds=rounds).collect()
        }
        assert got == {3: 3, 7: 3}


def test_personalized_pagerank_mass_concentrates_on_seeds(spark):
    """PPR vs global PageRank on a barbell: teleport mass returns only
    to the seed clique, so its members and near neighbors outrank the
    structurally-identical far clique (which global PR ranks equally);
    a node with no path contribution still gets its seed base."""
    from big_data_computing__spark.operators.dedup import (
        pagerank_integer,
        personalized_pagerank,
    )

    def clique(ids):
        return [
            (a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
        ]

    # two identical triangles joined by a 2-hop bridge 2-100-13
    edges = (
        clique([0, 1, 2]) + clique([13, 14, 15])
        + [(2, 100), (100, 13)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    ppr = {
        r["doc_id"]: r["rank_scaled"]
        for r in personalized_pagerank(
            pairs, seed_pred="s <= 2"
        ).collect()
    }
    gpr = {
        r["doc_id"]: r["rank_scaled"]
        for r in pagerank_integer(pairs).collect()
    }
    # global PR: the two cliques are symmetric
    assert gpr[0] == gpr[15]
    # personalized: the seed clique dominates its mirror image
    assert ppr[0] > ppr[15] and ppr[1] > ppr[14] and ppr[2] > ppr[13]
    # diffusion still reaches the far side (connected graph)
    assert ppr[15] > 0


def test_personalized_pagerank_raises_on_empty_seed_set(spark):
    import pytest

    from big_data_computing__spark.operators.dedup import (
        personalized_pagerank,
    )

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="no nodes satisfy"):
        personalized_pagerank(pairs, seed_pred="s > 99")


def test_wordpiece_objective_matches_sequential_reference(spark):
    """objective='likelihood' reproduces a sequential WordPiece-style
    learner: merge argmax by (1e6*c(ab)) div (c(a)*c(b)), same framing
    and leftmost non-overlapping application — and diverges from the
    count objective on a corpus built to split them (a frequent pair
    of very frequent symbols vs a rarer pair of rare symbols)."""
    from big_data_computing__spark.operators.textstats import bpe_train

    def ref_wordpiece(word_counts, n):
        vocab = {}
        for w, c in word_counts.items():
            vocab[tuple(w)] = vocab.get(tuple(w), 0) + c
        out = []
        for _ in range(n):
            pairs, syms = {}, {}
            for s, c in vocab.items():
                for x in s:
                    syms[x] = syms.get(x, 0) + c
                for x, y in zip(s, s[1:]):
                    pairs[(x, y)] = pairs.get((x, y), 0) + c
            if not pairs:
                break
            scored = {
                p: (1_000_000 * c) // (syms[p[0]] * syms[p[1]])
                for p, c in pairs.items()
            }
            (a, b), sc = min(
                scored.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out.append((a, b, sc))
            new = {}
            for s, c in vocab.items():
                merged, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        merged.append(a + b)
                        i += 2
                    else:
                        merged.append(s[i])
                        i += 1
                new[tuple(merged)] = new.get(tuple(merged), 0) + c
            vocab = new
        return out

    # 'th' is the most frequent pair but t,h are everywhere; 'qz' is
    # rarer but its symbols are rare -> likelihood picks qz first,
    # count picks th first
    wc = {"the": 30, "that": 20, "tho": 10, "qz": 8, "hqz": 4}
    text = " ".join(w for w, c in wc.items() for _ in range(c))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = bpe_train(docs, n_merges=6, objective="likelihood")
    assert got == ref_wordpiece(wc, 6)
    count_first = bpe_train(docs, n_merges=1)[0][:2]
    assert got[0][:2] == ("q", "z")
    assert count_first == ("t", "h")
    # full recount path agrees with the incremental one
    assert got == bpe_train(
        docs, n_merges=6, objective="likelihood", incremental=False
    )


# ---------------------------------------------------------------------
# weighted truss
# ---------------------------------------------------------------------

def _ref_weighted_truss(edges_w, min_ws):
    """Sequential full-recompute weighted peel: edges_w = {(u,v): w}."""
    kept = dict(edges_w)
    while True:
        ws = {e: 0 for e in kept}
        nodes = sorted({n for e in kept for n in e})
        for i, a in enumerate(nodes):
            for b in nodes[i + 1:]:
                if (a, b) not in kept:
                    continue
                for c in nodes:
                    if c <= b:
                        continue
                    if (a, c) in kept and (b, c) in kept:
                        tw = min(
                            kept[(a, b)], kept[(a, c)], kept[(b, c)]
                        )
                        for e in ((a, b), (a, c), (b, c)):
                            ws[e] += tw
        drop = [e for e, s in ws.items() if s < min_ws]
        if not drop:
            return {e: ws[e] for e in kept}
        for e in drop:
            del kept[e]


def test_weighted_truss_matches_sequential_reference(spark):
    """4-clique with one weak edge + pendant triangle: the weighted
    peel must price each triangle at its weakest link and cascade
    exactly like the sequential full-recompute reference."""
    from big_data_computing__spark.operators.dedup import (
        weighted_truss_edges,
    )

    edges_w = {
        (10, 11): 5, (10, 12): 5, (10, 13): 1, (11, 12): 5,
        (11, 13): 4, (12, 13): 4,
        (13, 14): 3, (13, 15): 3, (14, 15): 3,
        (1, 2): 9, (2, 3): 9,  # heavy chain: no triangle, must drop
    }
    pairs = spark.createDataFrame(
        [(a, b, w) for (a, b), w in edges_w.items()],
        ["doc_a", "doc_b", "n_bands"],
    )
    for t in (3, 5, 8):
        got = {
            (r["doc_a"], r["doc_b"]): r["wsupport"]
            for r in weighted_truss_edges(pairs, min_wsupport=t).collect()
        }
        assert got == _ref_weighted_truss(edges_w, t), t


def test_weighted_truss_weight_one_is_unweighted(spark):
    """weight ≡ 1 degenerates to the plain k-truss with
    min_wsupport = k-2 — supports and edge sets identical."""
    from big_data_computing__spark.operators.dedup import (
        ktruss_edges,
        weighted_truss_edges,
    )

    clique = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
    wing = [(13, 14), (13, 15), (14, 15)]
    pairs = spark.createDataFrame(
        [(a, b, 1) for a, b in clique + wing],
        ["doc_a", "doc_b", "n_bands"],
    )
    for k in (3, 4):
        unw = {
            (r["doc_a"], r["doc_b"]): r["support"]
            for r in ktruss_edges(pairs, k=k).collect()
        }
        wtd = {
            (r["doc_a"], r["doc_b"]): r["wsupport"]
            for r in weighted_truss_edges(
                pairs, min_wsupport=k - 2
            ).collect()
        }
        assert wtd == unw, k


def test_weighted_truss_duplicate_pair_rows_collapse(spark):
    """A pair reported twice (both orientations, different weights)
    counts once at the MAX weight — the canonicalization contract."""
    from big_data_computing__spark.operators.dedup import (
        weighted_truss_edges,
    )

    rows = [
        (1, 2, 2), (2, 1, 5),  # same edge, two orientations
        (1, 3, 5), (2, 3, 5),
    ]
    pairs = spark.createDataFrame(rows, ["doc_a", "doc_b", "n_bands"])
    got = {
        (r["doc_a"], r["doc_b"]): r["wsupport"]
        for r in weighted_truss_edges(pairs, min_wsupport=5).collect()
    }
    # triangle price = min(5, 5, 5) = 5 — the weak duplicate row of
    # (1,2) must not drag the price to 2
    assert got == {(1, 2): 5, (1, 3): 5, (2, 3): 5}


def test_incremental_dedup_equals_split_of_full_pairs(spark):
    """The incremental probe must produce EXACTLY the cross-split
    subset of the full self-join pair set — same collisions, same
    n_bands — never more (no corpus-vs-corpus) and never fewer."""
    from big_data_computing__spark.operators.dedup import (
        incremental_lsh_duplicates,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again"),
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "a completely different document about spark shuffles"),
        (3, "the quick brown fox jumps over the lazy dog once"),
        (4, "a completely different document about spark shuffles"),
        (5, "unrelated third topic entirely separate text body"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.where("doc_id >= 4")
    corpus = docs.where("doc_id < 4")
    got = {
        (r["new_doc_id"], r["corpus_doc_id"]): r["n_bands"]
        for r in incremental_lsh_duplicates(
            new, minhash_signatures(corpus)
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"]): r["n_bands"]
        for r in minhash_lsh_pairs(docs).collect()
    }
    want = {
        (max(a, b), min(a, b)): n
        for (a, b), n in full.items()
        if (a >= 4) != (b >= 4)
    }
    # canonicalize: new ids here are all > corpus ids
    assert got == want
    assert got, "fixture must produce at least one cross-split match"


def test_dedup_survivors_quality_randomized_vs_union_find(spark):
    """Randomized cross-check (fixed seed): survivors from the
    distributed operator equal a pure-Python union-find + per-
    component argmax reference on random graphs."""
    import random

    from big_data_computing__spark.operators.dedup import (
        dedup_survivors_quality,
    )

    rng = random.Random(607)
    for trial in range(3):
        n = rng.randint(20, 60)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(5, 40))
            }
        )
        scores = {i: rng.randint(0, 9) for i in range(n)}

        # reference: union-find, then per-root best (score, -id)
        parent = list(range(n))

        def find(a):
            while parent[a] != a:
                parent[a] = parent[parent[a]]
                a = parent[a]
            return a

        for a, b in edges:
            parent[find(a)] = find(b)
        comps: dict = {}
        for i in range(n):
            comps.setdefault(find(i), []).append(i)
        want = {}
        for members in comps.values():
            best = max(members, key=lambda i: (scores[i], -i))
            want[best] = (scores[best], len(members))

        pairs = spark.createDataFrame(
            [(a, b) for a, b in edges] or [(0, 0)],
            "doc_a long, doc_b long",
        ).where(F.col("doc_a") != F.col("doc_b"))
        sdf = spark.createDataFrame(
            [(i, scores[i]) for i in range(n)],
            "doc_id long, score_micro long",
        )
        got = {
            r["doc_id"]: (r["score_micro"], r["n_dups"])
            for r in dedup_survivors_quality(sdf, pairs).collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


# ---------------------------------------------------------------------------
# Multi-source BFS hop distances
# ---------------------------------------------------------------------------


def test_hop_distances_chain_and_truncation(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_id"], r["hop"])
        for r in D.hop_distances(pairs, seeds=(1,), max_hops=2).collect()
    }
    assert got == {(1, 0), (2, 1), (3, 2)}


def test_hop_distances_min_over_paths_and_isolated_seed(spark):
    # 1-2-3-4 chain plus shortcut 1-4: node 4 is hop 1, not hop 3;
    # seed 99 is isolated and still reported at hop 0
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_id"], r["hop"])
        for r in D.hop_distances(pairs, seeds=(1, 99), max_hops=5).collect()
    }
    assert got == {(1, 0), (99, 0), (2, 1), (4, 1), (3, 2)}


def test_hop_distances_cover_seed_component(spark):
    # with an unbounded hop budget, the reached set equals the seed's
    # connected component (plus the seed rows themselves)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12)], "doc_a long, doc_b long"
    )
    reached = {
        r["doc_id"]
        for r in D.hop_distances(pairs, seeds=(10,), max_hops=50).collect()
    }
    comp = {
        r["doc_id"]
        for r in D.duplicate_components(pairs).collect()
        if r["component_id"] == 10
    }
    assert reached == comp == {10, 11, 12}


def test_frequent_token_pairs_hand_and_apriori(spark):
    """Basket semantics: presence per doc (repeats count once), exact
    support line, and the apriori-pruned plan equals an unpruned
    brute pair count."""
    rows = [
        (1, "a b c a a"),   # repeats of 'a' count once
        (2, "a b d"),
        (3, "a b c"),
        (4, "c d"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["tok_a"], r["tok_b"], r["n_docs"])
        for r in TS.frequent_token_pairs(docs, support_milli=500).collect()
    }
    # pairs in >= 2 of 4 docs: (a,b) x3, (a,c) x2, (b,c) x2
    assert got == {("a", "b", 3), ("a", "c", 2), ("b", "c", 2)}

    # unpruned brute truth on the same fixture at a LOW support where
    # pruning could plausibly bite
    import itertools
    baskets = {i: set(t.split()) for i, t in rows}
    from collections import Counter

    cnt = Counter()
    for b in baskets.values():
        for x, y in itertools.combinations(sorted(b), 2):
            cnt[(x, y)] += 1
    thr_milli = 250  # >= 1 of 4 docs
    want = {
        (x, y, c)
        for (x, y), c in cnt.items()
        if c * 1000 >= thr_milli * len(baskets)
    }
    got_low = {
        (r["tok_a"], r["tok_b"], r["n_docs"])
        for r in TS.frequent_token_pairs(
            docs, support_milli=thr_milli
        ).collect()
    }
    assert got_low == want


def test_mis_hand_graph_matches_sequential_luby(spark):
    """Deterministic Luby MIS on a hand graph equals a sequential
    re-derivation of the same rounds from the md5 priorities, and the
    result is independent and maximal."""
    import hashlib

    from big_data_computing__spark.operators.dedup import mis_nodes

    edges = [
        (1, 2), (2, 3), (1, 3),          # triangle
        (3, 4), (4, 5),                   # chain off it
        (10, 11),                         # isolated edge
        (20, 21), (21, 22), (22, 23), (23, 20),  # 4-cycle
    ]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        (r["doc_id"], r["round"]) for r in mis_nodes(pairs).collect()
    }

    def pri(v: int) -> int:
        key = f"mis-0-{v}".encode()
        return int(hashlib.md5(key).hexdigest()[:15], 16)

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    active = set(adj)
    want = set()
    rnd = 0
    while active:
        rnd += 1
        winners = {
            v
            for v in active
            if all(
                pri(v) < pri(w) for w in adj[v] if w in active
            )
        }
        assert winners, "hand fixture must make progress each round"
        want |= {(v, rnd) for v in winners}
        covered = set(winners)
        for v in winners:
            covered |= adj[v] & active
        active -= covered
    assert got == want

    sel = {v for v, _ in got}
    assert all(not (a in sel and b in sel) for a, b in edges)
    nodes = set(adj)
    assert all(
        v in sel or any(w in sel for w in adj[v]) for v in nodes
    )


def test_mis_raises_without_convergence(spark):
    import pytest

    from big_data_computing__spark.operators.dedup import mis_nodes

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="active nodes remain"):
        mis_nodes(pairs, max_iterations=0)


def test_mis_duckdb_parity(spark, sf_dir):
    """Spark MIS over the minhash-LSH graph equals the unrolled-round
    DuckDB twin row-for-row at sf0.001."""
    import duckdb

    from big_data_computing__spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_sql,
        mis_nodes,
        mis_nodes_sql,
    )
    from big_data_computing__spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = sorted(
        tuple(r) for r in mis_nodes(minhash_lsh_pairs(docs)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            mis_nodes_sql(
                f"SELECT doc_a, doc_b FROM ({minhash_lsh_pairs_sql()})"
            )
        ).fetchall()
    )
    assert got == want and got


def test_feature_hash_embed_pinned_and_unbiasedish(spark):
    """Hashing-trick vectors re-derived with hashlib on a hand corpus:
    bucket, sign, and counts all pinned; cancelled buckets emit 0."""
    import hashlib

    from big_data_computing__spark.operators.textstats import (
        feature_hash_embed,
    )

    rows = [
        (1, "a b a c"),
        (2, "b b d"),
        (3, ""),  # empty doc: no tokens, no rows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dim = 4
    got = {
        (r["doc_id"], r["dim_idx"]): r["value"]
        for r in feature_hash_embed(df, dim=dim).collect()
    }

    def h(key: str) -> int:
        return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)

    want: dict[tuple, int] = {}
    for doc_id, text in rows:
        for t in text.split():
            if not t:
                continue
            b = h(f"fh-b-0-{t}") % dim
            s = 1 - 2 * (h(f"fh-s-0-{t}") % 2)
            want[(doc_id, b)] = want.get((doc_id, b), 0) + s
    assert got == want
    assert not any(d == 3 for d, _ in got)


def test_densest_subgraph_picks_the_clique(spark):
    """4-clique (density 1.5) vs chain (density <1): the peel must
    return exactly the clique at eps=0, with its (nodes, edges)."""
    from big_data_computing__spark.operators.dedup import (
        densest_subgraph,
    )

    edges = [
        (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
    ] + [(i, i + 1) for i in range(1, 6)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = sorted(tuple(r) for r in densest_subgraph(pairs).collect())
    assert got == [
        (10, 4, 6), (11, 4, 6), (12, 4, 6), (13, 4, 6),
    ]


def test_densest_subgraph_regular_graph_returns_whole(spark):
    """On a cycle (2-regular) the first peel removes everything
    (deg == 2ρ for every node), so round 0 — the whole graph — is the
    densest candidate. Ties to the earlier round are the contract."""
    from big_data_computing__spark.operators.dedup import (
        densest_subgraph,
    )

    cyc = [(i, (i + 1) % 6) for i in range(6)]
    pairs = spark.createDataFrame(cyc, ["doc_a", "doc_b"])
    got = sorted(tuple(r) for r in densest_subgraph(pairs).collect())
    assert got == [(i, 6, 6) for i in range(6)]


def test_densest_subgraph_raises_past_round_bound(spark):
    import pytest

    from big_data_computing__spark.operators.dedup import (
        densest_subgraph,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="still active"):
        densest_subgraph(pairs, max_iterations=0)


def test_densest_subgraph_duckdb_parity(spark, sf_dir):
    import duckdb

    from big_data_computing__spark.operators.dedup import (
        densest_subgraph,
        densest_subgraph_sql,
        minhash_lsh_pairs,
        minhash_lsh_pairs_sql,
    )
    from big_data_computing__spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    got = sorted(
        tuple(r)
        for r in densest_subgraph(minhash_lsh_pairs(docs)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            densest_subgraph_sql(
                f"SELECT doc_a, doc_b FROM ({minhash_lsh_pairs_sql()})"
            )
        ).fetchall()
    )
    assert got == want and got


# ---------------------------------------------------------------------------
# super-bucket guard (VERDICT r6 item #4): a degenerate bucket — one
# boilerplate string shared by a huge doc cluster — must not make the
# banded self-join quadratic. The guard drops over-cap buckets from
# pair generation and surfaces them in the audit report.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def boilerplate_docs(spark):
    """1,000 identical docs (the adversarial cluster) + the fox docs:
    uncapped LSH would emit ~C(1000,2) = 499,500 cluster pairs."""
    boiler = "subscribe to our newsletter for updates terms apply"
    base = "the quick brown fox jumps over the lazy dog near the old barn"
    near = "the quick brown fox jumps over the lazy cat near the old barn"
    rows = [(i, boiler) for i in range(10_000, 11_000)]
    rows += [(1, base), (2, base), (4, near)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_super_bucket_cap_bounds_pair_output(spark, boilerplate_docs):
    capped = D.minhash_lsh_pairs(boilerplate_docs, max_bucket=100)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # genuine exact/near-dup pairs survive (their buckets hold 3 docs)
    assert got == {(1, 2), (1, 4), (2, 4)}
    # i.e. the ~C(1000,2) = 499,500 boilerplate pairs are gone


def test_super_bucket_report_lists_dropped_buckets(spark, boilerplate_docs):
    rep = D.lsh_super_buckets(boilerplate_docs, max_bucket=100).collect()
    # identical docs share identical signatures: all 8 bands are
    # single 1,000-doc buckets, every one reported
    assert len(rep) == 8
    assert all(r["n_docs"] == 1_000 for r in rep)
    assert {r["band"] for r in rep} == set(range(8))


def test_super_bucket_cap_default_is_inert_at_test_scale(spark, docs):
    # production default (100k) must not change small-corpus results
    plain = D.minhash_lsh_pairs(docs, max_bucket=None).collect()
    guarded = D.minhash_lsh_pairs(docs).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, guarded))
    sim_plain = D.simhash_near_pairs(docs, max_bucket=None).collect()
    sim_guarded = D.simhash_near_pairs(docs).collect()
    assert sorted(map(tuple, sim_plain)) == sorted(map(tuple, sim_guarded))


def test_simhash_super_bucket_cap(spark, boilerplate_docs):
    capped = D.simhash_near_pairs(boilerplate_docs, max_bucket=100)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # the exact-dup pair (hamming 0, 3-doc buckets) survives; docs 1/4
    # differ by one word => hamming 9 > 3, never a simhash pair
    assert (1, 2) in got
    assert not any(a >= 10_000 for a, _ in got)


def test_capped_lsh_sql_twin_matches(spark, boilerplate_docs):
    import duckdb

    from big_data_computing__spark.operators.dedup import (
        lsh_super_buckets_sql,
        minhash_lsh_pairs_sql,
    )

    pdf = boilerplate_docs.toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    want_pairs = sorted(
        (r["doc_a"], r["doc_b"], r["n_bands"])
        for r in D.minhash_lsh_pairs(
            boilerplate_docs, max_bucket=100
        ).collect()
    )
    got_pairs = sorted(
        con.execute(minhash_lsh_pairs_sql(max_bucket=100)).fetchall()
    )
    assert got_pairs == want_pairs
    want_rep = sorted(
        (r["band"], r["bkey"], r["n_docs"])
        for r in D.lsh_super_buckets(
            boilerplate_docs, max_bucket=100
        ).collect()
    )
    got_rep = sorted(
        con.execute(lsh_super_buckets_sql(max_bucket=100)).fetchall()
    )
    assert got_rep == want_rep and len(got_rep) == 8


def test_incremental_probe_super_bucket_guard(spark, boilerplate_docs):
    """A degenerate INDEX bucket must not fan a colliding new doc out
    |bucket| ways: the corpus side of the incremental probe carries the
    same guard as the self-join."""
    corpus_sigs = D.minhash_signatures(boilerplate_docs)
    boiler = "subscribe to our newsletter for updates terms apply"
    base = "the quick brown fox jumps over the lazy dog near the old barn"
    new = spark.createDataFrame(
        [(50_000, boiler), (50_001, base)], "doc_id long, text string"
    )
    hits = D.incremental_lsh_duplicates(
        new, corpus_sigs, max_bucket=100
    ).collect()
    by_new = {}
    for r in hits:
        by_new.setdefault(r["new_doc_id"], []).append(r["corpus_doc_id"])
    # the boilerplate probe matches nothing (its 1,000-doc index
    # buckets are capped); the fox doc still matches its 3-doc cluster
    assert 50_000 not in by_new
    assert sorted(by_new.get(50_001, [])) == [1, 2, 4]
    # uncapped: the same probe fans out to all 1,000 boilerplate docs
    raw = D.incremental_lsh_duplicates(
        new, corpus_sigs, max_bucket=None
    )
    assert raw.where(F.col("new_doc_id") == 50_000).count() == 1_000


def test_components_twophase_random_graphs_vs_union_find(spark, sf_dir):
    """The large-star/small-star alternation against a Python
    union-find ground truth on the same seeded case family as the
    shortcut test, plus the fixture pair graph against the shortcut
    labels (mismatch count must be exactly zero)."""
    import random

    from big_data_computing__spark.operators.dedup import (
        duplicate_components_shortcut,
        duplicate_components_twophase,
    )

    def union_find_labels(n_ids, edge_list):
        parent = {i: i for i in n_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        out = {}
        for i in n_ids:
            out.setdefault(find(i), []).append(i)
        return {
            i: min(members)
            for r, members in out.items()
            for i in members
        }

    rng = random.Random(11)
    cases = [
        [
            (a, b)
            for a in range(80)
            for b in range(a + 1, 80)
            if rng.random() < 0.03
        ],
        [(i, i + 1) for i in range(300, 390)],  # long chain
        [(h, h + j) for h in (500, 600, 700) for j in (1, 2, 3)],
        [(0, 1), (1, 2), (2, 0), (10, 11)],  # triangle + edge
    ]
    for edge_list in cases:
        ids = sorted({x for e in edge_list for x in e})
        want = union_find_labels(ids, edge_list)
        pairs = spark.createDataFrame(
            edge_list, "doc_a long, doc_b long"
        )
        got = {
            r["doc_id"]: r["component_id"]
            for r in duplicate_components_twophase(pairs).collect()
        }
        assert got == want

    from big_data_computing__spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from big_data_computing__spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).localCheckpoint()
    a = duplicate_components_shortcut(pairs)
    b = duplicate_components_twophase(pairs)
    assert (
        a.join(b, "doc_id")
        .where(a["component_id"] != b["component_id"])
        .count()
        == 0
    )
    assert a.count() == b.count()


def test_components_auto_dispatch(spark, sf_dir):
    """duplicate_components_auto picks by edge count and returns the
    same labels either side of the threshold."""
    from big_data_computing__spark.operators.dedup import (
        duplicate_components_auto,
        duplicate_components_shortcut,
        minhash_lsh_pairs,
    )
    from big_data_computing__spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs).localCheckpoint()
    want = {
        (r["doc_id"], r["component_id"])
        for r in duplicate_components_shortcut(pairs).collect()
    }
    # below threshold -> shortcut path; force the two-phase path with
    # threshold 1 — identical labels either way
    got_small = {
        (r["doc_id"], r["component_id"])
        for r in duplicate_components_auto(pairs).collect()
    }
    got_big = {
        (r["doc_id"], r["component_id"])
        for r in duplicate_components_auto(
            pairs, edge_threshold=1
        ).collect()
    }
    assert got_small == want
    assert got_big == want
