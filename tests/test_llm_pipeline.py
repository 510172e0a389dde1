"""LLM-data-pipeline operator tests: dedup tiers, similarity search, text
analysis (BASELINE.json north-star surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_flink_yb_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from gmall_flink_yb_spark.functions.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    lsh_bucket_topk,
)
from gmall_flink_yb_spark.functions.text import language_id, quality_features


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden"
    )
    near = base.replace("lazy dog", "sleepy dog")  # near-duplicate
    rows = [
        (0, base),
        (1, base),                     # exact duplicate of 0
        (2, near),                     # near-duplicate of 0
        (3, "completely different text about spark query engines and "
            "distributed columnar execution with vectorized operators"),
        (4, "der hund und die katze sind nicht mit der maus im haus"),
        (5, "el perro y la los gatos es una casa que por la manana"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    res = exact_dedup(docs, "doc_id", "text")
    groups = {r["keep_id"]: r["dup_count"] for r in res.collect()}
    assert groups[0] == 2          # docs 0 and 1 collapse
    assert res.count() == 5        # 6 docs -> 5 distinct fingerprints


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, "doc_id", "text",
                                          threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    # one changed word breaks 3 of ~22 shingles -> jaccard ~0.76
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (0, 3) not in pairs


@pytest.mark.parametrize("threshold", [0.1, 0.4, 0.7])
def test_jaccard_prefix_equals_exact(spark, sf_dir, threshold):
    """Prefix filtering is a pure candidate-pruning optimization: on real
    corpus data it must return exactly the pairs the full inverted-index
    join returns, at every threshold."""
    from gmall_flink_yb_spark.functions.dedup import jaccard_prefix_pairs
    from gmall_flink_yb_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents")
    exact = sorted(
        map(tuple, ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=threshold).collect())
    )
    pruned = sorted(
        map(tuple, jaccard_prefix_pairs(
            docs, "doc_id", "text", threshold=threshold).collect())
    )
    assert pruned == exact
    assert len(exact) > 0  # corpus has planted near-dups; test is not vacuous


def test_jaccard_prefix_probe_thread_joined_on_plan_error(
    spark, sf_dir, monkeypatch
):
    """jaccard_prefix_pairs overlaps its mega-doc length probe (a driver
    thread) with plan construction; a raise in that stretch must still
    join the thread instead of orphaning it."""
    import threading
    import time

    from gmall_flink_yb_spark.functions import dedup
    from gmall_flink_yb_spark.sources.readers import read_table

    started = []

    class SlowThread(threading.Thread):
        def start(self):
            started.append((getattr(self._target, "__name__", ""), self))
            super().start()

        def run(self):
            time.sleep(0.5)  # still probing when the plan build fails
            super().run()

    def boom(*args, **kwargs):
        raise RuntimeError("plan construction failed")

    docs = read_table(spark, sf_dir, "documents")
    monkeypatch.setattr(threading, "Thread", SlowThread)
    monkeypatch.setattr(dedup, "_jaccard_prefix_candidates", boom)
    with pytest.raises(RuntimeError, match="plan construction failed"):
        dedup.jaccard_prefix_pairs(docs, "doc_id", "text", 0.5)
    probes = [t for name, t in started if name == "_probe_max_len"]
    assert len(probes) == 1
    assert not probes[0].is_alive()


def test_shingle_rows_narrow_equals_window_form(spark, sf_dir):
    """The r12 zero-exchange shingle formulation (regexp lookahead +
    array_distinct, no doc_id window) must emit exactly the rows the
    window formulation emits — on real corpus data at several n AND on
    the documented edge cases (empty doc, whitespace-only, fewer tokens
    than n -> one truncated shingle, repeated tokens, punctuation-only
    separators, NULL text)."""
    from gmall_flink_yb_spark.functions.dedup import (
        shingle_rows,
        shingle_rows_narrow,
    )
    from gmall_flink_yb_spark.sources.readers import read_table

    corpus = read_table(spark, sf_dir, "documents")
    for n in (2, 3, 5):
        old = sorted(map(tuple, shingle_rows(
            corpus, "doc_id", "text", n).collect()))
        new = sorted(map(tuple, shingle_rows_narrow(
            corpus, "doc_id", "text", n).collect()))
        assert new == old
        assert len(old) > 0
    edge = spark.createDataFrame(
        [
            (1, ""),
            (2, "   "),
            (3, "one"),
            (4, "one two"),
            (5, "one two three"),
            (6, "a b c d"),
            (7, "a a a a a"),
            (8, "x!!y??z"),
            (9, None),
        ],
        "doc_id long, text string",
    )
    old = sorted(map(tuple, shingle_rows(edge, "doc_id", "text", 3).collect()))
    new = sorted(
        map(tuple, shingle_rows_narrow(edge, "doc_id", "text", 3).collect())
    )
    assert new == old
    # truncated shingles really are in the output (docs 3, 4)
    assert (3, "one") in new and (4, "one two") in new


def test_jaccard_prefix_mega_doc_capped(spark):
    """VERDICT r04 #3: a document whose shingle set exceeds
    ``verify_array_cap`` must be verified via the row-join fallback (its
    array is never materialized) with output still exactly equal to the
    brute-force inverted-index join — one giant near-dup pair AND the
    small-doc pairs both survive, and pairs below threshold still don't."""
    from gmall_flink_yb_spark.functions.dedup import jaccard_prefix_pairs

    big = " ".join(f"tok{i}" for i in range(700))
    big_mut = " ".join(
        f"tok{i}" if i % 25 else f"mut{i}" for i in range(700)
    )
    rows = [
        (0, big),
        (1, big_mut),
        (2, "small doc about spark shuffles and joins"),
        (3, "small doc about spark shuffles and aggregation"),
        (4, "entirely unrelated text mentioning nothing shared"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = sorted(
        map(tuple, ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.3).collect())
    )
    capped = sorted(
        map(tuple, jaccard_prefix_pairs(
            docs, "doc_id", "text", threshold=0.3, verify_array_cap=100
        ).collect())
    )
    assert capped == exact
    ids = {(a, b) for a, b, _ in capped}
    assert (0, 1) in ids  # giant pair via the row-join branch
    assert (2, 3) in ids  # small pair via the array branch
    assert not any(4 in p for p in ids)


def test_jaccard_prefix_cap_gated_at_plan_time(spark):
    """VERDICT r05 #2: the mega-doc machinery must be PLAN-GATED — a
    corpus with no over-cap doc gets the uncapped verification plan (no
    union branch, no cap filter: the +53% always-on regression), while a
    forced tiny cap takes the two-branch plan; both produce identical
    pairs."""
    from gmall_flink_yb_spark.functions.dedup import jaccard_prefix_pairs
    from gmall_flink_yb_spark.plans.inspect import _simple_plan

    rows = [
        (0, "spark shuffles and joins in the engine core"),
        (1, "spark shuffles and joins in the engine room"),
        (2, "entirely different content about parquet files"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    normal = jaccard_prefix_pairs(docs, "doc_id", "text", threshold=0.3)
    assert "Union" not in _simple_plan(normal)
    forced = jaccard_prefix_pairs(
        docs, "doc_id", "text", threshold=0.3, verify_array_cap=2
    )
    assert "Union" in _simple_plan(forced)
    assert sorted(map(tuple, normal.collect())) == sorted(
        map(tuple, forced.collect())
    )


def test_minhash_lsh_finds_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in minhash_lsh_pairs(docs, "doc_id", "text",
                                        threshold=0.3).collect()}
    assert pairs[(0, 1)] == 1.0    # identical docs agree on every hash
    assert (0, 2) in pairs          # near-dup lands in a shared band
    assert (0, 3) not in pairs


def test_simhash_table_matches_column_variant(docs):
    """The exploded-aggregate scale form must be bit-identical to the
    per-row column expression for every non-empty doc."""
    from gmall_flink_yb_spark.functions.dedup import simhash64, simhash_table

    col_form = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", simhash64(F.col("text")).alias("sh")
        ).collect()
    }
    table_form = {
        r["doc_id"]: r["sh"] for r in simhash_table(docs, "doc_id", "text").collect()
    }
    assert table_form == {k: v for k, v in col_form.items() if k in table_form}
    assert set(table_form) == set(col_form)  # no empty docs in fixture


def test_simhash_near_dup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(docs, "doc_id", "text",
                                    max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 10
    assert (0, 3) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),   # opposite of 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk(vectors):
    res = brute_force_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(res.collect(), key=lambda r: r["rnk"])
    assert [r["n_id"] for r in rows] == [1, 2]
    assert rows[0]["cos_sim"] > 0.99


def test_cosine_near_dup(vectors):
    res = cosine_near_dup_pairs(vectors, threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in res.collect()}
    assert got == {(0, 1)}


def test_ivf_full_probe_equals_brute_force(vectors):
    """Probing every cell degrades IVF to exact search — results must equal
    brute force including ranks and rounded scores."""
    from gmall_flink_yb_spark.functions.similarity import ivf_topk

    bf = {(r["q_id"], r["rnk"]): (r["n_id"], r["cos_sim"])
          for r in brute_force_topk(vectors, vectors, k=3).collect()}
    ivf = {(r["q_id"], r["rnk"]): (r["n_id"], r["cos_sim"])
           for r in ivf_topk(vectors, vectors, k=3, n_centroids=4,
                             n_probe=4).collect()}
    assert ivf == bf


def test_ivf_partial_probe_finds_close_neighbor(vectors):
    """Probing 2 of 3 cells (not exhaustive) still finds the near-identical
    neighbor: it quantizes to a centroid the query's probe list covers.
    (n_probe=1 would legitimately return nothing here — the query IS its own
    centroid, so its top cell holds only its self-match.)"""
    from gmall_flink_yb_spark.functions.similarity import ivf_topk

    res = ivf_topk(
        vectors, vectors.filter(F.col("vec_id") == 0), k=1,
        n_centroids=3, n_probe=2,
    ).collect()
    assert res and res[0]["n_id"] == 1


def test_semantic_dedup_verdicts(spark):
    """SemDeDup: centroids are the two lowest-id vectors; near-dups are only
    flagged against smaller-id members of the SAME cluster."""
    from gmall_flink_yb_spark.functions.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # centroid A
        (1, [0.0, 1.0, 0.0, 0.0]),    # centroid B
        (2, [0.99, 0.1, 0.0, 0.0]),   # cluster A, dup of 0
        (3, [0.0, 0.99, 0.1, 0.0]),   # cluster B, dup of 1
        (4, [0.0, 0.0, 1.0, 0.0]),    # equidistant -> tie broken to A; unique
        (5, [0.98, 0.15, 0.0, 0.0]),  # cluster A, dup of 0/2
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    res = semantic_dedup(df, n_clusters=2, threshold=0.9)
    got = {r["vec_id"]: (r["cluster_id"], r["is_dup"]) for r in res.collect()}
    assert got == {
        0: (0, 0),
        1: (1, 0),
        2: (0, 1),
        3: (1, 1),
        4: (0, 0),
        5: (0, 1),
    }


def test_semantic_dedup_cluster_bounded(spark):
    """A pair above threshold but split across clusters is NOT flagged —
    the cluster bound is the operator's defining approximation."""
    from gmall_flink_yb_spark.functions.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.74, 0.672]),   # nearest centroid 1... itself
        (2, [0.70, 0.714]),   # cos(1,2) ~ 0.998 but lands in cluster 1
    ]
    # centroids = vectors 0 and 1; vector 2 is closer to centroid 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    res = semantic_dedup(df, n_clusters=2, threshold=0.9)
    got = {r["vec_id"]: (r["cluster_id"], r["is_dup"]) for r in res.collect()}
    assert got[2] == (1, 1)
    # and a variant where 2 sits alone: push it to cluster 0's side
    rows2 = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.436]),    # cluster 0; cos(0,2) ~ 0.9 edge
    ]
    df2 = spark.createDataFrame(rows2, ["vec_id", "embedding"])
    res2 = semantic_dedup(df2, n_clusters=2, threshold=0.95)
    got2 = {r["vec_id"]: r["is_dup"] for r in res2.collect()}
    assert got2 == {0: 0, 1: 0, 2: 0}


def test_semantic_dedup_giant_cluster_resharded(spark):
    """VERDICT r3 #4: a pathologically dominating cluster must be re-sharded
    into sub-blocks instead of one unbounded GEMM. With max_cluster_rows=4
    a 40-vector cluster runs ~10 sub-blocks (every task <= ~8 rows), and
    the verdicts must be IDENTICAL to the unblocked run — blocking is pure
    memory shaping, every within-cluster pair is still scored once."""
    import math

    from gmall_flink_yb_spark.functions.similarity import semantic_dedup

    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]  # centroids
    # 40 vectors all landing in cluster 0: tight fan around x-axis with a
    # handful of exact near-dup pairs and many uniques
    for i in range(2, 42):
        ang = 0.01 * (i % 7)  # 7 distinct directions -> dup groups
        rows.append((i, [math.cos(ang), 0.0, math.sin(ang)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    # threshold passes only same-direction pairs (adjacent directions are
    # 0.01 rad apart -> cos ~0.99995 < 0.99999)
    unblocked = {
        (r["vec_id"], r["cluster_id"], r["is_dup"])
        for r in semantic_dedup(
            df, n_clusters=2, threshold=0.99999, max_cluster_rows=10_000
        ).collect()
    }
    blocked = {
        (r["vec_id"], r["cluster_id"], r["is_dup"])
        for r in semantic_dedup(
            df, n_clusters=2, threshold=0.99999, max_cluster_rows=4
        ).collect()
    }
    assert blocked == unblocked
    # the scenario is non-trivial: some dups found, not everything a dup
    n_dups = sum(d for _, _, d in unblocked)
    assert 0 < n_dups < 40


def test_lsh_bucket_topk_contains_true_neighbor(vectors):
    """SRP-LSH: a vector nearly identical to the query shares every
    hyperplane sign, so it is always in the query's bucket."""
    res = lsh_bucket_topk(
        vectors, vectors.filter(F.col("vec_id") == 0), k=2, n_planes=4, dim=4
    )
    rows = sorted(res.collect(), key=lambda r: r["rnk"])
    assert rows and rows[0]["n_id"] == 1


def test_language_id(docs):
    pred = {r["doc_id"]: r["pred"] for r in docs.withColumn(
        "pred", language_id(F.col("text"))).collect()}
    assert pred[0] == "en"
    assert pred[4] == "de"
    assert pred[5] == "es"


def test_quality_features(docs):
    feat = {r["doc_id"]: r for r in quality_features(docs, "text").collect()}
    assert feat[0]["n_tokens"] == 24
    assert feat[0]["quality_ok"] == 1
    assert 0.0 <= feat[0]["stopword_ratio"] <= 1.0


def test_repetition_features_gate(spark):
    from gmall_flink_yb_spark.functions.text import repetition_features

    docs = spark.createDataFrame(
        [
            # 40 varied tokens: passes every rule
            (1, " ".join(f"word{i}" for i in range(40))),
            # spam: one token dominating (top_token_frac = 31/40 > 0.12)
            (2, " ".join(["buy"] * 31 + [f"w{i}" for i in range(9)])),
            # too short (< 30 tokens)
            (3, "tiny doc with six tokens only"),
            # single token: no bigrams -> top_bigram_frac 0, gate fails on len
            (4, "solo"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in repetition_features(docs, "doc_id", "text").collect()
    }
    assert got[1]["repetition_ok"] == 1
    assert got[1]["n_tokens_total"] == 40
    assert got[2]["repetition_ok"] == 0
    assert got[2]["top_token_frac"] == round(31 / 40, 6)
    # "buy buy" bigram appears 30 times of 39 bigrams
    assert got[2]["top_bigram_frac"] == round(30 / 39, 6)
    assert got[3]["repetition_ok"] == 0
    assert got[4]["top_bigram_frac"] == 0.0


def test_pii_redaction(spark):
    from pyspark.sql import functions as F

    from gmall_flink_yb_spark.functions.text import pii_counts, pii_redact

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io and +1-555-0042-2024 twice: d@e.org")],
        "id long, text string",
    )
    n_em, n_ph = pii_counts(F.col("text"))
    row = df.select(
        n_em.alias("e"), n_ph.alias("p"),
        pii_redact(F.col("text")).alias("s"),
    ).first()
    assert row["e"] == 2 and row["p"] == 1
    assert row["s"] == "mail [EMAIL] and [PHONE] twice: [EMAIL]"


def test_incremental_lsh_dedup_verdicts(spark):
    from gmall_flink_yb_spark.functions.dedup import incremental_lsh_dedup

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden"
    )
    other = (
        "completely different text about spark query engines and "
        "distributed columnar execution with vectorized operators"
    )
    existing = spark.createDataFrame(
        [(0, base), (1, other)], ["doc_id", "text"]
    )
    incoming = spark.createDataFrame(
        [
            (10, base),                                  # dup of existing 0
            (11, "unrelated fresh document about cooking pasta with basil "
                 "tomatoes garlic and olive oil in a big pot"),  # keep
            (12, "unrelated fresh document about cooking pasta with basil "
                 "tomatoes garlic and olive oil in a big pot"),  # dup of 11
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["keep"], r["dup_of"])
        for r in incremental_lsh_dedup(
            existing, incoming, "doc_id", "text"
        ).collect()
    }
    assert out[10] == (0, 0)      # matched the existing corpus
    assert out[11] == (1, None)   # min-id of the in-batch pair is kept
    assert out[12] == (0, 11)     # greedy: matched the smaller incoming id


def test_incremental_lsh_dedup_no_existing_pairs_formed(spark):
    # two identical docs in EXISTING must not surface anywhere: the
    # operator only judges incoming
    from gmall_flink_yb_spark.functions.dedup import incremental_lsh_dedup

    txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    existing = spark.createDataFrame(
        [(0, txt), (1, txt)], ["doc_id", "text"]
    )
    incoming = spark.createDataFrame(
        [(10, "totally new words nothing shared here at all today")],
        ["doc_id", "text"],
    )
    rows = incremental_lsh_dedup(existing, incoming, "doc_id", "text").collect()
    assert [(r["doc_id"], r["keep"]) for r in rows] == [(10, 1)]


def test_quality_score_monotone_and_bounded(spark):
    from gmall_flink_yb_spark.functions.text import quality_score

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat with a hat and that is that for now"),
            (2, "!!! ??? ... ;;; ::: ,,, (((", ),
            (3, "x", ),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in quality_score(df, "text").collect()}
    for r in rows.values():
        assert 0.0 < r["quality_score"] < 1.0
    # prose with stopwords beats punctuation soup beats a bare token
    assert rows[1]["quality_score"] > rows[2]["quality_score"]
    assert rows[1]["quality_label"] == 1
    assert rows[2]["quality_label"] == 0


def test_unigram_lm_score_hand_computed(spark):
    from gmall_flink_yb_spark.functions.text import unigram_lm_score

    df = spark.createDataFrame([(0, "a a b"), (1, "b c")], ["doc_id", "text"])
    # corpus: a=2 b=2 c=1, N=5 -> bits(N)=len(bin 5)=3;
    # surprisal a,b = 3-2 = 1; c = 3-1 = 2
    rows = {r["doc_id"]: r for r in unigram_lm_score(df, "doc_id", "text").collect()}
    assert rows[0]["n_tokens"] == 3 and rows[0]["sum_bits"] == 3
    assert rows[0]["mean_bits"] == 1.0
    assert rows[1]["n_tokens"] == 2 and rows[1]["sum_bits"] == 3
    assert rows[1]["mean_bits"] == 1.5


def test_unigram_lm_rare_tokens_score_higher(spark, sf_dir):
    """A gibberish-heavy doc (all-unique tokens) must outscore stopword
    mush built from the corpus's own most common tokens."""
    from gmall_flink_yb_spark.functions.text import unigram_lm_score
    from gmall_flink_yb_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").limit(50).select("doc_id", "text")
    extra = spark.createDataFrame(
        [
            (90001, "zqxjv kwpfy mblgr ntdcs hzvqk"),  # unique -> rare
            (90002, "the the the the the a a a a a"),
        ],
        ["doc_id", "text"],
    )
    scored = {
        r["doc_id"]: r["mean_bits"]
        for r in unigram_lm_score(docs.union(extra), "doc_id", "text").collect()
    }
    assert scored[90001] > scored[90002]


def test_source_overlap_matrix_complete_and_exact(spark):
    from gmall_flink_yb_spark.functions.ngrams import source_overlap

    df = spark.createDataFrame(
        [
            (0, "s1", "a b c d"),
            (1, "s2", "a b c e"),   # shares bigrams "a b","b c" with s1
            (2, "s3", "x y z w"),   # disjoint from both
        ],
        ["doc_id", "source", "text"],
    )
    rows = {
        (r["src_a"], r["src_b"]): r
        for r in source_overlap(df, "source", "text", n=2).collect()
    }
    assert set(rows) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    r12 = rows[("s1", "s2")]
    # s1 bigrams {ab,bc,cd}, s2 {ab,bc,ce}: inter 2, union 4
    assert r12["n_shared"] == 2 and r12["jaccard"] == 0.5
    assert rows[("s1", "s3")]["n_shared"] == 0
    assert rows[("s1", "s3")]["jaccard"] == 0.0


def test_label_centroid_outliers_flags_planted_outlier(spark):
    from gmall_flink_yb_spark.functions.similarity import label_centroid_outliers

    rows = [(i, [1.0, 0.0, 0.0], 0) for i in range(9)]
    rows.append((99, [-1.0, 0.1, 0.0], 0))          # planted outlier
    rows += [(100 + i, [0.0, 1.0, 0.0], 1) for i in range(5)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = label_centroid_outliers(df, "vec_id", "embedding", "label", k=2)
    got = {(r["label"], r["rnk"]): r["vec_id"] for r in out.collect()}
    assert got[(0, 1)] == 99                         # least centroid-similar
    assert out.filter(F.col("label") == 1).count() == 2


def test_motif_search_finds_planted_spike(spark):
    """A planted spike-shaped window must rank first; windows spanning a
    gap in the series and flat (zero-variance) windows must not exist."""
    import datetime

    from gmall_flink_yb_spark.functions.timeseries import (
        bucket_series,
        motif_search,
    )

    def _d(day):
        return datetime.datetime(2024, 1, day)

    rows = (
        # u1: noise then an exact-shape spike (scaled 10x: z-norm ignores it)
        [(1, _d(d), 3.0 + (d % 2)) for d in range(1, 6)]
        + [(1, _d(d), v) for d, v in zip(range(6, 11), [10.0, 20.0, 80.0, 20.0, 10.0])]
        # u2: flat series -> every window zero-variance -> absent
        + [(2, _d(d), 5.0) for d in range(1, 11)]
        # u3: would match but has a gap at day 3 -> window not contiguous
        + [(3, _d(d), v) for d, v in zip([1, 2, 4, 5, 6], [1.0, 2.0, 2.0, 1.0, 9.0])]
    )
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    series = bucket_series(df, "user_id", "ts", "value", bucket_seconds=86_400)
    out = motif_search(series, [1.0, 2.0, 8.0, 2.0, 1.0], k=5).collect()
    assert out, "expected at least one window"
    best = out[0]
    assert best["key"] == 1 and best["dist"] == 0.0  # exact shape, scaled
    keys = {r["key"] for r in out}
    assert 2 not in keys                     # flat windows filtered
    # u3's gap: no window starts at day 1-2 spanning the missing day 3
    u3_starts = {r["window_start_bucket"] for r in out if r["key"] == 3}
    gap_day = int(datetime.datetime(2024, 1, 1).timestamp() // 86_400)
    assert all(s > gap_day for s in u3_starts) or not u3_starts


def test_sax_motifs_groups_same_shape_across_keys(spark):
    """Two users with the same spike SHAPE at different amplitudes must
    land in one SAX bucket (z-norm erases amplitude); a flat user
    contributes nothing."""
    import datetime

    from gmall_flink_yb_spark.functions.timeseries import (
        bucket_series,
        sax_motifs,
    )

    def _d(day):
        return datetime.datetime(2024, 2, day)

    shape = [1.0, 2.0, 9.0, 2.0, 1.0]
    rows = (
        [(1, _d(d + 1), v) for d, v in enumerate(shape)]
        + [(2, _d(d + 1), 100.0 * v) for d, v in enumerate(shape)]
        + [(3, _d(d + 1), 7.0) for d in range(5)]
    )
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    series = bucket_series(df, "user_id", "ts", "value", bucket_seconds=86_400)
    out = sax_motifs(series, 5, k=10).collect()
    assert len(out) == 1                       # one shared bucket, no flat rows
    assert out[0]["n_windows"] == 2 and out[0]["n_keys"] == 2


def test_leakage_safe_split_keeps_clusters_together(spark, sf_dir):
    """The split's defining invariant: every near-dup cluster lives on
    exactly one side, and both sides are non-empty at corpus scale."""
    from gmall_flink_yb_spark.queries import q_leakage_safe_split

    rows = q_leakage_safe_split(spark, sf_dir).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values())
    splits = {r["split"] for r in rows}
    assert splits == {"train", "valid"}
    valid_frac = sum(1 for r in rows if r["split"] == "valid") / len(rows)
    assert 0.02 < valid_frac < 0.3  # ~10% target, cluster-granular


def test_recommended_minhash_bands_geometry():
    """The Jaccard twin of recommended_n_bands: smallest divisor of
    num_hashes holding the target banded recall 1-(1-s^(n/b))^b; one
    divisor step fewer must miss it; unreachable targets raise."""
    import pytest as _pt

    from gmall_flink_yb_spark.functions.dedup import recommended_minhash_bands

    def recall(n, b, s):
        return 1.0 - (1.0 - s ** (n // b)) ** b

    for n in (16, 32, 64):
        for s in (0.5, 0.8):
            for target in (0.9, 0.95):
                b = recommended_minhash_bands(n, s, target)
                assert n % b == 0 and recall(n, b, s) >= target
                smaller = [d for d in range(1, b) if n % d == 0]
                if smaller:
                    assert recall(n, smaller[-1], s) < target
    # the registered operating point: 32 hashes at threshold 0.5 needs 16
    # bands (8 bands — the long-standing default — holds only ~0.40)
    assert recommended_minhash_bands(32, 0.5, 0.9) == 16
    # unreachable: even r=1 recall 1-(1-s)^n misses the target
    with _pt.raises(ValueError):
        recommended_minhash_bands(4, 0.01, 0.99)


def test_minhash_auto_bands_matches_explicit(docs):
    """bands="auto" = the explicit derived divisor: identical pair sets and
    estimates; and the derived banding still catches the fixture's
    near-dup (recall floor holds where the default-8 banding already
    did)."""
    from gmall_flink_yb_spark.functions.dedup import recommended_minhash_bands

    b = recommended_minhash_bands(32, 0.3, 0.9)
    auto = {(r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in minhash_lsh_pairs(docs, "doc_id", "text",
                                       threshold=0.3, bands="auto").collect()}
    explicit = {(r["id_a"], r["id_b"]): r["est_jaccard"]
                for r in minhash_lsh_pairs(docs, "doc_id", "text",
                                           threshold=0.3, bands=b).collect()}
    assert auto == explicit
    assert auto[(0, 1)] == 1.0 and (0, 2) in auto and (0, 3) not in auto


def test_registered_minhash_auto_query_mirrors_derived_geometry():
    """The gated dedup_minhash_auto query and its oracle agree on the
    derived band count through the same pure function, and the oracle
    carries exactly that many band groups (i // r with r = n/b)."""
    from gmall_flink_yb_spark.functions.dedup import recommended_minhash_bands
    from gmall_flink_yb_spark.queries import (
        _MINHASH_AB_BANDS,
        _MINHASH_AB_RECALL,
        _MINHASH_N,
        _MINHASH_THRESHOLD,
        SQL_DEDUP_MINHASH_AUTO,
    )

    assert _MINHASH_AB_BANDS == recommended_minhash_bands(
        _MINHASH_N, _MINHASH_THRESHOLD, _MINHASH_AB_RECALL
    )
    assert _MINHASH_AB_BANDS > 8  # the point: auto must beat the default
    r = _MINHASH_N // _MINHASH_AB_BANDS
    assert f"i // {r} AS band" in SQL_DEDUP_MINHASH_AUTO
