"""Dedup-family + similarity-search operator tests."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from resolve_spark.operators import ann, dedup, multimodal


@pytest.fixture(scope="module")
def docs(spark):
    base = " ".join(f"w{i}" for i in range(60))
    rows = [
        ("d1", base),
        ("d2", base + "  "),              # whitespace-only variant of d1
        ("d3", base.replace("w30", "x30")),  # near-dup of d1
        ("d4", " ".join(f"q{i}" for i in range(60))),  # distinct
        ("d5", "short text"),
    ]
    df = spark.createDataFrame(rows, ["rid", "content"])
    df.persist()
    return df


def _clusters(df):
    return {r["rid"]: r["cluster_id"] for r in df.collect()}


def test_exact_duplicates(spark, docs):
    got = _clusters(dedup.exact_duplicates(docs, "rid", "content"))
    assert got["d1"] == got["d2"]
    assert got["d3"] != got["d1"]
    assert got["d4"] != got["d1"]


def test_minhash_duplicates(spark, docs):
    got = _clusters(dedup.minhash_duplicates(docs, "rid", "content"))
    assert got["d1"] == got["d2"] == got["d3"]
    assert got["d4"] != got["d1"]
    assert got["d5"] != got["d1"]


def test_simhash_duplicates(spark, docs):
    got = _clusters(dedup.simhash_duplicates(docs, "rid", "content"))
    assert got["d1"] == got["d2"] == got["d3"]
    assert got["d4"] != got["d1"]


def test_ngram_jaccard_pairs(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "rid", "content", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["ngram_jaccard"] for r in pairs.collect()}
    assert ("d1", "d2") in got and got[("d1", "d2")] > 0.9
    assert ("d1", "d3") in got
    assert ("d1", "d4") not in got


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    base = rng.normal(size=(10, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # id 100+i: tiny perturbation of i (near-dup)
        rows.append((100 + i, [float(x + 0.01 * j) for j, x in enumerate(v * 1.001)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    df.persist()
    return df


def test_brute_force_topk(spark, vectors):
    queries = vectors.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cands = vectors.select(F.col("vec_id").alias("cand_id"), "embedding")
    top = ann.brute_force_topk(queries, cands, k=2)
    rows = {(r["query_id"], r["rk"]): r["cand_id"] for r in top.collect()}
    for q in range(3):
        assert rows[(q, 1)] == q  # self is nearest
        assert rows[(q, 2)] == 100 + q  # perturbation is second


def test_lsh_topk_recall(spark, vectors):
    queries = vectors.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cands = vectors.select(F.col("vec_id").alias("cand_id"), "embedding")
    exact = ann.brute_force_topk(queries, cands, k=2)
    approx = ann.lsh_topk(queries, cands, k=2, planes=8, tables=6)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, (recall, e - a)


def test_ivf_topk_smoke(spark, vectors):
    queries = vectors.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cands = vectors.select(F.col("vec_id").alias("cand_id"), "embedding")
    top = ann.ivf_topk(queries, cands, k=2, ncells=4, nprobe=2)
    rows = {(r["query_id"], r["rk"]): r["cand_id"] for r in top.collect()}
    assert len(rows) == 6


def test_embedding_duplicates(spark, vectors):
    got = {r["rid"]: r["cluster_id"]
           for r in dedup.embedding_duplicates(vectors, "vec_id", "embedding",
                                               cosine_threshold=0.99).collect()}
    # each perturbed vector clusters with its base
    assert got[100] == got[0]
    assert got[101] == got[1]
    assert got[0] != got[1]


def test_kmeans_assign_two_blobs(spark):
    """Two well-separated direction blobs, k=2 seeded by ids 1 (blob A)
    and 2 (blob B): every point lands with its blob, labels follow the
    init-id order, and a rerun is bit-identical."""
    rows = [
        (1, [1.0, 0.05, 0.0]), (2, [0.0, 1.0, 0.05]),
        (3, [1.0, -0.05, 0.02]), (4, [0.02, 1.0, -0.05]),
        (5, [0.98, 0.0, 0.01]), (6, [0.01, 0.97, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["rid", "vec"])
    out = ann.kmeans_assign(df, "rid", "vec", k=2, iters=2)
    got = {r["rid"]: r["cluster"] for r in out.collect()}
    assert got == {1: 0, 3: 0, 5: 0, 2: 1, 4: 1, 6: 1}
    again = {r["rid"]: r["cluster"]
             for r in ann.kmeans_assign(df, "rid", "vec", k=2, iters=2).collect()}
    assert again == got


def test_kmeans_assign_empty_cluster_drops(spark):
    """Init centroid 2 duplicates centroid 0's vector: the tie breaks
    to the smaller label everywhere, cluster 2 empties after the first
    pass, and the final assignment only uses surviving labels."""
    rows = [
        (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.0]),
        (4, [0.9, 0.1]), (5, [0.1, 0.9]),
    ]
    df = spark.createDataFrame(rows, ["rid", "vec"])
    out = ann.kmeans_assign(df, "rid", "vec", k=3, iters=2).collect()
    labels = {r["cluster"] for r in out}
    assert labels == {0, 1}
    assert len(out) == 5


def test_semantic_dedup_keeps_earliest_in_cluster(spark):
    """A near-exact pair (cos ~ 1) keeps the smaller id and drops the
    larger; the isolated point survives; cluster labels match q76-style
    k-means semantics."""
    rows = [
        (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
        (3, [0.999, 0.001, 0.0]),  # near-dup of 1 (cos ~ 0.9999995)
        (4, [0.1, 0.9, 0.0]),      # same blob as 2, cos(2,4) ~ 0.9939
    ]
    df = spark.createDataFrame(rows, ["rid", "vec"])
    out = dedup.semantic_dedup(df, "rid", "vec", k=2, iters=2,
                               cosine_threshold=0.999)
    got = {r["rid"]: (r["cluster"], r["kept"]) for r in out.collect()}
    assert got[1] == (0, 1)
    assert got[3] == (0, 0)  # dropped: lower-id neighbor 1 at cos >= 0.999
    assert got[2] == (1, 1)
    assert got[4] == (1, 1)  # in-cluster but below the threshold
    assert len(got) == 4


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(i, f"document number {i} " * (1 + i % 4)) for i in range(30)],
        "doc_id long, text string",
    )
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_features(media, dim=8)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["feature"]) == 8 for r in rows)
    assert Counter(r["media_type"] for r in rows) == {
        "image": 10, "audio": 10, "video": 10}


# ---------------------------------------------------------------------------
# repeated_ngram_stats / select_canonical
# ---------------------------------------------------------------------------

def test_repeated_ngram_stats(spark):
    span = " ".join(f"s{i}" for i in range(8))       # one shared 8-token span
    rows = [
        ("a", span + " " + " ".join(f"a{i}" for i in range(8))),
        ("b", span + " " + " ".join(f"b{i}" for i in range(8))),
        ("c", " ".join(f"c{i}" for i in range(16))),  # all-unique windows
        ("d", "too short"),                           # < 8 tokens
    ]
    df = spark.createDataFrame(rows, ["rid", "text"])
    got = {r["rid"]: r for r in
           dedup.repeated_ngram_stats(df, "rid", "text", n=8).collect()}
    # 16 tokens -> 9 windows; only window 1 (the pure span) recurs in a AND b
    assert got["a"]["n_windows"] == 9 and got["b"]["n_windows"] == 9
    assert got["a"]["n_dup_windows"] == 1 and got["b"]["n_dup_windows"] == 1
    assert got["a"]["dup_fraction"] == round(1 / 9, 6)
    assert got["c"]["n_dup_windows"] == 0
    # short docs carry no span evidence: 0 windows, fraction 0.0
    assert got["d"]["n_windows"] == 0 and got["d"]["dup_fraction"] == 0.0


def test_repeated_ngram_stats_within_doc_repeat_is_not_cross_doc(spark):
    """a span repeated INSIDE one doc only must not count as duplicated
    (min_docs counts distinct documents, not occurrences)."""
    span = " ".join(f"r{i}" for i in range(8))
    df = spark.createDataFrame([("solo", span + " " + span)], ["rid", "text"])
    row = dedup.repeated_ngram_stats(df, "rid", "text", n=8).collect()[0]
    assert row["n_windows"] == 9 and row["n_dup_windows"] == 0


def test_select_canonical(spark):
    members = spark.createDataFrame(
        [
            ("r1", "c1", 3, 0.5),
            ("r2", "c1", 3, 0.9),   # keeper of c1: highest quality
            ("r3", "c1", 3, 0.9),   # tie with r2 -> loses on rid order
            ("r9", "c2", 1, 0.1),   # singleton keeps itself
        ],
        ["rid", "cluster_id", "cluster_size", "quality"],
    )
    got = {r["rid"]: r["keep"] for r in dedup.select_canonical(members).collect()}
    assert got == {"r1": False, "r2": True, "r3": False, "r9": True}


def test_remove_repeated_spans(spark, docs):
    """d1/d2 are token-identical (fully covered -> emptied); d3 differs
    from them only at token 31 ('x30'), so the shared windows cover
    every position EXCEPT 31 and exactly that token survives; d4 is
    unique (untouched); d5 is shorter than the window (untouched)."""
    got = {r["rid"]: r for r in
           dedup.remove_repeated_spans(docs, "rid", "content", n=8).collect()}
    assert got["d1"]["clean_text"] == "" and got["d1"]["n_removed"] == 60
    assert got["d2"]["clean_text"] == "" and got["d2"]["n_removed"] == 60
    assert got["d3"]["clean_text"] == "x30" and got["d3"]["n_removed"] == 59
    assert got["d4"]["n_removed"] == 0
    assert got["d4"]["clean_text"] == " ".join(f"q{i}" for i in range(60))
    assert got["d5"]["clean_text"] == "short text" and got["d5"]["n_removed"] == 0


def test_remove_repeated_spans_null_text(spark):
    """NULL text is 0 tokens like repeated_ngram_stats — not the -1/-1
    that F.size over a NULL split array would emit (legacy sizeOfNull),
    which corrupts downstream sum(n_removed) aggregates."""
    docs = spark.createDataFrame(
        [("a", None), ("b", "x y z"), ("c", None)],
        "rid string, content string",
    )
    got = {r["rid"]: r for r in
           dedup.remove_repeated_spans(docs, "rid", "content", n=2).collect()}
    for rid in ("a", "c"):
        assert (got[rid]["n_tokens"], got[rid]["n_removed"]) == (0, 0)
        assert got[rid]["clean_text"] == ""
    assert got["b"]["n_tokens"] == 3 and got["b"]["n_removed"] == 0


def test_remove_repeated_spans_case_folded_hash_preserves_case(spark):
    """dup detection is case-insensitive (matching repeated_ngram_stats)
    but surviving text keeps its original case."""
    span = " ".join(f"S{i}" for i in range(8))
    rows = [("u", span.lower() + " keepME"), ("v", span + " tail")]
    df = spark.createDataFrame(rows, ["rid", "text"])
    got = {r["rid"]: r for r in
           dedup.remove_repeated_spans(df, "rid", "text", n=8).collect()}
    assert got["u"]["clean_text"] == "keepME"
    assert got["v"]["clean_text"] == "tail"


def test_span_ops_fast_hash_matches_portable(spark, docs):
    """the xxhash64 fast path must make the same dup decisions as the
    md5 portable path (different hash family, same window identity)."""
    for impl in ("fast", "portable"):
        got = {r["rid"]: r["n_dup_windows"] for r in
               dedup.repeated_ngram_stats(
                   docs, "rid", "content", n=8, hash_impl=impl).collect()}
        assert got["d1"] > 0 and got["d4"] == 0, impl
    f = dedup.remove_repeated_spans(docs, "rid", "content", n=8, hash_impl="fast")
    p = dedup.remove_repeated_spans(docs, "rid", "content", n=8, hash_impl="portable")
    assert f.select("rid", "clean_text").subtract(
        p.select("rid", "clean_text")).count() == 0


def test_minhash_join_cross_corpus(spark, docs):
    left = docs.where(F.col("rid").isin("d1", "d4"))
    right = docs.where(F.col("rid").isin("d2", "d3", "d5"))
    out = dedup.minhash_join(
        left, right, "rid", "rid", left_text="content", right_text="content",
        jaccard_threshold=0.5,
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[("d1", "d2")] == 1.0            # token-identical
    assert ("d1", "d3") in got and got[("d1", "d3")] > 0.9   # one-token variant
    assert all(a != "d4" for a, _ in got)      # unique doc matches nothing
    # the per-key pair budget drops everything at 0 (hot-key guard works)
    assert dedup.minhash_join(
        left, right, "rid", "rid", left_text="content", right_text="content",
        jaccard_threshold=0.5, max_pairs_per_key=0,
    ).count() == 0


@pytest.mark.parametrize("budget", [None, 3, 2])
def test_band_pairs_self_mode(spark, budget):
    """Self-mode band join against a per-key model: every pair of a
    kept key once as id_a < id_b, no self pair, no dedup across keys,
    payload suffixed _a/_b. Key "hot" has C(3,2) = 3 pairs: kept at
    budget 3, purged at budget 2 (one over)."""
    from itertools import combinations

    keys = {"hot": [1, 2, 3], "warm": [1, 2], "solo": [4], "cold": [3, 4]}
    rows = [(r, bk, f"p{r}") for bk, rids in keys.items() for r in rids]
    # a record listed twice under one key is still never paired with itself
    rows.append((4, "solo", "p4"))
    kd = spark.createDataFrame(rows, "rid long, bk string, p string")
    out = dedup._band_pairs(kd, budget=budget)
    assert out.columns == ["id_a", "id_b", "p_a", "p_b"]
    want = sorted(
        (a, b, f"p{a}", f"p{b}")
        for bk, rids in keys.items()
        if budget is None or len(rids) * (len(rids) - 1) // 2 <= budget
        for a, b in combinations(sorted(rids), 2)
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == want
    # (1, 3) collides only in "hot"; (1, 2) in "hot" and "warm"
    assert ((1, 3, "p1", "p3") in got) == (budget != 2)
    assert got.count((1, 2, "p1", "p2")) == (1 if budget == 2 else 2)


def test_tfidf_weighted_jaccard_downweights_boilerplate(spark):
    # every doc shares 8 boilerplate tokens; d1/d2 share their 4 content
    # tokens (near-dups), d3/d4 have disjoint content
    bp = "terms of service privacy cookie policy all rights"
    rows = [
        ("d1", bp + " quantum entanglement research paper"),
        ("d2", bp + " quantum entanglement research papers"),
        ("d3", bp + " chocolate cake baking recipe"),
        ("d4", bp + " football match score report"),
    ] + [
        # the boilerplate is corpus-wide, the content tokens are not
        (f"f{i}", bp + f" fillera{i} fillerb{i} fillerc{i} fillerd{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "rid string, content string")
    out = dedup.tfidf_weighted_jaccard_pairs(
        df, "rid", "content", threshold=0.0, bands=64, num_hashes=64,
    )
    got = {(r["id_a"], r["id_b"]): r["wjaccard"] for r in out.collect()}
    # plain jaccard on d3/d4 would be 8/14 = 0.57; idf crushes it
    assert got[("d3", "d4")] < 0.2
    # the true near-dups keep a high weighted score
    assert got[("d1", "d2")] > 0.55
    assert got[("d1", "d2")] > got[("d3", "d4")] + 0.4


def test_tfidf_weighted_jaccard_threshold_and_order_stability(spark):
    rows = [(f"r{i}", f"alpha beta gamma delta tok{i % 5} word{i % 17}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "rid string, content string")
    a = dedup.tfidf_weighted_jaccard_pairs(df, "rid", "content", threshold=0.6)
    b = dedup.tfidf_weighted_jaccard_pairs(
        df.repartition(13).orderBy(F.desc("rid")), "rid", "content",
        threshold=0.6,
    )
    assert a.count() > 0
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0


# containment_pairs: PPJoin-style prefix-filtered set-containment join


def test_containment_pairs_catches_low_jaccard_embedding(spark):
    """d1 fully embedded in d2: containment 1.0 but Jaccard only 0.4 —
    the pair class Jaccard-LSH structurally misses."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (3, "foo bar baz qux"),
            (4, "alpha beta zzz www"),  # overlap 2/4 = 0.5 with d1
        ],
        ["rid", "text"],
    )
    got = [tuple(r) for r in dedup.containment_pairs(
        df, "rid", "text", threshold_pct=80
    ).collect()]
    assert got == [(1, 2, 4, 4, 10, 1.0)]


def test_containment_pairs_threshold_integer_cut(spark):
    """overlap 3 of min 4 = 0.75: kept at 75, cut at 80 — the integer
    comparison (100*overlap >= pct*min) decides, no float epsilon."""
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x y z")], ["rid", "text"]
    )
    at75 = dedup.containment_pairs(df, "rid", "text", threshold_pct=75).collect()
    at80 = dedup.containment_pairs(df, "rid", "text", threshold_pct=80).collect()
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in at75] == [(1, 2, 0.75)]
    assert at80 == []


def test_containment_pairs_max_token_df_budget(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e f")], ["rid", "text"]
    )
    # every shared token has df=2 > 1: the budget drops all generation
    # rows, so the (documented) recall trade removes the pair
    got = dedup.containment_pairs(
        df, "rid", "text", threshold_pct=80, max_token_df=1
    ).collect()
    assert got == []
