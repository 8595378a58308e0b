"""Round-7 optimization equivalence tests.

Every r7 fast path must be output-identical to the generic path it
bypasses; these tests force both paths over the same input and compare
full rows (not just counts).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from resolve_spark.operators import compress as CP
from resolve_spark.operators import dedup as DD
from resolve_spark.operators.ann import brute_force_topk, cosine_topk_matmul
from resolve_spark.operators.dedup import containment_pairs, tfidf_weighted_jaccard_pairs
from resolve_spark.operators.fellegi_sunter import (
    estimate_fs,
    estimate_fs_from_counts,
)


VOCAB_SMALL = [f"tok{i}" for i in range(31)]
VOCAB_BIG = [f"tok{i}" for i in range(80)]


def _docs(spark, vocab, n_docs=120, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        k = rng.randint(1, min(12, len(vocab)))
        words = rng.sample(vocab, k)
        # repeats + shuffled order so token-set identity is exercised
        text = " ".join(words + rng.sample(words, min(3, k)))
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestContainmentSmallVocab:
    def test_fast_matches_generic(self, spark):
        d = _docs(spark, VOCAB_SMALL)
        fast = containment_pairs(d, "doc_id", "text", threshold_pct=70)
        # max_token_df high enough to drop nothing => generic path,
        # identical semantics
        generic = containment_pairs(
            d, "doc_id", "text", threshold_pct=70, max_token_df=10**9
        )
        assert _rows(fast) == _rows(generic)
        assert len(_rows(fast)) > 0

    def test_big_vocab_declines_fast_path(self, spark):
        d = _docs(spark, VOCAB_BIG, n_docs=60)
        toks = d.select(
            F.col("doc_id").alias("rid"),
            F.array_distinct(F.split(F.col("text"), " ")).alias("t"),
        )
        assert DD._containment_pairs_small_vocab(toks, 70) is None
        out = containment_pairs(d, "doc_id", "text", threshold_pct=70)
        assert out.columns == [
            "id_a", "id_b", "overlap", "n_a", "n_b", "containment"
        ]

    def test_budget_declines_fast_path(self, spark, monkeypatch):
        monkeypatch.setattr(DD, "_CONTAIN_SET_PAIR_BUDGET", 1)
        d = _docs(spark, VOCAB_SMALL, n_docs=40)
        fast_off = containment_pairs(d, "doc_id", "text", threshold_pct=70)
        monkeypatch.undo()
        fast_on = containment_pairs(d, "doc_id", "text", threshold_pct=70)
        assert _rows(fast_off) == _rows(fast_on)


class TestWJaccardSmallVocab:
    def test_fast_matches_generic_self(self, spark, monkeypatch):
        d = _docs(spark, VOCAB_SMALL)
        fast = tfidf_weighted_jaccard_pairs(
            d, "doc_id", "text", threshold=0.5, hash_impl="portable"
        )
        monkeypatch.setattr(DD, "_small_vocab_wjaccard", lambda *a, **k: None)
        generic = tfidf_weighted_jaccard_pairs(
            d, "doc_id", "text", threshold=0.5, hash_impl="portable"
        )
        assert _rows(fast) == _rows(generic)
        assert len(_rows(fast)) > 0

    def test_fast_matches_generic_join(self, spark, monkeypatch):
        d = _docs(spark, VOCAB_SMALL)
        left = d.where(F.col("doc_id") % 2 == 0)
        right = d.where(F.col("doc_id") % 2 == 1)

        def run():
            return _rows(DD.wjaccard_join(
                left, right, "doc_id", "doc_id", threshold=0.5
            ))

        allpairs = run()
        # decline the all-pairs fast path so both runs take the ICWS
        # band join; the first verifies with masks, the second with the
        # generic (candidate x token) join
        monkeypatch.setattr(DD, "_WJACC_SET_PAIR_BUDGET", 1)
        fast = run()
        monkeypatch.setattr(DD, "_small_vocab_wjaccard", lambda *a, **k: None)
        generic = run()
        assert fast == generic
        # the banded candidates miss no all-pairs row on this corpus
        assert fast == allpairs
        assert len(fast) > 0

    def test_big_vocab_declines(self, spark):
        d = _docs(spark, VOCAB_BIG, n_docs=60)
        out = tfidf_weighted_jaccard_pairs(
            d, "doc_id", "text", threshold=0.5, hash_impl="portable"
        )
        assert out.columns == ["id_a", "id_b", "wjaccard"]


class TestCosineTopkMatmul:
    def test_matches_brute_force(self, spark):
        rng = random.Random(3)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)
        ]
        rows.append((50, [0.0] * 8))  # zero vector: scores 0.0
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.where(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        c = df.select(F.col("vec_id").alias("cand_id"), "embedding")
        bf = brute_force_topk(q, c, k=4)
        mm = cosine_topk_matmul(q, c, k=4)
        b = {(r["query_id"], r["cand_id"]): (r["cos"], r["rk"]) for r in bf.collect()}
        m = {(r["query_id"], r["cand_id"]): (r["cos"], r["rk"]) for r in mm.collect()}
        assert set(b) == set(m)
        for k2 in b:
            assert b[k2][1] == m[k2][1]
            assert abs(b[k2][0] - m[k2][0]) < 1e-9

    def test_rounded_partial_topk_ties(self, spark):
        # many exact-duplicate vectors => heavy ties at the rounded
        # boundary; tie order must be (cos desc, cand_id asc)
        base = [1.0, 2.0, 3.0, 4.0]
        rows = [(i, base) for i in range(30)]
        rows += [(100 + i, [4.0, 3.0, 2.0, 1.0]) for i in range(5)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.where(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        c = df.select(F.col("vec_id").alias("cand_id"), "embedding")
        out = cosine_topk_matmul(
            q, c, k=3, round_to=4, exclude_self=True, parallelism=4
        ).collect()
        got = sorted((r["rk"], r["cand_id"], r["cos"]) for r in out)
        assert got == [(1, 1, 1.0), (2, 2, 1.0), (3, 3, 1.0)]


def test_estimate_fs_from_counts_matches(spark):
    rows = [(a, b, c) for a in (0, 1) for b in (0, 1) for c in (0, 1)
            for _ in range((a + 1) * (b + 2) * (c + 3))]
    pairs = spark.createDataFrame(rows, "g_x int, g_y int, g_z int")
    p1 = estimate_fs(pairs, ["g_x", "g_y", "g_z"], iterations=3)
    counts = pairs.groupBy("g_x", "g_y", "g_z").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    p2 = estimate_fs_from_counts(counts, ["g_x", "g_y", "g_z"],
                                 count_col="n", iterations=3)
    assert p1 == p2


class TestWJaccardAllPairs:
    """The r7 exact-all-pairs-over-distinct-masks fast path must equal
    a NAIVE all-pairs weighted Jaccard (the oracle's semantics) — no
    banding randomness in the comparison."""

    @staticmethod
    def _naive_allpairs(spark, d, threshold, cross=False):
        from resolve_spark.functions import similarity as S

        n = d.count()
        toks = d.select(F.col("doc_id").alias("rid"), S.tokens("text").alias("t"))
        tw = toks.select("rid", F.explode("t").alias("tok"))
        dfreq = tw.groupBy("tok").agg(F.count("*").alias("df"))
        w = dfreq.select(
            "tok",
            F.round(
                F.lit(1e6) * F.log(F.lit(1.0) + F.lit(float(n)) / F.col("df"))
            ).cast("long").alias("w"),
        )
        tww = tw.join(w, "tok")
        wt = toks.join(
            tww.groupBy("rid").agg(F.sum("w").alias("W")), "rid"
        ).select("rid", "t", "W")
        a = wt.selectExpr("rid as id_a", "t as ta", "W as wa")
        b = wt.selectExpr("rid as id_b", "t as tb", "W as wb")
        if cross:
            pairs = a.where("id_a % 2 = 0").join(b.where("id_b % 2 = 1"))
        else:
            pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        shared = F.array_intersect("ta", "tb")
        iw = (
            pairs.select("id_a", "id_b", "wa", "wb", F.explode(shared).alias("tok"))
            .join(w, "tok")
            .groupBy("id_a", "id_b", "wa", "wb")
            .agg(F.sum("w").alias("iw"))
        )
        disj = pairs.join(
            iw.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
        ).select("id_a", "id_b", "wa", "wb", F.lit(0).cast("long").alias("iw"))
        allp = iw.unionByName(disj)
        return allp.select(
            "id_a", "id_b",
            F.round(F.col("iw") / (F.col("wa") + F.col("wb") - F.col("iw")), 6)
            .alias("wjaccard"),
        ).where(F.col("wjaccard") >= threshold)

    def test_self_matches_naive(self, spark):
        d = _docs(spark, VOCAB_SMALL)
        fast = tfidf_weighted_jaccard_pairs(
            d, "doc_id", "text", threshold=0.5, icws_hashes=64, icws_bands=32
        )
        naive = self._naive_allpairs(spark, d, 0.5)
        assert _rows(fast) == _rows(naive)
        assert len(_rows(fast)) > 0

    def test_join_matches_naive(self, spark):
        d = _docs(spark, VOCAB_SMALL)
        fast = DD.wjaccard_join(
            d.where("doc_id % 2 = 0"), d.where("doc_id % 2 = 1"),
            "doc_id", "doc_id", threshold=0.5,
        )
        naive = self._naive_allpairs(spark, d, 0.5, cross=True)
        assert _rows(fast) == _rows(naive)
        assert len(_rows(fast)) > 0

    @pytest.mark.parametrize(
        "gate", [(DD, "_WJACC_SET_PAIR_BUDGET"), (CP, "MAX_BROADCAST_ROWS")],
        ids=["set_pair_budget", "max_broadcast_rows"],
    )
    def test_budget_declines_allpairs(self, spark, monkeypatch, gate):
        d = _docs(spark, VOCAB_SMALL)

        def run():
            return _rows(tfidf_weighted_jaccard_pairs(
                d, "doc_id", "text", threshold=0.5,
                icws_hashes=64, icws_bands=32, hash_impl="portable",
            ))

        fast = run()
        # either gate declines the all-pairs path: the banded MinHash +
        # ICWS candidate path runs instead. Over MAX_BROADCAST_ROWS the
        # mask verify also keeps its per-doc tables unbroadcast.
        monkeypatch.setattr(*gate, 1)
        assert run() == fast
        assert len(fast) > 0

    @pytest.mark.parametrize("op", ["self", "join"])
    def test_threshold_zero_emits_no_disjoint_pair(self, spark, op):
        from resolve_spark.functions import similarity as S

        d = _docs(spark, VOCAB_SMALL)
        if op == "self":
            out = tfidf_weighted_jaccard_pairs(
                d, "doc_id", "text", threshold=0.0, icws_hashes=64
            )
        else:
            out = DD.wjaccard_join(
                d.where("doc_id % 2 = 0"), d.where("doc_id % 2 = 1"),
                "doc_id", "doc_id", threshold=0.0,
            )
        toks = {
            r["doc_id"]: set(r["t"])
            for r in d.select("doc_id", S.tokens("text").alias("t")).collect()
        }
        pairs = [(r["id_a"], r["id_b"]) for r in out.collect()]
        assert len(pairs) > 0
        assert [p for p in pairs if not toks[p[0]] & toks[p[1]]] == []


class TestMetaBlockSignature:
    def _recs(self, spark, n=200):
        rng = random.Random(11)
        rows = [
            (
                i,
                [
                    f"n:{rng.randint(0, 5)}",
                    f"s:{rng.randint(0, 2)}",
                    f"b:{rng.randint(0, 3)}",
                ],
            )
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "id long, block_keys array<string>")

    @pytest.mark.parametrize("scheme", ["wnp", "wep"])
    def test_sig_matches_record_level(self, spark, scheme):
        from resolve_spark.operators import meta_blocking as MB

        recs = self._recs(spark)
        fast = MB.meta_block_prune(
            recs, "id", weight="cbs", scheme=scheme, max_block_size=60
        )
        slow = MB._meta_block_prune_records(
            recs, "id", "block_keys", "cbs", scheme, 60, 10
        )
        assert _rows(fast.select("id_a", "id_b", "cbs", "weight")) == _rows(
            slow.select("id_a", "id_b", "cbs", "weight")
        )
        assert len(_rows(fast)) > 0


class TestGreedySequentialLocal:
    def test_sequential_matches_fixpoint(self, spark):
        from resolve_spark.operators.assignment import greedy_one_to_one

        rng = random.Random(5)
        rows = [
            (rng.randint(0, 40), rng.randint(100, 140),
             round(rng.uniform(0, 1), 3))
            for _ in range(400)
        ]
        p = spark.createDataFrame(rows, "id_a long, id_b long, score double")
        seq = greedy_one_to_one(p)  # under the budget: single-scan path
        fix = greedy_one_to_one(p, sequential_max_pairs=0)  # force fixpoint
        assert _rows(seq) == _rows(fix)
        assert len(_rows(seq)) > 0


class TestCCLocal:
    @pytest.mark.parametrize("as_str", [False, True])
    def test_local_matches_star(self, spark, as_str):
        from resolve_spark.operators.clustering import connected_components

        rng = random.Random(9)
        rows = [(rng.randint(0, 300), rng.randint(0, 300)) for _ in range(500)]
        rows += [(i, i + 1) for i in range(301, 340)]  # a long chain
        if as_str:
            rows = [(f"r{a:04d}", f"r{b:04d}") for a, b in rows]
            sch = "id_a string, id_b string"
        else:
            sch = "id_a long, id_b long"
        e = spark.createDataFrame(rows, sch)
        fast = connected_components(e)
        slow = connected_components(e, local_max_edges=0)
        assert _rows(fast) == _rows(slow)
        assert len(_rows(fast)) > 0
