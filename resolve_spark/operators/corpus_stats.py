"""Corpus-level statistics feeding per-document scores.

The CCNet/Gopher-style quality signals that CANNOT be computed per-row
(functions/text.py covers those): they need a full-corpus aggregation
pass whose result conditions every document's score.

- :func:`token_frequencies` — the corpus unigram table (token, cnt).
- :func:`unigram_logprob` — per-document mean negative log-probability
  under the corpus's own unigram model: the cheap stand-in for LM
  perplexity used to rank documents as ordinary/surprising (CCNet
  buckets its corpus by exactly this kind of score; high = rare-token
  text, low = boilerplate).

Scale plan (100 TB): three linear shuffles, nothing quadratic —
(1) token counts: one explode + map-side-combinable groupBy;
(2) the corpus total: a single scalar agg (one row to the driver);
(3) scoring: the token stream joins the frequency table on token
(hash join, AQE handles the heavy tail of frequent tokens) and
aggregates per doc. The frequency table is vocabulary-sized, far
smaller than the corpus; ln(cnt) is attached to the vocabulary BEFORE
the join so the big stream never computes logs.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tokens(text_col: str):
    from resolve_spark.functions.text import ws_tokens

    return ws_tokens(F.col(text_col))


def token_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus unigram counts: (token, cnt), whitespace tokens,
    case-folded. One explode + one combinable shuffle."""
    return (
        df.select(F.explode(_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def unigram_logprob(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's
    own unigram distribution:

        score(d) = ln(total_tokens) - mean over tokens t of ln(cnt_t)

    (algebraically mean(-ln(cnt_t / total)); the subtraction form does
    one ln per vocabulary entry instead of one division per token).
    Returns (rid, n_toks, avg_neg_logp). Empty documents score 0.0 —
    no evidence. Every token is in-vocabulary by construction (the
    model is fit on the same corpus), so there is no OOV smoothing.
    """
    freqs = token_frequencies(df, text_col)
    total = freqs.agg(F.sum("cnt")).collect()[0][0] or 0
    scored_vocab = freqs.select("token", F.log(F.col("cnt").cast("double")).alias("lc"))
    stream = df.select(F.col(id_col).alias("rid"), F.explode(_tokens(text_col)).alias("token"))
    per_doc = (
        stream.join(scored_vocab, "token")
        .groupBy("rid")
        .agg(F.count("*").alias("n"), F.sum("lc").alias("sl"))
    )
    return (
        df.select(F.col(id_col).alias("rid"))
        .join(per_doc, "rid", "left")
        .select(
            "rid",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_toks"),
            F.round(
                F.when(
                    F.col("n") > 0,
                    F.log(F.lit(float(total))) - F.col("sl") / F.col("n"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("avg_neg_logp"),
        )
    )

def bm25_scores(
    df: DataFrame,
    id_col: str,
    query_terms,
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    idf_scale: int = 1_000_000,
) -> DataFrame:
    """Okapi BM25 relevance of every matching document to a bag of
    query terms (Robertson/Sparck Jones; the retrieval scorer behind
    Elasticsearch/Lucene defaults k1=1.2, b=0.75):

        score(d) = sum over t of idf(t) * tf * (k1+1)
                                 / (tf + k1*(1 - b + b*dl/avgdl))
        idf(t)   = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))

    Returns (rid, n_matched, score_scaled, score) for documents
    matching >= 1 term; ``score_scaled`` is the exact BIGINT
    sum of round(idf_scale * idf * tfnorm) per term, so aggregation is
    ORDER-INDEPENDENT (float summation order never moves the result —
    the int64-scaled-weight trick shared with the IDF-jaccard dedup);
    ``score = score_scaled / idf_scale`` is the conventional float.

    Scale plan (100 TB): two linear passes, nothing quadratic —
    (1) corpus constants N/avgdl: one scalar agg (one row to the
    driver); per-term df: conditional counts in the SAME agg (the term
    list is a literal handful). (2) scoring: the token stream is
    filtered to query terms BEFORE the explode (native array_intersect
    keeps selectivity in the scan stage), tf comes from one map-side-
    combinable groupBy, and the per-term idf table is a broadcast
    literal. No full-vocabulary table is built (unigram_logprob's
    vocabulary join isn't needed for a fixed term set).
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = _tokens(text_col)
    base = df.select(F.col(id_col).alias("rid"), toks.alias("toks")).select(
        "rid",
        F.size("toks").alias("dl"),
        F.filter("toks", lambda t: t.isin(terms)).alias("qtoks"),
    )
    # one pass for every corpus constant: N, total tokens, per-term df
    aggs = [F.count("*").alias("n_docs"), F.sum("dl").alias("total")]
    for i, t in enumerate(terms):
        aggs.append(
            F.sum(F.array_contains("qtoks", t).cast("int")).alias(f"df_{i}")
        )
    stats = base.agg(*aggs).collect()[0]
    n_docs = stats["n_docs"]
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = stats["total"] / n_docs  # python float == IEEE double division
    # floor(x + 0.5) everywhere a weight is integerized: HALF_UP for
    # positives and IDENTICAL in python/Spark/DuckDB (round() is
    # half-even in python, HALF_UP in Spark, C-library in DuckDB)
    idf6 = {
        t: math.floor(
            0.5
            + idf_scale
            * math.log(
                1 + (n_docs - stats[f"df_{i}"] + 0.5) / (stats[f"df_{i}"] + 0.5)
            )
        )
        for i, t in enumerate(terms)
    }
    tf_rows = (
        base.where(F.size("qtoks") > 0)
        .select("rid", "dl", F.explode("qtoks").alias("term"))
        .groupBy("rid", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    tf_d = F.col("tf").cast("double")
    idf_col = F.element_at(
        F.map_from_arrays(
            F.lit(np.array(terms, dtype=str)),
            F.lit(np.array([idf6[t] for t in terms], dtype=np.int64)),
        ),
        F.col("term"),
    )
    den = tf_d + k1 * ((1 - b) + b * (F.col("dl").cast("double") / F.lit(avgdl)))
    w = F.floor(idf_col * ((tf_d * (k1 + 1)) / den) + F.lit(0.5)).cast("long")
    return (
        tf_rows.select("rid", w.alias("w"))
        .groupBy("rid")
        .agg(
            F.count("*").alias("n_matched"),
            F.sum("w").alias("score_scaled"),
        )
        .select(
            "rid",
            "n_matched",
            "score_scaled",
            (F.col("score_scaled") / F.lit(float(idf_scale))).alias("score"),
        )
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    query_terms,
    k: int = 10,
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    idf_scale: int = 1_000_000,
) -> DataFrame:
    """Global BM25 top-k: (rank, rid, n_matched, score_scaled, score),
    rank 1 = best, ties broken by rid ascending (score_scaled is an
    exact long, so the ordering is deterministic). The global sort is
    Spark's TakeOrdered (per-partition heaps + a k-row merge on the
    driver), never a full shuffle-sort of the corpus."""
    scored = bm25_scores(df, id_col, query_terms, text_col, k1, b, idf_scale)
    top = scored.orderBy(F.desc("score_scaled"), F.asc("rid")).limit(k)
    w = Window.orderBy(F.desc("score_scaled"), F.asc("rid"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "rid", "n_matched", "score_scaled", "score"
    )


def bpe_merge_candidates(
    df: DataFrame, text_col: str = "text", top_k: int = 200, min_count: int = 2
) -> DataFrame:
    """First-iteration BPE merge table: corpus-wide counts of ADJACENT
    token pairs, top-``top_k`` by count — (pair, cnt).

    This is the inner statistic of byte-pair-encoding tokenizer
    induction (Sennrich et al. 2016) lifted to word level: each BPE
    round merges the corpus's most frequent adjacent symbol pair, and
    this operator computes that round's candidate table (re-run it on
    re-tokenized text for subsequent rounds). Also useful on its own as
    a collocation/boilerplate detector ("all rights reserved").

    Determinism: ordering is (cnt DESC, pair ASC) — a total order over
    pairs, so the top-k cut is unique; counts are exact longs.

    Scale plan (100 TB): the pair stream explodes ~1 row per corpus
    token into ONE map-side-combinable groupBy (partial aggregation
    collapses the Zipf head before the shuffle, exactly like a word
    count); the global top-k is TakeOrderedAndProject over the
    vocabulary-sized count table — never a full sort of it. Fully
    native (zip_with over sliced token arrays; no Python).
    """
    t = _tokens(text_col)
    pairs = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counted = (
        df.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    return counted.orderBy(F.desc("cnt"), F.asc("pair")).limit(top_k)
