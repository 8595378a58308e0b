"""Deduplication operators for training-data pipelines.

Every variant returns a (rid, cluster_id)-style assignment or a pair
set, built from the same primitives as the ER pipeline:

- exact_duplicates: hash-groupBy on a content fingerprint (1 shuffle,
  map-side combinable; the only O(n) dedup)
- ngram_jaccard_duplicates: character-n-gram Jaccard over blocked pairs
- minhash_duplicates: MinHash-LSH banding -> budgeted pairs -> verify
  with true Jaccard -> connected components
- minhash_join: the cross-corpus variant — near-dup pairs BETWEEN two
  tables via shared band keys (dedup a new crawl against the corpus)
- tfidf_weighted_jaccard_pairs: IDF-weighted token Jaccard (int64-
  scaled weights) — boilerplate-robust near-dup for template-heavy
  corpora
- simhash_duplicates: 64-bit SimHash, banded by 16-bit chunks (pigeonhole:
  hamming <= 3 over 4 bands guarantees one identical band) -> verify
  hamming distance -> connected components
- embedding_duplicates: cosine near-dup over LSH-bucketed vectors
  (see ann.py for the bucketing)
- semantic_dedup: SemDeDup — k-means-partition the embedding space,
  keep the earliest id per in-cluster near-dup neighborhood
- containment_pairs: asymmetric set-containment join (doc quoted/
  embedded inside a larger doc) via PPJoin-style rarest-token prefix
  filtering — exact recall, no LSH
- repeated_ngram_stats: span-level duplication profile (fraction of a
  doc's n-token windows repeated across the corpus)
- remove_repeated_spans: drop the tokens those duplicated windows
  cover (exact-substring dedup at window-hash granularity)
- select_canonical: quality-ranked keeper selection within clusters
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from resolve_spark.config import BlockingConfig
from resolve_spark.functions.hashing import check_hash_impl
from resolve_spark.functions import text as TX
from resolve_spark.functions import similarity as S
from resolve_spark.operators import blocking as B
from resolve_spark.operators import compress as CP
from resolve_spark.operators.clustering import assign_clusters
from resolve_spark.operators.pairs import (
    candidate_pairs, comb2_exact, product_within_budget,
)


def exact_duplicates(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """(rid, cluster_id, cluster_size): rows sharing the normalized
    content fingerprint cluster together; cluster_id = min rid."""
    keyed = df.select(
        F.col(id_col).alias("rid"),
        TX.content_fingerprint(F.col(content_col)).alias("fp"),
    )
    groups = keyed.groupBy("fp").agg(
        F.min("rid").alias("cluster_id"), F.count("*").alias("cluster_size")
    )
    return keyed.join(groups, "fp").select("rid", "cluster_id", "cluster_size")


def _verify_and_cluster(
    df: DataFrame, id_col: str, pairs: DataFrame, verify_col, threshold: float
) -> DataFrame:
    edges = pairs.where(verify_col >= threshold).select("id_a", "id_b")
    return assign_clusters(df, edges, id_col)


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, content_col: str, n: int = 5, threshold: float = 0.7,
    cfg: BlockingConfig | None = None,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs over MinHash-blocked
    candidates: (id_a, id_b, ngram_jaccard)."""
    cfg = cfg or BlockingConfig(enable_canopy=False, minhash_column=content_col)
    grams = lambda c: F.array_distinct(  # noqa: E731
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.length(c) - n + 1, F.lit(1))
            ),
            lambda i: F.substring(c, i, n),
        )
    )
    base = df.select(F.col(id_col).alias("rid"), F.col(content_col).alias("c"))
    blocked = B.add_blocking_keys(
        base.withColumnRenamed("c", content_col), cfg
    )
    pairs, _ = candidate_pairs(blocked, "rid", cfg, with_stats=False)
    sides = base.select("rid", grams(F.col("c")).alias("g"))
    a = sides.selectExpr("rid as id_a", "g as ga")
    b = sides.selectExpr("rid as id_b", "g as gb")
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            S.jaccard_token_arrays(F.col("ga"), F.col("gb")).alias("ngram_jaccard"),
        )
        .where(F.col("ngram_jaccard") >= threshold)
    )


def _wjacc_masks(tww: DataFrame, bits) -> DataFrame:
    """(rid, _mask, _W) per doc of a (rid, tok, w) stream. Tokens are
    distinct per rid, so the sum of disjoint bit values is the bitwise
    OR of the mask."""
    return tww.groupBy("rid").agg(
        F.sum(bits.bit(F.col("tok"))).alias("_mask"),
        F.sum("w").alias("_W"),
    )


def _wjacc_iw(bits, im):
    """iw = Σ w_t over the tokens of intersection mask ``im``, from the
    weights the probe collected with the bit layout (``bits.rows``).

    Weighted popcount via byte-indexed literal tables: one 256-entry
    partial-sum array per mask byte, iw = Σ element_at(T_k, byte_k+1) —
    ~4 array lookups, exact long (tables are sums of the same weight
    literals). A 31-term CASE chain measured 1.2µs/row (87s over 72M
    pairs); the lookups are ~20x cheaper."""
    wlit = [int(r["w"]) for r in bits.rows]
    n_bytes = (len(wlit) + 7) // 8
    iw = None
    for k in range(n_bytes):
        tbl = []
        for v in range(256):
            s = 0
            for j in range(8):
                if (v >> j) & 1 and 8 * k + j < len(wlit):
                    s += wlit[8 * k + j]
            tbl.append(s)
        idx = (
            F.shiftright(im, 8 * k).bitwiseAND(F.lit(255)).cast("int")
            + F.lit(1)
        )
        term = F.element_at(
            F.array(*[F.lit(x).cast("long") for x in tbl]), idx
        )
        iw = term if iw is None else iw + term
    return iw


#: all-pairs-over-distinct-sets budget for the weighted-Jaccard fast
#: path: the distinct-set cross product is pure codegen bit ops (mask
#: AND + 4 byte-table lookups + one division), so ~2e9 evaluations are
#: seconds of cluster time; beyond it the banded candidate path remains
#: the plan. Same runtime-probe discipline as _CONTAIN_SET_PAIR_BUDGET.
_WJACC_SET_PAIR_BUDGET = 2_000_000_000


def _small_vocab_wjaccard_allpairs(
    tww_a: DataFrame,
    tww_b: DataFrame | None,
    weights: DataFrame,
    threshold: float,
):
    """EXACT all-pairs weighted Jaccard over DISTINCT token sets — or
    None when the data does not qualify (threshold <= 0, vocabulary > 64
    tokens, or the distinct-set pair count exceeds
    ``_WJACC_SET_PAIR_BUDGET``).

    Only valid for callers whose contract is full recall at the
    threshold (tfidf_weighted_jaccard_pairs with the ICWS pass on,
    wjaccard_join — both oracled as exact all-pairs): the banded
    candidate passes exist to APPROXIMATE all-pairs at scale, so when
    the corpus vocabulary fits one machine word the exact computation
    is cheaper than the approximation — every doc is a (mask, W) pair,
    wjaccard depends only on the mask pair, and distinct masks number
    far fewer than docs. Plan shape: one groupBy per side to masks, one
    broadcast hash join over DISTINCT masks (codegen bit ops, no
    band-key shuffle, no 1e8-row pair dedup), and one expansion of the
    qualifying mask pairs back to doc pairs (compress.expand_pairs).
    The emitted longs are the same exact sums as the banded verify, so
    rows are bit-identical wherever the banded recall was already full
    (oracle-checked for q101/q104 at every correctness SF).

    At threshold <= 0 every pair qualifies, token-disjoint ones
    included, which no candidate pass can produce — the banded path
    stays the plan there.

    ``tww_b=None`` means self-dedup (emit id_a < id_b once per pair);
    otherwise cross-corpus (id_a from a, id_b from b, no ordering).
    """
    if threshold <= 0:
        return None
    bits = CP.token_bitmask(weights.select("tok", "w"))
    if bits is None:
        return None
    spark = tww_a.sparkSession
    par = spark.sparkContext.defaultParallelism
    same = tww_b is None
    m_a = _wjacc_masks(tww_a, bits).localCheckpoint()
    m_b = m_a if same else _wjacc_masks(tww_b, bits).localCheckpoint()
    sets_a = m_a.groupBy("_mask").agg(F.min("_W").alias("_W"))
    sets_b = sets_a if same else m_b.groupBy("_mask").agg(F.min("_W").alias("_W"))
    na = sets_a.count()
    nb = na if same else sets_b.count()
    n_pairs = na * (na + 1) // 2 if same else na * nb
    if n_pairs > _WJACC_SET_PAIR_BUDGET:
        return None
    sa = sets_a.select(
        F.col("_mask").alias("key_a"), F.col("_W").alias("_wa")
    ).repartition(par)
    sb = sets_b.select(F.col("_mask").alias("key_b"), F.col("_W").alias("_wb"))
    iw = _wjacc_iw(bits, F.col("key_a").bitwiseAND(F.col("key_b")))
    wj = F.round(iw / (F.col("_wa") + F.col("_wb") - iw), 6)
    # r7 (guide §3.1): key the distinct-set cross on WEIGHT-RATIO
    # buckets so it compiles to a codegen'd BroadcastHashJoin instead
    # of an interpreted nested loop (~1µs/row of iterator machinery,
    # measured 18.7s over the 562M-combination cross). Lossless:
    # iw <= min(W) forces every qualifying pair to have
    # max(W)/min(W) <= 1/(threshold - 1e-6) (the 1e-6 absorbs the 6-dp
    # rounding), and with bucket base >= that ratio * 1.01 the two
    # floors differ by at most 1 — so probing buckets {k-1, k, k+1}
    # misses nothing, while the equality filter drops the ~half of
    # combinations no threshold pair can occupy before they exist.
    x_t = max(threshold - 1e-6, 1e-9)
    base = (1.0 / x_t) * 1.01

    def _bk(wcol):
        return F.floor(
            F.log(F.col(wcol).cast("double")) / F.lit(math.log(base))
        ).cast("int")

    sa3 = sa.withColumn(
        "_bk", F.explode(F.array(_bk("_wa") - 1, _bk("_wa"), _bk("_wa") + 1))
    )
    joined = sa3.join(F.broadcast(sb.withColumn("_bk", _bk("_wb"))), "_bk")
    if same:
        # canonical key pairs: each unordered mask pair once
        joined = joined.where(F.col("key_a") <= F.col("key_b"))
    qual = joined.where(wj >= threshold).select(
        "key_a", "key_b", wj.alias("wjaccard")
    )

    def members(m: DataFrame) -> DataFrame:
        return m.select("rid", F.col("_mask").alias("key"))

    return CP.expand_pairs(
        qual, members(m_a), None if same else members(m_b)
    ).select("id_a", "id_b", "wjaccard")


def _small_vocab_wjaccard(
    cand: DataFrame,
    tww_a: DataFrame,
    tww_b: DataFrame,
    weights: DataFrame,
    threshold: float,
    broadcast_masks: bool = False,
):
    """Weighted-Jaccard verify, small-vocabulary formulation — or None
    when the corpus vocabulary exceeds 64 tokens.

    The exact verify needs, per candidate pair, iw = Σ w_t over shared
    tokens and the per-doc weight totals. The generic plan is a
    (candidate x token) equi-join + pair groupBy — O(candidates x
    tokens/doc) shuffled rows (measured 1e9 rows / 110s of q104's 157s
    at sf1.0). When every token fits one machine word, each doc is a
    bitmask + a total, and iw is a 64-term codegen'd expression over
    mask & mask — no join, no pair-key shuffle, same exact longs, so
    the emitted (id_a, id_b, wjaccard) rows are identical by
    construction. Guide §2.3/§2.4: replace the biggest shuffle with a
    per-row expression when problem knowledge (bounded vocabulary,
    checked at runtime from the weights table) allows it.

    ``tww_*``: (rid, tok, w) streams (distinct tokens per rid);
    ``cand``: (id_a, id_b). Returns the verified pair frame or None.
    """
    bits = CP.token_bitmask(weights.select("tok", "w"))
    if bits is None:
        return None
    m_a = _wjacc_masks(tww_a, bits)
    m_b = m_a if tww_b is tww_a else _wjacc_masks(tww_b, bits)
    ma = m_a.selectExpr("rid as id_a", "_mask as _ma", "_W as _wa")
    mb = m_b.selectExpr("rid as id_b", "_mask as _mb", "_W as _wb")
    if broadcast_masks:
        # planner size estimates for a groupBy-of-join subtree are too
        # pessimistic to pick the broadcast itself, and a sort-merge
        # attach would shuffle+sort the (much larger) candidate stream
        # twice (observed: 2 SMJs over 93M rows). Callers assert the
        # per-doc mask table is broadcast-sized (3 longs per doc).
        ma, mb = F.broadcast(ma), F.broadcast(mb)
    iw = _wjacc_iw(bits, F.col("_ma").bitwiseAND(F.col("_mb")))
    return (
        cand.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                iw / (F.col("_wa") + F.col("_wb") - iw), 6
            ).alias("wjaccard"),
        )
        .where(F.col("wjaccard") >= threshold)
    )


def _icws_sketch(tww: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(rid, tok, w) -> (rid, bks array<string>) ICWS band-key sketch,
    band index == array position — the ONE place the sketch input is
    constructed (sort_array-pinned (toks, ws) pairing so the sketch is
    deterministic across partitionings), shared by the self-dedup pass
    and the cross-corpus join so the two paths can never desynchronize
    on pinning or key layout.

    r7: pinned at ARRAY granularity (docs rows, not docs x bands) —
    consumed by the band-size budget groupBy, the candidate join and
    the first-collision dedup filter; without a pin each consumer
    re-runs the collect_list + Arrow sketch UDF."""
    from resolve_spark.functions.icws import icws_band_keys_udf

    wk = icws_band_keys_udf(num_hashes, bands)
    agg = (
        tww.groupBy("rid")
        .agg(F.sort_array(F.collect_list(F.struct("tok", "w"))).alias("s"))
        .select(
            "rid",
            F.transform("s", lambda x: x["tok"]).alias("toks"),
            F.transform("s", lambda x: x["w"]).alias("ws"),
        )
    )
    return agg.select(
        "rid", wk(F.col("toks"), F.col("ws")).alias("bks")
    ).localCheckpoint()


def _icws_keyed(tww: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Exploded (rid, bk) view of :func:`_icws_sketch`."""
    return _icws_sketch(tww, num_hashes, bands).select(
        "rid", F.explode("bks").alias("bk")
    )


def tfidf_weighted_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    threshold: float = 0.6,
    num_hashes: int = 64,
    bands: int = 16,
    hash_impl: str = "fast",
    idf_scale: int = 1_000_000,
    icws_hashes: int = 0,
    icws_bands: int = 32,
    icws_max_pairs_per_key: int = 1_000_000,
) -> DataFrame:
    """IDF-weighted token Jaccard near-dup pairs:
    (id_a, id_b, wjaccard) with wjaccard >= threshold, where each
    distinct token t carries weight idf(t) = ln(1 + N/df_t) — shared
    boilerplate ("terms of service", nav chrome) gets ~0 weight while
    rare content tokens dominate, so near-dup detection keys on what a
    page actually says. Plain Jaccard (minhash_duplicates) treats both
    alike, which over-merges template-heavy corpora.

    Recall caveat (default config): candidates come from UNWEIGHTED
    MinHash banding, so a pair must clear the raw-Jaccard banding knee
    to be verified at all. A pair whose similarity is carried almost
    entirely by rare tokens (high wjaccard, low raw Jaccard — e.g.
    identical rare content buried under DIFFERENT large templates) can
    be missed. With ``icws_hashes=0`` the guarantee is one-sided: every
    emitted pair truly has wjaccard >= threshold, but recall is bounded
    by the unweighted banding curve.

    ``icws_hashes > 0`` adds a SECOND candidate pass of ICWS
    weighted-MinHash banding (functions/icws.py, Ioffe 2010) whose
    band-collision probability is driven by the SAME weighted Jaccard
    the verifier computes — the rare-token-under-different-boilerplate
    pair class above is then found. Both passes feed the one exact
    verify, so precision is unchanged; recall becomes the OR of the two
    banding curves (the weighted one is the binding curve at the
    threshold). Hot ICWS band keys are purged at
    C(c,2) > ``icws_max_pairs_per_key`` — same budget discipline as
    pairs.py, overflow-exact via comb2_exact.

    Weights are scaled to int64 (``round(idf_scale * idf)``): integer
    sums are associativity-exact, so the score is a ratio of exact
    longs — reproducible across engines and partitionings regardless of
    reduction order (a raw double sum is not).

    Scale plan: candidates come from the same banded MinHash machinery
    as minhash_duplicates (never all-pairs); document frequencies are
    one map-side-combinable groupBy over the exploded distinct-token
    stream; the weighted-intersection verify is an equi-join on
    (candidate, token) — cost O(candidate_pairs x tokens_per_doc), the
    same class as every other verify in this module, shuffled on a key
    that candidate budgeting already bounds. ``df.count()`` is the one
    scalar driver action (N conditions the idf; a cached input makes it
    free).
    """
    n_docs = df.count()
    toks = df.select(F.col(id_col).alias("rid"), S.tokens(F.col(content_col)).alias("t"))
    # r7: the exploded (rid, tok) stream feeds document frequencies,
    # per-doc totals, the mask/verify build and (ICWS mode) the sketch
    # input — pin it once instead of re-running the tokenizer regex +
    # explode per consumer (guide §5 caching rule; linear in corpus
    # tokens, the same rows every consumer shuffles anyway)
    tw = toks.select("rid", F.explode("t").alias("tok")).localCheckpoint()
    dfreq = tw.groupBy("tok").agg(F.count("*").alias("df"))
    weights = dfreq.select(
        "tok",
        F.round(
            F.lit(float(idf_scale))
            * F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df"))
        ).cast("long").alias("w"),
    )
    # r7: the (tok, w) weight table is consumed by every downstream
    # branch (token-weight joins, per-doc totals, ICWS sketch input,
    # the small-vocab probe) — without a pin each branch re-runs the
    # full explode + groupBy. Vocabulary-sized, so the materialization
    # is tiny relative to one recompute (guide §5 caching rule).
    weights = weights.localCheckpoint()
    tw = tw.join(weights, "tok")
    if icws_hashes:
        # r7 (guide §1.2): with the ICWS pass on, the contract — and
        # the frozen oracle — is full recall at the threshold (exact
        # all-pairs). When the runtime probe shows the vocabulary fits
        # one machine word and distinct token sets are few, compute
        # that contract EXACTLY over distinct masks instead of
        # approximating it with two banding passes: this deletes the
        # MinHash + ICWS sketch UDFs, the band-key shuffles and the
        # 1e8-row candidate dropDuplicates, and it repairs the latent
        # recall gap the band-key pair budget opens once blocks
        # outgrow it (measured at sf0.1: banded 1.94M pairs vs the
        # oracle's 6.86M; the fast path matches the oracle at every
        # notch). Banding remains the plan for large-vocabulary
        # corpora, where full recall stays explicitly approximate.
        fast = _small_vocab_wjaccard_allpairs(tw, None, weights, threshold)
        if fast is not None:
            return fast
    tot = tw.groupBy("rid").agg(F.sum("w").alias("W"))
    cfg = BlockingConfig(
        enable_canopy=False, minhash_column=content_col,
        minhash_num_hashes=num_hashes, minhash_bands=bands,
        minhash_hash_impl=hash_impl,
    )
    blocked = B.add_blocking_keys(df, cfg)
    pairs, _ = candidate_pairs(blocked, id_col, cfg, with_stats=False)
    cand = pairs.select("id_a", "id_b")
    if icws_hashes:
        keyed = _icws_keyed(tw, icws_hashes, icws_bands)
        ok = (
            keyed.groupBy("bk").agg(F.count("*").alias("c"))
            .where(comb2_exact(F.col("c")) <= F.lit(int(icws_max_pairs_per_key)))
            .select("bk")
        )
        keyed = keyed.join(ok, "bk")
        wpairs = (
            keyed.select("bk", F.col("rid").alias("id_a"))
            .join(keyed.select("bk", F.col("rid").alias("id_b")), "bk")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = cand.unionByName(wpairs).dropDuplicates(["id_a", "id_b"])
    fast = _small_vocab_wjaccard(cand, tw, tw, weights, threshold,
                                 broadcast_masks=n_docs <= 4_000_000)
    if fast is not None:
        return fast
    inter = (
        cand
        .join(tw.selectExpr("rid as id_a", "tok", "w"), "id_a")
        .join(tw.selectExpr("rid as id_b", "tok"), ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum("w").alias("iw"))
    )
    return (
        inter.join(tot.selectExpr("rid as id_a", "W as wa"), "id_a")
        .join(tot.selectExpr("rid as id_b", "W as wb"), "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.col("iw") / (F.col("wa") + F.col("wb") - F.col("iw")), 6
            ).alias("wjaccard"),
        )
        .where(F.col("wjaccard") >= threshold)
    )


#: fast-path gate for containment_pairs: all-pairs over DISTINCT token
#: sets is used only while C(n_sets, 2) stays under this (the cross
#: product is pure codegen bit ops, so 2e8 evaluations are seconds of
#: cluster time); beyond it the PPJoin prefix filter remains the plan.
_CONTAIN_SET_PAIR_BUDGET = 200_000_000


def _containment_pairs_small_vocab(toks: DataFrame, threshold_pct: int):
    """Exact containment join, small-vocabulary formulation — or None
    when the data does not qualify.

    When the corpus vocabulary fits one machine word (<= 64 distinct
    tokens) every token SET is a bitmask, and containment depends only
    on the set, not the document. So: key each document by its mask,
    compare DISTINCT masks all-pairs with bit_and/bit_count (pure
    whole-stage codegen — no candidate-generation join, no shuffle of a
    1e8-row token-pair stream, no per-pair array_intersect), and expand
    qualifying mask pairs back to document pairs (compress.expand_pairs).
    Tokens are distinct per document, so |set| = bit_count(mask).

    Same output as the PPJoin path by construction: both are exact
    (prefix filtering has exact recall; all-pairs trivially so) and the
    verify inequality 100*overlap >= t*min(n_a, n_b) plus the rounded
    containment double are computed from identical integers. Guarded by
    _CONTAIN_SET_PAIR_BUDGET so the quadratic-in-distinct-sets cross
    product can never run away on diverse corpora (guide §1.2: change
    the algorithm only where the data supports it, measured at runtime
    from two O(corpus) aggregates)."""
    par = toks.sparkSession.sparkContext.defaultParallelism
    bits = CP.token_bitmask(toks.select(F.explode("t").alias("tok")).distinct())
    if bits is None:
        return None
    members = toks.select("rid", bits.mask("t").alias("key"))
    sets = members.select("key").distinct()
    n_sets = sets.count()
    if n_sets * (n_sets - 1) // 2 > _CONTAIN_SET_PAIR_BUDGET:
        return None
    ov = F.bit_count(F.col("key_a").bitwiseAND(F.col("key_b")))
    n_a, n_b = F.bit_count("key_a"), F.bit_count("key_b")
    qual = (
        sets.select(F.col("key").alias("key_a")).repartition(par)
        .join(
            F.broadcast(sets.select(F.col("key").alias("key_b"))),
            F.col("key_a") <= F.col("key_b"),
        )
        .where(100 * ov >= threshold_pct * F.least(n_a, n_b))
    )
    return CP.expand_pairs(qual, members).select(
        "id_a",
        "id_b",
        ov.alias("overlap"),
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        F.round(ov / F.least(n_a, n_b), 6).alias("containment"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    threshold_pct: int = 80,
    max_token_df: int | None = None,
) -> DataFrame:
    """Asymmetric set-containment join: (id_a, id_b, overlap, n_a, n_b,
    containment) where containment = |A∩B| / min(|A|, |B|) >=
    threshold_pct/100 over the distinct-token sets of ``content_col``.

    Catches the near-dup class Jaccard-targeted MinHash-LSH structurally
    MISSES: a document quoted or embedded inside a much larger one has
    high containment but low Jaccard (|A∩B|/|A∪B| shrinks with the size
    gap), so its band-collision probability vanishes. Candidates come
    from PPJoin-family prefix filtering (Chaudhuri/Ganti/Kaushik 2006;
    Xiao et al. PPJoin) instead: rank each doc's tokens by global
    document frequency ASCENDING (rarest first) and index only its
    first m - ceil(t*m) + 1 tokens. Pigeonhole: a qualifying pair
    shares >= ceil(t*min_size) tokens, more than fit outside the
    smaller doc's prefix, so some shared token IS in that prefix —
    candidate recall is EXACT, not probabilistic.

    Determinism: the threshold test is the integer comparison
    100*overlap >= threshold_pct*min(n_a, n_b) — no float compare, so
    Spark and a SQL oracle can never disagree on the cut; the reported
    containment double is display-only (rounded to 6).

    Scale plan (100 TB): document frequencies are one map-side-
    combinable groupBy; the per-doc rarest-first ranking is a window
    over the (rid, token) stream keyed by rid (bounded by tokens/doc);
    candidate generation is an equi-join of the PREFIX stream (~(1-t)
    of tokens, globally rarest-first so the join key distribution is
    skew-LIGHT by construction) against the full inverted index; verify
    touches candidates only. ``max_token_df`` optionally drops
    generation rows whose token appears in more than that many docs —
    a pair budget for adversarial corpora (sacrifices the exactness
    guarantee for pairs ONLY reachable through such tokens; dropped
    work is the standard budget/recall trade documented in pairs.py).
    """
    if not 0 < threshold_pct <= 100:
        raise ValueError("threshold_pct must be in (0, 100]")
    toks = df.select(
        F.col(id_col).alias("rid"), S.tokens(F.col(content_col)).alias("t")
    ).where(F.size("t") > 0)
    if max_token_df is None:
        fast = _containment_pairs_small_vocab(toks, threshold_pct)
        if fast is not None:
            return fast
    stream = toks.select("rid", F.size("t").alias("m"), F.explode("t").alias("tok"))
    dfreq = stream.groupBy("tok").agg(F.count("*").alias("dfq"))
    ranked = stream.join(dfreq, "tok").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("rid").orderBy(F.asc("dfq"), F.asc("tok"))
        ),
    )
    prefix_len = F.expr(f"m - (({threshold_pct} * m + 99) DIV 100) + 1")
    prefix = ranked.where(F.col("pos") <= prefix_len)
    index = stream.select(F.col("rid").alias("_rb"), "tok")
    if max_token_df is not None:
        hot = dfreq.where(F.col("dfq") > max_token_df).select("tok")
        prefix = prefix.join(F.broadcast(hot), "tok", "left_anti")
        index = index.join(F.broadcast(hot), "tok", "left_anti")
    cand = (
        prefix.select(F.col("rid").alias("_ra"), "tok")
        .join(index, "tok")
        .where(F.col("_ra") != F.col("_rb"))
        .select(
            F.least("_ra", "_rb").alias("id_a"),
            F.greatest("_ra", "_rb").alias("id_b"),
        )
        .distinct()
    )
    a = toks.selectExpr("rid as id_a", "t as ta")
    b = toks.selectExpr("rid as id_b", "t as tb")
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("overlap"),
            F.size("ta").alias("n_a"),
            F.size("tb").alias("n_b"),
        )
        .where(
            100 * F.col("overlap")
            >= threshold_pct * F.least(F.col("n_a"), F.col("n_b"))
        )
        .withColumn(
            "containment",
            F.round(
                F.col("overlap") / F.least(F.col("n_a"), F.col("n_b")), 6
            ),
        )
    )


def minhash_duplicates(
    df: DataFrame, id_col: str, content_col: str, jaccard_threshold: float = 0.7,
    num_hashes: int = 64, bands: int = 16, hash_impl: str = "fast",
) -> DataFrame:
    """MinHash-LSH candidates verified by true token Jaccard -> CC."""
    cfg = BlockingConfig(
        enable_canopy=False, minhash_column=content_col,
        minhash_num_hashes=num_hashes, minhash_bands=bands,
        minhash_hash_impl=hash_impl,
    )
    blocked = B.add_blocking_keys(df, cfg)
    pairs, _ = candidate_pairs(blocked, id_col, cfg, with_stats=False)
    toks = df.select(F.col(id_col).alias("rid"), S.tokens(F.col(content_col)).alias("t"))
    a = toks.selectExpr("rid as id_a", "t as ta")
    b = toks.selectExpr("rid as id_b", "t as tb")
    scored = (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jac", S.jaccard_token_arrays(F.col("ta"), F.col("tb")))
    )
    return _verify_and_cluster(df, id_col, scored, F.col("jac"), jaccard_threshold)


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_text: str = "text",
    right_text: str = "text",
    jaccard_threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    hash_impl: str = "fast",
    max_pairs_per_key: int = 1_000_000,
) -> DataFrame:
    """Cross-corpus near-duplicate JOIN: (id_a, id_b, jaccard) pairs
    with token Jaccard >= threshold between TWO tables, via shared
    MinHash band keys — the dedup-the-new-crawl-against-the-existing-
    corpus pass (minhash_duplicates handles the within-corpus case;
    decontaminate.py handles n-gram CONTAINMENT, which is a different
    question than symmetric similarity).

    Scale plan: band keys explode linearly on each side and meet in one
    equi-join — never a cross join. Hot band keys (boilerplate shared
    by thousands of docs per side) are dropped when their pair product
    exceeds ``max_pairs_per_key`` — same budget philosophy as
    pairs.py; a true near-dup pair shares ~bands keys, so it survives
    unless EVERY shared key is over budget. Candidates are verified
    with exact token Jaccard before anything is returned.
    """
    mh = B.minhash_band_keys_udf(num_hashes, bands, hash_impl=hash_impl)
    # r7: each side's band-key stream feeds BOTH the budget counts and
    # the candidate join — pin it so the sketch UDF runs once per side
    # instead of once per consumer (guide §5 caching rule)
    ka = left.select(
        F.col(left_id).alias("id_a"), F.explode(mh(F.col(left_text))).alias("bk")
    ).localCheckpoint()
    kb = right.select(
        F.col(right_id).alias("id_b"), F.explode(mh(F.col(right_text))).alias("bk")
    ).localCheckpoint()
    # overflow-free budget test: the raw ca*cb product exceeds int64 when
    # ~3e9 docs per side share one band key (ANSI mode fails loud; legacy
    # wraps and un-bounds pair generation) — product_within_budget takes
    # it in decimal(38,0), exact for any pair of long counts.
    ok = (
        ka.groupBy("bk").agg(F.count("*").alias("ca"))
        .join(kb.groupBy("bk").agg(F.count("*").alias("cb")), "bk")
        .where(product_within_budget(F.col("ca"), F.col("cb"), max_pairs_per_key))
        .select("bk")
    )
    cand = (
        ka.join(ok, "bk").join(kb, "bk")
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ta = left.select(F.col(left_id).alias("id_a"), S.tokens(F.col(left_text)).alias("ta"))
    tb = right.select(F.col(right_id).alias("id_b"), S.tokens(F.col(right_text)).alias("tb"))
    return (
        cand.join(ta, "id_a").join(tb, "id_b")
        .withColumn("jaccard", S.jaccard_token_arrays(F.col("ta"), F.col("tb")))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def wjaccard_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_text: str = "text",
    right_text: str = "text",
    threshold: float = 0.6,
    icws_hashes: int = 64,
    icws_bands: int = 32,
    idf_scale: int = 1_000_000,
    max_pairs_per_key: int = 1_000_000,
) -> DataFrame:
    """Cross-corpus IDF-weighted near-dup JOIN: (id_a, id_b, wjaccard)
    between TWO tables — the weighted twin of :func:`minhash_join`, for
    template-heavy corpora where raw Jaccard under-ranks pairs whose
    similarity is carried by rare tokens (dedup-the-new-crawl case with
    boilerplate differing between crawls).

    IDF weights come from the UNION of both corpora (a token's rarity
    is a property of the corpus PAIR, and symmetric weights keep
    wjaccard symmetric); candidates come from ICWS weighted-MinHash
    banding (functions/icws.py) whose collision probability is the
    verified measure itself, so recall follows the weighted banding
    curve — no unweighted-sketch recall ceiling. Every candidate is
    exact-verified before emission.

    Scale plan: one map-side-combinable df groupBy over the exploded
    union; band keys explode linearly per side and meet in ONE
    equi-join; hot band keys are purged by the overflow-exact
    ``product_within_budget`` test (same discipline as minhash_join);
    the verify equi-join is bounded by the candidate budget. ICWS
    sketch cost is O(tokens x hashes) Arrow-batched floats per doc.
    """
    la = left.select(F.col(left_id).alias("rid"), S.tokens(F.col(left_text)).alias("t"))
    rb = right.select(F.col(right_id).alias("rid"), S.tokens(F.col(right_text)).alias("t"))
    # ONE pre-pass job for the corpus size (not a count() per side)
    n_docs = (
        la.select("rid").unionByName(rb.select("rid")).count()
    )

    def _tw(side: DataFrame) -> DataFrame:
        # pinned: each side's exploded token stream feeds the union
        # dfreq, the weight joins, masks/totals and (fallback) sketch —
        # see tfidf_weighted_jaccard_pairs
        return side.select(
            "rid", F.explode("t").alias("tok")
        ).localCheckpoint()

    tw_a, tw_b = _tw(la), _tw(rb)
    dfreq = tw_a.unionByName(tw_b).groupBy("tok").agg(F.count("*").alias("df"))
    weights = dfreq.select(
        "tok",
        F.round(
            F.lit(float(idf_scale))
            * F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df"))
        ).cast("long").alias("w"),
    )
    # r7: the (tok, w) weight table is consumed by every downstream
    # branch (token-weight joins, per-doc totals, ICWS sketch input,
    # the small-vocab probe) — without a pin each branch re-runs the
    # full explode + groupBy. Vocabulary-sized, so the materialization
    # is tiny relative to one recompute (guide §5 caching rule).
    weights = weights.localCheckpoint()
    # r7: same exact-all-pairs-over-distinct-masks fast path as
    # tfidf_weighted_jaccard_pairs (the oracle here is exact all-pairs
    # across the two corpora): skips both ICWS sketches, the band join
    # and the candidate dropDuplicates when the runtime probe allows.
    fast = _small_vocab_wjaccard_allpairs(
        tw_a.join(weights, "tok"), tw_b.join(weights, "tok"),
        weights, threshold,
    )
    if fast is not None:
        return fast

    def _prep(tw: DataFrame):
        tww = tw.join(weights, "tok")
        tot = tww.groupBy("rid").agg(F.sum("w").alias("W"))
        keyed = _icws_keyed(tww, icws_hashes, icws_bands)
        return tww, tot, keyed

    tww_a, tot_a, ka = _prep(tw_a)
    tww_b, tot_b, kb = _prep(tw_b)
    ka = ka.withColumnRenamed("rid", "id_a")
    kb = kb.withColumnRenamed("rid", "id_b")
    ok = (
        ka.groupBy("bk").agg(F.count("*").alias("ca"))
        .join(kb.groupBy("bk").agg(F.count("*").alias("cb")), "bk")
        .where(product_within_budget(F.col("ca"), F.col("cb"), max_pairs_per_key))
        .select("bk")
    )
    cand = (
        ka.join(ok, "bk").join(kb, "bk")
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    fast = _small_vocab_wjaccard(cand, tww_a, tww_b, weights, threshold,
                                 broadcast_masks=n_docs <= 4_000_000)
    if fast is not None:
        return fast
    inter = (
        cand
        .join(tww_a.selectExpr("rid as id_a", "tok", "w"), "id_a")
        .join(tww_b.selectExpr("rid as id_b", "tok"), ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum("w").alias("iw"))
    )
    return (
        inter.join(tot_a.selectExpr("rid as id_a", "W as wa"), "id_a")
        .join(tot_b.selectExpr("rid as id_b", "W as wb"), "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.col("iw") / (F.col("wa") + F.col("wb") - F.col("iw")), 6
            ).alias("wjaccard"),
        )
        .where(F.col("wjaccard") >= threshold)
    )


def simhash_duplicates(
    df: DataFrame, id_col: str, content_col: str, max_hamming: int = 7,
    hash_impl: str = "fast",
) -> DataFrame:
    """SimHash near-dup clustering.

    Banding is exact by pigeonhole: the 64-bit fingerprint splits into
    ``max_hamming + 1`` bands — a pair within the hamming budget must
    share at least one identical band, so banded equi-join + hamming
    verify loses nothing. All native expressions, 1 shuffle.
    """
    n_bands = max_hamming + 1
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    fp = df.select(
        F.col(id_col).alias("rid"),
        TX.simhash64(F.col(content_col), hash_impl=hash_impl).alias("sim"),
    )
    bands = fp.select(
        "rid", "sim",
        F.explode(
            F.array(*[
                F.concat(
                    F.lit(f"b{i}:"),
                    F.call_function("shiftright", F.col("sim"), F.lit(i * band_bits))
                    .bitwiseAND(F.lit(mask)).cast("string"),
                )
                for i in range(n_bands)
            ])
        ).alias("band"),
    )
    a = bands.selectExpr("band", "rid as id_a", "sim as sim_a")
    b = bands.selectExpr("band", "rid as id_b", "sim as sim_b")
    pairs = (
        a.join(b, "band")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", TX.hamming64(F.col("sim_a"), F.col("sim_b")))
    )
    return _verify_and_cluster(df, id_col, pairs, -F.col("hamming"), -max_hamming)


def embedding_duplicates(
    df: DataFrame, id_col: str, vec_col: str, cosine_threshold: float = 0.95,
    planes: int = 16, seed: int = 42, hash_impl: str = "fast",
) -> DataFrame:
    """Embedding-cosine near-dup: random-hyperplane LSH buckets ->
    in-bucket pairs -> exact cosine verify -> CC.

    ``hash_impl="portable"`` uses the md5-derived integer hyperplanes
    (functions/hashing.py) so the bucket assignment is DuckDB-checkable
    (driver query q54)."""
    from resolve_spark.operators.ann import add_hyperplane_bucket
    from resolve_spark.functions.embedding import cosine_similarity_native

    bucketed = add_hyperplane_bucket(df, vec_col, planes=planes, seed=seed,
                                     hash_impl=hash_impl)
    base = bucketed.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("v"), "bucket")
    a = base.selectExpr("bucket", "rid as id_a", "v as va")
    b = base.selectExpr("bucket", "rid as id_b", "v as vb")
    pairs = (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cos", cosine_similarity_native(F.col("va"), F.col("vb")))
    )
    return _verify_and_cluster(df, id_col, pairs, F.col("cos"), cosine_threshold)


def semantic_dedup(
    df: DataFrame, id_col: str, vec_col: str,
    k: int = 8, iters: int = 2, cosine_threshold: float = 0.95,
    quant: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-partition
    the embedding space, then inside each cluster drop every point that
    has a LOWER-id neighbor at cosine >= ``cosine_threshold`` — the
    earliest id in each near-dup neighborhood survives. Returns
    (id_col, cluster, kept) with kept as 0/1.

    The keeper rule is the deterministic greedy (keep iff no smaller-id
    near neighbor in-cluster) rather than the paper's
    distance-to-centroid rank: it needs no per-cluster sort, no CC, and
    a SQL oracle states it as one anti-join. Cross-cluster near-dups
    are NOT examined — that recall loss is SemDeDup's documented
    tradeoff vs all-pairs LSH (embedding_duplicates covers that class).

    Scale: clustering cost is kmeans_assign's (zero-shuffle assignment,
    one groupBy per update); the pair stage joins each cluster against
    itself, so the quadratic term is (n/k)^2 per cluster — the paper's
    own prescription is k ∝ n to hold cluster population (and therefore
    per-cluster pair cost) constant. AQE's skew-join split handles the
    residual imbalance between clusters; see block_skew_profile for
    measuring it.
    """
    from resolve_spark.functions.embedding import cosine_similarity_native
    from resolve_spark.operators.ann import kmeans_assign

    m = kmeans_assign(df, id_col, vec_col, k=k, iters=iters, quant=quant,
                      keep_vec=True)
    a = m.select(F.col(id_col).alias("_ia"), "cluster", F.col(vec_col).alias("_va"))
    b = m.select(F.col(id_col).alias("_ib"), "cluster", F.col(vec_col).alias("_vb"))
    assign = m.select(id_col, "cluster")
    dups = (
        a.join(b, "cluster")
        .where(F.col("_ia") < F.col("_ib"))
        .where(
            F.round(cosine_similarity_native(F.col("_va"), F.col("_vb")), quant)
            >= cosine_threshold
        )
        .select(F.col("_ib").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return assign.join(dups, id_col, "left").select(
        id_col,
        "cluster",
        F.when(F.col("_dup").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
    )


def _span_window_hash(toks_col, i, n: int, hash_impl: str):
    """Hash of one n-token window. ``fast`` = xxhash64 straight over
    the array slice (no string build, 8-byte longs through the
    shuffle); ``portable`` = md5-prefix of the space-joined window so
    DuckDB/numpy replicas reproduce it bit-exactly."""
    if check_hash_impl(hash_impl) == "portable":
        return F.substring(
            F.md5(F.concat_ws(" ", F.slice(toks_col, i, n))), 1, 16
        )
    return F.xxhash64(F.slice(toks_col, i, n))


def repeated_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    hash_impl: str = "fast",
) -> DataFrame:
    """Span-level duplication profile: for every document, the fraction
    of its n-token windows whose exact text also occurs in >= min_docs
    distinct documents (Lee et al., "Deduplicating Training Data Makes
    Language Models Better" — the window-hash approximation of exact
    substring dedup used by RefinedWeb/Dolma-style pipelines).

    Returns (rid, n_windows, n_dup_windows, dup_fraction). Documents
    shorter than ``n`` tokens have 0 windows and fraction 0.0 — they
    carry no span evidence either way.

    Scale plan: rows explode by ~tokens-per-doc into (window-hash, doc)
    pairs — linear in corpus token count, never all-pairs. The
    shared-window set is found with one hash-partitioned agg over
    DISTINCT (hash, doc) so partial aggregation applies; the dup-hash
    set (typically a small fraction of all windows) joins back under
    AQE, which broadcasts it when small. Window text is reduced to a
    64-bit-equivalent md5 prefix before the shuffle so shuffled bytes
    are bounded regardless of document length.
    """
    if n < 2:
        raise ValueError(f"window length must be >= 2 tokens: {n}")
    toks = TX.ws_tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("rid"), toks.alias("toks"))
    idx = F.explode(F.sequence(F.lit(1), F.size("toks") - n + 1)).alias("i")
    windows = (
        base.where(F.size("toks") >= n)
        .select("rid", idx, "toks")
        .select(
            "rid",
            _span_window_hash(F.col("toks"), F.col("i"), n, hash_impl).alias("h"),
        )
    )
    # distinct first: the per-h doc count becomes a map-side-combinable
    # count over pre-deduped keys instead of a count(distinct) shuffle
    shared = (
        windows.dropDuplicates(["h", "rid"])
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    per_doc = (
        windows.join(shared.withColumn("_dup", F.lit(1)), "h", "left")
        .groupBy("rid")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_windows"),
        )
    )
    return (
        df.select(F.col(id_col).alias("rid"))
        .join(per_doc, "rid", "left")
        .select(
            "rid",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.round(
                F.coalesce("n_dup_windows", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_windows", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    hash_impl: str = "fast",
) -> DataFrame:
    """Span REMOVAL (the acting counterpart of
    :func:`repeated_ngram_stats`): drop every token covered by an
    n-token window whose text occurs in >= min_docs distinct documents
    — Lee et al. 2022's exact-substring dedup, as applied by
    RefinedWeb-style pipelines, at window-hash granularity.

    Returns (rid, n_tokens, n_removed, clean_text). ``clean_text`` is
    the surviving tokens re-joined with single spaces (whitespace is
    normalized; token case is preserved — only the window HASH is
    case-folded, matching repeated_ngram_stats' dup definition).

    Scale plan: fully relational, linear in corpus tokens — covered
    positions are exploded as (rid, pos) rows (bounded by n x
    dup-windows), removed with one left-anti join against the exploded
    token stream, and each doc is rebuilt with a single
    hash-partitioned agg (sorted-struct collect, no global sort).
    No per-row quadratic membership scans, no driver collects.
    """
    if n < 2:
        raise ValueError(f"window length must be >= 2 tokens: {n}")
    # coalesce BEFORE split: F.size over the NULL-text split is -1
    # (legacy sizeOfNull), which would emit n_tokens = n_removed = -1
    # rows and corrupt downstream sums — NULL text is 0 tokens, like
    # repeated_ngram_stats
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda x: x != "",
    )
    base = df.select(F.col(id_col).alias("rid"), toks.alias("toks"))
    # case-fold ONCE per doc, in a projection BELOW the explode: put in
    # the same select as the Generate and Catalyst evaluates the whole-
    # array transform per WINDOW row (O(tokens) work x windows — the
    # O(T^2)-per-doc trap); lower-of-join == join-of-lowered, so the
    # portable hash still matches repeated_ngram_stats'
    lowered = base.where(F.size("toks") >= n).select(
        "rid", F.transform(F.col("toks"), F.lower).alias("ltoks")
    )
    lidx = F.explode(F.sequence(F.lit(1), F.size("ltoks") - n + 1)).alias("i")
    windows = (
        lowered.select("rid", lidx, "ltoks")
        .select(
            "rid",
            "i",
            _span_window_hash(F.col("ltoks"), F.col("i"), n, hash_impl).alias("h"),
        )
    )
    shared = (
        windows.dropDuplicates(["h", "rid"])
        .groupBy("h")
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    covered = (
        windows.join(shared, "h")
        .select("rid", F.explode(F.sequence(F.col("i"), F.col("i") + n - 1)).alias("pos"))
        .dropDuplicates(["rid", "pos"])
    )
    tokpos = base.select(
        "rid", F.posexplode("toks").alias("pos0", "tok")
    ).select("rid", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tokpos.join(covered, ["rid", "pos"], "left_anti")
    rebuilt = kept.groupBy("rid").agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("rid", F.size("toks").alias("n_tokens"))
        .join(rebuilt, "rid", "left")
        .select(
            "rid",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long").alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def select_canonical(
    members: DataFrame,
    id_col: str = "rid",
    cluster_col: str = "cluster_id",
    score_col: str = "quality",
) -> DataFrame:
    """Canonical-keeper selection: rank each duplicate cluster by
    (score desc, id asc) and flag rank 1 as the keeper — the "which
    copy do we train on" step that follows any dedup pass.

    Input is a cluster assignment (e.g. from :func:`exact_duplicates`
    or :func:`minhash_duplicates`) joined with a per-record score;
    output adds ``keep`` (boolean). Deterministic: ties on score break
    by id, so the keeper never depends on partitioning.

    Scale plan: one hash-partitioned window over cluster_id. Cluster
    sizes are bounded in practice (dup groups, not the whole corpus);
    a pathological giant cluster would already have been capped by the
    dedup pass's pair budget.
    """
    rk = F.row_number().over(
        Window.partitionBy(cluster_col).orderBy(
            F.col(score_col).desc(), F.col(id_col).asc()
        )
    )
    return members.withColumn("keep", rk == 1)
