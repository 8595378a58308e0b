"""Meta-blocking: weight and prune the blocking graph before scoring.

Beyond-reference operator (the reference caps hot blocks but never
re-weights the candidate graph — cluster.go's canopy blocking emits
pairs straight to scoring). Meta-blocking (Papadakis et al., "Meta-
Blocking: Taking Entity Resolution to the Next Level", IEEE TKDE 2014)
is the standard redundancy-positive refinement: when records carry
MULTIPLE blocking keys (multi-pass canopy/token/q-gram/MinHash — our
``block_keys`` arrays), the NUMBER of keys two records share is
evidence. Build the blocking graph (nodes = records, edges = candidate
pairs, weight = co-occurrence statistic), then prune low-weight edges
so the expensive similarity kernels never see them.

Implemented weights:
- ``cbs``  — Common Blocks Scheme: |keys(a) ∩ keys(b)| (ARCS/ECBS
  variants reduce to size-normalized CBS; CBS itself is the
  deterministic core).
- ``js``   — Jaccard of the two records' (purged) key sets:
  cbs / (|B(a)| + |B(b)| − cbs).

Implemented pruning schemes:
- ``wep``  — Weight Edge Pruning: keep edges with weight ≥ the global
  mean edge weight.
- ``wnp``  — Weighted Node Pruning (redistributed): each node retains
  edges with weight ≥ that node's mean incident weight; an edge
  survives if EITHER endpoint retains it.
- ``cnp``  — Cardinality Node Pruning: each node retains its ``k``
  highest-weight edges (ties broken by (id_a, id_b) so the selection
  is total-ordered and deterministic); an edge survives if EITHER
  endpoint retains it.

Scale plan (100 TB): one explode, one map-side-combinable key-size
groupBy, block purging (keys with > ``max_block_size`` rows are
dropped BEFORE the self-join, so pair generation is bounded by
purged-block sizes — the quadratic hazard never materializes), ONE
pair-aggregation shuffle (groupBy (id_a, id_b) is simultaneously the
dedup and the CBS count), and for wnp a combinable node-mean groupBy
over 2|E| rows joined back by node id. No driver-side state, no
broadcast of anything record-sized.

Determinism: with ``weight="cbs"`` every weight is a small integer
held exactly in a double, so partial-sum ordering cannot change
``avg`` results and the prune decision is exactly reproducible (the
q91 oracle hashes it). With ``weight="js"`` weights are ratios of
small ints — deterministic per edge, but mean comparisons sit on
ordinary float sums; treat borderline-equal edges as unordered (the
pytest checks use tolerances, not hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resolve_spark.operators import compress as CP


def _purged_keyed(
    df: DataFrame, id_col: str, keys_col: str, max_block_size: int
) -> DataFrame:
    """(rid, key) assignments surviving Block Purging: keys whose block
    exceeds ``max_block_size`` rows are dropped entirely (Papadakis —
    the oversized blocks are the least informative AND the quadratic
    ones). Single source for the purge so edge generation and the js
    |B(r)| denominators can never disagree on which blocks are live."""
    keyed = df.select(F.col(id_col).alias("rid"), F.explode(keys_col).alias("key"))
    sizes = keyed.groupBy("key").agg(F.count(F.lit(1)).alias("_c"))
    return keyed.join(
        sizes.where(F.col("_c") <= max_block_size).select("key"), "key"
    )


def blocking_graph_edges(
    df: DataFrame,
    id_col: str,
    keys_col: str = "block_keys",
    max_block_size: int = 1000,
) -> DataFrame:
    """(id_a, id_b, cbs) blocking-graph edges with id_a < id_b after
    block purging (:func:`_purged_keyed`). The groupBy that
    deduplicates pairs doubles as the CBS computation."""
    live = _purged_keyed(df, id_col, keys_col, max_block_size)
    a = live.select(F.col("rid").alias("id_a"), "key")
    b = live.select(F.col("rid").alias("id_b"), "key")
    return (
        a.join(b, "key")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("cbs"))
    )


def _meta_block_prune_sig(
    df: DataFrame,
    id_col: str,
    keys_col: str,
    scheme: str,
    max_block_size: int,
) -> DataFrame:
    """wep/wnp pruning with ``weight="cbs"`` computed over DISTINCT
    key-set SIGNATURES instead of records (guide §1.2: change the
    distributed algorithm before the per-task work).

    Two records with the same purged key set are interchangeable in the
    blocking graph: every edge statistic this scheme uses — edge
    existence (>= 1 shared live key), cbs = |keys ∩ keys|, a node's
    mean incident weight, the global mean — is a function of the
    endpoint SIGNATURES alone. So: group records by sorted live-key
    array (s signatures), build the s x s signature-pair graph with
    multiplicities, take the prune decision per signature pair, and
    expand only the survivors back to record pairs. The key join runs
    over signatures (provably no more rows per key than the record
    formulation it replaces — collapsing can only shrink blocks), and
    the record-pair stream is never aggregated at all: at sf1.0 the
    record formulation shuffled the 89.5M-edge stream through a pair
    groupBy plus a 179M-row node-mean aggregate (measured 47s); the
    signature formulation aggregates ~1.4k signatures (measured 4s).

    Exactness: cbs weights are small exact longs; the replicated means
    are Σ cbs·multiplicity / Σ multiplicity with the numerator exact in
    int64 and < 2^53, so the double division equals Spark's avg() over
    the expanded per-edge doubles bit-for-bit, and every prune decision
    is identical to the record-level plan. (js weights are float ratios
    where repeated-addition vs multiply-by-count can differ in the last
    ulp — js stays on the record-level path.)
    """
    live = _purged_keyed(df, id_col, keys_col, max_block_size)
    sig = live.groupBy("rid").agg(F.sort_array(F.collect_list("key")).alias("_ks"))
    sigs = sig.groupBy("_ks").agg(
        F.count(F.lit(1)).alias("_cnt"), F.min("rid").alias("_sid")
    ).localCheckpoint()
    members = sig.join(sigs.select("_ks", "_sid"), "_ks").select("rid", "_sid")
    skeys = sigs.select("_sid", "_cnt", F.explode("_ks").alias("key"))
    a = skeys.select(
        F.col("_sid").alias("_pa"), F.col("_cnt").alias("_ca"), "key"
    )
    b = skeys.select(
        F.col("_sid").alias("_pb"), F.col("_cnt").alias("_cb"), "key"
    )
    spairs = (
        a.join(b, "key")
        .where(F.col("_pa") <= F.col("_pb"))
        .groupBy("_pa", "_pb", "_ca", "_cb")
        .agg(F.count(F.lit(1)).alias("cbs"))
    ).localCheckpoint()
    self_p = F.col("_pa") == F.col("_pb")
    # edge multiplicity of a signature pair: cross product, or C(cnt,2)
    mult = F.when(
        self_p, F.shiftright(F.col("_ca") * (F.col("_ca") - 1), 1)
    ).otherwise(F.col("_ca") * F.col("_cb"))
    if scheme == "wep":
        # Σmult == 0 means the record-level graph has NO edges (every
        # pair multiplicity is 0): the record-level avg() is null there
        # and keeps nothing — reproduce that instead of dividing by
        # zero under ANSI (caught by test_property_budget)
        g = spairs.agg(
            F.when(
                F.sum(mult) > 0,
                F.sum(F.col("cbs") * mult).cast("double")
                / F.sum(mult).cast("double"),
            ).alias("_thr")
        )
        kept = (
            spairs.join(F.broadcast(g))
            .where(F.col("cbs").cast("double") >= F.col("_thr"))
        )
    else:  # wnp
        # per-node incident mean, identical for every node of a
        # signature: partners weighted by partner-signature counts
        # (cnt - 1 within the own signature)
        contrib = (
            spairs.where(~self_p)
            .select(F.col("_pa").alias("_p"), "cbs", F.col("_cb").alias("_m"))
            .unionByName(
                spairs.where(~self_p).select(
                    F.col("_pb").alias("_p"), "cbs", F.col("_ca").alias("_m")
                )
            )
            .unionByName(
                spairs.where(self_p).select(
                    F.col("_pa").alias("_p"), "cbs",
                    (F.col("_ca") - 1).alias("_m"),
                )
            )
            .where(F.col("_m") > 0)
        )
        navg = contrib.groupBy("_p").agg(
            (
                F.sum(F.col("cbs") * F.col("_m")).cast("double")
                / F.sum("_m").cast("double")
            ).alias("_avg")
        )
        kept = (
            spairs.join(
                F.broadcast(
                    navg.select(F.col("_p").alias("_pa"), F.col("_avg").alias("_ga"))
                ),
                "_pa",
            )
            .join(
                F.broadcast(
                    navg.select(F.col("_p").alias("_pb"), F.col("_avg").alias("_gb"))
                ),
                "_pb",
            )
            .where(
                (F.col("cbs").cast("double") >= F.col("_ga"))
                | (F.col("cbs").cast("double") >= F.col("_gb"))
            )
        )
    qual = kept.select(
        F.col("_pa").alias("key_a"), F.col("_pb").alias("key_b"), "cbs"
    )
    return CP.expand_pairs(
        qual, members.select("rid", F.col("_sid").alias("key"))
    ).select("id_a", "id_b", "cbs", F.col("cbs").cast("double").alias("weight"))


def meta_block_prune(
    df: DataFrame,
    id_col: str,
    keys_col: str = "block_keys",
    weight: str = "cbs",
    scheme: str = "wnp",
    max_block_size: int = 1000,
    k: int = 10,
) -> DataFrame:
    """Prune the blocking graph; returns surviving candidate edges
    (id_a, id_b, cbs, weight). Feed the result to scoring in place of
    the raw candidate set when multi-pass redundancy is high and the
    kernel budget is the bottleneck. ``k`` applies to scheme="cnp"
    only (retained edges per node)."""
    if weight == "cbs" and scheme in ("wep", "wnp"):
        # r7: signature-compressed formulation — bit-identical output
        # (see _meta_block_prune_sig) without the edge-stream shuffles.
        # (None return is the test hook that forces the record-level
        # plan; the helper itself always applies.)
        out = _meta_block_prune_sig(
            df, id_col, keys_col, scheme, max_block_size
        )
        if out is not None:
            return out
    edges = blocking_graph_edges(df, id_col, keys_col, max_block_size)
    # r7: per-node companion tables (key-set sizes, mean incident
    # weight) hold at most one row per RECORD, a factor |E|/|V| smaller
    # than the edge stream they annotate — but the planner cannot see
    # that through the aggregate and picks sort-merge, shuffling and
    # sorting the edges twice per attach (measured 15s of q91's 28s at
    # sf1.0). Broadcast them while the record table is broadcast-sized;
    # beyond that the shuffle join is the right plan and is kept.
    _bcast = df.count() <= 4_000_000
    _maybe_b = F.broadcast if _bcast else (lambda d: d)
    if weight == "cbs":
        edges = edges.withColumn("weight", F.col("cbs").cast("double"))
    elif weight == "js":
        # the SAME _purged_keyed subtree as blocking_graph_edges built —
        # identical plan, so Catalyst's ReuseExchange dedups the sizes
        # shuffle instead of recomputing the purge twice
        live = _purged_keyed(df, id_col, keys_col, max_block_size)
        # |B(r)| over the PURGED collection (the paper's convention)
        nb = live.groupBy("rid").agg(F.count(F.lit(1)).alias("_nb"))
        edges = (
            edges.join(
                _maybe_b(nb.select(F.col("rid").alias("id_a"),
                                   F.col("_nb").alias("_na"))),
                "id_a",
            )
            .join(
                _maybe_b(nb.select(F.col("rid").alias("id_b"),
                                   F.col("_nb").alias("_b2"))),
                "id_b",
            )
            .withColumn(
                "weight",
                F.col("cbs") / (F.col("_na") + F.col("_b2") - F.col("cbs")),
            )
            .drop("_na", "_b2")
        )
    else:
        raise ValueError(f"unknown weight scheme: {weight!r} (cbs|js)")

    if scheme == "wep":
        thr = edges.agg(F.avg("weight").alias("_thr"))
        return (
            edges.join(F.broadcast(thr))
            .where(F.col("weight") >= F.col("_thr"))
            .drop("_thr")
        )
    if scheme == "wnp":
        ends = edges.select(F.col("id_a").alias("_node"), "weight").unionByName(
            edges.select(F.col("id_b").alias("_node"), "weight")
        )
        navg = ends.groupBy("_node").agg(F.avg("weight").alias("_avg"))
        return (
            edges.join(
                _maybe_b(navg.select(F.col("_node").alias("id_a"),
                                     F.col("_avg").alias("_aa"))),
                "id_a",
            )
            .join(
                _maybe_b(navg.select(F.col("_node").alias("id_b"),
                                     F.col("_avg").alias("_ab"))),
                "id_b",
            )
            .where((F.col("weight") >= F.col("_aa")) | (F.col("weight") >= F.col("_ab")))
            .drop("_aa", "_ab")
        )
    if scheme == "cnp":
        ends = edges.select(
            F.col("id_a").alias("_node"), "id_a", "id_b", "weight"
        ).unionByName(
            edges.select(F.col("id_b").alias("_node"), "id_a", "id_b", "weight")
        )
        w = Window.partitionBy("_node").orderBy(
            F.desc("weight"), F.asc("id_a"), F.asc("id_b")
        )
        kept_pairs = (
            ends.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= k)
            .select("id_a", "id_b")
            .distinct()
        )
        return edges.join(kept_pairs, ["id_a", "id_b"], "left_semi")
    raise ValueError(f"unknown pruning scheme: {scheme!r} (wep|wnp|cnp)")
