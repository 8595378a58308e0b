"""Transitive match groups (SURVEY.md §2.8, G1-G5) at cluster scale.

The reference runs a per-seed BFS with one ANN round-trip per dequeued
node (group.go:162-263). Globally that is exactly connected components
over the thresholded match-edge set, so we compute ALL groups at once
with the **alternating large-star / small-star algorithm** (Kiveris et
al., "Connected Components in MapReduce and Beyond", SOCC'14):

    large-star: attach every neighbor larger than u to min(Γ(u) ∪ {u})
    small-star: attach u and its smaller neighbors to that minimum

Both steps are a groupBy + join (2 shuffles); the pair converges in
O(log n) rounds. Lineage is truncated every round via localCheckpoint
(SURVEY.md §4 custom-device #2 / hard-part #5); convergence is detected
by a (count, xxhash-sum) fingerprint of the edge set.

Strategy parity (group.go):
- "transitive" == CC over edges at threshold t (global form), or the
  EXACT per-seed hop-limited BFS: ``match_groups`` for a batch of
  seeds, ``match_group`` for one seed (walked from the driver, one
  collect per hop; the entity API and the CLI ``group`` verb).
- "direct"     == the 1-hop neighborhood of a seed (``match_group``
  with one hop).
- "hybrid"     == per-seed EXACT semantics in ``match_groups`` and
  ``match_group`` (direct@max(t,0.9) then hops-1 transitive,
  group.go:266-337); both read the per-hop floors from
  ``_hop_floors``. The global-clustering form keeps the documented
  two-threshold approximation in ``hybrid_edges`` (SURVEY.md §7
  decision #3).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resolve_spark.config import HYBRID_DIRECT_THRESHOLD


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor: order-independent, overflow-free under ANSI mode
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.withColumn("m", F.least(F.col("src"), F.col("mn")))
    return (
        sym.join(mins.select("src", "m"), "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    attached = (
        e.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return attached.unionByName(self_edges).distinct()


#: single-task connected-components budget: an edge list at or under
#: this many rows is solved in ONE task with a vectorized numpy
#: pointer-jumping pass (~16 bytes/edge in flight; well inside one
#: worker) instead of iterating the distributed star rounds. The star
#: fixpoint stays the plan above the budget.
_CC_LOCAL_MAX_EDGES = 20_000_000


def _cc_local(cur: DataFrame) -> DataFrame:
    """Exact connected components over a (src, dst) edge list small
    enough for one task: hash-factorize node ids, run vectorized
    hook-to-min + pointer-jumping (Shiloach-Vishkin shape) to the
    fixpoint, then label every component with the MIN member id in the
    ids' own ordering — exactly the (rid, cluster_id = min member)
    contract of the star rounds, in one job instead of ~15 rounds x 6
    shuffles (measured 20.5s -> 2s on q87's 797k-edge graph at
    sf1.0)."""
    import numpy as np
    import pandas as pd

    out_schema = (
        "rid "
        + dict(cur.dtypes)["src"]
        + ", cluster_id "
        + dict(cur.dtypes)["dst"]
    )

    def run(batches):
        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"].values)
            dsts.append(pdf["dst"].values)
        if not srcs:
            return
        s_all = np.concatenate(srcs)
        d_all = np.concatenate(dsts)
        codes, uniq = pd.factorize(np.concatenate([s_all, d_all]))
        n_e, n = len(s_all), len(uniq)
        s, d = codes[:n_e], codes[n_e:]
        parent = np.arange(n, dtype=np.int64)
        while True:
            ps, pd_ = parent[s], parent[d]
            hi = np.maximum(ps, pd_)
            lo = np.minimum(ps, pd_)
            np.minimum.at(parent, hi, lo)
            # full path compression
            while True:
                pp = parent[parent]
                if np.array_equal(pp, parent):
                    break
                parent = pp
            if np.array_equal(parent[s], parent[d]):
                break
        lab = pd.DataFrame({"rid": uniq, "_root": parent})
        lab["cluster_id"] = lab.groupby("_root")["rid"].transform("min")
        yield lab[["rid", "cluster_id"]]

    return cur.repartition(1).mapInPandas(run, out_schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 3,
    local_max_edges: int = _CC_LOCAL_MAX_EDGES,
) -> DataFrame:
    """(src,dst) edge list -> (rid, cluster_id) with cluster_id = min
    member id of the component. Only nodes appearing in edges are
    returned; callers union isolated nodes as singleton clusters.

    Fault tolerance: by default every round localCheckpoints (fast, but
    executor-local — fine on local[]). With ``checkpoint_dir`` set, every
    ``checkpoint_every``-th round does a RELIABLE ``checkpoint()`` to
    that directory and intermediate rounds keep full lineage, so on a
    real cluster an executor loss replays at most ``checkpoint_every``
    rounds instead of killing the job (SURVEY.md §7 hard-part #5).
    """
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame, rnd: int) -> DataFrame:
        if checkpoint_dir is not None:
            if rnd % checkpoint_every == 0:
                return df.checkpoint(eager=True)
            return df  # keep lineage; recoverable from last reliable ckpt
        return df.localCheckpoint()

    cur = _truncate(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).where(
            F.col("src") != F.col("dst")
        ).distinct(),
        0,
    )
    # r7: the deduped edge list is already materialized for lineage
    # truncation, so its size is known for free; small graphs solve in
    # one vectorized task instead of the round loop (guide §1.2).
    if cur.count() <= local_max_edges:
        return _cc_local(cur)
    prev_fp = None
    for rnd in range(1, max_iterations + 1):
        cur = _truncate(_small_star(_large_star(cur)), rnd)
        fp = _fingerprint(cur)
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")
    # converged: edges are (node -> root). Roots map to themselves.
    members = cur.select(F.col("src").alias("rid"), F.col("dst").alias("cluster_id"))
    roots = cur.select(F.col("dst").alias("rid"), F.col("dst").alias("cluster_id")).distinct()
    return members.unionByName(roots).distinct()


def assign_clusters(
    entities: DataFrame, edges: DataFrame, id_col: str
) -> DataFrame:
    """All entities -> (rid, cluster_id, cluster_size); non-matched
    entities become singletons (cluster_id = own id)."""
    cc = connected_components(edges)
    assigned = (
        entities.select(F.col(id_col).alias("rid"))
        .join(cc, "rid", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "rid"))
    )
    sizes = assigned.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return assigned.join(sizes, "cluster_id").select("rid", "cluster_id", "cluster_size")


def hybrid_edges(scored_edges: DataFrame, threshold: float) -> DataFrame:
    """G4 — two-threshold hybrid: high-confidence core (>= max(t, 0.9),
    group.go:272-274) plus threshold edges touching a core node."""
    hi_t = max(threshold, HYBRID_DIRECT_THRESHOLD)
    hi = scored_edges.where(F.col("score") >= hi_t)
    core_nodes = (
        hi.select(F.col("id_a").alias("n"))
        .unionByName(hi.select(F.col("id_b").alias("n")))
        .distinct()
    )
    lo = scored_edges.where(F.col("score") >= threshold)
    touching = lo.join(
        core_nodes, (lo.id_a == core_nodes.n) | (lo.id_b == core_nodes.n), "left_semi"
    )
    return hi.unionByName(touching).dropDuplicates(["id_a", "id_b"])


def _hop_floors(strategy: str, threshold: float, hops_limit: int) -> list[float]:
    """The strategy dispatch of group.go:36-96 as the minimum edge score
    of each BFS hop, hop 1 first:

    - "direct":     one hop at threshold.
    - "transitive": hops_limit hops at threshold (group.go:162-263).
    - "hybrid":     one hop at max(threshold, 0.9) (group.go:272-274),
                    then hops_limit-1 hops at threshold from the direct
                    matches (group.go:283-334).
    """
    if strategy == "direct":
        return [threshold]
    if strategy == "transitive":
        return [threshold] * hops_limit
    if strategy == "hybrid":
        hi = max(threshold, HYBRID_DIRECT_THRESHOLD)
        return [hi] + [threshold] * (hops_limit - 1)
    raise ValueError(f"unknown match group strategy: {strategy}")


def match_groups(
    scored_edges: DataFrame,
    seeds: DataFrame,
    threshold: float,
    strategy: str = "hybrid",
    hops_limit: int = 3,
    max_group_size: int = 100,
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed_col: str = "seed",
) -> DataFrame:
    """G1 — per-seed hop-limited match groups (group.go:36-96 dispatch,
    defaults HopsLimit=3 / MaxGroupSize=100 at group.go:44-50), run for
    ALL seeds at once as a bounded batch-BFS over the scored edge set.
    Strategies: see ``_hop_floors``; per-member hop_distance parity with
    match.Metadata["hop_distance"] (group.go:239).

    Members carry hop_distance (min hops from the seed) and score (max
    score among the edges that discover the node at its min hop — the
    reference records whichever edge its BFS dequeued first, which is
    visit-order-dependent; we canonicalize deterministically). Groups
    truncate to max_group_size by (hop_distance, score desc, rid) —
    the reference truncates in BFS arrival order (group.go:245-247),
    which again is not deterministic; same canonicalization.

    Returns (seed, rid, hop_distance, score, rank), seed itself included
    at hop 0 / score 1.0 (group.go:72-74). One seed: ``match_group``
    returns the same members in a few driver-side jobs.
    """
    floors = _hop_floors(strategy, threshold, hops_limit)
    e = scored_edges.select(id_a, id_b, "score")

    # symmetrize + threshold-filter ONCE per call and persist: every BFS
    # hop reuses this relation instead of re-deriving it from the source
    # lineage (repeated scans when edges aren't already materialized)
    sym_all = (
        e.where(F.col("score") >= threshold)
        .select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"), "score")
        .unionByName(
            e.where(F.col("score") >= threshold)
            .select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"), "score")
        )
        .persist()
    )
    persisted: list[DataFrame] = [sym_all]

    seeds_df = seeds.select(F.col(seed_col).alias("seed")).distinct()
    visited = seeds_df.select(
        "seed",
        F.col("seed").alias("rid"),
        F.lit(0).alias("hop_distance"),
        F.lit(1.0).alias("score"),
    )
    frontier = visited.select("seed", "rid")
    # expand the (seed, rid) frontier one hop at a time; min-hop
    # semantics via anti-join against everything already visited
    for h, floor in enumerate(floors, 1):
        edges_sym = sym_all if floor <= threshold else sym_all.where(F.col("score") >= floor)
        nxt = (
            frontier.join(edges_sym, frontier["rid"] == edges_sym["src"])
            .groupBy("seed", F.col("dst").alias("nrid"))
            .agg(F.max("score").alias("score"))
            .select(
                "seed", F.col("nrid").alias("rid"),
                F.lit(h).alias("hop_distance"), "score",
            )
        )
        new = nxt.join(
            visited.select("seed", "rid"), ["seed", "rid"], "left_anti"
        ).persist()
        persisted.append(new)
        if new.isEmpty():
            break
        visited = visited.unionByName(new)
        frontier = new.select("seed", "rid")
    w = Window.partitionBy("seed").orderBy(
        F.asc("hop_distance"), F.desc("score"), F.asc("rid")
    )
    ranked = (
        visited.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= max_group_size)
    )
    # materialize (cutting lineage), then release every cached frontier —
    # repeated group requests must not accumulate session-lifetime caches
    try:
        result = ranked.localCheckpoint(eager=True)
    finally:
        for df in persisted:
            df.unpersist()
    return result


class GroupMember(NamedTuple):
    rid: str
    hop_distance: int
    score: float


def match_group(
    scored_edges: DataFrame,
    seed: str,
    threshold: float,
    strategy: str = "hybrid",
    hops_limit: int = 3,
    max_group_size: int = 100,
) -> list[GroupMember]:
    """One seed's ``match_groups`` members in rank order, walked from the
    driver with one collect per hop.

    Each hop keeps the edges with an endpoint in the frontier and a
    score at the hop's floor, takes the other endpoint and drops the
    visited ones, in one map-only job; the driver keeps the max score
    per endpoint and the first ``max_group_size - len(members)`` of them
    by (score desc, rid) (a shuffle would cost the hop more jobs than
    the frontier's edges cost the driver). The
    walk stops when the frontier is empty or the group is full. Early
    stop is exact: members rank by (hop_distance, score desc, rid), so
    once a group is full no later hop can enter it, and a hop that does
    not fill it keeps every node it found. The frontier and visited ids
    go into the plan as literals, bounded by ``max_group_size``.
    """
    floors = _hop_floors(strategy, threshold, hops_limit)
    members = [GroupMember(seed, 0, 1.0)]
    frontier = [seed]
    a, b, score = F.col("id_a"), F.col("id_b"), F.col("score")
    for hop, floor in enumerate(floors, 1):
        room = max_group_size - len(members)
        if not frontier or room <= 0:
            break
        best: dict[str, float] = {}
        for r in (
            scored_edges.where((score >= floor) & (a.isin(frontier) | b.isin(frontier)))
            .select(F.when(a.isin(frontier), b).otherwise(a).alias("rid"), score)
            .where(~F.col("rid").isin([m.rid for m in members]))
            .collect()
        ):
            best[r["rid"]] = max(r["score"], best.get(r["rid"], r["score"]))
        found = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:room]
        frontier = [rid for rid, _ in found]
        members += [GroupMember(rid, hop, s) for rid, s in found]
    return members[:max(max_group_size, 0)]


def group_statistics(
    clusters: DataFrame,
    entities: DataFrame,
    scored_edges: DataFrame,
    id_col: str,
    stat_fields: list[str],
) -> DataFrame:
    """G5 — per-cluster stats (group.go:340-407), all-native.

    avg_score: mean score of intra-cluster edges (the batch analog of
    averaging member match-scores). Per field: the modal non-empty value,
    agreement = mode count / cluster size, confidence = agreement *
    avg_score (group.go:403). Mode ties break to the smallest value
    (the reference inherits Go map iteration order — nondeterministic;
    we pick deterministically).
    """
    edge_scores = (
        scored_edges.join(
            clusters.select(F.col("rid").alias("id_a"), "cluster_id"), "id_a"
        )
        .groupBy("cluster_id")
        .agg(F.avg("score").alias("avg_score"))
    )
    base = clusters.join(edge_scores, "cluster_id", "left").withColumn(
        "avg_score", F.coalesce("avg_score", F.lit(1.0))
    )
    ent = entities.select(F.col(id_col).alias("rid"), *stat_fields).join(
        base.select("rid", "cluster_id", "cluster_size", "avg_score"), "rid"
    )
    stack_expr = "stack({}, {}) as (field, value)".format(
        len(stat_fields), ", ".join(f"'{f}', {f}" for f in stat_fields)
    )
    long = ent.selectExpr("cluster_id", "cluster_size", "avg_score", stack_expr).where(
        (F.col("value").isNotNull()) & (F.col("value") != "")
    )
    counted = long.groupBy("cluster_id", "cluster_size", "avg_score", "field", "value").agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("cluster_id", "field").orderBy(F.desc("cnt"), F.asc("value"))
    top = counted.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    return top.select(
        "cluster_id",
        F.col("cluster_size").alias("size"),
        "avg_score",
        "field",
        F.col("value").alias("mode_value"),
        (F.col("cnt") / F.col("cluster_size")).alias("agreement"),
        (F.col("cnt") / F.col("cluster_size") * F.col("avg_score")).alias("confidence"),
    )


def _edges_with_common_neighbors(
    edges: DataFrame,
    assignments: DataFrame,
    id_col: str,
    cluster_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of cluster_graph_metrics / prune_bridge_edges:
    normalize edges to same-cluster undirected (a < b), count each
    edge's common neighbors via ONE adjacency self-join (sum(deg^2)
    work, bounded by the pair budget). Returns
    ((a, b, _c, cn), normalized (_n, _c) assignments)."""
    und = (
        edges.select(
            F.least("id_a", "id_b").alias("a"), F.greatest("id_a", "id_b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    asg = assignments.select(F.col(id_col).alias("_n"), F.col(cluster_col).alias("_c"))
    e = (
        und.join(asg.withColumnRenamed("_n", "a").withColumnRenamed("_c", "_ca"), "a")
        .join(asg.withColumnRenamed("_n", "b").withColumnRenamed("_c", "_cb"), "b")
        .where(F.col("_ca") == F.col("_cb"))
        .select("a", "b", F.col("_ca").alias("_c"))
    )
    adj = e.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        e.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    common = (
        e.join(adj.select(F.col("x").alias("a"), F.col("y").alias("w1")), "a")
        .join(adj.select(F.col("x").alias("b"), F.col("y").alias("w2")), "b")
        .where((F.col("w1") == F.col("w2")) & (F.col("w1") != F.col("a")) & (F.col("w1") != F.col("b")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    per_edge = e.join(common, ["a", "b"], "left").withColumn(
        "cn", F.coalesce("cn", F.lit(0))
    )
    return per_edge, asg


def prune_bridge_edges(
    edges: DataFrame,
    assignments: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    min_common: int = 1,
    min_cluster_size: int = 3,
) -> DataFrame:
    """Structural over-merge repair, step 1: drop every intra-cluster
    edge with fewer than ``min_common`` common neighbors when its
    cluster has >= ``min_cluster_size`` nodes — the zero-support
    "bridge" edges cluster_graph_metrics flags are exactly the edges a
    single false positive uses to weld two real entities together
    (clerical-review practice; Splink's cluster-studio workflow).
    Returns the SURVIVING (id_a, id_b) edges; feed them back through
    connected_components to materialize the repaired clustering.

    Smaller clusters are left intact (a 2-node cluster's only edge
    never has a common neighbor; pruning it would dissolve every pair).
    Same sum(deg^2) bound as cluster_graph_metrics; one extra
    broadcast-joinable cluster-size aggregate."""
    per_edge, asg = _edges_with_common_neighbors(
        edges, assignments, id_col, cluster_col
    )
    sizes = asg.groupBy("_c").agg(F.countDistinct("_n").alias("_nn"))
    return (
        per_edge.join(sizes, "_c")
        .where(
            (F.col("cn") >= min_common) | (F.col("_nn") < min_cluster_size)
        )
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
    )


def cluster_graph_metrics(
    edges: DataFrame,
    assignments: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Per-cluster GRAPH-quality diagnostics for an entity-resolution
    clustering — the standard post-CC health check (the ideas behind
    Splink's cluster metrics / "graph metrics for linked-data
    clustering"): a good entity cluster is dense; a cluster held
    together by a single low-support edge is a likely over-merge.

    Input: undirected match ``edges`` (id_a, id_b; direction and
    duplicates ignored) and node->cluster ``assignments``. Edges whose
    endpoints land in different clusters are dropped (CC output never
    produces them; exogenous assignments might).

    Output, one row per cluster (including edge-less singleton
    clusters): n_nodes, n_edges, density = 2E/(n(n-1)), avg_degree =
    2E/n, n_triangles, n_bridges — edges with ZERO common neighbors in
    a cluster of >= 3 nodes, the cheap articulation-edge proxy (a true
    bridge in the graph-theory sense always has no common neighbor;
    flagged edges deserve clerical review before trusting the merge).

    Determinism: every count is an exact long; density/avg_degree are
    single divisions rounded to 6 dp — oracle-safe.

    Scale plan (100 TB): common-neighbor counting is ONE self-join of
    the adjacency list keyed on the edge endpoints — sum(deg^2) work,
    bounded because candidate degrees are bounded by the pair budget
    (pairs.py); no per-cluster collect, no quadratic in cluster count.
    Triangles = sum(common)/3 per cluster, counted once per edge.
    """
    per_edge, asg = _edges_with_common_neighbors(
        edges, assignments, id_col, cluster_col
    )
    nodes = asg.groupBy(F.col("_c").alias(cluster_col)).agg(
        F.countDistinct("_n").alias("n_nodes")
    )
    eagg = per_edge.groupBy(F.col("_c").alias(cluster_col)).agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.expr("sum(cn) DIV 3").alias("n_triangles"),
        F.sum(F.when(F.col("cn") == 0, 1).otherwise(0)).alias("_zero_cn"),
    )
    out = nodes.join(eagg, cluster_col, "left").select(
        cluster_col,
        "n_nodes",
        F.coalesce("n_edges", F.lit(0)).alias("n_edges"),
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("n_nodes") >= 3, F.coalesce("_zero_cn", F.lit(0))
        ).otherwise(F.lit(0)).alias("n_bridges"),
    )
    density = F.when(
        F.col("n_nodes") > 1,
        F.round(
            F.col("n_edges") * 2 / (F.col("n_nodes") * (F.col("n_nodes") - 1)), 6
        ),
    ).otherwise(F.lit(0.0))
    avg_deg = F.when(
        F.col("n_nodes") > 0, F.round(F.col("n_edges") * 2 / F.col("n_nodes"), 6)
    ).otherwise(F.lit(0.0))
    return out.select(
        cluster_col,
        "n_nodes",
        "n_edges",
        density.alias("density"),
        avg_deg.alias("avg_degree"),
        "n_triangles",
        "n_bridges",
    )


def link_prediction_features(edges: DataFrame) -> DataFrame:
    """Per-EDGE link-prediction features over the (undirected) match
    graph — the edge-level complement to :func:`cluster_graph_metrics`
    (per-cluster) and :func:`prune_bridge_edges` (binary prune):
    classic neighborhood scores (Liben-Nowell & Kleinberg 2003) for
    re-ranking or reviewing match edges by structural support.

    Output per distinct input edge (orientation/duplicates ignored):

    - ``cn``          common-neighbor count (exact long)
    - ``jaccard_nbrs``  cn / (deg_a + deg_b - cn) — Jaccard of the two
      neighbor sets (exact-int operands, one division)
    - ``pref_attach`` deg_a * deg_b (exact long)
    - ``ra``          resource allocation Σ_z 1/deg(z) over common
      neighbors z — the degree-penalized CN variant (float SUM:
      deterministic per input but order-unpinned in the last ulp, so
      it is pytest-verified, not hash-oracled; q96 outputs the exact
      columns only)

    Scale plan (100 TB): degree = one combinable groupBy; common
    neighbors = ONE adjacency self-join keyed on the edge endpoints
    (sum(deg^2) work, bounded by the candidate pair budget upstream);
    features join back keyed on the edge — no per-node collect,
    nothing quadratic in graph size."""
    e = (
        edges.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    adj = e.select(F.col("id_a").alias("x"), F.col("id_b").alias("y")).unionByName(
        e.select(F.col("id_b").alias("x"), F.col("id_a").alias("y"))
    )
    deg = adj.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    a1 = adj.select(F.col("x").alias("id_a"), F.col("y").alias("z"))
    a2 = adj.select(F.col("x").alias("id_b"), F.col("y").alias("z"))
    common = (
        e.join(a1, "id_a")
        .join(a2, ["id_b", "z"])
        .where((F.col("z") != F.col("id_a")) & (F.col("z") != F.col("id_b")))
        .join(deg.select(F.col("x").alias("z"), F.col("deg").alias("_dz")), "z")
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.lit(1.0) / F.col("_dz")).alias("ra"),
        )
    )
    out = (
        e.join(common, ["id_a", "id_b"], "left")
        .join(deg.select(F.col("x").alias("id_a"), F.col("deg").alias("_da")), "id_a")
        .join(deg.select(F.col("x").alias("id_b"), F.col("deg").alias("_db")), "id_b")
    )
    return out.select(
        "id_a",
        "id_b",
        F.coalesce("cn", F.lit(0)).alias("cn"),
        (
            F.coalesce("cn", F.lit(0))
            / (F.col("_da") + F.col("_db") - F.coalesce("cn", F.lit(0)))
        ).alias("jaccard_nbrs"),
        (F.col("_da") * F.col("_db")).alias("pref_attach"),
        F.coalesce("ra", F.lit(0.0)).alias("ra"),
    )


def cluster_stability(
    prev: DataFrame,
    curr: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Run-over-run cluster stability — the operational metric behind
    stable entity ids: for each CURRENT cluster, its best-overlap
    predecessor in the PREVIOUS run's assignment and the fraction of
    members that came from it.

    Output per current cluster: (cluster_id, n_records, best_prev,
    overlap, stability = overlap / n_records). stability 1.0 = the
    cluster is exactly a previous cluster (or a pure split of one);
    low stability = the cluster was stitched from several previous
    ones — the merge events an id-crosswalk has to re-map. Records
    present in only one input are excluded (inner join); audit
    coverage separately.

    Determinism: best_prev picks max overlap with ties broken by
    ascending previous-cluster id (total order, oracle-safe); counts
    are exact longs, stability is one division (round 6 downstream).

    Scale plan (100 TB): one (curr, prev) contingency groupBy + one
    per-cluster size groupBy, both map-side combinable and keyed on
    cluster ids; the argmax is a per-cluster window over contingency
    CELLS (bounded by distinct (curr, prev) combinations, not
    records). No collects, nothing pairwise."""
    j = curr.select(F.col(id_col).alias("_r"), F.col(cluster_col).alias("_c")).join(
        prev.select(F.col(id_col).alias("_r"), F.col(cluster_col).alias("_p")),
        "_r",
    )
    sizes = j.groupBy("_c").agg(F.count(F.lit(1)).alias("n_records"))
    overlap = j.groupBy("_c", "_p").agg(F.count(F.lit(1)).alias("overlap"))
    w = Window.partitionBy("_c").orderBy(F.desc("overlap"), F.asc("_p"))
    best = overlap.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") == 1)
    return (
        best.join(sizes, "_c")
        .select(
            F.col("_c").alias(cluster_col),
            "n_records",
            F.col("_p").alias("best_prev"),
            "overlap",
            (F.col("overlap") / F.col("n_records")).alias("stability"),
        )
    )
