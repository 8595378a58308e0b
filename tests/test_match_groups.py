"""G1 per-seed hop-limited match groups vs a pure-Python BFS oracle
mirroring the reference semantics (group.go:162-263 transitive BFS,
group.go:266-337 hybrid = direct@max(t,0.9) then hops-1 transitive).
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from resolve_spark.operators import clustering as C


def bfs_oracle(edges, seed, threshold, strategy, hops_limit, hi=0.9):
    """Reference BFS with deterministic (min-hop, max-score) tie rules."""
    adj = {}
    for a, b, s in edges:
        adj.setdefault(a, []).append((b, s))
        adj.setdefault(b, []).append((a, s))

    def expand(frontier, visited, first_hop, hops, min_score):
        for h in range(first_hop, first_hop + hops):
            nxt = {}
            for node in frontier:
                for nb, s in adj.get(node, ()):
                    if s >= min_score and nb not in visited:
                        nxt[nb] = max(nxt.get(nb, 0.0), s)
            for nb, s in nxt.items():
                visited[nb] = (h, s)
            frontier = list(nxt)
            if not frontier:
                break
        return visited

    visited = {seed: (0, 1.0)}
    if strategy == "direct":
        expand([seed], visited, 1, 1, threshold)
    elif strategy == "transitive":
        expand([seed], visited, 1, hops_limit, threshold)
    else:  # hybrid
        expand([seed], visited, 1, 1, max(threshold, hi))
        if hops_limit > 1:
            direct = [n for n, (h, _) in visited.items() if h == 1]
            expand(direct, visited, 2, hops_limit - 1, threshold)
    return visited


def random_graph(rng, n=40, m=90):
    edges = []
    seen = set()
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a == b:
            continue
        a, b = min(a, b), max(a, b)
        if (a, b) in seen:
            continue
        seen.add((a, b))
        edges.append((f"n{a:03d}", f"n{b:03d}", round(0.7 + rng.random() * 0.3, 3)))
    return edges


@pytest.mark.parametrize("strategy,hops", [
    ("direct", 3), ("transitive", 1), ("transitive", 3), ("hybrid", 3), ("hybrid", 2),
])
def test_match_groups_vs_bfs_oracle(spark, strategy, hops):
    rng = random.Random(1234 + hops)
    edges = random_graph(rng)
    seeds = sorted({e[0] for e in edges[:6]})
    edf = spark.createDataFrame(edges, ["id_a", "id_b", "score"])
    sdf = spark.createDataFrame([(s,) for s in seeds], ["seed"])
    got = C.match_groups(edf, sdf, threshold=0.8, strategy=strategy, hops_limit=hops)
    got_rows = {(r["seed"], r["rid"]): (r["hop_distance"], r["score"]) for r in got.collect()}
    want = {}
    for s in seeds:
        for node, (h, sc) in bfs_oracle(edges, s, 0.8, strategy, hops).items():
            want[(s, node)] = (h, pytest.approx(sc))
    assert set(got_rows) == set(want), set(got_rows) ^ set(want)
    for k, (h, sc) in want.items():
        assert got_rows[k][0] == h, (k, got_rows[k], h)
        assert got_rows[k][1] == sc


def test_match_groups_max_group_size(spark):
    # star graph: seed connects to 30 nodes; cap at 5 keeps seed + best 4
    edges = [("seed", f"m{i:02d}", 0.8 + i / 1000.0) for i in range(30)]
    edf = spark.createDataFrame(edges, ["id_a", "id_b", "score"])
    sdf = spark.createDataFrame([("seed",)], ["seed"])
    got = C.match_groups(edf, sdf, threshold=0.75, strategy="direct", max_group_size=5)
    rows = sorted((r["rank"], r["rid"], r["score"]) for r in got.collect())
    assert len(rows) == 5
    assert rows[0][1] == "seed"
    # highest-score members kept, deterministic order
    assert [r[1] for r in rows[1:]] == ["m29", "m28", "m27", "m26"]


def test_match_groups_unknown_strategy(spark):
    edf = spark.createDataFrame([("a", "b", 0.9)], ["id_a", "id_b", "score"])
    sdf = spark.createDataFrame([("a",)], ["seed"])
    with pytest.raises(ValueError):
        C.match_groups(edf, sdf, threshold=0.8, strategy="nope")


def _walk(edf, seed, **kw):
    return [tuple(m) for m in C.match_group(edf, seed, **kw)]


def _batch(spark, edf, seeds, **kw):
    """match_groups rows as seed -> [(rid, hop_distance, score)] in rank order."""
    sdf = spark.createDataFrame([(s,) for s in seeds], ["seed"])
    out = {s: [] for s in seeds}
    for r in sorted(C.match_groups(edf, sdf, **kw).collect(),
                    key=lambda r: (r["seed"], r["rank"])):
        out[r["seed"]].append((r["rid"], r["hop_distance"], r["score"]))
    return out


def _ranked(visited, max_group_size=100):
    """bfs_oracle's nodes in match_groups rank order, truncated."""
    rows = sorted(((h, -sc, rid) for rid, (h, sc) in visited.items()))
    return [(rid, h, pytest.approx(-neg)) for h, neg, rid in rows][:max_group_size]


@pytest.mark.parametrize("hops", [1, 2, 3])
@pytest.mark.parametrize("strategy", ["direct", "transitive", "hybrid"])
def test_match_group_vs_oracle_and_batch(spark, strategy, hops):
    """The single-seed walk returns match_groups' rows for that seed, in
    rank order, and the BFS oracle's members."""
    rng = random.Random(4321 + hops)
    edges = random_graph(rng)
    seeds = sorted({e[0] for e in edges[:4]})
    edf = spark.createDataFrame(edges, ["id_a", "id_b", "score"])
    kw = dict(threshold=0.8, strategy=strategy, hops_limit=hops)
    batch = _batch(spark, edf, seeds, **kw)
    for s in seeds:
        walk = _walk(edf, s, **kw)
        assert walk == batch[s], s
        assert walk == _ranked(bfs_oracle(edges, s, 0.8, strategy, hops)), s


def test_match_group_truncation_is_exact(spark):
    """A group that fills at hop 1 or at hop 2 stops the walk there and
    keeps exactly match_groups' first max_group_size members."""
    edges = random_graph(random.Random(99))
    edf = spark.createDataFrame(edges, ["id_a", "id_b", "score"])
    kw = dict(threshold=0.8, strategy="transitive", hops_limit=3)
    for s in sorted({e[0] for e in edges}):
        full = bfs_oracle(edges, s, 0.8, "transitive", 3)
        per_hop = Counter(h for h, _ in full.values())
        if per_hop[1] >= 2 and per_hop[2] >= 2 and per_hop[3] >= 1:
            break
    else:
        pytest.fail("fixture graph has no seed with two members at hops 1 and 2")
    fills_hop1 = per_hop[1]              # seed + all but one hop-1 member
    fills_hop2 = 1 + per_hop[1] + per_hop[2] - 1
    for size in (fills_hop1, fills_hop2):
        walk = _walk(edf, s, max_group_size=size, **kw)
        assert len(walk) == size
        assert walk == _batch(spark, edf, [s], max_group_size=size, **kw)[s]
        assert walk == _ranked(full, size)
    assert {h for _, h, _ in _walk(edf, s, max_group_size=fills_hop1, **kw)} == {0, 1}


def test_match_group_isolated_seed(spark):
    edf = spark.createDataFrame([("a", "b", 0.95)], ["id_a", "id_b", "score"])
    for strategy in ("direct", "transitive", "hybrid"):
        assert _walk(edf, "lonely", threshold=0.8, strategy=strategy) == [
            ("lonely", 0, 1.0)]
        assert _batch(spark, edf, ["lonely"], threshold=0.8,
                      strategy=strategy)["lonely"] == [("lonely", 0, 1.0)]
    with pytest.raises(ValueError):
        C.match_group(edf, "a", threshold=0.8, strategy="nope")


def test_match_group_on_reweighted_edges(spark):
    """Edges re-weighted by the API's FieldWeights expression walk the
    same as match_groups over them and as the oracle over the weights
    applied in Python (same summation order)."""
    from resolve_spark.api import _reweight_edges

    rng = random.Random(7)
    raw = []
    for a, b, _ in random_graph(rng):
        fs = {"name": round(0.5 + rng.random() * 0.5, 3),
              "zip": round(0.6 + rng.random() * 0.4, 3)}
        raw.append((a, b, 0.0, fs))
    weights = {"zip": 5.0}
    edges = [
        (a, b, (0.0 + fs["name"] * 1.0 + fs["zip"] * 5.0) / (0.0 + 1.0 + 5.0))
        for a, b, _, fs in raw
    ]
    edf = _reweight_edges(spark.createDataFrame(
        raw, "id_a string, id_b string, score double, "
             "field_scores map<string,double>"), weights)
    seeds = sorted({e[0] for e in edges[:3]})
    kw = dict(threshold=0.8, strategy="hybrid", hops_limit=3)
    batch = _batch(spark, edf, seeds, **kw)
    for s in seeds:
        walk = _walk(edf, s, **kw)
        assert walk == batch[s], s
        assert walk == _ranked(bfs_oracle(edges, s, 0.8, "hybrid", 3)), s


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    edges = [(f"x{i}", f"x{i+1}") for i in range(10)] + [("y0", "y1"), ("y1", "y2")]
    edf = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = C.connected_components(edf, checkpoint_dir=str(tmp_path / "ckpt"))
    clusters = {}
    for r in got.collect():
        clusters.setdefault(r["cluster_id"], set()).add(r["rid"])
    assert clusters["x0"] == {f"x{i}" for i in range(11)}
    assert clusters["y0"] == {"y0", "y1", "y2"}
    # reliable checkpoint files actually materialized
    ckpts = list((tmp_path / "ckpt").rglob("*"))
    assert ckpts, "no reliable checkpoint written"
