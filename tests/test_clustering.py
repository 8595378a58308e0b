"""Connected-components + group-statistics tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from resolve_spark.operators import clustering as C


def _cc_dict(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = C.connected_components(df)
    return {r["rid"]: r["cluster_id"] for r in out.collect()}


def test_cc_simple_chain(spark):
    got = _cc_dict(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == "x"


def test_cc_long_path_and_star(spark):
    # path of 20 nodes (worst case for naive propagation) + a star
    path = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(19)]
    star = [("s00", f"s{i:02d}") for i in range(1, 8)]
    got = _cc_dict(spark, path + star)
    assert all(got[f"n{i:02d}"] == "n00" for i in range(20))
    assert all(got[f"s{i:02d}"] == "s00" for i in range(8))


def test_cc_duplicate_and_reversed_edges(spark):
    got = _cc_dict(spark, [("b", "a"), ("a", "b"), ("c", "b"), ("c", "c")])
    assert got["a"] == got["b"] == got["c"] == "a"


def test_assign_clusters_singletons(spark):
    entities = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], ["rid"])
    edges = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    out = C.assign_clusters(entities, edges, "rid")
    rows = {r["rid"]: (r["cluster_id"], r["cluster_size"]) for r in out.collect()}
    assert rows["a"] == ("a", 2) and rows["b"] == ("a", 2)
    assert rows["c"] == ("c", 1) and rows["z"] == ("z", 1)


def test_hybrid_edges_two_thresholds(spark):
    edges = spark.createDataFrame(
        [("a", "b", 0.95), ("b", "c", 0.86), ("x", "y", 0.86)],
        ["id_a", "id_b", "score"],
    )
    out = C.hybrid_edges(edges, threshold=0.85)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # (b,c) touches the hi-core through b; (x,y) doesn't touch any core
    assert got == {("a", "b"), ("b", "c")}


def test_group_statistics(spark):
    entities = spark.createDataFrame(
        [("a", "Acme", "NY"), ("b", "Acme", "NY"), ("c", "Acme Inc", ""), ("z", "Zed", "CA")],
        ["rid", "name", "state"],
    )
    edges = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8)], ["id_a", "id_b", "score"]
    )
    clusters = C.assign_clusters(entities, edges, "rid")
    stats = C.group_statistics(clusters, entities, edges, "rid", ["name", "state"])
    rows = {(r["cluster_id"], r["field"]): r for r in stats.collect()}
    r = rows[("a", "name")]
    assert r["size"] == 3
    assert r["mode_value"] == "Acme"
    assert r["agreement"] == pytest.approx(2 / 3)
    assert r["avg_score"] == pytest.approx(0.85)
    assert r["confidence"] == pytest.approx(2 / 3 * 0.85)
    # empty state on c is skipped: mode NY with agreement 2/3
    assert rows[("a", "state")]["mode_value"] == "NY"
    assert rows[("a", "state")]["agreement"] == pytest.approx(2 / 3)
    # singleton cluster: avg_score defaults 1.0
    assert rows[("z", "name")]["avg_score"] == 1.0


def test_cc_matches_union_find_oracle(spark):
    """Randomized graphs: large-star/small-star output must equal a
    plain union-find ground truth."""
    import random

    rng = random.Random(1234)
    nodes = [f"n{i:03d}" for i in range(120)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    truth = {}
    for n in nodes:
        truth.setdefault(find(n), set()).add(n)
    want = {min(members): members for members in truth.values() if len(members) > 1}

    got_df = C.connected_components(
        spark.createDataFrame(edges, ["id_a", "id_b"])
    )
    got = {}
    for r in got_df.collect():
        got.setdefault(r["cluster_id"], set()).add(r["rid"])
    for root, members in got.items():
        members = members | {root}
        assert members == want[root], (root, members ^ want[root])
    assert set(got) == set(want)


def test_link_prediction_features_hand_computed(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from resolve_spark.operators.clustering import link_prediction_features

    # triangle a-b-c plus pendant c-d (and a duplicate/reversed edge)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("b", "a")],
        "id_a string, id_b string",
    )
    out = {
        (r.id_a, r.id_b): r for r in link_prediction_features(edges).collect()
    }
    assert len(out) == 4  # duplicate edge deduped
    ab = out[("a", "b")]
    # deg: a=2, b=2, c=3, d=1; common nbr of (a,b) = {c}
    assert ab.cn == 1 and ab.pref_attach == 4
    assert abs(ab.jaccard_nbrs - 1 / 3) < 1e-12  # 1/(2+2-1)
    assert abs(ab.ra - 1 / 3) < 1e-12  # 1/deg(c)
    cd = out[("c", "d")]
    assert cd.cn == 0 and cd.ra == 0.0 and cd.pref_attach == 3
    assert cd.jaccard_nbrs == 0.0


def test_cluster_stability_hand_computed(spark):
    from resolve_spark.operators.clustering import cluster_stability

    prev = spark.createDataFrame(
        [("a", "p1"), ("b", "p1"), ("c", "p2"), ("d", "p2"), ("e", "p3")],
        "id string, cluster_id string",
    )
    # c1 = {a,b,c}: stitched from p1 (2) + p2 (1) -> best p1, 2/3
    # c2 = {d,e}: p2 (1) + p3 (1) tie -> best = p2 (asc tie-break), 1/2
    curr = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c1"), ("d", "c2"), ("e", "c2")],
        "id string, cluster_id string",
    )
    got = {r.cluster_id: r for r in cluster_stability(prev, curr).collect()}
    assert got["c1"].best_prev == "p1" and got["c1"].overlap == 2
    assert abs(got["c1"].stability - 2 / 3) < 1e-12
    assert got["c2"].best_prev == "p2" and got["c2"].overlap == 1
    assert got["c2"].stability == 0.5
