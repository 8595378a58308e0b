"""S11 REST surface (api/server.go:70-89 route parity) driven over real
HTTP with urllib against the ThreadingHTTPServer."""

from __future__ import annotations

import json
import urllib.request
from urllib.error import HTTPError

import pytest

from resolve_spark import datagen
from resolve_spark.api import ENTITY_FIELDS, ResolveEngine, serve


def _req(base, method, path, payload=None):
    data = json.dumps(payload).encode() if payload is not None else None
    req = urllib.request.Request(f"{base}{path}", data=data, method=method,
                                 headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    engine = ResolveEngine(spark, str(tmp_path_factory.mktemp("api") / "store"),
                           n_buckets=4)
    server = serve(engine)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def test_full_entity_lifecycle_over_http(api):
    # health before any data
    code, health = _req(api, "GET", "/health")
    assert code == 200 and health["status"] == "ok"

    # batch add the reference-shaped fixtures
    ents = [
        {"id": rid, **{k: v for k, v in zip(
            ("name", "address", "city", "state", "zip", "phone", "email"),
            fields)}, "metadata": {"src": src}}
        for rid, *fields, src, _typ in datagen.ENTITY_ROWS
    ]
    code, resp = _req(api, "POST", "/entities/batch", {"entities": ents})
    assert code == 201 and resp["count"] == len(ents)

    code, resp = _req(api, "GET", "/entities/count")
    assert resp["count"] == len(ents)

    # point read round-trips fields + metadata
    code, e1 = _req(api, "GET", "/entities/e-001")
    assert code == 200 and e1["name"] == ents[0]["name"]
    assert e1["metadata"] == ents[0]["metadata"]
    assert len(e1["vector"]) == 16  # mock embedding computed server-side

    # single add + update + delete
    code, resp = _req(api, "POST", "/entities", {
        "id": "e-x", "name": "Temp Co", "zip": "00001",
        "vector": [0.5] * 16})
    assert code == 201 and resp["id"] == "e-x"
    code, ex0 = _req(api, "GET", "/entities/e-x")
    assert ex0["created_at"] > 0 and ex0["updated_at"] >= ex0["created_at"]
    code, resp = _req(api, "PUT", "/entities/e-x",
                      {"name": "Temp Company", "updated_at": 1})
    assert resp["status"] == "updated"
    code, ex = _req(api, "GET", "/entities/e-x")
    assert ex["name"] == "Temp Company" and ex["zip"] == "00001"  # merge kept zip
    # timestamps: created_at preserved, updated_at bumped (not the stale 1)
    assert ex["created_at"] == ex0["created_at"]
    assert ex["updated_at"] >= ex0["updated_at"]
    # client-supplied vector survives a partial PUT (no silent re-embed)
    assert ex["vector"] == [0.5] * 16
    code, resp = _req(api, "DELETE", "/entities/e-x")
    assert resp["status"] == "deleted"
    with pytest.raises(HTTPError) as err:
        _req(api, "GET", "/entities/e-x")
    assert err.value.code == 404


def test_match_routes_over_http(api):
    # structured match: the planted duplicate pair must be the top hits
    code, resp = _req(api, "POST", "/match", {
        "entity": {"name": "Vertex Analytics", "address": "742 Birch Street",
                   "city": "Springfield", "state": "IL", "zip": "62704"},
        "threshold": 0.5,
    })
    assert code == 200 and resp["count"] >= 2
    top_ids = [m["id"] for m in resp["matches"][:2]]
    assert set(top_ids) == {"e-001", "e-002"}
    assert "explanation" in resp["matches"][0]

    # text match (M6 parse + M1)
    code, resp = _req(api, "POST", "/match/text", {
        "text": "name=Vertex Analytics; city=Springfield", "threshold": 0.5})
    assert code == 200
    assert {m["id"] for m in resp["matches"][:2]} == {"e-001", "e-002"}

    # the default (ANN candidates), clustered, and exhaustive paths agree
    # on the planted pair
    for extra in ({"use_clustering": True}, {"exhaustive": True}):
        code, r2 = _req(api, "POST", "/match", {
            "entity": {"name": "Vertex Analytics", "zip": "62704"},
            "threshold": 0.5, **extra})
        assert {m["id"] for m in r2["matches"][:2]} == {"e-001", "e-002"}, extra

    # missing text -> 400 like the reference
    with pytest.raises(HTTPError) as err:
        _req(api, "POST", "/match/text", {"threshold": 0.5})
    assert err.value.code == 400


def test_group_and_recompute_over_http(api):
    code, resp = _req(api, "POST", "/clusters/recompute")
    assert code == 200 and resp["status"] == "recomputed"

    code, grp = _req(api, "GET",
                     "/entities/e-001/group?strategy=hybrid&threshold=0.5")
    assert code == 200
    assert grp["primary_id"] == "e-001" and grp["size"] >= 2
    ids = {e["id"] for e in grp["entities"]}
    assert {"e-001", "e-002"} <= ids
    hops = {e["id"]: e["hop_distance"] for e in grp["entities"]}
    assert hops["e-001"] == 0 and hops["e-002"] >= 1

    # sample_fields (MatchGroup.SampleFields, group.go:358-403): modal
    # value, agreement = mode count / size, confidence = agreement * score
    sf = grp["sample_fields"]
    assert sf, "group response must carry sample_fields"
    # hand-recompute the mode from the members' stored records
    cities = []
    for e in grp["entities"]:
        _, rec = _req(api, "GET", f"/entities/{e['id']}")
        if rec.get("city"):
            cities.append(rec["city"])
    from collections import Counter
    value, cnt = sorted(Counter(cities).items(), key=lambda kv: (-kv[1], kv[0]))[0]
    city = sf["city"]
    assert city["value"] == value
    assert city["agreement"] == pytest.approx(cnt / grp["size"])
    assert city["confidence"] == pytest.approx(city["agreement"] * grp["score"])

    # POST body options variant
    code, grp2 = _req(api, "POST", "/entities/e-001/group",
                      {"strategy": "direct", "threshold": 0.5, "max_size": 5})
    assert code == 200 and grp2["size"] <= 5

    with pytest.raises(HTTPError) as err:
        _req(api, "GET", "/entities/nope/group")
    assert err.value.code == 404


def test_default_match_plan_is_indexed_scan(spark, tmp_path):
    """The default (ANN) match is one store scan filtered on the query's
    signature literals: no join of any kind (so no cartesian product),
    and every Python UDF runs above the top-k limit, on the candidates,
    never over the store scan (no per-request hashing of the store)."""
    eng = ResolveEngine(spark, str(tmp_path / "store"), n_buckets=4)
    eng.add_entities([
        {"id": f"e{i}", "name": f"Entity {i}", "zip": f"{10000+i}"}
        for i in range(10)
    ])
    q = eng._match_query({"entity": {"name": "Entity 3", "zip": "10003"},
                          "limit": 5, "threshold": 0.1})
    out = eng._match_frame(q, eng.store.read())
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    assert not [ln for ln in lines if "Join" in ln or "Cartesian" in ln], plan
    # a join-free plan prints root first, scan last
    scan = max(i for i, ln in enumerate(lines) if "Scan parquet" in ln)
    limit = max(i for i, ln in enumerate(lines) if "GlobalLimit" in ln)
    udfs = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    assert udfs and max(udfs) < limit < scan, plan
    assert "_s0" in lines[scan] and "PushedFilters" in lines[scan], plan
    assert [r["id"] for r in out.collect()][0] == "e3"


def test_match_force_exact_fields_over_http(api):
    """ForceExactMatchFields (match.go:56, :312-318): listed fields score
    with the exact kernel, overriding the inferred fuzzy kernel. Since
    the headline score is the vector score unless FieldWeights are
    supplied (match.go:229-235, :378-384), the forced-exact effect on
    the SCORE shows through the blend — so these cases pass weights."""
    # name off by one char; weights trigger the (vec+weighted)/2 blend
    ent = {"name": "Vertex Analytic", "zip": "62704"}
    fw = {"name": 1.0}
    code, fuzzy = _req(api, "POST", "/match", {
        "entity": ent, "threshold": 0.8, "field_weights": fw})
    assert code == 200 and "e-001" in {m["id"] for m in fuzzy["matches"]}
    # field_scores expose the kernel swap even without weights
    code, forced_nw = _req(api, "POST", "/match", {
        "entity": ent, "threshold": 0.8, "force_exact_match_fields": ["name"]})
    for m in forced_nw["matches"]:
        assert m["field_scores"]["name"] in (0.0, 1.0)

    code, forced = _req(api, "POST", "/match", {
        "entity": ent, "threshold": 0.8, "field_weights": fw,
        "force_exact_match_fields": ["name"]})
    assert code == 200
    forced_ids = {m["id"] for m in forced["matches"]}
    # exact name mismatch: weighted = (0 + 1.0)/2, blend ~0.75 < 0.8
    assert "e-001" not in forced_ids

    # a verbatim-name query still passes under force_exact — and ONLY
    # for the entity whose stored name is byte-identical (e-002;
    # e-001 is "Vertex Analytics Inc.")
    code, same = _req(api, "POST", "/match", {
        "entity": {"name": "Vertex Analytics", "zip": "62704"},
        "threshold": 0.8, "field_weights": fw,
        "force_exact_match_fields": ["name"]})
    same_ids = {m["id"] for m in same["matches"]}
    assert "e-002" in same_ids and "e-001" not in same_ids


def _mock_vec16(text: str) -> list[float]:
    """Test-side replica of the mock embedding (embed.go:233-242)."""
    import numpy as np
    raw = text.encode("utf-8")[:16]
    v = np.zeros(16, dtype=np.float32)
    v[: len(raw)] = np.frombuffer(raw, dtype=np.uint8).astype(np.float32) / 255.0
    return [float(x) for x in v]


def _cos(a, b) -> float:
    import math
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return 0.0 if na == 0 or nb == 0 else dot / (na * nb)


def test_match_score_vector_parity(api):
    """Reference score semantics (match.go:229-235, :378-384): with no
    FieldWeights the returned score IS the cosine similarity between the
    query and stored vectors; with FieldWeights it is the hand-computable
    (vec + weighted)/2 blend.

    The query is chosen so the vector score, the weighted field score,
    and the blend are pairwise DISTINGUISHABLE against e-002 — its first
    16 bytes of combined text ("Vertex Analytiks") differ from e-002's
    ("Vertex Analytics"), its zip mismatches (zip field score 0), so
    vec is near-1 while weighted is far below it. The previous version
    of this test used a query whose mock vector equalled e-002's
    exactly (vec == weighted == blend == 1.0) and could not detect a
    dropped blend_with_vector flag."""
    ent = {"name": "Vertex Analytiks", "zip": "99999"}
    # query combined text: concat_ws over all 7 fields (5 empty)
    q_combined = "Vertex Analytiks    99999  "
    qvec = _mock_vec16(q_combined)
    _, stored = _req(api, "GET", "/entities/e-002")
    expected_vec = _cos(qvec, stored["vector"])

    code, resp = _req(api, "POST", "/match", {"entity": ent, "threshold": 0.5})
    m = {r["id"]: r for r in resp["matches"]}
    assert "e-002" in m
    fs0 = m["e-002"]["field_scores"]
    weighted0 = (fs0["name"] + fs0["zip"]) / 2.0
    blend0 = (expected_vec + weighted0) / 2.0
    # non-vacuity guard: a blend returned in place of the vector score
    # MUST be detectable by the assertion below
    assert abs(expected_vec - blend0) > 0.05
    assert m["e-002"]["score"] == pytest.approx(expected_vec, rel=1e-5)

    fw = {"name": 2.0}
    code, resp2 = _req(api, "POST", "/match", {
        "entity": ent, "threshold": 0.5, "field_weights": fw})
    r = next(x for x in resp2["matches"] if x["id"] == "e-002")
    fs = r["field_scores"]
    weighted = (2.0 * fs["name"] + 1.0 * fs["zip"]) / 3.0
    assert abs(expected_vec - (expected_vec + weighted) / 2) > 0.05
    assert r["score"] == pytest.approx((expected_vec + weighted) / 2, rel=1e-5)


def test_match_threshold_on_vector_route(api):
    """threshold_on='vector' (match.go:237-240): with FieldWeights and a
    threshold BETWEEN the blended score and the vector score, the
    default (final) thresholding drops e-002 while the reference's
    vector thresholding keeps it — returned score still the blend."""
    ent = {"name": "Vertex Analytiks", "zip": "99999"}
    qvec = _mock_vec16("Vertex Analytiks    99999  ")
    _, stored = _req(api, "GET", "/entities/e-002")
    vec = _cos(qvec, stored["vector"])
    req = {"entity": ent, "field_weights": {"name": 2.0}}

    # place the threshold strictly between blend and vec
    _, probe = _req(api, "POST", "/match", {**req, "threshold": 0.1})
    blend = next(x for x in probe["matches"] if x["id"] == "e-002")["score"]
    assert blend < vec - 0.05
    thr = (blend + vec) / 2

    _, on_final = _req(api, "POST", "/match", {**req, "threshold": thr})
    assert "e-002" not in {m["id"] for m in on_final["matches"]}

    _, on_vec = _req(api, "POST", "/match", {
        **req, "threshold": thr, "threshold_on": "vector"})
    kept = {m["id"]: m["score"] for m in on_vec["matches"]}
    assert kept.get("e-002") == pytest.approx(blend, rel=1e-5)

    with pytest.raises(HTTPError) as err:
        _req(api, "POST", "/match", {**req, "threshold_on": "nope"})
    assert err.value.code == 400


def test_put_reembeds_engine_vector_but_preserves_client_vector(api):
    """A field update must refresh an ENGINE-computed (mock) embedding —
    freezing it would leave a stale vector that hides the entity from
    the ANN match path — while a CLIENT-supplied vector must survive
    a vector-less PUT untouched."""
    # engine-embedded entity: vector follows the fields
    _req(api, "POST", "/entities", {"id": "e-emb", "name": "Acme Corp"})
    code, before = _req(api, "GET", "/entities/e-emb")
    _req(api, "PUT", "/entities/e-emb", {"name": "Zenith Widgets"})
    code, after = _req(api, "GET", "/entities/e-emb")
    assert after["vector"] != before["vector"], "stale mock embedding kept"

    # client-vectored entity: vector survives a field-only PUT
    _req(api, "POST", "/entities", {"id": "e-cli", "name": "Acme Corp",
                                    "vector": [0.25] * 16})
    _req(api, "PUT", "/entities/e-cli", {"name": "Zenith Widgets"})
    code, cli = _req(api, "GET", "/entities/e-cli")
    assert cli["vector"] == [0.25] * 16
    for rid in ("e-emb", "e-cli"):
        _req(api, "DELETE", f"/entities/{rid}")


def test_empty_store_after_full_deletion(spark, tmp_path_factory):
    """Deleting every entity must leave a working engine (count 0,
    404 point reads, empty matches) — not 500s from reading a
    parquet-less store dir. A fresh engine on the same path must also
    recover (re-init instead of failing)."""
    engine = ResolveEngine(
        spark, str(tmp_path_factory.mktemp("apidel") / "store"), n_buckets=2)
    engine.add_entities([{"id": "a", "name": "Solo Entity", "zip": "11111"}])
    assert engine.count() == 1
    engine.delete_entity("a")
    assert engine.count() == 0
    assert engine.get_entity("a") is None
    assert engine.match_entity({"entity": {"name": "Solo Entity"}}) == []
    # the same engine adds again: its store is re-initialized, not
    # upserted into a parquet-less dir
    engine.add_entities([{"id": "c", "name": "Same Engine", "zip": "33333"}])
    assert engine.count() == 1 and engine.get_entity("c")["name"]
    engine.delete_entity("c")
    # restart on the same (emptied) path: add must re-init, not 500
    engine2 = ResolveEngine(spark, engine.store.path, n_buckets=2)
    engine2.add_entities([{"id": "b", "name": "Back Again", "zip": "22222"}])
    assert engine2.count() == 1 and engine2.get_entity("b")["name"]


@pytest.fixture(scope="module")
def small_engine(spark, tmp_path_factory):
    """An engine over a small synth_entities store (half the bases have
    a stored variant), plus a seed whose group has members."""
    rows = datagen.synth_entities(spark, n_base=60, dup_rate=0.5).collect()
    engine = ResolveEngine(
        spark, str(tmp_path_factory.mktemp("apijobs") / "store"), n_buckets=4)
    engine.add_entities([
        {"id": r.id, **{f: getattr(r, f) for f in ENTITY_FIELDS}} for r in rows])
    top = max(engine.recompute().collect(), key=lambda r: (r.score, r.id_a))
    return engine, top.id_a


def test_entity_api_job_counts(small_engine, job_count):
    """Warm requests run a handful of Spark jobs: a point read is one
    job; a match one store scan (the query is prepared on the driver);
    a cached group one per walk hop plus the seed read and one read of
    the other members; an update one point read, and no inference,
    bucket-listing or join job."""
    engine, seed = small_engine
    engine.count()  # first read of the store infers its scan schema
    got, jobs = job_count(lambda: engine.get_entity(seed))
    assert got["id"] == seed and jobs == 1

    entity = {f: got[f] for f in ENTITY_FIELDS}
    for route in ({"use_clustering": True}, {}):
        req = {"entity": entity, "threshold": 0.5, **route}
        engine.match_entity(req)
        rows, jobs = job_count(lambda: engine.match_entity(req))
        assert seed in {r["id"] for r in rows} and jobs <= 2, (route, jobs)

    opts = {"strategy": "hybrid", "hops_limit": 3}
    engine.match_group(seed, opts)
    grp, jobs = job_count(lambda: engine.match_group(seed, opts))
    assert grp["size"] >= 2 and jobs <= 4, jobs

    _, jobs = job_count(lambda: engine.update_entity(seed, {"city": "Jobtown"}))
    assert jobs <= 4, jobs
    assert engine.get_entity(seed)["city"] == "Jobtown"


def test_subfloor_group_scores_once(small_engine, job_count, monkeypatch):
    """A sub-floor threshold re-scores the store once per request, not
    once per walk hop: the walk gets persisted edges, released after the
    request, and the request runs no more jobs than a recompute plus a
    cached group."""
    from resolve_spark.operators import clustering as C

    engine, seed = small_engine
    opts = {"strategy": "hybrid", "hops_limit": 3}
    _, recompute_jobs = job_count(engine.recompute)
    _, cached_jobs = job_count(lambda: engine.match_group(seed, opts))

    walked = []
    walk = C.match_group

    def spy(edges, *args, **kw):
        walked.append((edges, edges.is_cached))
        return walk(edges, *args, **kw)

    monkeypatch.setattr(C, "match_group", spy)
    sub, sub_jobs = job_count(
        lambda: engine.match_group(seed, dict(opts, threshold=0.3)))
    assert sub["size"] >= 2
    [(edges, cached_during_walk)] = walked
    assert cached_during_walk and not edges.is_cached
    assert sub_jobs <= recompute_jobs + cached_jobs, (
        sub_jobs, recompute_jobs, cached_jobs)


def test_group_field_weights_and_threshold_override(spark, tmp_path_factory):
    """MatchGroupOptions parity (group.go:26-40): ThresholdOverride may
    go BELOW the match default (edges cached down to MIN_EDGE_THRESHOLD,
    not 0.85), and FieldWeights re-weight membership from the stored
    field_scores without a re-scoring pass (computeWeightedScore,
    match.go:470-492)."""
    engine = ResolveEngine(
        spark, str(tmp_path_factory.mktemp("apigw") / "store"), n_buckets=2)
    # shared canopy (name[:3] + zip); name sim ~0.6, empty fields 1.0,
    # default blended pair score ~0.84 — between the 0.5 edge floor and
    # the 0.85 default group threshold
    engine.add_entities([
        {"id": "g1", "name": "Orion Dynamics", "zip": "62704"},
        {"id": "g2", "name": "Orion Dynamical Systems Group", "zip": "62704"},
    ])
    hi = engine.match_group("g1", {"strategy": "direct"})
    assert {e["id"] for e in hi["entities"]} == {"g1"}
    # ThresholdOverride below the default sees the weaker edge
    lo = engine.match_group("g1", {"strategy": "direct", "threshold": 0.6})
    assert {e["id"] for e in lo["entities"]} == {"g1", "g2"}

    # zip-dominated weights lift the pair ((50*1 + 5*1 + 0.6)/56 ~ 0.99)
    # above even the DEFAULT threshold...
    zw = engine.match_group("g1", {
        "strategy": "direct", "field_weights": {"zip": 50.0}})
    assert {e["id"] for e in zw["entities"]} == {"g1", "g2"}
    # ...name-dominated weights drag it to (50*0.6 + 6*1)/56 ~ 0.64,
    # below a 0.7 override that default weights (~0.84) would pass
    nw = engine.match_group("g1", {
        "strategy": "direct", "threshold": 0.7,
        "field_weights": {"name": 50.0}})
    assert {e["id"] for e in nw["entities"]} == {"g1"}
    dflt = engine.match_group("g1", {"strategy": "direct", "threshold": 0.7})
    assert {e["id"] for e in dflt["entities"]} == {"g1", "g2"}

    # sub-floor overrides (group.go:38 accepts ANY positive threshold)
    # are served by the on-demand re-score slow path and must return the
    # same members a fresh full re-score at that threshold returns
    sub = engine.match_group("g1", {"strategy": "direct", "threshold": 0.3})
    fresh = {
        (r["id_a"], r["id_b"])
        for r in engine._score_edges(0.3).collect()
        if r["score"] >= 0.3 and "g1" in (r["id_a"], r["id_b"])
    }
    expect = {"g1"} | {x for pair in fresh for x in pair}
    assert {e["id"] for e in sub["entities"]} == expect
    assert {"g1", "g2"} <= {e["id"] for e in sub["entities"]}


def test_group_reweight_resurrects_subfloor_pair(spark, tmp_path_factory):
    """A pair whose DEFAULT-weighted score is under the 0.5 edge floor
    but whose max field score reaches it must stay in the cache (pruning
    on max(field_scores) — an upper bound valid under any weights), so
    per-request FieldWeights can resurrect it (group.go:32)."""
    engine = ResolveEngine(
        spark, str(tmp_path_factory.mktemp("apirw") / "store"), n_buckets=2)
    # same canopy (name prefix + zip); zip identical, everything else
    # mismatched -> default-weighted score sinks below 0.5
    engine.add_entities([
        {"id": "r1", "name": "Quartz Mining", "address": "1 Alpha Road",
         "city": "Springfield", "phone": "555-0101",
         "email": "ops@quartz.example.com", "zip": "73301"},
        {"id": "r2", "name": "Quartz Mineral Exchange Partners Worldwide",
         "address": "99 Omega Boulevard", "city": "Shelbyville",
         "phone": "555-9999", "email": "info@qmx.example.org",
         "zip": "73301"},
    ])
    edges = engine.recompute().collect()
    pair = [r for r in edges if {r["id_a"], r["id_b"]} == {"r1", "r2"}]
    assert pair, "pair must survive max-based pruning"
    assert pair[0]["score"] < 0.5, "fixture must sit below the default floor"
    # default weights: not a group member even at the floor
    base = engine.match_group("r1", {"strategy": "direct", "threshold": 0.5})
    assert {e["id"] for e in base["entities"]} == {"r1"}
    # zip-dominated weights resurrect the pair
    zw = engine.match_group("r1", {
        "strategy": "direct", "threshold": 0.5,
        "field_weights": {"zip": 100.0}})
    assert {e["id"] for e in zw["entities"]} == {"r1", "r2"}


def test_group_field_weights_as_query_param(api):
    """GET /entities/{id}/group?field_weights=<json> must JSON-decode
    the string (a raw dict repr previously 500'd), and a malformed value
    must 400 without triggering an edge recompute."""
    import urllib.parse
    fw = urllib.parse.quote(json.dumps({"zip": 5.0}))
    code, grp = _req(
        api, "GET",
        f"/entities/e-001/group?threshold=0.5&field_weights={fw}")
    assert code == 200 and grp["size"] >= 1

    with pytest.raises(HTTPError) as err:
        _req(api, "GET", "/entities/e-001/group?field_weights=notjson")
    assert err.value.code == 400


def test_match_field_weights_validation(api):
    """POST /match with malformed field_weights must 400 (the same
    validation the group route applies), not 500 on .items()."""
    with pytest.raises(HTTPError) as err:
        _req(api, "POST", "/match", {
            "entity": {"name": "Vertex Analytics"},
            "field_weights": "notjson"})
    assert err.value.code == 400
    # a JSON-string value (what a query-param-style client sends) works
    code, resp = _req(api, "POST", "/match", {
        "entity": {"name": "Vertex Analytics", "zip": "62704"},
        "threshold": 0.5, "field_weights": json.dumps({"name": 2.0})})
    assert code == 200 and resp["count"] >= 1


def test_concurrent_matches_share_engine_with_put(api):
    """Reader-writer split: concurrent match requests proceed in
    parallel (shared read lock) while an interleaved PUT (exclusive)
    serializes against them — every response must still be correct.
    The test adds the pair it matches, so it passes alone and in any
    order."""
    from concurrent.futures import ThreadPoolExecutor

    pair = ("e-conc-1", "e-conc-2")
    for rid, street in zip(pair, ("12 Kestrel Way", "12 Kestrel Wy")):
        _req(api, "POST", "/entities", {
            "id": rid, "name": "Halcyon Freight Partners",
            "address": street, "zip": "90001"})
    _req(api, "POST", "/entities", {
        "id": "e-conc", "name": "Concurrent Test Co", "zip": "90210"})

    def do_match(i):
        code, resp = _req(api, "POST", "/match", {
            "entity": {"name": "Halcyon Freight Partners", "zip": "90001"},
            "threshold": 0.5, **({"use_clustering": True} if i % 2 else {})})
        assert code == 200
        return {m["id"] for m in resp["matches"][:2]}

    def do_put(_):
        code, resp = _req(api, "PUT", "/entities/e-conc",
                          {"name": "Concurrent Test Company"})
        assert code == 200
        return "put"

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(do_match, i) for i in range(6)]
        futures.insert(3, pool.submit(do_put, 0))
        results = [f.result(timeout=300) for f in futures]
    for r in results:
        if r != "put":
            assert r == set(pair)
    _, after = _req(api, "GET", "/entities/e-conc")
    assert after["name"] == "Concurrent Test Company"
    for rid in ("e-conc", *pair):
        _req(api, "DELETE", f"/entities/{rid}")


# -- the indexed routes against the query-set operators --------------------

#: the request options the differential tests cycle through
_OPTION_MIX = (
    {},
    {"field_weights": {"name": 2.0, "address": 1.0}},
    {"field_weights": {"name": 2.0}, "threshold_on": "vector", "threshold": 0.8},
    {"limit": 2, "threshold": 0.5},
)


@pytest.fixture(scope="module")
def held_out(spark, tmp_path_factory):
    """A store shaped like the resolve_api benchmark's: synth_entities
    with half the bases varied (about 650 rows stored), 100 variants
    held out as queries; the queries also as the engine prepares them
    (added to a store of their own and read back)."""
    import random

    rows = sorted(datagen.synth_entities(spark, n_base=500, dup_rate=0.5)
                  .collect(), key=lambda r: r.id)
    held = random.Random(1301).sample([r for r in rows if r.is_variant], 100)
    held_ids = {r.id for r in held}
    base = tmp_path_factory.mktemp("apiheld")
    engine = ResolveEngine(spark, str(base / "store"))
    engine.add_entities([{"id": r.id, **{f: getattr(r, f) for f in ENTITY_FIELDS}}
                         for r in rows if r.id not in held_ids])
    qeng = ResolveEngine(spark, str(base / "queries"))
    qeng.add_entities([{"id": r.id, **{f: getattr(r, f) for f in ENTITY_FIELDS}}
                       for r in held])
    queries = qeng.store.read().withColumnRenamed("id", "query_id").persist()
    yield engine, held, queries
    queries.unpersist()


def _reference_rows(engine, held, queries, route_opts: dict, candidates) -> dict:
    """{query id: match rows} from ``find_matches`` over the query set, one
    call per request option set, each query under ``route_opts`` plus
    its option set from ``_OPTION_MIX``."""
    from pyspark.sql import functions as F
    from resolve_spark.operators.matching import find_matches
    from resolve_spark.operators.scoring import specs_from_options

    store = engine.store.read()
    out = {}
    for k, extra in enumerate(_OPTION_MIX):
        ids = [r.id for i, r in enumerate(held) if i % len(_OPTION_MIX) == k]
        opts = engine._match_opts(dict(route_opts, **extra))
        specs = specs_from_options(
            list(ENTITY_FIELDS), None, None, opts["field_weights"])
        res = find_matches(
            queries.where(F.col("query_id").isin(ids)), store, specs,
            entity_id="id",
            block_key="block_key" if candidates is None else None,
            candidates=candidates, limit=opts["limit"],
            threshold=opts["threshold"], vector_col="vector",
            blend_with_vector=bool(opts["field_weights"]),
            threshold_on=opts["threshold_on"],
        ).collect()
        for r in res:
            d = r.asDict(recursive=True)
            out.setdefault(d.pop("query_id"), []).append(
                dict(d, id=d.pop("match_id")))
    return {q: sorted(rows, key=lambda d: d["rank"]) for q, rows in out.items()}


def _route_rows(engine, held, route_opts: dict) -> dict:
    """{query id: match rows} from one request per held-out variant, sent
    by 4 concurrent clients (matches share the engine's read lock)."""
    from concurrent.futures import ThreadPoolExecutor

    def send(i):
        r = held[i]
        return r.id, engine.match_entity({
            "entity": {f: getattr(r, f) for f in ENTITY_FIELDS},
            **route_opts, **_OPTION_MIX[i % len(_OPTION_MIX)]})

    with ThreadPoolExecutor(max_workers=4) as pool:
        return {qid: rows for qid, rows in pool.map(send, range(len(held))) if rows}


def test_default_route_equals_lsh_topk_then_find_matches(held_out):
    """The default route's rows equal the query-set plan it replaced:
    ``lsh_topk`` candidates (k=30, planes=8, tables=8) re-scored by
    ``find_matches``, for all 100 held-out variants across the option
    mix."""
    from pyspark.sql import functions as F
    from resolve_spark.operators.ann import lsh_topk

    engine, held, queries = held_out
    cand = lsh_topk(
        queries.select("query_id", F.col("vector").alias("embedding")),
        engine.store.read().select(F.col("id").alias("cand_id"),
                                   F.col("vector").alias("embedding")),
        k=30, planes=8, tables=8,
    ).select(F.col("query_id").alias("id_a"),
             F.col("cand_id").alias("id_b")).persist()
    want = _reference_rows(engine, held, queries, {}, cand)
    cand.unpersist()
    got = _route_rows(engine, held, {})
    assert sum(map(len, want.values())) >= 100
    assert got == want


def test_blocked_route_equals_find_matches(held_out):
    """The blocked route's rows equal ``find_matches(block_key=
    "block_key")`` over the query set, for all 100 held-out variants
    across the option mix."""
    engine, held, queries = held_out
    want = _reference_rows(engine, held, queries, {"use_clustering": True}, None)
    got = _route_rows(engine, held, {"use_clustering": True})
    assert sum(map(len, want.values())) >= 100
    assert got == want


def test_driver_vectors_and_signatures_equal_the_udfs(held_out, spark):
    """The store's driver-computed mock embeddings equal
    ``mock_embedding_udf``'s, and its signature columns equal
    ``signature_udf``'s over the stored vectors, for every stored row and
    every held-out query."""
    from pyspark.sql import functions as F
    from resolve_spark.api import ANN_PLANES, ANN_SEED, SIG_COLS
    from resolve_spark.functions.embedding import mock_embedding_udf
    from resolve_spark.operators.ann import signature_udf

    engine, held, queries = held_out
    for df, id_col in ((engine.store.read(), "id"), (queries, "query_id")):
        combined = F.concat_ws(" ", *[F.col(f) for f in ENTITY_FIELDS])
        rows = df.select(
            id_col, "vector", *SIG_COLS,
            mock_embedding_udf(16)(combined).alias("udf_vec"),
            *[signature_udf(ANN_PLANES, ANN_SEED + 101 * t)(F.col("vector"))
              .alias(f"udf{t}") for t in range(len(SIG_COLS))],
        ).collect()
        assert len(rows) >= 100
        for r in rows:
            assert list(r.vector) == list(r.udf_vec), r[id_col]
            assert [r[c] for c in SIG_COLS] == [
                r[f"udf{t}"] for t in range(len(SIG_COLS))], r[id_col]


def test_store_without_signatures_is_signed_on_first_match(spark, tmp_path):
    """A store written without the signature columns gets them, once, on
    an engine's first match; the match is then served from them."""
    from resolve_spark.api import SIG_COLS

    eng = ResolveEngine(spark, str(tmp_path / "store"), n_buckets=2)
    eng.add_entities([{"id": "a", "name": "Orion Dynamics", "zip": "62704"},
                      {"id": "b", "name": "Zenith Widgets", "zip": "10001"}])
    signed = {r.id: [r[c] for c in SIG_COLS] for r in eng.store.read().collect()}
    eng.store.init(eng.store.read().drop(*SIG_COLS).localCheckpoint(eager=True))
    assert not set(SIG_COLS) & set(eng.store.read().columns)

    reopened = ResolveEngine(spark, eng.store.path, n_buckets=2)
    got = reopened.match_entity({"entity": {"name": "Orion Dynamics", "zip": "62704"}})
    assert got[0]["id"] == "a"
    rows = reopened.store.read().collect()
    assert {r.id: [r[c] for c in SIG_COLS] for r in rows} == signed
