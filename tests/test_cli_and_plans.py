"""CLI verbs (S12) + physical-plan hygiene assertions."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from resolve_spark.sources import tables as T


def _run_cli(*argv: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-m", "resolve_spark", *argv, "--master", "local[4]"],
        capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.slow
def test_cli_resolve_and_group(spark, tmp_path):
    from resolve_spark import datagen
    files = datagen.with_record_id(datagen.synth_files(spark, n_base=300, dup_rate=0.3))
    inp = str(tmp_path / "files")
    files.write.parquet(inp)
    out = str(tmp_path / "out")
    res = _run_cli("resolve", "--input", inp, "--out", out)
    assert res["clusters"] == files.count()
    assert res["pairs_generated"] > 0

    edges = spark.read.parquet(f"{out}/edges")
    seed = edges.limit(1).collect()[0]["id_a"]
    grp = _run_cli("group", "--edges", f"{out}/edges", "--id", seed)
    assert grp["seed"] == seed and len(grp["members"]) >= 1
    # G1 parity: the seed itself is member hop 0 / score 1.0
    # (group.go:72-74), and strategies/hops dispatch from the CLI
    # (cmd/resolve/main.go:52-54)
    assert grp["members"][0] == [seed, 1.0, 0]
    hyb = _run_cli("group", "--edges", f"{out}/edges", "--id", seed,
                   "--group-strategy", "hybrid", "--group-hops", "3")
    assert hyb["strategy"] == "hybrid"
    assert hyb["members"][0] == [seed, 1.0, 0]

    store = str(tmp_path / "store")
    ing = _run_cli("ingest", "--input", inp, "--store", store)
    assert ing["ingested"] == files.count()
    rec = _run_cli("recompute-clusters", "--store", store, "--out", str(tmp_path / "re"))
    assert rec["recomputed"] == files.count()


def test_point_lookup_pushes_filter(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = T.get_entity(d, "doc_id", 42)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "EqualTo(doc_id,42)" in plan.replace(" ", "").replace("\n", "") or \
        "IsNotNull(doc_id)" in plan


def test_scan_prunes_columns(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        d.select("doc_id").limit(5)._jdf.queryExecution().executedPlan().toString()
    )
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_blocked_join_is_whole_stage_codegen(spark):
    from resolve_spark.functions import similarity as S
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = d.selectExpr("doc_id as id_a", "text as ta", "lang")
    b = d.selectExpr("doc_id as id_b", "text as tb", "lang")
    scored = (
        a.join(b, "lang").where(F.col("id_a") < F.col("id_b"))
        .select(S.levenshtein_similarity(F.col("ta"), F.col("tb")).alias("s"))
    )
    plan = scored._jdf.queryExecution().executedPlan().toString()
    # AQE reports isFinalPlan=false pre-execution, hiding codegen spans;
    # assert the properties that matter: broadcast join + pushdown, and
    # codegen on the final executed plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull" in plan
    scored.collect()
    final = scored._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen spans in the final plan
    assert "*(" in final and "isFinalPlan=true" in final


@pytest.mark.slow
def test_cli_ingest_then_match_files_config(spark, tmp_path):
    """The match verb must work with the default --config files (no
    canopy): ingest derives block_key from the multi-pass keys, match
    uses the same fallback on both sides."""
    from resolve_spark import datagen
    files = datagen.with_record_id(datagen.synth_files(spark, n_base=200, dup_rate=0.3))
    inp = str(tmp_path / "files")
    files.where(~F.col("is_variant")).write.parquet(inp)
    qs = str(tmp_path / "queries")
    files.where(F.col("is_variant")).limit(20).write.parquet(qs)

    store = str(tmp_path / "store")
    _run_cli("ingest", "--input", inp, "--store", store)
    out = str(tmp_path / "match_out")
    res = _run_cli("match", "--input", qs, "--store", store,
                   "--out", out, "--threshold", "0.7")
    assert res["matches"] > 0
    got = spark.read.parquet(out)
    assert {"query_id", "match_id", "score", "rank"} <= set(got.columns)

    # --unique: the one-to-one constraint holds and only prunes rows
    uout = str(tmp_path / "match_unique")
    ures = _run_cli("match", "--input", qs, "--store", store,
                    "--out", uout, "--threshold", "0.7", "--unique")
    assert ures["unique"] is True
    uniq = spark.read.parquet(uout).collect()
    assert 0 < len(uniq) <= res["matches"]
    assert len({r["query_id"] for r in uniq}) == len(uniq)
    assert len({r["match_id"] for r in uniq}) == len(uniq)
    # re-ranked under the constraint: one row per query, always rank 1
    assert all(r["rank"] == 1 for r in uniq)
    base_pairs = {(r["query_id"], r["match_id"])
                  for r in spark.read.parquet(out).collect()}
    assert {(r["query_id"], r["match_id"]) for r in uniq} <= base_pairs


def test_cli_json_ingest_and_text_match(spark, tmp_path):
    """The reference CLI's file shapes end-to-end: `-ingest` of the
    sample-entities.json array (cmd/resolve/main.go:131-156) and the
    `-match "field=value; ..."` string query (match.go:427-468)."""
    ents = [
        {"id": "entity-001",
         "fields": {"name": "Acme Corporation", "address": "123 Main Street",
                    "city": "New York", "state": "NY", "zip": "10001",
                    "phone": "+1 (555) 123-4567", "email": "info@acme.com"},
         "metadata": {"source": "CRM", "type": "business"}},
        {"id": "entity-002",
         "fields": {"name": "Acme Corp.", "address": "123 Main St",
                    "city": "New York", "state": "New York", "zip": "10001",
                    "phone": "555-123-4567", "email": "contact@acme.com"},
         "metadata": {"source": "import"}},
        {"id": "entity-003",
         "fields": {"name": "Zenith Robotics", "city": "Austin",
                    "state": "TX", "zip": "73301"},
         "metadata": {}},
    ]
    j = tmp_path / "sample-entities.json"
    j.write_text(json.dumps(ents, indent=2))

    # reader: flattened fields ('' when absent) + per-row metadata map
    df = T.read_entities_json(spark, str(j))
    rows = {r["id"]: r.asDict(recursive=True) for r in df.collect()}
    assert rows["entity-001"]["name"] == "Acme Corporation"
    assert rows["entity-003"]["address"] == ""  # absent field -> ''
    assert rows["entity-001"]["metadata"] == {"source": "CRM", "type": "business"}
    assert rows["entity-002"]["metadata"] == {"source": "import"}

    store = str(tmp_path / "store")
    ing = _run_cli("ingest", "--input", str(j), "--store", store,
                   "--config", "entities")
    assert ing["ingested"] == 3

    res = _run_cli("match", "--text", "name=Acme Corporation; zip=10001",
                   "--store", store, "--config", "entities",
                   "--threshold", "0.5")
    ids = [r["match_id"] for r in res["results"]]
    assert res["matches"] >= 2 and {"entity-001", "entity-002"} <= set(ids)
    assert "entity-003" not in ids[:2]

    # NOT a full-store scan: candidates come from blocking-key
    # intersection, so even at threshold 0 a non-block-sharing entity
    # (entity-003 shares no canopy with the query) is never scored —
    # a constant-key join against the whole store would return it
    res0 = _run_cli("match", "--text", "name=Acme Corporation; zip=10001",
                    "--store", store, "--config", "entities",
                    "--threshold", "0.0")
    ids0 = {r["match_id"] for r in res0["results"]}
    assert ids0 == {"entity-001", "entity-002"}

    # the reference's -match-file shape (cmd/resolve/main.go:45,113-114):
    # a single EntityData JSON; --field-scores opts the per-field map in
    # (main.go:55), default output omits it like the reference
    q = tmp_path / "query.json"
    q.write_text(json.dumps(
        {"id": "q-1", "fields": {"name": "Acme Corporation", "zip": "10001"}}))
    resf = _run_cli("match", "--input", str(q), "--store", store,
                    "--config", "entities", "--threshold", "0.5",
                    "--field-scores", "--details")
    idsf = [r["match_id"] for r in resf["results"]]
    assert {"entity-001", "entity-002"} <= set(idsf)
    assert resf["results"][0]["query_id"] == "q-1"
    assert "field_scores" in resf["results"][0]
    assert "explanation" in resf["results"][0]
    assert "field_scores" not in res0["results"][0]  # default: omitted

    # externally-produced store: carries "vector" but NO "block_keys".
    # The vector-parity path must still prepare (normalize+embed) the
    # query — gating prep on block_keys alone hands find_matches a
    # query row with no vector column (AnalysisException)
    ext = str(tmp_path / "ext_store")
    spark.read.parquet(store).drop("block_keys").write.parquet(ext)
    rese = _run_cli("match", "--text", "name=Acme Corporation; zip=10001",
                    "--store", ext, "--config", "entities",
                    "--threshold", "0.5")
    idse = [r["match_id"] for r in rese["results"]]
    assert {"entity-001", "entity-002"} <= set(idse)

    # a query with NONE of the blocking fields (name/zip) gets the
    # default cluster id; the reference drops the cluster filter
    # entirely for it (cluster.go:252-255, nil filter -> unfiltered
    # search), so the engine must full-scan instead of intersecting an
    # empty key set into zero candidates
    resn = _run_cli("match", "--text", "city=New York; phone=555-123-4567",
                    "--store", store, "--config", "entities",
                    "--threshold", "0.0")
    assert resn["matches"] == 3  # every stored entity scored


def test_load_config_reference_schema(tmp_path):
    """Config-file loading (config.go:72-167): YAML with the reference
    section names, defaults for omissions, RESOLVE_* env overrides."""
    import os

    from resolve_spark.config import load_config

    p = tmp_path / "config.yaml"
    p.write_text(
        "matching:\n  similarity_threshold: 0.92\n"
        "normalization:\n  name_options:\n    remove_legal_suffixes: false\n"
        "clustering:\n  enabled: true\n  fields: [name, phone]\n"
    )
    cfg = load_config(str(p))
    assert cfg["matching"]["similarity_threshold"] == 0.92
    assert cfg["matching"]["default_limit"] == 10          # default kept
    assert cfg["clustering"]["fields"] == ["name", "phone"]
    os.environ["RESOLVE_MATCHING_SIMILARITY_THRESHOLD"] = "0.5"
    try:
        assert load_config(str(p))["matching"]["similarity_threshold"] == 0.5
    finally:
        del os.environ["RESOLVE_MATCHING_SIMILARITY_THRESHOLD"]


def test_decomposed_scoring_single_arrow_eval(spark):
    """The decomposed scoring plan must contain exactly ONE
    ArrowEvalPython node (the JW-only fused pUDF) — regression guard for
    optimizer-duplicated UDF evaluation and for natives accidentally
    falling back to Python."""
    from resolve_spark import datagen
    from resolve_spark.plans import pipeline as P
    from resolve_spark.operators.scoring import attach_pair_sides, score_pairs

    files = datagen.with_record_id(datagen.synth_files(spark, n_base=500, dup_rate=0.2))
    cfg = P.files_pipeline_config()
    pipe = P.ResolvePipeline(spark, cfg)
    ents = pipe.normalized(files)
    a = ents.select(F.col("record_id").alias("id_a"), F.col("uid").alias("ua"))
    b = ents.select(F.col("record_id").alias("id_b"), F.col("uid").alias("ub"))
    pairs = a.join(b, (F.col("ub") > F.col("ua")) & (F.col("ub") - F.col("ua") <= 5)).select("id_a", "id_b")
    side_cols = [s.column for s in cfg.specs]
    for s in cfg.specs:
        for extra in (f"{s.column}_pre", f"{s.column}_pre_tokens"):
            if extra in ents.columns:
                side_cols.append(extra)
    wide = attach_pair_sides(pairs, ents, "record_id", side_cols)
    scored = score_pairs(wide, list(cfg.specs), threshold=0.85)
    base = wide._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython")
    plan = scored._jdf.queryExecution().executedPlan().toString()
    # upstream normalized() legitimately has record-level pUDFs (the two
    # preprocess UDFs); SCORING itself must add exactly one ArrowEvalPython
    assert plan.count("ArrowEvalPython") == base + 1, plan[:2000]


@pytest.mark.parametrize("opts", [
    {},
    {"blend_with_vector": False},
    {"blend_with_vector": True, "threshold_on": "vector"},
])
def test_vector_scoring_single_cosine_eval(spark, opts):
    """The cosine UDF is evaluated once per pair: the threshold on a
    score built from it must not be pushed below its projection with
    the UDF inlined (one ArrowEvalPython for the filter, another for the
    returned column)."""
    from resolve_spark.operators.matching import find_matches
    from resolve_spark.operators.scoring import FieldSpec

    rows = [("q1", "e1", "aaa", "bbb", [1.0, 0.0], [1.0, 0.0]),
            ("q1", "e2", "aaa", "aaa", [1.0, 0.0], [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["qid", "eid", "na", "nb", "va", "vb"])
    queries = df.select(F.col("qid").alias("query_id"), F.col("na").alias("name"),
                        F.col("va").alias("vector")).limit(1)
    ents = df.select(F.col("eid").alias("id"), F.col("nb").alias("name"),
                     F.col("vb").alias("vector"))
    out = find_matches(queries, ents, [FieldSpec("name", "name", "jaro_winkler")],
                       entity_id="id", block_key=None, vector_col="vector", **opts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython [cosine_similarity_udf") == 1, plan[:3000]


def test_entity_store_read_prunes_partitions(spark, tmp_path):
    """EntityStore point reads must push the bucket filter into the scan
    (PartitionFilters), not scan every bucket."""
    from resolve_spark.sources.tables import EntityStore
    store = EntityStore(spark, str(tmp_path / "s"), id_col="id", n_buckets=8)
    store.init(spark.createDataFrame([(i, f"n{i}") for i in range(100)], ["id", "name"]))
    pruned = spark.read.parquet(store.path).where(F.col("_bucket").isin([3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    flat = plan.replace("\n", " ")
    assert "PartitionFilters" in flat
    assert "_bucket" in flat.split("PartitionFilters", 1)[1][:200]


def test_new_text_ops_stay_native(spark):
    """Gopher gates + PII scrub must be whole-stage-codegen map work —
    no Python evaluation nodes anywhere in the plan (at 100 TB these
    run inside the scan stage)."""
    from resolve_spark.functions import text as TX
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = d.select(
        TX.gopher_quality_flags(F.col("text")).alias("g"),
        TX.redact_pii(F.col("text")).alias("r"),
        TX.pii_counts(F.col("text")).alias("c"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.slow
def test_cli_resolve_incremental(spark, tmp_path):
    from resolve_spark import datagen
    files = datagen.with_record_id(
        datagen.synth_files(spark, n_base=300, dup_rate=0.3)
    )
    side = F.abs(F.xxhash64(F.col("record_id").cast("string"))) % 10
    base_p = str(tmp_path / "base")
    inc_p = str(tmp_path / "inc")
    files.where(side < 7).write.parquet(base_p)
    files.where(side >= 7).write.parquet(inc_p)
    out1 = str(tmp_path / "out1")
    _run_cli("resolve", "--input", base_p, "--out", out1)
    out2 = str(tmp_path / "out2")
    res = _run_cli("resolve", "--input", inc_p, "--out", out2,
                   "--increment-from", out1, "--prev-input", base_p)
    # merged state covers the whole corpus and matches a full recompute
    assert res["clusters"] == files.count()
    full_out = str(tmp_path / "full")
    all_p = str(tmp_path / "all")
    files.write.parquet(all_p)
    _run_cli("resolve", "--input", all_p, "--out", full_out)
    inc_cl = spark.read.parquet(f"{out2}/clusters")
    full_cl = spark.read.parquet(f"{full_out}/clusters")
    assert inc_cl.subtract(full_cl).count() == 0
    assert full_cl.subtract(inc_cl).count() == 0


def test_cli_estimate_weights(spark, tmp_path):
    """estimate-weights: unsupervised FieldWeights suggestion — on the
    planted-duplicate corpus the discriminative fields (repo/path/
    content) must earn positive evidence and a usable weight map."""
    from resolve_spark import datagen
    files = datagen.with_record_id(
        datagen.synth_files(spark, n_base=400, dup_rate=0.4))
    inp = str(tmp_path / "files_ew")
    files.write.parquet(inp)
    res = _run_cli("estimate-weights", "--input", inp,
                   "--em-iterations", "15")
    assert 0 < res["lambda"] < 1
    assert set(res["fields"]) == {"repo", "path", "lang", "content"}
    sw = res["suggested_field_weights"]
    assert set(sw) == set(res["fields"]) and all(w >= 0 for w in sw.values())
    # planted duplicates agree on repo+content far above chance
    for f in ("repo", "content"):
        fd = res["fields"][f]
        assert fd["m"] > fd["u"], (f, fd)
        assert sw[f] > 0


def test_cli_evaluate(spark, tmp_path):
    pred = spark.createDataFrame(
        [("a", "p1"), ("b", "p1"), ("c", "p2"), ("d", "p2"), ("e", "p2")],
        "id string, cluster_id string",
    )
    truth = spark.createDataFrame(
        [("a", "t1"), ("b", "t1"), ("c", "t1"), ("d", "t2"), ("e", "t2")],
        "id string, truth_id string",
    )
    pp, tp = str(tmp_path / "pred"), str(tmp_path / "truth")
    pred.write.parquet(pp)
    truth.write.parquet(tp)
    res = _run_cli("evaluate", "--pred", pp, "--truth", tp)
    assert res["n_records"] == 5
    # same hand-computed example as test_adjusted_rand_hand_computed
    assert abs(res["ari"] - 1 / 6) < 1e-12
    # bcubed: P = (2*(2/2) + 1*(1/3)... ) hand: per-record p:
    # a,b: 2/2; c: 1/3... wait pred p2={c,d,e}, truth t1={a,b,c} t2={d,e}
    # p(c)=|{c}|/3, p(d)=p(e)=2/3; P=(1+1+1/3+2/3+2/3)/5=11/15
    # r(a)=r(b)=2/3, r(c)=1/3, r(d)=r(e)=2/2=1 -> R=(2/3+2/3+1/3+1+1)/5=11/15
    assert abs(res["bcubed_precision"] - 11 / 15) < 1e-9
    assert abs(res["bcubed_recall"] - 11 / 15) < 1e-9


@pytest.mark.slow
def test_cli_fuse(spark, tmp_path):
    """resolve -> fuse: the golden-record verb (VERDICT r5 item #5).
    Survivorship semantics themselves are oracled (q86/q99); this
    drives the CLI wiring end-to-end over a resolve run's clusters."""
    entities = spark.createDataFrame(
        [
            ("a", "Acme Corp", "nyc", ""),
            ("b", "Acme Corporation", "nyc", "10001"),
            ("c", "Acme", "bos", "10001"),
            ("d", "Zenith", "sfo", "94103"),
        ],
        "id string, name string, city string, zip string",
    )
    clusters = spark.createDataFrame(
        [("a", "k1", 3), ("b", "k1", 3), ("c", "k1", 3), ("d", "k2", 1)],
        "rid string, cluster_id string, cluster_size long",
    )
    inp, cl = str(tmp_path / "ents"), str(tmp_path / "clusters")
    out, conf = str(tmp_path / "golden"), str(tmp_path / "conflicts")
    entities.write.parquet(inp)
    clusters.write.parquet(cl)
    res = _run_cli(
        "fuse", "--input", inp, "--clusters", cl, "--out", out,
        "--rules", "name=longest,city=mode,zip=first",
        "--conflicts-out", conf, "--id", "id",
    )
    assert res["golden_records"] == 2
    got = {r["cluster_id"]: r for r in spark.read.parquet(out).collect()}
    assert got["k1"]["name"] == "Acme Corporation"  # longest
    assert got["k1"]["city"] == "nyc"               # mode (2 of 3)
    assert got["k1"]["zip"] == ""                   # first = min-id verbatim
    assert got["k1"]["canonical_id"] == "a"
    assert got["k2"]["name"] == "Zenith"
    # conflict queue covers the disputed fields of k1 only
    conf_rows = spark.read.parquet(conf).collect()
    assert res["conflicted_cluster_fields"] == len(conf_rows)
    assert {r["cluster_id"] for r in conf_rows} == {"k1"}


def test_cli_fuse_rejects_bad_rules(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-m", "resolve_spark", "fuse", "--input", "x",
         "--clusters", "y", "--out", "z", "--rules", "namelongest",
         "--master", "local[2]"],
        capture_output=True, text=True,
    )
    assert proc.returncode == 2
    assert "field=rule" in proc.stderr
    # unknown rule NAME gets the same clean exit-2 path as a format
    # error, not a ValueError traceback from fuse_clusters
    proc = subprocess.run(
        [sys.executable, "-m", "resolve_spark", "fuse", "--input", "x",
         "--clusters", "y", "--out", "z", "--rules", "name=longset",
         "--master", "local[2]"],
        capture_output=True, text=True,
    )
    assert proc.returncode == 2
    assert "unknown survivorship rule" in proc.stderr
