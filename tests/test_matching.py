"""find_matches (M1/M2/M7/M9) batch query tests against the
reference-shaped entity fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from resolve_spark import datagen
from resolve_spark.functions import normalize as N
from resolve_spark.operators import blocking as B
from resolve_spark.operators.matching import find_matches
from resolve_spark.operators.scoring import FieldSpec
from resolve_spark.plans.pipeline import entities_pipeline_config


@pytest.fixture(scope="module")
def prepared(spark):
    cfg = entities_pipeline_config()
    ents = datagen.entity_rows(spark)
    ents = N.normalize_entity(ents, cfg.normalize_types)
    ents = ents.withColumn("block_key", B.canopy_key(ents.columns, ("name", "zip")))
    # the reference's sample query shape: name + address + city/state/zip
    queries = spark.createDataFrame(
        [("q-1", "Vertex Analytics", "742 Birch Street", "Springfield", "IL", "62704",
          "", "")],
        ["query_id", "name", "address", "city", "state", "zip", "phone", "email"],
    )
    queries = N.normalize_entity(queries, cfg.normalize_types)
    queries = queries.withColumn(
        "block_key", B.canopy_key(queries.columns, ("name", "zip"))
    )
    return cfg, queries, ents


def test_find_matches_blocked(spark, prepared):
    cfg, queries, ents = prepared
    out = find_matches(
        queries, ents, list(cfg.specs), entity_id="id",
        limit=10, threshold=0.5,
    ).collect()
    ids = [r["match_id"] for r in out]
    # the duplicate pair blocks with the query (same name prefix + zip)
    assert set(ids) == {"e-001", "e-002"}
    top = out[0]
    assert top["rank"] == 1 and top["score"] >= 0.5
    assert "confidence" in top["explanation"]
    assert set(top["field_scores"].keys()) == {s.name for s in cfg.specs}


def test_find_matches_unblocked_cross(spark, prepared):
    cfg, queries, ents = prepared
    out = find_matches(
        queries, ents, list(cfg.specs), entity_id="id",
        block_key=None, limit=3, threshold=0.0,
    ).collect()
    assert len(out) == 3  # top-3 of all 10 under threshold 0
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert out[0]["match_id"] in ("e-001", "e-002")


def test_find_matches_threshold_and_limit(spark, prepared):
    cfg, queries, ents = prepared
    out = find_matches(
        queries, ents, list(cfg.specs), entity_id="id",
        block_key=None, limit=1, threshold=0.5,
    ).collect()
    assert len(out) == 1
    assert out[0]["rank"] == 1


def test_specs_from_options_reference_semantics():
    from resolve_spark.operators.scoring import specs_from_options
    specs = specs_from_options(
        ["name", "zip", "notes", "city"],
        field_type_mappings={"city": "street_address"},
        force_exact_match_fields=["zip"],
        field_weights={"name": 0.4},
    )
    by = {s.name: s for s in specs}
    assert by["name"].kernel == "name" and by["name"].weight == 0.4
    assert by["zip"].kernel == "exact"          # force-exact override
    assert by["city"].kernel == "street_address"  # explicit mapping wins
    assert by["notes"].kernel == "text"         # F8 default
    assert by["notes"].weight == 1.0


def test_find_matches_fields_parsed_text(spark, prepared):
    from resolve_spark.functions.kernels import parse_query_fields
    from resolve_spark.operators.matching import find_matches_fields
    _, _, ents = prepared
    out = find_matches_fields(
        spark, parse_query_fields("name=Vertex Analytics; city=Springfield"),
        ents, entity_id="id", limit=5, threshold=0.5,
    ).collect()
    assert [r["match_id"] for r in out][:2] == ["e-002", "e-001"] or \
        set(r["match_id"] for r in out[:2]) == {"e-001", "e-002"}
    assert all(r["query_id"] == "q-text" for r in out)


def test_metadata_roundtrip_through_matching(spark):
    """EntityRecord.Metadata parity (weaviate.go:47, match.go:22): a
    metadata map on the entity store survives normalize -> block ->
    find_matches and lands verbatim on each match row."""
    cfg = entities_pipeline_config()
    ents = datagen.entity_rows(spark, with_metadata=True)
    ents = N.normalize_entity(ents, cfg.normalize_types)
    ents = ents.withColumn("block_key", B.canopy_key(ents.columns, ("name", "zip")))
    queries = ents.where(F.col("id") == "e-001").withColumnRenamed("id", "query_id")
    out = find_matches(queries, ents, list(cfg.specs), entity_id="id",
                       limit=5, threshold=0.5).collect()
    assert out, "expected at least the planted duplicate to match"
    by_id = {r["match_id"]: r["metadata"] for r in out}
    raw = {r["id"]: (r["source"], r["type"]) for r in datagen.entity_rows(spark).collect()}
    for mid, meta in by_id.items():
        assert meta == {"source_system": raw[mid][0], "record_kind": raw[mid][1]}


@pytest.fixture(scope="module")
def vec_pairs(spark):
    """Hand-built wide pair rows where vec, weighted, and blend scores
    are pairwise distinct: hi-vec/lo-field and lo-vec/hi-field."""
    rows = [
        # id_a, id_b, name_a, name_b, v_a, v_b
        ("q1", "hi-vec", "aaa", "bbb", [1.0, 0.0], [1.0, 0.0]),   # vec 1.0, field 0.0
        ("q1", "hi-field", "aaa", "aaa", [1.0, 0.0], [0.0, 1.0]),  # vec 0.0, field 1.0
    ]
    return spark.createDataFrame(
        rows, ["id_a", "id_b", "name_a", "name_b", "vector_a", "vector_b"]
    )


def test_score_pairs_vector_only_threshold_and_prefilter(spark, vec_pairs):
    """blend_with_vector=False (match.go:229-235, the no-weights default):
    the score IS the cosine similarity, and the native field-score
    prefilter must NOT drop high-vector/low-field pairs (a field-score
    upper bound is not a bound on the vector score)."""
    from resolve_spark.operators.scoring import score_pairs

    specs = [FieldSpec("name", "name", "exact")]
    got = {
        r["id_b"]: r["score"]
        for r in score_pairs(
            vec_pairs, specs, threshold=0.6, vector_col="vector",
            blend_with_vector=False,
        ).collect()
    }
    # hi-vec survives with the PURE vector score (blend would be 0.5 < 0.6
    # and the engaged prefilter's ub (1+0)/2 would also have dropped it)
    assert got == {"hi-vec": pytest.approx(1.0)}


def test_score_pairs_threshold_on_vector(spark, vec_pairs):
    """threshold_on='vector' (match.go:237-240): the threshold gates the
    VECTOR similarity while the returned score stays the blend — the
    candidate set differs from final-score thresholding in both
    directions."""
    from resolve_spark.operators.scoring import score_pairs

    specs = [FieldSpec("name", "name", "exact")]
    kw = dict(threshold=0.4, vector_col="vector", blend_with_vector=True)
    on_final = {
        r["id_b"]: r["score"]
        for r in score_pairs(vec_pairs, specs, **kw).collect()
    }
    on_vector = {
        r["id_b"]: r["score"]
        for r in score_pairs(vec_pairs, specs, threshold_on="vector", **kw).collect()
    }
    # both blends are 0.5 >= 0.4 -> final-thresholding keeps both
    assert on_final == {"hi-vec": pytest.approx(0.5),
                        "hi-field": pytest.approx(0.5)}
    # vector-thresholding keeps only vec >= 0.4, score still the blend
    assert on_vector == {"hi-vec": pytest.approx(0.5)}

    with pytest.raises(ValueError):
        score_pairs(vec_pairs, specs, threshold=0.4, threshold_on="vector")


def test_find_matches_forwards_blend_flag(spark, vec_pairs):
    """Regression (round-4 bug): find_matches must FORWARD
    blend_with_vector to score_pairs — a no-weights API match returns
    the pure vector score, not the (vec+weighted)/2 blend."""
    queries = vec_pairs.select(
        F.col("id_a").alias("query_id"), F.col("name_a").alias("name"),
        F.col("vector_a").alias("vector"),
    ).limit(1)
    ents = vec_pairs.select(
        F.col("id_b").alias("id"), F.col("name_b").alias("name"),
        F.col("vector_b").alias("vector"),
    )
    specs = [FieldSpec("name", "name", "exact")]
    out = {
        r["match_id"]: r["score"]
        for r in find_matches(
            queries, ents, specs, entity_id="id", block_key=None,
            threshold=0.6, vector_col="vector", blend_with_vector=False,
        ).collect()
    }
    assert out == {"hi-vec": pytest.approx(1.0)}
    # threshold_on forwards too: blend scores at a vector-gated threshold
    out2 = {
        r["match_id"]: r["score"]
        for r in find_matches(
            queries, ents, specs, entity_id="id", block_key=None,
            threshold=0.6, vector_col="vector", blend_with_vector=True,
            threshold_on="vector",
        ).collect()
    }
    assert out2 == {"hi-vec": pytest.approx(0.5)}


def test_find_matches_fields_block_key_candidates(spark):
    """find_matches_fields with a query_prepare hook that reproduces the
    ingest stages: candidates come from blocking-key intersection
    (block_key_candidates), so non-block-sharing entities are never
    scored even at threshold 0, and the no-weights score is the pure
    vector similarity (match.go:229-235)."""
    from resolve_spark import datagen
    from resolve_spark.plans.pipeline import ResolvePipeline, raw_input_columns

    cfg = entities_pipeline_config()
    pipe = ResolvePipeline(spark, cfg)
    ents = pipe.blocked(pipe.normalized(datagen.entity_rows(spark)))

    def prep(qdf):
        for c in raw_input_columns(cfg):
            if c not in qdf.columns:
                qdf = qdf.withColumn(c, F.lit(""))
        return pipe.blocked(pipe.normalized(qdf))

    from resolve_spark.functions.kernels import parse_query_fields
    from resolve_spark.operators.matching import find_matches_fields
    out = find_matches_fields(
        spark, parse_query_fields("name=Vertex Analytics; zip=62704"), ents,
        entity_id="id", threshold=0.0, query_prepare=prep,
        vector_col="vector", blend_with_vector=False,
    ).collect()
    got = {r["match_id"]: r["score"] for r in out}
    # only the canopy-sharing planted pair is scored; threshold 0 over a
    # full scan would have returned all 10 entities
    assert set(got) == {"e-001", "e-002"}
    # vector-only semantics: e-002's name IS the query's first 16 bytes
    # of combined text -> cosine 1.0; the blend would be strictly lower
    # (its zip differs from e-002's address/phone fields' contribution)
    assert got["e-002"] == pytest.approx(1.0, abs=1e-6)


def test_block_key_candidates_bounded(spark):
    """block_key_candidates joins ONLY on shared keys — the pair count
    is the sum of block co-memberships, never |queries| x |store|."""
    from resolve_spark.operators.matching import block_key_candidates
    q = spark.createDataFrame(
        [("q1", ["k1", "k2"]), ("q2", ["zz"])], ["query_id", "block_keys"])
    e = spark.createDataFrame(
        [("e1", ["k1"]), ("e2", ["k2", "k1"]), ("e3", ["k9"])],
        ["id", "block_keys"])
    got = {(r["id_a"], r["id_b"])
           for r in block_key_candidates(q, e).collect()}
    assert got == {("q1", "e1"), ("q1", "e2")}


def test_find_matches_fields_no_known_fields_raises(spark):
    """A query with no fields, or whose fields all miss the entity
    schema, must raise a clear ValueError, not IndexError on
    present[0]."""
    from resolve_spark.functions.kernels import parse_query_fields
    from resolve_spark.operators.matching import find_matches_fields

    store = spark.createDataFrame([("e1", "Acme")], ["id", "name"])
    with pytest.raises(ValueError, match="none of the query's fields"):
        find_matches_fields(spark, parse_query_fields("unknown_field=x"), store)
    with pytest.raises(ValueError, match="no fields"):
        find_matches_fields(
            spark, parse_query_fields("just a name with no fields"), store)


def test_deterministic_match_tiers(spark):
    from pyspark.sql import functions as F

    from resolve_spark.operators.matching import deterministic_match_tiers

    pairs = spark.createDataFrame(
        [
            ("a", "b", 1, 1, "x", "x"),  # t1 (also satisfies t2 -> first wins)
            ("a", "c", 2, 2, "x", "y"),  # t2
            ("a", "d", 3, 4, "x", "x"),  # t3
            ("a", "e", 5, 6, "x", "y"),  # no tier -> dropped
        ],
        "id_a string, id_b string, da int, db int, sa string, sb string",
    )
    out = deterministic_match_tiers(
        pairs,
        [
            ("t1", (F.col("da") == F.col("db")) & (F.col("sa") == F.col("sb"))),
            ("t2", F.col("da") == F.col("db")),
            ("t3", F.col("sa") == F.col("sb")),
        ],
    )
    got = {(r.id_a, r.id_b): r.match_tier for r in out.collect()}
    assert got == {("a", "b"): "t1", ("a", "c"): "t2", ("a", "d"): "t3"}
