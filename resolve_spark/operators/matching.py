"""Query-time matching (SURVEY.md §2.7) — queries as a DataFrame.

The reference answers one query at a time: embed -> (cluster-filtered)
ANN -> threshold -> field scores -> sort -> limit (match.go:170-264).
The batch equivalent treats the query set as a DataFrame and replaces
the ANN index with the blocked join, scoring ALL in-block candidates:

    queries  -> normalize -> block_key
    entities -> (already normalized/blocked)
    join on block_key -> fused field scores (+ vector blend)
    -> threshold -> per-query top-k window -> MatchResult projection

Parity notes:
- the x3 search-limit inflation (match.go:209-214) compensated the
  reference's filtered ANN recall; the block join scores every in-block
  candidate, so no inflation is needed (SURVEY.md §2.6 B5).
- output shape mirrors MatchResult (match.go:35-45): id, score,
  field_scores, matched_on, explanation.
- a small query set is broadcast by AQE automatically; block_key=None
  degrades to the full cross product (only for broadcast-small sets),
  matching the reference's unclustered whole-index search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resolve_spark.functions.fields import explanation_column
from resolve_spark.operators.scoring import FieldSpec, score_pairs, specs_from_options


def find_matches(
    queries: DataFrame,
    entities: DataFrame,
    specs: list[FieldSpec],
    query_id: str = "query_id",
    entity_id: str = "id",
    block_key: str | None = "block_key",
    limit: int = 10,
    threshold: float = 0.85,
    vector_col: str | None = None,
    blend_with_vector: bool | None = None,
    carry: list[str] | None = None,
    candidates: DataFrame | None = None,
    threshold_on: str = "final",
) -> DataFrame:
    """(query_id, match_id, score, field_scores, matched_on,
    explanation, rank) — top-``limit`` matches >= threshold per query.

    ``blend_with_vector`` (only meaningful with ``vector_col``): True ->
    score = (vec + weighted)/2 (match.go:378-384, weights supplied);
    False -> score = vec score alone (match.go:229-235, the reference
    default); None -> blend (engine default, kept for callers that
    predate the flag).

    ``threshold_on``: "final" (engine default) thresholds the returned
    score; "vector" reproduces match.go:237-240, which thresholds on the
    VECTOR similarity even when the final score blends in field scores.
    The default is a DOCUMENTED DIVERGENCE from the reference: with
    blending, it changes which borderline candidates a caller sees
    (F1-neutral on the labeled-pair metric — BENCH.md round 4). Pass
    threshold_on="vector" for exact reference candidate sets.

    ``queries`` and ``entities`` must already carry the spec columns
    (and ``block_key`` unless block_key=None).

    ``carry``: extra entity-side columns copied verbatim into each
    match row — the EntityRecord.Metadata round-trip
    (weaviate.go:47,135; match.go:22,41). Defaults to ['metadata']
    when the entities table has that column.

    ``candidates``: optional pre-built (id_a=query_id, id_b=entity_id)
    pair set from an external candidate generator (e.g. ANN over the
    stored vectors — the analog of the reference's always-indexed
    unclustered search, weaviate.go:304-394). Overrides the block join.
    """
    if carry is None:
        carry = ["metadata"] if "metadata" in entities.columns else []
    side_cols = [s.column for s in specs] + ([vector_col] if vector_col else [])
    if candidates is not None:
        pairs = candidates.select("id_a", "id_b")
    else:
        bk = (lambda df: F.col(block_key)) if block_key else (lambda df: F.lit("all"))
        q = queries.select(F.col(query_id).alias("id_a"), bk(queries).alias("_bk"))
        e = entities.select(F.col(entity_id).alias("id_b"), bk(entities).alias("_bk"))
        pairs = q.join(e, "_bk").select("id_a", "id_b")
    def _sides(df: DataFrame, id_in: str, id_out: str, suffix: str) -> DataFrame:
        str_cols = {
            f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
        }
        return df.select(
            F.col(id_in).alias(id_out),
            *[
                (F.coalesce(F.col(c), F.lit("")) if c in str_cols else F.col(c))
                .alias(f"{c}{suffix}")
                for c in side_cols
            ],
        )

    qa = _sides(queries, query_id, "id_a", "_a")
    eb = _sides(entities, entity_id, "id_b", "_b")
    if carry:
        eb = eb.join(
            entities.select(F.col(entity_id).alias("id_b"), *carry), "id_b"
        )
    wide = pairs.join(qa, "id_a").join(eb, "id_b")
    scored = score_pairs(
        wide, specs, threshold=threshold, vector_col=vector_col,
        blend_with_vector=blend_with_vector, threshold_on=threshold_on,
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("score"), F.asc("id_b"))
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= limit)
    )
    return out.select(
        F.col("id_a").alias(query_id),
        F.col("id_b").alias("match_id"),
        "score",
        "field_scores",
        "matched_on",
        explanation_column(F.col("score"), F.col("matched_on")).alias("explanation"),
        "rank",
        *carry,
    )


def block_key_candidates(
    queries: DataFrame,
    entities: DataFrame,
    query_id: str = "query_id",
    entity_id: str = "id",
    keys_col: str = "block_keys",
) -> DataFrame:
    """(id_a, id_b) candidate pairs by MULTI-PASS blocking-key
    intersection: explode both sides' ``block_keys`` arrays and
    equi-join on the key. Per-query work is bounded by the sizes of the
    store blocks the query's keys land in — the same bound the batch
    pipeline's candidate generation enforces — never by store size, so
    a text/point match stays sublinear at any store scale."""
    qx = queries.select(
        F.col(query_id).alias("id_a"), F.explode(keys_col).alias("_k")
    )
    ex = entities.select(
        F.col(entity_id).alias("id_b"), F.explode(keys_col).alias("_k")
    )
    return qx.join(ex, "_k").select("id_a", "id_b").distinct()


def find_matches_fields(
    spark,
    fields: dict[str, str],
    entities: DataFrame,
    entity_id: str = "id",
    limit: int = 10,
    threshold: float = 0.85,
    query_prepare=None,
    vector_col: str | None = None,
    blend_with_vector: bool | None = None,
    query_id: str = "q-text",
) -> DataFrame:
    """M2 single-entity form over an explicit field map — the engine
    behind the CLI's single-entity ``match``: the parsed-text query
    (``--text``, M6, match.go:427-468; parse with
    ``kernels.parse_query_fields``) and the reference CLI's
    ``--match-file`` JSON entity (cmd/resolve/main.go:45,113-114:
    EntityData -> FindMatchesForEntity). Each field present in
    ``entities`` is scored with its default kernel and weight.

    ``query_prepare``: optional callable applied to the raw one-row
    query DataFrame — use it to run the SAME normalize/embed/block
    stages the store was ingested with (e.g. ``ResolvePipeline``'s
    ``normalized`` + ``blocked``). When the prepared query and the
    store both carry a ``block_keys`` array, candidates come from
    :func:`block_key_candidates` — the match scores only block-sharing
    rows instead of scanning the whole store.

    ``vector_col``/``blend_with_vector`` forward to :func:`find_matches`;
    the CLI passes ``blend_with_vector=False``, the reference's
    vector-only score when no field weights are given
    (match.go:229-235)."""
    if not fields:
        raise ValueError("query entity has no fields")
    present = [f for f in fields if f in entities.columns]
    if not present:
        raise ValueError(
            "none of the query's fields exist in the entity table: "
            f"{sorted(fields)} vs entity columns {sorted(entities.columns)}"
        )
    specs = specs_from_options(present)
    row = {"query_id": query_id, **{f: fields[f] for f in present}}
    queries = spark.createDataFrame([row])
    if query_prepare is not None:
        queries = query_prepare(queries)
    candidates = None
    if "block_keys" in queries.columns and "block_keys" in entities.columns:
        # reference parity (cluster.go:252-255): a query carrying NONE
        # of the blocking fields gets the default cluster id, and
        # GetClusterFilterForEntity returns nil for it — the search is
        # UNFILTERED. Our analog: the default canopy key is never
        # emitted into block_keys (blocking.py:add_blocking_keys), so
        # such a query's key array is empty; intersecting it would
        # return 0 candidates where the reference full-scans. The
        # queries frame is the one row this function built, so the
        # collect is a point read.
        qkeys = [
            k
            for r in queries.select("block_keys").collect()
            for k in (r[0] or [])
        ]
        if qkeys:
            candidates = block_key_candidates(
                queries, entities, entity_id=entity_id
            )
    return find_matches(
        queries, entities, specs, entity_id=entity_id,
        block_key=None, limit=limit, threshold=threshold,
        candidates=candidates, vector_col=vector_col,
        blend_with_vector=blend_with_vector,
    )


def deterministic_match_tiers(
    pairs: DataFrame,
    rules: list[tuple[str, "F.Column"]],
    tier_col: str = "match_tier",
) -> DataFrame:
    """MDM-style deterministic linkage tiers — the rule-based
    complement to probabilistic scoring (beyond-reference; the
    reference only scores, match.go). ``rules`` is an ordered list of
    (tier_name, boolean Column over the pair DataFrame) in PRIORITY
    order; each pair gets the FIRST rule it satisfies as its tier,
    pairs matching no rule are dropped.

    First-match-wins compiles to one nested CASE (pure codegen, no
    UDF, no shuffle beyond whatever produced ``pairs``), so tier
    assignment is a free map stage at any scale; rule order is the
    explicit precedence a data steward audits."""
    expr = F.lit(None).cast("string")
    for name, cond in reversed(rules):
        expr = F.when(cond, F.lit(name)).otherwise(expr)
    return pairs.withColumn(tier_col, expr).where(F.col(tier_col).isNotNull())
