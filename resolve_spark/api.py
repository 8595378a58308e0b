"""S11 — the reference's REST surface (api/server.go:70-89, 12 routes)
over the Spark engine, served by stdlib ``ThreadingHTTPServer`` (no web
framework in this container, none needed).

Route parity:

    GET    /health
    POST   /entities                 add one entity
    GET    /entities/{id}
    PUT    /entities/{id}
    DELETE /entities/{id}
    POST   /entities/batch
    GET    /entities/count
    POST   /match                    match a structured entity
    POST   /match/text               match "field=value; ..." text
    GET    /entities/{id}/group      query-param options
    POST   /entities/{id}/group      JSON-body options
    POST   /clusters/recompute

Engine mapping: the entity store is a hash-bucketed parquet
``EntityStore`` (partition-pruned point updates — the Weaviate
replacement). Each stored row carries its vector and the vector's 8
SRP-LSH signatures (``_s0``..``_s7``, the planes ``lsh_topk`` uses),
both computed on the driver at write time. A match (``/match`` and
``/match/text``) is prepared on the driver and answered by ONE store
scan filtered on literals — the query's signatures (default route: the
top ``max(3·limit, 30)`` rows by cosine are the candidates, as
``lsh_topk`` returns them), its block key (``use_clustering``) or
nothing (``exhaustive``) — then ``score_pairs`` against the query's
literal columns and a top-``limit`` collect: at most 2 Spark jobs. The
reference score semantics hold — the headline score is the VECTOR
cosine similarity (match.go:229-235), blended ``(vec + weighted)/2``
when FieldWeights are supplied (match.go:378-384). Groups run the
seed's hop-limited BFS,
``match_group`` (one driver-side collect per hop), over scored edges
derived from the store (recomputed lazily after mutations; sub-floor
ThresholdOverride falls back to an on-demand re-score).

Divergences from the reference (documented):
- the reference REQUIRES a client-supplied vector on add
  (server.go:154-163); this engine computes the deterministic mock
  embedding when absent, because embedding is in-engine here rather
  than a sidecar.
- the reference thresholds on the vector score even when blending;
  this engine thresholds on the final (blended) score — the filter and
  the returned number agree here.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import time
from collections import Counter
from functools import reduce

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, LongType, MapType, StringType, StructField,
    StructType,
)

from resolve_spark.config import (
    DEFAULT_GROUP_STRATEGY, DEFAULT_HOPS_LIMIT, DEFAULT_LIMIT,
    DEFAULT_MAX_GROUP_SIZE, DEFAULT_SIMILARITY_THRESHOLD, MOCK_EMBEDDING_DIM,
)
from resolve_spark.functions import normalize as N
from resolve_spark.functions.embedding import cosine_similarity_native
from resolve_spark.functions.fields import explanation_column
from resolve_spark.operators import blocking as B
from resolve_spark.operators import clustering as C
from resolve_spark.functions.kernels import parse_query_fields
from resolve_spark.operators.ann import signature_udf, srp_signatures
from resolve_spark.operators.scoring import score_pairs, specs_from_options
from resolve_spark.plans.pipeline import entities_pipeline_config

#: the scored-edge cache keeps every pair whose max field score reaches
#: this floor, so group ThresholdOverride can go BELOW the match default
#: (group.go:26-40) and per-request FieldWeights can resurrect pairs the
#: DEFAULT weighting scored under 0.5 (weighted mean <= max, so
#: max-based pruning is an upper bound valid under ANY weights).
#: Overrides below even the floor fall back to an on-demand re-score at
#: the requested threshold (slow path — group.go:38 accepts any
#: positive override).
MIN_EDGE_THRESHOLD = 0.5


class _RWLock:
    """Writer-preferring reader-writer lock: concurrent GET/match/group
    reads share; upsert/delete/recompute writes are exclusive (the
    reference's server serves reads concurrently; a single mutex here
    would queue every match behind every other request). NOT reentrant —
    engine methods are structured so no thread nests acquisitions."""

    def __init__(self):
        self._cond = threading.Condition()
        self._readers = 0
        self._writer_active = False
        self._writers_waiting = 0

    @contextlib.contextmanager
    def read(self):
        with self._cond:
            # writer preference: queued writers block NEW readers, so a
            # steady GET stream cannot starve an upsert
            while self._writer_active or self._writers_waiting:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                if self._readers == 0:
                    self._cond.notify_all()

    @contextlib.contextmanager
    def write(self):
        with self._cond:
            self._writers_waiting += 1
            while self._writer_active or self._readers:
                self._cond.wait()
            self._writers_waiting -= 1
            self._writer_active = True
        try:
            yield
        finally:
            with self._cond:
                self._writer_active = False
                self._cond.notify_all()


def _reweight_edges(edges, field_weights: dict):
    """Reference computeWeightedScore over the stored field_scores map
    (match.go:470-492, applied to groups via group.go:32,105,225):
    weight = FieldWeights[field] else 1.0; score = Σw·s / Σw. A pure
    column expression — no re-scoring pass over the store."""
    wmap = F.create_map(
        *[F.lit(x) for k, v in sorted(field_weights.items())
          for x in (k, float(v))]
    )
    entries = F.map_entries("field_scores")

    def _w(e):
        return F.coalesce(F.element_at(wmap, e["key"]), F.lit(1.0))

    num = F.aggregate(entries, F.lit(0.0), lambda a, e: a + e["value"] * _w(e))
    den = F.aggregate(entries, F.lit(0.0), lambda a, e: a + _w(e))
    return edges.withColumn(
        "score", F.when(den > 0, num / den).otherwise(F.lit(0.0))
    )
from resolve_spark.sources.tables import EntityStore

ENTITY_FIELDS = ("name", "address", "city", "state", "zip", "phone", "email")

#: the stored ANN index: table t's signature column holds the vector's
#: ``ANN_PLANES``-bit SRP signature over the planes ``lsh_topk`` draws for
#: table t (seed ``ANN_SEED + 101·t``)
ANN_PLANES, ANN_TABLES, ANN_SEED = 8, 8, 42
SIG_COLS = tuple(f"_s{t}" for t in range(ANN_TABLES))

_SCHEMA = StructType(
    [StructField("id", StringType())]
    + [StructField(f, StringType()) for f in ENTITY_FIELDS]
    + [
        StructField("vector", ArrayType(FloatType())),
        StructField("metadata", MapType(StringType(), StringType())),
        # EntityRecord carries unix timestamps; updates bump updated_at
        # (weaviate.go:133-134, :574-576)
        StructField("created_at", LongType()),
        StructField("updated_at", LongType()),
    ]
    + [StructField(c, LongType()) for c in SIG_COLS]
)


class ResolveEngine:
    """The route implementations, HTTP-free (unit-testable directly)."""

    def __init__(self, spark, store_path: str, n_buckets: int = 16,
                 embedding_dim: int = MOCK_EMBEDDING_DIM):
        self.spark = spark
        self.cfg = entities_pipeline_config()
        self.store = EntityStore(spark, store_path, id_col="id", n_buckets=n_buckets)
        self.embedding_dim = embedding_dim
        self._edges = None            # scored edges cache for group routes
        self._edges_stale = True
        # ThreadingHTTPServer serves concurrently, and _rewrite_touched
        # dynamic-overwrites bucket dirs — a concurrent read collecting
        # from a half-rewritten bucket would hit FileNotFound, and a
        # recompute() unpersisting the edges cache mid-walk would break
        # a group collect. Reads share; mutations are exclusive.
        self._rw = _RWLock()

    def _sign_store(self) -> None:
        """Rewrite a store written without the ANN signature columns,
        once, with the columns added (``signature_udf`` runs the batch
        function the driver signs new rows with). Exclusive."""
        with self._rw.write():
            df = self.store.read()
            if set(SIG_COLS) <= set(df.columns):  # signed meanwhile
                return
            for t, c in enumerate(SIG_COLS):
                df = df.withColumn(
                    c, signature_udf(ANN_PLANES, ANN_SEED + 101 * t)(F.col("vector")))
            # materialize before overwriting the directories being read
            self.store.init(df.localCheckpoint(eager=True))

    # -- entity CRUD --------------------------------------------------------

    def _records(self, rows: list[dict]) -> list[dict]:
        """JSON dicts -> store records on the driver: the raw fields, the
        vector (client-supplied, else the mock embedding of the fields)
        and the vector's ANN signatures."""
        data = []
        for i, r in enumerate(rows):
            rec = {"id": str(r.get("id") or f"e-api-{i}")}
            for f in ENTITY_FIELDS:
                rec[f] = str(r.get(f) or "")
            vec = r.get("vector")
            if vec is None:
                vec = self._mock_vec(" ".join(rec[f] for f in ENTITY_FIELDS))
            elif len(vec) != self.embedding_dim:
                raise ValueError(
                    f"invalid vector dimension: expected {self.embedding_dim}, "
                    f"got {len(vec)}"
                )
            # the store keeps float32: sign and score the stored values
            rec["vector"] = [float(x) for x in np.asarray(vec, dtype=np.float32)]
            meta = r.get("metadata") or {}
            rec["metadata"] = {str(k): str(v) for k, v in meta.items()}
            now = int(time.time())
            rec["created_at"] = int(r.get("created_at") or now)
            rec["updated_at"] = int(r.get("updated_at") or now)
            data.append(rec)
        if data:
            m = np.array([rec["vector"] for rec in data], dtype=np.float64)
            for t, c in enumerate(SIG_COLS):
                sigs = srp_signatures(m, ANN_PLANES, ANN_SEED + 101 * t)
                for rec, sig in zip(data, sigs):
                    rec[c] = int(sig)
        return data

    def _prepare(self, rows: list[dict]):
        """JSON dicts -> normalized/blocked store rows (and their ids)."""
        data = self._records(rows)
        df = self.spark.createDataFrame(data, _SCHEMA)
        df = N.normalize_entity(df, self.cfg.normalize_types)
        df = df.withColumn(
            "block_key", B.canopy_key(df.columns, self.cfg.blocking.fields)
        )
        return df, [r["id"] for r in data]

    def add_entities(self, rows: list[dict]) -> list[str]:
        df, ids = self._prepare(rows)
        with self._rw.write():
            # exists() (not count()==0): the probe must not pay a full
            # store read while holding the exclusive lock. A store whose
            # every entity was deleted holds no parquet to upsert into,
            # so it is re-initialized too.
            if self.store.exists():
                self.store.upsert(df, ids)
            else:
                self.store.init(df)
            self._edges_stale = True
        return ids

    def get_entity(self, entity_id: str) -> dict | None:
        with self._rw.read():
            if not self.store.exists():  # e.g. every entity deleted
                return None
            # bucket-pruned point read: only the id's partition dir is
            # scanned (same pruning the upsert/delete paths use)
            rows = self.store.read_for_ids([entity_id]).drop(*SIG_COLS).collect()
        if not rows:
            return None
        d = rows[0].asDict(recursive=True)
        if d.get("vector") is not None:
            d["vector"] = [float(x) for x in d["vector"]]
        return d

    def update_entity(self, entity_id: str, payload: dict) -> None:
        payload = dict(payload, id=entity_id)
        # updated_at always bumps to now (weaviate.go:574-576); a stale
        # client-supplied value must not stick
        payload.pop("updated_at", None)
        existing = self.get_entity(entity_id)
        if existing:
            payload["created_at"] = existing.get("created_at")
            # PUT merges over the stored record (reference updates
            # provided properties, weaviate.go:549-601).
            for f in ENTITY_FIELDS:
                payload.setdefault(f, existing.get(f))
            payload.setdefault("metadata", existing.get("metadata"))
            # Vector on a vector-less PUT: a CLIENT-supplied vector must
            # survive (re-embedding would silently swap embedding
            # spaces), but an ENGINE-computed mock embedding must be
            # recomputed from the merged fields — freezing it would
            # leave a stale embedding after field updates, hiding the
            # entity from the ANN match path. Provenance is decidable:
            # the stored vector is engine-computed iff it equals the
            # mock embedding of the stored (normalized) field text.
            if payload.get("vector") is None:
                old_vec = existing.get("vector")
                combined_old = " ".join(
                    str(existing.get(f) or "") for f in ENTITY_FIELDS
                )
                if old_vec is not None and list(old_vec) != self._mock_vec(combined_old):
                    payload["vector"] = old_vec  # client-supplied: preserve
        df, _ = self._prepare([payload])
        with self._rw.write():
            self.store.upsert(df, [entity_id])
            self._edges_stale = True

    def _mock_vec(self, text: str) -> list[float]:
        """The mock embedding (embed.go:233-242) on the driver, the vector
        of every record stored without one; equal to
        ``mock_embedding_udf``'s."""
        import numpy as np

        raw = text.encode("utf-8")
        n = min(self.embedding_dim, len(raw))
        vec = np.zeros(self.embedding_dim, dtype=np.float32)
        if n:
            vec[:n] = np.frombuffer(raw[:n], dtype=np.uint8).astype(np.float32) / 255.0
        return [float(x) for x in vec]

    def delete_entity(self, entity_id: str) -> None:
        with self._rw.write():
            self.store.delete([entity_id])
            self._edges_stale = True

    def count(self) -> int:
        with self._rw.read():
            # empty-store probe only — anything else (schema drift,
            # corrupt files) must surface, not masquerade as "0 entities"
            if not self.store.exists():
                return 0
            return self.store.read().count()

    # -- matching -----------------------------------------------------------

    def _match_opts(self, req: dict) -> dict:
        threshold = float(req.get("threshold") or 0)
        if threshold <= 0:
            threshold = DEFAULT_SIMILARITY_THRESHOLD
        limit = int(req.get("limit") or 0)
        if limit <= 0:
            limit = DEFAULT_LIMIT
        threshold_on = req.get("threshold_on") or "final"
        if threshold_on not in ("final", "vector"):
            raise ValueError("threshold_on must be 'final' or 'vector'")
        return {
            "threshold": threshold,
            "limit": limit,
            "field_weights": self._parse_field_weights(req.get("field_weights")),
            "field_type_mappings": req.get("field_type_mappings") or None,
            # match.go:56,312-318 — listed fields score with the exact kernel
            "force_exact_match_fields": req.get("force_exact_match_fields") or None,
            # match.go:237-240 — 'vector' reproduces the reference's
            # thresholding point exactly (gate on the vector score even
            # when the returned score blends field scores)
            "threshold_on": threshold_on,
        }

    def _match_query(self, req: dict) -> dict:
        """Validate a match request and prepare its query on the driver:
        the record (vector and signatures included), the field specs, the
        route and, for the blocked route, the block key."""
        entity = req.get("entity")
        if not entity:
            raise ValueError("Entity is required")
        opts = self._match_opts(req)
        [rec] = self._records([dict(entity, id=entity.get("id") or "q-api")])
        fields = [f for f in ENTITY_FIELDS if (entity.get(f) or "") != ""]
        specs = specs_from_options(
            fields, opts["field_type_mappings"],
            opts["force_exact_match_fields"], opts["field_weights"],
        )
        if req.get("use_clustering"):
            route = "blocked"
        elif req.get("exhaustive"):
            route = "exhaustive"  # explicit opt-out: whole-store scoring
        else:
            route = "ann"
        q = dict(opts, record=rec, specs=specs, route=route)
        if route == "blocked":
            q["block_key"] = self._block_key(rec)
        return q

    def _block_key(self, rec: dict) -> str | None:
        """The record's canopy key, from a literal row over ``VALUES (0)``
        normalized like a stored row: the plan folds to a local relation,
        so the collect runs no job. Only the blocking fields are
        normalized; the key reads no other."""
        fields = self.cfg.blocking.fields
        row = self.spark.sql("VALUES (0)").select(
            *[F.lit(rec[f]).alias(f) for f in fields])
        row = N.normalize_entity(
            row, {f: self.cfg.normalize_types[f] for f in fields})
        return row.select(B.canopy_key(row.columns, fields)).first()[0]

    def _match_frame(self, q: dict, store):
        """The match as one plan over one store scan: the scan filtered on
        the query's literals, scored by ``score_pairs`` against the
        query's literal ``_a`` columns, top ``limit`` by (score desc, id
        asc). ``find_matches`` over a one-row query set returns the same
        rows (its ranks are numbered by the caller)."""
        rec = q["record"]
        qvec = F.lit(np.array(rec["vector"], dtype=np.float32))
        if q["route"] == "blocked":
            # the block's candidates are scored in one task
            cands = store.where(F.col("block_key") == F.lit(q["block_key"])).coalesce(1)
        elif q["route"] == "exhaustive":
            cands = store
        else:
            # the default route: what lsh_topk(k=max(3·limit, 30),
            # planes=8, tables=8) returns for the query — every row that
            # shares a table's signature, top k by cosine, ties to the
            # smaller id — read from the stored signatures. k is 3x the
            # requested limit (the reference's recall-inflation factor,
            # match.go:209-214) so the field-score rerank has slack; the
            # reference's unclustered default is likewise an index search
            # (weaviate.go:304-394), bounded by bucket sizes
            hit = reduce(lambda a, b: a | b, [
                F.col(c) == F.lit(rec[c]) for c in SIG_COLS])
            cands = (
                store.where(hit).coalesce(1)
                .withColumn("_cos", cosine_similarity_native(F.col("vector"), qvec))
                .sortWithinPartitions(F.desc("_cos"), F.asc("id"))
                .limit(max(3 * q["limit"], 30))
            )
        specs = q["specs"]
        cols = [s.column for s in specs]
        str_cols = {
            f.name for f in store.schema.fields
            if f.dataType.simpleString() == "string"
        }
        wide = cands.select(
            F.col("id").alias("id_b"),
            *[(F.coalesce(F.col(c), F.lit("")) if c in str_cols else F.col(c))
              .alias(f"{c}_b") for c in cols],
            F.col("vector").alias("vector_b"),
            "metadata",
            *[F.lit(rec[c]).alias(f"{c}_a") for c in cols],
            qvec.alias("vector_a"),
        )
        # Reference score semantics (match.go:229-235, :378-384): the
        # headline score is the VECTOR similarity (1 - cosine
        # distance); when FieldWeights are supplied it blends
        # (vec + weighted)/2. The DEFAULT thresholds on the final
        # (blended) score — a documented divergence; clients get the
        # reference's exact thresholding point (match.go:237-240,
        # gate on the vector score) with threshold_on="vector".
        scored = score_pairs(
            wide, specs, threshold=q["threshold"], vector_col="vector",
            blend_with_vector=bool(q["field_weights"]),
            threshold_on=q["threshold_on"],
        )
        return (
            scored.orderBy(F.desc("score"), F.asc("id_b")).limit(q["limit"])
            .select(
                F.col("id_b").alias("id"), "score", "field_scores", "matched_on",
                explanation_column(F.col("score"), F.col("matched_on"))
                .alias("explanation"),
                "metadata",
            )
        )

    def match_entity(self, req: dict) -> list[dict]:
        q = self._match_query(req)
        while True:
            with self._rw.read():
                if not self.store.exists():  # nothing stored -> no matches
                    return []
                store = self.store.read()
                if set(SIG_COLS) <= set(store.columns):
                    rows = self._match_frame(q, store).collect()
                    break
            # a store written without the signature columns: sign it
            # once (exclusive), then retry the read
            self._sign_store()
        return [dict(r.asDict(recursive=True), rank=rank)
                for rank, r in enumerate(rows, 1)]

    def match_text(self, req: dict) -> list[dict]:
        text = req.get("text") or ""
        if not text:
            raise ValueError("Text is required")
        fields = parse_query_fields(text)
        if not fields:
            raise ValueError("query text has no field=value pairs")
        entity = {f: v for f, v in fields.items() if f in ENTITY_FIELDS}
        if not entity:
            raise ValueError("no recognized entity fields in query text")
        # S11 /match/text == parse (M6) + the structured match path, so
        # text queries get the same ANN/blocked candidate generation
        return self.match_entity(dict(req, entity=entity))

    # -- groups -------------------------------------------------------------

    def _score_edges(self, floor: float):
        """Blocking keys -> candidate pairs -> scored pairs over the
        whole store, keeping every pair whose MAX field score reaches
        ``floor``. Max-based pruning (not the default-weighted score) is
        an upper bound valid under ANY per-request FieldWeights —
        weighted mean <= max — so re-weighting can resurrect pairs the
        default weighting scored low. Caller must hold a lock."""
        from resolve_spark.operators.pairs import candidate_pairs
        from resolve_spark.operators.scoring import attach_pair_sides, score_pairs

        store = self.store.read()
        blocked = B.add_blocking_keys(store, self.cfg.blocking)
        pairs, _ = candidate_pairs(blocked, "id", self.cfg.blocking,
                                   with_stats=False)
        wide = attach_pair_sides(pairs, store, "id",
                                 [s.column for s in self.cfg.specs])
        scored = score_pairs(wide, list(self.cfg.specs), threshold=None)
        scored = scored.where(
            F.array_max(F.map_values(F.col("field_scores"))) >= floor
        )
        return scored.select("id_a", "id_b", "score", "field_scores")

    def _empty_edges(self):
        return self.spark.createDataFrame(
            [], "id_a string, id_b string, score double, "
                "field_scores map<string,double>")

    def recompute(self):
        """POST /clusters/recompute — re-derive blocking keys and scored
        edges over the whole store (B3 + the batch analog of the
        reference's cluster recompute)."""
        with self._rw.write():
            if not self.store.exists():  # nothing stored -> no edges
                empty = self._empty_edges()
                if self._edges is not None:
                    self._edges.unpersist()
                self._edges = empty
                self._edges_stale = False
                return empty
            # edges keep pairs down to MIN_EDGE_THRESHOLD (not the match
            # default): the group routes' ThresholdOverride may LOWER the
            # membership threshold (group.go:26-40), which an edge set
            # pruned at 0.85 could never serve. field_scores ride along
            # so per-request FieldWeights re-weighting (group.go:32) is
            # a column expression, not a re-scoring pass.
            edges = self._score_edges(MIN_EDGE_THRESHOLD).persist()
            edges.count()
            if self._edges is not None:
                self._edges.unpersist()
            self._edges = edges
            self._edges_stale = False
            return edges

    def match_group(self, entity_id: str, opts: dict) -> dict:
        # validate EVERYTHING before any edge work: a bad request must
        # 400 without triggering a store-wide recompute
        threshold = float(opts.get("threshold") or 0)
        if threshold <= 0:
            threshold = DEFAULT_SIMILARITY_THRESHOLD
        strategy = opts.get("strategy") or DEFAULT_GROUP_STRATEGY
        hops = int(opts.get("hops_limit") or 0) or DEFAULT_HOPS_LIMIT
        max_size = int(opts.get("max_size") or 0) or DEFAULT_MAX_GROUP_SIZE
        field_weights = self._parse_field_weights(opts.get("field_weights"))
        seed = self.get_entity(entity_id)
        if seed is None:
            raise KeyError(entity_id)

        def _walk(edges):
            if field_weights and "field_scores" in edges.columns:
                edges = _reweight_edges(edges, field_weights)
            return C.match_group(
                edges, entity_id, threshold=threshold, strategy=strategy,
                hops_limit=hops, max_group_size=max_size,
            )

        # the whole walk holds a READ lock: match_group runs Spark jobs
        # over the cached edges DataFrame, and a concurrent
        # recompute/upsert could unpersist it mid-collect or rewrite a
        # bucket mid-read. Reads share, so concurrent group/match/GET
        # requests proceed in parallel.
        if threshold < MIN_EDGE_THRESHOLD:
            # sub-floor override (group.go:38 accepts any positive
            # threshold): the cached edge set is pruned at the floor, so
            # re-score on demand at the requested threshold. Slow path,
            # uncached beyond the request — persisted for the walk so
            # its hops do not each re-run the scoring.
            with self._rw.read():
                edges = (self._score_edges(threshold).persist()
                         if self.store.exists() else self._empty_edges())
                try:
                    members = _walk(edges)
                finally:
                    edges.unpersist()
        else:
            while True:
                with self._rw.read():
                    if self._edges is not None and not self._edges_stale:
                        members = _walk(self._edges)
                        break
                self.recompute()  # exclusive; then retry the read
        ents = [
            {"id": m.rid, "score": float(m.score), "hop_distance": m.hop_distance}
            for m in members
        ]
        avg = sum(e["score"] for e in ents) / len(ents) if ents else 0.0
        return {
            "id": entity_id,
            "primary_id": entity_id,
            "entities": ents,
            "score": avg,
            "size": len(ents),
            "sample_fields": self._sample_fields([e["id"] for e in ents], avg, seed),
        }

    @staticmethod
    def _parse_field_weights(raw) -> dict | None:
        """Query-param or JSON-body FieldWeights -> {field: float}.
        A GET route delivers the value as a string — JSON-decode it;
        anything that is not a mapping of field -> number is a 400."""
        if not raw:
            return None
        if isinstance(raw, str):
            try:
                raw = json.loads(raw)
            except json.JSONDecodeError as e:
                raise ValueError(f"field_weights must be a JSON object: {e}")
        if not isinstance(raw, dict):
            raise ValueError("field_weights must be an object of field -> weight")
        try:
            return {str(k): float(v) for k, v in raw.items()}
        except (TypeError, ValueError):
            raise ValueError("field_weights values must be numbers")

    def _sample_fields(self, member_ids: list[str], group_score: float,
                       seed: dict) -> dict:
        """Per-field {value, agreement, confidence} over group members
        (MatchGroup.SampleFields, group.go:18-23, computed at :358-403):
        value = modal non-empty value, agreement = mode count / group
        size, confidence = agreement * group score (:403). Group sizes
        are <= max_group_size (100), so this is a driver-side fold over
        the seed's record, already read, and one bucket-pruned point read
        of the other members."""
        if not member_ids:
            return {}
        rows = [seed] if seed["id"] in member_ids else []
        others = [i for i in member_ids if i != seed["id"]]
        if others:
            with self._rw.read():
                rows += [
                    r.asDict() for r in self.store.read_for_ids(others)
                    .select("id", *ENTITY_FIELDS).collect()
                ]
        size = len(member_ids)
        out = {}
        for f in ENTITY_FIELDS:
            counts = Counter(r[f] for r in rows if r[f])
            if not counts:
                continue
            # deterministic mode: max count, ties to the smallest value
            # (the reference inherits Go map iteration order here)
            value, cnt = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            agreement = cnt / size
            out[f] = {
                "value": value,
                "agreement": agreement,
                "confidence": agreement * group_score,
            }
        return out


# ---------------------------------------------------------------------------
# HTTP layer
# ---------------------------------------------------------------------------

_ID_GROUP_RE = re.compile(r"^/entities/([^/]+)/group$")
_ID_RE = re.compile(r"^/entities/([^/]+)$")


def _make_handler(engine: ResolveEngine):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test runs
            pass

        def _send(self, code: int, payload: dict):
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _error(self, code: int, msg: str):
            self._send(code, {"error": msg})

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b"{}"
            return json.loads(raw or b"{}")

        def do_GET(self):  # noqa: N802
            from urllib.parse import parse_qsl, urlparse
            u = urlparse(self.path)
            q = dict(parse_qsl(u.query))
            try:
                if u.path == "/health":
                    self._send(200, {"status": "ok",
                                     "store_healthy": True,
                                     "entities": engine.count()})
                elif u.path == "/entities/count":
                    self._send(200, {"count": engine.count()})
                elif m := _ID_GROUP_RE.match(u.path):
                    self._send(200, engine.match_group(m.group(1), q))
                elif m := _ID_RE.match(u.path):
                    ent = engine.get_entity(m.group(1))
                    if ent is None:
                        self._error(404, "Entity not found")
                    else:
                        self._send(200, ent)
                else:
                    self._error(404, "route not found")
            except KeyError:
                self._error(404, "Entity not found")
            except ValueError as e:
                self._error(400, str(e))
            except Exception as e:  # noqa: BLE001
                self._error(500, str(e))

        def do_POST(self):  # noqa: N802
            try:
                if self.path == "/entities":
                    req = self._body()
                    ids = engine.add_entities([req])
                    self._send(201, {"id": ids[0]})
                elif self.path == "/entities/batch":
                    req = self._body()
                    ents = req.get("entities") or []
                    if not ents:
                        self._error(400, "No entities provided")
                        return
                    ids = engine.add_entities(ents)
                    self._send(201, {"status": "added", "count": len(ids),
                                     "ids": ids})
                elif self.path == "/match":
                    matches = engine.match_entity(self._body())
                    self._send(200, {"matches": matches, "count": len(matches)})
                elif self.path == "/match/text":
                    matches = engine.match_text(self._body())
                    self._send(200, {"matches": matches, "count": len(matches)})
                elif self.path == "/clusters/recompute":
                    edges = engine.recompute()
                    self._send(200, {"status": "recomputed",
                                     "edges": edges.count()})
                elif m := _ID_GROUP_RE.match(self.path):
                    self._send(200, engine.match_group(m.group(1), self._body()))
                else:
                    self._error(404, "route not found")
            except ValueError as e:
                self._error(400, str(e))
            except KeyError:
                self._error(404, "Entity not found")
            except Exception as e:  # noqa: BLE001
                self._error(500, str(e))

        def do_PUT(self):  # noqa: N802
            m = _ID_RE.match(self.path)
            if not m:
                self._error(404, "route not found")
                return
            try:
                engine.update_entity(m.group(1), self._body())
                self._send(200, {"status": "updated", "id": m.group(1)})
            except ValueError as e:
                self._error(400, str(e))
            except Exception as e:  # noqa: BLE001
                self._error(500, str(e))

        def do_DELETE(self):  # noqa: N802
            m = _ID_RE.match(self.path)
            if not m:
                self._error(404, "route not found")
                return
            try:
                engine.delete_entity(m.group(1))
                self._send(200, {"status": "deleted", "id": m.group(1)})
            except Exception as e:  # noqa: BLE001
                self._error(500, str(e))

    return Handler


def serve(engine: ResolveEngine, host: str = "127.0.0.1", port: int = 0):
    """Start the API server on a background thread; returns the server
    (``server.server_address`` carries the bound port; ``shutdown()``
    stops it)."""
    server = ThreadingHTTPServer((host, port), _make_handler(engine))
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
