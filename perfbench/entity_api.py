"""The API half of ``resolve_api``: the query-time path,
``ResolveEngine`` over a seeded ``datagen.synth_entities`` store, driven
in a closed loop by one client (this process, one request after
another).

Set-up builds the store through ``add_entities``. One pass is the fixed
request script ``SCRIPT``: a blocked-route match for a planted variant
held out of the store, an update, a group request (the first after a
write, so it pays the store-wide ``candidate_pairs`` + scoring recompute
of the edge cache) and a second group request (served from the cache).
Its wall is this half's part of ``pass_s``. The seed picks the entities,
the variants and every request's target.

The default ANN match route costs about 21 s per request whatever the
store size, more than the rest of a traced run can spare, so the
benchmark sends it no request: the traced pass calls its layers,
``lsh_topk`` and ``find_matches``, directly, on all held-out variants in
one batch and with the route's parameters. That batch gives the ANN
recall gate.

Gates, after the timed region: every blocked-route match returns the
held-out variant's base entity; every update reads back through
``get_entity``; in traced runs, the ANN recall over the batch reaches
``ANN_RECALL_FLOOR``. A request that raises counts as failed.
"""

from __future__ import annotations

import random
import time

from pyspark.sql import functions as F

from resolve_spark import datagen
from resolve_spark.api import ENTITY_FIELDS, ResolveEngine
from resolve_spark.config import DEFAULT_LIMIT, DEFAULT_SIMILARITY_THRESHOLD
from resolve_spark.operators.ann import lsh_topk
from resolve_spark.operators.matching import find_matches
from resolve_spark.operators.scoring import specs_from_options

#: base entities kept per seed, and the share of them with a planted variant
N_BASE = 500
DUP_RATE = 0.5
POOL = 2
#: planted variants kept out of the store as match queries
HELD_OUT = 100
SCRIPT = ("match_blocked", "update", "group", "group")
#: the traced pass's span per script request, and the span around them all
SCRIPT_SPANS = ("api.match_blocked", "api.update", "api.group", "api.group_cached")
SCRIPT_SPAN = "entity_api.script"
#: ANN recall measured on probe runs was 0.84-0.96 (100-116 queries)
ANN_RECALL_FLOOR = 0.75
#: the engine's ANN candidate parameters (``ResolveEngine._ann_candidates``)
ANN_K, ANN_PLANES, ANN_TABLES = max(3 * DEFAULT_LIMIT, 30), 8, 8


def _fields(row) -> dict:
    return {f: getattr(row, f) for f in ENTITY_FIELDS}


class EntityApi:
    name = "entity_api"

    def __init__(self, spark, work, seed: int, ops):
        self.spark, self.work, self.seed, self.ops = spark, work, seed, ops
        self.rng = random.Random(seed)
        self.log: list[tuple[str, object, object]] = []
        self.request_s: list[dict[str, list[float]]] = []
        self.ann_recall: float | None = None
        self._rev = 0

    @property
    def quality(self) -> float:
        """Share of blocked-route matches that returned the base entity."""
        hits = [self._hit(req, res) for kind, req, res in self.log
                if kind == "match_blocked"]
        return sum(hits) / len(hits) if hits else 0.0

    def generate(self) -> dict:
        pool = datagen.synth_entities(self.spark, n_base=N_BASE * POOL,
                                      dup_rate=DUP_RATE)
        rows = sorted(pool.where(
            F.pmod(F.xxhash64("entity_uid", F.lit(self.seed)), F.lit(POOL)) == 0
        ).collect(), key=lambda r: r.id)
        variants = [r for r in rows if r.is_variant]
        self.rng.shuffle(variants)
        self.held_out = variants[:HELD_OUT]
        held = {r.id for r in self.held_out}
        stored = [r for r in rows if r.id not in held]
        ids = {r.id for r in stored}
        self.base_ids = sorted(r.id for r in stored if not r.is_variant)
        # group seeds whose variant is stored too, so each group has members
        self.group_ids = sorted(i for i in self.base_ids if i + "v" in ids)
        # each update goes to another entity, so each reads back alone
        self.update_ids = self.rng.sample(self.base_ids, 2 * len(SCRIPT))
        self.engine = ResolveEngine(self.spark, self.work.dir("store"))
        self.engine.add_entities([{"id": r.id, **_fields(r)} for r in stored])
        return {"stored": len(stored), "held_out": len(self.held_out),
                "group_seeds": len(self.group_ids)}

    # -- requests --------------------------------------------------------

    def _next(self, kind: str):
        if kind == "match_blocked":
            return self.held_out.pop()
        if kind == "group":
            return self.rng.choice(self.group_ids)
        self._rev += 1
        return (self.update_ids.pop(),
                {"email": f"bench-{self.seed}-{self._rev}@example.com",
                 "metadata": {"rev": str(self._rev)}})

    def _send(self, kind: str, req):
        e = self.engine
        if kind == "match_blocked":
            return e.match_entity({"entity": _fields(req), "use_clustering": True})
        if kind == "group":
            return e.match_group(req, {})
        return e.update_entity(*req)

    def _request(self, kind: str, walls: dict | None = None):
        """One request, counted as an operation; a raise fails it."""
        req = self._next(kind)
        t0 = time.perf_counter()
        try:
            res = self._send(kind, req)
        except Exception as exc:  # noqa: BLE001 - any raise is a failed request
            res = None
            self.ops.check(False, f"{kind} {req!r} raised {exc!r}")
        else:
            self.ops.check(True)
        if walls is not None:
            walls.setdefault(kind, []).append(time.perf_counter() - t0)
        self.log.append((kind, req, res))

    @staticmethod
    def _hit(req, res) -> bool:
        """A match for a planted variant returned its base entity."""
        return bool(res) and any(m["id"] == req.id[:-1] for m in res)

    def timed_pass(self) -> float:
        walls: dict[str, list[float]] = {}
        t0 = time.perf_counter()
        for kind in SCRIPT:
            self._request(kind, walls)
        wall = time.perf_counter() - t0
        self.request_s.append(walls)
        return wall

    # -- gates -----------------------------------------------------------

    def check(self) -> dict:
        for kind, req, res in self.log:
            if kind == "match_blocked":
                self.ops.check(self._hit(req, res),
                               f"blocked match for {req.id} missed {req.id[:-1]}")
            elif kind == "update":
                eid, payload = req
                got = self.engine.get_entity(eid) or {}
                self.ops.check(
                    got.get("email") == payload["email"]
                    and (got.get("metadata") or {}).get("rev") == payload["metadata"]["rev"],
                    f"update of {eid} did not read back")
        if self.ann_recall is not None:
            self.ops.check(self.ann_recall >= ANN_RECALL_FLOOR,
                           f"ANN recall {self.ann_recall:.3f} below {ANN_RECALL_FLOOR}")
        return {"blocked_recall": self.quality,
                "ann_batch_recall": self.ann_recall,
                "request_s": self.request_s}

    # -- traced pass -----------------------------------------------------

    def traced_pass(self, tracer) -> dict:
        """The request script, each request in its span (``SCRIPT_SPANS``),
        then the default ANN route's layers called directly on every
        held-out variant at once, and the store's point read and upsert."""
        queries = self._prepared(self.held_out)
        store = self.engine.store
        specs = specs_from_options(list(ENTITY_FIELDS), None, None, None)
        read_ids = self.rng.sample(self.base_ids, 3)
        with tracer.span(self.name):
            with tracer.span(SCRIPT_SPAN):
                for kind, span in zip(SCRIPT, SCRIPT_SPANS):
                    with tracer.span(span):
                        self._request(kind)
            # read after the requests: the update rewrote a bucket
            stored = store.read()
            with tracer.span("ann.lsh_topk"):
                cand = lsh_topk(
                    queries.select("query_id", F.col("vector").alias("embedding")),
                    stored.select(F.col("id").alias("cand_id"),
                                  F.col("vector").alias("embedding")),
                    k=ANN_K, planes=ANN_PLANES, tables=ANN_TABLES,
                ).select(F.col("query_id").alias("id_a"),
                         F.col("cand_id").alias("id_b")).persist()
                cand.count()
            with tracer.span("matching.find_matches"):
                out = find_matches(
                    queries, stored, specs, entity_id="id", block_key=None,
                    candidates=cand, limit=DEFAULT_LIMIT,
                    threshold=DEFAULT_SIMILARITY_THRESHOLD, vector_col="vector",
                    blend_with_vector=False,
                ).select("query_id", "match_id").collect()
            with tracer.span("store.read"):
                for eid in read_ids:
                    store.read_for_ids([eid]).collect()
            with tracer.span("store.upsert"):
                store.upsert(queries.limit(1).withColumnRenamed("query_id", "id"))
        cand.unpersist()
        hits = {r.query_id for r in out if r.match_id == r.query_id[:-1]}
        self.ann_recall = len(hits) / queries.count()
        return {"ann_queries": queries.count()}

    def _prepared(self, rows):
        """The held-out variants as the engine prepares a query (normalized,
        block key, embedding): added through the API to a store of their
        own and read back."""
        eng = ResolveEngine(self.spark, self.work.dir("queries"))
        eng.add_entities([{"id": r.id, **_fields(r)} for r in rows])
        return eng.store.read().withColumnRenamed("id", "query_id").persist()

    def layer_detail(self, rows: dict[str, dict], counters: dict) -> dict:
        out = {}
        for span in SCRIPT_SPANS:
            r = rows[span]
            out.update({f"{span}.{k}": r[src] for k, src in (
                ("s", "s"), ("jobs", "jobs"), ("stages", "stages"),
                ("tasks", "tasks"), ("cpu_s", "cpu_s"),
                ("shuffle_mb", "shuffle_write_mb"))})
        out.update({
            "ann.lsh_topk.s": rows["ann.lsh_topk"]["s"],
            "ann.lsh_topk.stages": rows["ann.lsh_topk"]["stages"],
            "matching.find_matches.s": rows["matching.find_matches"]["s"],
            "store.read.s": rows["store.read"]["s"],
            "store.upsert.s": rows["store.upsert"]["s"],
            "match_ann_recall": self.ann_recall,
        })
        out.update(counters)
        return out
