"""Workload ``resolve_api``: the batch job and the query-time path of the
same engine in one run, ``files_resolve`` then ``entity_api``.

Both share the ``blocking``, ``pairs`` and ``scoring`` layers (the batch
pipeline over a corpus; the API's blocked match and its edge-cache
recompute over the store), and neither reaches the entry-file fast
paths, so ``fastpath_queries`` stays their control. They run in one
Spark session because each run pays about 15 s of fixed cost (Python
and JVM start, Python workers, shutdown) that a third workload would
pay 22 more times.

``pass_s`` is the batch pass plus the request script; the parts are in
the details line. ``quality`` is the lower of the batch's pairwise F1
and the blocked-route match recall.
"""

from __future__ import annotations

from entity_api import SCRIPT_SPAN, EntityApi
from files_resolve import FilesResolve


class ResolveApi:
    name = "resolve_api"
    #: the traced spans that do what an untraced pass does
    untraced_spans = ("files_resolve", SCRIPT_SPAN)

    def __init__(self, spark, work, seed: int, ops):
        self.files = FilesResolve(spark, work, seed, ops)
        self.entity = EntityApi(spark, work, seed, ops)
        self.parts: list[dict[str, float]] = []

    @property
    def quality(self) -> float:
        return min(self.files.quality, self.entity.quality)

    def generate(self) -> dict:
        return {"files_resolve": self.files.generate(),
                "entity_api": self.entity.generate()}

    def timed_pass(self) -> float:
        part = {"files_resolve": self.files.timed_pass(),
                "entity_api": self.entity.timed_pass()}
        self.parts.append(part)
        return sum(part.values())

    def gate_passes(self) -> list[float]:
        """After a traced pass, one untraced batch pass: the batch gates
        take a ``ResolvePipeline.run`` result, and its counters must
        repeat the traced ones. The API gates work on the traced
        requests."""
        return [self.files.timed_pass()]

    def check(self) -> dict:
        return {"passes": self.parts,
                "files_resolve": self.files.check(),
                "entity_api": self.entity.check()}

    def traced_pass(self, tracer) -> dict:
        with tracer.span(self.name):
            return {"files_resolve": self.files.traced_pass(tracer),
                    "entity_api": self.entity.traced_pass(tracer)}

    def layer_detail(self, rows: dict[str, dict], counters: dict) -> dict:
        return {**self.files.layer_detail(rows, counters["files_resolve"]),
                **self.entity.layer_detail(rows, counters["entity_api"])}
