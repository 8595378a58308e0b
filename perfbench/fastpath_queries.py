"""Workload ``fastpath_queries``: a fixed list of entry-file queries from
``__spark_entry__.queries()`` over tables that ``tools/make_sf.gen``
generates from the run's seed.

One pass runs every query in ``QUERIES`` once and collects its rows;
``pass_s`` is the summed wall. Collecting, not ``.count()``, makes every
output column be computed: a count lets Spark prune columns the query
would otherwise compute. After the timed region, the pass's rows (the
traced pass's, in a traced run) are compared with each query's
``oracle_sql()`` run by DuckDB on the same tables (row count plus an
order-insensitive comparison of values).
"""

from __future__ import annotations

import contextlib
import decimal
import importlib.util
import io
import math
import os
import time

import duckdb

from resolve_spark.sources.tables import TPCH_TABLES

#: gated fast paths rewritten in round 7, then the small leaves that pay
#: the per-table repartition in ``_t()``
QUERIES = (
    "q04_levenshtein_pairs", "q05_jaccard_pairs", "q12_connected_components",
    "q74_containment_pairs", "q85_fs_levels", "q87_bridge_prune",
    "q91_meta_blocking", "q101_wjaccard_icws", "q103_greedy_linkage",
    "q104_wjaccard_join",
    "q10_topk_per_group", "q40_windowed_events", "q42_user_sessions",
    "q93_numeric_temporal", "q95_match_tiers",
)
#: scale factor of the generated tables
SF = 0.005


def _cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    return str(v)


def _normalized(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


class FastpathQueries:
    name = "fastpath_queries"
    #: the traced spans that do what an untraced pass does
    untraced_spans = (name,)

    def __init__(self, spark, work, seed: int, ops):
        import __spark_entry__ as entry

        self.spark, self.work, self.seed, self.ops = spark, work, seed, ops
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.sf_dir = work.dir("tables")
        self.collected: dict | None = None
        self.passed: list[bool] = []
        self.query_s: list[dict[str, float]] = []
        spec = importlib.util.spec_from_file_location(
            "make_sf", os.path.join(os.getcwd(), "tools", "make_sf.py"))
        self._make_sf = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self._make_sf)

    @property
    def quality(self) -> float:
        return sum(self.passed) / len(self.passed) if self.passed else 0.0

    def generate(self) -> dict:
        with contextlib.redirect_stdout(io.StringIO()):
            self._make_sf.gen(SF, self.sf_dir, seed=self.seed)
        return {"sf": SF}

    def check(self) -> dict:
        """Compare the pass's rows with the oracles."""
        con = duckdb.connect()
        for t in TPCH_TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for q in QUERIES:
            cols, rows = self.collected[q]
            res = con.execute(self.oracles[q])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ok = (sorted(cols) == sorted(dcols)
                  and _normalized(cols, rows) == _normalized(dcols, drows))
            self.passed.append(ok)
            self.ops.check(ok, f"{q}: {len(rows)} rows differ from the oracle's {len(drows)}")
            out[q] = ok
        con.close()
        return {"oracle_match": out, "query_s": self.query_s}

    def _collect(self, q: str) -> tuple[list[str], list[tuple]]:
        df = self.queries[q](self.spark, self.sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def timed_pass(self) -> float:
        results, walls = {}, {}
        for q in QUERIES:
            t0 = time.perf_counter()
            results[q] = self._collect(q)
            walls[q] = time.perf_counter() - t0
        self.collected = results
        self.query_s.append(walls)
        return sum(walls.values())

    def gate_passes(self) -> list[float]:
        """The oracle check needs no pass beyond the traced one."""
        return []

    def traced_pass(self, tracer) -> dict:
        results = {}
        with tracer.span(self.name):
            for q in QUERIES:
                with tracer.span(q):
                    results[q] = self._collect(q)
        self.collected = results
        return {q: len(rows) for q, (_c, rows) in results.items()}

    def layer_detail(self, rows: dict[str, dict], counters: dict) -> dict:
        out = {}
        for q in QUERIES:
            key, r = q.split("_", 1)[0], rows[q]
            out.update({f"{key}.s": r["self_s"], f"{key}.tasks": r["tasks"],
                        f"{key}.shuffle_mb": r["shuffle_write_mb"],
                        f"{key}.cpu_s": r["cpu_s"], f"{key}.rows_out": counters[q]})
        return out
