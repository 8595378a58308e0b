"""CLI driver (SURVEY.md §2.1 S12) — the batch-engine replacement for
the reference's flags (cmd/resolve/main.go:42-56):

    python -m resolve_spark ingest    --input files.parquet --store STORE
    python -m resolve_spark match     --input queries.parquet --store STORE --out OUT
    python -m resolve_spark resolve   --input files.parquet --out OUT [--checkpoint CK]
    python -m resolve_spark recompute-clusters --store STORE --out OUT
    python -m resolve_spark group     --store STORE --edges EDGES --id SEED

Submit on a cluster with:
    spark-submit --py-files resolve_spark.zip -m ... (or package as wheel)
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from resolve_spark.session import build_session
from resolve_spark.plans.pipeline import (
    ResolvePipeline, entities_pipeline_config, files_pipeline_config,
)


def _config(name: str, threshold: float):
    if name == "files":
        return files_pipeline_config(threshold)
    if name == "entities":
        return entities_pipeline_config(threshold)
    raise SystemExit(f"unknown --config {name}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="resolve_spark")
    ap.add_argument("verb", choices=["ingest", "match", "resolve",
                                     "recompute-clusters", "group", "serve",
                                     "estimate-weights", "evaluate", "fuse"])
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--input")
    ap.add_argument("--store")
    ap.add_argument("--edges")
    ap.add_argument("--out")
    ap.add_argument("--id")
    ap.add_argument("--config", default="files", help="files | entities")
    ap.add_argument("--config-file", default=None,
                    help="YAML/JSON engine config (reference config.go "
                         "schema); only matching.similarity_threshold is "
                         "read, as the default for --threshold; RESOLVE_* "
                         "env vars override")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--text", default=None,
                    help="'field=value; ...' match query (the reference "
                         "CLI's -match string form, match.go:427-468)")
    ap.add_argument("--field-scores", action="store_true", dest="field_scores",
                    help="include per-field similarity scores in match "
                         "output (cmd/resolve/main.go:55)")
    ap.add_argument("--details", action="store_true",
                    help="include matched_on + explanation in match "
                         "output (cmd/resolve/main.go:49)")
    ap.add_argument("--group-strategy", default="direct", dest="group_strategy",
                    help="direct | transitive | hybrid "
                         "(cmd/resolve/main.go:53)")
    ap.add_argument("--group-hops", type=int, default=2, dest="group_hops",
                    help="max hops for transitive grouping "
                         "(cmd/resolve/main.go:54)")
    ap.add_argument("--limit", type=int, default=10)
    ap.add_argument("--increment-from", dest="increment_from", default=None,
                    help="resolve only: a previous resolve --out dir; "
                         "treat --input as a NEW batch and merge it into "
                         "that run's edges without re-scoring the old "
                         "corpus (requires --prev-input)")
    ap.add_argument("--prev-input", dest="prev_input", default=None,
                    help="the already-resolved corpus parquet that "
                         "produced --increment-from (re-normalized "
                         "map-side; never re-paired or re-scored)")
    ap.add_argument("--checkpoint")
    ap.add_argument("--agree-at", type=float, default=0.9, dest="agree_at",
                    help="estimate-weights: per-field similarity at or "
                         "above this counts as agreement for the EM fit")
    ap.add_argument("--em-iterations", type=int, default=20,
                    dest="em_iterations")
    ap.add_argument("--master", default=None)
    ap.add_argument("--pred", default=None,
                    help="evaluate: parquet with (id, cluster_id) predictions")
    ap.add_argument("--truth", default=None,
                    help="evaluate: parquet with (id, truth_id) gold classes")
    ap.add_argument("--pred-col", default="cluster_id", dest="pred_col")
    ap.add_argument("--truth-col", default="truth_id", dest="truth_col")
    ap.add_argument("--clusters", default=None,
                    help="fuse: a resolve run's {out}/clusters parquet "
                         "(rid, cluster_id, ...)")
    ap.add_argument("--rules", default=None,
                    help="fuse: comma-separated field=rule survivorship "
                         "spec; rule is mode|longest|min|max|first")
    ap.add_argument("--conflicts-out", dest="conflicts_out", default=None,
                    help="fuse: also write the per-field conflict report "
                         "(data-steward queue) to this parquet path")
    ap.add_argument("--unique", action="store_true",
                    help="match (batch): enforce the one-to-one mapping "
                         "constraint of classical record linkage — each "
                         "query and each store record matched at most "
                         "once, greedy by score (operators/assignment.py)")
    args = ap.parse_args(argv)

    threshold = args.threshold
    if args.config_file or threshold is None:
        from resolve_spark.config import load_config
        file_cfg = load_config(args.config_file)
        if threshold is None:
            threshold = file_cfg["matching"]["similarity_threshold"]

    spark = build_session(app_name=f"resolve_{args.verb}", master=args.master)
    cfg = _config(args.config, threshold)
    pipe = ResolvePipeline(spark, cfg, checkpoint_dir=args.checkpoint)

    def _with_block_key(df):
        # canopy-less configs (e.g. files) have no block_key column; the
        # first multi-pass key (token signature) is the equi-join key
        if "block_key" not in df.columns and "block_keys" in df.columns:
            df = df.withColumn("block_key", F.element_at("block_keys", 1))
        return df

    if args.verb == "ingest":
        if args.input.endswith(".json"):
            # the reference CLI's -ingest file shape
            # (cmd/resolve/main.go:131-156, testdata/sample-entities.json)
            from resolve_spark.sources.tables import read_entities_json
            df = read_entities_json(spark, args.input)
        else:
            df = spark.read.parquet(args.input)
        prepared = _with_block_key(pipe.blocked(pipe.normalized(df)))
        prepared.write.mode("append").parquet(args.store)
        print(json.dumps({"ingested": prepared.count(), "store": args.store}))

    elif args.verb == "resolve":
        from resolve_spark.sources.checkpoint import input_data_fingerprint
        df = spark.read.parquet(args.input)
        if args.increment_from:
            if not args.prev_input:
                print("--increment-from requires --prev-input", file=sys.stderr)
                return 2
            from resolve_spark.plans.pipeline import PipelineRun
            prev = PipelineRun(
                normalized=pipe.normalized(spark.read.parquet(args.prev_input)),
                pairs=None,
                edges=spark.read.parquet(f"{args.increment_from}/edges"),
                clusters=None, stats=None, counters={},
            )
            run = pipe.run_incremental(prev, df)
        else:
            # path + file listing (sizes/mtimes): same --checkpoint dir
            # with CHANGED data at the same path recomputes instead of
            # resuming
            run = pipe.run(df, input_fp=input_data_fingerprint(args.input))
        run.clusters.write.mode("overwrite").parquet(f"{args.out}/clusters")
        run.edges.write.mode("overwrite").parquet(f"{args.out}/edges")
        if run.stats is not None:
            run.stats.write.mode("overwrite").parquet(f"{args.out}/stats")
        print(json.dumps({"clusters": run.clusters.count(), **run.counters}))

    elif args.verb == "match" and (
        args.text or (args.input or "").endswith(".json")
    ):
        # the reference CLI's single-entity forms: the string query
        # (resolve -match "name=X; city=Y", match.go:427-468) and the
        # JSON entity file (resolve -match-file query.json,
        # cmd/resolve/main.go:45,113-114). The query row runs the SAME
        # normalize/embed/block stages the store was ingested with, and
        # candidates come from blocking-key intersection — per-query
        # cost is bounded by the query's block sizes, not the store
        # size (the API solved this with SRP-LSH signatures stored in
        # its entity store, api.ResolveEngine._match_frame; the blocked
        # store already carries block_keys so key intersection is the
        # zero-extra-state equivalent here).
        from resolve_spark.operators.matching import find_matches_fields
        from resolve_spark.functions.kernels import parse_query_fields
        from resolve_spark.plans.pipeline import raw_input_columns
        store = spark.read.parquet(args.store)  # keeps block_keys

        if args.text:
            fields = parse_query_fields(args.text)
            if not fields:
                raise SystemExit("--text has no field=value pairs")
            qid = "q-text"
        else:
            with open(args.input) as fh:
                entity = json.load(fh)
            if isinstance(entity, list):
                if len(entity) != 1:
                    raise SystemExit(
                        "--input JSON for match must hold ONE entity "
                        "(the reference's -match-file shape); batch "
                        "matching takes a parquet --input"
                    )
                entity = entity[0]
            fields = {k: str(v) for k, v in (entity.get("fields") or {}).items()}
            qid = str(entity.get("id") or "q-file")

        def _prepare_query(qdf):
            for c in raw_input_columns(cfg):
                if c not in qdf.columns:
                    qdf = qdf.withColumn(c, F.lit(""))
            return pipe.blocked(pipe.normalized(qdf))

        use_vec = cfg.use_vectors and "vector" in store.columns
        # query_prepare also when vectors are in play: normalized() is
        # what embeds the one-row query, so gating prep on block_keys
        # alone would hand find_matches a query with no "vector" column
        # against a vector-bearing store (AnalysisException)
        prep = "block_keys" in store.columns or use_vec
        out = find_matches_fields(
            spark, fields, store, entity_id=cfg.id_col,
            limit=args.limit, threshold=threshold,
            query_prepare=_prepare_query if prep else None,
            # reference score semantics (match.go:229-235): no weights
            # on the CLI path -> the score IS the vector similarity
            vector_col="vector" if use_vec else None,
            blend_with_vector=False if use_vec else None,
            query_id=qid,
        )
        rows = [r.asDict(recursive=True) for r in out.collect()]
        for d in rows:
            if not args.field_scores:  # main.go:55 — opt-in
                d.pop("field_scores", None)
            if not args.details:       # main.go:49 — opt-in
                d.pop("matched_on", None)
                d.pop("explanation", None)
        print(json.dumps({"matches": len(rows), "results": rows[:args.limit]},
                         default=str))

    elif args.verb == "match":
        from resolve_spark.operators.matching import find_matches
        store = _with_block_key(spark.read.parquet(args.store))
        queries = spark.read.parquet(args.input)
        queries = _with_block_key(pipe.blocked(pipe.normalized(queries)))
        qid = cfg.id_col if cfg.id_col in queries.columns else "query_id"
        out = find_matches(
            queries.withColumnRenamed(qid, "query_id"), store,
            list(cfg.specs), entity_id=cfg.id_col,
            limit=args.limit, threshold=threshold,
        )
        if args.unique:
            # one-to-one post-assignment: keep each (query, store) row
            # only if the greedy matching selected that exact pair
            from resolve_spark.operators.assignment import greedy_one_to_one
            chosen = greedy_one_to_one(
                out.select("query_id", "match_id", "score"),
                id_a="query_id", id_b="match_id",
            ).select("query_id", "match_id")
            # each surviving query has exactly ONE row now; its
            # pre-assignment rank (2, 3, ...) would break rank==1
            # consumers, so re-rank under the constraint
            out = out.join(chosen, ["query_id", "match_id"]).withColumn(
                "rank", F.lit(1)
            )
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"matches": out.count(), "out": args.out,
                          "unique": bool(args.unique)}))

    elif args.verb == "recompute-clusters":
        # B3 parity: re-derive blocking keys over the whole store
        store = spark.read.parquet(args.store)
        drop = [c for c in ("block_key", "block_keys") if c in store.columns]
        re_blocked = pipe.blocked(store.drop(*drop))
        re_blocked.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"recomputed": re_blocked.count(), "out": args.out}))

    elif args.verb == "estimate-weights":
        # Unsupervised FieldWeights suggestion: block + score the input
        # at threshold 0 (every candidate pair kept), binarize per-field
        # similarities at --agree-at, EM-fit the Fellegi-Sunter model
        # over the pattern contingency table, and print per-field log2
        # evidence weights plus a ready-to-use FieldWeights suggestion
        # (positive agree weights scaled to mean 1 — the weighted score
        # is scale-invariant, only ratios matter). No labels needed.
        import dataclasses
        import math as _math

        from resolve_spark.operators.fellegi_sunter import fs_posterior_edges
        from resolve_spark.operators.pairs import candidate_pairs

        df = spark.read.parquet(args.input)
        normalized = pipe.normalized(df).persist()
        blocked = pipe.blocked(normalized).select(cfg.id_col, "block_keys")
        pairs, _ = candidate_pairs(blocked, cfg.id_col, cfg.blocking,
                                   with_stats=False, count_pairs=False)
        # threshold 0 AND gate off: the length-ratio gate exists to skip
        # obvious non-matches in production scoring, but u = P(agree |
        # non-match) needs exactly those pairs in the contingency table
        # — estimating over gate survivors would inflate u and shrink
        # every suggested weight
        open_pipe = ResolvePipeline(
            spark,
            dataclasses.replace(cfg, threshold=0.0, length_ratio_gate=None),
        )
        edges = open_pipe.score(pairs, normalized)
        fields = [s.name for s in cfg.specs]
        _, params = fs_posterior_edges(
            edges, fields, agree_at=args.agree_at,
            iterations=args.em_iterations,
        )
        # params.fields carry the binarized g_<field> names; report the
        # original spec names (same order by construction)
        agree = {
            f: _math.log2(params.m[i] / params.u[i])
            for i, f in enumerate(fields)
        }
        pos = {f: max(w, 0.0) for f, w in agree.items()}
        mean = (sum(pos.values()) / len(pos)) if any(pos.values()) else 1.0
        print(json.dumps({
            "lambda": params.lam,
            "fields": {
                f: {
                    "m": params.m[i],
                    "u": params.u[i],
                    "agree_weight": agree[f],
                    "disagree_weight": _math.log2(
                        (1 - params.m[i]) / (1 - params.u[i])
                    ),
                }
                for i, f in enumerate(fields)
            },
            "suggested_field_weights": {
                f: (w / mean if mean else 1.0) for f, w in pos.items()
            },
            "agree_at": args.agree_at,
        }))

    elif args.verb == "evaluate":
        # Extrinsic clustering evaluation against gold classes: BCubed
        # (record-weighted) + adjusted Rand (chance-corrected pair
        # counting) — both contingency-table-only, so the check costs
        # O(cells), never O(pairs). The two metrics are independent job
        # graphs; persisting the inputs makes the second metric read
        # cached blocks instead of re-scanning both parquet files.
        from resolve_spark.operators.diagnostics import (
            adjusted_rand_index,
            bcubed,
        )
        id_col = args.id or "id"
        pred = spark.read.parquet(args.pred).persist()
        truth = spark.read.parquet(args.truth).persist()
        b = bcubed(pred, truth, id_col=id_col, pred_col=args.pred_col,
                   truth_col=args.truth_col).collect()[0]
        a = adjusted_rand_index(pred, truth, id_col=id_col,
                                pred_col=args.pred_col,
                                truth_col=args.truth_col).collect()[0]
        pred.unpersist()
        truth.unpersist()
        print(json.dumps({
            "n_records": b["n_records"],
            "bcubed_precision": b["bcubed_precision"],
            "bcubed_recall": b["bcubed_recall"],
            "bcubed_f1": b["bcubed_f1"],
            "ari": a["ari"],
        }))

    elif args.verb == "fuse":
        # The production loop's final verb: resolve -> evaluate -> FUSE
        # -> golden-record table. One golden record per cluster under
        # per-field survivorship rules (operators/fusion.py, oracled as
        # q86/q99); optionally also writes the conflict report the
        # data-steward queue consumes.
        from resolve_spark.operators.fusion import (
            fuse_clusters,
            fusion_conflicts,
        )
        if not (args.input and args.clusters and args.rules and args.out):
            print("fuse requires --input --clusters --rules --out",
                  file=sys.stderr)
            return 2
        rules = {}
        for part in args.rules.split(","):
            part = part.strip()
            if not part:
                continue
            if "=" not in part:
                print(f"--rules entry '{part}' is not field=rule",
                      file=sys.stderr)
                return 2
            fld, rule = part.split("=", 1)
            rules[fld.strip()] = rule.strip()
        from resolve_spark.operators.fusion import _RULES
        bad_rules = {f: r for f, r in rules.items() if r not in _RULES}
        if bad_rules:
            print(
                f"unknown survivorship rule(s) {bad_rules}; "
                f"valid: {sorted(_RULES)}",
                file=sys.stderr,
            )
            return 2
        id_col = args.id or cfg.id_col
        entities = spark.read.parquet(args.input)
        clusters = spark.read.parquet(args.clusters)
        if id_col not in clusters.columns and "rid" in clusters.columns:
            clusters = clusters.withColumnRenamed("rid", id_col)
        asg = clusters.select(id_col, "cluster_id").persist()
        golden = fuse_clusters(entities, asg, rules, id_col=id_col)
        golden.write.mode("overwrite").parquet(args.out)
        result = {"golden_records": golden.count(), "out": args.out,
                  "rules": rules}
        if args.conflicts_out:
            conflicts = fusion_conflicts(
                entities, asg, list(rules.keys()), id_col=id_col
            )
            conflicts.write.mode("overwrite").parquet(args.conflicts_out)
            result["conflicted_cluster_fields"] = conflicts.count()
            result["conflicts_out"] = args.conflicts_out
        asg.unpersist()
        print(json.dumps(result))

    elif args.verb == "serve":
        # S11 — the reference's REST surface (api/server.go:70-89)
        import time as _time

        from resolve_spark.api import ResolveEngine, serve
        engine = ResolveEngine(spark, args.store)
        server = serve(engine, host="0.0.0.0", port=args.port)
        print(json.dumps({"serving": f"0.0.0.0:{server.server_address[1]}",
                          "store": args.store}), flush=True)
        try:
            while True:
                _time.sleep(3600)
        except KeyboardInterrupt:
            server.shutdown()

    elif args.verb == "group":
        # G1 dispatch parity (cmd/resolve/main.go:52-54: --group
        # --group-strategy --group-hops); the seed itself is member
        # hop 0 / score 1.0 (group.go:72-74)
        from resolve_spark.operators.clustering import match_group
        members = match_group(
            spark.read.parquet(args.edges), args.id, threshold=threshold,
            strategy=args.group_strategy, hops_limit=args.group_hops,
            max_group_size=args.limit,
        )
        print(json.dumps({
            "seed": args.id, "strategy": args.group_strategy,
            "members": [(m.rid, m.score, m.hop_distance) for m in members],
        }))

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
