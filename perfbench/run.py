"""spark-resolve benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload resolve_api --seed 1 --seconds 30 --trace 0

A run starts Spark at ``local[<cores>]`` in this one driver process and
generates the workload's inputs from ``--seed`` (both count toward
``setup_s``), then:

- ``--trace 0``: times one pass of the workload, the session's first,
  and prints the end-to-end metrics. The pass is cold on purpose: a batch
  resolve job and the ``__spark_entry__`` query suite each run once per
  Spark session, so users pay the first-pass cost every time, and a
  warm-up pass would nearly double each run (``--seconds`` in
  BENCHMARK.json stands for the length of a pass, which is fixed work);
- ``--trace 1``: makes one traced pass (see ``tracing.py``), cold like
  the pass an untraced run times, then whatever untraced pass the
  workload's gates need (``gate_passes``), and prints the per-layer
  metrics. The tracing overhead is ``traced_s`` minus ``pass_s`` of the
  untraced run with the same seed.

Either way the correctness gates run after the timed region, and the
details record the peak RSS of the driver, the JVM and the Python
workers over the passes and the share of CPU time the hypervisor stole
meanwhile. Peak RSS is a per-layer metric, not an end-to-end one: the
program's default 8 GB driver heap grows at the collector's pace, and
the figure's spread over ten runs came close to 0.25.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the details (seed, calibration probe, counters, per-layer numbers
under the layer names), which are also written with the spans to
``perfbench/_work/out/``. A failed correctness gate or a raised operation
counts as failed; the exit code is then 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


class Ops:
    """Operations attempted and failed in this run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)


WORKLOADS = ("resolve_api", "fastpath_queries")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _program_root() -> str:
    """The checkout root: the working directory, which must hold the
    program. Exits with status 2 when it does not."""
    root = os.getcwd()
    for rel in ("resolve_spark/__init__.py", "__spark_entry__.py", "tools/make_sf.py"):
        if not os.path.isfile(os.path.join(root, rel)):
            print(f"perfbench: {rel} not found; run from the root of a "
                  "spark-resolve checkout", file=sys.stderr)
            sys.exit(2)
    sys.path.insert(0, root)
    # the Python workers Spark starts import the program from here too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    return root


def main(argv=None) -> int:
    args = _parse(argv)
    root = _program_root()
    from harness import (PeakRss, Workdir, calibrate, cpu_steal, start_session,
                         stop_session)
    from tracing import Tracer, part, rollup

    if args.workload == "resolve_api":
        from resolve_api import ResolveApi as Workload
    else:
        from fastpath_queries import FastpathQueries as Workload

    work = Workdir(root, args.workload)
    ops = Ops()
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    detail["calib_s"] = calibrate()
    log_dir = work.dir("eventlog") if args.trace else None

    t0 = time.perf_counter()
    spark = start_session(work, log_dir)
    session_s = time.perf_counter() - t0
    try:
        wl = Workload(spark, work, args.seed, ops)
        t0 = time.perf_counter()
        detail["inputs"] = wl.generate()
        gen_s = time.perf_counter() - t0
        setup_s = session_s + gen_s
        detail["setup_parts_s"] = {"session": session_s, "generate": gen_s}

        steal0 = cpu_steal()
        if args.trace:
            # the traced pass is cold, like the pass an untraced run
            # times; after it come only the passes the gates need
            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            with PeakRss() as rss:
                counters = wl.traced_pass(tracer)
                passes = wl.gate_passes()
        else:
            with PeakRss() as rss:
                passes = [wl.timed_pass()]
        steal1 = cpu_steal()
        detail["steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        t0 = time.perf_counter()
        detail["checks"] = wl.check()
        detail["check_s"] = time.perf_counter() - t0
    finally:
        stop_session(spark)
    detail["passes_s"] = passes

    if args.trace:
        rows, totals = rollup(tracer.spans, log_dir)
        traced_s, layers_self_s = part(tracer.spans, wl.untraced_spans)
        metrics = {
            "calib_s": (detail["calib_s"], "s"),
            "traced_s": (traced_s, "s"),
            "layers_self_s": (layers_self_s, "s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
            "driver_s": (totals["driver_s"], "s"),
            "jobs": (totals["jobs"], "count"),
            "stages": (totals["stages"], "count"),
            "tasks": (totals["tasks"], "count"),
            "executor_run_s": (totals["run_s"], "s"),
            "executor_cpu_s": (totals["cpu_s"], "s"),
            "jvm_gc_s": (totals["gc_s"], "s"),
            "shuffle_read_mb": (totals["shuffle_read_mb"], "MB"),
            "shuffle_write_mb": (totals["shuffle_write_mb"], "MB"),
        }
        detail["layers"] = wl.layer_detail(rows, counters)
        with open(os.path.join(work.out, f"{args.workload}-{args.seed}-spans.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "rollup": rows, "totals": totals}, fh, indent=1)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (passes[0], "s"),
            "quality": (wl.quality, "ratio"),
        }
    detail["peak_rss_mb"] = rss.peak_mb
    detail["peak_rss_parts"] = rss.parts
    detail["errors"] = ops.errors
    work.cleanup()
    with open(os.path.join(work.out, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
