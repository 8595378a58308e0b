"""SparkSession construction tuned for this engine.

Scale notes (targets a multi-executor cluster; tested on local[N]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- Arrow on: every pandas UDF crossing is columnar and batched.
- shuffle.partitions sized to cores locally; on a real cluster this is
  set to ~2-3x total executor cores via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "resolve_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 4
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster overrides via extra_conf/spark-submit
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cores if n in ("", "*") else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # guide §3.1/§9: allow shuffled-hash joins where a side's
        # per-partition build fits (the engine's joins are key-bounded
        # by the pair budget); AQE can also rewrite SMJ->SHJ when every
        # post-shuffle partition is under the local-map threshold.
        # Scale note: on a memory-tight cluster set the threshold lower
        # (or 0) via extra_conf — the setting trades sort CPU for build
        # memory and is NOT local[32]-specific.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "134217728",
        )
        # large Arrow batches: the numpy-vectorized scoring kernels
        # (functions/vectorized.py) amortize per-batch setup and get
        # bigger same-length buckets; rows are small (id + short strings)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # no per-call origin capture: with it on, every functions.* call
        # and Column method also looks up the session, reads a conf, walks
        # the Python stack and makes JVM calls to record its file:line —
        # most of the py4j round trips of building a plan. The cost: a
        # SQL runtime error no longer names the Python line of the Column
        # call (the Python traceback is unchanged).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # shuffle/spill scratch: on a cluster every executor brings its own
    # local disks; on this one box the default /tmp is a single shared
    # device and serializes parallel shuffle IO. tmpfs restores the
    # per-core-scaling behavior a real cluster has — but only when the
    # tmpfs is actually big enough (Docker defaults /dev/shm to 64MB,
    # where any nontrivial shuffle would die with ENOSPC).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 8 << 30:  # >= 8 GiB free
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
