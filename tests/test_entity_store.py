"""EntityStore: partition-pruned upsert/delete (reference point-update
semantics, weaviate.go:549-622) — untouched bucket partitions must keep
their files byte-identical; touched buckets rewrite correctly.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from resolve_spark.sources.tables import EntityStore


def _partition_state(path: str) -> dict[str, dict[str, tuple[float, str]]]:
    """bucket dir -> {file: (mtime, sha256)} for every parquet part."""
    out = {}
    for d in os.listdir(path):
        if not d.startswith("_bucket="):
            continue
        files = {}
        full = os.path.join(path, d)
        for f in os.listdir(full):
            if f.endswith(".parquet"):
                p = os.path.join(full, f)
                files[f] = (os.path.getmtime(p),
                            hashlib.sha256(open(p, "rb").read()).hexdigest())
        out[d] = files
    return out


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    path = str(tmp_path / "store")
    store = EntityStore(spark, path, id_col="id", n_buckets=8)
    base = spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(200)], ["id", "name", "bal"]
    )
    store.init(base)
    before = _partition_state(path)
    assert len(before) > 4  # data spread over several buckets

    # update two ids + insert one new
    updates = spark.createDataFrame(
        [(7, "NEW7", 700.0), (13, "NEW13", 1300.0), (999, "n999", 9.0)],
        ["id", "name", "bal"],
    )
    store.upsert(updates)
    touched = {
        f"_bucket={r[0]}" for r in spark.createDataFrame(
            [(7,), (13,), (999,)], ["id"]
        ).select(F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(8))).collect()
    }
    after = _partition_state(path)
    for d, files in before.items():
        if d not in touched:
            assert after[d] == files, f"untouched partition {d} was rewritten"
    # content correct
    got = {r["id"]: (r["name"], r["bal"]) for r in store.read().collect()}
    assert got[7] == ("NEW7", 700.0)
    assert got[13] == ("NEW13", 1300.0)
    assert got[999] == ("n999", 9.0)
    assert len(got) == 201


def test_delete_prunes_and_drops_empty_buckets(spark, tmp_path):
    path = str(tmp_path / "store")
    store = EntityStore(spark, path, id_col="id", n_buckets=4)
    base = spark.createDataFrame([(i, f"n{i}") for i in range(40)], ["id", "name"])
    store.init(base)
    before = _partition_state(path)

    store.delete(spark.createDataFrame([(5,), (6,)], ["id"]))
    got = {r["id"] for r in store.read().collect()}
    assert got == set(range(40)) - {5, 6}

    touched = {
        f"_bucket={r[0]}" for r in spark.createDataFrame([(5,), (6,)], ["id"])
        .select(F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(4))).collect()
    }
    after = _partition_state(path)
    for d, files in before.items():
        if d not in touched:
            assert after[d] == files, f"untouched partition {d} was rewritten"

    # deleting EVERYTHING in one bucket drops its directory
    all_ids = spark.createDataFrame([(i,) for i in range(40)], ["id"])
    one_bucket = all_ids.where(
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(4)) == 0
    )
    store.delete(one_bucket)
    assert "_bucket=0" not in _partition_state(path)
    remaining = {r["id"] for r in store.read().collect()}
    kept = {r["id"] for r in spark.createDataFrame([(i,) for i in range(40)], ["id"])
            .where(F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(4)) != 0)
            .collect()}
    assert remaining == kept - {5, 6}


def test_read_for_ids_prunes_partitions(spark, tmp_path, job_count):
    """Point reads scan only the id's bucket dir (VERDICT r2 #4): the
    physical plan must carry a _bucket partition filter, and the scan's
    input files must come from the pruned bucket alone. The bucket
    filter folds at planning time, so the read is one job."""
    path = str(tmp_path / "store")
    store = EntityStore(spark, path, id_col="id", n_buckets=8)
    base = spark.createDataFrame(
        [(i, f"name{i}") for i in range(200)], ["id", "name"]
    )
    store.init(base)

    pruned = store.read_for_ids([17])
    got, jobs = job_count(pruned.collect)
    assert [r["id"] for r in got] == [17]
    assert jobs == 1
    # a second point read reuses the scan schema: still one job
    again, jobs = job_count(lambda: store.read_for_ids([17]).collect())
    assert again == got and jobs == 1

    bucket = spark.range(1).select(
        F.expr("pmod(xxhash64(cast(17 as string)), 8)")).first()[0]
    # the scan must carry the bucket as a PartitionFilter (pruned at
    # planning time, before any file IO)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan[plan.index("PartitionFilters"):].split("]", 1)[0]
    assert "_bucket" in pf and str(bucket) in pf, pf


def test_init_resets_scan_schema(spark, tmp_path):
    """A re-init with another column set is read back with that set:
    the cached scan schema is dropped by init."""
    store = EntityStore(spark, str(tmp_path / "store"), id_col="id", n_buckets=4)
    store.init(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "name"]))
    assert store.read().columns == ["id", "name"]
    store.init(spark.createDataFrame(
        [(1, "a", "x1"), (2, "b", "x2")], ["id", "name", "extra"]))
    assert {r["id"]: r["extra"] for r in store.read().collect()} == {1: "x1", 2: "x2"}
    assert [r["extra"] for r in store.read_for_ids([2]).collect()] == ["x2"]


def test_count_raises_on_corrupt_store(spark, tmp_path):
    """api.count() must not mask genuine read errors as '0 entities' —
    only the store-missing probe returns 0."""
    import pytest
    from resolve_spark.api import ResolveEngine

    missing = ResolveEngine(spark, str(tmp_path / "nope"), n_buckets=2)
    assert missing.count() == 0  # path absent -> empty-store probe

    bad_path = tmp_path / "bad"
    bad_path.mkdir()
    (bad_path / "part-0000.parquet").write_bytes(b"this is not parquet")
    corrupt = ResolveEngine(spark, str(bad_path), n_buckets=2)
    with pytest.raises(Exception):
        corrupt.count()
