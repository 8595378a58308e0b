"""Table IO (SURVEY.md §2.1, S1-S10) — Iceberg-layout storage API.

The reference's entity store is Weaviate (CRUD via REST,
internal/weaviate/weaviate.go); here every table is columnar parquet
behind a thin API that uses ``USING iceberg`` DDL when an Iceberg
catalog is configured (the runtime jar is absent in this sandbox, so the
layout is partitioned parquet + JSON sidecars — same read path, same
partition pruning).

CRUD parity (executed as set operations, the batch-engine way):
- S4 get by id     -> filter (predicate pushdown to the parquet scan)
- S5 list          -> offset/limit scan
- S6/S8 update     -> merge_entities (anti-join + union overwrite;
                      MERGE INTO when Iceberg is present)
- S7 delete        -> delete_entities (anti-join overwrite)
- S9 count         -> df.count()
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


#: the reference's fixed entity field set (EntityData.Fields keys used
#: throughout match.go / normalize.go)
ENTITY_JSON_FIELDS = ("name", "address", "city", "state", "zip", "phone", "email")


def read_entities_json(spark: SparkSession, path: str) -> DataFrame:
    """S1 — the reference's entity-JSON array ingest shape
    (cmd/resolve/main.go:131-156 processIngest over
    testdata/sample-entities.json): ``[{id, fields: {...},
    metadata: {...}}]`` -> one row per entity with the seven standard
    fields flattened to top-level string columns ('' when absent) and
    metadata as map<string,string>.

    multiLine: the reference fixture is one pretty-printed JSON array,
    not JSON-lines.
    """
    raw = spark.read.option("multiLine", "true").json(path)

    def _sub_names(col: str) -> list[str]:
        if col not in raw.columns:
            return []
        dt = raw.schema[col].dataType
        return [f.name for f in dt.fields] if hasattr(dt, "fields") else []

    field_names = set(_sub_names("fields"))
    cols = [F.col("id").cast("string").alias("id")]
    for f in ENTITY_JSON_FIELDS:
        src = (
            F.col(f"fields.{f}").cast("string")
            if f in field_names else F.lit(None).cast("string")
        )
        cols.append(F.coalesce(src, F.lit("")).alias(f))
    meta_names = _sub_names("metadata")
    if meta_names:
        meta = F.create_map(
            *[x for n in meta_names
              for x in (F.lit(n), F.col(f"metadata.{n}").cast("string"))]
        )
        # JSON-absent keys infer as null struct entries; drop them so
        # each row's map carries only its own metadata
        meta = F.map_filter(meta, lambda k, v: v.isNotNull())
    else:
        meta = F.create_map().cast("map<string,string>")
    cols.append(meta.alias("metadata"))
    return raw.select(*cols)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    metadata: dict | None = None,
) -> None:
    """S10/S2 — write an Iceberg-layout table (partitioned parquet +
    a _table.json sidecar carrying schema + custom metadata)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    sidecar = {
        "written_at": time.time(),
        "schema": df.schema.jsonValue(),
        "partition_by": partition_by or [],
        "metadata": metadata or {},
    }
    with open(os.path.join(path, "_table.json"), "w") as f:
        json.dump(sidecar, f, indent=2)


def get_entity(df: DataFrame, id_col: str, entity_id: str) -> DataFrame:
    """S4 — point lookup; the filter pushes to the scan."""
    return df.where(F.col(id_col) == entity_id)


def list_entities(df: DataFrame, id_col: str, offset: int, limit: int) -> DataFrame:
    """S5 — deterministic paginated scan (reference pagination is
    Weaviate offset/limit; we order by id for stability)."""
    return (
        df.orderBy(id_col).offset(offset).limit(limit)
    )


def merge_entities(existing: DataFrame, updates: DataFrame, id_col: str) -> DataFrame:
    """S6/S8 — upsert semantics: updated rows replace, new rows append.
    With an Iceberg catalog this is `MERGE INTO ... WHEN MATCHED`."""
    keep = existing.join(updates.select(id_col), id_col, "left_anti")
    return keep.unionByName(updates.select(*existing.columns))


def delete_entities(existing: DataFrame, ids: DataFrame, id_col: str) -> DataFrame:
    """S7 — `DELETE FROM` as an anti-join."""
    return existing.join(ids.select(id_col), id_col, "left_anti")


class EntityStore:
    """Hash-bucketed entity store with PARTITION-PRUNED point updates.

    The reference does per-object updates/deletes against Weaviate
    (internal/weaviate/weaviate.go:549-601 update, :604-622 delete). A
    full-table anti-join + rewrite per upsert batch is a scale-killer at
    100 TB, so rows live in ``n_buckets`` hash partitions
    (bucket = pmod(xxhash64(id), n)); an upsert/delete batch

    1. prunes the read to the touched buckets only (partition filter on
       the scan — 63/64 of the table is never read), and
    2. rewrites ONLY those bucket directories via dynamic partition
       overwrite — untouched partition files are not modified.

    With an Iceberg catalog this becomes ``MERGE INTO``; the layout and
    pruning behavior are identical.
    """

    BUCKET_COL = "_bucket"

    def __init__(self, spark: SparkSession, path: str, id_col: str = "id",
                 n_buckets: int = 64) -> None:
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.n_buckets = n_buckets
        # exists() walk result keyed on the root dir mtime: every
        # data-presence transition (first bucket dir created, last
        # emptied bucket removed) adds/removes a root entry and bumps
        # it; in-place bucket rewrites don't change presence
        self._exists_cache: tuple[int | None, bool] | None = None

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.BUCKET_COL,
            F.pmod(F.xxhash64(F.col(self.id_col).cast("string")), F.lit(self.n_buckets)),
        )

    def init(self, df: DataFrame) -> None:
        """Full (re)write, partitioned by bucket."""
        write_table(
            self._bucketed(df), self.path, partition_by=[self.BUCKET_COL],
            metadata={"id_col": self.id_col, "n_buckets": self.n_buckets},
        )

    def exists(self) -> bool:
        """True iff the store holds DATA. The root dir alone is not
        enough: deleting every entity rmtree's the emptied bucket dirs
        but leaves the root (sidecar/_SUCCESS), and spark.read.parquet
        on a parquet-less dir raises instead of returning empty.

        The os.walk result is cached keyed on the root dir mtime: any
        presence transition creates or removes a bucket dir entry under
        the root, which bumps the root mtime — so per-request serve
        paths don't pay a full tree walk."""
        if not os.path.isdir(self.path):
            self._exists_cache = None
            return False
        token = os.stat(self.path).st_mtime_ns
        if self._exists_cache is not None and self._exists_cache[0] == token:
            return self._exists_cache[1]
        found = False
        for _root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                found = True
                break
        self._exists_cache = (token, found)
        return found

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path).drop(self.BUCKET_COL)

    def buckets_of(self, ids: list[str]) -> list[int]:
        """Bucket numbers for ``ids`` via the same expression as
        ``_bucketed`` (one driver-local job over a literal relation)."""
        lit = self.spark.createDataFrame(
            [(str(i),) for i in ids], [self.id_col]
        )
        rows = self._bucketed(lit).select(self.BUCKET_COL).distinct().collect()
        return sorted(r[0] for r in rows)

    def read_for_ids(self, ids: list[str]) -> DataFrame:
        """Point reads pruned to the ids' buckets: the partition filter
        on ``_bucket`` keeps untouched bucket dirs out of the scan (the
        same pruning upsert/delete already do)."""
        return (
            self.spark.read.parquet(self.path)
            .where(F.col(self.BUCKET_COL).isin(self.buckets_of(ids)))
            .where(F.col(self.id_col).isin(list(ids)))
            .drop(self.BUCKET_COL)
        )

    def _rewrite_touched(self, batch: DataFrame, deleted: bool) -> None:
        batch = self._bucketed(batch).persist()
        touched = [r[0] for r in batch.select(self.BUCKET_COL).distinct().collect()]
        # partition-pruned read: only the touched bucket dirs are scanned
        existing = self.spark.read.parquet(self.path).where(
            F.col(self.BUCKET_COL).isin(touched)
        )
        keep = existing.join(batch.select(self.id_col), self.id_col, "left_anti")
        merged = keep if deleted else keep.unionByName(batch.select(*existing.columns))
        # materialize before overwriting the directories being read
        merged = merged.localCheckpoint(eager=True)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.BUCKET_COL)
            .parquet(self.path)
        )
        # dynamic overwrite only replaces partitions PRESENT in the new
        # data: a bucket emptied by a delete must be dropped explicitly
        remaining = {r[0] for r in merged.select(self.BUCKET_COL).distinct().collect()}
        for b in set(touched) - remaining:
            bucket_dir = os.path.join(self.path, f"{self.BUCKET_COL}={b}")
            if os.path.isdir(bucket_dir):
                shutil.rmtree(bucket_dir)
        batch.unpersist()

    def upsert(self, updates: DataFrame) -> None:
        """S6/S8 — rewrite only the buckets containing updated ids."""
        self._rewrite_touched(updates, deleted=False)

    def delete(self, ids: DataFrame) -> None:
        """S7 — rewrite only the buckets containing deleted ids."""
        self._rewrite_touched(ids, deleted=True)
