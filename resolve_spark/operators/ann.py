"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — the correctness baseline.
  Query side is broadcast (queries are small); candidates stream.
- add_hyperplane_bucket / lsh_topk: random-hyperplane (SRP) LSH —
  the scale path. Each vector gets a ``planes``-bit signature; high
  cosine => equal signature with probability (1 - theta/pi)^planes.
  Multiple independent tables raise recall. Bucket join replaces the
  cross join: cost O(sum of bucket^2) instead of O(n*q).
- srp_signatures: the same signatures as a numpy batch function, for
  the driver: the entity store keeps its vectors' signatures as
  columns, so a one-entity match filters the store scan on the query's
  signatures instead of re-hashing the store.
- ivf_topk: IVF-style coarse quantization — k-means-lite centroids
  sampled deterministically, vectors assigned to nearest centroid,
  queries probe ``nprobe`` nearest centroid cells.

All vector math is native (zip_with/aggregate in doubles); the
hyperplane signatures use a vectorized numpy pandas UDF (one matrix
multiply per Arrow batch — the textbook good UDF).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from resolve_spark.functions.embedding import cosine_similarity_native


def brute_force_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 10,
    query_id: str = "query_id", cand_id: str = "cand_id", vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query: (query_id, cand_id, cos, rk)."""
    q = F.broadcast(queries.select(F.col(query_id), F.col(vec).alias("_qv")))
    c = candidates.select(F.col(cand_id), F.col(vec).alias("_cv"))
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(cand_id))
    return (
        q.crossJoin(c)
        .withColumn("cos", cosine_similarity_native(F.col("_qv"), F.col("_cv")))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(query_id, cand_id, "cos", "rk")
    )


def _hyperplanes(dim: int, planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(planes, dim)).astype(np.float64)


#: fixed-point scale for the portable signature: embeddings quantize to
#: floor(v * 1e6) so the plane dot products are exact INTEGER arithmetic
#: — bit-identical between numpy int64 and a SQL engine's BIGINT, with
#: no float-summation-order divergence. |v|<~1e3 and |w|<=1000 keep
#: every 64-dim dot far below 2^63.
PORTABLE_QUANT = 1_000_000


def _portable_hyperplanes(dim: int, planes: int, seed: int) -> np.ndarray:
    """Integer hyperplanes in [-1000, 1000], each entry derived from the
    md5-prefix hash of 'hp:{seed}:{plane}:{d}' — recomputable in SQL."""
    from resolve_spark.functions.hashing import portable_hash60_py

    return np.array(
        [
            [portable_hash60_py(f"hp:{seed}:{p}:{d}") % 2001 - 1000 for d in range(dim)]
            for p in range(planes)
        ],
        dtype=np.int64,
    )


@functools.lru_cache(maxsize=None)
def _plane_matrix(dim: int, planes: int, seed: int, hash_impl: str) -> np.ndarray:
    if hash_impl == "portable":
        return _portable_hyperplanes(dim, planes, seed)
    return _hyperplanes(dim, planes, seed)


def srp_signatures(
    m: np.ndarray, planes: int = 16, seed: int = 42, hash_impl: str = "fast"
) -> np.ndarray:
    """(n, dim) float64 vectors -> n int64 SRP signatures: bit p is set
    iff the vector lies on the positive side of hyperplane p.

    The one batch function behind :func:`signature_udf`. Its result for a
    row does not depend on the other rows of the batch, so a driver that
    signs one vector gets the bits the executors compute."""
    H = _plane_matrix(m.shape[1], planes, seed, hash_impl)
    if hash_impl == "portable":
        bits = (np.floor(m * PORTABLE_QUANT).astype(np.int64) @ H.T) > 0
    else:
        # accumulate dimension by dimension: the same summation order for
        # every batch shape (a BLAS matmul picks its kernel, and so its
        # order, by shape, which can flip a bit at the sign boundary)
        dots = np.zeros((m.shape[0], planes))
        for d in range(m.shape[1]):
            dots += m[:, d, None] * H[None, :, d]
        bits = dots > 0
    return bits.astype(np.int64) @ (1 << np.arange(planes)).astype(np.int64)


def signature_udf(planes: int = 16, seed: int = 42, hash_impl: str = "fast"):
    """vector -> int64 SRP signature; one numpy matmul per Arrow batch.

    The hyperplane matrix is derived lazily (and deterministically) from
    (seed, vector dim) inside the UDF on first batch, so building the
    plan triggers NO Spark jobs — every executor regenerates the same
    planes from the same seed.

    ``hash_impl="portable"`` switches to md5-derived INTEGER hyperplanes
    over fixed-point-quantized vectors: the bucket assignment becomes
    exact integer arithmetic a DuckDB oracle reproduces bit-identically
    (float hyperplanes would diverge on summation order at the sign
    boundary). Same (1 - theta/pi)^planes collision geometry.
    """
    from resolve_spark.functions.hashing import check_hash_impl

    check_hash_impl(hash_impl)

    @pandas_udf(LongType())
    def sig(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(srp_signatures(m, planes, seed, hash_impl))

    return sig


def add_hyperplane_bucket(
    df: DataFrame, vec_col: str, planes: int = 16, seed: int = 42,
    bucket_col: str = "bucket", hash_impl: str = "fast",
) -> DataFrame:
    """Pure plan builder — no driver-side actions (no dim probe)."""
    return df.withColumn(
        bucket_col, signature_udf(planes, seed, hash_impl)(F.col(vec_col))
    )


def lsh_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 10,
    query_id: str = "query_id", cand_id: str = "cand_id", vec: str = "embedding",
    planes: int = 12, tables: int = 4, seed: int = 42, hash_impl: str = "fast",
) -> DataFrame:
    """Approximate cosine top-k: union of ``tables`` independent SRP
    bucket joins, exact cosine re-rank inside the matched buckets."""
    out = None
    for t in range(tables):
        qb = add_hyperplane_bucket(queries, vec, planes, seed + 101 * t, hash_impl=hash_impl)
        cb = add_hyperplane_bucket(candidates, vec, planes, seed + 101 * t, hash_impl=hash_impl)
        j = qb.select(query_id, F.col(vec).alias("_qv"), "bucket").join(
            cb.select(cand_id, F.col(vec).alias("_cv"), "bucket"), "bucket"
        ).drop("bucket")
        out = j if out is None else out.unionByName(j)
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(cand_id))
    return (
        out.dropDuplicates([query_id, cand_id])
        .withColumn("cos", cosine_similarity_native(F.col("_qv"), F.col("_cv")))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(query_id, cand_id, "cos", "rk")
    )


def kmeans_assign(
    df: DataFrame, id_col: str, vec_col: str = "embedding",
    k: int = 8, iters: int = 2, quant: int = 6, keep_vec: bool = False,
) -> DataFrame:
    """Lloyd's k-means over an embedding column with cosine assignment:
    (id_col, cluster, cos) for the FINAL assignment pass.

    Deterministic and SQL-oracle-reproducible by construction:

    - init: the k rows with the smallest ids seed the centroids, and
      cluster labels 0..k-1 follow that id order (orderBy+limit compiles
      to TakeOrderedAndProject — per-partition top-k heap, no global
      sort, same trick as ivf_topk);
    - every recomputed centroid component and every cosine rounds to
      ``quant`` decimals BEFORE any comparison, so both engines compare
      identical multiples of 10^-quant; assignment ties break to the
      smaller cluster label;
    - ``iters`` assignment passes with one centroid update between each
      (iters=2 -> assign, update, assign). Clusters that empty out
      simply drop from the centroid set; surviving labels are stable.

    Scale: the only driver-side state is k x dim doubles per update (a
    collect of a k-row aggregate — the same bounded-collect class as the
    CC fingerprint). Assignment is pure whole-stage codegen over literal
    centroid arrays — zero shuffle, no UDF; each update is ONE
    map-side-combinable groupBy. Beyond ~1e5 k*dim literals the plan
    gets unwieldy and a broadcast-matrix pandas-UDF argmax is the right
    variant; at SemDeDup's prescription (k grows with corpus size so
    cluster population stays bounded) that switch matters before 100 TB
    and is a drop-in swap of the assign step.
    """
    pts = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    # persist: pts is re-read by the init collect, every update pass,
    # and the final assignment — without pinning, the full upstream
    # lineage (embedding UDFs included) re-executes per read. Released
    # below once the RESULT is cached: the returned frame is itself the
    # persisted object, so callers looping over corpora can release it
    # directly with .unpersist().
    pts = pts.persist()
    init = pts.orderBy(id_col).limit(k).collect()
    if not init:
        raise ValueError("kmeans_assign: empty input")
    cents = [(j, [float(x) for x in r["_v"]]) for j, r in enumerate(init)]
    dim = len(cents[0][1])

    def assign(centroids):
        scored = F.array(*[
            F.struct(
                F.round(
                    cosine_similarity_native(
                        F.col("_v"), F.lit(np.array(cvec, dtype=np.float64))
                    ),
                    quant,
                ).alias("cos"),
                F.lit(-j).alias("_nj"),
            )
            for j, cvec in centroids
        ])
        best = F.array_max(scored)
        return pts.select(
            F.col(id_col),
            (-best["_nj"]).alias("cluster"),
            best["cos"].alias("cos"),
            F.col("_v"),
        )

    for _ in range(iters - 1):
        a = assign(cents)
        rows = a.groupBy("cluster").agg(
            *[F.round(F.avg(F.col("_v")[i]), quant).alias(f"d{i}") for i in range(dim)]
        ).collect()
        cents = sorted(
            (r["cluster"], [float(r[f"d{i}"]) for i in range(dim)]) for r in rows
        )
    final = assign(cents)
    if keep_vec:
        # downstream pair stages (semantic_dedup) reuse the double-cast
        # vector without a join back by id — two fewer exchanges
        out = final.select(id_col, "cluster", "cos", F.col("_v").alias(vec_col))
    else:
        out = final.select(id_col, "cluster", "cos")
    # swap the pin from the wide points to the narrow result: consumers
    # read the RESULT repeatedly (semantic_dedup three times,
    # prototype_prune under a window), so cache that, materialize it,
    # and release pts — exactly one pinned frame remains, and it is the
    # handle the caller holds (releasable via .unpersist()).
    out = out.persist()
    out.count()
    pts.unpersist()
    return out


def ivf_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 10,
    query_id: str = "query_id", cand_id: str = "cand_id", vec: str = "embedding",
    ncells: int = 16, nprobe: int = 4, seed: int = 42, hash_impl: str = "fast",
) -> DataFrame:
    """IVF coarse search: deterministic sampled centroids; candidates
    live in their nearest cell; queries probe the ``nprobe`` nearest
    cells and re-rank exactly within them.

    ``hash_impl="portable"`` picks centroids by the md5-prefix hash of
    the candidate id and labels cells by hash-order row_number, so a SQL
    oracle selects the identical centroid set with identical labels.
    """
    from resolve_spark.functions.hashing import check_hash_impl, portable_hash60

    check_hash_impl(hash_impl)
    # deterministic pseudo-random centroid pick. orderBy+limit compiles
    # to TakeOrderedAndProject (per-partition top-k heap + driver merge
    # of ncells rows per partition), NOT a global sort — scale-safe.
    id_hash = (
        portable_hash60(F.col("_cid").cast("string"))
        if hash_impl == "portable"
        else F.xxhash64(F.col("_cid"))
    )
    cents = (
        candidates.select(F.col(cand_id).alias("_cid"), F.col(vec).alias("_cv"))
        .withColumn("_h", id_hash)
        .orderBy("_h")
        .limit(ncells)
    )
    if hash_impl == "portable":
        # ncells rows: a global row_number window is trivially cheap and
        # gives SQL-reproducible cell labels
        cents = cents.withColumn(
            "cell", F.row_number().over(Window.orderBy("_h"))
        )
    else:
        cents = cents.withColumn("cell", F.monotonically_increasing_id())
    cents = F.broadcast(cents.select("cell", F.col("_cv").alias("_centroid")))

    def nearest_cells(side: DataFrame, id_col: str, n: int) -> DataFrame:
        w = Window.partitionBy(id_col).orderBy(F.desc("_csim"), F.asc("cell"))
        return (
            side.crossJoin(cents)
            .withColumn("_csim", cosine_similarity_native(F.col(vec), F.col("_centroid")))
            .withColumn("_crk", F.row_number().over(w))
            .where(F.col("_crk") <= n)
            .drop("_centroid", "_csim", "_crk")
        )

    c_assigned = nearest_cells(
        candidates.select(cand_id, vec), cand_id, 1
    ).select("cell", cand_id, F.col(vec).alias("_cv"))
    q_assigned = nearest_cells(
        queries.select(query_id, vec), query_id, nprobe
    ).select("cell", query_id, F.col(vec).alias("_qv"))
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(cand_id))
    return (
        q_assigned.join(c_assigned, "cell")
        .dropDuplicates([query_id, cand_id])
        .withColumn("cos", cosine_similarity_native(F.col("_qv"), F.col("_cv")))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(query_id, cand_id, "cos", "rk")
    )


def cosine_topk_matmul(
    queries: DataFrame, candidates: DataFrame, k: int = 10,
    query_id: str = "query_id", cand_id: str = "cand_id", vec: str = "embedding",
    round_to: int | None = None, exclude_self: bool = False,
    parallelism: int | None = None,
) -> DataFrame:
    """Exact cosine top-k per query — the matmul formulation of
    brute_force_topk: (query_id, cand_id, cos, rk).

    Same results as the cross-join + window plan, radically cheaper
    execution (guide §4.2 / §8): the query side is small by contract
    (it is broadcast even in the naive plan), so collect it once, hold
    the (nq x dim) float64 matrix in the task closure, and compute all
    nq cosines of a candidate Arrow batch with ONE BLAS matmul instead
    of nq*n interpreted zip_with/aggregate evaluations. Each task then
    emits only its LOCAL top-k rows per query (exact under the final
    (cos desc, cand_id asc) order, ties included), so the window that
    produces the global rank sees #tasks * nq * k rows instead of
    n * nq — the shuffle drops by orders of magnitude.

    ``round_to``: round cosines half-up (Spark ROUND semantics) BEFORE
    ranking, matching ``F.round(cos, round_to)`` plans. ``exclude_self``
    drops cand_id == query_id pairs. Zero-norm vectors score 0.0 like
    cosine_similarity_native.

    Scale: driver holds nq*dim doubles (queries are top-k probes, small
    by contract — the naive plan already broadcast them); candidates
    stream through tasks; per-task state is one (nq x dim) matrix.
    """
    sess = candidates.sparkSession
    qrows = queries.select(query_id, vec).collect()
    out_schema = (
        f"{query_id} long, {cand_id} long, cos double"
    )
    if not qrows:
        empty = sess.createDataFrame([], out_schema + ", rk int")
        return empty
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    par = parallelism or sess.sparkContext.defaultParallelism
    cand = candidates.select(
        F.col(cand_id).cast("long").alias("_cid"), F.col(vec).alias("_cv")
    ).repartition(par)

    def _round_half_up(x: np.ndarray, dec: int) -> np.ndarray:
        p = 10.0 ** dec
        return np.floor(np.abs(x) * p + 0.5) / p * np.sign(x) + 0.0

    def topk_batches(it):
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            col = batch.column(1)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if flat.size == n * Q.shape[1]:
                C = flat.reshape(n, Q.shape[1]).astype(np.float64)
            else:  # ragged/null-bearing fallback
                C = np.array(col.to_pylist(), dtype=np.float64)
            cn = np.linalg.norm(C, axis=1)
            denom = cn[:, None] * qn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom == 0.0, 0.0, (C @ Q.T) / denom)
            if round_to is not None:
                cos = _round_half_up(cos, round_to)
            if exclude_self:
                cos[ids[:, None] == qids[None, :]] = -np.inf
            if n > k:
                kth = np.partition(cos, n - k, axis=0)[n - k]
                gt = cos > kth[None, :]
                eq = cos == kth[None, :]
                gi, gj = np.nonzero(gt)
                need = k - gt.sum(axis=0)  # per-query slots left for ties
                ei, ej = np.nonzero(eq)
                if ei.size:
                    # smallest cand_ids win the remaining slots
                    order = np.lexsort((ids[ei], ej))
                    ei, ej = ei[order], ej[order]
                    pos = np.arange(ei.size) - np.searchsorted(
                        ej, ej, side="left"
                    )
                    keep = pos < need[ej]
                    ei, ej = ei[keep], ej[keep]
                ri = np.concatenate([gi, ei])
                rj = np.concatenate([gj, ej])
            else:
                ri, rj = np.nonzero(np.isfinite(cos) | True)
            vals = cos[ri, rj]
            ok = vals > -np.inf
            ri, rj, vals = ri[ok], rj[ok], vals[ok]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[rj], type=pa.int64()),
                    pa.array(ids[ri].astype(np.int64), type=pa.int64()),
                    pa.array(vals, type=pa.float64()),
                ],
                names=[query_id, cand_id, "cos"],
            )

    partial = cand.mapInArrow(topk_batches, out_schema)
    w = Window.partitionBy(query_id).orderBy(F.desc("cos"), F.asc(cand_id))
    return (
        partial.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(query_id, cand_id, "cos", "rk")
    )
