"""Embedding operators (SURVEY.md §2.5, E1-E5).

The reference embeds via an HTTP sidecar (internal/embed/embed.go); its
deterministic test embedder (MockEmbeddingService, embed.go:220-257) is
what its own benchmarks use, so that formula is our reproducible default:

    emb[i] = byte(text[i % len(text)]) / 255.0   for i < min(dim, len(text))
    emb[i] = 0.0                                 otherwise

(for i < len(text) the modulo is the identity — kept for parity).

Scale design: embedding is the most expensive per-row transform in a real
deployment, so ``embed_dedup`` embeds ``distinct(combined_text)`` and
joins back — the dataflow replacement for the reference's in-process
cache (embed.go:33-35,72-78).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, FloatType

from resolve_spark.config import MOCK_EMBEDDING_DIM


def combine_fields(cols: list[Column]) -> Column:
    """E1 — join non-empty field values with a single space.

    match.go:656-664 iterates a Go map (nondeterministic order per
    process); we use the caller's fixed column order — strictly more
    deterministic than the reference (SURVEY.md §7 decision #2).
    """
    arr = F.array(*cols)
    return F.array_join(F.filter(arr, lambda v: v.isNotNull() & (v != "")), " ")


def mock_embedding_udf(dim: int = MOCK_EMBEDDING_DIM):
    """E4 — deterministic mock embedding (embed.go:233-242), vectorized.

    Returns a text -> array<float> pandas UDF.
    """

    @pandas_udf(ArrayType(FloatType()))
    def embed(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            t = "" if t is None else t
            raw = t.encode("utf-8")  # Go indexes bytes
            n = min(dim, len(raw))
            vec = np.zeros(dim, dtype=np.float32)
            if n:
                vec[:n] = np.frombuffer(raw[:n], dtype=np.uint8).astype(np.float32) / 255.0
            out.append(vec)
        return pd.Series(out)

    return embed


@pandas_udf(DoubleType())
def cosine_similarity_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
    """E5 — cosine similarity (= 1 - cosine distance, match.go:229-235).

    Fixed-dim vectors stack into a (batch, dim) matrix -> one numpy pass.
    """
    a = np.stack(va.to_numpy()).astype(np.float64)
    b = np.stack(vb.to_numpy()).astype(np.float64)
    dot = np.einsum("ij,ij->i", a, b)
    na = np.linalg.norm(a, axis=1)
    nb = np.linalg.norm(b, axis=1)
    denom = na * nb
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = np.where(denom == 0, 0.0, dot / denom)
    return pd.Series(sim)


# marked nondeterministic like fields.fused_scores_udf: a threshold on the
# score would otherwise be pushed below the projection with the UDF
# inlined, and the UDF evaluated once for the filter and again for the
# returned column
cosine_similarity_udf = cosine_similarity_udf.asNondeterministic()


def cosine_similarity_native(va: Column, vb: Column) -> Column:
    """E5 (native variant) — zip_with/aggregate arithmetic, no Python.

    Prefer this in plans that are otherwise UDF-free; the pandas variant
    wins for very high dims (one numpy pass vs per-element codegen).
    """
    dot = F.aggregate(
        # cast BEFORE the multiply: float32 products would lose the bits
        # that a double-computing oracle (DuckDB) keeps
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )
    denom = norm(va) * norm(vb)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot / denom)


def embedder_udf(embed_fn, dim: int, batch_size: int = 32):
    """E2 — wrap ANY python embedding function as an Arrow pandas UDF
    with the reference's batch semantics (embed.go:66-197): texts are
    sent in sub-batches of ``batch_size`` and reassembled in order; the
    reference's in-process result cache is ``embed_dedup`` upstream.

    ``embed_fn``: list[str] -> sequence of ``dim``-length float vectors
    (an HTTP client, an in-process model, ...). Raises on dim mismatch
    rather than silently padding — a wrong-dim embedder is a config bug.
    """

    @pandas_udf(ArrayType(FloatType()))
    def embed(text: pd.Series) -> pd.Series:
        texts = ["" if t is None else t for t in text]
        out: list[np.ndarray] = []
        for i in range(0, len(texts), batch_size):
            vecs = embed_fn(texts[i:i + batch_size])
            for v in vecs:
                v = np.asarray(v, dtype=np.float32)
                if v.shape != (dim,):
                    raise ValueError(
                        f"embed_fn returned shape {v.shape}, expected ({dim},)"
                    )
                out.append(v)
        if len(out) != len(texts):
            raise ValueError(
                f"embed_fn returned {len(out)} vectors for {len(texts)} texts"
            )
        return pd.Series(out)

    return embed


def embed_dedup(
    df: DataFrame, text_col: str, out_col: str = "vector",
    dim: int = MOCK_EMBEDDING_DIM, embed_fn=None,
) -> DataFrame:
    """E2/E3 — embed distinct texts once, join back (cache-as-dataflow).

    At 100 TB the distinct() is a shuffle but the UDF then runs on the
    (much smaller) unique-text set; the join back is a plain hash join
    that AQE will broadcast when the unique side is small.

    ``embed_fn``: optional pluggable embedder (see embedder_udf);
    defaults to the reference's deterministic mock formula.
    """
    udf = mock_embedding_udf(dim) if embed_fn is None else embedder_udf(embed_fn, dim)
    uniq = df.select(text_col).distinct()
    embedded = uniq.withColumn(out_col, udf(F.col(text_col)))
    return df.join(embedded, on=text_col, how="left")
