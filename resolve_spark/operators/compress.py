"""Distinct-key compression for pair scoring.

When a pair score depends only on a per-record KEY — a name, the
bitmask of a token set, a blocking-key signature — it is computed once
per distinct key pair and the qualifying key pairs are expanded back to
record pairs. Distinct keys are typically orders of magnitude fewer than
records, so the quadratic work moves from records to keys (the
compressed-index similarity join of "Highly Efficient String Similarity
Search and Join over Compressed Indexes", ICDE 2022; the distinct-run
idea of "Column Partition and Permutation for RLE", SIGMOD 2020).

Invariant every caller must keep: the score (and every column carried
with a key pair) is a function of the two keys alone. Two records with
the same key are then interchangeable, and the expanded rows equal the
per-record plan's rows exactly.

- :func:`token_bitmask` — the one vocabulary probe and token->bit layout:
  a token set over a <= 64-token vocabulary is one signed long.
- :func:`expand_pairs` — qualifying key pairs -> record pairs in one pass
  over broadcast member tables.
- :func:`value_pair_table` — a per-pair expression evaluated once per
  distinct value pair of one column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: a token set is one signed long: one bit per vocabulary token
MAX_BITMASK_TOKENS = 64


class TokenBits:
    """Token -> bit layout over a vocabulary of at most 64 tokens: the
    i-th token in sorted order owns bit i. ``rows`` are the probed
    vocabulary rows in bit order (every column the vocabulary frame
    carries, e.g. a weight)."""

    def __init__(self, rows: list) -> None:
        self.rows = rows
        # bit 63 is the sign bit: wrap to the negative long with the
        # same bit pattern
        self.values = [
            (1 << i) - (1 << 64 if i == 63 else 0) for i in range(len(rows))
        ]

    def bit(self, tok: Column) -> Column:
        """The long with only ``tok``'s bit set."""
        bitmap = F.map_from_arrays(
            F.array(*[F.lit(r["tok"]) for r in self.rows]),
            F.array(*[F.lit(v).cast("long") for v in self.values]),
        )
        return F.element_at(bitmap, tok)

    def mask(self, toks) -> Column:
        """Bitwise OR of the bits of a token array. A null array gives a
        null mask; an empty one gives 0. For a distinct-token array
        ``bit_count(mask) == size(toks)``."""
        return F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc.bitwiseOR(self.bit(t))
        )


def token_bitmask(vocab: DataFrame) -> TokenBits | None:
    """Probe a distinct-token frame (a ``tok`` column plus any per-token
    columns) and return its bit layout, or None when the vocabulary has
    more than 64 tokens. Collects at most 65 rows to the driver."""
    rows = vocab.orderBy("tok").limit(MAX_BITMASK_TOKENS + 1).collect()
    if len(rows) > MAX_BITMASK_TOKENS:
        return None
    return TokenBits(rows)


def expand_pairs(
    qual: DataFrame, members_a: DataFrame, members_b: DataFrame | None = None
) -> DataFrame:
    """Expand qualifying key pairs to record pairs in one pass.

    ``qual``: (key_a, key_b, *payload), one row per qualifying key pair.
    ``members_a``/``members_b``: (rid, key), one row per record. Both
    member tables are broadcast: they are record-sized, while the
    expanded stream is pair-sized, and the planner cannot see through
    the aggregates that usually build ``qual``.

    Self mode (``members_b`` is None): ``qual`` must be canonical
    (key_a <= key_b, each unordered key pair once). Each unordered record
    pair is emitted once as id_a < id_b — the member cross product of a
    pair of different keys, and the rid_a < rid_b half of a same-key
    pair — so no record is paired with itself. Output key_a/key_b follow
    id_a/id_b.

    Cross mode: id_a from ``members_a``, id_b from ``members_b``, no
    ordering. Returns (id_a, id_b, key_a, key_b, *payload); the
    partitioning of ``qual`` sets the expansion's parallelism.
    """
    payload = [c for c in qual.columns if c not in ("key_a", "key_b")]
    ma = F.broadcast(
        members_a.select(F.col("rid").alias("_ra"), F.col("key").alias("key_a"))
    )
    mb = F.broadcast(
        (members_a if members_b is None else members_b).select(
            F.col("rid").alias("_rb"), F.col("key").alias("key_b")
        )
    )
    pairs = qual.join(ma, "key_a").join(mb, "key_b")
    if members_b is not None:
        return pairs.select(
            F.col("_ra").alias("id_a"), F.col("_rb").alias("id_b"),
            "key_a", "key_b", *payload,
        )
    swap = F.col("_ra") > F.col("_rb")
    return pairs.where(
        (F.col("key_a") != F.col("key_b")) | (F.col("_ra") < F.col("_rb"))
    ).select(
        F.least("_ra", "_rb").alias("id_a"),
        F.greatest("_ra", "_rb").alias("id_b"),
        F.when(swap, F.col("key_b")).otherwise(F.col("key_a")).alias("key_a"),
        F.when(swap, F.col("key_a")).otherwise(F.col("key_b")).alias("key_b"),
        *payload,
    )


def value_pair_table(
    spark: SparkSession, df: DataFrame, col: str, expr_fn, out_col: str,
    max_values: int = 256,
) -> DataFrame | None:
    """(_va, _vb, out_col) over every ordered pair of the distinct
    non-null values of ``df[col]`` — or None when the column has more
    than ``max_values`` distinct values. Callers broadcast it.

    ``expr_fn(va, vb)`` is the caller's own per-pair expression, so the
    table holds the very values the inline kernel would produce.
    Build notes: the value cross is exploded from a literal array (a
    python createDataFrame is RDD-backed and costs ~12s of tiny
    python-worker stages for a 64x64 cross; the explode build is 0.4s),
    and the table stays a DataFrame for a broadcast JOIN — both a
    4096-literal CreateArray and a 4096-char substring lookup measured
    ~10x SLOWER than the kernel they replaced (per-row array
    construction / per-row UTF8 byte walk)."""
    vals = [
        r[0]
        for r in df.select(col).where(F.col(col).isNotNull())
        .distinct().orderBy(col).limit(max_values + 1).collect()
    ]
    if len(vals) > max_values:
        return None
    arr = F.array(*[F.lit(v) for v in vals])
    nd = spark.range(1).select(F.explode(arr).alias("_va"))
    return (
        nd.crossJoin(nd.select(F.col("_va").alias("_vb")))
        .select("_va", "_vb", expr_fn(F.col("_va"), F.col("_vb")).alias(out_col))
        .localCheckpoint()
    )
