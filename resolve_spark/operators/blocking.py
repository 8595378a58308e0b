"""Multi-pass blocking (SURVEY.md §2.6, B1-B6 + the north-rule extension).

Pass 1 — **canopy**: the reference's composite blocking key, exact
semantics (cluster.go:57-156): per configured field take a type-specific
component (name -> first 3 chars, zip -> first 5, phone -> last 4 digits,
email -> domain, default -> first 3), prefer the ``*_normalized`` value,
join components with '|' (trailing '|' included, as in the Go
strings.Builder loop), md5 -> first 16 hex chars; empty key -> "default".

Pass 2 — **q-gram**: the k lexically-hash-smallest character q-grams of a
designated column; robust to single-character edits that break the canopy
prefix. Fully native (sequence/transform/array_sort), no Python.

Pass 3 — **MinHash-LSH**: banded minhash signatures over token shingles
of a long-text column; vectorized numpy inside one pandas UDF. Standard
(a*x+b) mod p universal hashing with fixed seeds — deterministic across
runs and executors.

Records whose canopy key is "default" (no blocking fields) produce NO
canopy candidates: at 10^12 rows the reference's behavior (unfiltered ANN
search) has no dataflow analog that isn't a cross join. The q-gram /
minhash passes still cover such records. Documented divergence.

All passes emit into one ``block_keys array<string>`` column with a
per-pass prefix (``c:``, ``t:``, ``p:``, ``q:``, ``m<band>:``) so keys
never collide across passes. The optional ``p:`` pass is a
Soundex-family phonetic key (misspelling-robust; see
functions/normalize.py:phonetic_key).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from resolve_spark.config import DEFAULT_CLUSTER_ID, BlockingConfig

# ---------------------------------------------------------------------------
# B1 — canopy key (cluster.go:57-156)
# ---------------------------------------------------------------------------


def _field_value(df_cols: set[str], field: str) -> Column:
    """Prefer non-empty ``{field}_normalized``, else raw (cluster.go:88-92)."""
    norm = f"{field}_normalized"
    raw = F.coalesce(F.col(field), F.lit("")) if field in df_cols else F.lit("")
    if norm in df_cols:
        nval = F.coalesce(F.col(norm), F.lit(""))
        return F.when(nval != "", nval).otherwise(raw)
    return raw


def _key_component(field: str, value: Column) -> Column:
    """Per-field blocking component (cluster.go:94-133)."""
    if field == "name":
        return F.substring(value, 1, 3)
    if field == "zip":
        return F.substring(value, 1, 5)
    if field == "phone":
        digits = F.regexp_replace(value, r"[^0-9]", "")
        return F.right(digits, F.lit(4))  # last 4 when >=4, else all digits
    if field == "email":
        # domain iff exactly one '@' (Go: split len==2), else whole value
        n_at = F.length(value) - F.length(F.regexp_replace(value, "@", ""))
        return F.when(n_at == 1, F.substring_index(value, "@", -1)).otherwise(value)
    return F.substring(value, 1, 3)


def canopy_key(df_cols: list[str], fields: tuple[str, ...]) -> Column:
    """The reference's blocking key as one native Column expression.

    ``fields`` are filtered to those present (as raw or normalized
    column) and sorted, matching cluster.go:63-69.
    """
    cols = set(df_cols)
    present = sorted(
        f for f in fields if f in cols or f"{f}_normalized" in cols
    )
    if not present:
        return F.lit(DEFAULT_CLUSTER_ID)
    parts = []
    for f in present:
        comp = _key_component(f, _field_value(cols, f))
        parts.append(F.when(comp != "", F.concat(comp, F.lit("|"))).otherwise(F.lit("")))
    key = F.concat(*parts) if len(parts) > 1 else parts[0]
    return (
        F.when((key == "") | (key == "|"), F.lit(DEFAULT_CLUSTER_ID))
        .otherwise(F.substring(F.md5(key), 1, 16))
    )


# ---------------------------------------------------------------------------
# Pass 1b — normalized-token-signature key (native)
# ---------------------------------------------------------------------------


def token_signature_key(cols: list[Column]) -> Column:
    """md5 of the sorted distinct token sets of ``cols`` — records that
    differ only in case, separators, or token order share this key.
    (north-rule "normalized-token" pass; native expressions only)."""
    sigs = [
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.coalesce(c, F.lit(""))), r"[^\p{L}\p{N}]+"),
                        lambda x: x != "",
                    )
                )
            ),
            " ",
        )
        for c in cols
    ]
    return F.concat(F.lit("t:"), F.substring(F.md5(F.concat_ws("\x1f", *sigs)), 1, 16))


# ---------------------------------------------------------------------------
# Pass 1c — phonetic key (native; Soundex-family)
# ---------------------------------------------------------------------------


def phonetic_keys(cols: list[Column]) -> Column:
    """One ``p:``-prefixed Soundex-family key per configured column —
    records whose names MISSPELL each other ('Jon Smith'/'John Smyth')
    share this key even when the canopy prefix and token signature both
    break. Empty/letterless values emit no key. Native expressions only
    (functions/normalize.py:phonetic_key).

    array_distinct matters: two configured columns can code to the SAME
    key for one record ('Smith'/'Smyth' -> S530 twice), and
    candidate_pairs relies on every pass emitting distinct keys per
    record (pairs.py: the explode is duplicate-free by construction —
    a duplicate would inflate block counts, flip budget fates, and let
    the sorted-neighborhood path emit (x, x) self-pairs)."""
    from resolve_spark.functions.normalize import phonetic_key

    ks = [phonetic_key(c) for c in cols]
    arr = F.array(*[
        F.when(k != "", F.concat(F.lit("p:"), k)).otherwise(F.lit(None)) for k in ks
    ])
    return F.array_distinct(F.filter(arr, lambda x: x.isNotNull()))


# ---------------------------------------------------------------------------
# Pass 2 — q-gram keys (native)
# ---------------------------------------------------------------------------


def qgram_keys(col: Column, q: int = 3, k: int = 4) -> Column:
    """k smallest-by-hash distinct q-grams of ``col`` -> array<string>.

    Hash-min selection keeps key cardinality bounded per record while
    remaining deterministic; two strings sharing any selected q-gram
    land in a shared block. Native expressions only.
    """
    s = F.lower(F.coalesce(col, F.lit("")))
    n = F.length(s)
    grams = F.when(n >= q, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - q + 1),
            lambda i: F.substring(s, i, q),
        )
    )).otherwise(F.when(n > 0, F.array(s)).otherwise(F.array()))
    ranked = F.array_sort(
        F.transform(grams, lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("g")))
    )
    top = F.slice(ranked, 1, k)
    return F.transform(top, lambda st: F.concat(F.lit("q:"), st["g"]))


# ---------------------------------------------------------------------------
# Pass 3 — MinHash-LSH band keys (vectorized pandas UDF)
# ---------------------------------------------------------------------------

_MERSENNE_P = (1 << 61) - 1


def _minhash_params(num_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE_P, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE_P, size=num_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


# odd multipliers for the rolling shingle combine (uint64 wraparound mix)
_SHINGLE_MIX = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9], dtype=np.uint64
)


def _token_hashes(text: str, shingle: int) -> np.ndarray:
    """Distinct shingle hashes, vectorized: tokens hash in C via
    pandas.util.hash_array (stable siphash), shingles combine by a
    positional multiply-xor over numpy slices — no per-shingle Python
    hashing (hashlib-per-shingle was the blocking stage's hot spot)."""
    toks = text.lower().split()
    if not toks:
        return np.empty(0, dtype=np.uint64)
    th = pd.util.hash_array(np.asarray(toks, dtype=object))
    if len(toks) < shingle:
        combined = np.zeros(1, dtype=np.uint64)
        for j in range(len(toks)):
            combined ^= th[j : j + 1] * _SHINGLE_MIX[j % shingle]
        return combined
    n = len(toks) - shingle + 1
    combined = np.zeros(n, dtype=np.uint64)
    for j in range(shingle):
        combined ^= th[j : j + n] * _SHINGLE_MIX[j]
    return np.unique(combined)


def minhash_band_keys_udf(
    num_hashes: int = 64, bands: int = 16, shingle: int = 3, seed: int = 42,
    hash_impl: str = "fast",
):
    """text -> array<string> of LSH band keys.

    Signature h_i = min over shingle hashes x of a universal hash;
    band key = md5(band_idx || sig slice)[:12]. Rows per band
    r = num_hashes // bands sets the similarity knee (~(1/bands)^(1/r)).

    ``hash_impl``:
    - "fast": pandas siphash shingles + seeded (a*x+b) mod p in uint64 —
      the production path.
    - "portable": md5-prefix shingle hashes + the split-30 overflow-free
      universal family + md5 band digests over decimal-string signatures
      (functions/hashing.py) — every step recomputable by the DuckDB
      oracle. Same banding semantics, ~same selectivity, slower.
    """
    from resolve_spark.functions.hashing import (
        check_hash_impl, portable_hash60_py, universal_hash_split30_py,
    )

    assert num_hashes % bands == 0
    check_hash_impl(hash_impl)
    rows_per_band = num_hashes // bands

    if hash_impl == "portable":
        pa = np.array(
            [portable_hash60_py(f"mh:a:{seed}:{i}") + 1 for i in range(num_hashes)],
            dtype=np.int64,
        )
        pb = np.array(
            [portable_hash60_py(f"mh:b:{seed}:{i}") for i in range(num_hashes)],
            dtype=np.int64,
        )

        shingle_hash_cache: dict[str, int] = {}

        @pandas_udf(ArrayType(StringType()))
        def portable_keys(text: pd.Series) -> pd.Series:
            from resolve_spark.functions.hashing import portable_hash60_py as h60

            # r7 (guide §4.2/§4.5): one md5 per DISTINCT shingle in the
            # batch (shingles recur heavily across documents), cached
            # across batches in the reused worker, and ONE vectorized
            # universal-hash matrix for the whole batch instead of a
            # (64 x ~20) numpy call per document. Same hash values, so
            # band keys are bit-identical to the per-doc formulation.
            docs: list[list[int] | None] = []
            uniq: dict[str, int] = {}
            for t in text:
                toks = ("" if t is None else t).lower().split()
                if not toks:
                    docs.append(None)
                    continue
                if len(toks) < shingle:
                    sh = {" ".join(toks)}
                else:
                    sh = {
                        " ".join(toks[j : j + shingle])
                        for j in range(len(toks) - shingle + 1)
                    }
                docs.append([uniq.setdefault(s, len(uniq)) for s in sh])
            if uniq:
                if len(shingle_hash_cache) > 2_000_000:
                    shingle_hash_cache.clear()
                x_all = np.empty(len(uniq), dtype=np.int64)
                for s, i in uniq.items():
                    hv = shingle_hash_cache.get(s)
                    if hv is None:
                        hv = h60(s)
                        shingle_hash_cache[s] = hv
                    x_all[i] = hv
                # (num_hashes, n_uniq) — one exact int64 pass per batch
                hv_all = universal_hash_split30_py(
                    pa[:, None], pb[:, None], x_all[None, :]
                )
            out = []
            for idx in docs:
                if idx is None:
                    out.append([])
                    continue
                sig = hv_all[:, idx].min(axis=1)
                row_keys = []
                for band in range(bands):
                    chunk = sig[band * rows_per_band : (band + 1) * rows_per_band]
                    payload = f"{band}|" + "|".join(str(int(v)) for v in chunk)
                    digest = hashlib.md5(payload.encode()).hexdigest()[:12]
                    row_keys.append(f"m{band}:{digest}")
                out.append(row_keys)
            return pd.Series(out)

        # r7 (guide §4.4): downstream explode()s imply a pushable
        # size()>0 filter; referencing the UDF column, it DUPLICATES
        # the UDF below the repartition exchange — where the
        # single-row-group scan gives it 1-2 tasks (measured: the
        # duplicated copy ran 9s serialized vs 1s for the parallel
        # one). The function is pure; the marker only forbids the
        # optimizer to clone or reorder it.
        return portable_keys.asNondeterministic()

    a, b = _minhash_params(num_hashes, seed)

    @pandas_udf(ArrayType(StringType()))
    def keys(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            x = _token_hashes("" if t is None else t, shingle)
            if x.size == 0:
                out.append([])
                continue
            # (num_hashes, n_shingles) modular universal hash, vectorized
            hv = (a[:, None] * x[None, :] + b[:, None]) % _MERSENNE_P
            sig = hv.min(axis=1)
            row_keys = []
            for band in range(bands):
                chunk = sig[band * rows_per_band : (band + 1) * rows_per_band]
                digest = hashlib.md5(bytes([band]) + chunk.tobytes()).hexdigest()[:12]
                row_keys.append(f"m{band}:{digest}")
            out.append(row_keys)
        return pd.Series(out)

    # see the portable branch: prevent filter-pushdown duplication
    return keys.asNondeterministic()


# ---------------------------------------------------------------------------
# Multi-pass assembly
# ---------------------------------------------------------------------------


def add_blocking_keys(df: DataFrame, cfg: BlockingConfig) -> DataFrame:
    """Add ``block_key`` (canopy, reference semantics) and ``block_keys``
    (all passes, exploded downstream into candidate generation)."""
    passes: list[Column] = []
    out = df
    if cfg.enable_canopy:
        ck = canopy_key(df.columns, cfg.fields)
        out = out.withColumn("block_key", ck)
        passes.append(
            F.when(
                F.col("block_key") != DEFAULT_CLUSTER_ID,
                F.array(F.concat(F.lit("c:"), F.col("block_key"))),
            ).otherwise(F.array())
        )
    if cfg.token_columns:
        passes.append(
            F.array(token_signature_key([F.col(c) for c in cfg.token_columns]))
        )
    if cfg.phonetic_columns:
        passes.append(phonetic_keys([F.col(c) for c in cfg.phonetic_columns]))
    if cfg.qgram_column is not None:
        passes.append(
            qgram_keys(F.col(cfg.qgram_column), cfg.qgram_q, cfg.qgram_keys_per_record)
        )
    if cfg.minhash_column is not None:
        mh = minhash_band_keys_udf(
            cfg.minhash_num_hashes, cfg.minhash_bands,
            hash_impl=cfg.minhash_hash_impl,
        )
        passes.append(mh(F.col(cfg.minhash_column)))
    if not passes:
        raise ValueError("BlockingConfig enables no blocking pass")
    keys = passes[0]
    for p in passes[1:]:
        keys = F.concat(keys, p)
    return out.withColumn("block_keys", keys)
