"""Engine configuration, mirroring the reference defaults.

Reference: /root/reference/internal/config/config.go:100-167 (setDefaults).
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Matching defaults — config.go:129-140
DEFAULT_SIMILARITY_THRESHOLD = 0.85
DEFAULT_LIMIT = 10
DEFAULT_FIELD_WEIGHTS: dict[str, float] = {
    "name": 0.4,
    "address": 0.2,
    "city": 0.1,
    "state": 0.05,
    "zip": 0.05,
    "phone": 0.1,
    "email": 0.1,
}

# Embedding defaults — config.go:121-127
DEFAULT_EMBEDDING_DIM = 384
MOCK_EMBEDDING_DIM = 16  # the reference's own benchmark dim (benchmark_test.go:17)

# Clustering (blocking) defaults — config.go:162-166
DEFAULT_CLUSTER_FIELDS = ("name", "zip")
DEFAULT_CLUSTER_ID = "default"  # cluster.go:23

# Group defaults — group.go:36-49
DEFAULT_MAX_GROUP_SIZE = 100
DEFAULT_GROUP_STRATEGY = "hybrid"
DEFAULT_HOPS_LIMIT = 3
HYBRID_DIRECT_THRESHOLD = 0.9  # group.go:272-274


@dataclass(frozen=True)
class NormalizationOptions:
    """Mirrors normalization.* defaults — config.go:142-159."""

    enable_lowercase: bool = True
    enable_stopwords: bool = True
    remove_legal_suffixes: bool = True
    normalize_initials: bool = True
    standardize_abbreviations: bool = True
    remove_apartment_numbers: bool = True
    phone_e164: bool = True
    email_lowercase_domain: bool = True


@dataclass(frozen=True)
class BlockingConfig:
    """Multi-pass blocking configuration.

    ``fields`` drives the canopy pass (reference semantics,
    cluster.go:57-156). The q-gram and MinHash passes are the
    multi-pass extension required by the north rule (redundant
    blocking; reference design doc art/deep-dive.md endorses it).
    """

    fields: tuple[str, ...] = DEFAULT_CLUSTER_FIELDS
    enable_canopy: bool = True
    # normalized-token-signature pass: one key per record, the md5 of the
    # sorted distinct token sets of these columns (case/separator-proof)
    token_columns: tuple[str, ...] = ()
    # phonetic pass: one Soundex-family key per listed column
    # (misspelling-proof; functions/normalize.py:phonetic_key)
    phonetic_columns: tuple[str, ...] = ()
    # q-gram pass: character q-grams of one designated text column
    qgram_column: str | None = None
    qgram_q: int = 3
    qgram_keys_per_record: int = 4
    # MinHash-LSH pass over token shingles of one text column
    minhash_column: str | None = None
    minhash_num_hashes: int = 64
    minhash_bands: int = 16  # rows per band = num_hashes // bands
    # "fast" (numpy siphash) or "portable" (md5-derived, DuckDB-checkable
    # — see functions/hashing.py)
    minhash_hash_impl: str = "fast"
    # skew control: blocks larger than max_block_size switch from full
    # O(n^2) pairing to sorted-neighborhood pairing with this window;
    # blocks larger than prune_block_size are PURGED entirely (a key
    # shared by that many records is non-discriminative — standard
    # block-purging; redundant passes cover the recall)
    max_block_size: int = 200
    neighborhood_window: int = 10
    prune_block_size: int = 4000
    # passes (key prefix before ':') whose oversized blocks are PURGED at
    # max_block_size instead of windowed. An oversized q-gram block is a
    # non-discriminative character fragment — windowing it by id-adjacency
    # yields noise pairs, not recall. Minhash bands stay windowed: an
    # oversized band block is usually a genuine mega-duplicate cluster
    # (boilerplate), and windowed pairs + transitive closure chain it
    # back together at O(c * window) cost.
    purge_passes: tuple[str, ...] = ("q",)
    # block-size cap for purgeable (redundant) passes: a rescue pass only
    # earns its keep through RARE keys — mid-sized gram blocks are shared
    # word fragments that the primary passes already cover
    redundant_block_size: int = 32


@dataclass(frozen=True)
class MatchConfig:
    threshold: float = DEFAULT_SIMILARITY_THRESHOLD
    limit: int = DEFAULT_LIMIT
    field_weights: dict[str, float] = field(
        default_factory=lambda: dict(DEFAULT_FIELD_WEIGHTS)
    )
    embedding_dim: int = MOCK_EMBEDDING_DIM
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    normalization: NormalizationOptions = field(default_factory=NormalizationOptions)


# ---------------------------------------------------------------------------
# Config-file loading (config.go:72-167): YAML/JSON with the reference's
# section names, reference defaults for anything omitted, and
# RESOLVE_-prefixed environment overrides (viper.SetEnvPrefix parity).
# ---------------------------------------------------------------------------

def _config_defaults() -> dict:
    """setDefaults() parity — config.go:146-167 (engine-relevant keys;
    the server/API/Weaviate endpoints have no Spark equivalent)."""
    return {
        "matching": {
            "similarity_threshold": DEFAULT_SIMILARITY_THRESHOLD,
            "default_limit": DEFAULT_LIMIT,
            "field_weights": dict(DEFAULT_FIELD_WEIGHTS),
        },
        "embedding": {
            "batch_size": 32,
            "embedding_dim": DEFAULT_EMBEDDING_DIM,
            "model_name": "all-MiniLM-L6-v2",
        },
        "normalization": {
            "enable_stopwords": True,
            "enable_lowercase": True,
            "name_options": {"remove_legal_suffixes": True, "normalize_initials": True},
            "address_options": {"standardize_abbreviations": True,
                                "remove_apartment_numbers": True},
            "phone_options": {"e164_format": True},
            "email_options": {"lowercase_domain": True},
        },
        "clustering": {
            "enabled": False,
            "method": "canopy",
            "fields": list(DEFAULT_CLUSTER_FIELDS),
            "similarity_threshold": 0.8,
        },
        "group": {
            "strategy": DEFAULT_GROUP_STRATEGY,
            "hops_limit": DEFAULT_HOPS_LIMIT,
            "max_group_size": DEFAULT_MAX_GROUP_SIZE,
        },
    }


def _deep_merge(base: dict, over: dict) -> dict:
    out = dict(base)
    for k, v in over.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def load_config(path: str | None = None) -> dict:
    """Load engine config: defaults <- file (YAML or JSON) <- env.

    Environment overrides use the reference's prefix convention
    (config.go:89-90): ``RESOLVE_MATCHING_SIMILARITY_THRESHOLD=0.9``
    maps to ``cfg['matching']['similarity_threshold']``.
    """
    import json
    import os

    cfg = _config_defaults()
    if path:
        with open(path) as f:
            raw = f.read()
        if path.endswith(".json"):
            loaded = json.loads(raw)
        else:
            import yaml
            loaded = yaml.safe_load(raw)
        if loaded:
            cfg = _deep_merge(cfg, loaded)
    for key, val in os.environ.items():
        if not key.startswith("RESOLVE_"):
            continue
        parts = key[len("RESOLVE_"):].lower().split("_", 1)
        if len(parts) != 2 or parts[0] not in cfg:
            continue
        section, rest = parts
        if rest in cfg[section]:
            cur = cfg[section][rest]
            if isinstance(cur, bool):
                cfg[section][rest] = val.lower() in ("1", "true", "yes")
            elif isinstance(cur, (int, float)):
                cfg[section][rest] = type(cur)(val)
            else:
                cfg[section][rest] = val
    return cfg
