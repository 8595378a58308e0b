"""Text-analysis operators for large-scale training-data pipelines.

All native Column expressions (whole-stage codegen) unless noted:
- language-ID: stopword-hit-rate heuristic over small per-language
  function-word sets (the classic n-gram-free baseline)
- quality scoring: length / punctuation / stopword-ratio features
  blended to one [0,1] score
- token counting: whitespace tokens + a BPE-ish subword estimate
- document fingerprinting: rolling/content hashes for exact and
  near-exact dedup keys
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

# Small function-word profiles (top function words per language).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "ich", "zu"),
    "fr": ("le", "la", "les", "et", "des", "est", "pas", "une", "dans", "que"),
    "es": ("el", "la", "los", "de", "que", "es", "una", "por", "con", "para"),
    "zh": (),  # han-script detection below, not word lists
}


def _tokens(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), r"[^\p{L}\p{N}]+"), lambda t: t != "")


def ws_tokens(col: Column) -> Column:
    """Case-folded WHITESPACE tokens (punctuation kept inside tokens) —
    the shared token stream of the corpus-statistics and span-dedup
    operators (corpus_stats.py, dedup.py). Distinct from :func:`_tokens`
    above, which splits on every non-alphanumeric run."""
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def lang_id(col: Column) -> Column:
    """Best-guess language code by function-word hit rate; 'zh' when han
    characters dominate; 'und' when nothing scores."""
    toks = _tokens(col)
    n = F.greatest(F.size(toks), F.lit(1))
    scores = []
    def _hits(wordset: Column) -> Column:
        # closure, NOT a default-arg lambda: pyspark reads lambda arity,
        # and a second parameter turns it into an (element, index) lambda
        return F.size(F.filter(toks, lambda t: F.array_contains(wordset, t)))

    for lang, words in LANG_PROFILES.items():
        if not words:
            continue
        wordset = F.lit(np.array(words, dtype=str))
        scores.append((lang, _hits(wordset) / n))
    han = F.length(F.regexp_replace(col, r"[^\p{IsHan}]", ""))
    best = None
    best_score = None
    for lang, score in scores:
        if best is None:
            best, best_score = F.lit(lang), score
        else:
            cond = score > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, score).otherwise(best_score)
    return (
        F.when(han / F.greatest(F.length(col), F.lit(1)) > 0.25, F.lit("zh"))
        .when(best_score > 0.02, best)
        .otherwise(F.lit("und"))
    )


def quality_score(col: Column) -> Column:
    """[0,1] document-quality heuristic: reasonable length, sane mean
    word length, low punctuation density, some stopword mass."""
    n_chars = F.length(col)
    toks = _tokens(col)
    n_toks = F.greatest(F.size(toks), F.lit(1))
    mean_word_len = n_chars / n_toks
    punct = F.length(F.regexp_replace(col, r"[\p{L}\p{N}\s]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    en_stop = F.lit(np.array(LANG_PROFILES["en"], dtype=str))
    stop_ratio = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t))) / n_toks
    len_score = F.least(n_chars / F.lit(200.0), F.lit(1.0))
    word_len_score = F.when((mean_word_len >= 3) & (mean_word_len <= 12), 1.0).otherwise(0.3)
    punct_score = F.when(punct_ratio < 0.2, 1.0).otherwise(F.lit(1.0) - punct_ratio)
    stop_score = F.least(stop_ratio * 5, F.lit(1.0))
    return (0.3 * len_score + 0.25 * word_len_score + 0.25 * punct_score
            + 0.2 * stop_score)


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(F.split(col, r"\s+"), lambda t: t != ""))


def subword_count_estimate(col: Column) -> Column:
    """BPE-ish token estimate: word pieces of <=4 chars, digits and
    punctuation runs as single tokens (ceil(len/4) per word +
    punct runs) — the standard chars/4 heuristic, word-aware."""
    toks = _tokens(col)
    word_pieces = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("int")
    )
    punct_runs = F.size(
        F.filter(F.split(col, r"[\p{L}\p{N}\s]+"), lambda t: t != "")
    )
    return word_pieces + punct_runs


def content_fingerprint(col: Column, bits: int = 64) -> Column:
    """Exact-dedup fingerprint: xxhash64 of whitespace-normalized,
    case-folded content (cheap, collision-safe at table scale)."""
    # collapse first: Spark trim() strips spaces only, not \n/\t
    normalized = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    return F.xxhash64(normalized)


def rolling_window_fingerprints(col: Column, window: int = 64, stride: int = 32) -> Column:
    """Array of window fingerprints over the normalized text — the
    content-defined-chunking analog for near-exact containment dedup
    (shared window hash => shared chunk). Native expressions only."""
    # collapse first: Spark trim() strips spaces only, not \n/\t
    normalized = F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
    n = F.length(normalized)
    starts = F.sequence(
        F.lit(1),
        F.greatest(n - window + 1, F.lit(1)),
        F.lit(stride),
    )
    return F.transform(starts, lambda i: F.xxhash64(F.substring(normalized, i, window)))


def simhash64(col: Column, hash_impl: str = "fast") -> Column:
    """64-bit SimHash over per-token hashes — native implementation.

    For each bit b: sum over tokens of (+1 if bit set else -1); the
    sign vector packs into one long. Expressed as an aggregate over the
    token array per bit, folded with bit arithmetic (no Python).

    ``hash_impl``: "fast" = xxhash64 (production default); "portable" =
    the md5-prefix hash (functions/hashing.py) that a DuckDB oracle can
    recompute bit-identically (60 effective bits; bits 60-62 are then
    always 0 on both sides — a slightly narrower but still-valid
    fingerprint).
    """
    from resolve_spark.functions.hashing import check_hash_impl, portable_hash60

    check_hash_impl(hash_impl)
    token_hash = F.xxhash64 if hash_impl == "fast" else portable_hash60
    toks = F.array_distinct(_tokens(col))
    hashes = F.transform(toks, lambda t: token_hash(t))
    bits = F.sequence(F.lit(0), F.lit(62))  # bit 63 kept 0 (sign-safe under ANSI)
    # ONE aggregate with an array accumulator: per-bit set-bit counts.
    # (63 independent per-bit aggregates would re-embed the hash subtree
    # 63x and blow the codegen method limit.)
    bitcounts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 63),
        lambda acc, h: F.zip_with(
            acc, bits, lambda a, b: a + F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)).cast("int")
        ),
    )
    n = F.size(hashes)
    packed = F.aggregate(
        F.zip_with(
            bitcounts,
            bits,
            lambda c, b: F.when(c * 2 > n, F.call_function("shiftleft", F.lit(1).cast("long"), b))
            .otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return F.when(F.size(toks) == 0, F.lit(0).cast("long")).otherwise(packed)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints: bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality filters (Rae et al. 2021, §A1.1 —
# the published web-scale training-data quality rules). All native.
# ---------------------------------------------------------------------------


def _lines(col: Column) -> Column:
    return F.filter(F.split(col, r"\n"), lambda l: F.trim(l) != "")


def duplicate_line_fraction(col: Column) -> Column:
    """Fraction of non-empty lines that repeat an earlier line."""
    lines = _lines(col)
    n = F.size(lines)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(lines))) / n.cast("double")
    )


def dedup_lines(col: Column) -> Column:
    """Remove exact duplicate lines within a document, keeping the
    FIRST occurrence of each (blank lines dedup like any other) — the
    repair counterpart of duplicate_line_fraction, for boilerplate- and
    scrape-artifact-heavy corpora. Pure whole-stage codegen: keep-first
    is array_position over the running line prefix (quadratic in a
    doc's LINE count, linear in characters — fine at any corpus scale
    because the cost is per-row, shuffle-free)."""
    lines = F.split(col, r"\n")
    kept = F.filter(
        lines,
        lambda x, i: F.array_position(F.slice(lines, F.lit(1), i), x) == 0,
    )
    return F.array_join(kept, "\n")


def duplicate_word_fraction(col: Column) -> Column:
    """Fraction of tokens that repeat an earlier token."""
    toks = _tokens(col)
    n = F.size(toks)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct(toks))) / n.cast("double")
    )


def symbol_word_ratio(col: Column) -> Column:
    """(# signs + ellipses) per word — the Gopher symbol rule."""
    syms = F.regexp_count(col, F.lit(r"#|\.\.\.|…"))
    return syms / F.greatest(F.size(_tokens(col)), F.lit(1)).cast("double")


def alpha_word_fraction(col: Column) -> Column:
    """Fraction of tokens containing at least one letter."""
    toks = _tokens(col)
    n = F.greatest(F.size(toks), F.lit(1))
    return F.size(F.filter(toks, lambda t: t.rlike(r"\p{L}"))) / n.cast("double")


def bullet_line_fraction(col: Column) -> Column:
    """Fraction of lines that start with a bullet marker."""
    lines = _lines(col)
    n = F.greatest(F.size(lines), F.lit(1))
    bullets = F.filter(lines, lambda l: F.trim(l).rlike(r"^(-|\*|•) "))
    return F.size(bullets) / n.cast("double")


def ellipsis_line_fraction(col: Column) -> Column:
    """Fraction of lines that end with an ellipsis."""
    lines = _lines(col)
    n = F.greatest(F.size(lines), F.lit(1))
    ell = F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    return F.size(ell) / n.cast("double")


def gopher_quality_flags(
    col: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    max_dup_line_frac: float = 0.3,
) -> Column:
    """struct of the Gopher repetition/quality stats plus a ``passes``
    boolean under the published thresholds (parameterized so small
    synthetic corpora can demo the gates). One projection, whole-stage
    codegen — at 100 TB this is a pure map stage with no shuffle."""
    toks = _tokens(col)
    n_words = F.size(toks)
    mean_wl = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ) / F.greatest(n_words, F.lit(1)).cast("double")
    dup_line = duplicate_line_fraction(col)
    sym = symbol_word_ratio(col)
    alpha = alpha_word_fraction(col)
    bullet = bullet_line_fraction(col)
    ell = ellipsis_line_fraction(col)
    passes = (
        (n_words >= min_words) & (n_words <= max_words)
        & (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
        & (sym <= max_symbol_ratio)
        & (bullet <= max_bullet_frac)
        & (ell <= max_ellipsis_frac)
        & (alpha >= min_alpha_frac)
        & (dup_line <= max_dup_line_frac)
    )
    return F.struct(
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        dup_line.alias("dup_line_frac"),
        duplicate_word_fraction(col).alias("dup_word_frac"),
        sym.alias("symbol_ratio"),
        alpha.alias("alpha_frac"),
        bullet.alias("bullet_frac"),
        ell.alias("ellipsis_frac"),
        passes.alias("passes"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (native regex; the standard C4/CCNet-style pre-training
# hygiene pass). Patterns are RE2-compatible (no lookaround) so a SQL
# oracle can recompute them byte-identically.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "phone": r"\+?[0-9][0-9()\-. ]{6,}[0-9]",
}
# most-specific first: an SSN or dotted quad would otherwise be eaten
# by the broad phone pattern
PII_REDACTION_ORDER: tuple[str, ...] = ("email", "ipv4", "ssn", "phone")
PII_TOKENS: dict[str, str] = {
    "email": "[EMAIL]", "ipv4": "[IP]", "ssn": "[SSN]", "phone": "[PHONE]",
}


def redact_pii(col: Column) -> Column:
    """Replace emails / IPv4s / SSNs / phone-shaped runs with typed
    placeholder tokens, most-specific category first."""
    out = col
    for k in PII_REDACTION_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[k], PII_TOKENS[k])
    return out


def pii_counts(col: Column) -> Column:
    """struct<email,ipv4,ssn,phone> of match counts, each counted on
    the text AFTER redacting the earlier (more specific) categories so
    one span is never attributed twice."""
    cur = col
    fields = []
    for k in PII_REDACTION_ORDER:
        fields.append(F.regexp_count(cur, F.lit(PII_PATTERNS[k])).alias(k))
        cur = F.regexp_replace(cur, PII_PATTERNS[k], PII_TOKENS[k])
    return F.struct(*fields)
