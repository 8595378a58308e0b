"""Normalization operators (SURVEY.md §2.2, N1-N8) as native Column exprs.

Parity target: /root/reference/internal/normalize/normalize.go. Every
function here is a pure pyspark Column expression — whole-stage-codegen
eligible, no Python in the executor hot path.

Known divergence (deliberate): the reference's initials regex
``\\b([A-Z])\\.?\\b`` (normalize.go:36,173) is a no-op — it runs after
lowercasing, and ``\\b`` cannot sit between '.' and ' ' anyway — yet the
reference's own unit test (normalize_test.go:33-36) expects
``"J. D. Salinger" -> "j d salinger"``. We implement the test-expected
semantics: drop the dot after any single-letter token.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from resolve_spark.config import NormalizationOptions

# normalize.go:102-119 — 66-word stopword list, verbatim.
STOPWORDS: tuple[str, ...] = (
    "a", "an", "the", "and", "but", "if", "or", "because", "as", "until",
    "while", "of", "at", "by", "for", "with", "about", "against", "between",
    "into", "through", "during", "before", "after", "above", "below", "to",
    "from", "up", "down", "in", "out", "on", "off", "over", "under", "again",
    "further", "then", "once", "here", "there", "when", "where", "why",
    "how", "all", "any", "both", "each", "few", "more", "most", "other",
    "some", "such", "no", "nor", "not", "only", "own", "same", "so", "than",
    "too", "very", "can", "will", "just", "should", "now",
)

# normalize.go:31 — legal business suffixes stripped from names.
LEGAL_SUFFIX_RE = (
    r"(?i)\s+(inc\.?|incorporated|corp\.?|corporation|llc|ltd\.?|limited"
    r"|llp|l\.l\.p\.?|pllc|p\.l\.l\.c\.?|pc|p\.c\.?)$"
)

# normalize.go:33 — phone E.164 capture groups.
PHONE_RE = r"^(?:\+?(\d{1,3}))?[-. (]*(\d{3})[-. )]*(\d{3})[-. ]*(\d{4})$"

# normalize.go:34 — email validity.
EMAIL_RE = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"

# normalize.go:37 — apartment/suite/unit clauses.
APARTMENT_RE = r"(?i)(\s+)(apt|apartment|ste|suite|unit|#)\.?\s+[a-z0-9-]+"

# normalize.go:39-49 — street-type abbreviation map (9 entries, verbatim).
STREET_ABBREVIATIONS: dict[str, str] = {
    "street": "st",
    "avenue": "ave",
    "boulevard": "blvd",
    "road": "rd",
    "lane": "ln",
    "drive": "dr",
    "court": "ct",
    "square": "sq",
    "parkway": "pkwy",
}

# normalize.go:50-101 — 50-state name -> USPS code map, verbatim.
STATE_CODES: dict[str, str] = {
    "alabama": "AL", "alaska": "AK", "arizona": "AZ", "arkansas": "AR",
    "california": "CA", "colorado": "CO", "connecticut": "CT",
    "delaware": "DE", "florida": "FL", "georgia": "GA", "hawaii": "HI",
    "idaho": "ID", "illinois": "IL", "indiana": "IN", "iowa": "IA",
    "kansas": "KS", "kentucky": "KY", "louisiana": "LA", "maine": "ME",
    "maryland": "MD", "massachusetts": "MA", "michigan": "MI",
    "minnesota": "MN", "mississippi": "MS", "missouri": "MO",
    "montana": "MT", "nebraska": "NE", "nevada": "NV",
    "new hampshire": "NH", "new jersey": "NJ", "new mexico": "NM",
    "new york": "NY", "north carolina": "NC", "north dakota": "ND",
    "ohio": "OH", "oklahoma": "OK", "oregon": "OR", "pennsylvania": "PA",
    "rhode island": "RI", "south carolina": "SC", "south dakota": "SD",
    "tennessee": "TN", "texas": "TX", "utah": "UT", "vermont": "VT",
    "virginia": "VA", "washington": "WA", "west virginia": "WV",
    "wisconsin": "WI", "wyoming": "WY",
}

_DEFAULT_OPTS = NormalizationOptions()


def _stopwords_array() -> Column:
    # built lazily: Column construction requires an active SparkSession
    return F.lit(np.array(STOPWORDS, dtype=str))


def _collapse_ws(col: Column) -> Column:
    return F.regexp_replace(F.trim(col), r"\s+", " ")


def normalize_text(col: Column, opts: NormalizationOptions = _DEFAULT_OPTS) -> Column:
    """N1 — lowercase, trim, collapse whitespace, drop stopwords.

    normalize.go:126-155. Stopword comparison is case-insensitive even
    when lowercasing is off (normalize.go:146).
    """
    out = F.lower(col) if opts.enable_lowercase else col
    out = _collapse_ws(out)
    if opts.enable_stopwords:
        stop = _stopwords_array()
        toks = F.split(out, " ")
        kept = F.filter(
            toks,
            lambda w: (w != F.lit("")) & ~F.array_contains(stop, F.lower(w)),
        )
        out = F.array_join(kept, " ")
    # empty in -> empty out (normalize.go:127-129); expression already yields ''
    return out


def normalize_name(col: Column, opts: NormalizationOptions = _DEFAULT_OPTS) -> Column:
    """N2 — N1 + strip legal suffixes + collapse single-letter initials.

    normalize.go:158-177 (see module docstring for the initials
    divergence).
    """
    out = normalize_text(col, opts)
    if opts.remove_legal_suffixes:
        out = F.regexp_replace(out, LEGAL_SUFFIX_RE, "")
    if opts.normalize_initials:
        out = F.regexp_replace(out, r"(?i)\b([a-z])\.", r"$1")
    return F.trim(out)


def normalize_address(col: Column, opts: NormalizationOptions = _DEFAULT_OPTS) -> Column:
    """N3 — N1 + street-type abbreviations + drop apt/suite/unit clauses.

    normalize.go:180-202.
    """
    out = normalize_text(col, opts)
    if opts.standardize_abbreviations:
        for word, abbr in STREET_ABBREVIATIONS.items():
            out = F.regexp_replace(out, rf"(?i)\b{word}\b\.?", abbr)
    if opts.remove_apartment_numbers:
        out = F.regexp_replace(out, APARTMENT_RE, "")
    return F.trim(out)


def normalize_phone(col: Column, opts: NormalizationOptions = _DEFAULT_OPTS) -> Column:
    """N4 — to E.164 with default country code 1; passthrough otherwise.

    normalize.go:205-233.
    """
    if not opts.phone_e164:
        return col
    already = (
        col.startswith("+") & (F.length(col) >= 8) & (F.length(col) <= 15)
    )
    cc = F.regexp_extract(col, PHONE_RE, 1)
    e164 = F.concat(
        F.lit("+"),
        F.when(cc == "", F.lit("1")).otherwise(cc),
        F.regexp_extract(col, PHONE_RE, 2),
        F.regexp_extract(col, PHONE_RE, 3),
        F.regexp_extract(col, PHONE_RE, 4),
    )
    return (
        F.when(col == "", col)
        .when(already, col)
        .when(col.rlike(PHONE_RE), e164)
        .otherwise(col)
    )


def normalize_email(col: Column, opts: NormalizationOptions = _DEFAULT_OPTS) -> Column:
    """N5 — validate, then lowercase the domain part only.

    normalize.go:236-255 (local part keeps its case).
    """
    if not opts.email_lowercase_domain:
        return col
    lowered = F.concat(
        F.substring_index(col, "@", 1),
        F.lit("@"),
        F.lower(F.substring_index(col, "@", -1)),
    )
    return F.when(col.rlike(EMAIL_RE), lowered).otherwise(col)


def normalize_state(col: Column) -> Column:
    """N6 — full state name -> 2-letter code; 2-char input -> upper.

    normalize.go:258-277.
    """
    mapping = F.map_from_arrays(
        F.lit(np.array(list(STATE_CODES), dtype=str)),
        F.lit(np.array(list(STATE_CODES.values()), dtype=str)),
    )
    return (
        F.when(col == "", col)
        .when(F.length(col) == 2, F.upper(col))
        .otherwise(F.coalesce(mapping[F.lower(col)], col))
    )


def normalize_zip(col: Column) -> Column:
    """N7 — strip non-alphanumerics; first 5 chars when digit-led.

    normalize.go:280-294.
    """
    stripped = F.regexp_replace(col, r"[^0-9a-zA-Z]", "")
    return F.when(
        (F.length(stripped) >= 5) & F.substring(stripped, 1, 1).rlike("[0-9]"),
        F.substring(stripped, 1, 5),
    ).otherwise(stripped)


# --- phonetic blocking key (engine extension; no reference analog) --------

# Soundex letter->code map: A0 B1 C2 D3 E0 F1 G2 H0 I0 J2 K2 L4 M5 N5 O0
# P1 Q2 R6 S2 T3 U0 V1 W0 X2 Y0 Z2.
_PHONETIC_ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_PHONETIC_CODES = "01230120022455012623010202"
# one global replace halves any same-digit run; 6 rounds collapse runs up
# to 64 = the letter-prefix length the key is computed over
_PHONETIC_COLLAPSE_ROUNDS = 6
_PHONETIC_PREFIX = 64


def phonetic_key(col: Column) -> Column:
    """Soundex-family phonetic key: first letter + the first 3 non-trivial
    consonant codes, zero-padded — 'smith'/'SMYTHE' -> 'S530'. '' when the
    input has no ASCII letters.

    This is the SIMPLIFIED (MySQL-family) Soundex variant: H and W code
    to 0 exactly like vowels, i.e. they BREAK consonant runs, where
    American Soundex treats them as transparent ('Ashcraft' -> A226 here
    vs A261 classically). Chosen deliberately: the variant is expressible
    as the same pure string-function chain in Spark SQL and ANSI/DuckDB
    SQL (translate + fixpoint pair-collapse + rpad), so the blocking pass
    built on it is oracle-checkable, and blocking only needs *a*
    deterministic phonetic equivalence, not the 1918 census one.

    Pure native expressions (codegen-eligible): the run collapse is a
    fixpoint of replace('dd'->'d') — each global pass halves a run, so
    6 passes fully collapse the 64-letter prefix the key reads.
    """
    letters = F.substring(
        F.upper(F.regexp_replace(F.coalesce(col, F.lit("")), "[^A-Za-z]", "")),
        1,
        _PHONETIC_PREFIX,
    )
    coded = F.translate(letters, _PHONETIC_ALPHABET, _PHONETIC_CODES)
    for _ in range(_PHONETIC_COLLAPSE_ROUNDS):
        for d in "0123456":
            coded = F.replace(coded, F.lit(d + d), F.lit(d))
    digits = F.replace(F.substring(coded, 2, _PHONETIC_PREFIX), F.lit("0"), F.lit(""))
    key = F.concat(
        F.substring(letters, 1, 1), F.rpad(F.substring(digits, 1, 3), 3, "0")
    )
    return F.when(letters == "", F.lit("")).otherwise(key)


# N8 — per-field dispatch used by normalize_entity (normalize.go:297-335).
FIELD_NORMALIZERS = {
    "name": normalize_name,
    "address": normalize_address,
    "phone": normalize_phone,
    "email": normalize_email,
    "state": lambda c, opts=_DEFAULT_OPTS: normalize_state(c),
    "zip": lambda c, opts=_DEFAULT_OPTS: normalize_zip(c),
    "city": normalize_text,
}


def normalize_entity(
    df: DataFrame,
    field_types: dict[str, str] | None = None,
    opts: NormalizationOptions = _DEFAULT_OPTS,
) -> DataFrame:
    """N8 — add ``<col>_normalized`` companions for every known field.

    normalize.go:297-335. ``field_types`` maps column name -> normalizer
    family (``name|address|phone|email|state|zip|city|text``); by default
    each column normalizes by its own name when that name is a known
    family (the reference's fixed 7-field behavior).
    """
    if field_types is None:
        field_types = {c: c for c in df.columns if c in FIELD_NORMALIZERS}
    new_cols = {}
    for colname, ftype in field_types.items():
        fn = FIELD_NORMALIZERS.get(ftype, normalize_text)
        new_cols[f"{colname}_normalized"] = fn(F.col(colname), opts)
    return df.withColumns(new_cols)
