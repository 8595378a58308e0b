"""Lookup tables built as one typed array literal (``F.lit`` of a 1-D
numpy array) give the same values and types as the per-element build
they replaced (one ``F.lit`` per element inside ``F.array`` /
``create_map``), and cost two JVM calls per element (py4j sets a Java
array element by element) where the per-element build costs over ten.

Each site is built twice: as it is, and with its module's ``F``
swapped for :class:`_PerElementF`, whose ``lit`` of an array is the
per-element build."""

from __future__ import annotations

import numpy as np
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F
from pyspark.sql.types import _from_numpy_type

from resolve_spark.functions import normalize as N
from resolve_spark.functions import text as TX
from resolve_spark.operators import ann
from resolve_spark.operators import compress as CP
from resolve_spark.operators import corpus_stats as CS
from resolve_spark.operators import dedup as DD


class _PerElementF:
    """``pyspark.sql.functions`` except ``lit(1-D ndarray)``: the
    per-element build, each number cast to the array's element type."""

    def __getattr__(self, name):
        return getattr(F, name)

    @staticmethod
    def lit(v):
        if not isinstance(v, np.ndarray):
            return F.lit(v)
        if v.dtype.kind == "U":
            return F.array(*[F.lit(x) for x in v.tolist()])
        t = _from_numpy_type(v.dtype)
        return F.array(*[F.lit(x).cast(t) for x in v.tolist()])


def _both(monkeypatch, module, build):
    """(typed-literal frame, per-element frame) of ``build()``."""
    typed = build()
    with monkeypatch.context() as m:
        m.setattr(module, "F", _PerElementF())
        per_element = build()
    return typed, per_element


def _assert_same(typed, per_element):
    assert typed.schema.simpleString() == per_element.schema.simpleString()
    assert sorted(map(repr, typed.collect())) == sorted(
        map(repr, per_element.collect()))


#: 64 tokens (bit 63 is the sign bit) with a quote, a backslash and
#: non-ASCII text among them
TOKENS = sorted(
    ["it's", "back\\slash", "naïve", "東京", "ß", "a b", "'", "\\", ""]
    + [f"t{i:02d}" for i in range(55)]
)
WEIGHTS = [3 * i + 1 for i in range(64)]


def _bits(tokens=TOKENS, weights=WEIGHTS):
    return CP.TokenBits([{"tok": t, "w": w} for t, w in zip(tokens, weights)])


def test_token_bits_bit(spark, monkeypatch):
    assert len(TOKENS) == 64
    df = spark.createDataFrame(
        [(t,) for t in TOKENS + ["not-in-vocab"]] + [(None,)], "tok string")
    typed, per_element = _both(
        monkeypatch, CP,
        lambda: df.select("tok", _bits().bit(F.col("tok")).alias("b")))
    _assert_same(typed, per_element)
    got = {r.tok: r.b for r in typed.collect()}
    assert got[TOKENS[63]] == -(1 << 63)
    assert got[TOKENS[0]] == 1
    assert got["not-in-vocab"] is None
    assert typed.schema["b"].dataType.simpleString() == "bigint"


def test_wjacc_iw(spark, monkeypatch):
    masks = [0, 1, -1, -(1 << 63), (1 << 62) + 5, 0x0F0F_F0F0_1234_5678]
    df = spark.createDataFrame([(m,) for m in masks], "im long")
    bits = _bits()
    typed, per_element = _both(
        monkeypatch, DD,
        lambda: df.select("im", DD._wjacc_iw(bits, F.col("im")).alias("iw")))
    _assert_same(typed, per_element)
    for r in typed.collect():
        u = r.im & ((1 << 64) - 1)
        assert r.iw == sum(w for i, w in enumerate(WEIGHTS) if u >> i & 1)


def test_value_pair_table(spark, monkeypatch):
    names = ["it's", "back\\slash", "naïve", "東京", "plain"]
    df = spark.createDataFrame([(n,) for n in names] + [(None,)], "n string")

    def build():
        return CP.value_pair_table(
            spark, df, "n", lambda a, b: F.concat(a, F.lit("|"), b), "ab")

    typed, per_element = _both(monkeypatch, CP, build)
    _assert_same(typed, per_element)
    assert typed.count() == len(names) ** 2


def test_value_pair_table_empty_value_list(spark):
    df = spark.createDataFrame([(None,), (None,)], "n string")
    out = CP.value_pair_table(
        spark, df, "n", lambda a, b: F.concat(a, b), "ab")
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<_va:string,_vb:string,ab:string>"


def test_empty_vocabulary(spark):
    bits = _bits([], [])
    df = spark.createDataFrame(
        [(["x"], "x"), ([], "y")], "toks array<string>, tok string")
    out = df.select(bits.bit(F.col("tok")).alias("b"),
                    bits.mask(F.col("toks")).alias("m"))
    assert out.schema.simpleString() == "struct<b:bigint,m:bigint>"
    # no token has a bit; an empty token array is the empty mask
    assert sorted(map(tuple, out.collect()), key=str) == [(None, 0), (None, None)]


def test_normalize_stopwords_and_state(spark, monkeypatch):
    df = spark.createDataFrame(
        [("The Bank of  America",), ("new york",), ("NY",), ("Texas",),
         ("",), (None,), ("Nowhere",)], "s string")
    typed, per_element = _both(
        monkeypatch, N,
        lambda: df.select(N.normalize_text(F.col("s")).alias("t"),
                          N.normalize_state(F.col("s")).alias("st")))
    _assert_same(typed, per_element)


def test_text_wordsets(spark, monkeypatch):
    df = spark.createDataFrame(
        [("the cat and the dog are in the house",),
         ("der Hund und die Katze sind nicht im Haus",),
         ("le chat et le chien sont dans la maison",),
         ("東京は日本の首都です",), ("",)], "s string")
    typed, per_element = _both(
        monkeypatch, TX,
        lambda: df.select(TX.lang_id(F.col("s")).alias("lang"),
                          TX.quality_score(F.col("s")).alias("q")))
    _assert_same(typed, per_element)


def test_kmeans_centroids(spark, monkeypatch):
    rows = [(i, [1.0 + 0.01 * i, 0.1 * (i % 3)]) for i in range(6)] + [
        (10 + i, [0.05 * i, 1.0 - 0.01 * i]) for i in range(6)]
    df = spark.createDataFrame(rows, "rid long, vec array<double>")
    typed, per_element = _both(
        monkeypatch, ann, lambda: ann.kmeans_assign(df, "rid", "vec", k=2))
    _assert_same(typed, per_element)


def test_bm25_idf_map(spark, monkeypatch):
    df = spark.createDataFrame(
        [(1, "naïve it's cat"), (2, "cat dog dog"), (3, "東京 cat")],
        "id long, text string")
    typed, per_element = _both(
        monkeypatch, CS,
        lambda: CS.bm25_scores(df, "id", ["cat", "dog", "naïve", "東京", "it's"]))
    _assert_same(typed, per_element)


def test_float32_query_vector(spark):
    """The match's query vector: a float32 literal equals the doubles
    cast to ``array<float>`` (the build it replaced), rounding included."""
    vec = [0.1, 1.0 / 3.0, 1e-40, 3.0e38, -2.5, 0.0]
    out = spark.range(1).select(
        F.lit(np.array(vec, dtype=np.float32)).alias("typed"),
        F.array(*[F.lit(x) for x in vec]).cast("array<float>").alias("per_element"))
    assert out.schema["typed"].dataType == out.schema["per_element"].dataType
    row = out.first()
    assert row.typed == row.per_element


def _round_trips(fn):
    n = [0]
    orig = ClientServerConnection.send_command

    def counted(self, command):
        n[0] += 1
        return orig(self, command)

    ClientServerConnection.send_command = counted
    try:
        fn()
    finally:
        ClientServerConnection.send_command = orig
    return n[0]


def test_lookup_table_round_trip_budget(spark, monkeypatch):
    """Building q101/q104's lookup tables — the 64-token bit map and
    eight 256-entry weight tables — costs two JVM calls per table
    element; the per-element build costs over ten and fails the bound."""
    bits = _bits()

    def build():
        bits.bit(F.col("tok"))
        DD._wjacc_iw(bits, F.col("im"))

    build()  # warm: class lookups are cached after the first build
    elements = 2 * 64 + 8 * 256
    budget = 2 * elements + 1000
    assert _round_trips(build) <= budget
    monkeypatch.setattr(CP, "F", _PerElementF())
    monkeypatch.setattr(DD, "F", _PerElementF())
    assert _round_trips(build) > budget
