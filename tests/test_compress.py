"""Distinct-key compression helpers (operators/compress.py) and the
fallback branches of the entry queries built on them.

The gated fast paths of q04, q05, q85, q101 and q104 are the only
branches the small-scale oracles ever take; each differential test here
forces the helper's probe (or q101/q104's distinct-set pair budget) to
decline and compares the fallback's full rows with the fast path's.
"""

from __future__ import annotations

import contextlib
import io
import itertools

import pytest

import __spark_entry__ as E
from resolve_spark.operators import compress as CP
from resolve_spark.operators import dedup as DD
from tools.make_sf import gen


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestExpandPairs:
    # rid -> key: several members per key, one singleton key (40), one
    # key (50) no qualifying pair mentions
    MEMBERS = [(1, 10), (4, 10), (7, 10), (2, 20), (5, 20), (3, 30), (6, 40), (8, 50)]

    def _members(self, spark, rows):
        return spark.createDataFrame(rows, "rid long, key long")

    def test_self_mode_emits_each_unordered_pair_once(self, spark):
        qual = spark.createDataFrame(
            [(10, 10, "s"), (10, 20, "x"), (20, 30, "y"), (40, 40, "z")],
            "key_a long, key_b long, tag string",
        )
        out = CP.expand_pairs(qual, self._members(spark, self.MEMBERS))
        assert out.columns == ["id_a", "id_b", "key_a", "key_b", "tag"]
        got = _rows(out)
        key = dict(self.MEMBERS)
        expect = set()
        for ka, kb, tag in [(10, 10, "s"), (10, 20, "x"), (20, 30, "y")]:
            ra = [r for r, k in self.MEMBERS if k == ka]
            rb = [r for r, k in self.MEMBERS if k == kb]
            for x, y in itertools.product(ra, rb):
                if x != y:
                    lo, hi = min(x, y), max(x, y)
                    expect.add((lo, hi, key[lo], key[hi], tag))
        assert got == sorted(expect)
        # each unordered pair once, never a record with itself
        assert len({(a, b) for a, b, *_ in got}) == len(got)
        assert all(a < b for a, b, *_ in got)
        # within key 10: C(3, 2) pairs; key 40 has one member, no pair
        assert sum(1 for r in got if r[4] == "s") == 3
        assert not any(r[4] == "z" for r in got)

    def test_cross_mode_applies_no_ordering(self, spark):
        left = self._members(spark, [(9, 1), (3, 1), (5, 2)])
        right = self._members(spark, [(1, 1), (4, 2), (2, 2)])
        qual = spark.createDataFrame(
            [(1, 1, 0.5), (1, 2, 0.25), (2, 1, 1.0)],
            "key_a long, key_b long, s double",
        )
        got = _rows(CP.expand_pairs(qual, left, right))
        assert got == sorted([
            (9, 1, 1, 1, 0.5), (3, 1, 1, 1, 0.5),
            (9, 4, 1, 2, 0.25), (9, 2, 1, 2, 0.25),
            (3, 4, 1, 2, 0.25), (3, 2, 1, 2, 0.25),
            (5, 1, 2, 1, 1.0),
        ])
        assert any(a > b for a, b, *_ in got)


class TestTokenBitmask:
    def test_sixty_four_tokens_fill_the_long(self, spark):
        toks = [f"t{i:02d}" for i in range(64)]
        vocab = spark.createDataFrame([(t,) for t in toks], "tok string")
        bits = CP.token_bitmask(vocab)
        assert [r["tok"] for r in bits.rows] == toks
        d = spark.createDataFrame(
            [(0, toks), (1, ["t63"]), (2, ["t00", "t05"]), (3, []), (4, None)],
            "id int, t array<string>",
        )
        m = dict(d.select("id", bits.mask("t")).collect())
        assert m == {0: -1, 1: -(1 << 63), 2: 1 | 1 << 5, 3: 0, 4: None}

    def test_sixty_five_tokens_decline(self, spark):
        vocab = spark.createDataFrame([(f"t{i:02d}",) for i in range(65)], "tok string")
        assert CP.token_bitmask(vocab) is None


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf0.001"))
    with contextlib.redirect_stdout(io.StringIO()):
        gen(0.001, out)
    return out


# probe -> (module, replacement that makes it decline); a one-pair
# budget sends q101/q104 through the ICWS band join + exact verify
_DECLINE = {
    "value_pair_table": (CP, lambda *a, **k: None),
    "token_bitmask": (CP, lambda *a, **k: None),
    "_WJACC_SET_PAIR_BUDGET": (DD, 1),
}


@pytest.mark.parametrize(
    "query, probe",
    [
        ("q04_levenshtein_pairs", "value_pair_table"),
        ("q05_jaccard_pairs", "token_bitmask"),
        ("q85_fs_levels", "value_pair_table"),
        ("q101_wjaccard_icws", "_WJACC_SET_PAIR_BUDGET"),
        ("q104_wjaccard_join", "_WJACC_SET_PAIR_BUDGET"),
    ],
)
def test_declined_probe_matches_fast_path(spark, sf_dir, monkeypatch, query, probe):
    run = E.queries()[query]
    fast = run(spark, sf_dir)
    fast_rows = _rows(fast)
    module, declined = _DECLINE[probe]
    monkeypatch.setattr(module, probe, declined)
    slow = run(spark, sf_dir)
    assert slow.columns == fast.columns
    assert _rows(slow) == fast_rows
    assert len(fast_rows) > 0
