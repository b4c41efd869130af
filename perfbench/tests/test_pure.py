"""The benchmark's pure parts: tail selection, span self time, digest
canonicalization, the request generator and the answer model.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools

import pandas as pd
import pytest

import model
from digest import canonical, digest, frame_digest
from stats import spread, tail
from tracing import Span, self_times


# -- tail percentile ------------------------------------------------------

def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))              # 100 samples
    pct, value, n = tail(xs)
    assert (pct, value, n) == (90.0, 90, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_independent_and_picks_highest_rank():
    xs = [5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12]      # 12 samples
    pct, value, _ = tail(xs)
    assert value == 2 and pct == pytest.approx(100 * 2 / 12)


def test_tail_needs_more_than_min_beyond_samples():
    assert tail(list(range(10))) is None
    assert tail([]) is None
    assert tail(list(range(11)))[1] == 0


def test_spread_is_iqr_over_median():
    assert spread([10, 10, 10, 10]) == 0
    assert spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)


# -- span self time -------------------------------------------------------

def _spans():
    return [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),          # child of root
        Span("b", 3.0, 6.0, 0, "r"),          # overlaps a: union 1..6
        Span("a.x", 1.5, 2.0, 1, "r"),        # grandchild: not root's
        Span("c", 9.0, 12.0, 0, "r"),         # runs past root: clipped
        Span("other", 20.0, 21.0, None, None),
    ]


def test_self_time_subtracts_union_of_direct_children():
    got = self_times(_spans())
    # root: 10 - (1..6 = 5) - (9..10 = 1)
    assert got == pytest.approx([4.0, 2.5, 3.0, 0.5, 3.0, 1.0])


def test_self_time_leaf_is_duration():
    assert self_times([Span("x", 2.0, 2.75, None, None)]) == [0.75]


# -- digests --------------------------------------------------------------

def test_canonical_sorts_columns_and_rows_and_renders_cells():
    cols, rows = canonical(["b", "a"], [(2, None), (1.5, True)])
    assert cols == ["a", "b"]
    assert rows == [("<NULL>", "2.0"), ("True", "1.5")]


def test_digest_ignores_row_and_column_order_and_int_float_type():
    d1 = digest(["x", "y"], [(1, "a"), (2, "b")])
    d2 = digest(["y", "x"], [("b", 2.0), ("a", 1)])
    assert d1 == d2
    assert d1 != digest(["x", "y"], [(1, "a"), (3, "b")])


def test_frame_digest_treats_nan_none_and_nat_as_null():
    a = pd.DataFrame({"t": [pd.Timestamp("2020-01-02 03:04:05"), pd.NaT],
                      "v": [float("nan"), 1.0]})
    b = pd.DataFrame({"v": [None, 1], "t": [
        pd.Timestamp("2020-01-02 03:04:05"), None]})
    assert frame_digest(a) == frame_digest(b)


# -- request generator and answer model ----------------------------------

def _rounds(seed, n=3):
    cat = model.Catalog()
    return list(itertools.islice(model.requests(seed, cat), n))


def test_same_seed_same_requests():
    assert _rounds(7) == _rounds(7)


def test_other_seed_other_requests():
    assert _rounds(7) != _rounds(8)


def test_every_round_sends_each_endpoint_once():
    cat = model.Catalog()
    for units in _rounds(3, 5):
        assert sorted(k for k, _ in units) == sorted(model.ROUND_KINDS)
        gets = [a for k, a in units if k == "get"]
        assert (gets[0] in cat.top_ids) != (gets[1] in cat.top_ids)
        assert all(g in cat.top_ids + cat.year_ids for g in gets)


def test_rounds_keep_write_before_its_dependent_request():
    for seed in range(20):
        for units in _rounds(seed, 4):
            kinds = [k for k, _ in units]
            assert kinds.index("report") < kinds.index("reports")
            mods = [a for k, a in units if k == "moderate"]
            assert [s for s, _, _ in mods] == ["mark", "unmark"]
            assert mods[0][1:] == mods[1][1:]


def test_moderated_feed_alternates_by_round():
    cat = model.Catalog()
    for n, units in enumerate(_rounds(5, 4)):
        mid = next(a[1] for k, a in units if k == "moderate")
        assert (mid in cat.top_ids) == (n % 2 == 0)


def test_model_applies_dead_letter_rule():
    cat = model.Catalog()
    assert 89 not in cat.rows and 97 not in cat.rows and 88 in cat.rows
    assert all(i % 97 and i % 89 for i in cat.rows)
    assert set(cat.dead_ids) & set(cat.rows) == set()


def test_model_backdrop_follows_marks():
    cat = model.Catalog()
    mid = next(i for i in cat.top_ids if len(cat.rows[i]["frames"]) > 1)
    first = cat.served(mid)["backdrop_path"]
    cat.bad.setdefault(mid, set()).add(first)
    second = cat.served(mid)["backdrop_path"]
    assert second not in (None, first)
    cat.bad[mid].discard(first)
    assert cat.served(mid)["backdrop_path"] == first


def test_model_search_orders_with_unique_tiebreak():
    cat = model.Catalog()
    p = {"sort_by": "vote_average", "order": "desc", "limit": 50,
         "skip": 0}
    ids = cat.search(p)
    keys = [(-cat.rows[i]["vote_average"], i) for i in ids]
    assert keys == sorted(keys)
    assert cat.search({**p, "skip": 10, "limit": 10}) == ids[10:20]
