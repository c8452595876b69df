"""Unit tests of the benchmark's pure helpers and oracles (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

from perfbench import oracles
from perfbench.stats import (
    edit_plan,
    median,
    percentile,
    request_plan,
    self_times,
    summarize,
    tail_percentile,
)


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_percentile_nearest_rank_and_summary():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 90) == 90.0
    assert percentile(values, 50) == 50.0
    assert median([3.0, 1.0, 2.0, 4.0]) == 2.5
    s = summarize(values)
    assert (s["n"], s["p50"], s["tail_p"], s["tail"]) == (100, 50.5, 90.0, 90.0)
    assert summarize([1.0, 2.0])["tail"] is None


def test_self_time_subtracts_union_of_direct_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
        {"id": 4, "parent": 2, "start": 2.5, "end": 4.0},  # grandchild of 0
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.5)


def test_edit_plan_deterministic_per_seed_and_seed_dependent():
    a = edit_plan(7, 40, 16)
    assert a == edit_plan(7, 40, 16)
    assert a != edit_plan(8, 40, 16)
    kinds = {e["kind"] for e in a}
    assert kinds == {"append", "new_file"}
    for e in a:
        if e["kind"] == "append":
            assert 1 <= len(e["files"]) <= 4
            assert all(0 <= f < 16 for f in e["files"])


def test_request_plan_deterministic_per_seed_and_seed_dependent():
    terms = [f"term {i}" for i in range(30)]
    roots = [f"node_{i}" for i in range(30)]
    a = request_plan(3, 60, terms, roots)
    assert a == request_plan(3, 60, list(reversed(terms)), roots)
    assert a != request_plan(4, 60, terms, roots)
    assert [k for k, _ in a[:3]][0] == "search" and a[2][0] == "related"
    assert a[1][0] in ("tree", "impact")
    # Zipf skew: the most popular term repeats
    searches = [arg for k, arg in a if k == "search"]
    assert max(searches.count(t) for t in set(searches)) >= 3


EDGES = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "a"), ("x", None)]


def test_tree_oracle_min_depth_and_smallest_parent():
    assert oracles.tree(EDGES, "a", 3) == {
        ("a", 0, None), ("b", 1, "a"), ("c", 1, "a"), ("d", 2, "b"),
    }
    assert oracles.tree(EDGES, "a", 1) == {("a", 0, None), ("b", 1, "a"), ("c", 1, "a")}
    assert oracles.tree(EDGES, "zz", 3) == {("zz", 0, None)}


def test_impact_oracle_counts_reverse_reach():
    assert oracles.impact(EDGES, "d", 3) == {("d", 3)}
    assert oracles.impact(EDGES, "b", 1) == {("b", 1)}


def test_related_oracle_keeps_rank_mass_and_drops_root():
    rows = oracles.related(EDGES, "a")
    assert [n for n, _ in rows] == ["d", "b", "c"]
    assert all(r > 0 for _, r in rows)


def test_search_oracle_ranks_keyword_hits_first():
    idx = oracles.ChunkIndex(
        [("c1", "payment service", [1.0] * 64), ("c2", "other words", [0.5] * 64)]
    )
    rows = idx.search("payment")
    assert [r[0] for r in rows] == ["c1", "c2"]
    assert rows[0][4] == "both" and rows[1][4] == "vector"
    assert [r[5] for r in rows] == [1, 2]
