"""Pure helpers of the benchmark: order statistics, span arithmetic and the
seeded generators of edits and requests.

Nothing here imports Spark, so the unit tests run in milliseconds.
"""

from __future__ import annotations

import math
import random

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile needs at least this many samples strictly beyond it.
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples; the
    small slack keeps float error in p·n/100 from bumping an exact rank."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of ``values`` (p in (0, 100])."""
    if not values:
        raise ValueError("percentile of no values")
    return sorted(values)[_rank(p, len(values)) - 1]


def median(values: list[float]) -> float:
    """Median; the mean of the two middle values for an even count."""
    if not values:
        raise ValueError("median of no values")
    ordered = sorted(values)
    mid = len(ordered) // 2
    if len(ordered) % 2:
        return ordered[mid]
    return (ordered[mid - 1] + ordered[mid]) / 2.0


def tail_percentile(n: int) -> float | None:
    """The highest percentile of ``TAIL_LADDER`` with at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples strictly beyond its nearest rank,
    or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """{n, p50, tail_p, tail} of a latency sample; tail fields are None when
    the sample is too small to have a tail under the rule above."""
    out = {"n": len(values), "p50": median(values) if values else None}
    tail_p = tail_percentile(len(values))
    out["tail_p"] = tail_p
    out["tail"] = percentile(values, tail_p) if tail_p is not None else None
    return out


def covered_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → self time: its duration minus the part of its interval that
    its direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def zipf_pick(rng: random.Random, items: list, exponent: float = 1.1):
    """One item, the k-th of ``items`` with weight 1 / k**exponent."""
    weights = [1.0 / (k + 1) ** exponent for k in range(len(items))]
    return rng.choices(items, weights=weights, k=1)[0]


def edit_plan(seed: int, n_edits: int, n_files: int) -> list[dict]:
    """Seeded edit sequence over a corpus of ``n_files`` files.

    Four in five edits append turns to every conversation of 1-4 existing
    files; every fifth adds one file of new conversations. Kinds and sizes
    follow a fixed schedule, so runs that make the same number of edits do
    the same amount of work; the seed picks the files."""
    rng = random.Random(f"edits:{seed}")
    plan = []
    for i in range(n_edits):
        if i % 5 == 4:
            plan.append({"kind": "new_file", "convs": 8})
        else:
            plan.append(
                {
                    "kind": "append",
                    "files": sorted(rng.sample(range(n_files), 1 + i % 4)),
                    "turns": 1 + (i // 5) % 2,
                }
            )
    return plan


def request_plan(
    seed: int, n: int, terms: list[str], roots: list[str]
) -> list[tuple[str, str]]:
    """Seeded request sequence: ``(kind, argument)`` pairs cycling through a
    search, a traversal (``tree`` or ``impact``) and a personalized-PageRank
    ``related`` request. Query terms and roots are drawn with Zipf-skewed
    popularity over a seeded permutation, so popular items repeat."""
    rng = random.Random(f"requests:{seed}")
    terms = sorted(terms)
    roots = sorted(roots)
    rng.shuffle(terms)
    rng.shuffle(roots)
    cycle = ("search", "traverse", "related")
    out = []
    for i in range(n):
        kind = cycle[i % len(cycle)]
        if kind == "search":
            out.append(("search", zipf_pick(rng, terms)))
        elif kind == "traverse":
            out.append((rng.choice(("tree", "impact")), zipf_pick(rng, roots)))
        else:
            out.append(("related", zipf_pick(rng, roots)))
    return out
