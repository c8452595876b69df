"""Independent recomputes that every benchmark operation is checked
against: plain Python over rows collected from the store, sharing no code
with the engine's operators."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict, deque
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# engine defaults the CLI verbs run with
SEARCH_K = 10
SEARCH_PREFETCH = 100
RRF_K = 60
EMBED_DIM = 64
PPR_ITERS = 3
PPR_DAMPING = 0.85
RELATED_TOP = 10
SCORE_TOL = 2e-6


def _embed(text: str, dim: int = EMBED_DIM) -> list[float]:
    digest = hashlib.sha256(text.encode("utf-8")).digest()
    return [digest[i % 32] / 255.0 * 2.0 - 1.0 for i in range(dim)]


def _tokens(text: str | None) -> set[str]:
    return {t for t in re.split(r"\s+", (text or "").lower()) if t}


def _round_half_up(x: float, nd: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


class ChunkIndex:
    """The chunk table of one store version, held for repeated searches:
    ``rows`` = [(chunk_id, tsv_input, embedding)]."""

    def __init__(self, rows: list[tuple]):
        self.ids = [r[0] for r in rows]
        self.tokens = [_tokens(r[1]) for r in rows]
        emb = np.array([r[2] for r in rows], dtype=np.float32).reshape(len(rows), -1)
        self.emb = emb.astype(np.float64)
        # float32 squares summed left to right in double, as the engine does
        self.norm = np.sqrt(np.cumsum((emb * emb).astype(np.float64), axis=1)[:, -1])

    def search(self, query: str) -> list[tuple]:
        """Rows (chunk_id, vec_sim, kw_sim, rrf_score, match_type, search_rank)."""
        qv = np.array(_embed(query))
        qt = _tokens(query)
        qn = math.sqrt(sum(x * x for x in qv))
        dots = np.cumsum(self.emb * qv, axis=1)[:, -1]
        scored = []
        for i, cid in enumerate(self.ids):
            denom = self.norm[i] * qn
            cos = 0.0 if denom == 0 else float(dots[i] / denom)
            union = len(self.tokens[i] | qt)
            kw = 0.0 if union == 0 else len(self.tokens[i] & qt) / union
            scored.append((cid, _round_half_up(cos, 6), _round_half_up(kw, 6)))
        leg_v = sorted(scored, key=lambda r: (-r[1], r[0]))[:SEARCH_PREFETCH]
        leg_k = sorted((r for r in scored if r[2] > 0), key=lambda r: (-r[2], r[0]))
        rank_v = {r[0]: (i + 1, r[1]) for i, r in enumerate(leg_v)}
        rank_k = {r[0]: (i + 1, r[2]) for i, r in enumerate(leg_k[:SEARCH_PREFETCH])}
        fused = []
        for cid in set(rank_v) | set(rank_k):
            rv, vs = rank_v.get(cid, (None, None))
            rk, ks = rank_k.get(cid, (None, None))
            score = (1.0 / (RRF_K + rv) if rv else 0.0) + (
                1.0 / (RRF_K + rk) if rk else 0.0
            )
            kind = "both" if rv and rk else ("vector" if rv else "keyword")
            fused.append((cid, vs, ks, _round_half_up(score, 9), kind, rk is not None))
        fused.sort(key=lambda r: (-r[3], not r[5], r[0]))
        return [(*r[:5], i + 1) for i, r in enumerate(fused[:SEARCH_K])]


def same_search(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if (g[0], g[4], g[5]) != (w[0], w[4], w[5]):
            return False
        for a, b in zip(g[1:4], w[1:4]):
            if (a is None) != (b is None) or (a is not None and abs(a - b) > SCORE_TOL):
                return False
    return True


def _adjacency(edges: list[tuple], reverse: bool) -> dict[str, set[str]]:
    adj: dict[str, set[str]] = defaultdict(set)
    for s, o in edges:
        src, dst = (o, s) if reverse else (s, o)
        if src is not None and dst is not None:
            adj[src].add(dst)
    return adj


def _bfs(adj: dict[str, set[str]], root: str, max_depth: int) -> dict[str, int]:
    depth = {root: 0}
    queue = deque([root])
    while queue:
        node = queue.popleft()
        if depth[node] == max_depth:
            continue
        for nxt in adj.get(node, ()):
            if nxt not in depth:
                depth[nxt] = depth[node] + 1
                queue.append(nxt)
    return depth


def tree(edges: list[tuple], root: str, max_depth: int) -> set[tuple]:
    """Forward tree rows (node, depth, parent); parent = smallest
    predecessor one level up, None for the root."""
    adj = _adjacency(edges, reverse=False)
    depth = _bfs(adj, root, max_depth)
    parent: dict[str, str] = {}
    for src, dsts in adj.items():
        if src not in depth:
            continue
        for dst in dsts:
            if depth.get(dst) == depth[src] + 1:
                if dst not in parent or src < parent[dst]:
                    parent[dst] = src
    return {(n, d, parent.get(n)) for n, d in depth.items()}


def impact(edges: list[tuple], root: str, max_depth: int) -> set[tuple]:
    """Blast radius row (root, radius): nodes reaching ``root`` within
    ``max_depth`` hops, the root excluded."""
    depth = _bfs(_adjacency(edges, reverse=True), root, max_depth)
    return {(root, len(depth) - 1)}


def related(edges: list[tuple], root: str) -> list[tuple]:
    """Personalized PageRank teleporting to ``root``, as the CLI's
    ``graph related`` verb reports it: the top (node, rank) rows by rank
    (6 dp), root and zero ranks left out. Parallel edges count once each
    toward out-degree."""
    pairs = [(s, o) for s, o in edges if s is not None and o is not None]
    nodes = {n for p in pairs for n in p} | {root}
    deg: dict[str, int] = defaultdict(int)
    for s, _ in pairs:
        deg[s] += 1
    p = {n: (1.0 if n == root else 0.0) for n in nodes}
    rank = dict(p)
    for _ in range(PPR_ITERS):
        inflow: dict[str, float] = defaultdict(float)
        for s, o in pairs:
            inflow[o] += rank[s] / deg[s]
        dangling = sum(r for n, r in rank.items() if n not in deg)
        rank = {
            n: (1 - PPR_DAMPING) * p[n]
            + PPR_DAMPING * (inflow.get(n, 0.0) + dangling * p[n])
            for n in nodes
        }
    rows = [(n, _round_half_up(r, 6)) for n, r in rank.items() if n != root]
    rows = sorted((r for r in rows if r[1] > 0), key=lambda r: (-r[1], r[0]))
    return rows[:RELATED_TOP]


def same_ranks(got: list[tuple], want: list[tuple]) -> bool:
    return [g[0] for g in got] == [w[0] for w in want] and all(
        abs(g[1] - w[1]) <= SCORE_TOL for g, w in zip(got, want)
    )
