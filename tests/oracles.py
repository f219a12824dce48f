"""Pure-Python single-threaded reference implementations (independent
oracles for the Spark operators, per SURVEY.md §5). These implement the
reference's documented semantics directly — no Spark, no numpy."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

# The corpus import grammar, one pattern per language (capture = dotted
# module path): the reference for lynxkite_spark/derive.py's JVM patterns.
IMPORT_PATTERNS = {
    "python": re.compile(r"^import\s+([A-Za-z_][\w.]*)", re.M),
    "java": re.compile(r"^import\s+([A-Za-z_][\w.]*)\s*;", re.M),
    "go": re.compile(r'"([A-Za-z_][\w.]*)"'),
}


def imports_oracle(content: str, lang: str) -> list[str]:
    """Module names ``content`` imports; [] for a language without a pattern."""
    pattern = IMPORT_PATTERNS.get(lang)
    return pattern.findall(content) if pattern is not None else []


def pagerank_oracle(
    vertices: list[int],
    edges: list[tuple[int, int, float]],
    damping: float,
    iterations: int | None = None,
    tol: float | None = None,
    max_iterations: int = 200,
) -> dict[int, float]:
    """PageRank per /root/reference/app/.../PageRank.scala:43-88."""
    edges = [(s, d, w) for s, d, w in edges if w > 0.0]
    out_w: dict[int, float] = defaultdict(float)
    for s, _, w in edges:
        out_w[s] += w
    n = len(vertices)
    rank = {v: 1.0 for v in vertices}
    limit = iterations if iterations is not None else max_iterations
    for _ in range(limit):
        incoming: dict[int, float] = defaultdict(float)
        for s, d, w in edges:
            incoming[d] += rank[s] * (w / out_w[s]) * damping
        total = sum(incoming.values())
        extra = (n - total) / n
        new_rank = {v: extra + incoming.get(v, 0.0) for v in vertices}
        delta = max(abs(new_rank[v] - rank[v]) for v in vertices)
        rank = new_rank
        if iterations is None and tol is not None and delta < tol:
            break
    return rank


def components_oracle(vertices: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    """Undirected connected components, label = min vertex id (BFS)."""
    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    label: dict[int, int] = {}
    for v in sorted(vertices):
        if v in label:
            continue
        comp = [v]
        seen = {v}
        while comp:
            u = comp.pop()
            label[u] = v
            for w in adj[u]:
                if w not in seen:
                    seen.add(w)
                    comp.append(w)
    return label


def triangles_oracle(edges: list[tuple[int, int]], both_directions: bool = False) -> dict[int, int]:
    """Per-vertex triangle counts per EnumerateTriangles.scala semantics."""
    bits: dict[tuple[int, int], int] = defaultdict(int)
    for s, d in edges:
        if s == d:
            continue
        a, b = min(s, d), max(s, d)
        bits[(a, b)] |= 1 if s < d else 2
    pairs = {p for p, m in bits.items() if (m == 3 if both_directions else True)}
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    counts: dict[int, int] = defaultdict(int)
    for a, b in pairs:
        for c in adj[a] & adj[b]:
            if c > b:
                counts[a] += 1
                counts[b] += 1
                counts[c] += 1
    return counts


def lpa_oracle(
    vertices: list[int], edges: list[tuple[int, int]], max_iterations: int = 30
) -> dict[int, int]:
    """Synchronous LPA, tie-break (weight desc, label asc) — the engine's
    documented deterministic spec (SURVEY.md §2.1)."""
    nbrs = defaultdict(list)
    for s, d in edges:
        if s != d:
            nbrs[s].append(d)
            nbrs[d].append(s)
    label = {v: v for v in vertices}
    for _ in range(max_iterations):
        new = {}
        for v in vertices:
            if not nbrs[v]:
                new[v] = label[v]
                continue
            votes = Counter(label[u] for u in nbrs[v])
            best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            new[v] = best
        if new == label:
            break
        label = new
    return label


def brandes_oracle(
    vertices: list[int], edges: list[tuple[int, int]]
) -> dict[int, float]:
    """Exact Brandes betweenness on the undirected simple graph
    (unnormalized, every vertex a source — Brandes 2001)."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    bc = {v: 0.0 for v in vertices}
    for s in vertices:
        stack, preds = [], defaultdict(list)
        sigma = defaultdict(float)
        sigma[s] = 1.0
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = defaultdict(float)
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
        # undirected: each pair counted from both endpoints -> halve at
        # the end if matching networkx; we keep the raw directed-sum
        # convention (the Spark op does the same).
    return bc


def closeness_oracle(
    vertices: list[int], edges: list[tuple[int, int]]
) -> dict[int, float]:
    """Exact closeness (n-1)/Σd over the undirected graph, 0 when
    isolated."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    n = len(vertices)
    out = {}
    for s in vertices:
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        tot = sum(d for v, d in dist.items() if d > 0)
        out[s] = (n - 1) / tot if tot > 0 else 0.0
    return out


def eigenvector_oracle(
    vertices: list[int], edges: list[tuple[int, int, float]], iterations: int
) -> dict[int, float]:
    """``iterations`` rounds of power iteration x' = A·x / ‖A·x‖₁ from
    the uniform vector; 0 everywhere once A·x vanishes."""
    x = {v: 1.0 / len(vertices) for v in vertices}
    for _ in range(iterations):
        ax: dict[int, float] = defaultdict(float)
        for s, d, w in edges:
            ax[d] += x[s] * w
        n1 = sum(abs(a) for a in ax.values())
        x = {v: ax.get(v, 0.0) / n1 if n1 > 0 else 0.0 for v in vertices}
    return x


def katz_oracle(
    vertices: list[int],
    edges: list[tuple[int, int, float]],
    alpha: float,
    beta: float,
    iterations: int,
) -> dict[int, float]:
    """The Katz recurrence x' = α·Aᵀx + β from x = β."""
    x = {v: beta for v in vertices}
    for _ in range(iterations):
        ax: dict[int, float] = defaultdict(float)
        for s, d, w in edges:
            ax[d] += x[s] * w
        x = {v: alpha * ax.get(v, 0.0) + beta for v in vertices}
    return x


def bellman_ford_oracle(
    edges: list[tuple[int, int, float]], sources: dict[int, float]
) -> dict[int, float]:
    """Shortest distances from the starting ``sources`` along edge
    direction, relaxed until nothing changes; reached vertices only
    (ShortestPath.scala's partial output)."""
    dist = dict(sources)
    changed = True
    while changed:
        changed = False
        for s, d, w in edges:
            if s in dist and dist[s] + w < dist.get(d, float("inf")):
                dist[d] = dist[s] + w
                changed = True
    return dist
