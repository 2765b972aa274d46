"""Independent oracles, computed outside every timed region.

numpy restatements of the reference semantics the engine documents
(PageRank with the ``reverse`` sink rewrite, HITS with per-step L1
normalisation) and networkx for the undirected kernels.
"""

from __future__ import annotations

import networkx as nx
import numpy as np


def _dedup(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    key = np.unique(src.astype(np.int64) * n + dst)
    return key // n, key % n


def pagerank(
    src: np.ndarray,
    dst: np.ndarray,
    n: int,
    damping: float = 0.85,
    seeds: np.ndarray | None = None,
    tol: float = 1e-12,
) -> np.ndarray:
    """Power iteration to L1 delta < ``tol`` on dedup'd edges with the
    ``reverse`` sink policy (each sink links back to its in-neighbours)
    and a uniform or seeded teleport vector."""
    s, d = _dedup(src, dst, n)
    outdeg = np.bincount(s, minlength=n)
    sinks = outdeg == 0
    if sinks.any():
        back = sinks[d]
        s, d = _dedup(np.concatenate([s, d[back]]), np.concatenate([d, s[back]]), n)
        outdeg = np.bincount(s, minlength=n)
    v = np.full(n, 1.0 / n) if seeds is None else seeds / seeds.sum()
    p = v.copy()
    inv = 1.0 / outdeg
    for _ in range(10_000):
        new = damping * np.bincount(d, weights=(p * inv)[s], minlength=n) + (
            1.0 - damping
        ) * v
        delta = np.abs(new - p).sum()
        p = new
        if delta < tol:
            return p
    raise RuntimeError("oracle pagerank did not converge")


def hits(
    src: np.ndarray, dst: np.ndarray, n: int, iterations: int, tolerance: float = 1e-12
) -> tuple[np.ndarray, np.ndarray]:
    """The engine's HITS steps: ``a ← Aᵀh``, then ``h ← A·a`` with the
    refreshed ``a``, each L1-normalised; stop early below ``tolerance``."""
    s, d = _dedup(src, dst, n)
    a = np.full(n, 1.0 / n)
    h = np.full(n, 1.0 / n)
    for _ in range(iterations):
        na = np.bincount(d, weights=h[s], minlength=n)
        na /= na.sum()
        nh = np.bincount(s, weights=na[d], minlength=n)
        nh /= nh.sum()
        change = np.abs(a - na).sum() + np.abs(h - nh).sum()
        a, h = na, nh
        if change < tolerance:
            break
    return a, h


def undirected(src: np.ndarray, dst: np.ndarray, n: int) -> nx.Graph:
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    return g


def triangle_total(g: nx.Graph) -> int:
    return sum(nx.triangles(g).values()) // 3


def components(g: nx.Graph) -> tuple[np.ndarray, np.ndarray]:
    """Per vertex id: the least id of its component, and the component's
    size (the engine's ``component`` / ``component_size`` columns)."""
    comp = np.empty(g.number_of_nodes(), dtype=np.int64)
    size = np.empty_like(comp)
    for members in nx.connected_components(g):
        ids = np.fromiter(members, dtype=np.int64)
        comp[ids] = ids.min()
        size[ids] = len(ids)
    return comp, size


def coreness(g: nx.Graph) -> np.ndarray:
    core = nx.core_number(g)
    return np.array([core[v] for v in range(g.number_of_nodes())], dtype=np.int64)


def close(got: np.ndarray, want: np.ndarray, tol: float) -> bool:
    return got.shape == want.shape and bool(np.all(np.abs(got - want) <= tol))
