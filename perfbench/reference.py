"""Independent references for every output the benchmark checks.

Nothing here touches Spark or ``graphframes_spark``: the Graphalytics
kernels are recomputed with networkx/numpy, the anchored reads with plain
adjacency lists, and MinHash-LSH dedup with DuckDB SQL that follows the
pipeline's documented semantics.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from typing import Iterable, Sequence

import duckdb
import networkx as nx
import numpy as np
import pyarrow as pa

Edge = tuple  # (src, dst) or (src, dst, weight)


def digraph(n_vertices: int, edges: Iterable[Edge]) -> nx.DiGraph:
    g = nx.DiGraph()
    g.add_nodes_from(range(n_vertices))
    for e in edges:
        g.add_edge(e[0], e[1], weight=e[2] if len(e) > 2 else 1.0)
    return g


# ------------------------------------------------------------- Graphalytics


def hops_to(g: nx.DiGraph, landmark: int) -> dict[int, int]:
    """Hop distance from every vertex that can reach ``landmark``."""
    return nx.single_source_shortest_path_length(g.reverse(copy=False), landmark)


def weighted_distance_to(g: nx.DiGraph, landmark: int) -> dict[int, float]:
    return nx.single_source_dijkstra_path_length(
        g.reverse(copy=False), landmark, weight="weight"
    )


def page_rank(g: nx.DiGraph, alpha: float, iterations: int) -> dict[int, float]:
    """Normalized PageRank as the engine defines it: ranks start at 1/N,
    each round is ``alpha/N + (1-alpha) * sum(rank(u)/outdeg(u))`` over
    in-edges, and dangling mass is not redistributed."""
    n = g.number_of_nodes()
    nodes = sorted(g.nodes)
    index = {v: i for i, v in enumerate(nodes)}
    src = np.array([index[u] for u, _ in g.edges], dtype=np.int64)
    dst = np.array([index[v] for _, v in g.edges], dtype=np.int64)
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, rank[src] / outdeg[src])
        rank = alpha / n + (1.0 - alpha) * contrib
    return {v: float(rank[index[v]]) for v in nodes}


def weak_components(g: nx.Graph) -> dict[int, int]:
    """Vertex -> smallest vertex id of its weakly connected component."""
    comps = (
        nx.weakly_connected_components(g)
        if g.is_directed()
        else nx.connected_components(g)
    )
    label = {}
    for comp in comps:
        low = min(comp)
        for v in comp:
            label[v] = low
    return label


def label_propagation(g: nx.DiGraph, max_iter: int) -> dict[int, int]:
    """Synchronous directed CDLP: each round a vertex takes the most
    frequent label among its in-neighbours, ties to the lowest label; a
    vertex with no in-neighbours keeps its label."""
    labels = {v: v for v in g.nodes}
    preds = {v: list(g.predecessors(v)) for v in g.nodes}
    for _ in range(max_iter):
        new = {}
        for v, ps in preds.items():
            if not ps:
                new[v] = labels[v]
                continue
            counts = Counter(labels[u] for u in ps)
            top = max(counts.values())
            new[v] = min(lab for lab, c in counts.items() if c == top)
        if new == labels:
            break
        labels = new
    return labels


def clustering(g: nx.DiGraph) -> dict[int, float]:
    """Local clustering coefficient on the undirected simple graph."""
    return nx.clustering(nx.Graph(g.to_undirected()))


# ---------------------------------------------------------- anchored reads


class Adjacency:
    def __init__(self, n_vertices: int, edges: Iterable[Edge]) -> None:
        self.out: dict[int, list[int]] = defaultdict(list)
        self.inn: dict[int, list[int]] = defaultdict(list)
        for e in edges:
            self.out[e[0]].append(e[1])
            self.inn[e[1]].append(e[0])
        self.out_set = {v: set(ns) for v, ns in self.out.items()}
        self.n = n_vertices

    def two_hop(self, a: int) -> list[tuple[int, int]]:
        return sorted((b, c) for b in self.out[a] for c in self.out[b])

    def negation(self, a: int) -> list[int]:
        return sorted(b for b in self.out[a] if a not in self.out_set.get(b, ()))

    def triangle(self, a: int) -> list[tuple[int, int]]:
        return sorted(
            (b, c)
            for b in self.out[a]
            for c in self.out[b]
            if a in self.out_set.get(c, ())
        )

    def degree(self, a: int) -> list[tuple[int, int]]:
        d = len(self.out[a]) + len(self.inn[a])
        return [(a, d)] if d else []

    def shortest_paths(self, a: int, t: int, max_len: int) -> list[tuple[int, ...]]:
        """Every shortest directed path a -> t with at most ``max_len``
        edges, as vertex-id tuples (empty when none is that short)."""
        level = {a: 0}
        frontier = [a]
        while frontier and t not in level and level[frontier[0]] < max_len:
            nxt = []
            for u in frontier:
                for w in self.out[u]:
                    if w not in level:
                        level[w] = level[u] + 1
                        nxt.append(w)
            frontier = nxt
        if t not in level:
            return []

        def back(v: int) -> list[tuple[int, ...]]:
            if v == a:
                return [(a,)]
            return [
                p + (v,)
                for u in self.inn[v]
                if level.get(u) == level[v] - 1
                for p in back(u)
            ]

        return sorted(back(t))


# -------------------------------------------------------------------- dedup


def minhash_components(
    docs: Sequence[tuple[int, str]],
    shingle_len: int = 3,
    num_perm: int = 32,
    num_bands: int = 8,
    threshold: float = 0.8,
) -> dict[int, int]:
    """Doc id -> component of ``minhash_lsh_dedup``, replayed in DuckDB.

    Same semantics as the repository's DuckDB oracle for the pipeline:
    lower-cased whitespace tokens, distinct space-joined token shingles,
    MinHash permutation p = ``(h1 + p*h2) & (2^48-1)`` over the two 48-bit
    halves of each shingle's md5, md5 band hashes of ``|``-joined rows,
    candidate pairs sharing a band, exact Jaccard >= threshold, and
    components labelled by their smallest id."""
    rows = num_perm // num_bands
    mask = (1 << 48) - 1
    grams = " || ' ' || ".join(f"t[i+{j}]" for j in range(shingle_len))
    sig = ", ".join(
        f"min((h1 + {p} * h2) & {mask}) AS m{p}" for p in range(num_perm)
    )
    bands = ", ".join(
        "md5("
        + " || '|' || ".join(f"m{b * rows + r}" for r in range(rows))
        + f") AS b{b}"
        for b in range(num_bands)
    )
    posting = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, b{b} AS bhash FROM bands"
        for b in range(num_bands)
    )
    # one md5 per shingle, then the per-permutation minima as aggregates
    sql = f"""
        WITH tok AS (
            SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                       x -> len(x) > 0) AS t
            FROM documents
        ),
        sh AS MATERIALIZED (
            SELECT doc_id,
                   list_distinct([{grams} FOR i IN range(1, len(t) - {shingle_len - 2})]) AS sh
            FROM tok
        ),
        hashed AS (
            SELECT doc_id,
                   ('0x' || substr(md5(s), 1, 12))::BIGINT AS h1,
                   ('0x' || substr(md5(s), 13, 12))::BIGINT AS h2
            FROM (SELECT doc_id, unnest(sh) AS s FROM sh)
        ),
        sigs AS (SELECT doc_id, {sig} FROM hashed GROUP BY doc_id),
        bands AS (SELECT doc_id, {bands} FROM sigs),
        posting AS ({posting}),
        cands AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
            FROM posting a JOIN posting b
              ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT c.ia, c.ib FROM cands c
            JOIN sh sa ON sa.doc_id = c.ia
            JOIN sh sb ON sb.doc_id = c.ib
            WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
                  / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
                  >= {threshold}
        )
        SELECT ia, ib FROM verified
    """
    con = duckdb.connect()
    try:
        documents = pa.table(  # noqa: F841 - scanned by name in the SQL
            {"doc_id": pa.array([d for d, _ in docs], pa.int64()),
             "text": pa.array([t for _, t in docs], pa.string())}
        )
        pairs = con.execute(sql).fetchall()
    finally:
        con.close()
    g = nx.Graph()
    g.add_nodes_from(d for d, _ in docs)
    g.add_edges_from(pairs)
    return weak_components(g)


# -------------------------------------------------------------- comparison


def close(a: float, b: float, rel: float = 1e-6, abs_: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)


def same_map(
    got: dict, want: dict, tol: bool = False, rel: float = 1e-6
) -> bool:
    """Equal key sets and values (to a tolerance when ``tol``)."""
    if got.keys() != want.keys():
        return False
    if not tol:
        return all(got[k] == want[k] for k in want)
    return all(
        got[k] is not None and close(float(got[k]), float(want[k]), rel)
        for k in want
    )
