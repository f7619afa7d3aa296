"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed as an argument: the same seed
gives identical inputs, a different seed gives different ones. The
program under test only ever sees the parquet files and frames built from
these.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: vertex / edge-sample counts of the benchmark graph. The kernels are
#: bound by Spark's per-job floor at this size (measured ~75 ms per job on
#: 4 cores), so a larger graph buys little beyond a longer run, and a dense
#: one keeps the hop-bounded kernels to few supersteps.
N_VERTICES = 1_000
N_EDGE_SAMPLES = 6_000


def graph_edges(
    seed: int,
    n_vertices: int = N_VERTICES,
    n_edge_samples: int = N_EDGE_SAMPLES,
) -> list[tuple[int, int, float]]:
    """Sorted (src, dst, weight) edges of a scale-free directed simple
    graph with seeded weights in (0, 1].

    Same shape as ``bench_ldbc.generate_graph``: endpoints are sampled as
    ``floor(V * u^3)``, so low ids are hubs (vertex 0 collects the most
    edge ends); self-loops are dropped and multi-edges deduplicated. The
    uniforms come from numpy's seeded generator rather than Spark's
    xxhash64, so making the inputs runs no Spark job."""
    rng = np.random.default_rng([seed, 1])
    ends = np.floor(n_vertices * rng.random((2, n_edge_samples)) ** 3).astype(np.int64)
    ends = ends[:, ends[0] != ends[1]]
    keys = np.unique(ends[0] * n_vertices + ends[1])
    weights = rng.integers(1, 1001, size=len(keys)) / 1000.0
    return list(zip((keys // n_vertices).tolist(), (keys % n_vertices).tolist(), weights.tolist()))


def write_graph(path: str, edges: list[tuple[int, int, float]], n_vertices: int = N_VERTICES) -> None:
    """Write vertices[id] and edges[src, dst, weight] as parquet under ``path``."""
    src, dst, w = zip(*edges)
    write_parquet(f"{path}/vertices", {"id": pa.array(range(n_vertices), pa.int64())})
    write_parquet(f"{path}/edges", {
        "src": pa.array(src, pa.int64()),
        "dst": pa.array(dst, pa.int64()),
        "weight": pa.array(w, pa.float64()),
    })


def write_parquet(path: str, columns: dict) -> str:
    """Write columns as a one-file parquet dataset at ``path``."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns), f"{path}/part-0.parquet")
    return path


# ------------------------------------------------------ interactive stream

READ_KINDS = ("two_hop", "negation", "triangle", "degree", "bfs")
#: reads between two write batches
READS_PER_WRITE = 15
#: new edges appended by one write batch: half of them attach a newly
#: arrived vertex, so every batch merges components (the delta path of
#: incremental connected components), half join existing vertices
EDGES_PER_WRITE = 40
#: ``maxPathLength`` of the ``bfs`` reads
BFS_MAX_PATH = 2


@dataclass(frozen=True)
class Read:
    kind: str
    anchor: int
    target: int = -1  # bfs only


@dataclass(frozen=True)
class Write:
    edges: tuple[tuple[int, int], ...]
    new_vertices: tuple[int, ...]


def _skewed_vertex(rng: random.Random, n_vertices: int, stratum: int = 0, strata: int = 1) -> int:
    # the same u^3 skew as the graph's endpoints, so hubs are drawn often;
    # u is drawn from slice ``stratum`` of ``strata`` equal slices of [0, 1)
    u = (stratum + rng.random()) / strata
    return int(n_vertices * u**3)


class InteractiveStream:
    """Endless seeded stream of blocks; a block is ``READS_PER_WRITE``
    anchored reads (every kind equally often, in a seeded order) then one write
    batch of ``EDGES_PER_WRITE`` new edges. Reads anchor on the base graph's
    vertices; new vertices get ids from ``n_vertices`` up.

    The anchors of one kind are stratified within a block: its k reads draw
    u from the k slices of [0, 1) once each (a bfs target from a shuffled
    slice), so every block holds the same mix of hub, middle and tail
    anchors and a seed cannot draw a hub-heavy or hub-free block."""

    def __init__(self, seed: int, n_vertices: int = N_VERTICES) -> None:
        self._rng = random.Random(f"interactive:{seed}")
        self._n = n_vertices
        self._next_id = n_vertices

    def next_block(self) -> list:
        rng, n = self._rng, self._n
        per_kind = READS_PER_WRITE // len(READ_KINDS)
        reads = [(kind, k) for kind in READ_KINDS for k in range(per_kind)]
        rng.shuffle(reads)
        target_strata = rng.sample(range(per_kind), per_kind)
        ops: list = []
        for kind, k in reads:
            anchor = _skewed_vertex(rng, n, k, per_kind)
            target = -1
            if kind == "bfs":
                t = target_strata.pop()
                target = _skewed_vertex(rng, n, t, per_kind)
                while target == anchor:
                    target = _skewed_vertex(rng, n, t, per_kind)
            ops.append(Read(kind, anchor, target))
        arrivals = tuple(range(self._next_id, self._next_id + EDGES_PER_WRITE // 2))
        self._next_id += len(arrivals)
        new_edges = {(_skewed_vertex(rng, n), v) for v in arrivals}
        while len(new_edges) < EDGES_PER_WRITE:
            s, d = _skewed_vertex(rng, n), rng.randrange(n)
            if s != d:
                new_edges.add((s, d))
        ops.append(Write(tuple(sorted(new_edges)), arrivals))
        return ops


# ----------------------------------------------------------------- corpus

N_BASE_DOCS = 600
VOCABULARY = 4_000


def corpus(seed: int, n_base: int = N_BASE_DOCS) -> list[tuple[int, str]]:
    """[(doc id, text)] with planted near-duplicate clusters.

    A quarter of the base documents get 1-4 copies, each with 1-4 token
    substitutions. At ~40 tokens, one substitution keeps the 3-shingle
    Jaccard above the 0.8 dedup threshold; three or more drop it below,
    so LSH produces candidates that verification rejects."""
    rng = random.Random(f"corpus:{seed}")
    words = [f"w{i}" for i in range(VOCABULARY)]
    docs: list[list[str]] = []
    for _ in range(n_base):
        base = [rng.choice(words) for _ in range(rng.randint(32, 48))]
        docs.append(base)
        if rng.random() < 0.25:
            for _ in range(rng.randint(1, 4)):
                copy = list(base)
                for _ in range(rng.choice((1, 1, 2, 3, 4))):
                    copy[rng.randrange(len(copy))] = rng.choice(words)
                docs.append(copy)
    order = list(range(len(docs)))
    rng.shuffle(order)
    return [(i, " ".join(docs[j])) for i, j in enumerate(order)]
