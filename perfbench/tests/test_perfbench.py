"""Tests of the benchmark itself: seeded inputs, error counting, spans.

Run from the repository root with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import inputs, reference  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import Tally, check_output, read_answer, read_expected  # noqa: E402


def test_graph_is_seeded():
    small = {"n_vertices": 300, "n_edge_samples": 900}
    assert inputs.graph_edges(7, **small) == inputs.graph_edges(7, **small)
    assert inputs.graph_edges(7, **small) != inputs.graph_edges(8, **small)
    edges = inputs.graph_edges(7)
    assert all(s != d and 0 < w <= 1 for s, d, w in edges)
    assert len({(s, d) for s, d, _ in edges}) == len(edges)


def _blocks(seed, n=3):
    stream = inputs.InteractiveStream(seed)
    return [stream.next_block() for _ in range(n)]


def test_stream_and_corpus_are_seeded():
    assert _blocks(7) == _blocks(7)
    assert _blocks(7) != _blocks(8)
    assert inputs.corpus(7, n_base=50) == inputs.corpus(7, n_base=50)
    assert inputs.corpus(7, n_base=50) != inputs.corpus(8, n_base=50)


def test_stream_blocks_hold_every_read_kind_and_one_write():
    block = _blocks(3, 1)[0]
    kinds = sorted(op.kind for op in block if isinstance(op, inputs.Read))
    assert kinds == sorted(inputs.READ_KINDS * (inputs.READS_PER_WRITE // len(inputs.READ_KINDS)))
    assert isinstance(block[-1], inputs.Write)
    assert len(block[-1].edges) == inputs.EDGES_PER_WRITE


def test_stream_anchors_of_a_kind_cover_every_slice():
    per_kind = inputs.READS_PER_WRITE // len(inputs.READ_KINDS)
    # slice k of u maps to vertex ids [V * (k/n)^3, V * ((k+1)/n)^3)
    edges = [inputs.N_VERTICES * (k / per_kind) ** 3 for k in range(per_kind + 1)]
    for block in _blocks(5, 4):
        for kind in inputs.READ_KINDS:
            reads = [op for op in block if isinstance(op, inputs.Read) and op.kind == kind]
            for ids in ([op.anchor for op in reads], [op.target for op in reads if kind == "bfs"]):
                for k, v in enumerate(sorted(ids)):
                    assert int(edges[k]) <= v < edges[k + 1]


def test_every_write_attaches_fresh_vertices():
    first, second = (b[-1] for b in _blocks(3, 2))
    assert first.new_vertices[0] == inputs.N_VERTICES
    assert second.new_vertices[0] == first.new_vertices[-1] + 1
    for w in (first, second):
        attached = {d for _, d in w.edges if d >= inputs.N_VERTICES}
        assert attached == set(w.new_vertices)


def test_wrong_kernel_output_is_counted():
    edges = [(0, 1), (1, 2), (3, 4)]
    g = reference.digraph(5, edges)
    want = reference.weak_components(g)
    right = [{"id": v, "component": c} for v, c in want.items()]
    wrong = [dict(r) for r in right]
    wrong[-1]["component"] = 0  # vertex 4 put in the wrong component
    tally = Tally()
    tally.record("wcc", check_output("wcc", right, want))
    tally.record("wcc", check_output("wcc", wrong, want))
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.error_rate == 0.5


def test_wrong_read_answer_is_counted():
    adj = reference.Adjacency(4, [(0, 1), (1, 2), (2, 0), (0, 3)])
    op = inputs.Read("negation", 0)

    def row(b):
        return {"a": {"id": 0}, "b": {"id": b}}

    tally = Tally()
    tally.record("negation", read_answer(op, [row(1), row(3)]) == read_expected(adj, op))
    tally.record("negation", read_answer(op, [row(1)]) == read_expected(adj, op))
    assert (tally.attempted, tally.failed) == (2, 1)


def test_pagerank_reference_reaches_the_fixed_point_without_dangling_vertices():
    g = reference.digraph(3, [(0, 1), (1, 2), (2, 0), (0, 2)])
    r = reference.page_rank(g, 0.15, 200)
    assert abs(sum(r.values()) - 1.0) < 1e-12
    for v in g:
        inflow = sum(r[u] / g.out_degree(u) for u in g.predecessors(v))
        assert abs(r[v] - (0.15 / 3 + 0.85 * inflow)) < 1e-12


def test_self_times_sum_to_op_wall():
    sc = SimpleNamespace(setJobGroup=lambda *a: None, setLocalProperty=lambda *a: None)
    tracer = Tracer(SimpleNamespace(sparkContext=sc))
    with tracer.op("x"):
        with tracer.span("op.build"):
            with tracer.span("lib.f"):
                with tracer.span("harness.commit"):
                    pass
        with tracer.span("op.sink"):
            pass
    assert [s.name for s in tracer.spans] == ["op", "op.build", "lib.f", "harness.commit", "op.sink"]
    assert tracer.spans[2].parent == 1 and tracer.spans[3].parent == 2
    assert tracer.self_time_gap() < 1e-9
    own = tracer.self_times()
    assert all(t >= 0 for t in own)
