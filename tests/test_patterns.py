import pytest

from graphframes_spark import patterns as P
from graphframes_spark.util import InvalidPatternError


def test_parse_simple_edge():
    pats = P.parse("(a)-[e]->(b)")
    assert pats == [P.NamedEdge("e", P.NamedVertex("a"), P.NamedVertex("b"))]


def test_parse_multiple_terms_and_whitespace():
    pats = P.parse("(a)-[e]->(b) ; (b)-[e2]->(c)")
    assert len(pats) == 2
    assert pats[1] == P.NamedEdge("e2", P.NamedVertex("b"), P.NamedVertex("c"))


def test_parse_anonymous():
    pats = P.parse("(a)-[]->(b)")
    assert pats == [P.AnonymousEdge(P.NamedVertex("a"), P.NamedVertex("b"))]
    pats = P.parse("(a)-[e]->()")
    assert pats[0].dst is P.ANONYMOUS_VERTEX


def test_parse_incoming_rewrite():
    assert P.parse("(a)<-[e]-(b)") == P.parse("(b)-[e]->(a)")


def test_parse_bidirectional_rewrite():
    pats = P.parse("(a)<-[e]->(b)")
    assert pats == [
        P.NamedEdge("e1", P.NamedVertex("a"), P.NamedVertex("b")),
        P.NamedEdge("e2", P.NamedVertex("b"), P.NamedVertex("a")),
    ]


def test_parse_undirected():
    pats = P.parse("(a)-[e]-(b)")
    assert pats == [P.UndirectedEdge(P.NamedEdge("e", P.NamedVertex("a"), P.NamedVertex("b")))]


def test_parse_negation():
    pats = P.parse("(a)-[]->(b); !(b)-[]->(a)")
    assert isinstance(pats[1], P.Negation)


def test_parse_fixed_length():
    pats = P.parse("(a)-[e*2]->(b)")
    assert pats == [
        P.NamedEdge("_e1", P.NamedVertex("a"), P.NamedVertex("_ab1")),
        P.NamedEdge("_e2", P.NamedVertex("_ab1"), P.NamedVertex("b")),
    ]


def test_parse_lone_vertex():
    assert P.parse("(a)") == [P.NamedVertex("a")]


def test_invalid_patterns():
    with pytest.raises(InvalidPatternError):
        P.parse("()-[]->()")
    with pytest.raises(InvalidPatternError):
        P.parse("(a)-[]->(b); !()-[]->()")
    with pytest.raises(InvalidPatternError):
        P.parse("(a)-[]->(b); !(a)-[e]->(b)")  # named edge in negation
    with pytest.raises(InvalidPatternError):
        P.parse("(a)-[]->(b); !(a)-[]-(b)")  # undirected edge in negation
    with pytest.raises(InvalidPatternError):
        P.parse("(a)-[a]->(b)")  # name reuse vertex/edge
    with pytest.raises(InvalidPatternError):
        P.parse("(a)-[e]->(b); (b)-[e]->(c)")  # duplicate edge name
    with pytest.raises(InvalidPatternError):
        P.parse("()")
    with pytest.raises(InvalidPatternError):
        P.parse("(a)-[e*0]->(b)")


def test_named_elements_order():
    pats = P.parse("(a)-[e]->(b); (b)-[e2]->(c)")
    assert P.named_elements_in_order(pats, include_edges=True) == ["a", "e", "b", "e2", "c"]
    assert P.named_elements_in_order(pats, include_edges=False) == ["a", "b", "c"]


def test_negation_only_vertices():
    pats = P.parse("(a)-[]->(b); !(b)-[]->(c)")
    assert P.named_vertices_only_in_negated_terms(pats) == ["c"]
