"""Motif-pattern DSL: AST, parser, string rewrites, validation.

Grammar and semantics follow the reference DSL
(/root/reference/core/src/main/scala/org/graphframes/pattern/patterns.scala:29-300):

- ``(a)-[e]->(b)``   directed edge from a to b
- ``(a)<-[e]-(b)``   rewritten to ``(b)-[e]->(a)``
- ``(a)<-[e]->(b)``  bidirectional: rewritten to two directed terms
- ``(a)-[e]-(b)``    undirected edge (both orientations; adds
  ``_pattern``/``_direction`` result columns)
- ``!(a)-[]->(b)``   negated (anonymous-edge-only) term
- ``(a)``            standalone vertex term
- ``(a)-[e*3]->(b)`` fixed length: rewritten to a 3-edge chain with
  generated mid-vertex names
- anonymous vertices ``()`` / edges ``[]`` allowed inside edge terms
- terms separated by ``;``

Implemented as a small regex tokenizer per term (names are ``\\w+`` so
whitespace can be stripped up front), not a combinator parser — behavior
matches the reference's ``PatternParser``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from graphframes_spark.util import InvalidPatternError


class Pattern:
    """Base class for motif AST nodes."""


class Vertex(Pattern):
    pass


class _AnonymousVertex(Vertex):
    def __repr__(self) -> str:  # pragma: no cover
        return "AnonymousVertex"


ANONYMOUS_VERTEX = _AnonymousVertex()


@dataclass(frozen=True)
class NamedVertex(Vertex):
    name: str


class Edge(Pattern):
    pass


@dataclass(frozen=True)
class NamedEdge(Edge):
    name: str
    src: Vertex
    dst: Vertex


@dataclass(frozen=True)
class AnonymousEdge(Edge):
    src: Vertex
    dst: Vertex


@dataclass(frozen=True)
class UndirectedEdge(Edge):
    edge: Edge


@dataclass(frozen=True)
class Negation(Pattern):
    child: Edge


_NAME = r"[A-Za-z0-9_]*"
# One motif term after the incoming-edge / fixed-length rewrites:
# optional '!', '(src)', '-[name]-' with optional trailing '>', '(dst)'.
_EDGE_TERM = re.compile(
    rf"^(!?)\(({_NAME})\)-\[({_NAME})\](->|-)\(({_NAME})\)$"
)
_VERTEX_TERM = re.compile(rf"^\(({_NAME})\)$")

_REVERSED_EDGE = re.compile(
    rf"^(!?)\(({_NAME})\)<-\[([A-Za-z0-9_.*]*)\]-\(({_NAME})\)$"
)
_BIDIRECTIONAL_EDGE = re.compile(
    rf"^(!?)\(({_NAME})\)<-\[([A-Za-z0-9_.*]*)\]->\(({_NAME})\)$"
)
_FIXED_LENGTH = re.compile(
    rf"^(!?)\(({_NAME})\)-\[({_NAME})\*([0-9]+)\]->\(({_NAME})\)$"
)

# Top-level special forms handled by GraphFrame.find() before term parsing
# (reference GraphFrame.scala:602-623).
VAR_LENGTH = re.compile(r"^\((\w*)\)-\[(\w*)\*(\d*)\.\.(\d*)\]-(>?)\((\w*)\)$")
FIXED_LENGTH_UNDIRECTED = re.compile(r"^\((\w*)\)-\[(\w*)\*(\d*)\]-\((\w*)\)$")


def _strip_ws(s: str) -> str:
    return re.sub(r"\s+", "", s)


def rewrite_incoming_edges(pattern: str) -> str:
    """Rewrite ``<-[e]-`` and ``<-[e]->`` terms to forward form
    (patterns.scala:72-97)."""
    out: list[str] = []
    for term in pattern.split(";"):
        term = term.strip()
        m = _REVERSED_EDGE.match(term)
        if m:
            neg, dst, edge, src = m.groups()
            out.append(f"{neg}({src})-[{edge}]->({dst})")
            continue
        m = _BIDIRECTIONAL_EDGE.match(term)
        if m:
            neg, src, edge, dst = m.groups()
            if neg:
                raise InvalidPatternError(
                    f"Motif finding does not support negated bidirectional edge: '{term}'."
                )
            if edge == "" or "*" in edge:
                out.append(f"({src})-[{edge}]->({dst});({dst})-[{edge}]->({src})")
            else:
                out.append(f"({src})-[{edge}1]->({dst});({dst})-[{edge}2]->({src})")
            continue
        out.append(term)
    return ";".join(out)


def rewrite_fixed_length(pattern: str) -> str:
    """Expand ``(a)-[e*3]->(b)`` into a chain of 3 directed edges with
    generated mid-vertices (patterns.scala:102-134)."""
    out: list[str] = []
    for term in pattern.split(";"):
        term = term.strip()
        m = _FIXED_LENGTH.match(term)
        if not m:
            out.append(term)
            continue
        neg, src, name, num, dst = m.groups()
        hop = int(num)
        if hop <= 0:
            raise InvalidPatternError(f"Hop must be greater than 0: '{term}'.")
        if src == "" and dst == "":
            mids = [f"__tmpv{i}" for i in range(1, hop)]
        else:
            mids = [f"_{src}{dst}{i}" for i in range(1, hop)]
        verts = [src, *mids, dst]
        chain = []
        for i in range(hop):
            v1, v2 = verts[i], verts[i + 1]
            if name == "":
                chain.append(f"{neg}({v1})-[]->({v2})")
            else:
                chain.append(f"{neg}({v1})-[_{name}{i + 1}]->({v2})")
        out.append(";".join(chain))
    return ";".join(out)


def _parse_term(term: str) -> Pattern:
    m = _VERTEX_TERM.match(term)
    if m:
        name = m.group(1)
        if name == "":
            raise InvalidPatternError(
                'Motif finding does not allow a lone anonymous vertex "()" in a motif.'
            )
        return NamedVertex(name)
    m = _EDGE_TERM.match(term)
    if not m:
        raise InvalidPatternError(f"Failed to parse bad motif string term: '{term}'.")
    neg, src_name, edge_name, arrow, dst_name = m.groups()
    src: Vertex = NamedVertex(src_name) if src_name else ANONYMOUS_VERTEX
    dst: Vertex = NamedVertex(dst_name) if dst_name else ANONYMOUS_VERTEX
    edge: Edge
    if edge_name:
        edge = NamedEdge(edge_name, src, dst)
    else:
        edge = AnonymousEdge(src, dst)
    if arrow == "-":
        edge = UndirectedEdge(edge)
    if neg:
        return Negation(edge)
    return edge


def parse(pattern: str) -> list[Pattern]:
    """Parse a motif string into a validated pattern list."""
    s = _strip_ws(pattern)
    s = rewrite_fixed_length(rewrite_incoming_edges(s))
    terms = [t for t in s.split(";") if t != ""]
    patterns = [_parse_term(t) for t in terms]
    assert_valid_patterns(patterns)
    return patterns


def _is_fully_anonymous(e: Edge) -> bool:
    return isinstance(e, AnonymousEdge) and e.src is ANONYMOUS_VERTEX and e.dst is ANONYMOUS_VERTEX


def assert_valid_patterns(patterns: list[Pattern]) -> None:
    """Validation rules (patterns.scala:144-231): no fully-anonymous edges,
    no named edges inside negation, no vertex/edge name collisions, no
    duplicate edge names."""
    vertex_names: set[str] = set()
    edge_names: set[str] = set()

    def add_vertex(v: Vertex) -> None:
        if isinstance(v, NamedVertex):
            if v.name in edge_names:
                raise InvalidPatternError(
                    f"Motif reused name '{v.name}' for both a vertex and an edge."
                )
            vertex_names.add(v.name)

    def add_edge(e: Edge) -> None:
        if isinstance(e, NamedEdge):
            if e.name in vertex_names:
                raise InvalidPatternError(
                    f"Motif reused name '{e.name}' for both a vertex and an edge."
                )
            if e.name in edge_names:
                raise InvalidPatternError(
                    f"Motif reused name '{e.name}' for multiple edges."
                )
            edge_names.add(e.name)
            add_vertex(e.src)
            add_vertex(e.dst)
        elif isinstance(e, AnonymousEdge):
            add_vertex(e.src)
            add_vertex(e.dst)
        elif isinstance(e, UndirectedEdge):
            add_edge(e.edge)

    for p in patterns:
        if isinstance(p, Negation):
            child = p.child
            if isinstance(child, UndirectedEdge):
                raise InvalidPatternError(
                    "Motif finding does not support negated undirected edges."
                )
            if isinstance(child, NamedEdge):
                raise InvalidPatternError(
                    "Motif finding does not support negated named edges."
                )
            if _is_fully_anonymous(child):
                raise InvalidPatternError(
                    "Motif finding does not support completely anonymous negated edges."
                )
            add_edge(child)
        elif isinstance(p, UndirectedEdge):
            inner = p.edge
            if _is_fully_anonymous(inner):
                raise InvalidPatternError(
                    "Motif finding does not support completely anonymous edges ()-[]-()."
                )
            add_edge(p)
        elif isinstance(p, (NamedEdge, AnonymousEdge)):
            if _is_fully_anonymous(p):
                raise InvalidPatternError(
                    "Motif finding does not support completely anonymous edges ()-[]->()."
                )
            add_edge(p)
        elif p is ANONYMOUS_VERTEX:
            raise InvalidPatternError(
                'Motif finding does not allow a lone anonymous vertex "()" in a motif.'
            )
        elif isinstance(p, NamedVertex):
            add_vertex(p)
        else:  # pragma: no cover
            raise InvalidPatternError(f"Unknown pattern node: {p!r}")


def named_elements_in_order(patterns: list[Pattern], include_edges: bool) -> list[str]:
    """Named vertices (and optionally edges) in first-appearance order;
    undirected edges contribute ``_pattern``/``_direction``
    (patterns.scala:253-281)."""
    seen: dict[str, None] = {}

    def visit(p: Pattern) -> None:
        if isinstance(p, Negation):
            visit(p.child)
        elif isinstance(p, UndirectedEdge):
            visit(p.edge)
            seen.setdefault("_pattern")
            seen.setdefault("_direction")
        elif isinstance(p, NamedVertex):
            seen.setdefault(p.name)
        elif isinstance(p, AnonymousEdge):
            visit(p.src)
            visit(p.dst)
        elif isinstance(p, NamedEdge):
            visit(p.src)
            if include_edges:
                seen.setdefault(p.name)
            visit(p.dst)

    for p in patterns:
        visit(p)
    return list(seen)


def named_vertices_only_in_negated_terms(patterns: list[Pattern]) -> list[str]:
    """Named vertices appearing only inside negated terms, sorted
    (patterns.scala:236-247; issue #276 augmentation)."""
    pos = set(
        named_elements_in_order(
            [p for p in patterns if not isinstance(p, Negation)], include_edges=False
        )
    )
    neg = set(
        named_elements_in_order(
            [p for p in patterns if isinstance(p, Negation)], include_edges=False
        )
    )
    return sorted(neg - pos)
