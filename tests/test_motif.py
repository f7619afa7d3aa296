import pytest
from pyspark.sql import functions as F

from graphframes_spark import GraphFrame
from graphframes_spark.util import InvalidPatternError


def test_find_simple_edge(friends):
    df = friends.find("(a)-[e]->(b)")
    assert df.columns == ["a", "e", "b"]
    assert df.count() == 8


def test_find_two_hop(friends):
    df = friends.find("(a)-[e]->(b); (b)-[e2]->(c)")
    assert df.columns == ["a", "e", "b", "e2", "c"]
    rows = df.collect()
    # verify join correctness by re-deriving by hand
    edges = {("a", "b"), ("b", "c"), ("c", "b"), ("f", "c"),
             ("e", "f"), ("e", "d"), ("d", "a"), ("a", "e")}
    expected = {
        (s1, d1, d2) for (s1, d1) in edges for (s2, d2) in edges if d1 == s2
    }
    got = {(r["a"]["id"], r["b"]["id"], r["c"]["id"]) for r in rows}
    assert got == expected


def test_find_hero_query(friends):
    # README hero query: mutual follows
    df = friends.find("(a)-[e]->(b); (b)-[e2]->(a)")
    got = {(r["a"]["id"], r["b"]["id"]) for r in df.collect()}
    assert got == {("b", "c"), ("c", "b")}


def test_find_negation(friends):
    df = friends.find("(a)-[]->(b); !(b)-[]->(a)")
    got = {(r["a"]["id"], r["b"]["id"]) for r in df.collect()}
    assert ("a", "b") in got
    assert ("b", "c") not in got and ("c", "b") not in got
    assert len(got) == 6


def test_find_anonymous_vertex(friends):
    df = friends.find("(a)-[e]->()")
    assert df.columns == ["a", "e"]
    assert df.count() == 8


def test_find_lone_named_vertex(friends):
    df = friends.find("(a)")
    assert df.columns == ["a"]
    assert df.count() == 7


def test_find_self_loop_pattern(spark):
    from graphframes_spark import GraphFrame

    v = spark.createDataFrame([(1,), (2,)], ["id"])
    e = spark.createDataFrame([(1, 1), (1, 2)], ["src", "dst"])
    g = GraphFrame(v, e)
    df = g.find("(a)-[e]->(a)")
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["a"]["id"] == 1


def test_find_undirected_edge(friends):
    df = friends.find("(a)-[e]-(b)")
    assert "_pattern" in df.columns and "_direction" in df.columns
    assert df.count() == 16


def test_find_fixed_length(friends):
    df = friends.find("(a)-[e*2]->(b)")
    two_hop = friends.find("(x)-[]->(y); (y)-[]->(z)")
    assert df.count() == two_hop.count()


def test_find_var_length(friends):
    df = friends.find("(a)-[e*1..2]->(b)")
    assert "_hop" in df.columns
    c1 = friends.find("(a)-[e]->(b)").count()
    c2 = friends.find("(a)-[e*2]->(b)").count()
    assert df.count() == c1 + c2


def test_find_negation_only_vertex_augmented(friends):
    # vertex c appears only in the negated term -> augmented as positive
    df = friends.find("(a)-[]->(b); !(b)-[]->(c)")
    assert df.columns == ["a", "b", "c"]
    assert df.count() > 0


def test_find_filter_on_attributes(friends):
    df = friends.find("(a)-[e]->(b)").filter(
        (F.col("e.relationship") == "follow") & (F.col("b.age") < 35)
    )
    got = {(r["a"]["id"], r["b"]["id"]) for r in df.collect()}
    assert got == {("b", "c"), ("f", "c")}


# ------------------------------------------------ memoized plans, negations


def _rows(df):
    return sorted(map(str, df.collect()))


def test_find_same_pattern_returns_same_dataframe(friends):
    pattern = "(a)-[]->(b); (b)-[]->(c)"
    assert friends.find(pattern) is friends.find(pattern)
    assert friends.find(pattern) is not friends.find("(a)-[]->(b)")
    assert friends.degrees is friends.degrees
    assert friends.inDegrees is friends.inDegrees
    assert friends.outDegrees is friends.outDegrees


def test_find_memo_is_bounded(spark):
    from graphframes_spark.graphframe import _MEMO_SIZE

    v = spark.createDataFrame([(1,), (2,)], ["id"])
    g = GraphFrame(v, spark.createDataFrame([(1, 2)], ["src", "dst"]))
    first = g.find("(x0)-[]->(y)")
    assert g.find("(x0)-[]->(y)") is first
    for i in range(1, _MEMO_SIZE + 1):
        g.find(f"(x{i})-[]->(y)")
    # the oldest entry went; the newest is still shared
    assert g.find("(x0)-[]->(y)") is not first
    assert g.find(f"(x{_MEMO_SIZE})-[]->(y)") is g.find(f"(x{_MEMO_SIZE})-[]->(y)")


@pytest.mark.parametrize(
    "pattern",
    [
        "(a)-[e]-(b)",
        "(a)-[e*1..2]->(b)",
        "(a)-[e*2]-(b)",
        "(a)-[]->(); ()-[]->(a)",
        "(a)-[e]->(b); !(b)-[]->(a)",
    ],
)
def test_memoized_find_matches_fresh_graph(friends, pattern):
    friends.find(pattern).count()  # compile and run once
    fresh = GraphFrame(friends.vertices, friends.edges)
    assert _rows(friends.find(pattern)) == _rows(fresh.find(pattern))


def test_sort_var_length_conf_replans(spark, friends):
    key = "spark.graphframes_spark.motif.sortVarLength"
    pattern = "(a)-[e*1..2]->(b)"
    sorted_df = friends.find(pattern)
    spark.conf.set(key, "false")
    try:
        unsorted_df = friends.find(pattern)
        assert unsorted_df is not sorted_df
        assert "Sort" not in unsorted_df._jdf.queryExecution().analyzed().toString()
    finally:
        spark.conf.unset(key)
    assert friends.find(pattern) is sorted_df
    assert "Sort" in sorted_df._jdf.queryExecution().analyzed().toString()
    assert _rows(unsorted_df) == _rows(sorted_df)


def test_subgraphs_do_not_share_plans(friends):
    pattern = "(a)-[e]->(b)"
    whole = friends.find(pattern)
    by_edges = friends.filterEdges("relationship = 'friend'")
    by_vertices = friends.filterVertices("age < 35")
    assert by_edges.find(pattern) is not whole
    assert by_vertices.find(pattern) is not whole
    assert by_edges.degrees is not friends.degrees
    assert whole.count() == 8
    assert by_edges.find(pattern).count() == 4
    assert by_vertices.find(pattern).count() == 3  # a->e, e->d, d->a


def test_cache_after_memoized_find(spark):
    v = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    e = spark.createDataFrame([(i, (i + 1) % 5) for i in range(5)], ["src", "dst"])
    g = GraphFrame(v, e)
    pattern = "(a)-[]->(b); (b)-[]->(c)"
    before = _rows(g.find(pattern))
    g.cache()
    try:
        assert g.find(pattern) is g.find(pattern)
        assert _rows(g.find(pattern)) == before
        assert _rows(g.find(pattern).filter("a.id = 1")) == [
            r for r in before if "a=Row(id=1)" in r
        ]
    finally:
        g.unpersist()


@pytest.fixture(scope="module")
def multigraph(spark):
    """Parallel edges, a self-loop and null vertex attributes."""
    v = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y"), (4, None)], "id long, attr string"
    )
    e = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (2, 3), (3, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    return GraphFrame(v, e)


@pytest.mark.parametrize(
    "negated, matched",
    [
        ("!(b)-[]->(a)", "(b)-[]->(a)"),
        ("!(a)-[]->()", "(a)-[]->()"),
        ("!()-[]->(b)", "()-[]->(b)"),
        ("!(a)-[]->(a)", "(a)-[]->(a)"),
        ("!(b)-[]->(b)", "(b)-[]->(b)"),
    ],
)
def test_negation_is_except_distinct(multigraph, negated, matched):
    # the reference's definition: prev EXCEPT DISTINCT (prev ⋈ negated edge)
    prev = multigraph.find("(a)-[]->(b)")
    joined = multigraph.find(f"(a)-[]->(b); {matched}").select("a", "b")
    got = multigraph.find(f"(a)-[]->(b); {negated}")
    assert got.columns == ["a", "b"]
    assert _rows(got) == _rows(prev.subtract(joined))


def test_negation_collapses_parallel_edges(multigraph):
    # the two parallel 1->2 edges match (a=1, b=2) twice; EXCEPT DISTINCT
    # keeps one row per binding
    got = multigraph.find("(a)-[]->(b); !(a)-[]->(a)").filter("a.id = 1")
    assert [(r["a"]["id"], r["b"]["id"]) for r in got.collect()] == [(1, 2)]
    named = multigraph.find("(a)-[e]->(b); !(b)-[]->(b)").filter("a.id = 1")
    assert named.count() == 1


def test_negation_plan_is_anti_join(multigraph):
    df = multigraph.find("(a)-[]->(b); !(b)-[]->(a)")
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Except" not in analyzed
    assert "LeftAnti" in analyzed


def test_negation_of_later_bound_vertex_rejected(multigraph):
    with pytest.raises(InvalidPatternError):
        multigraph.find("(a)-[]->(b); !(b)-[]->(c); (c)-[]->(a)")
