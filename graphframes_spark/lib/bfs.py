"""Breadth-first search: globally-shortest paths between two vertex sets.

Semantics follow the reference
(/root/reference/core/src/main/scala/org/graphframes/lib/BFS.scala:83-231):
grow a path-join one hop at a time, probing each hop for a match of the
target expression; return the first (shortest) hop's full paths with
columns ``from, e0, v1, e1, ..., to`` (each a struct). Paths are
non-backtracking (no vertex repeated within a path).

Instead of rewriting the from/to expressions against nested structs (the
reference uses a Catalyst shim), we evaluate them once on the vertex table
and semi-join the frontier against the matching id sets — same results,
public API only.

One Spark action per hop explored: each hop is an eager checkpoint whose
materialization job also fills Observations — the target hits and path
count of that hop and, on hop 0, the sizes of the from set, the to set
and their intersection (the reference's separate seed probes). Only when
hop 0 has no path can one more action run (see the hop-0 comment).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional, Union

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from graphframes_spark.pregel import _observed_count
from graphframes_spark.util import ID, nest_as_col

if TYPE_CHECKING:
    from graphframes_spark.graphframe import GraphFrame


def bfs(
    graph: "GraphFrame",
    from_expr: Union[str, Column],
    to_expr: Union[str, Column],
    edge_filter: Optional[Union[str, Column]] = None,
    max_path_length: int = 10,
) -> DataFrame:
    v = graph.vertices
    to_col = F.expr(to_expr) if isinstance(to_expr, str) else to_expr

    from_df = v.filter(from_expr)
    from_equals_to = from_df.filter(to_expr)
    to_ids = v.filter(to_expr).select(F.col(ID).alias("_to_id"))

    g2 = graph.filterEdges(edge_filter) if edge_filter is not None else graph
    a2b = g2.find("(a)-[e]->(b)")

    # the seed counts ride hop 0's checkpoint job instead of an action
    seed_from, seed_to = Observation(), Observation()
    from_ids = from_df.observe(
        seed_from, F.count(F.lit(1)).alias("n"), F.count_if(to_col).alias("both")
    ).select(F.col(ID).alias("_from_id"))
    seed_to_ids = to_ids.observe(seed_to, F.count(F.lit(1)).alias("n"))

    paths = (
        a2b.join(from_ids, a2b["a"][ID] == F.col("_from_id"), "left_semi")
        .filter(F.col("a")[ID] != F.col("b")[ID])
        .withColumnRenamed("a", "from")
        .withColumnRenamed("e", "e0")
        .withColumnRenamed("b", "v1")
    )
    found: Optional[DataFrame] = None

    for hop in range(max(max_path_length, 1)):
        next_vertex = f"v{hop + 1}"
        if hop > 0:
            prev_vertex = f"v{hop}"
            next_links = (
                a2b.withColumnRenamed("a", prev_vertex)
                .withColumnRenamed("e", f"e{hop}")
                .withColumnRenamed("b", next_vertex)
            )
            joined = paths.join(
                next_links,
                paths[prev_vertex][ID] == next_links[prev_vertex][ID],
            ).drop(paths[prev_vertex])
            # non-backtracking: the new vertex differs from all previous ones
            check = joined["from"][ID] != joined[next_vertex][ID]
            for i in range(1, hop + 1):
                check = check & (joined[f"v{i}"][ID] != joined[next_vertex][ID])
            paths = joined.filter(check)

        # the target-set membership is attached as a flag via a left-outer
        # join (vertex ids are unique, so row counts are untouched) and
        # counted by an Observation riding the eager checkpoint's job
        obs = Observation()
        tagged = (
            paths.join(
                (seed_to_ids if hop == 0 else to_ids).withColumn("_bfs_hit", F.lit(1)),
                paths[next_vertex][ID] == F.col("_to_id"),
                "left_outer",
            )
            .drop("_to_id")
            .observe(
                obs,
                F.count(F.col("_bfs_hit")).alias("hits"),
                F.count(F.lit(1)).alias("paths"),
            )
        )
        tagged = tagged.localCheckpoint(eager=True)

        if hop == 0:
            # when hop 0 has no path, AQE may replace the from branch with
            # an empty relation and drop its Observation (it reads 0); no
            # longer path exists then, so one probe of from ∩ to decides
            # whether a zero-length path answers
            n_from = _observed_count(seed_from, "n")
            if n_from:
                both = _observed_count(seed_from, "both") > 0
            else:
                both = bool(from_equals_to.take(1))
            if both:
                return from_equals_to.select(
                    nest_as_col(from_equals_to, "from"), nest_as_col(from_equals_to, "to")
                )
            # AQE drops the to branch's Observation when hop 0 has no path
            # or the to set is empty: either way no path reaches the to set
            if not n_from or not _observed_count(seed_to, "n"):
                break
        if hop < max_path_length and _observed_count(obs, "hits") > 0:
            found = (
                tagged.filter(F.col("_bfs_hit").isNotNull())
                .drop("_bfs_hit")
                .withColumnRenamed(next_vertex, "to")
            )
            break
        if _observed_count(obs, "paths") == 0:
            break  # no path to extend
        paths = tagged.drop("_bfs_hit")

    if found is None:
        return v.limit(0)

    def rank(c: str) -> float:
        if c == "from":
            return 0.0
        if c == "to":
            return float("inf")
        if c.startswith("e"):
            return 0.6 + int(c[1:])
        return 0.3 + int(c[1:])

    ordered = sorted(found.columns, key=rank)
    return found.select(*ordered)
