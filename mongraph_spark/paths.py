"""BFS shortest paths (reference ``shortestPathTo``, SURVEY.md G8).

The reference delegates to Neo4j's ``shortestPath(a-[:t*..15]->b)`` with a
hard 15-hop bound (reference src/extendDocument.coffee:352-366,
``levelDeepness = 15`` at :359) and takes whichever single path Neo4j
returns.  Two realizations share one expansion step (join the frontier with
the directed edges, keep the smallest path per reached node):

- :func:`shortest_path` (one pair, the per-document API) holds its frontier
  and ``visited`` set on the driver.  Each hop ships the frontier as a local
  relation, runs one collect of the expansion, and prunes visited nodes and
  checks for the target in Python; nothing replays earlier hops.
- :func:`shortest_paths_from` (one path per origin, the batch queries) keeps
  everything distributed: all origins advance together as DataFrames, with
  ``localCheckpoint`` cutting the lineage every hop.

Determinism (the oracle hash-compares): among equal-length paths we pin the
lexicographically-smallest node-id sequence, which `F.min` over the path
array gives directly (Spark arrays order lexicographically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongraph_spark.catalog import GraphStore, local_view
from mongraph_spark.sparkutil import bounded_collect

LEVEL_DEEPNESS = 15  # reference src/extendDocument.coffee:359
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("node", T.LongType(), False),
        T.StructField("path", T.ArrayType(T.LongType(), False), False),
    ]
)


def _directed_edges(edges: DataFrame, types: list[str] | None, direction: str) -> DataFrame:
    e = edges.select("src", "dst", "type")
    if types is not None:
        e = e.filter(F.col("type").isin(types) if len(types) > 1 else F.col("type") == types[0])
    if direction == "outgoing":
        return e.select("src", "dst")
    if direction == "incoming":
        return e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # both: traverse each edge in either direction
    return e.select("src", "dst").unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def shortest_path(
    store: GraphStore,
    src_node_id: int,
    dst_node_id: int,
    types: list[str] | None = None,
    direction: str = "outgoing",
    max_hops: int = LEVEL_DEEPNESS,
) -> list[int] | None:
    """Return the node-id sequence of one shortest path, or None.

    The reference's query is directed (``a-[…]->b``); ``direction`` mirrors
    the traversal options for completeness.  A frontier that grows past the
    OLTP collect cap (a hub reached) raises instead of filling the driver.
    """
    if src_node_id == dst_node_id:
        return [src_node_id]
    spark = store.spark
    edges = _directed_edges(store.edges_df(), types, direction)
    frontier = [(int(src_node_id), [int(src_node_id)])]
    visited = {int(src_node_id)}

    for _ in range(max_hops):
        fdf = local_view(spark, frontier, FRONTIER_SCHEMA)
        expanded = (
            fdf.join(edges, fdf["node"] == edges["src"], "inner")
            .select(
                F.col("dst").alias("node"),
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
            )
            # smallest path per node → deterministic tie-breaking
            .groupBy("node")
            .agg(F.min("path").alias("path"))
        )
        rows = bounded_collect(expanded, context="shortest_path frontier")
        frontier = [(r.node, list(r.path)) for r in rows if r.node not in visited]
        for node, path in frontier:
            if node == dst_node_id:
                return path
        if not frontier:
            return None
        visited.update(node for node, _ in frontier)
    return None


def shortest_paths_from(
    store: GraphStore,
    src_node_ids: DataFrame,
    dst_pred,
    types: list[str] | None = None,
    direction: str = "outgoing",
    max_hops: int = LEVEL_DEEPNESS,
) -> DataFrame:
    """Batch BFS: one shortest path per source node to the first node
    satisfying ``dst_pred`` (a Column over node ids via the nodes DF).

    Returns ``origin long, node long, path array<long>, hops int`` — one row
    per origin (the deterministic-minimum shortest path).  This is the
    distributed variant used by oracle-checked queries: all origins advance
    together, so the hop count of Spark jobs is bounded by the BFS depth,
    not by the number of origins.
    """
    spark = store.spark
    edges = _directed_edges(store.edges_df(), types, direction)
    targets = store.nodes_df().filter(dst_pred).select(F.col("node_id").alias("node"))

    frontier = src_node_ids.select(
        F.col("node_id").alias("origin"),
        F.col("node_id").alias("node"),
        F.array(F.col("node_id")).cast("array<long>").alias("path"),
    )
    visited = frontier.select("origin", "node")
    done = None

    for hop in range(1, max_hops + 1):
        expanded = (
            frontier.join(edges, frontier["node"] == edges["src"], "inner")
            .select(
                "origin",
                F.col("dst").alias("node"),
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
            )
            .groupBy("origin", "node")
            .agg(F.min("path").alias("path"))
            .join(visited, on=["origin", "node"], how="left_anti")
            .localCheckpoint(eager=False)
        )
        hits = (
            expanded.join(targets, on="node", how="left_semi")
            .groupBy("origin")
            .agg(F.min("path").alias("path"))
            .withColumn("hops", F.lit(hop))
        )
        done = hits if done is None else done.unionByName(hits)
        # origins that found a target stop expanding
        frontier = expanded.join(hits.select("origin"), on="origin", how="left_anti")
        visited = visited.unionByName(frontier.select("origin", "node")).distinct()
        if frontier.isEmpty():
            break
    if done is None:
        return spark.createDataFrame([], "origin long, path array<long>, hops int")
    return done.groupBy("origin").agg(
        F.min_by("path", "hops").alias("path"), F.min("hops").alias("hops")
    )
