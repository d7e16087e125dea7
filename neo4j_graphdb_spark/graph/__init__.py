from neo4j_graphdb_spark.graph.algorithms import (
    degrees,
    pagerank,
    connected_components,
    shortest_paths,
    triangle_count,
    label_propagation,
    hits,
)

__all__ = [
    "degrees",
    "pagerank",
    "connected_components",
    "shortest_paths",
    "triangle_count",
    "label_propagation",
    "hits",
]
