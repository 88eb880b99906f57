"""slmpy_spark — a PySpark-native link-graph analytics engine.

A from-scratch reimplementation of the *capabilities* of
``iosonofabio/slmpy`` (Smart Local Moving modularity optimization,
Waltman & van Eck, EPJ B 2013 86:471) plus the sibling link-graph
operators mandated by the project north rule: PageRank, connected
components, label propagation, and triangle counting — all over a
single edge-table representation ``edges(src long, dst long,
weight double)``.

Architecture is Spark-first (see SURVEY.md):

- storage/logical plan: DataFrames over Parquet/Iceberg-shaped tables;
  Catalyst + AQE do pruning, broadcast selection, skew-join splitting.
- iteration: Python *driver loops* with checkpoint-truncated lineage
  (Catalyst has no fixpoint operator).
- hot kernels (local moving): the scale-mode sweep is JVM-side
  aggregation; community splits run numpy CSR kernels inside
  Arrow-vectorized ``applyInPandas`` groups, while exact mode and
  scale mode's exact finish collect the small graph and run them on
  the driver.  Their sequential visit loop is compiled C
  (``graph/_lm.c``, through ctypes) with a bit-identical plain-Python
  fallback.

Public API (SURVEY.md §3.5):

    from slmpy_spark import engine
    edges = engine.pages_to_edges(pages_df)
    assign, q = engine.slm(edges, seed=42)
    ranks = engine.pagerank(edges)
    comps = engine.connected_components(edges)
    labels = engine.label_propagation(edges)
    total, per_vertex = engine.triangle_count(edges)
"""

from slmpy_spark import engine
from slmpy_spark.engine import (
    connected_components,
    label_propagation,
    louvain,
    modularity,
    pagerank,
    pages_to_edges,
    slm,
    triangle_count,
)

__all__ = [
    "engine",
    "pages_to_edges",
    "slm",
    "louvain",
    "modularity",
    "pagerank",
    "connected_components",
    "label_propagation",
    "triangle_count",
]

__version__ = "0.1.0"
