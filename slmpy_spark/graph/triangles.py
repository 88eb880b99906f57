"""Triangle counting (SURVEY.md §3.3 P4) — global and per-vertex.

Algorithm: degree-ordered orientation + wedge closure (the standard
MapReduce scheme of Suri & Vassilvitskii, "Counting Triangles and the
Curse of the Last Reducer", WWW 2011):

1. distinct undirected edges, oriented low→high by (degree, id) — every
   vertex's *oriented* out-degree is O(sqrt(m)), so hub wedge fan-out is
   bounded (the whole point vs naive orientation by id);
2. wedges = oriented ⋈ oriented on the middle (lower) vertex;
3. triangles = wedges semi-joined against oriented edges.

Per-vertex counts: each closed wedge (a<b<c in the order) contributes
one triangle to each of a, b, c → explode the 3 corners + groupBy.

Everything is joins/groupBys — sort-merge or shuffled-hash picked by
Catalyst, AQE splits residual skew. No Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slmpy_spark.graph.edges import symmetrize
from slmpy_spark.util import Frames, explain_to


def _oriented(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges oriented by (degree, id) lexicographic
    low→high. Returns (u, v) with u ≺ v in the total order."""
    sym = symmetrize(edges).select("src", "dst")
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    e = (
        sym.join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "sdeg"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "ddeg"), "dst")
    )
    lower = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    # sym contains both directions, so keeping only rows where src ≺ dst
    # yields each undirected edge exactly once, oriented.  vdeg (the
    # upper endpoint's degree) rides along so wedge generation can
    # order the two upper endpoints without re-joining the degree table.
    return e.where(lower).select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col("ddeg").alias("vdeg")
    )


def triangles(edges: DataFrame) -> DataFrame:
    """All triangles as (a, b, c) with a ≺ b ≺ c in degree-id order — a
    lazy frame that caches nothing, so it pins no storage."""
    return _closed_wedges(_oriented(edges))


def _closed_wedges(o: DataFrame) -> DataFrame:
    """Triangles over the oriented edges `o`: each wedge closed by an
    oriented edge."""
    w1 = o.select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("vdeg").alias("bdeg"))
    w2 = o.select(F.col("u").alias("a2"), F.col("v").alias("c"), F.col("vdeg").alias("cdeg"))
    # each unordered wedge {b, c} over middle vertex a is generated
    # exactly ONCE, with b ≺ c in the same (degree, id) total order as
    # the edge orientation — the closing semi-join key then matches
    # directly and the wedge intermediate (the largest frame of the
    # whole plan) is half the size of the naive b != c generation.
    b_lt_c = (F.col("bdeg") < F.col("cdeg")) | (
        (F.col("bdeg") == F.col("cdeg")) & (F.col("b") < F.col("c"))
    )
    wedges = w1.join(w2, (F.col("a") == F.col("a2")) & b_lt_c).select("a", "b", "c")
    closing = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tris = wedges.join(closing, ["b", "c"], "left_semi").select("a", "b", "c")
    explain_to(tris, "triangles")
    return tris


def triangle_count(edges: DataFrame):
    """Returns (total:int, per_vertex: DataFrame(id, triangles)).

    Per-vertex includes every vertex of the graph (0 for triangle-free);
    it is a lazy frame that recomputes the triangles when consumed — the
    caches this count used are freed before returning.
    """
    frames = Frames()
    o = frames.own(_oriented(edges).persist())
    tris = _closed_wedges(o)
    total = tris.count()
    frames.retain()
    corners = (
        tris.select(F.col("a").alias("id"))
        .unionByName(tris.select(F.col("b").alias("id")))
        .unionByName(tris.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    from slmpy_spark.graph.edges import vertices

    per_vertex = (
        vertices(edges)
        .join(corners, "id", "left")
        .select("id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"))
    )
    return total, per_vertex
