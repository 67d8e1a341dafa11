"""Triangle counting + local clustering coefficient.

The reference exposes clustering via ``nx.clustering`` (solver
``clustering_coefficient``, /root/reference/jgtextrank/core.py:839-840):
c(v) = 2*T(v) / (deg(v) * (deg(v)-1)) on the *simple* graph (self-loops
contribute neither triangles nor degree in nx.clustering).

Both solvers list each triangle once with the standard degree-ordered
wedge scheme (skew on hub vertices is capped because every edge is
oriented from the (degree, id)-smaller endpoint to the larger):

1. simple edges: drop self-loops, dedupe unordered pairs;
2. orient u->v  iff  (deg(u), u) < (deg(v), v);
3. wedges (a<b<c by order): oriented e(a,b) and oriented e(a,c), b != c;
4. close each wedge against the simple edge set (b,c);
5. every closed triangle {a,b,c} credits all three vertices once.

``triangle_counts`` picks the solver per call:

* **Driver-local** (graphs of at most ``SMALL_GRAPH_LIMIT`` = 200 000
  edges, ``algos/smallgraph.py``): one Arrow job fetches the edge table;
  the wedges are enumerated over a CSR of the oriented edges in chunks of
  ``WEDGE_CHUNK``, so driver memory stays bounded, and each wedge is
  closed with ``searchsorted`` into the sorted canonical edge keys.
* **DataFrame join** (larger graphs, or a null id): the wedges are a
  self-join of the oriented edge table and are closed by a semi-join
  against the canonical one — shuffle volume O(sum of squared degrees of
  the oriented graph), the best known DataFrame formulation.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .smallgraph import local_graph

# wedges enumerated per chunk by the driver-local count: ~50 MB of int64
# working arrays whatever the graph's wedge total
WEDGE_CHUNK = 1 << 20

__all__ = ["triangle_counts", "clustering_coefficient", "simple_degrees", "k_truss"]


def _simple_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )


def simple_degrees(edges: DataFrame) -> DataFrame:
    """Degree on the simple graph (no self-loops, deduped): (vertex, deg)."""
    se = _simple_edges(edges)
    return (
        se.select(F.col("u").alias("vertex"))
        .unionByName(se.select(F.col("v").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def triangle_counts(edges: DataFrame, include_zero: bool = True) -> DataFrame:
    """Per-vertex triangle counts: (vertex, triangles). Graphs of at most
    ``SMALL_GRAPH_LIMIT`` edges are counted on the driver (see the module
    docstring)."""
    graph = local_graph(edges)
    if graph is not None:
        return _triangle_counts_local(edges.sparkSession, graph, include_zero)
    se = _simple_edges(edges).persist()
    deg = simple_degrees(edges)

    withdeg = (
        se.join(deg.withColumnRenamed("vertex", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(
            deg.select(F.col("vertex").alias("v"), F.col("deg").alias("dv")),
            "v",
        )
    )
    oriented = withdeg.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
        )
        .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
        .alias("e")
    ).select(F.col("e.s").alias("s"), F.col("e.d").alias("d")).persist()

    e1 = oriented.select(F.col("s").alias("a"), F.col("d").alias("b"))
    e2 = oriented.select(F.col("s").alias("a2"), F.col("d").alias("c"))
    wedges = e1.join(e2, (e1["a"] == e2["a2"]) & (e1["b"] < e2["c"])).select(
        "a", "b", "c"
    )
    # wedge pairs are raw-id ordered (b < c), the canonical simple-edge
    # table is too (u < v) — close directly against it, no direction union.
    triangles = wedges.join(
        se, (wedges["b"] == se["u"]) & (wedges["c"] == se["v"]), "left_semi"
    )

    credits = (
        triangles.select(F.col("a").alias("vertex"))
        .unionByName(triangles.select(F.col("b").alias("vertex")))
        .unionByName(triangles.select(F.col("c").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    verts = edges.select(F.col("src").alias("vertex")).unionByName(
        edges.select(F.col("dst").alias("vertex"))
    ).distinct()
    out = verts.join(credits, "vertex", "left").select(
        "vertex", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
    if not include_zero:
        out = out.filter(F.col("triangles") > 0)
    return out


def _triangle_counts_local(spark, graph, include_zero: bool) -> DataFrame:
    n = graph.n
    loop = graph.src != graph.dst
    u = np.minimum(graph.src[loop], graph.dst[loop])
    v = np.maximum(graph.src[loop], graph.dst[loop])
    keys = np.unique(u * n + v)  # canonical simple edges, sorted
    u, v = keys // n, keys % n
    deg = np.bincount(u, minlength=n) + np.bincount(v, minlength=n)
    # orient by (degree, code); codes follow Spark's id order
    fwd = (deg[u] < deg[v]) | ((deg[u] == deg[v]) & (u < v))
    src = np.where(fwd, u, v)
    dst = np.where(fwd, v, u)
    # CSR of the oriented edges, each row's targets ascending: edge i
    # pairs with the later edges of its row, one wedge (a; b < c) each
    order = np.lexsort((dst, src))
    src, dst = src[order], dst[order]
    row_end = np.cumsum(np.bincount(src, minlength=n))[src]
    per_edge = row_end - np.arange(len(src)) - 1
    ends = np.cumsum(per_edge)
    tri = np.zeros(n, dtype=np.int64)
    lo = 0
    while lo < len(src):
        done = ends[lo] - per_edge[lo]  # wedges before edge lo
        hi = int(np.searchsorted(ends, done + WEDGE_CHUNK, "right"))
        hi = max(hi, lo + 1)
        counts = per_edge[lo:hi]
        first = np.repeat(np.arange(lo, hi), counts)
        starts = ends[lo:hi] - done - counts  # each edge's first wedge
        rank = np.arange(len(first)) - np.repeat(starts, counts)
        second = first + 1 + rank
        wkey = dst[first] * n + dst[second]
        at = np.searchsorted(keys, wkey)
        closed = keys[np.minimum(at, len(keys) - 1)] == wkey
        for x in (src[first], dst[first], dst[second]):
            tri += np.bincount(x[closed], minlength=n)
        lo = hi
    keep = np.arange(n) if include_zero else np.flatnonzero(tri > 0)
    vf = graph.vfield
    table = pa.table(
        [graph.ids.take(pa.array(keep)), tri[keep]],
        names=["vertex", "triangles"],
    )
    schema = T.StructType([
        T.StructField("vertex", vf.dataType, vf.nullable),
        T.StructField("triangles", T.LongType(), False),
    ])
    return spark.createDataFrame(table, schema=schema)


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """nx.clustering parity: (vertex, clustering)."""
    tri = triangle_counts(edges)
    deg = simple_degrees(edges)
    return (
        tri.join(deg, "vertex", "left")
        .select(
            "vertex",
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                2.0
                * F.col("triangles")
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(0.0)
            .alias("clustering"),
        )
    )


def k_truss(
    edges: DataFrame, k: int, max_rounds: int = 100
) -> DataFrame:
    """The k-truss of the undirected simple graph: the maximal subgraph
    in which every edge closes at least ``k - 2`` triangles WITHIN the
    subgraph (nx.k_truss semantics). Returns the canonical edge set
    ``(src, dst)`` with src < dst — the truss's vertex set is its
    endpoints (nx also drops the isolated remainder).

    Peeling fixpoint: each round recounts per-edge triangle support with
    the same degree-free ordered wedge join as triangle counting (e1 =
    (a,b), e2 = (a,c), b < c, closed by (b,c) — every triangle listed
    exactly once) and drops edges below ``k - 2``; the edge set only
    shrinks, so each round is cheaper than the last, and the round count
    is bounded by the peeling depth (small in practice — removal
    cascades, it doesn't ripple one edge at a time). Support recount is
    O(sum of wedge counts) per round; at web scale pair it with the
    ``max_center_degree``-style guards upstream if hub wedges dominate.
    Raises rather than returning a non-fixpoint on budget overrun."""
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    und = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = und.count()
    for _ in range(max_rounds):
        if n == 0:
            break
        e2 = und.select(F.col("a").alias("a2"), F.col("b").alias("c"))
        wedges = und.join(
            e2, (F.col("a") == F.col("a2")) & (F.col("b") < F.col("c"))
        ).select("a", "b", "c")
        tri = wedges.join(
            und.select(F.col("a").alias("b"), F.col("b").alias("c")),
            ["b", "c"],
        )
        supp = (
            tri.select(F.col("a").alias("x"), F.col("b").alias("y"))
            .unionByName(
                tri.select(F.col("a").alias("x"), F.col("c").alias("y"))
            )
            .unionByName(
                tri.select(F.col("b").alias("x"), F.col("c").alias("y"))
            )
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("s"))
        )
        kept = (
            und.join(
                supp,
                (F.col("a") == F.col("x")) & (F.col("b") == F.col("y")),
                "left",
            )
            .filter(F.coalesce("s", F.lit(0)) >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        m = kept.count()
        if m == n:
            break
        und, n = kept, m
    else:
        raise RuntimeError(
            f"k_truss peeling did not reach fixpoint in {max_rounds} rounds"
        )
    return und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
