"""Label propagation (community detection) supersteps.

The community-detection analogue of the hash-min loop (SURVEY.md §2.5):
synchronous updates, each vertex adopts the most frequent label among its
neighbours (weighted by edge weight), ties broken by the smallest label —
fully deterministic, unlike classic randomized LPA. Vertices with no
neighbours keep their own label.

Two solvers run the same rounds; ``label_propagation_result`` picks one
per call.

* **Driver-local** (graphs of at most ``SMALL_GRAPH_LIMIT`` = 200 000
  edges, ``algos/smallgraph.py``): one Arrow job fetches the edge table,
  ids become int64 codes in Spark's sort order, and each round sums the
  votes per (vertex, label) with ``np.bincount`` in edge order and takes
  the argmax on the driver — no Spark job inside the loop.
* **DataFrame loop** (larger graphs, a null id or, when weighted, a
  null or NaN weight): each superstep joins labels to the cached
  symmetrized adjacency, counts (vertex, label) weights and picks the
  argmax per vertex with a window — two shuffles over O(E) rows, the
  adjacency itself never re-shuffles.

Both return the same ``SuperstepResult`` and write and resume the same
checkpoints. Converges when no label changes or ``max_iter`` (LPA can
oscillate on bipartite-ish structures; max_iter bounds that, as is
standard).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..graph import symmetrize
from ..supersteps import SuperstepResult, run_supersteps
from .smallgraph import label_loop, local_graph

__all__ = ["label_propagation", "label_propagation_result"]

# Vertex sets up to this size are broadcast into the DataFrame loop's
# per-superstep joins; larger ones take shuffle joins.
BROADCAST_THRESHOLD = 2_000_000


def label_propagation_result(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 10,
    weighted: bool = True,
    checkpoint_every: int = 5,
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> SuperstepResult:
    """Synchronous label propagation; state ``(vertex, label,
    prev_label)``. ``weighted=False`` counts every edge as one vote.
    Graphs of at most ``SMALL_GRAPH_LIMIT`` edges are solved on the
    driver (see the module docstring)."""
    spark = edges.sparkSession
    graph = local_graph(edges, vertices, "weight" if weighted else None)
    if graph is not None and not (weighted and _odd_weights(graph.weight)):
        return _label_propagation_local(
            spark, graph, max_iter, checkpoint_every, checkpoint_dir, resume
        )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    w = F.col("weight").cast("double") if weighted else F.lit(1.0)
    adj = (
        symmetrize(edges)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", w.alias("w"))
        .repartition(n_parts, "src")
        .persist()
    )
    verts = edges.select(F.col("src").alias("vertex")).unionByName(
        edges.select(F.col("dst").alias("vertex"))
    )
    if vertices is not None:
        verts = verts.unionByName(vertices.select(F.col("id").alias("vertex")))
    init = verts.distinct().withColumn("label", F.col("vertex")).persist()
    bcast = init.count() <= BROADCAST_THRESHOLD

    def _b(df):
        return F.broadcast(df) if bcast else df

    def step(state: DataFrame, it: int) -> tuple[DataFrame, float]:
        votes = (
            adj.join(
                _b(state.select(F.col("vertex").alias("src"), "label")), "src"
            )
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("votes"))
        )
        pick = Window.partitionBy("dst").orderBy(
            F.desc("votes"), F.asc("label")
        )
        best = (
            votes.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("dst", F.col("label").alias("new_label"))
        )
        new_state = (
            state.join(_b(best), state["vertex"] == best["dst"], "left")
            .select(
                "vertex",
                F.coalesce("new_label", "label").alias("label"),
                F.col("label").alias("prev_label"),
            )
            .persist()
        )
        changed = new_state.agg(
            F.sum(
                F.when(F.col("label") != F.col("prev_label"), 1).otherwise(0)
            ).alias("c")
        ).collect()[0]["c"]
        return new_state, float(changed or 0)

    result = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=0.0,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        label="label_propagation",
    )
    adj.unpersist()
    return result


def _odd_weights(w: pa.Array) -> bool:
    """A null or NaN weight. SQL's sum skips nulls and its ordering ranks
    NaN above every number; the local vote count mirrors neither, so
    such graphs take the DataFrame loop."""
    return bool(w.null_count) or bool(pc.any(pc.is_nan(w)).as_py())


def _label_propagation_local(
    spark, graph, max_iter, checkpoint_every, checkpoint_dir, resume
) -> SuperstepResult:
    """The DataFrame loop's rounds in numpy. Votes are summed per
    (vertex, label) in edge order, each edge voting both ways; the
    heaviest label wins, ties to the smallest label (the smallest code),
    and a vertex without votes keeps its label."""
    n = graph.n
    w = (
        np.ones(len(graph.src))
        if graph.weight is None
        else graph.weight.to_numpy(zero_copy_only=False)
    )
    loop = graph.src != graph.dst
    # interleave the two directions so each vertex's votes arrive in edge
    # order: row 2i is edge i forward, row 2i+1 backward
    a = np.stack([graph.src[loop], graph.dst[loop]], axis=1).ravel()
    b = np.stack([graph.dst[loop], graph.src[loop]], axis=1).ravel()
    wv = np.repeat(w[loop], 2)

    def step(label):
        keys, inv = np.unique(b * n + label[a], return_inverse=True)
        votes = np.bincount(inv, weights=wv)
        v, lab = keys // n, keys % n
        top = np.full(n, -np.inf)
        np.maximum.at(top, v, votes)
        best = votes == top[v]
        v, lab = v[best], lab[best]
        # keys are sorted by (vertex, label): each vertex's first winner
        # is its smallest heaviest label
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = label.copy()
        new[v[first]] = lab[first]
        return new

    return label_loop(
        spark, graph, np.arange(n, dtype=np.int64), step, max_iter,
        checkpoint_every, checkpoint_dir, resume, "label_propagation",
        label_nullable=graph.vfield.nullable,
    )


def label_propagation(
    edges: DataFrame, encode_ids: bool = False, **kwargs
) -> DataFrame:
    """DataFrame ``(vertex, label)``.

    ``encode_ids=True`` runs the loop on dictionary-encoded longs. LPA's
    dynamics DEPEND on label order (ties break to the smallest label), so
    the encoding must be order-preserving — ``encode_vertices(
    order_preserving=True)`` assigns ids monotone in the string order,
    making every superstep's tie-break (and hence the final communities)
    identical to the string run while the loop shuffles 8-byte keys."""
    if not encode_ids:
        res = label_propagation_result(edges, **kwargs)
        return res.state.select("vertex", "label")

    from ..graph import encode_vertices

    if kwargs.get("vertices") is not None:
        raise ValueError(
            "encode_ids=True requires the vertex universe to come from "
            "the edge table."
        )
    enc_edges, vdict = encode_vertices(edges, order_preserving=True)
    res = label_propagation_result(enc_edges, **kwargs)
    v_dict = vdict.withColumnRenamed("id", "vertex").withColumnRenamed(
        "token", "vertex_str"
    )
    l_dict = vdict.withColumnRenamed("id", "label").withColumnRenamed(
        "token", "label_str"
    )
    return (
        res.state.join(v_dict, "vertex")
        .join(l_dict, "label")
        .select(
            F.col("vertex_str").alias("vertex"),
            F.col("label_str").alias("label"),
        )
    )
