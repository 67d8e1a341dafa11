"""Sampled Brandes betweenness centrality, level-synchronous and
multi-source-vectorized.

Exact betweenness is O(V*E) (Brandes 2001) — out of reach at web scale —
but the standard estimator (Brandes & Pich 2007, networkx's ``k=``
sampling) runs Brandes from S sampled sources and rescales by n/S. The
per-source dependency accumulation is embarrassingly parallel across
sources, so the distributed shape is: ONE state table keyed by
``(source, vertex)`` holding all S concurrent BFS trees, advanced
level-synchronously (2 * diameter rounds total — web graphs have tiny
diameters), never one driver round per source.

The reference has only driver-side centralities behind a size cap
(``smallgraph.py`` mirrors its networkx fallbacks, reference
``core.py:614-642`` per-component solver dispatch); this is the
distributed path for the one centrality users actually sample at scale.

Algorithm per source s (all sources ride the same DataFrames):

* forward BFS by level: ``sigma(s, v)`` = number of shortest s->v paths
  = sum of parents' sigmas when v is first reached (all parents of v sit
  in the previous frontier, so one partial-agg groupBy per level is
  exact);
* reverse sweep from the deepest level: ``delta(s, v) =
  sum over successors w [ sigma_v / sigma_w * (1 + delta_w) ]`` — one
  join + groupBy per level;
* ``bc(v) = scale * sum over s of delta(s, v)`` with
  ``scale = (0.5 if undirected else 1.0) * (n / S if rescale_sample)``
  — exactly networkx's unnormalized ``_rescale`` with ``k=S``, so
  ``sources = all vertices`` reproduces exact betweenness bit-for-bit
  against ``nx.betweenness_centrality(normalized=False)``.

Scale notes: the adjacency is symmetrized/deduped once, hash-partitioned
on src and cached; per-level state is checkpointed (bounded lineage);
state size is O(S * reachable set) — S is the knob, and the estimator's
error is O(1/sqrt(S)) independent of graph size. Path counts ``sigma``
ride doubles (exact for counts < 2^53; beyond that the RATIO is what
enters delta and relative error stays ~1e-16).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["betweenness_sampled"]


def betweenness_sampled(
    edges: DataFrame,
    sources=None,
    k: int | None = None,
    directed: bool = False,
    rescale_sample: bool = True,
    max_depth: int = 200,
) -> DataFrame:
    """``(vertex, betweenness)`` over every graph vertex (0.0 for
    vertices on no sampled shortest path).

    ``sources``: explicit source set (DataFrame or iterable); or
    ``k``: sample size — the k vertices with smallest
    ``md5(vertex)`` (deterministic, uniform over the vertex set, and
    replayable by any engine); both None = all vertices (exact mode).
    ``rescale_sample=True`` applies networkx's n/S factor so sampled
    runs estimate the exact values; with all vertices the factor is 1.

    Raises if BFS exceeds ``max_depth`` levels (diameter guard — a
    partial sweep would silently under-count)."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # one traversal of the input lineage (the symmetrizing union reads it
    # twice, and the page-graph gate feeds the whole link-extraction
    # pipeline in here); no-op when the caller already persisted it
    from ..graph import materialize_input

    ebase = materialize_input(edges, "src", "dst")
    adj = ebase
    if not directed:
        adj = adj.unionByName(
            ebase.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # one exchange, not two: the repartition by src also satisfies the
    # dedup aggregation's (src, dst) clustering requirement (same-src rows
    # are co-located), so dropDuplicates reuses the exchange that the
    # per-level joins need anyway (guide §2.4)
    adj = (
        adj.filter(F.col("src") != F.col("dst"))
        .repartition(n_parts, "src")
        .dropDuplicates(["src", "dst"])
        .persist()
    )
    adj.count()
    ebase.unpersist()
    verts = (
        adj.select(F.col("src").alias("vertex"))
        .unionByName(adj.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()

    if sources is not None:
        if isinstance(sources, DataFrame):
            srcs = sources.select(
                F.col(sources.columns[0]).alias("s")
            ).distinct()
        else:
            srcs = spark.createDataFrame(
                [(s,) for s in sources], ["s"]
            ).distinct()
    elif k is not None:
        srcs = (
            verts.orderBy(
                F.md5(F.col("vertex").cast("string")), F.col("vertex")
            )
            .limit(k)
            .select(F.col("vertex").alias("s"))
        )
    else:
        srcs = verts.select(F.col("vertex").alias("s"))
    srcs = srcs.localCheckpoint(eager=True)
    n_sources = srcs.count()
    if n_sources == 0:
        adj.unpersist()
        return verts.select(
            "vertex", F.lit(0.0).alias("betweenness")
        )

    # ---- forward: level-synchronous BFS with path counting -------------
    cur = (
        srcs.select(
            "s",
            F.col("s").alias("v"),
            F.lit(1.0).alias("sigma"),
        )
        .repartition(n_parts, "s", "v")
        .localCheckpoint(eager=True)
    )
    levels = [cur]          # levels[d] = (s, v, sigma) first reached at d
    visited = cur.select("s", "v")
    depth = 0
    while True:
        depth += 1
        if depth > max_depth:
            adj.unpersist()
            raise RuntimeError(
                f"betweenness_sampled: BFS exceeded max_depth={max_depth}"
            )
        if directed:
            # a successor of a level-d vertex may sit at ANY level <= d+1,
            # so the anti join needs the full visited prefix
            seen = visited
        else:
            # symmetric adjacency: |dist(u) - dist(v)| <= 1 across every
            # edge, so neighbours of the level-d frontier lie in levels
            # d-1 / d / d+1 — the anti join's right side is two LEVELS,
            # not the whole growing visited prefix (one less O(reached)
            # shuffle per level; guide §2.3 shuffle fewer bytes)
            seen = levels[-1].select("s", "v")
            if len(levels) >= 2:
                seen = seen.unionByName(levels[-2].select("s", "v"))
        newly = (
            cur.join(adj, cur["v"] == adj["src"])
            .select("s", F.col("dst").alias("nv"), "sigma")
            .groupBy("s", F.col("nv").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
            # the groupBy already hash-partitions by (s, v); the anti
            # join reuses it and the old explicit repartition was one
            # pure extra exchange per level
            .join(seen, ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if newly.count() == 0:
            break
        levels.append(newly)
        if directed:
            visited = visited.unionByName(newly.select("s", "v"))
        cur = newly

    # ---- reverse: dependency accumulation, deepest level first ---------
    # the sweep needs PREDECESSORS of w. For the symmetric (undirected)
    # adjacency, {src of edges with dst=w} == {dst of edges with src=w},
    # so joining on adj's src side is row-identical AND reuses the cached
    # src hash partitioning — the old dst-side join re-exchanged the full
    # O(E) adjacency every level (guide §2.4). Directed graphs need the
    # true dst-side orientation: one dst-partitioned cached copy, built
    # once, replaces the per-level exchanges.
    if directed:
        adj_t = adj.repartition(n_parts, "dst").persist()
    else:
        adj_t = adj
    bc_parts = []
    delta = levels[-1].select("s", "v", F.lit(0.0).alias("delta"))
    for lvl in range(len(levels) - 1, 0, -1):
        bc_parts.append(delta)  # deltas of level `lvl` are final here
        wd = levels[lvl].join(delta, ["s", "v"]).select(
            "s",
            F.col("v").alias("w"),
            F.col("sigma").alias("sigma_w"),
            "delta",
        )
        if directed:
            pred = wd.join(adj_t, wd["w"] == adj_t["dst"]).select(
                "s", F.col("src").alias("v"), "sigma_w", "delta"
            )
        else:
            pred = wd.join(adj, wd["w"] == adj["src"]).select(
                "s", F.col("dst").alias("v"), "sigma_w", "delta"
            )
        contrib = (
            pred
            .join(
                levels[lvl - 1].select(
                    "s", "v", F.col("sigma").alias("sigma_v")
                ),
                ["s", "v"],
            )
            .groupBy("s", "v")
            .agg(
                F.sum(
                    F.col("sigma_v")
                    / F.col("sigma_w")
                    * (F.lit(1.0) + F.col("delta"))
                ).alias("delta")
            )
        )
        delta = (
            levels[lvl - 1]
            .select("s", "v")
            .join(contrib, ["s", "v"], "left")
            .select(
                "s", "v", F.coalesce("delta", F.lit(0.0)).alias("delta")
            )
            .localCheckpoint(eager=True)
        )
        # level-0 deltas (the sources themselves) are never accumulated:
        # Brandes sums delta(s, w) over w != s only

    scale = (1.0 if directed else 0.5) * (
        float(n) / n_sources if rescale_sample else 1.0
    )
    if bc_parts:
        acc = bc_parts[0]
        for part in bc_parts[1:]:
            acc = acc.unionByName(part)
        bc = acc.groupBy("v").agg(
            (F.sum("delta") * F.lit(scale)).alias("betweenness")
        )
    else:
        bc = spark.createDataFrame([], "v string, betweenness double")
    out = (
        verts.join(bc, verts["vertex"] == bc["v"], "left")
        .select(
            "vertex",
            F.coalesce("betweenness", F.lit(0.0)).alias("betweenness"),
        )
    )
    adj.unpersist()
    if directed:
        adj_t.unpersist()
    return out
