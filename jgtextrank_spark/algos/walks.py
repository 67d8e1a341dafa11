"""Deterministic weighted random walks over the edge table.

The sampling workhorse of embedding pipelines (DeepWalk / node2vec
corpus generation, Monte-Carlo PPR, graph-aware negative sampling):
``walks_per_vertex`` walks of ``walk_length`` steps from every vertex,
each step choosing an out-edge with probability proportional to its
weight. The reference has no sampling surface; this generalizes its
graph layer toward the training-data role the same way the curation
module does the text side.

Spark-first design — the walk is a JOIN, not a loop over vertices:

1. The adjacency is turned ONCE into cumulative probability ranges per
   source: edges ordered by ``dst`` within each ``src`` (a window
   cumsum), edge i covering ``[cum_{i-1}/tot, cum_i/tot)``. Partitioned
   by ``src`` and cached — the walk's only big build.
2. Each step derives one uniform u per (walk, step) from
   ``md5(walk_id:step:seed)`` (first 12 hex chars as a 48-bit int /
   2^48) and advances every walk with ONE equi-join on the current
   vertex plus the range filter ``lo <= u < hi``. No per-vertex driver
   work, no Python in the loop; ``walk_length`` joins total.
3. Walks reaching a vertex with no out-edges stop (the inner join drops
   them) — truncated walks are the standard semantics.

Everything is md5-derived, so runs are REPLAYABLE bit-for-bit in any
engine with md5 (the correctness gate replays whole walk sets in
DuckDB). Exact cross-engine equality of the range boundaries assumes
the per-source weight total is an order-independent sum — true for
integral weights (co-occurrence counts, link multiplicities); with
arbitrary floats a boundary-straddling u could differ in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "random_walks",
    "node2vec_walks",
    "skipgram_pairs",
    "negative_sampling_table",
]

_SCALE = float(2**48)


def random_walks(
    edges: DataFrame,
    walks_per_vertex: int = 1,
    walk_length: int = 10,
    seed: str = "w42",
    weight_col: str | None = "weight",
) -> DataFrame:
    """DataFrame ``(walk_id, step, vertex)`` — step 0 is the start
    vertex; ``walk_id = <start>#<replica>``. Directed semantics: steps
    follow ``src -> dst``; pass ``graph.symmetrize(edges)`` for
    undirected walking."""
    from pyspark.sql import Window

    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None and weight_col in edges.columns
        else F.lit(1.0)
    )
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(w).alias("w"))
    )
    wcum = Window.partitionBy("src").orderBy("dst")
    wtot = Window.partitionBy("src")
    adj = (
        e.select(
            "src",
            "dst",
            "w",
            F.sum("w").over(wcum).alias("cum"),
            F.sum("w").over(wtot).alias("tot"),
        )
        .select(
            "src",
            "dst",
            ((F.col("cum") - F.col("w")) / F.col("tot")).alias("lo"),
            (F.col("cum") / F.col("tot")).alias("hi"),
        )
        .repartition(n_parts, "src")
        .persist()
    )
    verts = (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    cur = verts.select(
        "vertex",
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))
        ).alias("rep"),
    ).select(
        F.concat_ws("#", "vertex", F.col("rep").cast("string")).alias(
            "walk_id"
        ),
        F.col("vertex").alias("cur"),
    ).localCheckpoint(eager=True)

    parts = [
        cur.select(
            "walk_id", F.lit(0).alias("step"), F.col("cur").alias("vertex")
        )
    ]
    for t in range(1, walk_length + 1):
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("walk_id"), F.lit(str(t)), F.lit(seed)
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long").cast("double")
            / F.lit(_SCALE)
        )
        cur = (
            cur.withColumn("u", u)
            .join(adj, F.col("cur") == F.col("src"))
            .filter((F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")))
            .select("walk_id", F.col("dst").alias("cur"))
            .localCheckpoint(eager=True)
        )
        parts.append(
            cur.select(
                "walk_id",
                F.lit(t).alias("step"),
                F.col("cur").alias("vertex"),
            )
        )
        if cur.isEmpty():
            break
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    adj.unpersist()
    return out


def node2vec_walks(
    edges: DataFrame,
    walks_per_vertex: int = 1,
    walk_length: int = 10,
    p: float = 1.0,
    q: float = 1.0,
    seed: str = "w42",
    weight_col: str | None = "weight",
) -> DataFrame:
    """Second-order (node2vec) biased walks: ``(walk_id, step, vertex)``.

    Grover & Leskovec's search bias: stepping from ``cur`` with previous
    vertex ``prev``, candidate ``dst`` gets weight ``w/p`` if
    ``dst == prev`` (return), ``w`` if ``dst`` is a neighbour of ``prev``
    (BFS-ish), else ``w/q`` (DFS-ish). Step 1 has no previous vertex and
    is first-order — with ``p == q == 1`` every step's ranges collapse to
    the first-order ones, so the output is bit-identical to
    :func:`random_walks` (tested).

    Spark-first: unlike the first-order walk, ranges can't be
    precomputed per source (the bias depends on ``prev``), so each step
    materializes the candidate set — state joined to the adjacency on
    ``cur`` (fan-out = out-degree) — then marks distance-1 candidates
    with ONE two-key equi-join against the edge set ``(prev, dst)``, and
    samples via a per-walk window cumsum over candidates in ``dst``
    order. Per-walk window groups are out-degree-sized: a hub visit
    makes a large (spillable-sort) group, but the groups are keyed by
    ``walk_id``, so hub work spreads across partitions instead of
    hot-keying one reducer; the alias-table alternative costs
    O(E * avg_degree) state and is strictly worse at web scale.

    Determinism/replay: uniforms are ``md5(walk_id:step:seed)`` 48-bit,
    like :func:`random_walks`. Bias arithmetic is replayed bit-for-bit
    by the DuckDB oracle when weights are integral and ``p``/``q`` are
    powers of two (then ``w/p`` is exact and the ordered window sums are
    identical IEEE sequences in both engines)."""
    from pyspark.sql import Window

    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None and weight_col in edges.columns
        else F.lit(1.0)
    )
    adjw = (
        edges.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(w).alias("w"))
        .repartition(n_parts, "src")
        .persist()
    )
    # first-order ranges for step 1 (no prev yet) — same build as
    # random_walks, derived from the cached adjw
    wcum = Window.partitionBy("src").orderBy("dst")
    wtot = Window.partitionBy("src")
    adj1 = adjw.select(
        "src",
        "dst",
        (
            (F.sum("w").over(wcum) - F.col("w")) / F.sum("w").over(wtot)
        ).alias("lo"),
        (F.sum("w").over(wcum) / F.sum("w").over(wtot)).alias("hi"),
    )
    nbr = adjw.select(
        F.col("src").alias("nb_a"), F.col("dst").alias("nb_b")
    )
    verts = (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    start = verts.select(
        "vertex",
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_vertex - 1))
        ).alias("rep"),
    ).select(
        F.concat_ws("#", "vertex", F.col("rep").cast("string")).alias(
            "walk_id"
        ),
        F.col("vertex").alias("cur"),
    ).localCheckpoint(eager=True)

    def _u(t: int):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("walk_id"), F.lit(str(t)), F.lit(seed)
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long").cast("double")
            / F.lit(_SCALE)
        )

    parts = [
        start.select(
            "walk_id", F.lit(0).alias("step"), F.col("cur").alias("vertex")
        )
    ]
    if walk_length >= 1:
        state = (
            start.withColumn("u", _u(1))
            .join(adj1, F.col("cur") == F.col("src"))
            .filter((F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi")))
            .select(
                "walk_id",
                F.col("cur").alias("prev"),
                F.col("dst").alias("cur"),
            )
            .localCheckpoint(eager=True)
        )
        parts.append(
            state.select(
                "walk_id", F.lit(1).alias("step"), F.col("cur").alias("vertex")
            )
        )
        wwin = Window.partitionBy("walk_id").orderBy("dst")
        wall = Window.partitionBy("walk_id")
        for t in range(2, walk_length + 1):
            if state.isEmpty():
                break
            cand = state.join(
                adjw, state["cur"] == adjw["src"]
            ).join(
                nbr,
                (F.col("prev") == F.col("nb_a"))
                & (F.col("dst") == F.col("nb_b")),
                "left",
            ).select(
                "walk_id",
                "prev",
                "cur",
                "dst",
                F.when(F.col("dst") == F.col("prev"), F.col("w") / F.lit(p))
                .when(F.col("nb_a").isNotNull(), F.col("w"))
                .otherwise(F.col("w") / F.lit(q))
                .alias("b"),
            )
            state = (
                cand.select(
                    "walk_id",
                    "cur",
                    "dst",
                    (
                        (F.sum("b").over(wwin) - F.col("b"))
                        / F.sum("b").over(wall)
                    ).alias("lo"),
                    (F.sum("b").over(wwin) / F.sum("b").over(wall)).alias(
                        "hi"
                    ),
                )
                .withColumn("u", _u(t))
                .filter(
                    (F.col("u") >= F.col("lo")) & (F.col("u") < F.col("hi"))
                )
                .select(
                    "walk_id",
                    F.col("cur").alias("prev"),
                    F.col("dst").alias("cur"),
                )
                .localCheckpoint(eager=True)
            )
            parts.append(
                state.select(
                    "walk_id",
                    F.lit(t).alias("step"),
                    F.col("cur").alias("vertex"),
                )
            )
    out = parts[0]
    for prt in parts[1:]:
        out = out.unionByName(prt)
    adjw.unpersist()
    return out


def skipgram_pairs(
    walks: DataFrame, window: int = 2
) -> DataFrame:
    """Skip-gram training pairs from a walk corpus: ``(center, context,
    n)`` — every ordered (center, context) vertex pair within ``window``
    steps of each other on the same walk, with its corpus count. This is
    the DeepWalk/node2vec corpus step between :func:`random_walks` and an
    embedding trainer (word2vec consumes exactly these pairs).

    Plan: ONE self-equi-join on ``walk_id`` with the banded step filter
    ``0 < |i - j| <= window`` plus a count aggregation. Walks are short
    (walk_length + 1 rows), so the join fan-out per key is bounded by
    (walk_length+1)^2 — no skew risk regardless of graph shape, because
    walk_id (not vertex id) is the key: a hub vertex appears on many
    DIFFERENT walks, which spread over partitions."""
    a = walks.select(
        "walk_id", F.col("step").alias("i"), F.col("vertex").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("j"), F.col("vertex").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def negative_sampling_table(
    walks: DataFrame, alpha: float = 0.75, round_to: int = 9
) -> DataFrame:
    """word2vec-style negative-sampling distribution over the walk
    corpus: ``(vertex, n, p_neg)`` with ``p_neg ∝ count(vertex)^alpha``
    normalized to sum 1 (alpha=0.75 is the canonical smoothing). One
    partial-agg count plus a broadcast 1-row normalizer join — the
    distribution table is vertex-cardinality-sized, tiny next to the
    corpus, and feeds the trainer's sampler directly."""
    counts = walks.groupBy("vertex").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counts.select(
        F.sum(F.pow(F.col("n").cast("double"), F.lit(alpha))).alias("z")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "vertex",
        "n",
        F.round(
            F.pow(F.col("n").cast("double"), F.lit(alpha)) / F.col("z"),
            round_to,
        ).alias("p_neg"),
    )
