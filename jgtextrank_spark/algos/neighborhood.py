"""Neighborhood function, ball sizes, and effective diameter.

The classic link-graph distance analytics (Boldi & Vigna's HyperBall /
HyperANF family): for every vertex the size of its ball ``B(v, t)`` (the
set of vertices within <= t hops), the corpus-wide neighborhood function
``N(t) = sum_v |B(v, t)|``, and the effective diameter (smallest t with
``N(t) >= alpha * N(inf)``).

Two implementations with identical superstep structure:

* :func:`neighborhood_exact` — ball MEMBERSHIP as exact distinct pairs,
  t rounds of join + distinct. Exact, ANSI-SQL-replayable (the gate's
  DuckDB oracle unrolls the same expansion), but state is the full
  reachability relation: O(sum_v |B(v,t)|) rows — fine at corpus-gate
  scale, quadratic blow-up territory on a 10^12-edge web graph.
* :func:`hyperball_result` — the scale path: state is ONE fixed-size
  HLL++ sketch per vertex (``2^lg_k`` registers, ~KB); a superstep
  unions each vertex's sketch with its neighbours' (``hll_union_agg``,
  all JVM-side, map-side combinable). Per-superstep cost is O(E)
  sketch merges regardless of ball sizes — this is why HyperBall runs
  on billion-vertex web graphs. Estimates carry HLL++ relative error
  (~1.04/sqrt(2^lg_k), ~1.6% at lg_k=12); sketches are deterministic
  (element-hash based, merge commutative), so runs are replayable.
  Runs on the superstep harness: checkpoint/resume/metrics for free.

The reference has no distance analytics; this generalizes its PageRank
inner loop (same adjacency partitioning, same harness) to the standard
web-graph distance suite the north rule's 10^12-document scale calls
for. Exactness contract between the two: tests assert the sketch
estimates land within the published HLL error of the exact operator.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fsutil
from ..supersteps import SuperstepResult, run_supersteps

__all__ = [
    "neighborhood_exact",
    "hyperball_result",
    "neighborhood_function",
    "harmonic_centrality_approx",
]


def _adj(edges: DataFrame, directed: bool) -> DataFrame:
    """Simple adjacency (v, u), self-loops dropped. Undirected: both
    directions. Directed: out-edges only — u is an OUT-neighbour of v,
    so ball t+1 of v unions the t-balls of its successors and
    B(v, t) is the set of vertices REACHABLE FROM v within t hops."""
    if directed:
        return (
            edges.filter(F.col("src") != F.col("dst"))
            .select(F.col("src").alias("v"), F.col("dst").alias("u"))
            .distinct()
        )
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    return und.select(F.col("a").alias("v"), F.col("b").alias("u")).unionByName(
        und.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )


def _verts(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )


def neighborhood_exact(
    edges: DataFrame,
    t: int = 2,
    vertices: DataFrame | None = None,
    directed: bool = False,
) -> DataFrame:
    """Exact ball sizes: (vertex, n_reach) with n_reach = |B(vertex, t)|
    including the vertex itself (``directed=True``: out-reachability).
    t rounds of frontier expansion over the simple graph; state is the
    full (v, reached) relation — exact and oracle-replayable, NOT the
    10^12-edge path (see :func:`hyperball_result`)."""
    adj = _adj(edges, directed)
    verts = _verts(edges)
    if vertices is not None:
        verts = verts.unionByName(
            vertices.select(F.col("id").alias("vertex"))
        ).distinct()
    reach = verts.select(F.col("vertex").alias("v"), F.col("vertex").alias("r"))
    for _ in range(t):
        expanded = (
            reach.join(adj.select(F.col("v").alias("r"), "u"), "r")
            .select("v", F.col("u").alias("r"))
        )
        reach = reach.unionByName(expanded).distinct()
    return reach.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n_reach")
    ).select(F.col("v").alias("vertex"), "n_reach")


def hyperball_result(
    edges: DataFrame,
    max_iter: int = 64,
    lg_k: int = 12,
    checkpoint_every: int = 8,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    directed: bool = False,
):
    """HyperBall on the superstep harness. State: ``(vertex, sketch,
    est, hsum, ...)`` where ``sketch`` is the HLL++ sketch of
    B(vertex, t) after t supersteps, ``est`` its cardinality estimate,
    and ``hsum`` the running harmonic-centrality accumulator
    (sum over t of (#vertices at distance exactly t)/t — see
    :func:`harmonic_centrality_approx`).

    Superstep: ``sketch(v) <- hll_union(sketch(v), hll_union_agg over
    neighbours' sketches)`` — one join against the u-partitioned cached
    adjacency (only the vertex-sized state shuffles) + one aggregation
    exchange, the same two-exchange shape as PageRank's contribution
    join. Convergence: no vertex's estimate changed (an unchanged sketch
    yields a bit-identical estimate, so exact float equality is sound).

    Returns (SuperstepResult, n_t) where ``n_t`` is the neighborhood
    function: n_t[t] = sum of ball-size estimates after t supersteps
    (n_t[0] = |V|), captured from the SAME fused per-superstep aggregate
    that computes the convergence delta.

    Because n_t is a per-superstep DRIVER-side total, a checkpoint-resume
    (which skips already-checkpointed supersteps) cannot recompute the
    skipped entries from the state alone. With ``checkpoint_dir`` set,
    every superstep's total is therefore persisted alongside the
    checkpoints (``hyperball_totals.json``, atomically replaced per
    superstep) and merged back on resume; if a resume finds totals
    missing for any superstep (older-version checkpoint, file deleted),
    this raises instead of returning a silently truncated n_t."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    adj = (
        _adj(edges, directed).repartition(n_parts, "u").persist()
    )
    init = (
        _verts(edges)
        .groupBy("vertex")
        .agg(
            F.hll_sketch_agg(
                F.col("vertex").cast("string"), F.lit(lg_k)
            ).alias("sketch")
        )
        .select(
            "vertex",
            "sketch",
            F.hll_sketch_estimate("sketch").cast("double").alias("est"),
            # running harmonic-centrality accumulator:
            # hsum += (#vertices at distance exactly t) / t per superstep
            # (Boldi & Vigna's HyperBall payoff: an all-pairs-BFS-class
            # quantity from the same sketches, no extra pass)
            F.lit(0.0).alias("hsum"),
            # systolic frontier flag: did the SKETCH change last round?
            # (init: everything is fresh)
            F.lit(True).alias("chg"),
        )
    )
    # per-superstep totals keyed by iteration; durable next to the
    # checkpoints so resume (which skips completed supersteps) can still
    # reconstruct the full neighborhood function.
    totals: dict[int, float] = {}
    totals_path = (
        os.path.join(checkpoint_dir, "hyperball_totals.json")
        if checkpoint_dir
        else None
    )
    if totals_path and fsutil.exists(spark, totals_path):
        if resume:
            totals = {
                int(k): float(v)
                for k, v in json.loads(
                    fsutil.read_text(spark, totals_path)
                ).items()
            }
        else:
            fsutil.delete(spark, totals_path)  # fresh run: drop stale totals

    def step(state: DataFrame, it: int):
        # Systolic HyperBall (Boldi & Vigna's own optimization): only
        # sketches that CHANGED last round are shipped through the union
        # aggregation. Sound because sketches are register-wise monotone:
        # after round t, sketch(v) already contains every neighbour's
        # round-(t-1) sketch, so an unchanged neighbour's contribution is
        # a no-op in the register-max union — the merged registers (and
        # therefore the serialized sketch, the estimate, and every n_t
        # total) are bit-identical to the ship-everything plan, while the
        # per-round shuffle shrinks from O(E) sketches to O(edges out of
        # the frontier). Guide §2.3: shuffle fewer bytes.
        nb = (
            adj.join(
                state.filter(F.col("chg")).select(
                    F.col("vertex").alias("u"),
                    F.col("sketch").alias("sk_u"),
                ),
                "u",
            )
            .groupBy("v")
            .agg(F.hll_union_agg("sk_u").alias("nb_sk"))
        )
        new_state = (
            state.join(nb, state["vertex"] == nb["v"], "left")
            .select(
                "vertex",
                F.when(
                    F.col("nb_sk").isNull(), state["sketch"]
                ).otherwise(
                    F.hll_union(state["sketch"], F.col("nb_sk"))
                ).alias("sketch"),
                state["sketch"].alias("prev_sketch"),
                state["est"].alias("prev_est"),
                state["hsum"].alias("prev_hsum"),
            )
            .withColumn(
                # untouched vertices keep their estimate (the estimate is
                # a deterministic function of the unchanged sketch bytes)
                "est",
                F.when(
                    F.col("sketch") == F.col("prev_sketch"),
                    F.col("prev_est"),
                ).otherwise(
                    F.hll_sketch_estimate("sketch").cast("double")
                ),
            )
            .withColumn("chg", F.col("sketch") != F.col("prev_sketch"))
            .drop("prev_sketch")
            .withColumn(
                # estimate differences can dip below 0 at HLL noise scale
                "hsum",
                F.col("prev_hsum")
                + F.greatest(
                    F.col("est") - F.col("prev_est"), F.lit(0.0)
                ) / F.lit(float(it)),
            )
            .persist()
        )
        row = new_state.agg(
            F.sum(
                F.when(F.col("est") != F.col("prev_est"), 1).otherwise(0)
            ).alias("changed"),
            F.sum("est").alias("total"),
        ).collect()[0]
        totals[it] = float(row["total"] or 0.0)
        if totals_path:
            fsutil.replace_text(
                spark,
                totals_path,
                json.dumps({str(k): v for k, v in totals.items()}),
            )
        return new_state, float(row["changed"] or 0)

    result = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=0.0,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        label="hyperball",
    )
    adj.unpersist()
    missing = [t for t in range(1, result.iterations + 1) if t not in totals]
    if missing:
        raise RuntimeError(
            "hyperball resume cannot reconstruct n_t: per-superstep totals "
            f"for supersteps {missing} were not persisted (checkpoint from "
            "an older version, or hyperball_totals.json was removed). "
            "Re-run with resume=False."
        )
    # n_t[t] for t >= 1 came from the fused aggregates; prepend N(0)=|V|
    # (every ball starts as {v}; the t=1 state row count equals |V|)
    nv = result.state.count()
    return result, [float(nv)] + [
        totals[t] for t in range(1, result.iterations + 1)
    ]


def harmonic_centrality_approx(
    edges: DataFrame,
    max_iter: int = 64,
    lg_k: int = 12,
    **kwargs,
) -> DataFrame:
    """Approximate harmonic centrality for EVERY vertex:
    ``H(v) = sum_{u != v} 1/d(v, u)``, from the HyperBall sketches'
    per-superstep ball growth — an all-pairs-shortest-path-class
    quantity computed in O(E * diameter) sketch merges instead of
    O(V * E) BFS (the exact betweenness/closeness family lives in
    smallgraph.py with a documented 200k cap; this is the web-scale
    alternative). Estimates carry HLL relative error (~1.04/sqrt(2^lg_k)
    per ball; negative growth noise is clamped at 0). Returns
    (vertex, harmonic).

    ``directed=True`` (via kwargs) gives the OUTWARD harmonic —
    ``sum_u 1/d(v, u)`` over vertices reachable FROM v. networkx's
    digraph convention sums over INCOMING distances: pass the reversed
    edge table to match it."""
    res, _ = hyperball_result(edges, max_iter=max_iter, lg_k=lg_k, **kwargs)
    return res.state.select(
        "vertex", F.round(F.col("hsum"), 6).alias("harmonic")
    )


def neighborhood_function(
    edges: DataFrame,
    alpha: float = 0.9,
    max_iter: int = 64,
    lg_k: int = 12,
    **kwargs,
) -> dict:
    """Corpus-wide distance profile via :func:`hyperball_result`:

    Returns ``{"n_t": [N(0), N(1), ...], "effective_diameter": d,
    "iterations": ..., "converged": ...}`` where d is the smallest t
    with N(t) >= alpha * N(last) (the standard alpha-effective
    diameter; alpha=0.9)."""
    res, n_t = hyperball_result(
        edges, max_iter=max_iter, lg_k=lg_k, **kwargs
    )
    target = alpha * n_t[-1]
    eff = next((t for t, v in enumerate(n_t) if v >= target), len(n_t) - 1)
    return {
        "n_t": n_t,
        "effective_diameter": eff,
        "iterations": res.iterations,
        "converged": res.converged,
    }
