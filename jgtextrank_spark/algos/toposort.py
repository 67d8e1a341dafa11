"""Topological layering of a DAG (distributed Kahn peel).

Assigns each vertex its longest-path-from-a-source length: sources
(zero in-degree) are layer 0; a vertex's layer is 1 + the max layer of
its in-neighbors. Equivalently, round ``r`` of Kahn's algorithm peels
every vertex whose in-neighbors are all already peeled — the standard
dependency-ordering primitive (crawl scheduling tiers, redirect-chain
depth, build/derivation ordering over the host condensation DAG).

Superstep shape: one semi-join (edges from still-unassigned sources
→ blocked destinations) + one anti-join (unassigned minus blocked) +
one label join-back; round count = DAG depth. Runs on the engine's
superstep harness (lineage truncation, checkpoint/resume, metrics).

Cycles: a round that assigns nothing while vertices remain unassigned
means every remainder sits on or downstream of a cycle. Default raises
(a layering of a cyclic graph is a contract violation — run SCC /
condensation first: ``algos/scc.py``); ``allow_cycles=True`` instead
returns those vertices with ``layer = NULL``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..supersteps import run_supersteps

__all__ = ["TopoResult", "topological_layers"]

# Vertex sets up to this size are broadcast into the DataFrame loop's
# per-superstep joins; larger ones take shuffle joins.
BROADCAST_THRESHOLD = 5_000_000


@dataclass
class TopoResult:
    layers: DataFrame              # (vertex, layer) — layer NULL iff cyclic
    depth: int                     # number of peel rounds = max layer + 1
    acyclic: bool                  # every vertex got a layer
    n_cyclic: int                  # vertices left unassigned
    metrics: list[dict] = field(default_factory=list)


def topological_layers(
    edges: DataFrame,
    allow_cycles: bool = False,
    max_rounds: int = 100_000,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
) -> TopoResult:
    """Layer the digraph ``(src, dst)``; see module docstring."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_parts, "src")
        .persist()
    )
    verts = (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    n_verts = verts.count()
    bcast = n_verts <= BROADCAST_THRESHOLD

    def _b(df):
        return F.broadcast(df) if bcast else df

    state0 = verts.select("vertex", F.lit(None).cast("long").alias("layer"))

    def step(state: DataFrame, it: int):
        unassigned = state.filter(F.col("layer").isNull()).select("vertex")
        blocked = (
            e.join(
                _b(unassigned.withColumnRenamed("vertex", "src")),
                "src",
                "semi",
            )
            .select(F.col("dst").alias("vertex"))
            .distinct()
        )
        newly = unassigned.join(_b(blocked), "vertex", "anti").select(
            "vertex", F.lit(it - 1).cast("long").alias("new_layer")
        )
        new_state = (
            state.join(_b(newly), "vertex", "left")
            .select(
                "vertex",
                F.coalesce("layer", "new_layer").alias("layer"),
            )
            .persist()
        )
        assigned_now = new_state.agg(
            F.sum(
                (F.col("layer") == F.lit(it - 1)).cast("int")
            ).alias("n")
        ).collect()[0]["n"]
        return new_state, float(assigned_now or 0)

    res = run_supersteps(
        spark,
        state0,
        step,
        max_iter=max_rounds,
        tolerance=0.0,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        label="topological_layers",
    )
    n_cyclic = res.state.filter(F.col("layer").isNull()).count()
    if n_cyclic and not allow_cycles:
        e.unpersist()
        raise ValueError(
            f"graph is not a DAG: {n_cyclic} vertices sit on or downstream "
            "of a cycle (condense SCCs first, or pass allow_cycles=True "
            "to get layer=NULL for them)"
        )
    # depth comes from the STATE (max assigned layer + 1), not from this
    # run's metrics: after a checkpoint resume the pre-resume productive
    # rounds are absent from res.metrics, so a metrics-derived depth
    # would underreport (e.g. 0 when the resume lands after the last
    # productive round) even though the layers themselves are correct.
    max_layer = res.state.agg(F.max("layer").alias("m")).collect()[0]["m"]
    depth = int(max_layer) + 1 if max_layer is not None else 0
    e.unpersist()
    return TopoResult(
        layers=res.state,
        depth=depth,
        acyclic=n_cyclic == 0,
        n_cyclic=n_cyclic,
        metrics=res.metrics,
    )
