"""Onion decomposition (layered k-core peeling).

Hébert-Dufresne, Grochow & Allard (2016): repeatedly find the minimum
degree ``k`` of the remaining graph and peel ALL vertices of degree
``<= k`` as one LAYER; the running maximum of ``k`` is each peeled
vertex's CORE number. Layers refine the k-core decomposition — they
separate a core's sparse periphery from its dense center, the standard
web-graph structure probe one level finer than coreness.

Matches ``networkx.onion_layers`` (1-based layers) and
``networkx.core_number`` exactly.

Superstep shape: two semi-joins restrict the static adjacency to the
remaining vertices, one count aggregate for degrees, ONE fused scalar
action (min remaining degree ⊕ max assigned core — unioned aggregates,
so resume needs no driver-held state), one label join-back. Round count
= number of onion layers (O(sqrt(edges)) in theory, small double digits
on real web graphs — inherently sequential, like every peel; use
``centrality.core_numbers_hindex_result`` when only core numbers are
needed at scale).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..supersteps import run_supersteps

__all__ = ["OnionResult", "onion_decomposition"]

# Vertex sets up to this size are broadcast into the DataFrame loop's
# per-superstep joins; larger ones take shuffle joins.
BROADCAST_THRESHOLD = 5_000_000


@dataclass
class OnionResult:
    state: DataFrame               # (vertex, layer, core) — 1-based layers
    layers: int                    # number of onion layers
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def onion_decomposition(
    edges: DataFrame,
    max_rounds: int = 100_000,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
) -> OnionResult:
    """Peel the undirected simple graph of ``(src, dst)``; see module
    docstring. Self-loops ignored; parallel edges collapse."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nonself = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    sym = (
        nonself.unionByName(
            nonself.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(n_parts, "src")
        .persist()
    )
    verts = sym.select(F.col("src").alias("vertex")).distinct()
    n_verts = verts.count()
    bcast = n_verts <= BROADCAST_THRESHOLD

    def _b(df):
        return F.broadcast(df) if bcast else df

    state0 = verts.select(
        "vertex",
        F.lit(None).cast("long").alias("layer"),
        F.lit(None).cast("long").alias("core"),
    )

    def step(state: DataFrame, it: int):
        rem = state.filter(F.col("layer").isNull()).select("vertex")
        deg = (
            sym.join(_b(rem.withColumnRenamed("vertex", "src")), "src", "semi")
            .join(_b(rem.withColumnRenamed("vertex", "dst")), "dst", "semi")
            .groupBy(F.col("src").alias("vertex"))
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        degs = rem.join(deg, "vertex", "left").select(
            "vertex", F.coalesce("deg", F.lit(0)).alias("deg")
        ).persist()
        # ONE action for both scalars: min remaining degree and the max
        # core assigned so far (so the current core is derivable from
        # state alone — checkpoint/resume never needs driver-held state)
        scal = dict(
            degs.agg(F.min("deg").alias("v"))
            .select(F.lit("kmin").alias("k"), F.col("v").cast("long"))
            .unionByName(
                state.agg(F.max("core").alias("v")).select(
                    F.lit("core").alias("k"), F.col("v").cast("long")
                )
            )
            .collect()
        )
        kmin = scal.get("kmin")
        core_now = max(kmin or 0, scal.get("core") or 0)
        if kmin is None:
            # nothing remains: no-op round, delta 0 stops the loop
            return state.select("vertex", "layer", "core"), 0.0
        # nx semantics: the peel threshold is the RUNNING max core, not
        # this round's min degree — mid-core degree drops stay in the
        # same layer sweep
        newly = degs.filter(F.col("deg") <= core_now).select(
            "vertex",
            F.lit(it).cast("long").alias("new_layer"),
            F.lit(core_now).cast("long").alias("new_core"),
        )
        new_state = (
            state.join(_b(newly), "vertex", "left")
            .select(
                "vertex",
                F.coalesce("layer", "new_layer").alias("layer"),
                F.coalesce("core", "new_core").alias("core"),
            )
            .persist()
        )
        n_new = new_state.agg(
            F.sum((F.col("layer") == it).cast("int")).alias("n")
        ).collect()[0]["n"]
        degs.unpersist()
        return new_state, float(n_new or 0)

    res = run_supersteps(
        spark,
        state0,
        step,
        max_iter=max_rounds,
        tolerance=0.0,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        label="onion",
    )
    # layer count from the STATE (layers are iteration-stamped and
    # globally correct across a checkpoint resume), not this run's
    # metrics: a resumed run's metrics lack the pre-resume productive
    # rounds, so a metrics-derived max would underreport (same fix as
    # toposort's depth, ADVICE r4)
    max_layer = res.state.agg(F.max("layer").alias("m")).collect()[0]["m"]
    n_layers = int(max_layer) if max_layer is not None else 0
    sym.unpersist()
    # converged means everything peeled (a finite graph always peels;
    # non-convergence only via max_rounds)
    return OnionResult(
        state=res.state,
        layers=n_layers,
        converged=res.converged
        or res.state.filter(F.col("layer").isNull()).count() == 0,
        metrics=res.metrics,
    )
