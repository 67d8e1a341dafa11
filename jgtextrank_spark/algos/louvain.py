"""Deterministic distributed Louvain community detection.

LPA (labelprop.py) gives cheap communities; modularity (graphstats.py)
scores any partition; Louvain (Blondel et al. 2008) is the standard
algorithm that OPTIMIZES modularity — the missing piece between them.
Distributed Louvain implementations (Grappolo, Spark-Louvain) replace
the sequential vertex sweep with synchronous rounds; this one is built
so every round is **deterministic and exactly replayable in SQL**:

* **Move rule in exact integer arithmetic.** With integral edge weights
  (co-occurrence counts, link counts — our graphs), the modularity gain
  comparison multiplies out to integers: moving v to community c wins
  over staying iff ``s(c) > s(cur)`` where
  ``s(c) = 2m * k_{v,c} - k_v * (vol(c) - [c = cur] * k_v)``
  (the gain formula scaled by the positive constant 2m²; γ=1). No
  float compare anywhere in the decision path — ties break to the
  smallest community id. The comparison arithmetic runs over
  decimal(38,0)/HUGEINT; the upstream aggregates (2m, k_v, vol, k_{v,c})
  are double sums rounded to integers, so the end-to-end exactness
  guarantee holds while TOTAL edge weight stays below 2^53 (doubles
  represent every integer exactly up to there — ~9e15, comfortably past
  a 10^12-edge unit-weight graph; beyond that, aggregate weights as
  longs before calling in).
* **Hash-gated activity.** Synchronous best-move for ALL vertices can
  oscillate (two adjacent vertices swapping forever). Each round only
  vertices with md5(seed:round:v) even are allowed to move — the
  standard distributed-Louvain symmetry breaker, deterministic here.
  Strict-improvement moves plus random halving makes oscillation
  vanishingly unlikely; ``converged`` reports whether a no-move round
  was reached within ``max_rounds`` (``fixed_rounds`` forces an exact
  round count for replay).
* **Aggregation levels.** After a move phase, communities contract to
  supervertices (internal edges become self-loops, which enter vertex
  strength k_v but cancel out of the argmax) and the move phase reruns
  on the coarse graph — the classic multilevel loop.

Scale shape per round: one semi-join to the active set, one
neighbor-community aggregation (partial aggs), one window argmax keyed
by vertex, one scalar action (#moves). Community volumes are a tiny
aggregate. Self-loops and weights handled exactly.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..supersteps import run_supersteps

__all__ = [
    "LouvainResult",
    "louvain_move_phase",
    "louvain",
    "leiden",
    "refine_partition",
]

# Vertex sets up to this size are broadcast into the DataFrame loop's
# per-superstep joins; larger ones take shuffle joins.
BROADCAST_THRESHOLD = 5_000_000

_DEC = "decimal(38,0)"


@dataclass
class LouvainResult:
    assignment: DataFrame          # (vertex, community)
    levels: int
    rounds: list[int]              # move rounds per level
    converged: bool                # every level reached a no-move round
    metrics: list[dict] = field(default_factory=list)


def _sym_parts(edges: DataFrame):
    """(mirror, selfw, kv, m2): undirected neighbor rows (both
    directions, parallel edges summed), self-loop weights, vertex
    strengths k_v (self-loops count twice, nx convention), and the
    scalar 2m = sum of strengths."""
    e = edges.select(
        "src", "dst", F.coalesce(F.col("weight"), F.lit(1.0)).alias("w")
    )
    nonself = e.filter(F.col("src") != F.col("dst"))
    # canonical undirected sum, then mirrored — (u,v) and (v,u) inputs
    # describe the same undirected edge
    canon = nonself.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
        "w",
    ).groupBy("u", "v").agg(F.sum("w").alias("w"))
    mirror = canon.select(
        F.col("u").alias("a"), F.col("v").alias("b"), "w"
    ).unionByName(
        canon.select(F.col("v").alias("a"), F.col("u").alias("b"), "w")
    )
    selfw = (
        e.filter(F.col("src") == F.col("dst"))
        .groupBy(F.col("src").alias("vertex"))
        .agg(F.sum("w").alias("sw"))
    )
    kv = (
        mirror.groupBy(F.col("a").alias("vertex"))
        .agg(F.sum("w").alias("kn"))
        .join(selfw, "vertex", "outer")
        .select(
            "vertex",
            (
                F.coalesce("kn", F.lit(0.0))
                + F.lit(2.0) * F.coalesce("sw", F.lit(0.0))
            ).alias("k"),
        )
    )
    return mirror, selfw, kv


def _best_moves(scored: DataFrame) -> DataFrame:
    """``(vertex, new_c)`` for each vertex whose best candidate community
    scores strictly above its current one. ``scored`` holds one row per
    (vertex, candidate ``c``) with the vertex's current ``community`` and
    the move score ``s``.

    ONE unordered window pass extracts both the argmax candidate and the
    current community's score — never self-join the scored frame, and
    never SORT it: the argmax under (s desc, c asc) is exactly
    min(struct(-s, c)) (s is decimal(38,0), negation exact; c is unique
    per vertex, so the row whose c equals the winner's is the winner).
    The old row_number() argmax forced a full sort of the edge-sized
    candidate frame every round; both window aggregates here are
    unordered and share one WindowExec over the same vertex partitioning
    as the aggregation before it, so the round still has exactly one
    exchange — and no per-round sort.

    A NULL score (decimal overflow) is dropped first: as struct(NULL, c)
    it would sort first under F.min and win the argmax."""
    wv = Window.partitionBy("vertex")
    return (
        scored.filter(F.col("s").isNotNull())
        .withColumn(
            "cs",
            F.max(F.when(F.col("c") == F.col("community"), F.col("s"))).over(
                wv
            ),
        )
        .withColumn(
            "best",
            F.min(F.struct((-F.col("s")).alias("ns"), F.col("c"))).over(wv),
        )
        .filter((F.col("c") == F.col("best.c")) & (F.col("s") > F.col("cs")))
        .select("vertex", F.col("c").alias("new_c"))
    )


def louvain_move_phase(
    edges: DataFrame,
    init: DataFrame | None = None,
    max_rounds: int = 30,
    fixed_rounds: int | None = None,
    seed: str = "louvain",
    round_offset: int = 0,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, int, bool, list[dict]]:
    """One Louvain local-move phase: (assignment, rounds, converged,
    metrics). ``init`` is an optional (vertex, community) start (default
    singletons; inner-joined against the graph's vertex set, so pass a
    COMPLETE assignment — ids absent from the edge table and graph
    vertices missing from ``init`` are both dropped). ``fixed_rounds``
    runs exactly that many rounds (for bit-exact replay); otherwise
    stops at the first no-move round.

    Runs on :func:`~jgtextrank_spark.supersteps.run_supersteps` (the
    engine's iterative-solver harness: per-round lineage truncation,
    durable checkpoint/resume via ``checkpoint_dir``, per-round metrics).
    The state carries ``(vertex, community, k, moved)`` so the #moves
    delta is ONE aggregate on the new state — no join back to the old
    state (the double-read trap from NOTES.md: a superstep whose action
    re-reads a derived frame grew ~4-6x slower PER ROUND under AQE-off,
    measured 1s -> 178s by round 10 on a 30-vertex graph)."""
    spark = edges.sparkSession
    mirror, _selfw, kv = _sym_parts(edges)
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    mirror = mirror.repartition(n_parts, "a").persist()
    kv = kv.persist()
    m2 = kv.agg(F.sum("k").alias("s")).collect()[0]["s"] or 0.0
    if m2 <= 0:
        # no modularity signal (empty or zero-total-weight graph; NOT
        # self-loop-only — self-loops enter k twice so m2 > 0 there):
        # no move can change the objective, so return the start
        # assignment unchanged — the provided init when there is one
        # (inner-joined to the vertex set, same contract as below),
        # singletons otherwise.
        verts = kv.select("vertex")
        if init is not None:
            start = verts.join(
                init.select("vertex", "community"), "vertex"
            )
        else:
            start = verts.select(
                "vertex", F.col("vertex").alias("community")
            )
        return start, 0, True, []
    m2i = int(round(m2))
    n_verts = kv.count()
    bcast = n_verts <= BROADCAST_THRESHOLD

    def _b(df):
        # explicit broadcast while the state is small: under static
        # planning (AQE off) a checkpointed state has no size estimate,
        # so Catalyst would sort-merge every one of these tiny joins
        return F.broadcast(df) if bcast else df

    state0 = (
        init.select("vertex", "community").join(kv, "vertex")
        if init is not None
        else kv.select("vertex", F.col("vertex").alias("community"), "k")
    ).select("vertex", "community", "k", F.lit(0).alias("moved"))

    def _gate(col):
        # deterministic per-round half-activation: md5(seed:r:vertex)
        # even. A pure EXPRESSION on the vertex id, so the active-set
        # restriction is a filter, not a semi-join — one broadcast build
        # and one exchange fewer per round than the old
        # semi-join-the-active-frame plan (guide §2.4).
        return (
            F.conv(F.substring(F.md5(col), 1, 2), 16, 10).cast("int") % 2
            == 0
        )

    def step(state: DataFrame, it: int) -> tuple[DataFrame, float]:
        r = it + round_offset
        pfx = f"{seed}:{r}:"
        # NOTE (measured, r6): riding the community volumes on the state
        # rows via a V-sized window sum (removing this per-round vol
        # aggregate+broadcast and the scored-side vol join) was tried and
        # REVERTED — the window's per-round exchange+sort of the V-sized
        # state plus the extra column through the edge-sized aggregation
        # cost ~0.75s/round at the 200k-vertex bench, consistently MORE
        # than the broadcast build + tiny join it saved (cold-session A/B
        # 3x: move4 9.5-11.8s without vs 14.2-14.4s with).
        vol = state.groupBy("community").agg(F.sum("k").alias("vol"))
        active = state.filter(
            _gate(F.concat(F.lit(pfx), F.col("vertex")))
        ).select("vertex", "community", "k")

        # Neighbour-community weights for ACTIVE vertices, with the
        # current community injected as a zero-weight candidate row
        # BEFORE the aggregation (the old plan materialized nbrc and
        # outer-joined the current-community rows back in — one extra
        # edge-sized exchange). The explicit repartition by vertex is
        # the round's ONE exchange: groupBy(vertex, c), the window
        # argmax and the final groupBy all reuse it (hash partitioning
        # on `vertex` satisfies every downstream clustering
        # requirement), where the old plan exchanged separately for the
        # (a, c) aggregation, the outer join and the window. Weight
        # sums are integral (the documented exactness scope), so the
        # zero-row and any addition-order change are exact.
        # the zero-weight current-community row ALSO carries the active
        # vertex's own (community, k); the vertex-partitioned window
        # rebroadcasts them to the vertex's other candidate rows (exactly
        # one non-null per vertex), so the old per-round broadcast join
        # of the active frame disappears
        cand = (
            mirror.filter(_gate(F.concat(F.lit(pfx), F.col("a"))))
            .join(
                _b(
                    state.select(
                        F.col("vertex").alias("b"),
                        F.col("community").alias("c"),
                    )
                ),
                "b",
            )
            .select(
                F.col("a").alias("vertex"),
                "c",
                "w",
                F.lit(None).cast(state.schema["community"].dataType)
                .alias("cm0"),
                F.lit(None).cast("double").alias("k0"),
            )
            .unionByName(
                active.select(
                    "vertex",
                    F.col("community").alias("c"),
                    F.lit(0.0).alias("w"),
                    F.col("community").alias("cm0"),
                    F.col("k").alias("k0"),
                )
            )
            .repartition(n_parts, "vertex")
            .groupBy("vertex", "c")
            .agg(
                F.sum("w").alias("kvc"),
                F.max("cm0").alias("cm"),
                F.max("k0").alias("kk"),
            )
        )
        wv = Window.partitionBy("vertex")
        scored = (
            cand.withColumn("community", F.max("cm").over(wv))
            .withColumn("k", F.max("kk").over(wv))
            .join(_b(vol.select(F.col("community").alias("c"), "vol")), "c")
            .select(
                "vertex",
                "community",
                "c",
                (
                    F.lit(m2i).cast(_DEC)
                    * F.round(F.col("kvc")).cast(_DEC)
                    - F.round(F.col("k")).cast(_DEC)
                    * (
                        F.round(F.col("vol")).cast(_DEC)
                        - F.when(
                            F.col("c") == F.col("community"),
                            F.round(F.col("k")),
                        )
                        .otherwise(F.lit(0.0))
                        .cast(_DEC)
                    )
                ).alias("s"),
            )
        )
        moves = _best_moves(scored)
        new_state = (
            state.join(_b(moves), "vertex", "left")
            .select(
                "vertex",
                F.coalesce("new_c", "community").alias("community"),
                "k",
                F.col("new_c").isNotNull().cast("int").alias("moved"),
            )
            .persist()
        )
        n_moved = new_state.agg(F.sum("moved").alias("m")).collect()[0]["m"]
        return new_state, float(n_moved or 0)

    total = fixed_rounds if fixed_rounds is not None else max_rounds
    res = run_supersteps(
        spark,
        state0,
        step,
        max_iter=total,
        # replay mode must run EXACTLY fixed_rounds rounds: tolerance -1
        # makes delta<=tolerance unreachable (delta >= 0)
        tolerance=-1.0 if fixed_rounds is not None else 0.0,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        label=f"louvain:{seed}",
    )
    metrics = [
        {
            "event": "move_round",
            "round": m["iteration"] + round_offset,
            "moved": int(m["delta"]),
        }
        for m in res.metrics
        if m["event"] in ("step", "checkpoint") and m["delta"] is not None
    ]
    converged = True if fixed_rounds is not None else res.converged
    comm = res.state.select("vertex", "community")
    mirror.unpersist()
    kv.unpersist()
    return comm, res.iterations, converged, metrics


def _contract(edges: DataFrame, comm: DataFrame) -> DataFrame:
    """Contract communities to supervertices: (src, dst, weight) where
    internal edges become self-loops. Exact weight sums."""
    cs = comm.select(F.col("vertex").alias("src"), F.col("community").alias("cu"))
    cd = comm.select(F.col("vertex").alias("dst"), F.col("community").alias("cv"))
    return (
        edges.select(
            "src", "dst", F.coalesce(F.col("weight"), F.lit(1.0)).alias("w")
        )
        .join(cs, "src")
        .join(cd, "dst")
        .groupBy(F.col("cu").alias("src"), F.col("cv").alias("dst"))
        .agg(F.sum("w").alias("weight"))
    )


def refine_partition(
    edges: DataFrame,
    labels: DataFrame,
    algorithm: str = "hashmin",
    **kwargs,
) -> DataFrame:
    """Leiden-style connectivity refinement of any partition: split each
    community into its CONNECTED pieces (Traag, Waltman & van Eck 2019
    showed Louvain/LPA can emit internally disconnected communities; the
    guarantee Leiden adds is exactly that every community is connected).

    ``labels`` is ``(vertex, label)`` (any partition: Louvain, LPA, host
    grouping, ...). Returns ``(vertex, community)`` where ``community``
    is the minimum vertex id of the piece — globally unique without any
    cross-community coordination, since a vertex belongs to exactly one
    piece. Vertices with no intra-community edge become singletons.

    Scale shape: two hash joins tag edge endpoints with their labels
    (map-side after one exchange each), the equality filter keeps only
    intra-community edges, then one connected-components run
    (``algorithm``/``kwargs`` forwarded to
    :func:`~jgtextrank_spark.algos.components.connected_components` —
    pass ``algorithm="star"`` at extreme edge counts) restricted to that
    typically much smaller edge set."""
    from .components import connected_components

    a = labels.select(
        F.col("vertex").alias("src"), F.col("label").alias("_ls")
    )
    b = labels.select(
        F.col("vertex").alias("dst"), F.col("label").alias("_ld")
    )
    intra = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .join(a, "src")
        .join(b, "dst")
        .filter(F.col("_ls") == F.col("_ld"))
        .select("src", "dst")
    )
    comps = connected_components(intra, algorithm=algorithm, **kwargs)
    return (
        labels.select("vertex")
        .join(comps, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("component", "vertex").alias("community"),
        )
    )


def louvain(
    edges: DataFrame,
    levels: int = 2,
    max_rounds: int = 30,
    fixed_rounds: int | None = None,
    seed: str = "louvain",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
) -> LouvainResult:
    """Multilevel Louvain: move phase, contract, repeat ``levels`` times
    (stops early when a level makes no merges). Returns the ORIGINAL
    vertices' final communities. Integral edge weights required for the
    exact-replay guarantee (arbitrary floats still work, but last-ulp
    cross-engine determinism is no longer guaranteed)."""
    mapping: DataFrame | None = None  # vertex -> current community
    cur_edges = edges
    all_metrics: list[dict] = []
    rounds_per_level: list[int] = []
    conv_all = True
    lv = 0
    for lv in range(1, levels + 1):
        comm, rounds, conv, ms = louvain_move_phase(
            cur_edges,
            max_rounds=max_rounds,
            fixed_rounds=fixed_rounds,
            seed=f"{seed}:L{lv}",
            checkpoint_dir=(
                f"{checkpoint_dir}/level{lv}" if checkpoint_dir else None
            ),
            checkpoint_every=checkpoint_every,
        )
        rounds_per_level.append(rounds)
        conv_all = conv_all and conv
        for m in ms:
            all_metrics.append({"level": lv, **m})
        if mapping is None:
            mapping = comm
        else:
            mapping = (
                mapping.join(
                    comm.select(
                        F.col("vertex").alias("community"),
                        F.col("community").alias("new_comm"),
                    ),
                    "community",
                )
                .select("vertex", F.col("new_comm").alias("community"))
            )
        mapping = mapping.localCheckpoint(eager=True)
        n_comms = mapping.select("community").distinct().count()
        n_verts = mapping.count()
        all_metrics.append(
            {"level": lv, "event": "contract", "communities": n_comms}
        )
        if lv == levels or n_comms == n_verts:
            break
        cur_edges = _contract(cur_edges, comm).localCheckpoint(eager=True)
    return LouvainResult(
        assignment=mapping,
        levels=lv,
        rounds=rounds_per_level,
        converged=conv_all,
        metrics=all_metrics,
    )


def leiden(
    edges: DataFrame,
    levels: int = 3,
    max_rounds: int = 30,
    fixed_rounds: int | None = None,
    seed: str = "leiden",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
) -> LouvainResult:
    """Leiden community detection (Traag, Waltman & van Eck 2019) from
    the engine's existing parts: per level, a Louvain local-move phase,
    then CONNECTIVITY REFINEMENT of the resulting partition
    (:func:`refine_partition`), then aggregation over the REFINED pieces
    while the coarse graph's vertices KEEP their move-phase communities
    (``init``) — the aggregate-on-refinement step that lets later levels
    re-split badly merged communities, which plain Louvain cannot.

    The returned assignment gets a final refinement pass, so every
    returned community is CONNECTED — the paper's headline guarantee
    (splitting a disconnected community strictly increases modularity,
    so the final pass never hurts the objective). Deterministic
    throughout (md5-gated moves, min-id piece labels). ``fixed_rounds``
    forces an exact per-level move-round count — the same bit-exact
    replay hook as :func:`louvain_move_phase`, so a fixed-round run is
    SQL-unrollable end to end (the gate's ``leiden`` oracle does
    exactly that: two levels of the move unroll, the refinement
    closures, the piece contraction, and the final map-through)."""
    mapping: DataFrame | None = None  # vertex -> current refined piece
    cur_edges = edges
    init: DataFrame | None = None
    all_metrics: list[dict] = []
    rounds_per_level: list[int] = []
    conv_all = True
    lv = 0
    comm = None
    for lv in range(1, levels + 1):
        comm, rounds, conv, ms = louvain_move_phase(
            cur_edges,
            init=init,
            max_rounds=max_rounds,
            fixed_rounds=fixed_rounds,
            seed=f"{seed}:L{lv}",
            checkpoint_dir=(
                f"{checkpoint_dir}/level{lv}" if checkpoint_dir else None
            ),
            checkpoint_every=checkpoint_every,
        )
        rounds_per_level.append(rounds)
        conv_all = conv_all and conv
        for m in ms:
            all_metrics.append({"level": lv, **m})
        refined = refine_partition(
            cur_edges, comm.withColumnRenamed("community", "label")
        ).localCheckpoint(eager=True)
        # piece -> the move-phase community all its members share
        # (refined.community is the piece id, comm.community the louvain
        # community; a piece lies inside one community by construction)
        piece_comm = (
            refined.select("vertex", F.col("community").alias("piece"))
            .join(comm, "vertex")
            .select("piece", "community")
            .distinct()
        )
        if mapping is None:
            mapping = refined.select(
                "vertex", F.col("community").alias("piece")
            )
        else:
            mapping = mapping.join(
                refined.select(
                    F.col("vertex").alias("piece"),
                    F.col("community").alias("new_piece"),
                ),
                "piece",
            ).select("vertex", F.col("new_piece").alias("piece"))
        mapping = mapping.localCheckpoint(eager=True)
        n_pieces = piece_comm.count()
        n_verts = refined.count()
        all_metrics.append(
            {"level": lv, "event": "refine", "pieces": n_pieces}
        )
        if lv == levels or n_pieces == n_verts:
            break
        cur_edges = _contract(
            cur_edges,
            refined.select("vertex", F.col("community").alias("community")),
        ).localCheckpoint(eager=True)
        init = piece_comm.select(
            F.col("piece").alias("vertex"), "community"
        )
    # map original vertices through their piece to its final community,
    # then guarantee connectivity with one last refinement
    piece_final = (
        refined.select("vertex", F.col("community").alias("piece"))
        .join(comm, "vertex")
        .select("piece", "community")
        .distinct()
    )
    assignment = mapping.join(piece_final, "piece").select(
        "vertex", "community"
    )
    assignment = refine_partition(
        edges, assignment.withColumnRenamed("community", "label")
    ).localCheckpoint(eager=True)
    return LouvainResult(
        assignment=assignment,
        levels=lv,
        rounds=rounds_per_level,
        converged=conv_all,
        metrics=all_metrics,
    )
