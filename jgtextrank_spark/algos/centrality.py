"""Degree-family centralities, TeRGraph, k-core, HITS, eigenvector, Katz.

Spark-first re-expressions of the reference solver dispatch
(/root/reference/jgtextrank/core.py:798-856). Semantics notes per op:

* degree_centrality  — nx parity: deg(v)/(N-1), a self-loop adds 2 to deg.
* neighborhood_size  — reference's own op (core.py:688-708): self-loops
  removed, count of distinct neighbours.
* tergraph           — reference's own op (core.py:645-685):
  0 if isolated else log2(1.5 + 1/(n_a + n_t)), n_a = #neighbours (self
  counts once if self-loop), n_t = sum of neighbours' #neighbours.
* coreness           — k-core decomposition by distributed peeling
  (self-loops removed first, mirroring core.py:843-846).
* hits               — nx _hits_python semantics (per-iteration max
  normalization, L1 stop on hubs, final sum normalization); the reference
  averages hubs/authorities per vertex (core.py:813-819, avg_dicts).
* eigenvector / katz — nx pure-python power iterations (L2-normalized /
  alpha*A^T*x+beta with L2 final normalization), L1 stop < N*tol.

All iterative ops run on the superstep harness (checkpoint/resume/metrics);
one-shot ops are single DataFrame programs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import symmetrize
from ..supersteps import run_supersteps

__all__ = [
    "degrees",
    "degree_centrality",
    "neighborhood_size",
    "tergraph",
    "core_numbers",
    "hits",
    "eigenvector_centrality",
    "katz_centrality",
]

# Vertex sets up to this size are broadcast into the DataFrame loop's
# per-superstep joins; larger ones take shuffle joins.
BROADCAST_THRESHOLD = 2_000_000


def _neighbors(edges: DataFrame, keep_self_loops: bool) -> DataFrame:
    """Distinct neighbour pairs (src, dst) of the undirected graph; a
    self-loop contributes (v, v) once when kept."""
    sym = symmetrize(edges.select("src", "dst", F.lit(1.0).alias("weight")))
    nbr = sym.select("src", "dst").distinct()
    if not keep_self_loops:
        nbr = nbr.filter(F.col("src") != F.col("dst"))
    return nbr


def _vertices(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    v = edges.select(F.col("src").alias("vertex")).unionByName(
        edges.select(F.col("dst").alias("vertex"))
    )
    if vertices is not None:
        v = v.unionByName(vertices.select(F.col("id").alias("vertex")))
    return v.distinct()


def degrees(edges: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """nx-parity degree on the undirected multigraph view of the edge table:
    (vertex, deg); self-loops count twice."""
    und = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    ends = und.select(F.col("u").alias("vertex")).unionByName(
        und.select(F.col("v").alias("vertex"))
    )
    deg = ends.groupBy("vertex").agg(F.count(F.lit(1)).alias("deg"))
    return (
        _vertices(edges, vertices)
        .join(deg, "vertex", "left")
        .select("vertex", F.coalesce("deg", F.lit(0)).alias("deg"))
    )


def degree_centrality(
    edges: DataFrame, vertices: DataFrame | None = None,
    directed: bool = False,
) -> DataFrame:
    """(vertex, score) with score = deg/(N-1) (nx.degree_centrality).

    ``directed=True`` matches nx.degree_centrality on the reference's
    ``to_directed()`` reciprocal-arc digraph (in+out degree): a non-self
    edge contributes 2 per endpoint instead of 1, a self-loop still 2 —
    i.e. deg_directed = 2*deg_undirected - 2*[has self-loop]."""
    deg = degrees(edges, vertices).persist()
    n = deg.count()
    scale = 1.0 / (n - 1) if n > 1 else 1.0
    if directed:
        selfs = (
            edges.filter(F.col("src") == F.col("dst"))
            .select(F.col("src").alias("vertex"))
            .distinct()
            .withColumn("has_self", F.lit(1))
        )
        deg = deg.join(selfs, "vertex", "left").select(
            "vertex",
            (
                2 * F.col("deg") - 2 * F.coalesce("has_self", F.lit(0))
            ).alias("deg"),
        )
    out = deg.select(
        "vertex", (F.col("deg") * F.lit(scale)).alias("score")
    )
    return out


def neighborhood_size(
    edges: DataFrame, vertices: DataFrame | None = None
) -> DataFrame:
    """(vertex, score): distinct-neighbour count, self-loops ignored
    (reference compute_neighborhood_size)."""
    nbr = _neighbors(edges, keep_self_loops=False)
    cnt = nbr.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    return (
        _vertices(edges, vertices)
        .join(cnt, F.col("vertex") == F.col("src"), "left")
        .select(
            "vertex",
            F.coalesce("n", F.lit(0)).cast("double").alias("score"),
        )
    )


def tergraph(
    edges: DataFrame, vertices: DataFrame | None = None
) -> DataFrame:
    """(vertex, score): the reference's TeRGraph metric."""
    nbr = _neighbors(edges, keep_self_loops=True).persist()
    n_a = nbr.groupBy("src").agg(F.count(F.lit(1)).alias("n_a"))
    # two-hop: for v, sum over neighbours u of n_a(u)
    n_t = (
        nbr.join(
            n_a.select(F.col("src").alias("dst"), F.col("n_a").alias("na_dst")),
            "dst",
        )
        .groupBy("src")
        .agg(F.sum("na_dst").alias("n_t"))
    )
    joined = (
        _vertices(edges, vertices)
        .join(n_a, F.col("vertex") == n_a["src"], "left")
        .drop("src")
        .join(n_t, F.col("vertex") == n_t["src"], "left")
        .drop("src")
    )
    return joined.select(
        "vertex",
        F.when(
            F.coalesce("n_a", F.lit(0)) == 0, F.lit(0.0)
        )
        .otherwise(
            F.log2(F.lit(1.5) + 1.0 / (F.col("n_a") + F.coalesce("n_t", F.lit(0))))
        )
        .alias("score"),
    )


def core_numbers(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    checkpoint_every: int = 8,
    algorithm: str = "hindex",
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> DataFrame:
    """k-core decomposition: (vertex, core). Self-loops removed first,
    mirroring the reference (core.py:843-846); matches nx.core_number.

    ``algorithm="hindex"`` (default, the scale path): the distributed
    H-operator iteration on the superstep harness — see
    :func:`core_numbers_hindex_result`. ``algorithm="peel"``: k-by-k
    peeling (kept for cross-checking; its round count grows with k_max
    and it runs outside the harness).

    The h-index iteration is monotone from above, so an UNCONVERGED run
    returns core numbers that are only upper bounds (round count is
    O(diameter) — long chains can exceed ``max_iter``). To keep the
    "matches nx.core_number" contract honest, hitting ``max_iter``
    without convergence raises RuntimeError; raise ``max_iter`` or use
    ``algorithm="peel"`` (exact regardless of diameter) in that case."""
    if algorithm == "hindex":
        res = core_numbers_hindex_result(
            edges,
            vertices,
            max_iter=max_iter,
            checkpoint_every=checkpoint_every,
            checkpoint_dir=checkpoint_dir,
            resume=resume,
        )
        if not res.converged:
            raise RuntimeError(
                f"core_numbers(algorithm='hindex') hit max_iter={max_iter} "
                "without converging; the h-values are upper bounds, not "
                "core numbers. Increase max_iter (round count is "
                "O(diameter)) or use algorithm='peel'."
            )
        # int core numbers, matching the peeling path's output schema
        return res.state.select(
            "vertex", F.col("h").cast("int").alias("core")
        )
    if algorithm != "peel":
        raise ValueError(f"unknown core_numbers algorithm: {algorithm!r}")
    return _core_numbers_peel(edges, vertices, checkpoint_every)


def core_numbers_hindex_result(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 200,
    checkpoint_every: int = 8,
    checkpoint_dir: str | None = None,
    resume: bool = True,
):
    """Core numbers via the distributed h-index iteration (Lü et al. 2016:
    repeatedly replacing h(v), initialized to deg(v), with the H-operator
    over the neighbours' h-values converges to the core numbers) on the
    superstep harness — checkpoint/resume/metrics for free, and a
    constant per-round plan shape instead of peeling's O(k_max + rounds)
    driver loop.

    Per superstep (state = (vertex, h)):

    1. join h onto the u-partitioned adjacency (adj cached partitioned by
       ``u``, so only the small state shuffles),
    2. ``groupBy(v, h_u)`` with map-side combine — the one edge-sized
       exchange, compressed to distinct neighbour-values per vertex,
    3. join h(v) on ``v`` and compute the H-operator with ONE cumulative
       window over the compressed rows: sorted by h_u desc,
       h_new = max(min(h_u, h_v, #neighbours with value >= h_u)) — the
       h_v clip folds ties above h(v) without a re-aggregation, and the
       final groupBy reuses the window's v-partitioning (no extra
       exchange). Hub skew is bounded: window rows per vertex <= distinct
       neighbour h-values, not degree.

    Convergence: h is monotone non-increasing; stop when no vertex
    changes. Round count is O(graph diameter) in the worst case (path
    graphs: the endpoint h=1 propagates one hop per round) and a handful
    in practice on power-law web graphs. Returns the SuperstepResult with
    state (vertex, h) (+ a ``prev`` bookkeeping column)."""
    from pyspark.sql import Window

    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    adj = (
        und.select(F.col("a").alias("v"), F.col("b").alias("u"))
        .unionByName(und.select(F.col("b").alias("v"), F.col("a").alias("u")))
        .repartition(n_parts, "u")
        .persist()
    )
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("h"))
    verts = _vertices(edges, vertices).persist()
    # frontier/candidate sets are broadcast only while the vertex set is
    # broadcastable; above the threshold the joins fall back to AQE's
    # runtime choice (a shrinking frontier still converts to broadcast
    # at runtime once it is small enough)
    n_verts = verts.count()
    bcast = n_verts <= BROADCAST_THRESHOLD

    def _b(df):
        return F.broadcast(df) if bcast else df

    init = (
        verts
        .join(deg.select(F.col("v").alias("vertex"), "h"), "vertex", "left")
        .select(
            "vertex",
            F.coalesce("h", F.lit(0)).cast("long").alias("h"),
            # sentinel prev: every vertex counts as "changed" entering
            # round 1, so the first round recomputes everybody (exactly
            # the old full-recompute behaviour)
            F.lit(-1).cast("long").alias("prev"),
        )
    )

    # previous round's changed-vertex count, threaded driver-side so the
    # step can pick full vs frontier recomputation (both produce
    # bit-identical h values; this is purely a cost decision)
    last_changed: dict[str, float] = {}

    def step(state: DataFrame, it: int) -> tuple[DataFrame, float]:
        # ACTIVE-FRONTIER recomputation: h(v) can only change in this
        # round if one of its H-operator inputs changed last round — its
        # own h (the clip) or a neighbour's h. Restricting the recompute
        # to changed ∪ neighbours(changed) leaves every per-round h value
        # bit-identical (a vertex with unchanged inputs recomputes to the
        # same h), while late rounds — where only a residue of vertices
        # still moves — shrink from O(E) joined rows to O(edges touching
        # the frontier). Guide §2.3: shuffle fewer bytes. While the
        # frontier is still a sizable fraction of V (early rounds), the
        # candidate discovery + semi-join cost MORE than they save
        # (measured +12% on the 2M-edge bench with frontier-always), so
        # the full recompute runs until the changed count drops below
        # a few hundred vertices (the long-tail regime where the
        # frontier's asymptotic advantage is unconditional — per-round
        # walls show frontier rounds only undercut the slimmed full
        # recompute once the residue is ~0.25% of V at bench scale).
        frontier = (
            last_changed.get("n") is not None
            and last_changed["n"] * 400 < last_changed.get("v", 0)
        )
        hu = state.select(F.col("vertex").alias("u"), F.col("h").alias("h_u"))
        hv = state.select(F.col("vertex").alias("v"), F.col("h").alias("h_v"))
        if frontier:
            chg = state.filter(F.col("h") != F.col("prev"))
            cand = (
                adj.join(_b(chg.select(F.col("vertex").alias("u"))), "u")
                .select("v")
                .unionByName(chg.select(F.col("vertex").alias("v")))
                .distinct()
            )
            msgs = adj.join(_b(cand), "v", "semi")
        else:
            msgs = adj
        # one explicit exchange by v; the groupBy(v, h_u), the cumulative
        # window and the final groupBy(v) all reuse it (hash partitioning
        # on v satisfies their clustering requirements) — the old plan
        # exchanged separately for the (v, h_u) aggregation and the
        # window
        grp = (
            msgs
            .join(hu, "u")
            .repartition(n_parts, "v")
            .groupBy("v", "h_u")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        w = (
            Window.partitionBy("v")
            .orderBy(F.col("h_u").desc())
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        hnew = (
            grp.join(hv, "v")
            .select(
                "v",
                F.least(
                    F.least("h_u", "h_v"), F.sum("n").over(w)
                ).alias("k"),
            )
            .groupBy("v")
            .agg(F.max("k").alias("h_new"))
        )
        new_state = state.join(
            hnew, state["vertex"] == hnew["v"], "left"
        ).select(
            "vertex",
            # frontier semantics: an un-recomputed vertex KEEPS its h
            # (its inputs did not change); a recomputed vertex with no
            # neighbours keeps h too (h=0 from init, the old coalesce-0)
            F.coalesce("h_new", state["h"]).cast("long").alias("h"),
            state["h"].alias("prev"),
        )
        new_state = new_state.persist()
        changed = new_state.agg(
            F.sum(
                F.when(F.col("h") != F.col("prev"), 1).otherwise(0)
            ).alias("c")
        ).collect()[0]["c"]
        last_changed["n"] = float(changed or 0)
        last_changed["v"] = float(n_verts)
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
        label="core_numbers_hindex",
    )
    adj.unpersist()
    verts.unpersist()
    return result


def _core_numbers_peel(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    checkpoint_every: int = 8,
) -> DataFrame:
    """k-core decomposition by distributed peeling: (vertex, core).

    Round structure: for k = 0, 1, 2, ... repeatedly delete vertices whose
    current degree <= k, assigning them core number k, until the remaining
    minimum degree exceeds k. Work per inner round is one degree agg + one
    semi-join; the edge set only shrinks. Matches nx.core_number on the
    simple graph with self-loops removed (the reference removes them
    explicitly, core.py:843-846).
    """
    spark = edges.sparkSession
    remaining = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_verts = _vertices(edges, vertices).persist()
    live_verts = all_verts.localCheckpoint(eager=True)
    assigned = []  # DataFrames of (vertex, core)

    k = 0
    while True:
        deg = (
            remaining.select(F.col("u").alias("vertex"))
            .unionByName(remaining.select(F.col("v").alias("vertex")))
            .groupBy("vertex")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # vertices absent from remaining edges have degree 0
        deg_full = (
            live_verts.join(deg, "vertex", "left")
            .select("vertex", F.coalesce("deg", F.lit(0)).alias("deg"))
            .localCheckpoint(eager=True)  # truncate lineage EVERY round —
            # the peeling loop otherwise re-analyzes a growing plan chain
        )
        stats = deg_full.agg(
            F.sum(F.when(F.col("deg") <= k, 1).otherwise(0)).alias("n_peel"),
            F.count(F.lit(1)).alias("n_live"),
        ).collect()[0]
        if (stats["n_live"] or 0) == 0:
            break
        if (stats["n_peel"] or 0) == 0:
            k += 1
            continue
        to_peel = deg_full.filter(F.col("deg") <= k).select("vertex")
        assigned.append(
            to_peel.withColumn("core", F.lit(k)).localCheckpoint(eager=True)
        )
        remaining = (
            remaining.join(
                to_peel, remaining["u"] == to_peel["vertex"], "left_anti"
            )
            .join(to_peel, remaining["v"] == to_peel["vertex"], "left_anti")
            .localCheckpoint(eager=True)
        )
        live_verts = live_verts.join(
            to_peel, "vertex", "left_anti"
        ).localCheckpoint(eager=True)

    if not assigned:
        return all_verts.withColumn("core", F.lit(0))
    out = assigned[0]
    for df in assigned[1:]:
        out = out.unionByName(df)
    return out


def hits(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 100,
    tol: float = 1.0e-8,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """HITS hubs/authorities: (vertex, hub, authority).

    nx _hits_python parity. ``edges`` directed; pass symmetrize(...) for the
    undirected co-occurrence graph.

    Convergence is detected with a ONE-SUPERSTEP LAG (the price of the
    fused single-aggregate superstep): scores still match nx exactly, but
    a run that would converge precisely at ``max_iter`` is reported
    ``converged=False`` in the metrics, and every converged run spends
    one extra superstep whose map work is discarded — pass ``max_iter+1``
    if the flag itself matters at the boundary.
    """
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adj = (
        edges.select("src", "dst", F.col("weight").cast("double").alias("w"))
        .repartition(n_parts, "src")
        .persist()
    )
    verts = _vertices(edges, vertices).persist()
    n = verts.count()
    if n == 0:
        return verts.select(
            "vertex", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    init = verts.select(
        "vertex",
        F.lit(1.0 / n).alias("hub"),
        F.lit(0.0).alias("authority"),
        F.lit(1.0 / n).alias("prev_hub"),
    )

    # One fused aggregate action per superstep (like pagerank's fused
    # delta+dangle agg): max-normalization scalars for the NEW state and
    # the L1 convergence error of the INPUT state vs its predecessor come
    # out of a single agg over the joined raw scores. Convergence is thus
    # detected with a one-superstep lag; on detection the step returns the
    # INPUT state — exactly the state nx's _hits_python breaks with, so
    # parity is unchanged (one superstep of map work is discarded).
    scratch: dict[str, DataFrame] = {}

    def step(state: DataFrame, it: int):
        if "joined" in scratch:  # previous round's scratch, now checkpointed
            scratch.pop("joined").unpersist()
        hubs = state.select(F.col("vertex").alias("src"), "hub")
        a_raw = (
            adj.join(hubs, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("hub")).alias("a"))
        )
        auth = verts.join(a_raw, F.col("vertex") == F.col("dst"), "left").select(
            "vertex", F.coalesce("a", F.lit(0.0)).alias("a")
        )
        h_raw = (
            adj.join(
                auth.select(F.col("vertex").alias("dst"), "a"), "dst"
            )
            .groupBy("src")
            .agg(F.sum(F.col("w") * F.col("a")).alias("h"))
        )
        joined = (
            state.select("vertex", "hub", "prev_hub")
            .join(h_raw, F.col("vertex") == h_raw["src"], "left")
            .drop("src")
            .join(
                auth.select(F.col("vertex").alias("av"), "a"),
                F.col("vertex") == F.col("av"),
            )
            .select(
                "vertex",
                F.coalesce("h", F.lit(0.0)).alias("h"),
                "a",
                F.col("hub").alias("cur_hub"),
                "prev_hub",
            )
            .persist()
        )
        m = joined.agg(
            F.max("h").alias("hmax"),
            F.max("a").alias("amax"),
            F.sum(F.abs(F.col("cur_hub") - F.col("prev_hub"))).alias("err"),
        ).collect()[0]
        err = float("inf") if it == 1 else float(m["err"] or 0.0)
        if err <= tol:
            joined.unpersist()
            return state, err  # input state IS the converged one
        hmax = m["hmax"] or 1.0
        amax = m["amax"] or 1.0
        scratch["joined"] = joined
        new_state = joined.select(
            "vertex",
            (F.col("h") / F.lit(hmax)).alias("hub"),
            (F.col("a") / F.lit(amax)).alias("authority"),
            F.col("cur_hub").alias("prev_hub"),
        )
        return new_state, err

    result = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=tol,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        label="hits",
    )
    if "joined" in scratch:
        scratch.pop("joined").unpersist()
    state = result.state.persist()
    sums = state.agg(
        F.sum("hub").alias("hs"), F.sum("authority").alias("as_")
    ).collect()[0]
    hs = sums["hs"] or 1.0
    as_ = sums["as_"] or 1.0
    out = state.select(
        "vertex",
        (F.col("hub") / F.lit(hs)).alias("hub"),
        (F.col("authority") / F.lit(as_)).alias("authority"),
    )
    adj.unpersist()
    verts.unpersist()
    return out


def eigenvector_centrality(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 100,
    tol: float = 1.0e-6,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """nx.eigenvector_centrality parity: x' = x + A^T x, L2-normalized,
    stop when L1 change < N*tol. (vertex, score). ``edges`` directed."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adj = (
        edges.select("src", "dst", F.col("weight").cast("double").alias("w"))
        .repartition(n_parts, "src")
        .persist()
    )
    verts = _vertices(edges, vertices).persist()
    n = verts.count()
    init = verts.select("vertex", F.lit(1.0 / n).alias("x"))

    def step(state: DataFrame, it: int):
        msgs = (
            adj.join(state.select(F.col("vertex").alias("src"), "x"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("x")).alias("m"))
        )
        raw = (
            state.select("vertex", F.col("x").alias("prev"))
            .join(msgs, F.col("vertex") == F.col("dst"), "left")
            .select(
                "vertex",
                (F.col("prev") + F.coalesce("m", F.lit(0.0))).alias("y"),
                "prev",
            )
            .persist()
        )
        norm = raw.agg(
            F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("nrm")
        ).collect()[0]["nrm"]
        norm = norm if norm else 1.0
        new_state = raw.select(
            "vertex", (F.col("y") / F.lit(norm)).alias("x"), "prev"
        ).persist()
        err = new_state.agg(
            F.sum(F.abs(F.col("x") - F.col("prev"))).alias("e")
        ).collect()[0]["e"]
        raw.unpersist()
        return new_state.select("vertex", "x"), float(err)

    result = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=n * tol,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        label="eigenvector",
    )
    adj.unpersist()
    verts.unpersist()
    return result.state.select("vertex", F.col("x").alias("score"))


def katz_centrality(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 1000,
    tol: float = 1.0e-6,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """nx.katz_centrality parity: x' = alpha * A^T x + beta, stop when
    L1 change < N*tol, then L2-normalize * sqrt(N)... (nx normalizes by
    s = 1/sqrt(sum x^2)). (vertex, score). ``edges`` directed."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    adj = (
        edges.select("src", "dst", F.col("weight").cast("double").alias("w"))
        .repartition(n_parts, "src")
        .persist()
    )
    verts = _vertices(edges, vertices).persist()
    n = verts.count()
    init = verts.select("vertex", F.lit(0.0).alias("x"))

    def step(state: DataFrame, it: int):
        msgs = (
            adj.join(state.select(F.col("vertex").alias("src"), "x"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("x")).alias("m"))
        )
        new_state = (
            state.select("vertex", F.col("x").alias("prev"))
            .join(msgs, F.col("vertex") == F.col("dst"), "left")
            .select(
                "vertex",
                (
                    F.lit(alpha) * F.coalesce("m", F.lit(0.0)) + F.lit(beta)
                ).alias("x"),
                "prev",
            )
            .persist()
        )
        err = new_state.agg(
            F.sum(F.abs(F.col("x") - F.col("prev"))).alias("e")
        ).collect()[0]["e"]
        return new_state.select("vertex", "x"), float(err)

    result = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=n * tol,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        label="katz",
    )
    state = result.state.persist()
    ssum = state.agg(F.sum(F.col("x") * F.col("x")).alias("s")).collect()[0][
        "s"
    ]
    s = 1.0 / math.sqrt(ssum) if ssum else 1.0
    out = state.select("vertex", (F.col("x") * F.lit(s)).alias("score"))
    adj.unpersist()
    verts.unpersist()
    return out
