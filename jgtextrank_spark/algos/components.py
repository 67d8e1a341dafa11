"""Connected components via hash-min label propagation supersteps.

Generalizes the reference's per-component decomposition
(``/root/reference/jgtextrank/core.py:614-642``, which iterates
``nx.connected_components``) into a fixpoint:

    label(v) <- min(label(v), min_{u ~ v} label(u))

until no label changes, with tree hooking and pointer jumping on top
(see ``connected_components_result``). Two solvers run that recurrence,
round for round; ``connected_components_result`` picks one per call.

* **Driver-local** (graphs of at most ``SMALL_GRAPH_LIMIT`` = 200 000
  edges, ``algos/smallgraph.py``): one Arrow job fetches the edge table,
  ids become int64 codes in Spark's sort order, and each round is a few
  ``np.minimum.at`` scatters on the driver — no Spark job inside the
  loop, the way the reference runs one in-process networkx call per
  graph.
* **DataFrame loop** (larger graphs, or a null id): each superstep is one
  join + one aggregation; the adjacency is symmetrized once,
  hash-partitioned by ``src`` and cached, so only the (small) label
  vector shuffles per superstep. Convergence in O(diameter) supersteps
  without the acceleration — for power-law web graphs the effective
  diameter is small (~log N). The alternating large-star/small-star
  contraction (Kiveris et al., "Connected Components in MapReduce and
  Beyond") below converges in O(log^2 N) on adversarial long-chain
  graphs.

Both return the same ``SuperstepResult`` and write and resume the same
checkpoints, so a run checkpointed by one solver resumes on the other.
Component ids are the minimum vertex id in the component (deterministic).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..graph import materialize_input, symmetrize
from ..supersteps import SuperstepResult, run_supersteps
from .smallgraph import label_loop, local_graph

__all__ = [
    "connected_components",
    "connected_components_result",
    "connected_components_star_result",
]


def connected_components_result(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
    checkpoint_every: int = 5,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    accelerated: bool = True,
    init_labels: DataFrame | None = None,
) -> SuperstepResult:
    """``edges`` are undirected rows (any orientation, self-loops ignored).
    Returns state ``(vertex, label)`` where label = min vertex id of the
    component.

    ``init_labels`` (columns ``id, label``) warm-starts the iteration
    from a prior snapshot's component labels — valid for INSERT-ONLY
    deltas (edges/vertices added, none removed), where a prior label is
    guaranteed to name a vertex inside the vertex's current component.
    The prior pairs seed the label state AND join the adjacency as
    virtual ``(vertex, representative)`` star edges (components
    unchanged by the insert-only guarantee, diameters collapsed to 2),
    so a delta run converges in O(1)-ish rounds regardless of component
    diameter instead of re-flooding the whole graph. Prior labels whose
    target vertex no longer exists are DROPPED defensively (that vertex
    falls back to self-labeling), which keeps the output well-formed
    even if the caller violated insert-only — but correctness of the
    warm result is only guaranteed for insert-only history; deletions
    require a cold run.

    ``accelerated=True`` adds tree hooking + pointer jumping to each
    superstep: after the neighbour-min update, the round-start
    representative absorbs the min candidate of its pointers (hook), then
    label(v) <- min(label(v), label(label(v))) (jump). Neighbour-min
    alone converges in O(diameter) supersteps; jumping shortcuts label
    chains, and hooking is what keeps star-to-star MERGES logarithmic —
    without it, a bridge landing mid-chain between two formed stars
    crawls to the representative at one hop per round (measured: 60+
    rounds vs 11 on two bridged 1k-chains).

    Graphs of at most ``SMALL_GRAPH_LIMIT`` edges are solved on the
    driver (see the module docstring)."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # Materialize the NARROW edge projection once, then derive the vertex
    # universe, the warm-start joins and the adjacency from the cache: the
    # input lineage can be an expensive pipeline (dedup_clusters feeds CC
    # the whole MinHash candidate chain, ~10 AQE stages per traversal),
    # and the old setup traversed it 3-4x (vertex union x2, adjacency
    # fill, racing subplan builds in the first round — measured 8.6s ->
    # 3.0s first round on the dedup graph). Unpersisted as soon as the
    # loop's own cached frames (adj, init) are filled.
    ebase = materialize_input(edges, "src", "dst")
    graph = local_graph(ebase, vertices)
    if graph is not None:
        ebase.unpersist()
        return _components_local(
            spark, graph, init_labels, max_iter, checkpoint_every,
            checkpoint_dir, resume, accelerated,
        )
    verts = ebase.select(F.col("src").alias("vertex")).unionByName(
        ebase.select(F.col("dst").alias("vertex"))
    )
    if vertices is not None:
        verts = verts.unionByName(vertices.select(F.col("id").alias("vertex")))

    edge_src = ebase
    if init_labels is None:
        init = verts.distinct().withColumn("label", F.col("vertex"))
    else:
        vl = verts.distinct()
        pri = init_labels.select(
            F.col("id").alias("vertex"), F.col("label").alias("plabel")
        )
        # only prior labels whose TARGET vertex still exists (defensive
        # against deleted representatives) and whose OWNER is in-graph.
        # ONE checkpointed frame carries both (start from vl, so the
        # owner check is by construction; targets are semi-validated
        # first) — init and the virtual star edges are both projections
        # of it, where the old path checkpointed a semi-joined `valid`
        # frame and then a second joined `init` frame (one fewer
        # materialize job at warm-start setup, same row semantics).
        joined = (
            vl.join(
                pri.join(
                    vl.select(F.col("vertex").alias("plabel")),
                    "plabel",
                    "left_semi",
                ),
                "vertex",
                "left",
            )
            .localCheckpoint(eager=True)  # truncate the prior-join lineage
        )
        valid = joined.filter(F.col("plabel").isNotNull())
        init = joined.select(
            "vertex",
            F.least(
                "vertex", F.coalesce("plabel", F.col("vertex"))
            ).alias("label"),
        )
        # the load-bearing half of the warm start: prior (vertex, label)
        # pairs become VIRTUAL EDGES. Insert-only deltas guarantee the
        # prior representative is inside the vertex's current component,
        # so the virtual star edges change no component — but they
        # collapse each prior component's diameter to 2, so a new
        # cross-component edge floods the merged min in O(1) rounds
        # instead of O(graph distance to the representative).
        edge_src = edge_src.unionByName(
            valid.select(
                F.col("vertex").alias("src"), F.col("plabel").alias("dst")
            )
        )

    adj = (
        symmetrize(edge_src.select("src", "dst", F.lit(1.0).alias("weight")))
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_parts, "src")
        .persist()
    )
    # fill the adjacency cache before the loop (the first fused round
    # otherwise reads an unfilled cache from several racing subplans)
    adj.count()
    init = init.persist()
    init.count()
    ebase.unpersist()

    def apply_once(state: DataFrame, prev_col: str) -> DataFrame:
        # ONE hash-min + hook + jump application, broadcast-free (the old
        # plan built four V-sized broadcasts per application — state,
        # nbr_min, hook, parents — each a separate driver job that also
        # re-executed the join chain it hung off; at web scale a V-sized
        # broadcast does not exist at all). The hook is FUSED into a
        # single vertex-keyed aggregation:
        #
        #   label1(v) = min(label(v), min over in-edges label(u))
        #   m(v)      = min(label1(v), min over {w : label(w) = v} label1(w))
        #
        # m(v) is exactly the old label-after-hook (the representative v
        # absorbs the min candidate of its pointers; its own id is
        # redundant since label1(v) <= v), computed by keying each
        # vertex's label1 BOTH by itself and by its round-start
        # representative — one union + one aggregation instead of the old
        # nbr-min agg + hook agg + two join-backs.
        #
        # ``prev_col`` names the input column carried through as the
        # output's prev_label.
        #
        # NOTE (measured, r6): fusing TWO applications into one action
        # (materialize f(f(state)) with the intermediate persisted) was
        # tried and REVERTED: it halves driver round-trips and wins ~16%
        # on the 200k chain, but on small graphs the planner broadcasts
        # several joins whose children all contain the un-materialized
        # intermediate, and the concurrent broadcast builds each
        # recompute its whole subplan — the fused round measured 5x
        # slower (1.3s -> 6-8s) on the 256-edge dedup_clusters graph.
        # One application per materialized round is the robust shape.
        nm = (
            adj.join(
                state.select(F.col("vertex").alias("src"), "label"), "src"
            )
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        l1 = state.join(
            nm, state["vertex"] == nm["dst"], "left"
        ).select(
            "vertex",
            "label",
            F.col(prev_col).alias("_prev"),
            F.least("label", F.coalesce("nbr_label", "label")).alias("l1"),
        )
        if not accelerated:
            return l1.select(
                "vertex",
                F.col("l1").alias("label"),
                F.col("_prev").alias("prev_label"),
            )
        # tree hook (fused, see above). Without it, two already-
        # formed stars bridged by a mid-chain edge merge at ONE hop
        # per round (pointer jumping shortcuts label chains, not
        # star-to-star merges); with it the representative absorbs
        # the bridge's min in one round and the next jump broadcasts
        # it star-wide: O(log) rounds on bridged-star topologies.
        m = (
            l1.select(F.col("vertex").alias("tgt"), "l1")
            .unionByName(
                l1.select(F.col("label").alias("tgt"), "l1")
            )
            .groupBy("tgt")
            .agg(F.min("l1").alias("m"))
        )
        # pointer jumping: label <- min(m, label(m)); prev_label
        # rides the same row via the vertex-keyed state join
        withprev = m.join(
            state.select(
                F.col("vertex"), F.col(prev_col).alias("prev_label")
            ),
            m["tgt"] == F.col("vertex"),
        ).select("vertex", "m", "prev_label")
        parents = state.select(
            F.col("vertex").alias("p_vertex"),
            F.col("label").alias("p_label"),
        )
        return withprev.join(
            parents, withprev["m"] == parents["p_vertex"], "left"
        ).select(
            "vertex",
            F.least("m", F.coalesce("p_label", "m")).alias("label"),
            "prev_label",
        )

    def step(state: DataFrame, it: int) -> tuple[DataFrame, float]:
        new_state = apply_once(state, "label").persist()
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
        label="connected_components",
    )
    adj.unpersist()
    return result


def _components_local(
    spark, graph, init_labels, max_iter, checkpoint_every, checkpoint_dir,
    resume, accelerated,
) -> SuperstepResult:
    """The DataFrame loop's rounds in numpy: the same neighbour-min, hook
    and jump on the same (code-ordered) labels, so every round's labels
    and the round count match it."""
    src, dst = graph.src, graph.dst
    labels = np.arange(graph.n, dtype=np.int64)
    if init_labels is not None:
        # prior labels naming an in-graph vertex seed the state and join
        # the adjacency as virtual (vertex, representative) star edges
        prior = init_labels.select(
            F.col("id").cast(graph.vfield.dataType),
            F.col("label").cast(graph.vfield.dataType),
        ).toArrow()
        owner, has_owner = graph.positions(prior.column(0))
        target, has_target = graph.positions(prior.column(1))
        keep = has_owner & has_target
        np.minimum.at(labels, owner[keep], target[keep])
        src = np.concatenate([src, owner[keep]])
        dst = np.concatenate([dst, target[keep]])
    # symmetrized, self-loops dropped; duplicates are harmless to a min
    loop = src != dst
    a = np.concatenate([src[loop], dst[loop]])
    b = np.concatenate([dst[loop], src[loop]])

    def step(label):
        l1 = label.copy()
        np.minimum.at(l1, b, label[a])  # neighbour-min
        if not accelerated:
            return l1
        # hook: each round-start representative absorbs the min of the
        # vertices pointing at it; then jump: label <- label(label)
        m = l1.copy()
        np.minimum.at(m, label, l1)
        return np.minimum(m, label[m])

    return label_loop(
        spark, graph, labels, step, max_iter, checkpoint_every,
        checkpoint_dir, resume, "connected_components",
        label_nullable=accelerated or graph.vfield.nullable,
    )


def _large_star(E: DataFrame) -> DataFrame:
    """Kiveris large-star: every strictly-larger neighbour of u links to
    min(N(u) + {u}). Input/output: canonical (u < v) distinct edges.

    The per-u minimum is a window over the partition key rather than a
    groupBy+join back: one exchange instead of two per operation —
    measured 33% faster per round on a 100k chain. A join-back would
    co-locate a hub's full neighbour list on one partition anyway (same
    key distribution), so the window adds only a spillable sort there."""
    from pyspark.sql import Window

    nbrs = E.select("u", "v").unionByName(
        E.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    return (
        nbrs.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        # m <= u < v, so (m, v) is already canonical and never a self-loop.
        # No dedup here: small-star's window-min is duplicate-insensitive
        # and its outer distinct dedups the round's output anyway, so the
        # old inner distinct was one pure exchange per round (duplicate
        # rows cannot exceed the canonical edge count — one row per
        # (u, v) input pair survives the filter).
        .select(F.col("m").alias("u"), "v")
    )


def _small_star(E: DataFrame) -> DataFrame:
    """Kiveris small-star: group by the larger endpoint hi; hi and all of
    its smaller neighbours link to their minimum (window-min, as above)."""
    from pyspark.sql import Window

    d = E.select(F.col("v").alias("hi"), F.col("u").alias("lo"))
    w = Window.partitionBy("hi")
    dd = d.withColumn("mn", F.min("lo").over(w))  # mn < hi always
    e1 = dd.filter(F.col("lo") != F.col("mn")).select(
        F.col("mn").alias("u"), F.col("lo").alias("v")  # mn < lo: canonical
    )
    # no inner distinct on e2: the outer distinct subsumes it (one fewer
    # exchange per round)
    e2 = dd.select(F.col("mn").alias("u"), F.col("hi").alias("v"))
    return e1.unionByName(e2).distinct()


def connected_components_star_result(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_every: int = 5,
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> SuperstepResult:
    """Connected components via the alternating large-star/small-star
    edge-contraction algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), converging in O(log^2 n) rounds even on
    adversarial long-chain graphs.

    Unlike hash-min (which re-joins the full O(E) adjacency every
    superstep), each round REWRITES the edge set, which contracts toward
    one star per component — at 10^12 edges the per-round work shrinks
    with the edge set, which is the dominant cost advantage. Per-round
    edge counts are recorded in the metrics rows (``edges`` key).

    Superstep state is the canonical edge set (u < v). Convergence: the
    round leaves the edge set unchanged (count + order-insensitive
    xxhash64 fingerprint, one fused aggregate action per round). Returns
    the final star edges as state ``(u, v)`` — use ``connected_components
    (algorithm='star')`` for the (vertex, component) view."""
    spark = edges.sparkSession
    init = (
        edges.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    fingerprint: dict[str, tuple] = {}
    edge_counts: dict[int, int] = {}

    def step(state: DataFrame, it: int) -> tuple[DataFrame, float]:
        new_E = _small_star(_large_star(state)).persist()
        # order-insensitive fingerprint: count + XOR of row hashes (XOR,
        # unlike sum, cannot overflow under ANSI mode)
        agg = new_E.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        fp = (agg["n"], agg["h"])
        edge_counts[it] = agg["n"] or 0
        changed = fingerprint.get("cur") != fp
        fingerprint["cur"] = fp
        return new_E, 1.0 if changed else 0.0

    result = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=0.0,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        label="cc_star",
    )
    for row in result.metrics:
        if row.get("event") in ("step", "checkpoint"):
            row["edges"] = edge_counts.get(row["iteration"])
    return result


def _star_components(
    edges: DataFrame, star: DataFrame, vertices: DataFrame | None
) -> DataFrame:
    """(vertex, component) from converged star edges + isolated vertices."""
    comp = star.groupBy("v").agg(F.min("u").alias("component"))
    assigned = comp.select(F.col("v").alias("vertex"), "component")
    roots = star.select(F.col("u").alias("vertex")).distinct().join(
        assigned.select("vertex"), "vertex", "left_anti"
    ).withColumn("component", F.col("vertex"))
    verts = edges.select(F.col("src").alias("vertex")).unionByName(
        edges.select(F.col("dst").alias("vertex"))
    )
    if vertices is not None:
        verts = verts.unionByName(vertices.select(F.col("id").alias("vertex")))
    both = assigned.unionByName(roots)
    isolated = (
        verts.distinct()
        .join(both.select("vertex"), "vertex", "left_anti")
        .withColumn("component", F.col("vertex"))
    )
    return both.unionByName(isolated)


def connected_components(
    edges: DataFrame,
    encode_ids: bool = False,
    algorithm: str = "hashmin",
    **kwargs,
) -> DataFrame:
    """DataFrame ``(vertex, component)``.

    ``algorithm``: ``"hashmin"`` (label propagation + pointer jumping,
    O(log diameter) rounds, adjacency static) or ``"star"`` (alternating
    large-star/small-star edge contraction, O(log^2 n) rounds, edge set
    shrinks per round — preferred at extreme edge counts / diameters).
    Both produce identical output (component = min vertex id).

    ``encode_ids=True`` dictionary-encodes string vertex ids to longs
    before the superstep loop (``graph.encode_vertices``) so every
    iteration shuffles 8-byte keys instead of strings, then decodes and
    relabels each component with its minimum *string* vertex — the output
    is identical to the unencoded run, only the loop's shuffle payload
    changes."""
    if algorithm not in ("hashmin", "star"):
        raise ValueError(f"Unknown components algorithm: {algorithm!r}")
    if encode_ids and kwargs.get("vertices") is not None:
        raise ValueError(
            "encode_ids=True requires the vertex universe to come from the "
            "edge table; pass extra isolated vertices through "
            "graph.encode_vertices(extra_vertices=...) manually instead."
        )
    if kwargs.get("init_labels") is not None and (
        encode_ids or algorithm != "hashmin"
    ):
        raise ValueError(
            "init_labels warm start is supported on the plain hashmin "
            "path only (the star path contracts the EDGE set, not the "
            "label state; encoded ids would need dictionary translation)."
        )

    def solve(e: DataFrame) -> DataFrame:
        if algorithm == "star":
            vertices = kwargs.pop("vertices", None)
            res = connected_components_star_result(e, **kwargs)
            return _star_components(e, res.state, vertices)
        res = connected_components_result(e, **kwargs)
        return res.state.select("vertex", F.col("label").alias("component"))

    if not encode_ids:
        return solve(edges)

    from ..graph import encode_vertices

    enc_edges, vdict = encode_vertices(edges)
    cc = solve(enc_edges)
    decoded = cc.join(
        vdict.withColumnRenamed("id", "vertex"), "vertex"
    ).select(F.col("token").alias("v_str"), "component")
    rep = decoded.groupBy("component").agg(F.min("v_str").alias("comp_str"))
    return decoded.join(rep, "component").select(
        F.col("v_str").alias("vertex"), F.col("comp_str").alias("component")
    )
