"""Weighted PageRank with exact networkx power-iteration semantics.

The reference ranks vertices with ``nx.pagerank(G, weight='weight',
max_iter=100, tol=1e-6)`` (``/root/reference/jgtextrank/core.py:798-799``).
networkx (>=3.0, scipy path) computes:

    A   : weighted adjacency, row-normalized by weighted out-degree
    x0  = p = uniform 1/N
    x'  = alpha * (x @ A + sum(x[dangling]) * p) + (1 - alpha) * p
    stop when  sum(|x' - x|) < N * tol

Two solvers run that recurrence; ``pagerank_result`` picks one per call.

* **Driver-local** (graphs of at most ``SMALL_GRAPH_LIMIT`` = 200 000
  edges): ``smallgraph.local_graph`` fetches the edge table in one Arrow
  job (the fetch components, label propagation and triangle counting
  share) and each superstep is an ``np.bincount`` over ``dst`` on the
  driver — no Spark job inside the loop. Per-document co-occurrence graphs and most host graphs land
  here, which is how the reference scores them too (one in-process
  ``nx.pagerank`` per graph). On a 4-core host one Spark job costs
  0.1-0.3 s, so the job-per-superstep loop spends most of its time in
  scheduling on such graphs.
* **DataFrame loop** (larger graphs): one DataFrame job per superstep.
  ``norm_edges`` (src, dst, w/outdeg(src)) is computed once,
  hash-partitioned by ``src`` and cached — each superstep shuffles only
  the rank vector to the adjacency partitions (ranks are O(V), edges
  O(E) stay put). Dangling mass and the L1 convergence delta are fused
  into a single aggregate over the new state, so each superstep is
  exactly one action.

Both return the same ``SuperstepResult`` (state ``vertex, dangling, rank,
prev_rank`` plus ``pv`` when personalized; the driver solve also hands
back its Arrow ``table``) and write and resume the same checkpoints
through ``supersteps.write_checkpoint`` / ``read_checkpoint``, so a run
checkpointed by one solver resumes on the other. The driver solve writes
and reads its checkpoints on the driver, with no Spark job.

For undirected graphs pass ``graph.symmetrize(edges)`` — matching how
networkx treats an undirected graph (each edge in both directions,
self-loops once).
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..supersteps import (
    SuperstepResult,
    read_checkpoint,
    run_supersteps,
    write_checkpoint,
)
from .smallgraph import local_graph

__all__ = ["pagerank", "pagerank_result", "trustrank", "spam_mass"]

# Vertex sets up to this size are broadcast into the DataFrame loop's
# per-superstep joins; larger ones take shuffle joins.
BROADCAST_THRESHOLD = 2_000_000


def pagerank_result(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1.0e-6,
    weight_col: str = "weight",
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    salt_buckets: int = 0,
    personalization: DataFrame | None = None,
    init_scores: DataFrame | None = None,
) -> tuple[SuperstepResult, int]:
    """Run PageRank, returning the full superstep result (state has columns
    ``vertex, rank, dangling, prev_rank``) plus N. ``edges`` are directed
    ``(src, dst, weight)``; ``vertices`` (one column ``id``) may add
    isolated vertices beyond those present in edges.

    ``personalization`` (columns ``id, weight``) makes it topic-sensitive
    PageRank with nx semantics: the teleport AND the dangling-mass
    redistribution follow the normalized weight vector instead of 1/n
    (vertices absent from the table get weight 0 — they receive rank
    only through links; ids absent from the GRAPH are ignored and do not
    enter the normalization sum, exactly as networkx builds p over its
    nodelist). The per-vertex weight rides the state as a
    column, so the superstep plan shape is unchanged: no extra join, the
    same single fused delta+dangle action.

    ``init_scores`` (columns ``id, rank``) warm-starts the power
    iteration from a prior run's scores (incremental recomputation after
    a crawl delta — see weblinks edge_diff): the fixpoint is unchanged,
    convergence just starts closer, so fewer supersteps. Missing ids get
    the uniform prior; the seed vector is renormalized to sum 1.

    ``salt_buckets > 0`` enables the explicit skew path for extreme hubs
    (SURVEY §4.2.2-4.2.3; degree >> E/partitions, e.g. 10^8-in-degree
    vertices in web graphs):

    * the cached adjacency is partitioned by ``(src, hash(dst) % S)``
      instead of ``src`` alone, so a hot *source* vertex's edges spread
      over S partitions; in the broadcast-rank regime the per-superstep
      contrib join stays map-only, so no partition sees more than ~1/S of
      a hub's edges (a straggler killer that AQE cannot fix for a cached,
      already-partitioned input);
    * contribution aggregation becomes an explicit two-stage
      ``(dst, hash(src) % S) -> dst`` tree: stage one bounds any single
      reducer partition to ~1/S of a hot *destination*'s messages, stage
      two merges S partials per dst. This does not rely on map-side
      partial aggregation staying effective (it degrades once the
      per-partition distinct-dst set blows the hash-agg budget and rows
      spill sorted).

    Sums are reassociated only (same addends per dst), so scores are
    bit-identical modulo float addition order — tests assert 1e-12
    agreement with the unsalted path and 1e-6 vs the oracle.

    Graphs of at most ``SMALL_GRAPH_LIMIT`` edges are solved on the
    driver (see the module docstring); ``salt_buckets`` shapes only the
    DataFrame loop and is ignored there."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # one traversal of the (possibly expensive) input lineage: the vertex
    # union, the out-degree aggregate and the normalized adjacency below
    # all derive from this narrow cached projection instead of each
    # re-running the upstream pipeline (link extraction / tokenizer /
    # candidate generation). No-op when the caller already persisted the
    # edge table. Unpersisted once verts + norm_edges are filled.
    from ..graph import materialize_input

    ebase = materialize_input(edges, "src", "dst", weight_col)

    graph = _local_graph(ebase, vertices, weight_col)
    if graph is not None:
        ebase.unpersist()
        return _pagerank_local(
            spark, *graph, alpha, max_iter, tol, personalization,
            init_scores, checkpoint_every, checkpoint_dir, resume,
        )

    edge_ids = ebase.select(F.col("src").alias("id")).unionByName(
        ebase.select(F.col("dst").alias("id"))
    )
    if vertices is not None:
        edge_ids = edge_ids.unionByName(vertices.select("id"))
    verts = edge_ids.distinct()

    out_deg = ebase.groupBy("src").agg(F.sum(weight_col).alias("out_w"))

    verts = verts.join(
        out_deg.select(F.col("src").alias("id")).withColumn(
            "has_out", F.lit(True)
        ),
        "id",
        "left",
    ).select(
        F.col("id").alias("vertex"),
        F.coalesce("has_out", F.lit(False)).alias("has_out"),
    )
    if personalization is not None:
        # nx semantics: the vector is normalized over IN-GRAPH ids only
        # (networkx builds p over its nodelist, so weights of ids absent
        # from the graph never enter p.sum()). Restricting BEFORE the sum
        # keeps plain/encoded/nx identical even with out-of-graph ids.
        pmatched = personalization.select(
            F.col("id").alias("vertex"),
            F.col("weight").cast("double").alias("pw"),
        ).join(verts.select("vertex"), "vertex")
        psum = pmatched.agg(F.sum("pw").alias("s")).collect()[0]["s"]
        if not psum or psum <= 0:
            raise ValueError(
                "personalization weights (over ids present in the graph) "
                "must sum > 0"
            )
        verts = verts.join(
            pmatched.select(
                "vertex", (F.col("pw") / F.lit(psum)).alias("pv")
            ),
            "vertex",
            "left",
        ).select(
            "vertex", "has_out", F.coalesce("pv", F.lit(0.0)).alias("pv")
        )
    verts = verts.persist()
    n = verts.count()

    # Rank vectors far smaller than the adjacency are broadcast into both
    # per-superstep joins: each superstep becomes map-only over the cached
    # edge partitions (no shuffle at all). Above the threshold, shuffle
    # joins against the pre-partitioned adjacency take over.
    bcast = n <= BROADCAST_THRESHOLD

    norm_edges = ebase.join(out_deg, "src").select(
        "src",
        "dst",
        (F.col(weight_col).cast("double") / F.col("out_w")).alias("nw"),
    )
    if salt_buckets > 0 and bcast:
        # hot-SOURCE spreading is only sound in the broadcast regime
        # (map-only contrib join). In the shuffle-join regime the plain
        # (src) partitioning is load-bearing: the per-superstep join on
        # src reuses the cached exchange, and (src, salt) partitioning
        # would force a full O(E) re-shuffle every superstep — strictly
        # worse than the skew it mitigates. There, salting applies to
        # the two-stage aggregation only (below).
        norm_edges = norm_edges.withColumn(
            "salt", F.pmod(F.xxhash64("dst"), F.lit(salt_buckets))
        ).repartition(n_parts, "src", "salt")
    else:
        norm_edges = norm_edges.repartition(n_parts, "src")
    norm_edges = norm_edges.persist()
    norm_edges.count()  # materialize adjacency once
    ebase.unpersist()   # verts + norm_edges now hold everything the loop needs

    if n == 0:
        empty = verts.select(
            F.col("vertex"),
            F.lit(0.0).alias("rank"),
            F.lit(False).alias("dangling"),
        )
        return SuperstepResult(empty, 0, True, []), 0

    if init_scores is None:
        init = verts.select(
            "vertex",
            F.lit(1.0 / n).alias("rank"),  # nx starts uniform, even pers.
            (~F.col("has_out")).alias("dangling"),
            *([F.col("pv")] if personalization is not None else []),
        )
    else:
        # Warm start (incremental recomputation on crawl deltas): seed
        # the iteration from a prior run's scores. Vertices absent from
        # the prior snapshot get the uniform 1/n prior; the whole vector
        # is then renormalized to sum 1 so convergence lands on the SAME
        # fixpoint as a cold start (the stationary distribution is
        # init-independent) — only the superstep count changes. The
        # normalizer is one extra action at startup, not per superstep.
        seeded = verts.join(
            init_scores.select(
                F.col("id").alias("vertex"),
                F.col("rank").cast("double").alias("r0"),
            ),
            "vertex",
            "left",
        ).select(
            "vertex",
            "has_out",
            F.coalesce("r0", F.lit(1.0 / n)).alias("r0"),
            *([F.col("pv")] if personalization is not None else []),
        )
        rsum = seeded.agg(F.sum("r0").alias("s")).collect()[0]["s"]
        if not rsum or rsum <= 0:
            raise ValueError("init_scores must have positive total mass")
        init = seeded.select(
            "vertex",
            (F.col("r0") / F.lit(rsum)).alias("rank"),
            (~F.col("has_out")).alias("dangling"),
            *([F.col("pv")] if personalization is not None else []),
        ).localCheckpoint(eager=True)  # truncate the prior-join lineage

    def _b(df):
        return F.broadcast(df) if bcast else df

    # dangle mass of the *current* state, threaded between supersteps so
    # each superstep needs only one action (the fused delta+dangle agg).
    dangle_cache: dict[int, float] = {}

    def step(state: DataFrame, it: int) -> tuple[DataFrame, float]:
        if "cur" not in dangle_cache:
            row = state.agg(
                F.sum(F.when(F.col("dangling"), F.col("rank"))).alias("d")
            ).collect()[0]
            dangle_cache["cur"] = row["d"] or 0.0
        dangle_sum = dangle_cache["cur"]

        msgs = norm_edges.join(
            _b(state.select(F.col("vertex").alias("src"), "rank")), "src"
        )
        if salt_buckets > 0:
            # explicit two-stage tree aggregation: partials keyed by
            # (dst, hash(src) % S) bound any one reducer partition to
            # ~1/S of a hot destination's messages, then S partials merge.
            partial = msgs.withColumn(
                "rsalt", F.pmod(F.xxhash64("src"), F.lit(salt_buckets))
            ).groupBy("dst", "rsalt").agg(
                F.sum(F.col("nw") * F.col("rank")).alias("pcontrib")
            )
            contribs = partial.groupBy("dst").agg(
                F.sum("pcontrib").alias("contrib")
            )
        else:
            contribs = msgs.groupBy("dst").agg(
                F.sum(F.col("nw") * F.col("rank")).alias("contrib")
            )
        if personalization is None:
            base = F.lit(alpha * dangle_sum / n + (1.0 - alpha) / n)
            carry = []
        else:
            # teleport + dangling mass both follow p(v):
            # alpha*dangle*p + (1-alpha)*p = (alpha*dangle + 1-alpha)*p
            base = F.lit(alpha * dangle_sum + (1.0 - alpha)) * F.col("pv")
            carry = [F.col("pv")]
        # NOTE (measured, this round): fusing the contribution aggregation
        # into the state update (state rows unioned into the message
        # groupBy, dangling/prev_rank carried through max()) looked like
        # it should save the per-superstep contribs join-back, but at the
        # 30M-edge bench scale it ran 2-3x SLOWER per superstep: the
        # per-partition hash-agg buffer for ~1M distinct dsts per task is
        # already at the spill edge with one double-sized sum, and the
        # extra carried buffers pushed the partial aggregation into
        # sort-based fallback. The narrow groupBy(dst) + join-back below
        # is the right shape; keep the contribution aggregation's agg
        # buffer to exactly one double.
        new_state = (
            state.select(
                "vertex", "dangling", F.col("rank").alias("prev_rank"),
                *carry,
            )
            .join(_b(contribs), F.col("vertex") == F.col("dst"), "left")
            .select(
                "vertex",
                "dangling",
                (
                    F.lit(alpha) * F.coalesce("contrib", F.lit(0.0))
                    + base
                ).alias("rank"),
                "prev_rank",
                *carry,
            )
        )
        # persist BEFORE the agg action so the state is computed once; the
        # harness's persist() of the returned df is then a no-op.
        new_state = new_state.persist()
        agg = new_state.agg(
            F.sum(F.abs(F.col("rank") - F.col("prev_rank"))).alias("delta"),
            F.sum(F.when(F.col("dangling"), F.col("rank"))).alias("dangle"),
        ).collect()[0]
        dangle_cache["cur"] = agg["dangle"] or 0.0
        return new_state, float(agg["delta"])

    result = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=n * tol,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        label="pagerank",
    )
    verts.unpersist()
    norm_edges.unpersist()
    return result, n


def _local_graph(
    ebase: DataFrame, vertices: DataFrame | None, weight_col: str
):
    """The graph for the local solve: ``(graph, nw, dangling)`` with
    ``nw`` the out-degree-normalized edge weights. None when the graph
    takes the DataFrame loop: ``local_graph`` declines it, or a source's
    out-weights sum to zero (the loop divides by it, which raises under
    ANSI)."""
    graph = local_graph(ebase, vertices, weight_col)
    if graph is None:
        return None
    # F.sum skips null weights, so a null weight contributes nothing
    w = graph.weight.fill_null(0.0).to_numpy()
    normalized = _normalize(graph.src, w, graph.n)
    return None if normalized is None else (graph, *normalized)


def _normalize(src: np.ndarray, w: np.ndarray, n: int):
    """``(nw, dangling)``: edge weights divided by their source's
    out-weight, and the mask of vertices without out-edges. None when a
    source's out-weights sum to zero."""
    out_w = np.bincount(src, weights=w, minlength=n)
    if (out_w[src] == 0).any():
        return None
    dangling = np.ones(n, dtype=bool)
    dangling[src] = False
    return w / out_w[src], dangling


def _power_steps(src, dst, nw, dangling, x, alpha, pv=None):
    """networkx's PageRank recurrence from ``x``, one superstep per
    ``next()``: yields ``(prev, x, delta)`` with ``delta`` the L1 change;
    the caller decides when to stop. Edges are summed in ``(dst, src)``
    order, so the scores do not depend on the order Spark returned the
    edge rows in."""
    order = np.lexsort((src, dst))
    src, dst, nw = src[order], dst[order], nw[order]
    n = len(x)
    while True:
        prev = x
        dangle = prev[dangling].sum()
        if pv is None:
            base = alpha * dangle / n + (1.0 - alpha) / n
        else:
            base = (alpha * dangle + (1.0 - alpha)) * pv
        x = alpha * np.bincount(dst, weights=nw * prev[src], minlength=n)
        x += base
        yield prev, x, float(np.abs(x - prev).sum())


def pagerank_local_scores(
    src: np.ndarray,
    dst: np.ndarray,
    n: int,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1.0e-6,
) -> np.ndarray:
    """PageRank of an unweighted directed graph already on the driver
    (``src``/``dst`` codes into ``n`` vertices): the local solve's
    recurrence from the uniform vector, with its ``N*tol`` stopping
    rule."""
    if n == 0:
        return np.empty(0)
    nw, dangling = _normalize(src, np.ones(len(src)), n)
    x = np.full(n, 1.0 / n)
    steps = _power_steps(src, dst, nw, dangling, x, alpha)
    for _ in range(max_iter):
        _, x, delta = next(steps)
        if delta <= n * tol:
            break
    return x


def _state_table(ids, vfield, dangling, rank, prev_rank, pv):
    """The solver state as ``(Arrow table, Spark schema)``, with the
    DataFrame loop's column order and nullability so both solvers write
    identical checkpoint schemas."""
    fields = [
        T.StructField("vertex", vfield.dataType, vfield.nullable),
        T.StructField("dangling", T.BooleanType(), False),
        T.StructField("rank", T.DoubleType(), False),
        T.StructField("prev_rank", T.DoubleType(), False),
    ]
    cols = [ids, dangling, rank, prev_rank]
    if pv is not None:
        fields.append(T.StructField("pv", T.DoubleType(), False))
        cols.append(pv)
    table = pa.table(cols, names=[f.name for f in fields])
    return table, T.StructType(fields)


def _pagerank_local(
    spark, graph, nw, dangling, alpha, max_iter, tol, personalization,
    init_scores, checkpoint_every, checkpoint_dir, resume,
) -> tuple[SuperstepResult, int]:
    """The DataFrame loop's recurrence, superstep for superstep, in numpy
    on the driver. Same stopping rule (L1 delta <= N*tol), same metrics
    rows, same checkpoint files, written and read on the driver."""
    ids, vfield, src, dst, n = (
        graph.ids, graph.vfield, graph.src, graph.dst, graph.n
    )
    vtype = vfield.dataType

    pv = None
    if personalization is not None:
        p = personalization.select(
            F.col("id").cast(vtype), F.col("weight").cast("double")
        ).toArrow()
        pos, found = graph.positions(p.column(0))
        pw = p.column(1).fill_null(0.0).to_numpy()
        pv = np.bincount(pos[found], weights=pw[found], minlength=n)
        psum = pv.sum()
        if not psum or psum <= 0:
            raise ValueError(
                "personalization weights (over ids present in the graph) "
                "must sum > 0"
            )
        pv = pv / psum

    def result(it, converged, metrics, *state):
        table, schema = _state_table(ids, vfield, *state, pv)
        frame = spark.createDataFrame(table, schema=schema)
        return SuperstepResult(frame, it, converged, metrics, table), n

    if n == 0:
        empty = np.empty(0)
        return result(0, True, [], empty.astype(bool), empty, empty)

    # nx starts uniform, even personalized; a warm start seeds from prior
    # scores (uniform 1/n for ids without one), renormalized to sum 1
    x = np.full(n, 1.0 / n)
    if init_scores is not None:
        r = init_scores.select(
            F.col("id").cast(vtype), F.col("rank").cast("double")
        ).toArrow()
        pos, found = graph.positions(r.column(0))
        found &= r.column(1).is_valid().to_numpy(zero_copy_only=False)
        x[pos[found]] = r.column(1).fill_null(0.0).to_numpy()[found]
        rsum = x.sum()
        if not rsum or rsum <= 0:
            raise ValueError("init_scores must have positive total mass")
        x = x / rsum

    metrics: list[dict] = []
    start_iter = 0
    found_ckpt = (
        read_checkpoint(spark, checkpoint_dir, "pagerank", "local")
        if resume
        else None
    )
    if found_ckpt is not None:
        start_iter, ckpt, resume_row = found_ckpt
        pos, found = graph.positions(ckpt.column("vertex"))
        if ckpt.num_rows != n or not found.all():
            raise ValueError(
                f"checkpoint under {checkpoint_dir} holds a different "
                "vertex set than this graph"
            )
        x = np.empty(n)
        x[pos] = ckpt.column("rank").to_numpy()
        metrics.append(resume_row)

    steps = _power_steps(src, dst, nw, dangling, x, alpha, pv)
    prev = x
    converged = False
    it = start_iter
    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.perf_counter()
        prev, x, delta = next(steps)
        row = {
            "iteration": it,
            "wall_ms": (time.perf_counter() - t0) * 1000.0,
            "delta": delta,
            "event": "step",
            "label": "pagerank",
            "path": "local",
        }
        if checkpoint_dir and checkpoint_every and it % checkpoint_every == 0:
            table, schema = _state_table(ids, vfield, dangling, x, prev, pv)
            write_checkpoint(
                spark, checkpoint_dir, it, table, delta, "pagerank", schema
            )
            row["event"] = "checkpoint"
        metrics.append(row)
        if delta <= n * tol:
            converged = True
            break

    return result(it, converged, metrics, dangling, x, prev)


def pagerank(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1.0e-6,
    encode_ids: bool = False,
    **kwargs,
) -> DataFrame:
    """PageRank scores: DataFrame ``(vertex, score)``.

    ``encode_ids=True`` dictionary-encodes string vertex ids to dense
    longs before the superstep loop and decodes after — the per-superstep
    shuffles then move 8-byte keys instead of URL/token strings. Scores
    are unaffected (PageRank has no id-order-dependent tie-breaks)."""
    if encode_ids:
        from ..graph import decode_scores, encode_vertices

        enc_edges, vdict = encode_vertices(edges, extra_vertices=vertices)
        init0 = kwargs.pop("init_scores", None)
        if init0 is not None:
            # translate warm-start ids through the same dictionary; ids
            # absent from the graph are dropped (they get the uniform
            # prior inside pagerank_result, same as the plain path).
            renamed0 = vdict.withColumnRenamed("token", "orig0")
            kwargs["init_scores"] = init0.join(
                renamed0, init0["id"] == renamed0["orig0"]
            ).select(renamed0["id"].alias("id"), init0["rank"])
        pers = kwargs.pop("personalization", None)
        if pers is not None:
            # translate personalization ids through the same dictionary.
            # The inner join drops ids absent from the graph — harmless,
            # because pagerank_result normalizes over in-graph ids only
            # (nx semantics), so plain and encoded stay identical.
            renamed = vdict.withColumnRenamed("token", "orig")
            kwargs["personalization"] = pers.join(
                renamed, pers["id"] == renamed["orig"]
            ).select(renamed["id"].alias("id"), pers["weight"])
        result, _ = pagerank_result(
            enc_edges, vdict.select("id"), alpha=alpha, max_iter=max_iter,
            tol=tol, **kwargs,
        )
        scores = result.state.select(
            "vertex", F.col("rank").alias("score")
        )
        return decode_scores(scores, vdict)
    result, _ = pagerank_result(
        edges, vertices, alpha=alpha, max_iter=max_iter, tol=tol, **kwargs
    )
    return result.state.select("vertex", F.col("rank").alias("score"))


def trustrank(
    edges: DataFrame, trusted: DataFrame, **kwargs
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004): personalized
    PageRank whose teleport (and dangling-mass) vector is UNIFORM over a
    hand-vetted trusted seed set — trust flows out along links and decays
    with distance from the seeds. ``trusted`` has one column ``id``;
    seeds absent from the graph are ignored (nx normalization semantics).
    Returns ``(vertex, score)``. A thin, documented specialization of
    :func:`pagerank` — same superstep plan, same salting/encoding
    options via kwargs."""
    pers = trusted.select("id", F.lit(1.0).alias("weight"))
    return pagerank(edges, personalization=pers, **kwargs)


def spam_mass(
    edges: DataFrame, trusted: DataFrame, **kwargs
) -> DataFrame:
    """Relative spam mass (Gyöngyi et al. 2005, "Link Spam Detection
    Based on Mass Estimation"): ``(pr - trust) / pr`` per vertex, where
    ``pr`` is plain PageRank and ``trust`` is :func:`trustrank` from the
    seed set — the fraction of a page's rank NOT accounted for by trusted
    sources. Near 1 ⇒ rank comes from the untrusted web (spam-farm
    signature); near or below 0 ⇒ trust-dominated. Returns ``(vertex,
    pr, trust, spam_mass)``. Two superstep runs over the SAME cached
    adjacency shape; the final join is vertex-sized."""
    pr = pagerank(edges, **kwargs).withColumnRenamed("score", "pr")
    tr = trustrank(edges, trusted, **kwargs).withColumnRenamed(
        "score", "trust"
    )
    return pr.join(tr, "vertex").select(
        "vertex",
        "pr",
        "trust",
        ((F.col("pr") - F.col("trust")) / F.col("pr")).alias("spam_mass"),
    )


def pagerank_multi_seed(
    edges: DataFrame,
    seeds,
    alpha: float = 0.85,
    max_iter: int = 20,
    weight_col: str = "weight",
    dense: bool = False,
    min_score: float = 0.0,
) -> DataFrame:
    """S concurrent personalized PageRanks — one independent teleport
    vector per seed — vectorized in a single ``(seed, vertex)``-keyed
    state: ``(seed, vertex, score)``.

    This is the "related pages" workhorse (per-seed PPR is the usual
    SimRank stand-in at web scale): instead of S driver-looped solver
    runs, all S power iterations share one plan — the same
    multi-source-vectorization the betweenness module uses. nx
    semantics per seed: teleport mass AND dangling mass go entirely to
    the seed (personalization = {seed: 1}), so per-seed scores equal
    ``nx.pagerank(D, personalization={s: 1})`` at convergence.

    State stays SPARSE — a (seed, vertex) row exists only once the
    vertex is reachable from the seed; unreached vertices hold exactly
    0.0 forever (their teleport term is 0), so sparsity is lossless.
    ``dense=True`` fills the full seeds x vertices grid with 0.0 (the
    oracle-comparison mode).

    ``min_score > 0`` truncates the state after every round (rows below
    the threshold are dropped — the forward-push-style approximation
    every web-scale PPR system uses): per-seed L1 error is bounded by
    ``min_score * |dropped| * alpha/(1-alpha)`` and the state stops
    scaling with the full reach. 0.0 (default) is exact — the
    gate/parity mode.

    Fixed ``max_iter`` supersteps (the gate/bench contract; convergence
    at 0.85 is ~1e-7 by 60 rounds). Per-superstep: one contribution
    aggregation keyed (seed, vertex), one tiny per-seed dangling
    aggregate JOINED in-plan (never collected), lineage truncated every
    round (each round reads the state twice, so an unmaterialized chain
    would recompute exponentially). Scale: state is O(S * reach), shuffles
    are keyed by (seed, vertex) — S is the throughput knob exactly as
    in sampled betweenness."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    if isinstance(seeds, DataFrame):
        seed_df = seeds.select(F.col(seeds.columns[0]).alias("s")).distinct()
    else:
        seed_df = spark.createDataFrame(
            [(s,) for s in seeds], ["s"]
        ).distinct()
    seed_df = seed_df.localCheckpoint(eager=True)

    out_deg = edges.groupBy("src").agg(F.sum(weight_col).alias("out_w"))
    verts = (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dangling = verts.join(
        out_deg.select(F.col("src").alias("vertex")), "vertex", "left_anti"
    ).localCheckpoint(eager=True)
    # the dangling flag RIDES the state rows (attached to the adjacency's
    # dst side and to the seeds once, then forwarded by the per-round
    # aggregation) so the per-round dangling-mass aggregate is a filter
    # over the state instead of a join against the dangling table —
    # one join fewer per round, same sums (the flag is a per-vertex
    # constant). Guide §2.4: remove per-round work that can be
    # precomputed into the static side.
    ddang = dangling.select(F.col("vertex").alias("dst")).withColumn(
        "ddang", F.lit(True)
    )
    adjn = (
        edges.join(out_deg, "src")
        .join(ddang, "dst", "left")
        .select(
            "src",
            "dst",
            (F.col(weight_col) / F.col("out_w")).alias("prob"),
            F.coalesce("ddang", F.lit(False)).alias("ddang"),
        )
        .repartition(n_parts, "src")
        .persist()
    )
    seed_dang = seed_df.join(
        dangling.select(F.col("vertex").alias("s")).withColumn(
            "sdang", F.lit(True)
        ),
        "s",
        "left",
    ).select(
        "s",
        # a seed absent from the graph has no out-edges recorded; it is
        # dangling exactly when it has no out_deg row, which the
        # left-anti dangling table only covers for in-graph ids — seeds
        # outside the graph never receive or emit contributions anyway,
        # so their flag only routes their own teleport mass back to the
        # per-seed dangling sum, matching the old join-with-dangling
        # behaviour (absent from `dangling` => not counted).
        F.coalesce("sdang", F.lit(False)).alias("sdang"),
    ).localCheckpoint(eager=True)

    state = seed_dang.select(
        "s",
        F.col("s").alias("vertex"),
        F.lit(1.0).alias("score"),
        F.col("sdang").alias("dang"),
    ).repartition(n_parts, "s", "vertex").localCheckpoint(eager=True)

    for it in range(1, max_iter + 1):
        # the state grows from S rows to O(S * reach): never let a
        # stale size estimate broadcast it (the adjacency is the cached,
        # partitioned side) — force a shuffled hash join
        contrib = (
            state.hint("shuffle_hash")
            .join(adjn, state["vertex"] == adjn["src"])
            .select(
                "s",
                F.col("dst").alias("vertex"),
                (F.col("score") * F.col("prob") * F.lit(alpha)).alias(
                    "score"
                ),
                F.col("ddang").alias("dang"),
            )
        )
        dang = (
            state.filter(F.col("dang"))
            .groupBy("s")
            .agg(F.sum("score").alias("dm"))
        )
        seed_term = seed_dang.join(dang, "s", "left").select(
            "s",
            F.col("s").alias("vertex"),
            (
                F.lit(alpha) * F.coalesce(F.col("dm"), F.lit(0.0))
                + F.lit(1.0 - alpha)
            ).alias("score"),
            F.col("sdang").alias("dang"),
        )
        state = (
            contrib.unionByName(seed_term)
            .groupBy("s", "vertex")
            .agg(
                F.sum("score").alias("score"),
                F.max("dang").alias("dang"),
            )
        )
        if min_score > 0.0:
            state = state.filter(F.col("score") >= min_score)
        # each round reads `state` TWICE (contrib + dangling agg): an
        # unmaterialized chain would double per round — 2^k recompute
        # between checkpoints — so truncate lineage EVERY round
        state = state.localCheckpoint(eager=True)
    adjn.unpersist()
    out = state.select(F.col("s").alias("seed"), "vertex", "score")
    if dense:
        grid = seed_df.select(F.col("s").alias("seed")).crossJoin(verts)
        out = grid.join(out, ["seed", "vertex"], "left").select(
            "seed",
            "vertex",
            F.coalesce("score", F.lit(0.0)).alias("score"),
        )
    return out
