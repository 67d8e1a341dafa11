"""Strongly connected components of a DIRECTED graph — two scale paths.

The reference's component decomposition is undirected-only
(``/root/reference/jgtextrank/core.py:614-642`` iterates
``nx.connected_components``); a web link graph is directed, and its SCC
structure (the bow-tie: giant SCC, IN/OUT tendrils) is the standard
first question asked of a crawl. Two implementations, chosen by the
shape of the workload:

* :func:`strongly_connected_components` — ONE huge graph (the web
  graph): distributed **trim + forward-coloring + backward-gather**
  rounds (the FW-BW/coloring family: Orzan 2004; Hong et al. 2013;
  Slota et al. 2014) as DataFrame supersteps. Trim peels vertices with
  no in- or out-edges (the IN/OUT tendrils that dominate real crawls);
  coloring is hash-min on the directed graph with the same
  pointer-jumping acceleration as ``connected_components`` (sound
  because color(v)=c means "c reaches v" and reachability composes), so
  it converges in O(log diameter) supersteps; the backward frontier BFS
  within each color class extracts every root's SCC simultaneously.
  With arbitrary (effectively random) id-to-vertex assignment the
  expected number of extract rounds is O(log n) — the same argument as
  randomized parallel list ranking; the adversarial case is ids sorted
  along an SCC chain.

* :func:`scc_per_group` — MILLIONS of independent small graphs (one
  per document/session/host): one shuffle by the group key, then
  Tarjan's algorithm per group inside an Arrow-batched
  ``applyInPandas``. A distributed fixpoint would synchronize 10^9
  two-node graphs across O(max diameter) global barriers — strictly
  worse than one co-partitioned pass. This is the same engineering
  judgment as the repo's ``smallgraph.py`` driver fallback, but
  distributed: each group solves locally on its executor, so total work
  scales with executors. (The per-row-group Python cost is the
  documented exception to the no-Python-hot-path rule: irregular
  stack-based DFS per tiny graph has no bounded DataFrame-op form.)

Both label every SCC by its minimum member id (the coloring root is the
minimum of its SCC: a smaller member would reach the root and force a
smaller color), matching the ``connected_components`` convention —
deterministic, oracle-replayable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import fsutil

__all__ = [
    "strongly_connected_components",
    "strongly_connected_components_result",
    "scc_per_group",
    "bowtie_decomposition",
]


def strongly_connected_components_result(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    **kw,
) -> tuple[DataFrame, list[dict]]:
    """Like :func:`strongly_connected_components`, plus the per-phase
    metrics rows the other iterative solvers emit via the superstep
    harness: one dict per event (trim pass, coloring convergence,
    backward gather, extraction, checkpoint, resume) with counts and
    round numbers. The outer peel-extract loop mutates V and E jointly —
    that doesn't fit run_supersteps' single state table, so SCC has its
    own MULTI-TABLE durable checkpoint (``checkpoint_dir=``): the
    (V, E, assigned) triple is written per outer round with the meta
    JSON last as the validity marker, and a rerun resumes from the
    newest valid round."""
    metrics: list[dict] = []
    out = strongly_connected_components(
        edges, vertices, _metrics=metrics, **kw
    )
    return out, metrics


def _find_scc_resume(spark, checkpoint_dir: str):
    """Newest outer-round checkpoint with a valid meta file, or None.
    Meta is written LAST, so its presence marks all three tables
    complete (same contract as supersteps._find_resume_point). Listing
    and meta reads go through the Hadoop FileSystem API (fsutil) so the
    checkpoint_dir may live on HDFS/S3 alongside the parquet tables."""
    if not checkpoint_dir:
        return None
    best = None
    for name in fsutil.list_dir(spark, checkpoint_dir):
        meta_path = os.path.join(checkpoint_dir, name, "_scc_meta.json")
        if name.startswith("scc_outer_") and fsutil.exists(spark, meta_path):
            meta = json.loads(fsutil.read_text(spark, meta_path))
            best = (meta["outer"], os.path.join(checkpoint_dir, name), meta)
    return best


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_outer: int = 100,
    max_inner: int = 500,
    checkpoint_dir: str | None = None,
    checkpoint_every_outer: int = 1,
    resume: bool = True,
    _metrics: list | None = None,
) -> DataFrame:
    """DataFrame ``(vertex, component)`` — component = min vertex id of
    the strongly connected component. ``edges`` are directed
    ``(src, dst)`` rows (weights ignored, self-loops irrelevant);
    ``vertices`` (one column ``id``) may add isolated vertices.

    With ``checkpoint_dir`` set, the outer peel-extract state — the
    (remaining V, remaining E, assigned-so-far) TRIPLE — is durably
    checkpointed every ``checkpoint_every_outer`` outer rounds (meta
    JSON written last as the validity marker) and a rerun with
    ``resume=True`` continues from the newest valid round instead of
    recomputing extracted SCCs.

    Raises RuntimeError if a fixpoint loop exceeds its budget
    (``max_inner`` supersteps for coloring/BFS; ``max_outer``
    peel-extract rounds); partial SCC labels are never returned."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    def _ckpt_m(df: DataFrame) -> DataFrame:
        # persist + materialize BEFORE localCheckpoint: Spark 4 rewrites
        # the checkpoint LogicalRDD's stats from the SOURCE plan, and the
        # E-rebuild join chain's product-of-children estimate compounds
        # across peel passes (V's estimate now derives from E's through
        # the trim-flag aggregation, so unmaterialized stats grow
        # EXPONENTIALLY in bit length — the NOTES "stats-squaring"
        # footgun, here ending in BigInteger OOM). With the cache
        # materialized the rewritten stats are the actual (tiny) size.
        df = df.persist()
        df.count()
        out = df.localCheckpoint(eager=True)
        df.unpersist()
        return out

    def _rec(**kw) -> None:
        if _metrics is not None:
            _metrics.append(kw)

    E = _ckpt(
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_parts, "src")
    )
    V = edges.select(F.col("src").alias("vertex")).unionByName(
        edges.select(F.col("dst").alias("vertex"))
    )
    if vertices is not None:
        V = V.unionByName(vertices.select(F.col("id").alias("vertex")))
    V = _ckpt(V.distinct())

    assigned: list[DataFrame] = []

    start_outer = 0
    if checkpoint_dir and resume:
        found = _find_scc_resume(spark, checkpoint_dir)
        if found is not None:
            start_outer, path, meta = found
            V = _ckpt(spark.read.parquet(os.path.join(path, "v")))
            E = _ckpt(
                spark.read.parquet(os.path.join(path, "e")).repartition(
                    n_parts, "src"
                )
            )
            assigned = [_ckpt(spark.read.parquet(os.path.join(path, "assigned")))]
            _rec(
                event="resume",
                outer=start_outer,
                remaining=meta.get("n_v"),
                assigned=meta.get("n_assigned"),
            )

    def _write_checkpoint(outer: int) -> None:
        path = os.path.join(checkpoint_dir, f"scc_outer_{outer:06d}")
        V.write.mode("overwrite").parquet(os.path.join(path, "v"))
        E.write.mode("overwrite").parquet(os.path.join(path, "e"))
        acc = _union_assigned(spark, assigned)
        acc.write.mode("overwrite").parquet(os.path.join(path, "assigned"))
        meta = {
            "outer": outer,
            "n_v": V.count(),
            "n_assigned": acc.count(),
            "partitions": n_parts,
        }
        # meta last: its presence marks the three tables as complete
        fsutil.write_text(
            spark, os.path.join(path, "_scc_meta.json"), json.dumps(meta)
        )
        _rec(event="checkpoint", outer=outer, **{
            k: v for k, v in meta.items() if k != "outer"
        })

    for _outer in range(start_outer, max_outer):
        # ---- trim to fixpoint: no in-edges or no out-edges => singleton.
        # One flagged pass over V per peel level: a single checkpointed
        # frame carries the keep/trim decision, and both the trimmed
        # singletons and the surviving V are cheap filters over it (the
        # old plan ran a separate anti-join + checkpoint for each). Edge
        # set only shrinks; eats the acyclic tendrils so coloring never
        # sees them.
        for _trim_pass in range(max_inner):
            # keep/trim flags via ONE union + bit-OR aggregation instead
            # of two outer joins: besides being a single exchange, the
            # aggregation reports sane size stats — an outer-join chain
            # here feeds Spark 4's localCheckpoint stats rewrite a
            # product-of-children estimate that then SQUARES through the
            # coloring loop's per-round checkpoint (the NOTES
            # "stats-squaring" footgun: multi-megabit BigInteger
            # arithmetic in the stats visitor pinning the driver).
            fl = _ckpt(
                V.select("vertex", F.lit(1).alias("m"))
                .unionByName(
                    E.select(F.col("src").alias("vertex"),
                             F.lit(2).alias("m"))
                )
                .unionByName(
                    E.select(F.col("dst").alias("vertex"),
                             F.lit(4).alias("m"))
                )
                .groupBy("vertex")
                .agg(F.bit_or("m").alias("mask"))
                # restrict to rows backed by a V row (bit 1); E is always
                # V-filtered so this is defensive only
                .filter(F.col("mask").bitwiseAND(1) == 1)
                .select(
                    "vertex",
                    (F.col("mask").bitwiseAND(6) == 6).alias("keep"),
                )
            )
            trimmed = fl.filter(~F.col("keep")).select(
                "vertex", F.col("vertex").alias("component")
            )
            n_trim = trimmed.count()
            if n_trim == 0:
                break
            _rec(event="trim", outer=_outer, trim_pass=_trim_pass,
                 trimmed=n_trim)
            assigned.append(trimmed)
            V = fl.filter(F.col("keep")).select("vertex")
            E = _ckpt_m(
                E.join(V.select(F.col("vertex").alias("src")), "src").join(
                    V.select(F.col("vertex").alias("dst")), "dst"
                ).select("src", "dst")
            )
        else:
            raise RuntimeError(
                f"scc trim did not reach fixpoint in {max_inner} passes"
            )
        if V.count() == 0:
            return _union_assigned(spark, assigned)

        # ---- forward min-coloring to fixpoint, pointer-jump accelerated:
        # color(v) <- min(color(v), min over in-edges color(u),
        #                 color(color(v)))
        # frontier coloring: only CHANGED colors are propagated along the
        # edges each superstep — an unchanged in-neighbour's color was
        # already folded into color(v) the round it last changed (colors
        # are monotone non-increasing), so restricting the edge join to
        # the frontier leaves every per-round color bit-identical while
        # late rounds shrink to the still-moving residue.
        colors = _ckpt(
            V.withColumn("color", F.col("vertex")).withColumn(
                "chg", F.lit(True)
            )
        )
        for _color_step in range(max_inner):
            cmin = (
                E.join(
                    colors.filter(F.col("chg")).select(
                        F.col("vertex").alias("src"),
                        F.col("color").alias("c_src"),
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.min("c_src").alias("cmin"))
            )
            stepped = colors.join(
                cmin, colors["vertex"] == cmin["dst"], "left"
            ).select(
                "vertex",
                F.least("color", F.coalesce("cmin", "color")).alias("color"),
                F.col("color").alias("prev"),
            )
            parents = colors.select(
                F.col("vertex").alias("p_vertex"),
                F.col("color").alias("p_color"),
            )
            nxt = _ckpt(
                stepped.join(
                    parents, stepped["color"] == parents["p_vertex"], "left"
                ).select(
                    "vertex",
                    F.least(
                        "color", F.coalesce("p_color", "color")
                    ).alias("color"),
                    "prev",
                )
            )
            changed = (
                nxt.agg(
                    F.sum(
                        F.when(F.col("color") != F.col("prev"), 1).otherwise(0)
                    ).alias("c")
                ).collect()[0]["c"]
                or 0
            )
            colors = nxt.select(
                "vertex",
                "color",
                (F.col("color") != F.col("prev")).alias("chg"),
            )
            if changed == 0:
                _rec(event="coloring", outer=_outer,
                     supersteps=_color_step + 1)
                break
        else:
            raise RuntimeError(
                f"scc forward coloring did not converge in {max_inner} "
                "supersteps (graph diameter exceeds the budget)"
            )

        # ---- backward gather within each color class (all roots at once)
        c_src = colors.select(
            F.col("vertex").alias("src"), F.col("color").alias("cs")
        )
        c_dst = colors.select(
            F.col("vertex").alias("dst"), F.col("color").alias("cd")
        )
        Ec = _ckpt(
            E.join(c_src, "src")
            .join(c_dst, "dst")
            .filter(F.col("cs") == F.col("cd"))
            .select("src", "dst")
        )
        reached = _ckpt(
            colors.filter(F.col("vertex") == F.col("color")).select("vertex")
        )
        frontier = reached
        for _bwd_step in range(max_inner):
            newly = _ckpt(
                Ec.join(
                    frontier.select(F.col("vertex").alias("dst")), "dst"
                )
                .select(F.col("src").alias("vertex"))
                .distinct()
                .join(reached, "vertex", "left_anti")
            )
            if newly.count() == 0:
                _rec(event="backward", outer=_outer, rounds=_bwd_step + 1)
                break
            reached = _ckpt(reached.unionByName(newly))
            frontier = newly
        else:
            raise RuntimeError(
                f"scc backward gather did not converge in {max_inner} steps"
            )
        assigned.append(
            _ckpt(
                reached.join(colors, "vertex").select(
                    "vertex", F.col("color").alias("component")
                )
            )
        )

        # ---- remove the extracted SCCs and iterate on the remainder
        n_extracted = reached.count()
        V = _ckpt(V.join(reached, "vertex", "left_anti"))
        n_left = V.count()
        _rec(event="extract", outer=_outer, extracted=n_extracted,
             remaining=n_left)
        if n_left == 0:
            return _union_assigned(spark, assigned)
        E = _ckpt_m(
            E.join(V.select(F.col("vertex").alias("src")), "src").join(
                V.select(F.col("vertex").alias("dst")), "dst"
            ).select("src", "dst")
        )
        if checkpoint_dir and (_outer + 1) % checkpoint_every_outer == 0:
            _write_checkpoint(_outer + 1)

    raise RuntimeError(
        f"scc did not finish in {max_outer} outer rounds (deeply chained "
        "SCC structure); raise max_outer"
    )


def _union_assigned(spark, assigned: list[DataFrame]) -> DataFrame:
    if not assigned:
        return spark.createDataFrame([], "vertex string, component string")
    out = assigned[0]
    for df in assigned[1:]:
        out = out.unionByName(df)
    return out


def _tarjan_components(edge_list, nodes):
    """Iterative (explicit-stack) Tarjan: {vertex: min member of its SCC}.
    Deterministic regardless of traversal order — SCC membership is a
    graph property and the label is the set minimum."""
    adj: dict = {}
    for u, v in edge_list:
        if u != v:
            adj.setdefault(u, []).append(v)
    index: dict = {}
    low: dict = {}
    onstack: set = set()
    stack: list = []
    out: dict = {}
    counter = 0
    for s in nodes:
        if s in index:
            continue
        work = [(s, iter(adj.get(s, ())))]
        index[s] = low[s] = counter
        counter += 1
        stack.append(s)
        onstack.add(s)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    onstack.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
                elif w in onstack:
                    if index[w] < low[v]:
                        low[v] = index[w]
            if not advanced:
                work.pop()
                if work:
                    pv = work[-1][0]
                    if low[v] < low[pv]:
                        low[pv] = low[v]
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        onstack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    root = min(comp)
                    for w in comp:
                        out[w] = root
    return out


def scc_per_group(
    edges: DataFrame,
    group_col: str = "doc_id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """SCCs of MANY independent small graphs at once: input
    ``(group, src, dst)`` edge rows, output ``(group, vertex,
    component)`` with component = min member id, for every endpoint of
    every group.

    One shuffle co-partitions each group's edges, then Tarjan solves
    each graph locally (Arrow-batched ``applyInPandas`` — linear time
    per group, zero global synchronization). This is the right plan when
    the collection is huge but each graph is small (per-document token
    digraphs, per-host page graphs): the distributed
    :func:`strongly_connected_components` rounds would drag every tiny
    graph through O(global diameter) barriers instead. Skew note: the
    unit of parallelism is the group, so one pathological giant group
    bounds the tail — route graphs above a size threshold to the
    distributed path instead."""
    import pandas as pd

    spark = edges.sparkSession
    gtype = dict(edges.dtypes)[group_col]
    schema = (
        f"{group_col} {gtype}, vertex string, component string"
    )
    sel = edges.select(
        F.col(group_col),
        F.col(src_col).cast("string").alias("src"),
        F.col(dst_col).cast("string").alias("dst"),
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group_col].iloc[0]
        pairs = list(zip(pdf["src"], pdf["dst"]))
        nodes = sorted(set(pdf["src"]) | set(pdf["dst"]))
        comp = _tarjan_components(pairs, nodes)
        return pd.DataFrame(
            {
                group_col: [g] * len(nodes),
                "vertex": nodes,
                "component": [comp[n] for n in nodes],
            }
        )

    return sel.groupBy(group_col).applyInPandas(solve, schema=schema)


def _reach_from(
    E: DataFrame, seeds: DataFrame, reverse: bool, max_iter: int
) -> DataFrame:
    """Vertices reachable from ``seeds`` (INCLUDING the seeds) along the
    directed edges (``reverse=True``: along reversed edges). Frontier
    BFS: each step joins only the frontier against the edge list — the
    reachable-set join shape used by the SCC backward gather."""
    step_e = (
        E.select(F.col("dst").alias("from_v"), F.col("src").alias("to_v"))
        if reverse
        else E.select(F.col("src").alias("from_v"), F.col("dst").alias("to_v"))
    )
    reached = seeds.select(F.col("vertex")).distinct().localCheckpoint(
        eager=True
    )
    frontier = reached
    for _ in range(max_iter):
        newly = (
            step_e.join(
                frontier.select(F.col("vertex").alias("from_v")), "from_v"
            )
            .select(F.col("to_v").alias("vertex"))
            .distinct()
            .join(reached, "vertex", "left_anti")
            .localCheckpoint(eager=True)
        )
        if newly.count() == 0:
            return reached
        reached = reached.unionByName(newly).localCheckpoint(eager=True)
        frontier = newly
    raise RuntimeError(f"reachability did not converge in {max_iter} steps")


def bowtie_decomposition(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_inner: int = 500,
    **scc_kwargs,
) -> DataFrame:
    """The Broder et al. (2000) bow-tie structure of a directed graph —
    THE canonical first analysis of a web crawl. Returns ``(vertex,
    region)`` with regions:

    * ``CORE``        — the largest SCC (ties broken by min component id),
    * ``IN``          — reaches the core, not in it,
    * ``OUT``         — reachable from the core, not in it,
    * ``TUBE``        — on an IN→OUT path that bypasses the core
                        (reachable from IN AND reaches OUT),
    * ``TENDRIL``     — hangs off IN (forward) or into OUT (backward),
                        but no core contact (exactly one of the two),
    * ``DISCONNECTED``— everything else.

    Composition of existing primitives: one
    :func:`strongly_connected_components` run + four frontier
    reachability fixpoints (core forward/backward, IN forward, OUT
    backward) + label algebra. Deterministic; oracle-replayable via
    transitive closure."""
    spark = edges.sparkSession
    scc = strongly_connected_components(
        edges, vertices=vertices, max_inner=max_inner, **scc_kwargs
    ).localCheckpoint(eager=True)
    E = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # largest SCC, ties by min component id — one tiny aggregate
    top = (
        scc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("component").asc())
        .limit(1)
        .collect()
    )
    if not top:
        return spark.createDataFrame([], "vertex string, region string")
    core_id = top[0]["component"]
    core = scc.filter(F.col("component") == core_id).select("vertex")

    fwd = _reach_from(E, core, reverse=False, max_iter=max_inner)
    bwd = _reach_from(E, core, reverse=True, max_iter=max_inner)
    in_set = bwd.join(core, "vertex", "left_anti").localCheckpoint(eager=True)
    out_set = fwd.join(core, "vertex", "left_anti").localCheckpoint(
        eager=True
    )
    from_in = _reach_from(E, in_set, reverse=False, max_iter=max_inner)
    to_out = _reach_from(E, out_set, reverse=True, max_iter=max_inner)

    def _flag(df: DataFrame, name: str) -> DataFrame:
        return df.select("vertex", F.lit(True).alias(name))

    lab = (
        scc.select("vertex")
        .join(_flag(core, "is_core"), "vertex", "left")
        .join(_flag(in_set, "is_in"), "vertex", "left")
        .join(_flag(out_set, "is_out"), "vertex", "left")
        .join(_flag(from_in, "f_in"), "vertex", "left")
        .join(_flag(to_out, "t_out"), "vertex", "left")
    )
    f_in = F.coalesce("f_in", F.lit(False))
    t_out = F.coalesce("t_out", F.lit(False))
    return lab.select(
        "vertex",
        F.when(F.coalesce("is_core", F.lit(False)), "CORE")
        .when(F.coalesce("is_in", F.lit(False)), "IN")
        .when(F.coalesce("is_out", F.lit(False)), "OUT")
        .when(f_in & t_out, "TUBE")
        .when(f_in | t_out, "TENDRIL")
        .otherwise("DISCONNECTED")
        .alias("region"),
    )


def condensation(
    edges: DataFrame,
    scc: DataFrame | None = None,
    **scc_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Condensation of a digraph: contract each strongly connected
    component to one supervertex. Returns ``(assignment, dag_edges)``
    where ``assignment`` is ``(vertex, component)`` (component = min
    member id) and ``dag_edges`` is the DISTINCT ``(src, dst)`` edge
    table between different components — acyclic by construction, so it
    feeds :func:`~jgtextrank_spark.algos.toposort.topological_layers`
    directly (dependency tiers of a cyclic web graph: every Broder
    bow-tie analysis starts here).

    ``scc`` may pass a precomputed assignment; otherwise
    :func:`strongly_connected_components` runs with ``scc_kwargs``.
    Scale shape: the SCC run plus two label-tagging joins and one
    distinct aggregation."""
    from pyspark.sql import functions as F

    if scc is None:
        scc = strongly_connected_components(edges, **scc_kwargs)
    cs = scc.select(F.col("vertex").alias("src"), F.col("component").alias("cu"))
    cd = scc.select(F.col("vertex").alias("dst"), F.col("component").alias("cv"))
    dag = (
        edges.select("src", "dst")
        .join(cs, "src")
        .join(cd, "dst")
        .filter(F.col("cu") != F.col("cv"))
        .select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
        .distinct()
    )
    return scc, dag
