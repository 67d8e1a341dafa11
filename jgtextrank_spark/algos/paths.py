"""Shortest-path family: multi-source BFS (crawl-depth labeling),
weighted SSSP (distributed Bellman-Ford), and redirect-chain resolution
(pointer doubling over a functional graph).

These are the path operators a link-graph engine needs around the
reference's ranking loop (the reference itself has no path queries — its
nearest relative is the per-component decomposition at
``/root/reference/jgtextrank/core.py:614-642``): crawl frontiers are
"every page within k hops of the seed hosts", link-spam audits ask for
distance-to-trusted-set, and redirect chains must be collapsed before
any URL-keyed join. All three run on the superstep harness
(checkpoint/resume/metrics) and follow its scale rules:

* the (large, static) adjacency is symmetrized/normalized ONCE,
  hash-partitioned and cached; only the per-round frontier shuffles;
* BFS and SSSP propagate from the FRONTIER only (vertices whose
  distance changed last round), so a settled web graph stops paying for
  its bulk — the textbook delta-stepping simplification that matters
  when 99% of vertices settle in the first few rounds;
* redirect resolution uses pointer DOUBLING (f <- f∘f), covering 2^r
  hops in r rounds — O(log max_hops) joins instead of O(max_hops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..supersteps import SuperstepResult, run_supersteps

__all__ = [
    "bfs_distances",
    "bfs_distances_result",
    "sssp",
    "sssp_result",
    "resolve_redirects",
    "select_landmarks",
    "landmark_distances",
    "landmark_distances_result",
    "estimate_distance",
]


def _seed_df(edges: DataFrame, seeds) -> DataFrame:
    """Normalize ``seeds`` (DataFrame with an ``id`` column, or an
    iterable of vertex ids) to a one-column ``id`` DataFrame."""
    if isinstance(seeds, DataFrame):
        return seeds.select(F.col(seeds.columns[0]).alias("id")).distinct()
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(s,) for s in seeds], ["id"]
    ).distinct()


def _vertices(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )


def bfs_distances_result(
    edges: DataFrame,
    seeds,
    directed: bool = True,
    max_iter: int = 100,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> SuperstepResult:
    """Multi-source BFS over ``(src, dst)`` edges: minimum hop count from
    any seed. State is ``(vertex, dist)`` with ``dist`` NULL while
    unreached; seeds outside the graph's vertex set are kept (dist 0) so
    the output covers the full seed ∪ vertex universe.

    Each superstep joins ONLY the new frontier (vertices first reached
    in the previous round) against the cached adjacency — one shuffle
    proportional to the frontier's out-edges, not to |E|. Terminates when
    a round reaches no new vertex (delta = newly reached count).
    """
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    adj = edges.select("src", "dst")
    if not directed:
        adj = adj.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    adj = (
        adj.filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_parts, "src")
        .persist()
    )

    seed = _seed_df(edges, seeds)
    init = (
        _vertices(edges)
        .unionByName(seed.select(F.col("id").alias("vertex")))
        .distinct()
        .join(seed, F.col("vertex") == F.col("id"), "left")
        .select(
            "vertex",
            F.when(F.col("id").isNotNull(), F.lit(0)).alias("dist"),
        )
    )

    def step(state: DataFrame, it: int) -> tuple[DataFrame, float]:
        frontier = state.filter(F.col("dist") == it - 1).select(
            F.col("vertex").alias("src")
        )
        reached = (
            adj.join(frontier, "src")
            .select(F.col("dst").alias("r_vertex"))
            .distinct()
        )
        new_state = (
            state.join(
                reached, state["vertex"] == reached["r_vertex"], "left"
            )
            .select(
                "vertex",
                F.when(F.col("dist").isNotNull(), F.col("dist"))
                .when(F.col("r_vertex").isNotNull(), F.lit(it))
                .alias("dist"),
            )
            .persist()
        )
        newly = new_state.agg(
            F.sum(F.when(F.col("dist") == it, 1).otherwise(0)).alias("n")
        ).collect()[0]["n"]
        return new_state, float(newly or 0)

    res = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=0.0,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        label="bfs",
    )
    adj.unpersist()
    return res


def bfs_distances(edges: DataFrame, seeds, **kw) -> DataFrame:
    """(vertex, dist) — minimum hops from the seed set; dist NULL for
    unreachable vertices."""
    return bfs_distances_result(edges, seeds, **kw).state


def sssp_result(
    edges: DataFrame,
    seeds,
    directed: bool = True,
    max_iter: int = 200,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> SuperstepResult:
    """Single/multi-source shortest paths over ``(src, dst, weight)``
    edges with non-negative weights — distributed Bellman-Ford.

    State is ``(vertex, dist, improved)``; each superstep relaxes only
    the out-edges of vertices IMPROVED in the previous round:

        cand(dst) = min over improved u of (dist(u) + w(u, dst))
        dist(v)  <- min(dist(v), cand(v))

    Rounds are O(longest shortest path in hops); the frontier restriction
    makes settled regions free. Negative weights raise (Bellman-Ford
    would need the V-round no-improvement check; web-graph costs —
    hop counts, -log edge probabilities — are non-negative).
    """
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    neg = edges.agg(F.min("weight").alias("m")).collect()[0]["m"]
    if neg is not None and float(neg) < 0:
        raise ValueError(
            f"sssp requires non-negative weights (min weight {neg})"
        )

    adj = edges.select("src", "dst", F.col("weight").cast("double"))
    if not directed:
        adj = adj.unionByName(
            adj.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
        )
    adj = (
        adj.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
        .repartition(n_parts, "src")
        .persist()
    )

    seed = _seed_df(edges, seeds)
    init = (
        _vertices(edges)
        .unionByName(seed.select(F.col("id").alias("vertex")))
        .distinct()
        .join(seed, F.col("vertex") == F.col("id"), "left")
        .select(
            "vertex",
            F.when(F.col("id").isNotNull(), F.lit(0.0)).alias("dist"),
            F.col("id").isNotNull().alias("improved"),
        )
    )

    def step(state: DataFrame, it: int) -> tuple[DataFrame, float]:
        frontier = state.filter(F.col("improved")).select(
            F.col("vertex").alias("src"), F.col("dist").alias("f_dist")
        )
        cand = (
            adj.join(frontier, "src")
            .groupBy("dst")
            .agg(F.min(F.col("f_dist") + F.col("weight")).alias("cand"))
        )
        new_state = (
            state.join(cand, state["vertex"] == cand["dst"], "left")
            .select(
                "vertex",
                F.when(
                    F.col("dist").isNull()
                    | (F.col("cand") < F.col("dist")),
                    F.col("cand"),
                )
                .otherwise(F.col("dist"))
                .alias("dist"),
                (
                    F.col("cand").isNotNull()
                    & (
                        F.col("dist").isNull()
                        | (F.col("cand") < F.col("dist"))
                    )
                ).alias("improved"),
            )
            .persist()
        )
        n_improved = new_state.agg(
            F.sum(F.col("improved").cast("int")).alias("n")
        ).collect()[0]["n"]
        return new_state, float(n_improved or 0)

    res = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=0.0,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        label="sssp",
    )
    adj.unpersist()
    return res


def sssp(edges: DataFrame, seeds, **kw) -> DataFrame:
    """(vertex, dist) — minimum path cost from the seed set (NULL if
    unreachable)."""
    return sssp_result(edges, seeds, **kw).state.select("vertex", "dist")


def resolve_redirects(
    redirects: DataFrame,
    max_hops: int = 16,
) -> DataFrame:
    """Collapse redirect chains: for every source URL in ``redirects``
    (rows ``(src, dst)``; a src with multiple targets deterministically
    takes the smallest dst), follow ``src -> dst -> ...`` until a URL
    with no outgoing redirect.

    Returns ``(src, final, hops, resolved)``:

    * ``resolved=true``: a terminal URL was reached within ``max_hops``
      steps — ``final`` is it, ``hops`` the chain length;
    * ``resolved=false`` (``final``/``hops`` NULL): the chain exceeds
      ``max_hops`` or loops (crawlers abandon both).

    Physical plan: pointer DOUBLING on the functional graph. The jump
    table ``j(v) = (target 2^r hops on, accumulated hops, done)`` is
    squared each round — ``ceil(log2(max_hops))`` self-joins total, each
    a single hash join on the (shrinking-to-settled) jump table, instead
    of ``max_hops`` sequential joins. Cycle members never reach a
    terminal, stay not-done, and fall out as unresolved — no cycle
    detection pass needed.
    """
    import math

    nxt = (
        redirects.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src")
        .agg(F.min("dst").alias("dst"))
        .persist()
    )

    # done(v): v's current target has no outgoing redirect.
    term = nxt.select(F.col("src").alias("t_src"))
    jump = (
        nxt.join(term, nxt["dst"] == term["t_src"], "left")
        .select(
            "src",
            F.col("dst").alias("cur"),
            F.lit(1).alias("hops"),
            F.col("t_src").isNull().alias("done"),
        )
        .localCheckpoint(eager=True)
    )

    rounds = max(1, math.ceil(math.log2(max_hops)))
    for _ in range(rounds):
        hop = jump.select(
            F.col("src").alias("j_src"),
            F.col("cur").alias("j_cur"),
            F.col("hops").alias("j_hops"),
            F.col("done").alias("j_done"),
        )
        jump = (
            jump.join(hop, jump["cur"] == hop["j_src"], "left")
            .select(
                "src",
                F.when(
                    F.col("done") | F.col("j_src").isNull(), F.col("cur")
                )
                .otherwise(F.col("j_cur"))
                .alias("cur"),
                F.when(
                    F.col("done") | F.col("j_src").isNull(), F.col("hops")
                )
                .otherwise(F.col("hops") + F.col("j_hops"))
                .alias("hops"),
                (
                    F.col("done")
                    | F.col("j_src").isNull()
                    | F.col("j_done")
                ).alias("done"),
            )
            .localCheckpoint(eager=True)
        )

    out = jump.select(
        "src",
        F.when(F.col("done") & (F.col("hops") <= max_hops), F.col("cur"))
        .alias("final"),
        F.when(
            F.col("done") & (F.col("hops") <= max_hops), F.col("hops")
        ).alias("hops"),
        (F.col("done") & (F.col("hops") <= max_hops)).alias("resolved"),
    )
    nxt.unpersist()
    return out


def select_landmarks(
    edges: DataFrame, num_landmarks: int = 8, directed: bool = False
) -> list:
    """Deterministic landmark pick: the ``num_landmarks`` highest-degree
    vertices (undirected simple degree by default, out-degree when
    ``directed``), ties broken by vertex id ascending. High-degree
    landmarks maximize BFS coverage per landmark on power-law web
    graphs (Potamias et al., CIKM 2009)."""
    adj = edges.select("src", "dst")
    if not directed:
        adj = adj.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    deg = (
        adj.filter(F.col("src") != F.col("dst"))
        .distinct()
        .groupBy(F.col("src").alias("vertex"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.col("deg").desc(), F.col("vertex").asc())
        .limit(num_landmarks)
    )
    return [r["vertex"] for r in deg.collect()]


def landmark_distances_result(
    edges: DataFrame,
    landmarks=None,
    num_landmarks: int = 8,
    directed: bool = False,
    max_iter: int = 100,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = True,
) -> SuperstepResult:
    """All-landmarks BFS in ONE keyed superstep loop.

    The landmark distance oracle of web-scale distance estimation
    (Potamias et al. 2009; the ANF/HyperBall complement when per-pair
    estimates are needed): state is the SPARSE reached set
    ``(landmark, vertex, dist)``; every superstep expands the previous
    round's frontier for ALL landmarks with one join against the cached
    adjacency and one anti-join against the settled set (first reach
    wins — hop counts are unit, so BFS level order is optimal). k
    landmarks cost one loop of diameter rounds, not k loops.
    """
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if landmarks is None:
        landmarks = select_landmarks(edges, num_landmarks, directed)
    if not landmarks:
        raise ValueError("no landmarks (empty graph?)")

    adj = edges.select("src", "dst")
    if not directed:
        adj = adj.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    adj = (
        adj.filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(n_parts, "src")
        .persist()
    )

    init = spark.createDataFrame(
        [(str(x), str(x), 0) for x in landmarks],
        "landmark string, vertex string, dist int",
    ).repartition(n_parts, "vertex")

    def step(state: DataFrame, it: int) -> tuple[DataFrame, float]:
        frontier = state.filter(F.col("dist") == it - 1).select(
            "landmark", F.col("vertex").alias("src")
        )
        reached = (
            adj.join(frontier, "src")
            .select("landmark", F.col("dst").alias("vertex"))
            .distinct()
            .join(state, ["landmark", "vertex"], "anti")
            .select("landmark", "vertex", F.lit(it).alias("dist"))
        )
        new_state = state.unionByName(reached).persist()
        newly = new_state.filter(F.col("dist") == it).count()
        return new_state, float(newly)

    res = run_supersteps(
        spark,
        init,
        step,
        max_iter=max_iter,
        tolerance=0.0,
        checkpoint_every=checkpoint_every,
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        label="landmark_bfs",
    )
    adj.unpersist()
    return res


def landmark_distances(edges: DataFrame, **kw) -> DataFrame:
    """(landmark, vertex, dist) — sparse: only reached pairs appear."""
    return landmark_distances_result(edges, **kw).state


def estimate_distance(
    ld: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Triangle-inequality distance estimates from a landmark table.

    ``pairs`` is (a, b); the estimate is ``min over landmarks l of
    d(a,l) + d(l,b)`` — an upper bound on d(a,b), exact whenever some
    shortest path passes a landmark (undirected tables serve both
    directions; for directed graphs supply a table holding
    landmark->vertex distances). Pairs with no common landmark (different
    components) get NULL. One join per side + one aggregation; the
    landmark table is k|V| rows, so the ``a`` side join broadcasts the
    per-vertex landmark vector at k small."""
    da = ld.select(
        F.col("vertex").alias("a"),
        F.col("landmark").alias("l"),
        F.col("dist").alias("dist_a"),
    )
    db = ld.select(
        F.col("vertex").alias("b"),
        F.col("landmark").alias("l"),
        F.col("dist").alias("dist_b"),
    )
    return (
        pairs.join(da, "a", "left")
        .join(db, ["b", "l"], "left")
        .groupBy("a", "b")
        .agg(F.min(F.col("dist_a") + F.col("dist_b")).alias("est_dist"))
    )
