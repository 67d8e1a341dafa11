"""Link-prediction scores: common neighbors, Jaccard, Adamic-Adar.

The standard "which edge appears next" suite (Liben-Nowell & Kleinberg
2003) over an undirected simple graph — for a link graph: which pages
*should* link but don't; for the reference's co-occurrence graph: which
term pair is one window short of an edge. The reference has no link
prediction; this generalizes its graph layer the same way the
neighborhood/SCC modules do.

Candidates are the NON-ADJACENT distance-2 pairs (networkx's default
ebunch = non-edges, restricted to pairs with >= 1 common neighbor —
pairs with no common neighbor score 0 on all three metrics and are
omitted rather than materializing the quadratic non-edge set). For
``(u, v)`` with common-neighbor set ``C``:

* ``cn = |C|``
* ``jaccard = |C| / (deg(u) + deg(v) - |C|)``  (|N(u) ∪ N(v)| expanded
  by inclusion-exclusion — no second pass over the union)
* ``adamic_adar = sum over w in C of 1 / ln(deg(w))``  (deg(w) >= 2
  always: w has both u and v as neighbors, so ln never hits 0)

Plan shape: one wedge self-join of the degree-annotated adjacency on the
center w (the same join shape as triangle counting), one
partial-agg-friendly ``groupBy(u, v)``, one anti-join against the edge
set. The wedge join is quadratic in the center's degree — a 10^6-degree
hub mints 10^12 candidate pairs, which no downstream filter can undo —
so ``max_center_degree`` bounds the wedge centers exactly like the
``max_shingle_freq`` hot-key guard in the dedup family: super-hub
centers are skipped with documented recall loss (pairs whose ONLY
common neighbors are super-hubs disappear; scores of surviving pairs
lose those centers' contributions). ``max_center_degree=0`` disables
the guard (exact — the oracle/test mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["link_prediction", "cocitation", "bibliographic_coupling"]


def link_prediction(
    edges: DataFrame,
    max_center_degree: int = 0,
) -> DataFrame:
    """DataFrame ``(u, v, cn, jaccard, adamic_adar)`` for every
    non-adjacent pair (u < v) with at least one common neighbor.
    ``edges`` rows are any orientation; self-loops ignored."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    und = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    adj = (
        und.select(F.col("a").alias("w"), F.col("b").alias("n"))
        .unionByName(und.select(F.col("b").alias("w"), F.col("a").alias("n")))
        .repartition(n_parts, "w")
        .persist()
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    centers = adj.join(deg, "w")
    if max_center_degree > 0:
        centers = centers.filter(F.col("deg") <= max_center_degree)

    # wedge join on the center w: every unordered neighbor pair (u < v)
    right = centers.select(
        F.col("w"), F.col("n").alias("v")
    )
    wedges = (
        centers.select("w", F.col("n").alias("u"), "deg")
        .join(right, "w")
        .filter(F.col("u") < F.col("v"))
    )
    scores = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum(1.0 / F.log(F.col("deg").cast("double"))).alias("aa"),
    )
    # non-adjacent pairs only (networkx non-edge ebunch)
    scores = scores.join(
        und,
        (scores["u"] == und["a"]) & (scores["v"] == und["b"]),
        "left_anti",
    )
    du = deg.select(F.col("w").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("w").alias("v"), F.col("deg").alias("deg_v"))
    out = (
        scores.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn")),
                6,
            ).alias("jaccard"),
            F.round("aa", 6).alias("adamic_adar"),
        )
    )
    return out


def _directed_cosimilarity(
    edges: DataFrame,
    center_col: str,
    leaf_col: str,
    max_center_degree: int,
) -> DataFrame:
    """Shared wedge engine for cocitation / bibliographic coupling: pairs
    of *leaf* vertices sharing a *center* (the directed analogue of the
    link_prediction wedge above). Returns ``(u, v, n_common, jaccard)``
    for unordered leaf pairs u < v with >= 1 shared center, where
    jaccard normalizes by the leaf-side degree (in-degree for
    cocitation, out-degree for coupling) via inclusion-exclusion.

    Adjacent pairs are NOT excluded — these are similarity measures
    (Small 1973 / Kessler 1963), not next-edge prediction, so a page
    that links to its sibling still counts as similar to it.

    Same hot-key economics as link_prediction: the wedge is quadratic in
    the center's fan-out, so ``max_center_degree`` skips super-hub
    centers (a portal page citing 10^6 URLs mints 10^12 pairs); skipped
    centers' contributions vanish from n_common with documented recall
    loss. 0 disables the guard (exact — the oracle/test mode)."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = (
        edges.select(
            F.col(center_col).alias("w"), F.col(leaf_col).alias("n")
        )
        .filter(F.col("w") != F.col("n"))
        .distinct()
        .repartition(n_parts, "w")
        .persist()
    )
    leaf_deg = e.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("d"))
    centers = e
    if max_center_degree > 0:
        cdeg = e.groupBy("w").agg(F.count(F.lit(1)).alias("cdeg"))
        centers = e.join(
            cdeg.filter(F.col("cdeg") <= max_center_degree).select("w"), "w"
        )
    pairs = (
        centers.select("w", F.col("n").alias("u"))
        .join(centers.select("w", F.col("n").alias("v")), "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    du = leaf_deg.select(F.col("n").alias("u"), F.col("d").alias("d_u"))
    dv = leaf_deg.select(F.col("n").alias("v"), F.col("d").alias("d_v"))
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("d_u") + F.col("d_v") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def cocitation(
    edges: DataFrame,
    max_center_degree: int = 0,
) -> DataFrame:
    """Co-citation similarity (Small 1973): for each unordered pair of
    pages (u < v) cited by at least one common source, the number of
    common in-neighbors ``n_common`` = (A^T A)[u, v] and the Jaccard of
    their in-link sets. Generalizes the reference's co-occurrence edge
    weighting (graph.py builds term edges from shared windows; this
    builds page-similarity pairs from shared citers)."""
    return _directed_cosimilarity(edges, "src", "dst", max_center_degree)


def bibliographic_coupling(
    edges: DataFrame,
    max_center_degree: int = 0,
) -> DataFrame:
    """Bibliographic coupling (Kessler 1963): pairs of pages (u < v)
    citing at least one common target — ``n_common`` = (A A^T)[u, v] and
    the Jaccard of their out-link sets. The out-link dual of
    :func:`cocitation`; centers are shared *targets*, so the hub guard
    bounds target in-degree."""
    return _directed_cosimilarity(edges, "dst", "src", max_center_degree)
