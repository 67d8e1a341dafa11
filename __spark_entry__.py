"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: TextRank keyword extraction over the
                     sf0.001 documents table (raw-text path end-to-end).
``queries()``      — one entry per implemented operator family
                     (SURVEY.md §2 + training-data-pipeline ops), plus
                     plan-variant rows (salted/encoded PageRank, star CC)
                     that must hash-match their spec's oracle.
``oracle_sql()``   — an oracle for EVERY query: DuckDB ANSI SQL where
                     expressible (iterative ops as programmatically
                     unrolled MATERIALIZED CTE chains / recursive CTEs;
                     SimHash as a bit-exact md5 replay; ANN-LSH as
                     deterministic sign-bucket probes), and committed
                     goldens where the result is a data-dependent loop:
                     coreness, Borůvka MSF and Brandes betweenness
                     (verified vs networkx) and the two textrank rows
                     (verified vs the real reference) — see
                     scripts/make_goldens.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

WINDOW = 2  # co-occurrence window for the documents token graph
PR_ITERS = 20  # fixed supersteps for the SQL-comparable PageRank query
HITS_ITERS = 10  # fixed supersteps for the SQL-comparable HITS query
KTRUSS_K = 22  # k-truss gate parameter (peels the sf0.01 token graph)
WALK_STEPS = 4  # random-walk gate parameters (md5-replayable in SQL)
WALK_SEED = "w42"
N2V_SEED = "n2v"  # node2vec gate: p/q powers of two keep the biased
N2V_P = 0.5  # cumsum dyadic-exact, so the DuckDB replay is bit-equal
N2V_Q = 4.0
ANN_K = 5
ONION_ROUNDS = 20  # onion gate: unrolled peel rounds (no-op past fixpoint)
LOUVAIN_ROUNDS = 4  # louvain gate: fixed move rounds (md5-replayable)
LOUVAIN_SEED = "gate-louvain"
LEIDEN_ROUNDS = 3  # leiden gate: fixed move rounds PER LEVEL (2 levels)
LEIDEN_SEED = "gate-leiden"
LOUVAIN_ML_SEED = "gate-louvain-ml"  # multilevel louvain gate (2 levels)
BPE_MERGES = 8  # BPE tokenizer-training gate: merge rounds (unrolled CTEs)
PQ_M = 8  # PQ gate: subvector blocks
_PQ_SUB = 64 // PQ_M  # embeddings are 64-dim (TESTDATA.md)
PQ_CODES = 16  # PQ gate: codewords per block
DSIR_BUCKETS = 8192  # DSIR gate: hashed n-gram buckets
FH_FEATURES = 4096  # feature-hash gate: vector width
PACK_CONTEXT = 512  # sequence-packing gate: context window (tokens)
PACK_SHARDS = 16  # sequence-packing gate: md5 shards
ANN_QUERIES = 20
JACCARD_T = 0.2
NGRAM_N = 3


def _prep(spark: SparkSession):
    from jgtextrank_spark.session import ship_package

    ship_package(spark)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _doc_token_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tokens array<string>): one row per document."""
    from jgtextrank_spark.functions.textstats import tokens_expr

    return _docs(spark, sf_dir).select(
        "doc_id", tokens_expr("text").alias("tokens")
    )


def _doc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted undirected co-occurrence edge table over whitespace tokens
    of `documents` (window=WINDOW): (src, dst, weight).

    Pairs come from the library's zero-shuffle array slice/transform
    generator (graph.cooccurrence_pairs) — no positional self-join; the
    only shuffle is the final (src, dst) aggregation."""
    from jgtextrank_spark.graph import cooccurrence_pairs

    pairs = cooccurrence_pairs(
        _doc_token_arrays(spark, sf_dir), window=WINDOW
    )
    return (
        pairs.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def _doc_edges_w(spark: SparkSession, sf_dir: str, window: int) -> DataFrame:
    """_doc_edges at an arbitrary window (the crawl-diff gate compares
    the window-2 and window-3 graphs as two 'snapshots')."""
    from jgtextrank_spark.graph import cooccurrence_pairs

    pairs = cooccurrence_pairs(_doc_token_arrays(spark, sf_dir), window=window)
    return (
        pairs.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


# --------------------------------------------------------------------------
# Spark-side queries
# --------------------------------------------------------------------------

def q_cooccur_edges(spark, sf_dir):
    _prep(spark)
    return _doc_edges(spark, sf_dir)


def q_degree_centrality(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.algos.centrality import degree_centrality

    return degree_centrality(_doc_edges(spark, sf_dir)).select(
        "vertex", F.round("score", 6).alias("score")
    )


def q_neighborhood_size(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.algos.centrality import neighborhood_size

    return neighborhood_size(_doc_edges(spark, sf_dir))


def q_tergraph(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.algos.centrality import tergraph

    return tergraph(_doc_edges(spark, sf_dir)).select(
        "vertex", F.round("score", 6).alias("score")
    )


def q_triangle_count(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.algos.triangles import triangle_counts

    return triangle_counts(_doc_edges(spark, sf_dir)).select(
        "vertex", F.col("triangles").cast("long").alias("triangles")
    )


def q_clustering_coefficient(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.algos.triangles import clustering_coefficient

    return clustering_coefficient(_doc_edges(spark, sf_dir)).select(
        "vertex", F.round("clustering", 6).alias("clustering")
    )


def q_pagerank(spark, sf_dir):
    """Weighted PageRank, fixed PR_ITERS supersteps (tol=0 disables early
    stop so the unrolled SQL oracle matches superstep-for-superstep)."""
    _prep(spark)
    from jgtextrank_spark.algos.pagerank import pagerank
    from jgtextrank_spark.graph import symmetrize

    scores = pagerank(
        symmetrize(_doc_edges(spark, sf_dir)),
        max_iter=PR_ITERS,
        tol=0.0,
        checkpoint_every=0,
    )
    return scores.select("vertex", F.round("score", 6).alias("score"))


def q_pagerank_personalized(spark, sf_dir):
    """Topic-sensitive PageRank: teleport + dangling mass follow a
    normalized per-vertex weight vector (here: token length — a
    deterministic non-uniform profile both engines can derive). Fixed
    supersteps; oracle is the personalized unrolled CTE chain."""
    _prep(spark)
    from jgtextrank_spark.algos.pagerank import pagerank
    from jgtextrank_spark.graph import symmetrize

    edges = symmetrize(_doc_edges(spark, sf_dir))
    pers = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.length("id").cast("double").alias("weight"))
    )
    scores = pagerank(
        edges,
        personalization=pers,
        max_iter=PR_ITERS,
        tol=0.0,
        checkpoint_every=0,
    )
    return scores.select("vertex", F.round("score", 6).alias("score"))


def q_components_per_doc(spark, sf_dir):
    """Connected components of each document's token co-occurrence graph
    (hash-min supersteps over all documents at once).

    Pair generation is the zero-shuffle array path; vertex keys are
    dictionary-encoded to longs for the superstep loop (encode_ids=True),
    so the iterations shuffle 8-byte ids, not `doc|token` strings."""
    _prep(spark)
    from jgtextrank_spark.algos.components import connected_components
    from jgtextrank_spark.graph import cooccurrence_pairs

    pairs = cooccurrence_pairs(
        _doc_token_arrays(spark, sf_dir), window=WINDOW,
        extra_cols=["doc_id"],
    )
    edges = pairs.select(
        F.concat_ws("|", F.col("doc_id").cast("string"), "src").alias("src"),
        F.concat_ws("|", F.col("doc_id").cast("string"), "dst").alias("dst"),
        F.lit(1.0).alias("weight"),
    ).distinct()
    cc = connected_components(edges, max_iter=100, encode_ids=True)
    return cc.select(
        F.split_part(F.col("vertex"), F.lit("|"), F.lit(1))
        .cast("long")
        .alias("doc_id"),
        F.split_part(F.col("vertex"), F.lit("|"), F.lit(2)).alias("token"),
        F.split_part(F.col("component"), F.lit("|"), F.lit(2)).alias(
            "component"
        ),
    )


def q_random_walks(spark, sf_dir):
    """Weighted random walks (1 per vertex, 4 steps) on the symmetrized
    token graph — every step is md5-derived, so the oracle replays the
    ENTIRE walk set step-join by step-join in DuckDB (integral weights ⇒
    exact range boundaries)."""
    _prep(spark)
    from jgtextrank_spark.algos.walks import random_walks
    from jgtextrank_spark.graph import symmetrize

    return random_walks(
        symmetrize(_doc_edges(spark, sf_dir)),
        walks_per_vertex=1,
        walk_length=WALK_STEPS,
        seed=WALK_SEED,
    )


def q_node2vec_walks(spark, sf_dir):
    """Second-order node2vec walks (p=0.5 return-biased, q=4 BFS-ish)
    on the symmetrized token graph. The oracle replays every biased
    step: the same md5 uniforms, and per-walk window cumsums over the
    candidate set with the CASE bias — exact because weights are
    integral and p/q are powers of two (dyadic arithmetic)."""
    _prep(spark)
    from jgtextrank_spark.algos.walks import node2vec_walks
    from jgtextrank_spark.graph import symmetrize

    return node2vec_walks(
        symmetrize(_doc_edges(spark, sf_dir)),
        walks_per_vertex=1,
        walk_length=WALK_STEPS,
        p=N2V_P,
        q=N2V_Q,
        seed=N2V_SEED,
    )


def q_msf_forest(spark, sf_dir):
    """Borůvka minimum spanning forest of the token co-occurrence graph
    with md5-perturbed (hence distinct) weights ⇒ the MSF is unique.
    Data-dependent round count ⇒ the oracle is a committed golden,
    generated AND verified exactly vs networkx.minimum_spanning_edges
    (on an independent hashlib perturbation) by scripts/make_goldens.py.
    """
    _prep(spark)
    from jgtextrank_spark.algos.mst import boruvka_msf, msf_perturbed_weights

    return boruvka_msf(msf_perturbed_weights(_doc_edges(spark, sf_dir)))


def q_ktruss(spark, sf_dir):
    """k-truss (k=22) of the undirected token graph — iterative
    support-peel to fixpoint. Oracle unrolls 10 peel rounds in SQL:
    peeling is a monotone fixpoint, so unrolling MORE rounds than the
    data needs is exact (post-convergence rounds are no-ops)."""
    _prep(spark)
    from jgtextrank_spark.algos.triangles import k_truss

    return k_truss(_doc_edges(spark, sf_dir), k=KTRUSS_K)


def q_degree_distribution(spark, sf_dir):
    """Degree histogram of the undirected token graph (graphstats) —
    two partial aggregations; oracle replays the mirror/deg/histogram
    algebra."""
    _prep(spark)
    from jgtextrank_spark.algos.graphstats import degree_distribution

    return degree_distribution(_doc_edges(spark, sf_dir))


def q_graph_stats(spark, sf_dir):
    """Corpus-level scalars in one row: degree assortativity (Pearson
    over the edge-endpoint degree pairs, symmetric estimator) and the
    weighted Newman modularity of the first-letter token partition.
    Oracle mirrors the exact arithmetic expression shape so IEEE results
    agree bit-for-bit before the 6-dp round."""
    _prep(spark)
    from jgtextrank_spark.algos.graphstats import (
        degree_assortativity,
        modularity,
    )

    edges = _doc_edges(spark, sf_dir)
    r = degree_assortativity(edges)
    labels = (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
        .select("vertex", F.substring("vertex", 1, 1).alias("label"))
    )
    q = modularity(edges, labels)
    return spark.createDataFrame(
        [(round(r, 6), round(q, 6))],
        "assortativity double, modularity double",
    )


def q_scc_per_doc(spark, sf_dir):
    """Strongly connected components of each document's DIRECTED token
    co-occurrence digraph (forward pairs only — no symmetrization), via
    the per-group path: one shuffle by doc_id, Tarjan per group in an
    Arrow batch (scc.scc_per_group — the right plan for millions of
    independent small graphs; the distributed rounds are gated on the
    single big graph in scc_tokens). Component = min token of the SCC.
    Oracle: directed transitive closure (recursive CTE) +
    mutual-reachability min per doc."""
    _prep(spark)
    from jgtextrank_spark.algos.scc import scc_per_group
    from jgtextrank_spark.graph import cooccurrence_pairs

    pairs = cooccurrence_pairs(
        _doc_token_arrays(spark, sf_dir), window=WINDOW,
        extra_cols=["doc_id"],
    ).distinct()
    return scc_per_group(pairs, group_col="doc_id").select(
        "doc_id", F.col("vertex").alias("token"), "component"
    )


def q_scc_tokens(spark, sf_dir):
    """SCC of the single corpus-wide directed token digraph through the
    DISTRIBUTED trim + pointer-jump-accelerated forward coloring +
    backward gather rounds (scc.strongly_connected_components — the
    one-huge-web-graph path). Same closure oracle, no doc key."""
    _prep(spark)
    from jgtextrank_spark.algos.scc import strongly_connected_components
    from jgtextrank_spark.graph import cooccurrence_pairs

    edges = cooccurrence_pairs(
        _doc_token_arrays(spark, sf_dir), window=WINDOW
    ).distinct()
    return strongly_connected_components(edges)


def q_condensation_layers(spark, sf_dir):
    """Condensation of the corpus-wide directed token graph (each SCC
    contracted to its min member) + Kahn layering of the resulting DAG:
    (vertex, component, layer) — dependency tiers of a cyclic graph,
    the composition every bow-tie / crawl-scheduling analysis starts
    from. Components with no condensed in-edge are layer 0 (isolated
    ones never enter the edge-derived vertex set, hence the coalesce).
    Oracle: mutual-reachability closure -> condensed distinct edges ->
    recursive longest-path."""
    _prep(spark)
    from jgtextrank_spark.algos.scc import condensation
    from jgtextrank_spark.algos.toposort import topological_layers
    from jgtextrank_spark.graph import cooccurrence_pairs

    edges = cooccurrence_pairs(
        _doc_token_arrays(spark, sf_dir), window=WINDOW
    ).distinct()
    scc, dag = condensation(edges)
    layers = topological_layers(dag).layers
    return scc.join(
        layers.withColumnRenamed("vertex", "component"), "component", "left"
    ).select(
        "vertex", "component", F.coalesce("layer", F.lit(0)).alias("layer")
    )


def q_pagerank_salted(spark, sf_dir):
    """Same spec as q_pagerank but through the explicit hub-skew path
    (salt-partitioned adjacency + two-stage contrib tree) — the oracle is
    the same unrolled CTE chain, proving the salted plan is a pure
    reassociation."""
    _prep(spark)
    from jgtextrank_spark.algos.pagerank import pagerank
    from jgtextrank_spark.graph import symmetrize

    scores = pagerank(
        symmetrize(_doc_edges(spark, sf_dir)),
        max_iter=PR_ITERS, tol=0.0, checkpoint_every=0, salt_buckets=4,
    )
    return scores.select("vertex", F.round("score", 6).alias("score"))


def q_pagerank_encoded(spark, sf_dir):
    """Same spec as q_pagerank with dictionary-encoded vertex ids in the
    superstep loop (encode -> solve on longs -> decode)."""
    _prep(spark)
    from jgtextrank_spark.algos.pagerank import pagerank
    from jgtextrank_spark.graph import symmetrize

    scores = pagerank(
        symmetrize(_doc_edges(spark, sf_dir)),
        max_iter=PR_ITERS, tol=0.0, checkpoint_every=0, encode_ids=True,
    )
    return scores.select("vertex", F.round("score", 6).alias("score"))


def q_components_star_per_doc(spark, sf_dir):
    """Same spec as q_components_per_doc through the large-star/small-star
    edge-contraction algorithm (checked against the identical recursive
    CTE oracle)."""
    _prep(spark)
    from jgtextrank_spark.algos.components import connected_components
    from jgtextrank_spark.graph import cooccurrence_pairs

    pairs = cooccurrence_pairs(
        _doc_token_arrays(spark, sf_dir), window=WINDOW,
        extra_cols=["doc_id"],
    )
    edges = pairs.select(
        F.concat_ws("|", F.col("doc_id").cast("string"), "src").alias("src"),
        F.concat_ws("|", F.col("doc_id").cast("string"), "dst").alias("dst"),
        F.lit(1.0).alias("weight"),
    ).distinct()
    cc = connected_components(
        edges, algorithm="star", encode_ids=True, checkpoint_every=0
    )
    return cc.select(
        F.split_part(F.col("vertex"), F.lit("|"), F.lit(1))
        .cast("long")
        .alias("doc_id"),
        F.split_part(F.col("vertex"), F.lit("|"), F.lit(2)).alias("token"),
        F.split_part(F.col("component"), F.lit("|"), F.lit(2)).alias(
            "component"
        ),
    )


def q_label_propagation(spark, sf_dir):
    """Deterministic synchronous LPA communities on the documents token
    graph; the DuckDB oracle unrolls the same 10 supersteps as
    MATERIALIZED CTEs (also differential-tested in tests/test_algos.py)."""
    _prep(spark)
    from jgtextrank_spark.algos.labelprop import label_propagation

    return label_propagation(_doc_edges(spark, sf_dir), max_iter=10)


def q_louvain(spark, sf_dir):
    """Deterministic distributed Louvain local-move phase (Blondel et
    al. 2008) on the documents token graph: 4 fixed synchronous rounds
    of the exact integer-scaled modularity-gain argmax with md5-gated
    vertex activity. The DuckDB oracle unrolls all 4 rounds as
    MATERIALIZED CTEs — the same HUGEINT gain algebra, md5 parity gate
    and (s DESC, c ASC) tie-break, so the replay is bit-exact (the
    decision path contains no float compare). Multilevel contraction is
    covered differentially in tests/test_algos.py (exact python mirror,
    ring-of-cliques, modularity >= networkx louvain - 0.05)."""
    _prep(spark)
    from jgtextrank_spark.algos.louvain import louvain_move_phase

    comm, _rounds, _conv, _ms = louvain_move_phase(
        _doc_edges(spark, sf_dir),
        fixed_rounds=LOUVAIN_ROUNDS,
        seed=LOUVAIN_SEED,
    )
    return comm.select("vertex", "community")


def q_louvain_multilevel(spark, sf_dir):
    """Multilevel Louvain (2 levels: move phase, contract communities to
    supervertices with internal edges as self-loops, move again on the
    coarse graph, map back) on the documents token graph — the classic
    Blondel et al. 2008 loop, vs `louvain` which gates the move phase
    alone. The DuckDB oracle unrolls both levels' HUGEINT move algebra
    plus the community contraction and the final map-through; level 2's
    self-loops enter vertex strength k_v exactly as in the engine
    (_sym_parts: self-loops count twice, nx convention)."""
    _prep(spark)
    from jgtextrank_spark.algos.louvain import louvain

    res = louvain(
        _doc_edges(spark, sf_dir),
        levels=2,
        fixed_rounds=LOUVAIN_ROUNDS,
        seed=LOUVAIN_ML_SEED,
    )
    return res.assignment.select("vertex", "community")


def q_leiden(spark, sf_dir):
    """Full composed Leiden loop (Traag et al. 2019) on the documents
    token graph: TWO levels, each a fixed-round md5-gated Louvain move
    phase followed by connectivity refinement, aggregate-on-refinement
    contraction between levels (coarse vertices keep their move-phase
    communities as init), then the final map-through and connectivity
    pass — so every returned community is connected. The DuckDB oracle
    unrolls the ENTIRE composition bit-exactly: both levels' HUGEINT
    move algebra, the three refinement closures as recursive CTEs, the
    piece contraction, and the init'd second level. This is the gate
    row for the composed loop (move phase alone is gated by `louvain`,
    refinement alone by `refine_hosts`)."""
    _prep(spark)
    from jgtextrank_spark.algos.louvain import leiden

    res = leiden(
        _doc_edges(spark, sf_dir),
        levels=2,
        fixed_rounds=LEIDEN_ROUNDS,
        seed=LEIDEN_SEED,
    )
    return res.assignment.select("vertex", "community")


def q_conductance_hosts(spark, sf_dir):
    """Per-community conductance (cut / min-side volume) of the HOST
    partition of the synthesized page link graph — how self-contained
    each host's link neighborhood is, the community-quality score any
    partition (LPA output, host grouping, ...) plugs into. 7 host
    communities; oracle recomputes the cut/volume algebra on the
    closed-form edges with the host label derived independently from
    the URL arithmetic."""
    _prep(spark)
    from jgtextrank_spark.algos.graphstats import conductance
    from jgtextrank_spark.weblinks import host_of, link_edges

    edges = link_edges(_synth_pages(spark, sf_dir))
    verts = (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    labels = verts.select("vertex", host_of(F.col("vertex")).alias("label"))
    out = conductance(edges, labels)
    return out.select(
        "label",
        F.round("cut_w", 6).alias("cut_w"),
        F.round("vol_w", 6).alias("vol_w"),
        F.round("conductance", 6).alias("conductance"),
    )


def q_onion(spark, sf_dir):
    """Onion decomposition (layered k-core peel, Hébert-Dufresne et al.
    2016) of the token graph: (vertex, layer, core) matching
    nx.onion_layers + nx.core_number exactly (differential-tested).
    The oracle unrolls ONION_ROUNDS peel rounds as MATERIALIZED CTEs —
    peeling is a monotone fixpoint, so unrolling past completion is a
    no-op (the ktruss-oracle argument)."""
    _prep(spark)
    from jgtextrank_spark.algos.onion import onion_decomposition

    res = onion_decomposition(_doc_edges(spark, sf_dir).select("src", "dst"))
    return res.state


def q_topo_layers(spark, sf_dir):
    """Topological layering (Kahn peel / longest-path-from-source) of
    the token co-occurrence DAG — _doc_edges is least/greatest-oriented,
    hence acyclic. Oracle: recursive path enumeration from the sources
    with max path length per vertex (identical semantics: Kahn layer ==
    longest directed path ending at the vertex)."""
    _prep(spark)
    from jgtextrank_spark.algos.toposort import topological_layers

    res = topological_layers(_doc_edges(spark, sf_dir).select("src", "dst"))
    return res.layers


def q_refine_hosts(spark, sf_dir):
    """Leiden-style connectivity refinement of the HOST partition of the
    synthesized page link graph: each host community splits into its
    link-connected pieces (Traag et al. 2019's guarantee — Louvain/LPA
    can emit internally disconnected communities; refinement repairs
    any partition). Refined id = min URL of the piece; pages with no
    same-host link become singletons. Oracle: recursive-CTE closure over
    the intra-host restriction of the closed-form edges."""
    _prep(spark)
    from jgtextrank_spark.algos.louvain import refine_partition
    from jgtextrank_spark.weblinks import host_of, link_edges

    edges = link_edges(_synth_pages(spark, sf_dir))
    verts = (
        edges.select(F.col("src").alias("vertex"))
        .unionByName(edges.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    labels = verts.select("vertex", host_of(F.col("vertex")).alias("label"))
    return refine_partition(edges, labels)


def q_label_propagation_encoded(spark, sf_dir):
    """Same spec as q_label_propagation through order-preserving
    dictionary encoding (LPA tie-breaks depend on label ORDER, so the
    encoding must be monotone in the string order — checked against the
    identical unrolled-CTE oracle)."""
    _prep(spark)
    from jgtextrank_spark.algos.labelprop import label_propagation

    return label_propagation(
        _doc_edges(spark, sf_dir), max_iter=10, encode_ids=True
    )


def q_coreness(spark, sf_dir):
    """k-core decomposition, checked against a committed golden that
    scripts/make_goldens.py generates and verifies exactly against
    networkx.core_number (also diff-tested in tests/test_algos.py)."""
    _prep(spark)
    from jgtextrank_spark.algos.centrality import core_numbers

    return core_numbers(_doc_edges(spark, sf_dir))


def q_neighborhood_2(spark, sf_dir):
    """Exact 2-hop ball sizes |B(v, 2)| over the doc co-occurrence graph
    (algos/neighborhood.neighborhood_exact — the oracle-replayable twin
    of the HyperBall sketch path, which is diff-tested against it in
    tests/test_algos.py)."""
    _prep(spark)
    from jgtextrank_spark.algos.neighborhood import neighborhood_exact

    return neighborhood_exact(_doc_edges(spark, sf_dir), t=2)


def q_edge_diff(spark, sf_dir):
    """Snapshot diff (weblinks.edge_diff) between the window-2 and
    window-3 co-occurrence graphs: (src, dst, status, weight_a,
    weight_b). Oracle: full-outer join of the two closed-form edge CTEs
    with the same status algebra."""
    _prep(spark)
    from jgtextrank_spark.weblinks import edge_diff

    return edge_diff(
        _doc_edges_w(spark, sf_dir, WINDOW),
        _doc_edges_w(spark, sf_dir, WINDOW + 1),
    )


def q_harmonic_approx(spark, sf_dir):
    """HyperBall harmonic centrality over the doc co-occurrence graph.
    At this vertex count the HLL++ sketches stay in sparse-exact mode, so
    the 'approximate' operator is exactly the closed-form harmonic
    centrality — the DuckDB oracle computes it via a recursive BFS with
    min-distance grouping, summed per distance level exactly like the
    superstep accumulator."""
    _prep(spark)
    from jgtextrank_spark.algos.neighborhood import (
        harmonic_centrality_approx,
    )

    return harmonic_centrality_approx(_doc_edges(spark, sf_dir))


def q_textrank_keywords(spark, sf_dir):
    """Flagship raw-text pipeline, checked against a committed
    REFERENCE-GENERATED golden (goldens/textrank_sf0.01.parquet, built by
    scripts/make_goldens.py: the real reference run on the identical
    tagged stream with sentinel-isolated documents — see the script for
    why that replays per-doc collapse exactly). top_p=1.0 pins the
    reference's only nondeterminism (hash-ordered ties at the top-T
    boundary, NOTES.md); boundary behaviour is diff-tested separately in
    tests/test_textrank.py."""
    _prep(spark)
    from jgtextrank_spark.corpus import build_sentences
    from jgtextrank_spark.textrank import keywords_from_sentences

    pages = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    return keywords_from_sentences(
        build_sentences(pages), window=2, weight_comb="sum",
        top_p=1.0, per_doc_collapse=True,
    )


def q_textrank_gcvalue(spark, sf_dir):
    """The same raw-text pipeline weighted by GC-Value (reference
    metrics.py:303-369): termhood from the containment self-join (the
    rarest-token prefix-filtered join, hot-token-proof — the engine's
    sub-quadratic path), log2(|a|+0.1) length factor, nested-occurrence
    mean subtraction. Checked against a committed REFERENCE-GENERATED
    golden (goldens/textrank_gcvalue_sf0.01.parquet, built by
    scripts/make_goldens.py with the same sentinel-isolation trick as
    the `sum` golden and verified exact at generation time)."""
    _prep(spark)
    from jgtextrank_spark.corpus import build_sentences
    from jgtextrank_spark.textrank import keywords_from_sentences

    pages = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    return keywords_from_sentences(
        build_sentences(pages), window=2, weight_comb="gcvalue",
        top_p=1.0, per_doc_collapse=True,
    )


def _synth_pages(spark, sf_dir):
    """Deterministic Common-Crawl-shaped pages (url, warc_ts, html binary,
    text, lang — the north-rule input table) synthesized from `documents`
    (testdata ships no html column). Each page links to three targets in
    closed form — one absolute cross-host, one root-relative, one
    same-directory relative — plus a javascript: link the resolver must
    drop. The oracle derives the expected edges INDEPENDENTLY from the
    same arithmetic (not by re-running the regexp), so the whole
    extract->resolve path is checked end-to-end."""
    d = F.col("doc_id")
    t1 = (d * 7 + 1) % 997
    t2 = (d * 13 + 3) % 997
    host = F.concat(F.lit("h"), (d % 7).cast("string"), F.lit(".example.org"))
    url = F.concat(
        F.lit("https://"), host, F.lit("/d/"), d.cast("string"),
        F.lit(".html"),
    )
    html = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit('</p><a href="https://h'),
        (t1 % 7).cast("string"),
        F.lit(".example.org/d/"),
        t1.cast("string"),
        F.lit('.html">a</a><a href="/d/'),
        t2.cast("string"),
        F.lit('.html">b</a><a href="rel'),
        t2.cast("string"),
        F.lit('.html">c</a><a href="javascript:void(0)">n</a></body></html>'),
    )
    return _docs(spark, sf_dir).select(
        url.alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.col("text"),
        F.lit("en").alias("lang"),
    )


def q_web_link_edges(spark, sf_dir):
    """Hyperlink extraction -> URL resolution -> page-level link graph
    over the synthesized north-rule pages table."""
    _prep(spark)
    from jgtextrank_spark.weblinks import link_edges

    return link_edges(_synth_pages(spark, sf_dir))


def q_densest_subgraph(spark, sf_dir):
    """Greedy 2*(1+eps)-approximate densest subgraph (Bahmani et al.
    threshold peel) of the simple undirected page link graph. Removal
    and snapshot selection are exact integer arithmetic, so the oracle
    unrolls the ENTIRE peel in SQL (14 rounds; the data empties in ~10,
    post-empty rounds are no-ops)."""
    _prep(spark)
    from jgtextrank_spark.algos.densest import densest_subgraph
    from jgtextrank_spark.weblinks import link_edges

    return densest_subgraph(link_edges(_synth_pages(spark, sf_dir)), eps=0.1)


def q_luby_mis(spark, sf_dir):
    """Luby maximal independent set on the page link graph — per-round
    md5 string-key local minima, so the oracle unrolls the ENTIRE run
    (6 rounds; the data decides in 3, post-empty rounds are no-ops)."""
    _prep(spark)
    from jgtextrank_spark.algos.mis import maximal_independent_set
    from jgtextrank_spark.weblinks import link_edges

    return maximal_independent_set(
        link_edges(_synth_pages(spark, sf_dir)), seed="mis"
    )


def q_maximal_matching(spark, sf_dir):
    """Israeli-Itai maximal matching on the page link graph — edge keys
    are md5-derived strings, min at both endpoints wins; oracle unrolls
    the whole run in SQL."""
    _prep(spark)
    from jgtextrank_spark.algos.mis import maximal_matching
    from jgtextrank_spark.weblinks import link_edges

    return maximal_matching(
        link_edges(_synth_pages(spark, sf_dir)), seed="matching"
    )


def q_landmark_distances(spark, sf_dir):
    """Landmark distance oracle: 4 top-degree landmarks (ties by id),
    all-landmark BFS in one keyed superstep loop over the undirected
    page graph. Oracle re-derives the landmark pick and unrolls 22 BFS
    rounds (the data settles in 19; extra rounds are no-ops)."""
    _prep(spark)
    from jgtextrank_spark.algos.paths import landmark_distances
    from jgtextrank_spark.weblinks import link_edges

    return landmark_distances(
        link_edges(_synth_pages(spark, sf_dir)), num_landmarks=4
    )


def q_mirror_hosts(spark, sf_dir):
    """Mirror-host detection: the 7 original hosts plus two synthesized
    mirror hosts that re-serve every doc_id % 3 == 0 body (split by
    parity). Host-pair Jaccard over normalized content fingerprints;
    closed-form oracle rebuilds the same host/fingerprint sets from the
    doc_id arithmetic."""
    _prep(spark)
    from jgtextrank_spark.weblinks import mirror_host_pairs

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    base = docs.select(
        F.concat(
            F.lit("https://h"), (d % 7).cast("string"),
            F.lit(".example.org/d/"), d.cast("string"), F.lit(".html"),
        ).alias("url"),
        "text",
    )
    mirr = docs.filter(d % 3 == 0).select(
        F.concat(
            F.lit("https://m"), (d % 2).cast("string"),
            F.lit(".mirror.net/"), d.cast("string"), F.lit(".html"),
        ).alias("url"),
        "text",
    )
    return mirror_host_pairs(base.unionByName(mirr), threshold=0.02)


def q_link_prediction(spark, sf_dir):
    """CN / Jaccard / Adamic-Adar link prediction over the symmetrized
    synthesized page link graph (exact mode, no hub guard — the guard is
    unit-tested). Oracle replays the wedge/degree algebra on the
    closed-form edge CTE."""
    _prep(spark)
    from jgtextrank_spark.algos.linkpred import link_prediction
    from jgtextrank_spark.weblinks import link_edges

    return link_prediction(link_edges(_synth_pages(spark, sf_dir)))


def q_cocitation(spark, sf_dir):
    """Co-citation similarity (shared in-links, Small 1973) over the
    synthesized page digraph: n_common = (A^T A)[u,v] + in-link Jaccard
    via one wedge join on the citing page. Oracle replays the wedge
    algebra on the closed-form edge CTE."""
    _prep(spark)
    from jgtextrank_spark.algos.linkpred import cocitation
    from jgtextrank_spark.weblinks import link_edges

    return cocitation(link_edges(_synth_pages(spark, sf_dir)))


def q_bib_coupling(spark, sf_dir):
    """Bibliographic coupling (shared out-links, Kessler 1963) — the
    out-link dual of co-citation; centers are shared targets."""
    _prep(spark)
    from jgtextrank_spark.algos.linkpred import bibliographic_coupling
    from jgtextrank_spark.weblinks import link_edges

    return bibliographic_coupling(link_edges(_synth_pages(spark, sf_dir)))


def q_betweenness_pages(spark, sf_dir):
    """EXACT Brandes betweenness (all sources, undirected, unnormalized)
    on the synthesized page link graph via the level-synchronous
    multi-source-vectorized sweep. Data-dependent round count, so the
    oracle is a committed golden verified at generation time against
    nx.betweenness_centrality to 1e-9 with a rounding-boundary-distance
    check (scripts/make_goldens.py)."""
    _prep(spark)
    from jgtextrank_spark.algos.betweenness import betweenness_sampled
    from jgtextrank_spark.weblinks import link_edges

    out = betweenness_sampled(link_edges(_synth_pages(spark, sf_dir)))
    return out.select(
        "vertex", F.round("betweenness", 6).alias("betweenness")
    )


PPR_SEEDS = [
    "https://h0.example.org/d/0.html",
    "https://h1.example.org/d/1.html",
    "https://h2.example.org/d/2.html",
]
PPR_ITERS = 10  # fixed supersteps for the SQL-comparable multi-seed PPR


def q_ppr_multi_seed(spark, sf_dir):
    """Three concurrent personalized PageRanks (related-pages PPR) on the
    synthesized page digraph, vectorized in one (seed, vertex)-keyed
    plan; dense mode so unreached vertices carry exact 0.0. Oracle is
    the unrolled per-seed recurrence (teleport + dangling mass to the
    seed) over the closed-form edge CTE."""
    _prep(spark)
    from jgtextrank_spark.algos.pagerank import pagerank_multi_seed
    from jgtextrank_spark.weblinks import link_edges

    out = pagerank_multi_seed(
        link_edges(_synth_pages(spark, sf_dir)),
        PPR_SEEDS,
        max_iter=PPR_ITERS,
        dense=True,
    )
    return out.select(
        "seed", "vertex", F.round("score", 6).alias("score")
    )


WS_K = 40  # weighted-sample size for the gate row


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sample (k rows, weight = token count
    + 1) over documents — the weighted-without-replacement draw corpus
    mixing uses. Deterministic md5 uniforms; oracle replays -ln(u)/w
    ranking bit-for-bit (the k-boundary gap is O(1/n), far above libm
    ulp differences)."""
    _prep(spark)
    from jgtextrank_spark.functions.sampling import weighted_sample_k
    from jgtextrank_spark.functions.textstats import tokens_expr

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.size(tokens_expr("text")).cast("double") + 1.0).alias("wt"),
    )
    out = weighted_sample_k(docs, "wt", WS_K)
    return out.select("doc_id", "es_rank")


def q_canonical_urls(spark, sf_dir):
    """rel=canonical extraction over synthesized pages: even docs carry
    rel-before-href, odd docs href-before-rel (root-relative target with
    an &amp; entity), every 5th doc has none. Oracle reconstructs the
    resolved canonical in closed form from the doc_id arithmetic."""
    _prep(spark)
    from jgtextrank_spark.weblinks import extract_canonical_urls

    d = F.col("doc_id")
    t1 = (d * 7 + 1) % 997
    url = F.concat(
        F.lit("https://h"), (d % 7).cast("string"),
        F.lit(".example.org/d/"), d.cast("string"), F.lit(".html"),
    )
    link = F.when(
        d % 5 == 0, F.lit("<p>none</p>")
    ).when(
        d % 2 == 0,
        F.concat(
            F.lit('<link rel="canonical" href="/c/'),
            t1.cast("string"),
            F.lit('.html?a=1&amp;b=2"><p>x</p>'),
        ),
    ).otherwise(
        F.concat(
            F.lit("<link href='/c/"),
            t1.cast("string"),
            F.lit(".html?a=1&amp;b=2' rel='canonical'><p>x</p>"),
        )
    )
    pages = _docs(spark, sf_dir).select(
        url.alias("url"), F.encode(link, "utf-8").alias("html")
    )
    return extract_canonical_urls(pages)


def q_sitemap_urls(spark, sf_dir):
    """Sitemap <loc> extraction over synthesized XML: every 5th doc is a
    <sitemapindex> (kind='sitemap'), the rest <urlset> entries with a
    whitespace-padded loc and an &amp; entity. Oracle derives every row
    in closed form."""
    _prep(spark)
    from jgtextrank_spark.weblinks import extract_sitemap_urls

    d = F.col("doc_id")
    t1 = (d * 7 + 1) % 997
    origin = F.concat(
        F.lit("https://h"), (d % 7).cast("string"), F.lit(".example.org")
    )
    sm_url = F.concat(
        origin, F.lit("/sm/"), d.cast("string"), F.lit(".xml")
    )
    xml = F.when(
        d % 5 == 0,
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>"),
            origin,
            F.lit("/sm/child"),
            t1.cast("string"),
            F.lit(".xml</loc></sitemap></sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<urlset><url><loc> "),
            origin,
            F.lit("/d/"),
            t1.cast("string"),
            F.lit(".html </loc></url><url><loc>"),
            origin,
            F.lit("/q?a=1&amp;b=2</loc></url></urlset>"),
        )
    )
    sitemaps = _docs(spark, sf_dir).select(
        sm_url.alias("url"), xml.alias("xml")
    )
    return extract_sitemap_urls(sitemaps)


def q_domain_stats(spark, sf_dir):
    """Per-registrable-domain corpus rollup over synthesized hosts
    covering every suffix branch (co.uk second-level, plain TLD,
    single-label, IPv4; multiple hosts per domain via the doc_id
    arithmetic). Oracle derives each doc's domain in CLOSED FORM and
    replays the rollup — independent of the suffix-split algebra."""
    _prep(spark)
    from jgtextrank_spark.weblinks import domain_stats

    d = F.col("doc_id")
    host = (
        F.when(
            d % 6 == 0,
            F.concat(
                F.lit("a"),
                (F.floor(d / 6) % 3).cast("string"),
                F.lit(".news.co.uk"),
            ),
        )
        .when(d % 6 == 1, F.lit("b.example.org"))
        .when(d % 6 == 2, F.lit("www.example.org"))
        .when(d % 6 == 3, F.lit("shop.com.au"))
        .when(d % 6 == 4, F.lit("localhost"))
        .otherwise(F.lit("10.0.0.1"))
    )
    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://"), host, F.lit("/p/"), d.cast("string")
        ).alias("url"),
        "text",
    )
    return domain_stats(pages)


def q_robots_filter(spark, sf_dir):
    """RFC 9309 robots politeness over the synthesized page URLs:
    per-host robots bodies exercise grouping (catch-all vs named
    'graftbot' groups on even hosts), wildcard rules (/d/1*), and the
    longest-match-with-allow-tie (/d/12 vs /d/1*). The oracle derives
    every verdict in CLOSED FORM from the doc_id arithmetic — fully
    independent of the parser and matcher."""
    _prep(spark)
    from jgtextrank_spark.crawl import robots_filter

    k = F.col("id")
    robots = spark.range(7).select(
        F.concat(
            F.lit("h"), k.cast("string"), F.lit(".example.org")
        ).alias("host"),
        F.concat(
            F.lit(
                "# synthetic robots\nUser-agent: *\n"
                "Disallow: /d/1*\nAllow: /d/12\n"
            ),
            F.when(
                k % 2 == 0,
                F.lit("User-agent: graftbot\nDisallow: /d/9*\n"),
            ).otherwise(F.lit("")),
        ).alias("robots_txt"),
    )
    frontier = _synth_pages(spark, sf_dir).select("url")
    out = robots_filter(frontier, robots, agent="graftbot")
    # no-match rows carry NULL rule/path; the gate comparator sorts
    # mixed-type tuples, so map them to '' here and in the oracle
    return out.select(
        "url",
        "host",
        "allowed",
        F.coalesce("matched_rule", F.lit("")).alias("matched_rule"),
        F.coalesce("matched_path", F.lit("")).alias("matched_path"),
    )


def q_hits_hosts(spark, sf_dir):
    """HITS hubs/authorities on the directed weighted host graph, fixed
    supersteps (nx semantics: raw a = A^T h, raw h = A a, per-iteration
    max-normalization, final sum-normalization). Oracle is the unrolled
    MATERIALIZED CTE chain of the same recurrence."""
    _prep(spark)
    from jgtextrank_spark.algos.centrality import hits
    from jgtextrank_spark.weblinks import host_edges, link_edges

    he = host_edges(link_edges(_synth_pages(spark, sf_dir)))
    out = hits(he, max_iter=HITS_ITERS, tol=0.0, checkpoint_every=0)
    return out.select(
        "vertex",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def q_anchor_text(spark, sf_dir):
    """Anchor-text index (dst, anchor, n) over the synthesized pages:
    labels 'a'/'b'/'c' per link class, javascript anchors dropped, self
    links dropped. Oracle derives the expected rows in closed form from
    the page arithmetic — independent of the anchor regexes."""
    _prep(spark)
    from jgtextrank_spark.weblinks import anchor_text_table

    return anchor_text_table(_synth_pages(spark, sf_dir))


def q_bowtie_pages(spark, sf_dir):
    """Broder bow-tie regions of the synthesized page digraph
    (CORE/IN/OUT/TUBE/TENDRIL/DISCONNECTED) via distributed SCC + four
    frontier reachability fixpoints. Oracle: transitive closure +
    mutual-reachability + region CASE in DuckDB."""
    _prep(spark)
    from jgtextrank_spark.algos.scc import bowtie_decomposition
    from jgtextrank_spark.weblinks import link_edges

    return bowtie_decomposition(link_edges(_synth_pages(spark, sf_dir)))


def q_salsa_pages(spark, sf_dir):
    """SALSA hub/authority scores on the synthesized page link graph via
    the Lempel-Moran closed form (bipartite-support connected components
    + degree algebra — zero iteration). Oracle replays components with a
    recursive CTE and mirrors the entitlement arithmetic."""
    _prep(spark)
    from jgtextrank_spark.algos.salsa import salsa
    from jgtextrank_spark.weblinks import link_edges

    out = salsa(link_edges(_synth_pages(spark, sf_dir)))
    return out.select(
        "vertex",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def q_web_text_extract(spark, sf_dir):
    """HTML -> visible-text extraction over the synthesized pages. The
    oracle reconstructs the expected text in closed form (document text
    + the four anchor labels), independent of the tag-stripping regexps."""
    _prep(spark)
    from jgtextrank_spark.weblinks import extract_page_text

    return extract_page_text(_synth_pages(spark, sf_dir))


def q_web_host_pagerank(spark, sf_dir):
    """North-star flagship shape: pages -> hyperlink edges -> host-graph
    rollup -> DIRECTED weighted PageRank (fixed supersteps; oracle is the
    dangling-aware unrolled CTE chain over the closed-form host edges)."""
    _prep(spark)
    from jgtextrank_spark.algos.pagerank import pagerank
    from jgtextrank_spark.weblinks import host_edges, link_edges

    he = host_edges(link_edges(_synth_pages(spark, sf_dir)))
    scores = pagerank(he, max_iter=PR_ITERS, tol=0.0, checkpoint_every=0)
    return scores.select("vertex", F.round("score", 6).alias("score"))


def q_url_canonical(spark, sf_dir):
    """URL canonicalization (weblinks.canonicalize_url) over messy
    synthesized URLs covering every branch: mixed-case scheme/host,
    case-sensitive userinfo (with a colon — must not defeat the
    default-port strip or be lowercased), default and non-default ports,
    valid/invalid percent escapes, and a bare trailing '%'. Oracle
    replays the same algebra in DuckDB with list ops."""
    _prep(spark)
    from jgtextrank_spark.weblinks import canonicalize_url

    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("https://")),
        F.when(d % 5 == 0, F.lit("User:P%4ass@")).otherwise(F.lit("")),
        F.lit("H"), (d % 7).cast("string"), F.lit(".Example.ORG"),
        F.when(d % 4 == 0, F.lit(":80"))
        .when(d % 4 == 1, F.lit(":443"))
        .when(d % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/D/"), d.cast("string"), F.lit("%2f"),
        d.cast("string"), F.lit("%zz/x.html?a=%3a&b=100%"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", canonicalize_url(url).alias("url")
    )


def q_bfs_depth(spark, sf_dir):
    """Crawl-depth labeling: multi-source BFS over the synthesized page
    link graph from the host-h0 pages (frontier-only supersteps; dist
    NULL = unreachable). Oracle: bounded recursive-CTE reachability with
    min-hop aggregation over the closed-form edge CTE."""
    _prep(spark)
    from jgtextrank_spark.algos.paths import bfs_distances
    from jgtextrank_spark.weblinks import link_edges

    pages = _synth_pages(spark, sf_dir)
    seeds = pages.filter(F.col("url").startswith("https://h0.")).select(
        F.col("url").alias("id")
    )
    out = bfs_distances(link_edges(pages), seeds, checkpoint_every=0)
    # unreachable -> -1 sentinel: the gate comparer sorts row tuples, so
    # output columns must be NULL-free (library semantics stay NULL)
    return out.select(
        "vertex", F.coalesce("dist", F.lit(-1)).alias("dist")
    )


def q_sssp_pages(spark, sf_dir):
    """Weighted SSSP (distributed Bellman-Ford, frontier-relaxation)
    over the synthesized page link graph from the host-h0 pages; edge
    cost = link multiplicity (integral doubles, so path sums are exact
    and the min is order-independent). Oracle: the same relaxation
    unrolled as MATERIALIZED min-join CTEs (monotone fixpoint — extra
    rounds are no-ops)."""
    _prep(spark)
    from jgtextrank_spark.algos.paths import sssp
    from jgtextrank_spark.weblinks import link_edges

    pages = _synth_pages(spark, sf_dir)
    seeds = pages.filter(F.col("url").startswith("https://h0.")).select(
        F.col("url").alias("id")
    )
    out = sssp(link_edges(pages), seeds, checkpoint_every=0)
    return out.select(
        "vertex",
        F.coalesce(F.round("dist", 6), F.lit(-1.0)).alias("dist"),
    )


def q_redirect_resolution(spark, sf_dir):
    """Redirect-chain resolution (paths.resolve_redirects): pointer
    doubling over a deterministic synthesized redirect table — chains of
    length ≤6 ending at doc_id%10==0 terminals, 2-cycles on the 8/9
    residues, a multi-target source taking the min dst. Oracle unrolls
    16 single-step follows (enough for every terminating chain; cycle
    rows stay unresolved on both sides)."""
    _prep(spark)
    from jgtextrank_spark.algos.paths import resolve_redirects

    d = F.col("doc_id")
    m = d % 10
    u = F.concat(F.lit("https://r.example.org/u/"), d.cast("string"))
    tgt = (
        F.when((m >= 1) & (m <= 6), d - 1)
        .when(m == 8, d + 1)
        .when(m == 9, d - 1)
    )
    redirects = (
        _docs(spark, sf_dir)
        .select(
            u.alias("src"),
            F.concat(
                F.lit("https://r.example.org/u/"), tgt.cast("string")
            ).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
    )
    out = resolve_redirects(redirects, max_hops=16)
    return out.select(
        "src",
        F.coalesce("final", F.lit("")).alias("final"),
        F.coalesce("hops", F.lit(-1)).alias("hops"),
        "resolved",
    )


def q_graph_stats_directed(spark, sf_dir):
    """Directed-graph scalars over the synthesized page link graph:
    overall reciprocity (reverse-edge fraction) and global transitivity
    (3*triangles / connected triples on the undirected projection).
    Oracle mirrors the exact arithmetic expression shape (single IEEE
    division over integral doubles) before the 6-dp round."""
    _prep(spark)
    from jgtextrank_spark.algos.graphstats import reciprocity, transitivity
    from jgtextrank_spark.weblinks import link_edges

    edges = link_edges(_synth_pages(spark, sf_dir))
    rec = reciprocity(edges)
    tra = transitivity(edges)
    return spark.createDataFrame(
        [(round(rec, 6), round(tra, 6))],
        "reciprocity double, transitivity double",
    )


def q_rich_club(spark, sf_dir):
    """Rich-club coefficient phi(k) per degree threshold over the token
    co-occurrence graph (nx.rich_club_coefficient(normalized=False)
    semantics). Oracle replays the suffix-count algebra with correlated
    counts over the degree/min-endpoint-degree histograms."""
    _prep(spark)
    from jgtextrank_spark.algos.graphstats import rich_club

    out = rich_club(_doc_edges(spark, sf_dir))
    return out.select("k", F.round("phi", 6).alias("phi"))


def q_boilerplate_lines(spark, sf_dir):
    """CCNet-style boilerplate line removal over documents with
    deterministically injected boilerplate (the raw corpus is
    single-line): every doc gets a NAVBAR line, every even doc a COOKIE
    line, every doc a unique uid line — at min_count=3 exactly the
    NAVBAR/COOKIE lines are corpus-frequent and dropped (plus any
    natural >=3x body-text repeats, which the oracle counts the same
    way). Oracle replays the two-pass count + FILTERed ordered
    string_agg in DuckDB."""
    _prep(spark)
    from jgtextrank_spark.functions.curation import remove_boilerplate_lines

    d = F.col("doc_id")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("NAVBAR Home About Contact"),
            F.col("text"),
            F.when(d % 2 == 0, F.lit("COOKIE consent accept all")),
            F.concat(F.lit("uid "), d.cast("string")),
        ).alias("text"),
    )
    return remove_boilerplate_lines(docs, min_count=3)


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023) for target-shaped data
    selection: every document scored by Σ c_b·(log p_en(b) − log
    p_all(b)) over hashed unigram+bigram buckets, target = the corpus's
    lang='en' slice. The oracle replays the md5 buckets, add-one bucket
    distributions and log-ratio rollup."""
    _prep(spark)
    from jgtextrank_spark.functions.lm import dsir_weights

    docs = _docs(spark, sf_dir)
    return dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=DSIR_BUCKETS
    )


def q_feature_hash(spark, sf_dir):
    """Signed hashing-trick n-gram featurizer (HashingVectorizer / VW
    scheme): sparse (doc_id, idx, value) with md5 bucket + independent
    md5 sign — a fixed-width vector space with no vocabulary build, the
    way corpus-scale quality classifiers featurize. Oracle replays the
    bucket/sign algebra gram-for-gram (unigrams + adjacent bigrams)."""
    _prep(spark)
    from jgtextrank_spark.functions.search import feature_hash_vectors

    return feature_hash_vectors(_docs(spark, sf_dir), n_features=FH_FEATURES)


def q_pack_chunks(spark, sf_dir):
    """GPT-style concat-and-chunk sequence-packing plan over documents:
    per md5-shard, docs laid end-to-end in doc_id order, token stream
    sliced into PACK_CONTEXT-token windows. One hash exchange + a
    per-shard window cumsum, no join, no global sort; oracle replays the
    identical cumsum/integer-division algebra."""
    _prep(spark)
    from jgtextrank_spark.functions.packing import pack_concat_chunk

    return pack_concat_chunk(
        _docs(spark, sf_dir), context_len=PACK_CONTEXT, n_shards=PACK_SHARDS
    )


def q_pack_greedy(spark, sf_dir):
    """Greedy whole-document packing (first-fit in doc_id order per
    md5-shard, oversized docs truncated to a full bin). Sequential
    first-fit state runs as ONE Arrow applyInPandas group per shard;
    the oracle replays it with a per-shard recursive CTE."""
    _prep(spark)
    from jgtextrank_spark.functions.packing import pack_greedy

    return pack_greedy(
        _docs(spark, sf_dir), context_len=PACK_CONTEXT, n_shards=PACK_SHARDS
    )


def q_token_count(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.textstats import token_count

    return token_count(_docs(spark, sf_dir))


def q_bpe_token_count(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.textstats import bpe_ish_token_count

    return bpe_ish_token_count(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.textstats import lang_id

    return lang_id(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.textstats import quality_score

    return quality_score(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def q_readability(spark, sf_dir):
    """Flesch reading-ease + word/sentence/syllable counts — map-only
    column algebra, formula mirrored term-for-term in the oracle."""
    _prep(spark)
    from jgtextrank_spark.functions.textstats import readability

    return readability(_docs(spark, sf_dir))


def q_word_entropy(spark, sf_dir):
    """Unigram word entropy (bits) per doc — explode + two partial
    aggregations; oracle replays the log2 algebra."""
    _prep(spark)
    from jgtextrank_spark.functions.textstats import word_entropy

    return word_entropy(_docs(spark, sf_dir))


def q_url_strip_tracking(spark, sf_dir):
    """strip_tracking_params over URLs synthesized with four query-string
    shapes from doc_id arithmetic; the oracle states the expected output
    in CLOSED FORM (not by re-running the regex)."""
    _prep(spark)
    from jgtextrank_spark.weblinks import strip_tracking_params

    d = F.col("doc_id")
    base = F.concat(
        F.lit("https://h"), (d % 7).cast("string"),
        F.lit(".example.org/p/"), d.cast("string"),
    )
    url = F.concat(
        base,
        F.when(d % 4 == 0, F.concat(F.lit("?utm_source=x&q="), d.cast("string")))
        .when(d % 4 == 1, F.concat(F.lit("?q="), d.cast("string"), F.lit("&fbclid=zz")))
        .when(d % 4 == 2, F.lit("?utm_campaign=c&utm_medium=m"))
        .otherwise(F.lit("?a=1&b=2#f")),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        url.alias("url"),
        strip_tracking_params(url).alias("clean_url"),
    )


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (curation.repetition_signals) over
    documents with deterministically injected duplicate lines (the raw
    corpus is single-line, so line duplication is synthesized: two copies
    of the 40-char prefix plus a unique id line). Bigram/trigram
    fractions run on the real token streams. Oracle replays the line
    algebra with DuckDB list ops and the gram counts with
    generate_series unnesting."""
    _prep(spark)
    from jgtextrank_spark.functions.curation import repetition_signals

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.substring("text", 1, 40),
            F.substring("text", 1, 40),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return repetition_signals(docs)


def q_pii_scrub(spark, sf_dir):
    """PII scrub (curation.pii_scrub) over documents with deterministic
    synthesized PII appended (the corpus has none): every doc gets an
    email, every third a phone, every fourth an IPv4 — so zero and
    non-zero counts and all three redactions are exercised. Oracle
    replays the same regexes in DuckDB (RE2 ∩ Java-regex subset)."""
    _prep(spark)
    from jgtextrank_spark.functions.curation import pii_scrub

    d = F.col("doc_id")
    extra = F.concat(
        F.lit(" reach u"), d.cast("string"),
        F.lit("@ex"), (d % 5).cast("string"), F.lit(".org"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(F.lit(" from 10."), (d % 256).cast("string"),
                     F.lit(".0.7")),
        ).otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), extra).alias("text")
    )
    return pii_scrub(docs)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (curation.decontaminate, n=8): the
    benchmark table is the 12-token prefix of every 50th document, so
    those documents (and any doc sharing an exact 8-gram — the tiny
    synthetic vocabulary makes cross-hits real) must flag. Oracle builds
    the same gram sets via generate_series + list slicing."""
    _prep(spark)
    from jgtextrank_spark.functions.curation import decontaminate
    from jgtextrank_spark.functions.textstats import tokens_expr

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 50 == 0).select(
        F.array_join(F.slice(tokens_expr("text"), 1, 12), " ").alias("text")
    )
    return decontaminate(docs, bench, n=8)


def q_dedup_exact(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


def q_fix_mojibake(spark, sf_dir):
    """Mojibake detect+repair over synthesized corruption: every third
    document's text (plus an accented suffix) is UTF-8-read-as-Latin-1
    corrupted IN SPARK via the same byte algebra the fixer inverts; the
    oracle reconstructs the expected repaired text in CLOSED FORM (the
    original concat) without any charset ops — so detection *and* repair
    are checked end-to-end against an independent derivation."""
    _prep(spark)
    from jgtextrank_spark.functions.curation import fix_mojibake

    docs = _docs(spark, sf_dir)
    orig = F.concat(F.col("text"), F.lit(" café naïve é"))
    moji = F.decode(F.encode(orig, "UTF-8"), "ISO-8859-1")
    corrupted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, moji)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return fix_mojibake(corrupted)


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide first-occurrence paragraph dedup (CCNet line dedup)
    over synthesized multi-paragraph docs: each document's text plus a
    globally repeated newsletter line and a per-host-group copyright
    line — the newsletter survives once corpus-wide, each copyright once
    per host group, and duplicate document bodies collapse to their
    first occurrence. Oracle replays the md5-normalized first-occurrence
    window bit-for-bit in DuckDB."""
    _prep(spark)
    from jgtextrank_spark.functions.dedup import paragraph_dedup

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nSubscribe to our newsletter.\nCopyright 2024 h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org"),
        ).alias("text"),
    )
    return paragraph_dedup(docs)


def q_dedup_ngram_jaccard(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        n=NGRAM_N,
        threshold=JACCARD_T,
        max_shingle_freq=10**9,
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _docs(spark, sf_dir), n=NGRAM_N, bands=8, rows_per_band=2,
        verify_threshold=JACCARD_T,
    )


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs. All bit algebra is md5-seeded and
    deterministic, so the DuckDB oracle replays the 48-bit signatures and
    the pigeonhole block join bit-for-bit."""
    _prep(spark)
    from jgtextrank_spark.functions.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(_docs(spark, sf_dir), max_hamming=10).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


EMB_BUCKET_DIMS = 4  # sign-pattern bucket prefix for the near-dup gate


def q_embedding_near_dup(spark, sf_dir):
    """Bucketed embedding near-dup (the scale path: sign-pattern buckets
    on the first EMB_BUCKET_DIMS dimensions, join linear in bucket sizes).
    The DuckDB oracle replays the same bucketing deterministically."""
    _prep(spark)
    from jgtextrank_spark.functions.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _emb(spark, sf_dir), threshold=0.35, bucket_dims=EMB_BUCKET_DIMS
    )


def q_ann_cosine_topk(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.similarity import cosine_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    return cosine_topk(emb, queries, k=ANN_K).select(
        F.col("q_id").alias("q_id"),
        F.col("n_id").alias("n_id"),
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


LSH_BUCKET_DIMS = 6


def q_ann_lsh_topk(spark, sf_dir):
    """Bucketed approximate ANN. The sign-pattern buckets + hamming-1
    multiprobe are deterministic, so the DuckDB oracle replays them
    exactly (recall vs the exact path is additionally measured in tests)."""
    _prep(spark)
    from jgtextrank_spark.functions.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    return lsh_topk(
        emb, queries, k=ANN_K, bucket_dims=LSH_BUCKET_DIMS
    ).select(
        "q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


IVF_CENTROIDS = 16
IVF_PROBE = 2


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat approximate ANN. The coarse index is a deterministic
    md5-seeded sample, so the DuckDB oracle rebuilds the identical
    inverted lists and probes."""
    _prep(spark)
    from jgtextrank_spark.functions.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    return ivf_topk(
        emb, queries, k=ANN_K, n_centroids=IVF_CENTROIDS, n_probe=IVF_PROBE
    ).select(
        "q_id", "n_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (ADC scan): corpus compressed to
    PQ_M codes per vector against md5-seeded per-block codebooks; a
    query scans with per-block distance-table lookups — the 100 TB
    memory path (m bytes per vector instead of 4·d). Gate runs the
    replayable kmeans_iters=0 codebook (the IVF convention); the Lloyd
    refinement's recall lift is measured in tests."""
    _prep(spark)
    from jgtextrank_spark.functions.similarity import pq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    return pq_topk(
        emb, queries, k=ANN_K, m_subvectors=PQ_M, n_codes=PQ_CODES
    ).select(
        "q_id", "n_id", "adc_d2", F.col("rank").cast("long").alias("rank")
    )


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composition: probed inverted lists (sublinear candidates)
    + PQ/ADC code scoring (m lookups per candidate) — the production
    100 TB ANN layout. Every stage is md5-seeded/deterministic, so the
    oracle replays coarse assignment, probes, codes and the ADC fold
    end-to-end."""
    _prep(spark)
    from jgtextrank_spark.functions.similarity import ivfpq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    return ivfpq_topk(
        emb,
        queries,
        k=ANN_K,
        n_centroids=IVF_CENTROIDS,
        n_probe=IVF_PROBE,
        m_subvectors=PQ_M,
        n_codes=PQ_CODES,
    ).select(
        "q_id", "n_id", "adc_d2", F.col("rank").cast("long").alias("rank")
    )


def q_multimodal_meta(spark, sf_dir):
    _prep(spark)
    from jgtextrank_spark.functions.multimodal import media_metadata

    payloads = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return media_metadata(payloads).select(
        "doc_id", "media_type", "n_bytes", "magic"
    )


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (Sennrich et al. 2016) on the documents
    corpus: 8 merge rounds, returning the merge table (rank, left,
    right, merged, freq) a subword tokenizer consumes. Deterministic
    (count DESC, left ASC, right ASC tie-break); the oracle unrolls all
    8 rounds — pair counts, argmax, and the greedy left-to-right merge
    via gaps-and-islands position parity. Scale shape: one corpus-scale
    word count, then vocab-sized rounds (one scalar action each)."""
    _prep(spark)
    from jgtextrank_spark.functions.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), merges=BPE_MERGES)


def q_bpe_segment(spark, sf_dir):
    """Apply the trained BPE merge table back to its training corpus'
    vocabulary: (word, freq, segmentation). Sequential rank-order
    application of one-pass merges is exactly the training evolution,
    so the oracle is the training unroll's final symbol table —
    checking both the apply fold chain and that identity."""
    _prep(spark)
    from jgtextrank_spark.functions.bpe import bpe_apply, bpe_train

    docs = _docs(spark, sf_dir)
    rules = bpe_train(docs, merges=BPE_MERGES)
    return bpe_apply(docs, rules).select(
        "word", "freq", F.array_join("tokens", " ").alias("segmentation")
    )


def q_top_tokens(spark, sf_dir):
    """Global top-100 tokens. The heavy ranking is orderBy+limit
    (TakeOrderedAndProject: per-partition partial top-k, merged on the
    driver); the row_number window only runs over the 100 surviving rows."""
    _prep(spark)
    from jgtextrank_spark.functions.textstats import tokens_expr
    from pyspark.sql import Window

    toks = _docs(spark, sf_dir).select(
        F.explode(tokens_expr("text")).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(100)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "token", "cnt", F.col("rank").cast("long").alias("rank")
    )


def q_prf_eval(spark, sf_dir):
    """Precision/recall/F1 eval operators (SURVEY §2.8) over a
    deterministic pseudo-gold set (tokens whose md5 starts with 0-3) vs
    the top-10 most frequent tokens."""
    _prep(spark)
    from jgtextrank_spark.functions.textstats import tokens_expr

    toks = _docs(spark, sf_dir).select(
        F.explode(tokens_expr("text")).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # top-10 via orderBy+limit (TakeOrderedAndProject), broadcast back;
    # all three counters fused into ONE aggregate action over the vocab.
    topk = (
        vocab.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(10)
        .select("token", F.lit(True).alias("is_test"))
    )
    is_gold = F.substring(F.md5("token"), 1, 1).isin("0", "1", "2", "3")
    stats = (
        vocab.join(F.broadcast(topk), "token", "left")
        .agg(
            F.sum(
                F.when(F.col("is_test") & is_gold, 1).otherwise(0)
            ).alias("i"),
            F.sum(F.when(F.col("is_test"), 1).otherwise(0)).alias("nt"),
            F.sum(F.when(is_gold, 1).otherwise(0)).alias("ng"),
        )
        .collect()[0]
    )
    inter, n_test, n_gold = stats["i"] or 0, stats["nt"] or 0, stats["ng"] or 0
    p = inter / n_test if n_test else 0.0
    r = inter / n_gold if n_gold else 0.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return spark.createDataFrame(
        [(round(p, 6), round(r, 6), round(f1, 6))],
        "precision double, recall double, f1 double",
    )


def q_lineitem_pricing(spark, sf_dir):
    """TPC-H-Q1-style pricing rollup over lineitem — the canonical
    partial-aggregation shape (map-side combine -> one exchange)."""
    _prep(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_orders_by_nation(spark, sf_dir):
    """Orders revenue per customer nation — broadcast-dim star join
    (nation and customer broadcast under the 64MB threshold; the only
    wide exchange is the final aggregation)."""
    _prep(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == cust["c_custkey"],
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


def q_events_daily(spark, sf_dir):
    _prep(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


SPAN_K = 5  # duplicate-span gate: minimal duplicated run length (tokens)
BM25_K = 5  # BM25 gate: top-k per query
BM25_QMOD = 101  # BM25 gate: queries = first 4 tokens of docs with id%MOD==7
SG_WINDOW = 2  # skip-gram context window over the walk corpus
QUOTA_N = 20  # stratified-sample gate: docs kept per language
TEMP_ALPHA = 0.5  # temperature-mixture gate: alpha


def q_duplicate_spans(spark, sf_dir):
    """Exact substring (duplicate-span) dedup, Lee et al. 2022 style:
    maximal token spans >= SPAN_K occurring >= 2 times in the corpus."""
    _prep(spark)
    from jgtextrank_spark.functions.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), k=SPAN_K)


def q_strip_spans(spark, sf_dir):
    """Span-dedup APPLICATION: duplicated spans removed keeping one
    canonical occurrence per distinct span text (min (doc_id, start))."""
    _prep(spark)
    from jgtextrank_spark.functions.dedup import strip_duplicate_spans

    return strip_duplicate_spans(_docs(spark, sf_dir), k=SPAN_K)


def q_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval; queries are derived deterministically from
    the corpus itself (first 4 tokens of every doc with
    doc_id % BM25_QMOD == 7), so the gate needs no external query set."""
    _prep(spark)
    from jgtextrank_spark.functions.search import bm25_topk
    from jgtextrank_spark.functions.textstats import tokens_expr

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % BM25_QMOD == 7).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokens_expr("text"), 1, 4)).alias("text"),
    )
    return bm25_topk(docs, queries, k=BM25_K)


def q_tfidf(spark, sf_dir):
    """Full sparse TF-IDF table (sklearn-smoothed idf) over documents."""
    _prep(spark)
    from jgtextrank_spark.functions.search import tfidf_vectors

    return tfidf_vectors(_docs(spark, sf_dir))


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware dedup keep policy: MinHash-LSH clusters with the
    highest-quality member kept per cluster (ties to smallest doc_id);
    singletons kept. Oracle composes the dedup_clusters closure with the
    quality_score composite and the same per-cluster window."""
    _prep(spark)
    from jgtextrank_spark.functions.dedup import (
        dedup_keep_best,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        docs, n=NGRAM_N, bands=8, rows_per_band=2,
        verify_threshold=JACCARD_T,
    )
    return dedup_keep_best(docs, pairs)


def q_dedup_clusters(spark, sf_dir):
    """MinHash-LSH pairs -> connected components -> canonical survivor:
    the end-to-end corpus-dedup composition (pair source and CC solver
    are the gate-proven operators)."""
    _prep(spark)
    from jgtextrank_spark.functions.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), n=NGRAM_N, bands=8, rows_per_band=2,
        verify_threshold=JACCARD_T,
    )
    return dedup_clusters(pairs)


def _gate_walks(spark, sf_dir):
    from jgtextrank_spark.algos.walks import random_walks
    from jgtextrank_spark.graph import symmetrize

    return random_walks(
        symmetrize(_doc_edges(spark, sf_dir)),
        walks_per_vertex=1,
        walk_length=WALK_STEPS,
        seed=WALK_SEED,
    )


def q_skipgram_pairs(spark, sf_dir):
    """DeepWalk corpus step: (center, context, n) skip-gram pairs within
    SG_WINDOW steps on the gate's replayable random-walk set."""
    _prep(spark)
    from jgtextrank_spark.algos.walks import skipgram_pairs

    return skipgram_pairs(_gate_walks(spark, sf_dir), window=SG_WINDOW)


def q_negative_sampling(spark, sf_dir):
    """word2vec negative-sampling distribution (count^0.75 normalized)
    over the same walk corpus."""
    _prep(spark)
    from jgtextrank_spark.algos.walks import negative_sampling_table

    return negative_sampling_table(_gate_walks(spark, sf_dir))


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language quota sample (QUOTA_N docs per lang by
    ascending md5-uniform) — training-mix construction."""
    _prep(spark)
    from jgtextrank_spark.functions.sampling import stratified_quota_sample

    return stratified_quota_sample(
        _docs(spark, sf_dir), "lang", quota=QUOTA_N
    ).select("doc_id", "lang", "sample_rank")


def q_temperature_mixture(spark, sf_dir):
    """Temperature (alpha) mixture weights over languages: p_mix ∝
    p_raw^alpha with per-stratum boost factors."""
    _prep(spark)
    from jgtextrank_spark.functions.sampling import (
        temperature_mixture_weights,
    )

    return temperature_mixture_weights(
        _docs(spark, sf_dir), "lang", alpha=TEMP_ALPHA
    )


CRAWL_RATE = 3  # crawl-schedule gate: max fetches per host per wave


def q_crawl_frontier(spark, sf_dir):
    """Crawl loop: frontier discovery (link dsts not yet crawled, with
    discovery in-degree) + politeness scheduling (per-host waves of
    CRAWL_RATE). Oracle re-derives the frontier from the synthetic
    pages' closed-form link arithmetic."""
    _prep(spark)
    from jgtextrank_spark.crawl import crawl_schedule, frontier_urls
    from jgtextrank_spark.weblinks import link_edges

    pages = _synth_pages(spark, sf_dir)
    frontier = frontier_urls(link_edges(pages), pages.select("url"))
    return crawl_schedule(frontier, per_host_rate=CRAWL_RATE)


def q_butterflies(spark, sf_dir):
    """Bipartite butterfly (4-cycle) counts per document over the
    doc<->token incidence structure."""
    _prep(spark)
    from jgtextrank_spark.algos.bipartite import butterfly_counts

    from jgtextrank_spark.functions.textstats import tokens_expr

    incidence = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("left"),
        F.explode(tokens_expr("text")).alias("right"),
    )
    return butterfly_counts(incidence).withColumnRenamed(
        "vertex", "doc_id"
    )


WL_ITERS = 2  # Weisfeiler-Lehman refinement depth for the gate
LM_ALPHA = 0.4  # stupid-backoff discount for the bigram LM gate
PMI_MIN = 5  # collocation gate: minimum bigram count


def q_wl_fingerprints(spark, sf_dir):
    """Weisfeiler-Lehman graph hash per document co-occurrence graph —
    md5 color refinement, replayed label-for-label by the oracle's
    unrolled CTE chain."""
    _prep(spark)
    from jgtextrank_spark.algos.wlhash import wl_fingerprints
    from jgtextrank_spark.graph import cooccurrence_pairs

    pairs = cooccurrence_pairs(
        _doc_token_arrays(spark, sf_dir),
        window=WINDOW,
        extra_cols=["doc_id"],
    )
    return wl_fingerprints(pairs, iterations=WL_ITERS)


def q_bigram_lm(spark, sf_dir):
    """Bigram stupid-backoff fluency score: the LM trains on the even
    half of the corpus and scores ALL docs, so the held-out half
    exercises the backoff path in the gate."""
    _prep(spark)
    from jgtextrank_spark.functions.lm import bigram_lm_score

    docs = _docs(spark, sf_dir)
    return bigram_lm_score(
        docs, train=docs.filter(F.col("doc_id") % 2 == 0), alpha=LM_ALPHA
    )


def q_pmi_collocations(spark, sf_dir):
    """PMI collocation mining over adjacent token pairs (n >= PMI_MIN)."""
    _prep(spark)
    from jgtextrank_spark.functions.lm import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir), min_count=PMI_MIN)


def q_closeness_per_doc(spark, sf_dir):
    """Exact closeness + harmonic centrality inside every per-doc token
    graph at once (group-local BFS via applyInPandas — the per-group
    quadrant between the capped driver solvers and HyperBall)."""
    _prep(spark)
    from jgtextrank_spark.algos.groupdist import closeness_per_group
    from jgtextrank_spark.graph import cooccurrence_pairs

    pairs = cooccurrence_pairs(
        _doc_token_arrays(spark, sf_dir),
        window=WINDOW,
        extra_cols=["doc_id"],
    )
    return closeness_per_group(pairs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_textrank_keywords(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- gate window: the correctness harness checks the
        # first 50 entries (check_oracles replays all of them)
        "bfs_depth": q_bfs_depth,
        "sssp_pages": q_sssp_pages,
        "redirect_resolution": q_redirect_resolution,
        "boilerplate_lines": q_boilerplate_lines,
        "graph_stats_directed": q_graph_stats_directed,
        "rich_club": q_rich_club,
        "dsir_weights": q_dsir_weights,
        "feature_hash": q_feature_hash,
        "pack_chunks": q_pack_chunks,
        "pack_greedy": q_pack_greedy,
        "repetition": q_repetition,
        "pii_scrub": q_pii_scrub,
        "decontaminate": q_decontaminate,
        "paragraph_dedup": q_paragraph_dedup,
        "fix_mojibake": q_fix_mojibake,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "duplicate_spans": q_duplicate_spans,
        "strip_spans": q_strip_spans,
        "bm25_topk": q_bm25_topk,
        "tfidf": q_tfidf,
        "dedup_clusters": q_dedup_clusters,
        "dedup_keep_best": q_dedup_keep_best,
        "skipgram_pairs": q_skipgram_pairs,
        "negative_sampling": q_negative_sampling,
        "stratified_sample": q_stratified_sample,
        "weighted_sample": q_weighted_sample,
        "temperature_mixture": q_temperature_mixture,
        "crawl_frontier": q_crawl_frontier,
        "robots_filter": q_robots_filter,
        "domain_stats": q_domain_stats,
        "canonical_urls": q_canonical_urls,
        "sitemap_urls": q_sitemap_urls,
        "ppr_multi_seed": q_ppr_multi_seed,
        "betweenness_pages": q_betweenness_pages,
        "butterflies": q_butterflies,
        "wl_fingerprints": q_wl_fingerprints,
        "bigram_lm": q_bigram_lm,
        "pmi_collocations": q_pmi_collocations,
        "closeness_per_doc": q_closeness_per_doc,
        "pagerank": q_pagerank,
        "textrank_keywords": q_textrank_keywords,
        "textrank_gcvalue": q_textrank_gcvalue,
        "components_per_doc": q_components_per_doc,
        "cooccur_edges": q_cooccur_edges,
        "louvain": q_louvain,
        "louvain_multilevel": q_louvain_multilevel,
        "leiden": q_leiden,
        "top_tokens": q_top_tokens,
        "prf_eval": q_prf_eval,
        # --- below here is outside the driver's 50-row window (all
        # still oracled; check_oracles replays every entry) ---
        "scc_per_doc": q_scc_per_doc,
        "bpe_merges": q_bpe_merges,
        "bpe_segment": q_bpe_segment,
        "hits_hosts": q_hits_hosts,
        "web_host_pagerank": q_web_host_pagerank,
        "degree_centrality": q_degree_centrality,
        "neighborhood_size": q_neighborhood_size,
        "tergraph": q_tergraph,
        "triangle_count": q_triangle_count,
        "clustering_coefficient": q_clustering_coefficient,
        "pagerank_salted": q_pagerank_salted,
        "pagerank_encoded": q_pagerank_encoded,
        "pagerank_personalized": q_pagerank_personalized,
        "components_star_per_doc": q_components_star_per_doc,
        "scc_tokens": q_scc_tokens,
        "condensation_layers": q_condensation_layers,
        "ktruss": q_ktruss,
        "random_walks": q_random_walks,
        "node2vec_walks": q_node2vec_walks,
        "msf_forest": q_msf_forest,
        "degree_distribution": q_degree_distribution,
        "graph_stats": q_graph_stats,
        "label_propagation": q_label_propagation,
        "onion": q_onion,
        "topo_layers": q_topo_layers,
        "refine_hosts": q_refine_hosts,
        "conductance_hosts": q_conductance_hosts,
        "label_propagation_encoded": q_label_propagation_encoded,
        "coreness": q_coreness,
        "neighborhood_2": q_neighborhood_2,
        "harmonic_approx": q_harmonic_approx,
        "edge_diff": q_edge_diff,
        "web_link_edges": q_web_link_edges,
        "link_prediction": q_link_prediction,
        "densest_subgraph": q_densest_subgraph,
        "luby_mis": q_luby_mis,
        "landmark_distances": q_landmark_distances,
        "mirror_hosts": q_mirror_hosts,
        "readability": q_readability,
        "word_entropy": q_word_entropy,
        "url_strip_tracking": q_url_strip_tracking,
        "maximal_matching": q_maximal_matching,
        "cocitation": q_cocitation,
        "bib_coupling": q_bib_coupling,
        "salsa_pages": q_salsa_pages,
        "anchor_text": q_anchor_text,
        "bowtie_pages": q_bowtie_pages,
        "web_text_extract": q_web_text_extract,
        "url_canonical": q_url_canonical,
        "token_count": q_token_count,
        "bpe_token_count": q_bpe_token_count,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "fingerprint": q_fingerprint,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "embedding_near_dup": q_embedding_near_dup,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "multimodal_meta": q_multimodal_meta,
        "lineitem_pricing": q_lineitem_pricing,
        "orders_by_nation": q_orders_by_nation,
        "events_daily": q_events_daily,
    }


# --------------------------------------------------------------------------
# DuckDB oracle SQL
# --------------------------------------------------------------------------

_TOK = """
tok AS (
  SELECT doc_id,
         generate_subscripts(toks, 1) AS pos,
         unnest(toks) AS token
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents)
)"""

_EDGES = _TOK + f""",
pairs AS (
  SELECT least(a.token, b.token) AS src,
         greatest(a.token, b.token) AS dst
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {WINDOW}
),
edges AS (
  SELECT src, dst, count(*)::DOUBLE AS weight
  FROM pairs GROUP BY src, dst
)"""

# undirected neighbour view incl. self-loops once
_NBR = _EDGES + """,
nbr AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
  )
),
verts AS (SELECT DISTINCT src AS vertex FROM nbr)
"""

_SIMPLE = _EDGES + """,
se AS (SELECT src AS u, dst AS v FROM edges WHERE src <> dst),
sdeg AS (
  SELECT vertex, count(*) AS deg FROM (
    SELECT u AS vertex FROM se UNION ALL SELECT v AS vertex FROM se
  ) GROUP BY vertex
),
allverts AS (
  SELECT DISTINCT vertex FROM (
    SELECT src AS vertex FROM edges UNION ALL SELECT dst FROM edges
  )
)"""


def _pagerank_sql(iters: int) -> str:
    ctes = [
        _EDGES,
        """
sym AS (
  SELECT src, dst, weight FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst, weight FROM edges WHERE src <> dst
),
outdeg AS (SELECT src, sum(weight) AS s FROM sym GROUP BY src),
norm AS MATERIALIZED (
  SELECT sym.src, sym.dst, sym.weight / outdeg.s AS nw
  FROM sym JOIN outdeg USING (src)
),
verts AS (SELECT DISTINCT src AS v FROM sym),
nn AS (SELECT count(*)::DOUBLE AS cnt FROM verts),
r0 AS (SELECT v, 1.0 / (SELECT cnt FROM nn) AS r FROM verts)""",
    ]
    # MATERIALIZED stops DuckDB from inlining the CTE chain (inlining makes
    # the optimizer's plan exponential in the iteration count)
    for i in range(1, iters + 1):
        ctes.append(
            f"""
r{i} AS MATERIALIZED (
  SELECT verts.v,
         0.85 * coalesce(c.c, 0) + 0.15 / (SELECT cnt FROM nn) AS r
  FROM verts LEFT JOIN (
    SELECT norm.dst, sum(norm.nw * p.r) AS c
    FROM norm JOIN r{i - 1} p ON p.v = norm.src
    GROUP BY norm.dst
  ) c ON c.dst = verts.v
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\nSELECT v AS vertex, round(r, 6) AS score FROM r{iters}"
    )


def _pagerank_sql_personalized(iters: int) -> str:
    """Personalized unrolled CTE chain over the symmetric doc graph
    (no dangling vertices by symmetry, so the dangling-mass term is 0
    throughout): r <- 0.85*contrib + 0.15*p with p(v) normalized token
    length. The dangling-with-personalization branch is nx-parity-tested
    in tests/test_pagerank.py on a directed graph."""
    ctes = [
        _EDGES,
        """
sym AS (
  SELECT src, dst, weight FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst, weight FROM edges WHERE src <> dst
),
outdeg AS (SELECT src, sum(weight) AS s FROM sym GROUP BY src),
norm AS MATERIALIZED (
  SELECT sym.src, sym.dst, sym.weight / outdeg.s AS nw
  FROM sym JOIN outdeg USING (src)
),
verts AS (SELECT DISTINCT src AS v FROM sym),
nn AS (SELECT count(*)::DOUBLE AS cnt FROM verts),
psum AS (SELECT sum(length(v))::DOUBLE AS s FROM verts),
pv AS MATERIALIZED (
  SELECT v, length(v)::DOUBLE / (SELECT s FROM psum) AS p FROM verts
),
r0 AS (SELECT v, 1.0 / (SELECT cnt FROM nn) AS r FROM verts)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
r{i} AS MATERIALIZED (
  SELECT verts.v,
         0.85 * coalesce(c.c, 0) + 0.15 * pv.p AS r
  FROM verts JOIN pv ON pv.v = verts.v
  LEFT JOIN (
    SELECT norm.dst, sum(norm.nw * p.r) AS c
    FROM norm JOIN r{i - 1} p ON p.v = norm.src
    GROUP BY norm.dst
  ) c ON c.dst = verts.v
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\nSELECT v AS vertex, round(r, 6) AS score FROM r{iters}"
    )


_SHINGLES = f"""
tokd AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           array_to_string(list_slice(toks, i, i + {NGRAM_N - 1}), ' ')
             AS shingle
    FROM tokd, unnest(generate_series(1, len(toks) - {NGRAM_N - 1}))
           AS t(i)
    WHERE len(toks) >= {NGRAM_N}
    UNION ALL
    SELECT doc_id, array_to_string(toks, ' ') AS shingle
    FROM tokd WHERE len(toks) < {NGRAM_N}
  )
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""


def _minhash_sql() -> str:
    bands, rows = 8, 2
    mh_cols = ",\n         ".join(
        f"min(md5('{b}:{r}:' || shingle)) AS mh_{b}_{r}"
        for b in range(bands)
        for r in range(rows)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, "
        f"md5(concat_ws('|', mh_{b}_0, mh_{b}_1)) AS bucket FROM mins"
        for b in range(bands)
    )
    return f"""
WITH {_SHINGLES},
mins AS (
  SELECT doc_id,
         {mh_cols}
  FROM sh GROUP BY doc_id
),
bandkeys AS (
{band_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandkeys a JOIN bandkeys b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cands c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(i.i / (za.n_sh + zb.n_sh - i.i), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE round(i.i / (za.n_sh + zb.n_sh - i.i), 6) >= {JACCARD_T}
"""


# Closed-form derivation of the synthesized pages' link graph
# (see _synth_pages): the oracle does NOT re-run the href regexp — it
# reconstructs the expected edges from the same arithmetic, checking the
# whole extract->resolve pipeline against an independent derivation.
_WEB_BASE = """
base AS (
  SELECT doc_id,
         'https://h' || (doc_id % 7)::VARCHAR || '.example.org/d/'
           || doc_id::VARCHAR || '.html' AS src,
         'https://h' || (doc_id % 7)::VARCHAR || '.example.org' AS origin,
         'https://h' || (doc_id % 7)::VARCHAR || '.example.org/d/' AS dir,
         (doc_id * 7 + 1) % 997 AS t1,
         (doc_id * 13 + 3) % 997 AS t2
  FROM documents
)"""

_WEB_LINK_EDGES = _WEB_BASE + """,
links AS (
  SELECT src, 'https://h' || (t1 % 7)::VARCHAR || '.example.org/d/'
              || t1::VARCHAR || '.html' AS dst FROM base
  UNION ALL
  SELECT src, origin || '/d/' || t2::VARCHAR || '.html' AS dst FROM base
  UNION ALL
  SELECT src, dir || 'rel' || t2::VARCHAR || '.html' AS dst FROM base
),
edges AS (
  SELECT src, dst, count(*)::DOUBLE AS weight
  FROM links WHERE src <> dst GROUP BY src, dst
)"""

# host rollup: only the absolute cross-host link survives (root-relative
# and same-directory links resolve within the page's own host)
_WEB_HOST_EDGES = _WEB_BASE + """,
edges AS (
  SELECT 'h' || (doc_id % 7)::VARCHAR || '.example.org' AS src,
         'h' || (t1 % 7)::VARCHAR || '.example.org' AS dst,
         count(*)::DOUBLE AS weight
  FROM base
  WHERE t1 <> doc_id AND (t1 % 7) <> (doc_id % 7)
  GROUP BY 1, 2
)"""


def _sssp_pages_sql(rounds: int) -> str:
    """Replay of paths.sssp over the closed-form page edges: Bellman-Ford
    relaxation unrolled as MATERIALIZED min-join CTEs. Relaxation is a
    monotone fixpoint, so unrolling past Spark's early-stop (frontier
    empty) is a no-op; path costs are sums of integral doubles, hence
    exact and order-independent."""
    ctes = [
        _WEB_LINK_EDGES,
        """
adj AS MATERIALIZED (
  SELECT src, dst, min(weight) AS w FROM edges
  WHERE src <> dst GROUP BY src, dst
),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM adj UNION ALL SELECT dst AS v FROM adj
  )
),
seeds AS (SELECT DISTINCT src AS v FROM base WHERE doc_id % 7 = 0),
d0 AS (
  SELECT verts.v,
         CASE WHEN seeds.v IS NOT NULL THEN 0.0 END AS dist
  FROM verts LEFT JOIN seeds ON seeds.v = verts.v
)""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""
d{i} AS MATERIALIZED (
  SELECT p.v,
         CASE WHEN c.cand IS NULL THEN p.dist
              WHEN p.dist IS NULL OR c.cand < p.dist THEN c.cand
              ELSE p.dist END AS dist
  FROM d{i - 1} p LEFT JOIN (
    SELECT a.dst AS v, min(p2.dist + a.w) AS cand
    FROM adj a JOIN d{i - 1} p2 ON p2.v = a.src
    WHERE p2.dist IS NOT NULL
    GROUP BY a.dst
  ) c ON c.v = p.v
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\nSELECT v AS vertex, coalesce(round(dist, 6), -1.0) AS dist"
        + f" FROM d{rounds}"
    )


def _redirects_sql(max_hops: int) -> str:
    """Replay of paths.resolve_redirects over the synthesized redirect
    table: ``max_hops`` single-step follows unrolled as CTEs (the Spark
    side covers the same hop budget in log2(max_hops) pointer-doubling
    rounds); a row still pointing at a redirecting URL after the budget
    is unresolved on both sides."""
    ctes = [
        """
rd AS (
  SELECT 'https://r.example.org/u/' || doc_id::VARCHAR AS src,
         'https://r.example.org/u/' ||
           (CASE WHEN doc_id % 10 BETWEEN 1 AND 6 THEN doc_id - 1
                 WHEN doc_id % 10 = 8 THEN doc_id + 1
                 WHEN doc_id % 10 = 9 THEN doc_id - 1 END)::VARCHAR AS dst
  FROM documents
  WHERE doc_id % 10 IN (1, 2, 3, 4, 5, 6, 8, 9)
),
nxt AS MATERIALIZED (SELECT src, min(dst) AS dst FROM rd GROUP BY src),
c0 AS (SELECT src, dst AS cur, 1 AS hops FROM nxt)""",
    ]
    for i in range(1, max_hops):
        ctes.append(
            f"""
c{i} AS (
  SELECT c.src,
         CASE WHEN n.src IS NULL THEN c.cur ELSE n.dst END AS cur,
         CASE WHEN n.src IS NULL THEN c.hops ELSE c.hops + 1 END AS hops
  FROM c{i - 1} c LEFT JOIN nxt n ON n.src = c.cur
)"""
        )
    last = max_hops - 1
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT c.src,
       CASE WHEN n.src IS NULL THEN c.cur ELSE '' END AS final,
       CASE WHEN n.src IS NULL THEN c.hops ELSE -1 END AS hops,
       (n.src IS NULL) AS resolved
FROM c{last} c LEFT JOIN nxt n ON n.src = c.cur"""
    )


def _walks_sql(steps: int, seed: str) -> str:
    """Replay of walks.random_walks on the symmetrized token graph:
    identical cumulative ranges (window cumsum in dst order; integral
    weights keep the sums order-independent) and the identical
    md5(walk_id:step:seed) 48-bit uniform per step."""
    ctes = [
        _EDGES,
        """
sym AS (
  SELECT src, dst, sum(weight) AS w FROM (
    SELECT src, dst, weight FROM edges WHERE src <> dst
    UNION ALL
    SELECT dst AS src, src AS dst, weight FROM edges WHERE src <> dst
  ) GROUP BY src, dst
),
adj AS (
  SELECT src, dst,
         (sum(w) OVER (PARTITION BY src ORDER BY dst) - w)
           / sum(w) OVER (PARTITION BY src) AS lo,
         sum(w) OVER (PARTITION BY src ORDER BY dst)
           / sum(w) OVER (PARTITION BY src) AS hi
  FROM sym
),
wverts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges
  )
),
s0 AS (SELECT v || '#0' AS walk_id, v AS cur FROM wverts)""",
    ]
    for t in range(1, steps + 1):
        ctes.append(
            f"""
s{t} AS (
  SELECT p.walk_id, a.dst AS cur
  FROM s{t - 1} p JOIN adj a ON a.src = p.cur
  WHERE (('0x' || substring(md5(p.walk_id || ':{t}:{seed}'), 1, 12))::BIGINT
         / 281474976710656.0) >= a.lo
    AND (('0x' || substring(md5(p.walk_id || ':{t}:{seed}'), 1, 12))::BIGINT
         / 281474976710656.0) < a.hi
)"""
        )
    sels = ["SELECT walk_id, 0 AS step, cur AS vertex FROM s0"] + [
        f"SELECT walk_id, {t} AS step, cur AS vertex FROM s{t}"
        for t in range(1, steps + 1)
    ]
    return "WITH " + ",".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


def _n2v_sql(steps: int, seed: str, p: float, q: float) -> str:
    """Replay of walks.node2vec_walks: step 1 is first-order (identical
    to _walks_sql), steps >= 2 rebuild the biased candidate set per walk
    (return w/p, distance-1 w, else w/q via a LEFT JOIN membership
    probe) and sample from a per-walk window cumsum in dst order.
    Integral weights + power-of-two p/q keep every number dyadic-exact,
    so the window sums match Spark's bit-for-bit regardless of either
    engine's summation tree."""
    uniform = (
        "(('0x' || substring(md5(walk_id || ':{t}:" + seed + "'), 1, 12))"
        "::BIGINT / 281474976710656.0)"
    )
    ctes = [
        _EDGES,
        """
sym AS (
  SELECT src, dst, sum(weight) AS w FROM (
    SELECT src, dst, weight FROM edges WHERE src <> dst
    UNION ALL
    SELECT dst AS src, src AS dst, weight FROM edges WHERE src <> dst
  ) GROUP BY src, dst
),
adj AS (
  SELECT src, dst,
         (sum(w) OVER (PARTITION BY src ORDER BY dst) - w)
           / sum(w) OVER (PARTITION BY src) AS lo,
         sum(w) OVER (PARTITION BY src ORDER BY dst)
           / sum(w) OVER (PARTITION BY src) AS hi
  FROM sym
),
wverts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges
  )
),
s0 AS (SELECT v || '#0' AS walk_id, v AS cur FROM wverts),
s1 AS (
  SELECT p0.walk_id, p0.cur AS prev, a.dst AS cur
  FROM s0 p0 JOIN adj a ON a.src = p0.cur
  WHERE (('0x' || substring(md5(p0.walk_id || ':1:"""
        + seed
        + """'), 1, 12))::BIGINT / 281474976710656.0) >= a.lo
    AND (('0x' || substring(md5(p0.walk_id || ':1:"""
        + seed
        + """'), 1, 12))::BIGINT / 281474976710656.0) < a.hi
)""",
    ]
    for t in range(2, steps + 1):
        u = uniform.format(t=t)
        ctes.append(
            f"""
c{t} AS (
  SELECT st.walk_id, st.prev, st.cur, a.dst, a.w,
         CASE WHEN a.dst = st.prev THEN a.w / {p!r}
              WHEN nb.src IS NOT NULL THEN a.w
              ELSE a.w / {q!r} END AS b
  FROM s{t - 1} st
  JOIN sym a ON a.src = st.cur
  LEFT JOIN sym nb ON nb.src = st.prev AND nb.dst = a.dst
),
s{t} AS (
  SELECT walk_id, cur AS prev, dst AS cur FROM (
    SELECT walk_id, cur, dst,
           (sum(b) OVER (PARTITION BY walk_id ORDER BY dst) - b)
             / sum(b) OVER (PARTITION BY walk_id) AS lo,
           sum(b) OVER (PARTITION BY walk_id ORDER BY dst)
             / sum(b) OVER (PARTITION BY walk_id) AS hi
    FROM c{t}
  )
  WHERE {u} >= lo AND {u} < hi
)"""
        )
    sels = ["SELECT walk_id, 0 AS step, cur AS vertex FROM s0"] + [
        f"SELECT walk_id, {t} AS step, cur AS vertex FROM s{t}"
        for t in range(1, steps + 1)
    ]
    return "WITH " + ",".join(ctes) + "\n" + "\nUNION ALL\n".join(sels)


_MIS_SIMPLE = _WEB_LINK_EDGES + """,
se AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
),
v0 AS MATERIALIZED (
  SELECT DISTINCT vertex FROM (
    SELECT u AS vertex FROM se UNION ALL SELECT v AS vertex FROM se
  )
),
e0 AS MATERIALIZED (SELECT u, v FROM se)"""


def _landmark_sql(rounds: int, k: int) -> str:
    """Replay of paths.landmark_distances on the page graph: landmark
    pick = top-k distinct-neighbor degree (ties vertex asc) on the
    undirected simple mirror, then unrolled level-synchronous BFS.
    First-reach-wins is monotone, so over-unrolling is exact."""
    ctes = [
        _WEB_LINK_EDGES,
        f"""
mr AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM edges WHERE src <> dst
    UNION ALL SELECT dst AS a, src AS b FROM edges WHERE src <> dst
  )
),
lm AS MATERIALIZED (
  SELECT a AS vertex FROM (
    SELECT a, count(*) AS deg FROM mr GROUP BY a
  ) ORDER BY deg DESC, a ASC LIMIT {k}
),
s0 AS MATERIALIZED (
  SELECT vertex AS landmark, vertex, 0 AS dist FROM lm
)""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""
n{i} AS MATERIALIZED (
  SELECT DISTINCT s.landmark, m.b AS vertex
  FROM s{i - 1} s JOIN mr m ON m.a = s.vertex
  WHERE s.dist = {i - 1}
),
s{i} AS MATERIALIZED (
  SELECT landmark, vertex, dist FROM s{i - 1}
  UNION ALL
  SELECT n.landmark, n.vertex, {i} AS dist FROM n{i} n
  WHERE NOT EXISTS (
    SELECT 1 FROM s{i - 1} x
    WHERE x.landmark = n.landmark AND x.vertex = n.vertex
  )
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\nSELECT landmark, vertex, dist FROM s{rounds}"
    )


def _mis_sql(rounds: int, seed: str) -> str:
    """Unrolled Luby MIS over the page link graph: per round, vertex key
    = md5(seed:r:v)[:12] || v (fixed-length hash prefix => string min ==
    (hash, id) tuple min), winners are strict local minima, winners +
    their neighbors leave. Post-empty rounds are no-ops."""
    ctes = [_MIS_SIMPLE]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""
p{i} AS MATERIALIZED (
  SELECT vertex,
         substring(md5('{seed}:{i}:' || vertex), 1, 12) || vertex AS k
  FROM v{i - 1}
),
mr{i} AS MATERIALIZED (
  SELECT u AS a, v AS b FROM e{i - 1}
  UNION ALL SELECT v AS a, u AS b FROM e{i - 1}
),
nm{i} AS MATERIALIZED (
  SELECT m.a, min(p.k) AS nb
  FROM mr{i} m JOIN p{i} p ON p.vertex = m.b GROUP BY m.a
),
w{i} AS MATERIALIZED (
  SELECT p.vertex FROM p{i} p LEFT JOIN nm{i} n ON n.a = p.vertex
  WHERE n.nb IS NULL OR p.k < n.nb
),
nb{i} AS MATERIALIZED (
  SELECT DISTINCT m.b AS vertex
  FROM mr{i} m JOIN w{i} w ON w.vertex = m.a
),
v{i} AS MATERIALIZED (
  SELECT vertex FROM v{i - 1} a
  WHERE NOT EXISTS (SELECT 1 FROM w{i} w WHERE w.vertex = a.vertex)
    AND NOT EXISTS (SELECT 1 FROM nb{i} n WHERE n.vertex = a.vertex)
),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  JOIN v{i} x ON x.vertex = e.u JOIN v{i} y ON y.vertex = e.v
)"""
        )
    rows = " UNION ALL ".join(
        f"SELECT vertex, TRUE AS in_mis, {i} AS round FROM w{i}"
        f" UNION ALL SELECT vertex, FALSE, {i} FROM nb{i}"
        for i in range(1, rounds + 1)
    )
    return "WITH " + ",".join(ctes) + f"\nSELECT * FROM ({rows})"


def _matching_sql(rounds: int, seed: str) -> str:
    """Unrolled Israeli-Itai maximal matching over the page link graph:
    per round, edge key = md5(seed:r:u>v)[:12] || u || '>' || v; an edge
    is matched iff its key is the min among incident edges at BOTH
    endpoints; matched vertices leave."""
    ctes = [_MIS_SIMPLE]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""
k{i} AS MATERIALIZED (
  SELECT u, v,
         substring(md5('{seed}:{i}:' || u || '>' || v), 1, 12)
           || u || '>' || v AS k
  FROM e{i - 1}
),
vm{i} AS MATERIALIZED (
  SELECT x, min(k) AS mk FROM (
    SELECT u AS x, k FROM k{i} UNION ALL SELECT v AS x, k FROM k{i}
  ) GROUP BY x
),
sel{i} AS MATERIALIZED (
  SELECT t.u, t.v
  FROM k{i} t JOIN vm{i} a ON a.x = t.u AND a.mk = t.k
  JOIN vm{i} b ON b.x = t.v AND b.mk = t.k
),
mv{i} AS MATERIALIZED (
  SELECT DISTINCT vertex FROM (
    SELECT u AS vertex FROM sel{i} UNION ALL SELECT v AS vertex FROM sel{i}
  )
),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  WHERE NOT EXISTS (SELECT 1 FROM mv{i} m WHERE m.vertex = e.u)
    AND NOT EXISTS (SELECT 1 FROM mv{i} m WHERE m.vertex = e.v)
)"""
        )
    rows = " UNION ALL ".join(
        f"SELECT u, v, {i} AS round FROM sel{i}"
        for i in range(1, rounds + 1)
    )
    return "WITH " + ",".join(ctes) + f"\nSELECT * FROM ({rows})"


def _densest_sql(rounds: int) -> str:
    """Unrolled greedy densest-subgraph peel over the page link graph.
    Per round: per-vertex degree on the alive subgraph, scalar (n, 2m),
    removal iff deg*n*10 <= 11*2m (the exact-integer form of
    deg <= 2*(1+0.1)*rho with rho = m/n), snapshot = alive set.  The
    best round is argmax density by exact rational cross-multiply
    (earliest wins); post-empty rounds are no-ops, so over-unrolling is
    exact."""
    ctes = [
        _WEB_LINK_EDGES,
        """
se AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
),
v0 AS MATERIALIZED (
  SELECT DISTINCT vertex FROM (
    SELECT u AS vertex FROM se UNION ALL SELECT v AS vertex FROM se
  )
),
e0 AS MATERIALIZED (SELECT u, v FROM se)""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""
d{i} AS MATERIALIZED (
  SELECT a.vertex, coalesce(c.cnt, 0) AS deg
  FROM v{i - 1} a LEFT JOIN (
    SELECT vertex, count(*) AS cnt FROM (
      SELECT u AS vertex FROM e{i - 1}
      UNION ALL SELECT v AS vertex FROM e{i - 1}
    ) GROUP BY vertex
  ) c ON c.vertex = a.vertex
),
s{i} AS MATERIALIZED (
  SELECT count(*)::HUGEINT AS n, coalesce(sum(deg), 0)::HUGEINT AS twom
  FROM d{i}
),
rm{i} AS MATERIALIZED (
  SELECT d.vertex FROM d{i} d, s{i} s
  WHERE s.n > 0 AND d.deg::HUGEINT * s.n * 10 <= 11 * s.twom
),
v{i} AS MATERIALIZED (
  SELECT d.vertex FROM d{i} d, s{i} s
  WHERE s.n > 0 AND d.deg::HUGEINT * s.n * 10 > 11 * s.twom
),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v
  FROM e{i - 1} e JOIN v{i} a ON a.vertex = e.u
  JOIN v{i} b ON b.vertex = e.v
)"""
        )
    dens_rows = " UNION ALL ".join(
        f"SELECT {i} AS r, twom, n FROM s{i} WHERE n > 0"
        for i in range(1, rounds + 1)
    )
    peel_rows = " UNION ALL ".join(
        f"SELECT vertex, {i} AS peel_round FROM rm{i}"
        for i in range(1, rounds + 1)
    )
    ctes.append(
        f"""
dens AS MATERIALIZED ({dens_rows}),
best AS MATERIALIZED (
  SELECT r FROM dens d WHERE NOT EXISTS (
    SELECT 1 FROM dens d2
    WHERE d2.twom * d.n > d.twom * d2.n
       OR (d2.twom * d.n = d.twom * d2.n AND d2.r < d.r)
  )
),
peel AS MATERIALIZED ({peel_rows})"""
    )
    return (
        "WITH "
        + ",".join(ctes)
        + """
SELECT p.vertex, p.peel_round, p.peel_round >= b.r AS in_densest
FROM peel p, best b"""
    )


def _ktruss_sql(k: int, rounds: int) -> str:
    """Unrolled k-truss peel over the token graph: each round recounts
    per-edge triangle support (ordered wedge join closed by the third
    edge) and keeps edges with support >= k-2. Monotone fixpoint ⇒
    unrolling more rounds than the data needs is exact."""
    ctes = [
        _EDGES,
        """
e0 AS MATERIALIZED (
  SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
)""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""
w{i} AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e{i - 1} e1 JOIN e{i - 1} e2 ON e1.a = e2.a AND e1.b < e2.b
),
t{i} AS MATERIALIZED (
  SELECT w.x, w.y, w.z
  FROM w{i} w JOIN e{i - 1} e ON e.a = w.y AND e.b = w.z
),
s{i} AS MATERIALIZED (
  SELECT p, q, count(*) AS s FROM (
    SELECT x AS p, y AS q FROM t{i}
    UNION ALL SELECT x AS p, z AS q FROM t{i}
    UNION ALL SELECT y AS p, z AS q FROM t{i}
  ) GROUP BY p, q
),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b
  FROM e{i - 1} e LEFT JOIN s{i} s ON s.p = e.a AND s.q = e.b
  WHERE coalesce(s.s, 0) >= {k - 2}
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\nSELECT a AS src, b AS dst FROM e{rounds}"
    )


def _hits_sql(iters: int, edges_cte: str) -> str:
    """Unrolled HITS recurrence over a directed weighted ``edges(src,
    dst, weight)`` CTE, exactly mirroring nx _hits_python / our solver:
    per iteration raw a = A^T h (RAW h of the previous normalized
    state), raw h = A a using the RAW a, then each vector divided by its
    max; after the last iteration both divided by their sums. CTEs are
    MATERIALIZED (DuckDB inlines long iterative chains exponentially
    otherwise)."""
    ctes = [
        edges_cte,
        """
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges
  )
),
nn AS (SELECT count(*)::DOUBLE AS cnt FROM verts),
h0 AS (SELECT v, 1.0 / (SELECT cnt FROM nn) AS h FROM verts)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
ar{i} AS MATERIALIZED (
  SELECT e.dst AS v, sum(e.weight * h.h) AS a
  FROM edges e JOIN h{i - 1} h ON h.v = e.src GROUP BY e.dst
),
af{i} AS MATERIALIZED (
  SELECT verts.v, coalesce(ar.a, 0.0) AS a
  FROM verts LEFT JOIN ar{i} ar ON ar.v = verts.v
),
hr{i} AS MATERIALIZED (
  SELECT e.src AS v, sum(e.weight * af.a) AS h
  FROM edges e JOIN af{i} af ON af.v = e.dst GROUP BY e.src
),
hf{i} AS MATERIALIZED (
  SELECT verts.v, coalesce(hr.h, 0.0) AS h
  FROM verts LEFT JOIN hr{i} hr ON hr.v = verts.v
),
h{i} AS MATERIALIZED (
  SELECT v, h / (SELECT max(h) FROM hf{i}) AS h FROM hf{i}
),
a{i} AS MATERIALIZED (
  SELECT v, a / (SELECT max(a) FROM af{i}) AS a FROM af{i}
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
SELECT h.v AS vertex,
       round(h.h / (SELECT sum(h) FROM h{iters}), 6) AS hub,
       round(a.a / (SELECT sum(a) FROM a{iters}), 6) AS authority
FROM h{iters} h JOIN a{iters} a ON a.v = h.v"""
    )


def _pagerank_sql_directed(iters: int, edges_cte: str) -> str:
    """Dangling-aware unrolled PageRank over a DIRECTED ``edges(src, dst,
    weight)`` CTE (the symmetrized token-graph oracle has no dangling
    vertices, so _pagerank_sql omits that term; a real link graph needs
    it: new_rank = a*(contrib + dangle/N) + (1-a)/N)."""
    ctes = [
        edges_cte,
        """
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges
  )
),
outdeg AS (SELECT src, sum(weight) AS s FROM edges GROUP BY src),
norm AS MATERIALIZED (
  SELECT e.src, e.dst, e.weight / o.s AS nw
  FROM edges e JOIN outdeg o USING (src)
),
nn AS (SELECT count(*)::DOUBLE AS cnt FROM verts),
dang AS (
  SELECT v FROM verts LEFT JOIN outdeg ON outdeg.src = verts.v
  WHERE outdeg.src IS NULL
),
r0 AS (SELECT v, 1.0 / (SELECT cnt FROM nn) AS r FROM verts)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
d{i - 1} AS (
  SELECT coalesce(sum(r.r), 0) AS dm
  FROM r{i - 1} r JOIN dang ON dang.v = r.v
),
r{i} AS MATERIALIZED (
  SELECT verts.v,
         0.85 * (coalesce(c.c, 0)
                 + (SELECT dm FROM d{i - 1}) / (SELECT cnt FROM nn))
         + 0.15 / (SELECT cnt FROM nn) AS r
  FROM verts LEFT JOIN (
    SELECT norm.dst, sum(norm.nw * p.r) AS c
    FROM norm JOIN r{i - 1} p ON p.v = norm.src
    GROUP BY norm.dst
  ) c ON c.dst = verts.v
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\nSELECT v AS vertex, round(r, 6) AS score FROM r{iters}"
    )


def _ppr_multi_seed_sql(iters: int, edges_cte: str, seeds: list) -> str:
    """Unrolled multi-seed personalized PageRank: per seed sd, teleport
    AND dangling mass go to sd (personalization = {sd: 1}); grid stays
    dense so unreached vertices carry exact 0.0 like the Spark dense
    mode. Mirrors pagerank_multi_seed superstep-for-superstep."""
    seed_values = ", ".join(f"('{s}')" for s in seeds)
    ctes = [
        edges_cte,
        f"""
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges
  )
),
outdeg AS (SELECT src, sum(weight) AS s FROM edges GROUP BY src),
norm AS MATERIALIZED (
  SELECT e.src, e.dst, e.weight / o.s AS nw
  FROM edges e JOIN outdeg o USING (src)
),
dang AS (
  SELECT v FROM verts LEFT JOIN outdeg ON outdeg.src = verts.v
  WHERE outdeg.src IS NULL
),
seeds(sd) AS (VALUES {seed_values}),
grid AS (SELECT sd, v FROM seeds CROSS JOIN verts),
r0 AS (
  SELECT sd, v, CASE WHEN sd = v THEN 1.0 ELSE 0.0 END AS r FROM grid
)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
r{i} AS MATERIALIZED (
  SELECT g.sd, g.v,
         0.85 * (coalesce(c.c, 0)
                 + CASE WHEN g.v = g.sd THEN coalesce(dm.dm, 0)
                   ELSE 0 END)
         + CASE WHEN g.v = g.sd THEN 0.15 ELSE 0 END AS r
  FROM grid g
  LEFT JOIN (
    SELECT p.sd, norm.dst, sum(norm.nw * p.r) AS c
    FROM norm JOIN r{i - 1} p ON p.v = norm.src
    GROUP BY p.sd, norm.dst
  ) c ON c.sd = g.sd AND c.dst = g.v
  LEFT JOIN (
    SELECT p.sd, sum(p.r) AS dm
    FROM r{i - 1} p JOIN dang ON dang.v = p.v GROUP BY p.sd
  ) dm ON dm.sd = g.sd
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\nSELECT sd AS seed, v AS vertex, round(r, 6) AS score"
        + f" FROM r{iters}"
    )


def _lpa_sql(iters: int) -> str:
    """Deterministic synchronous weighted LPA, unrolled as MATERIALIZED
    CTEs (mirrors algos/labelprop.py superstep-for-superstep: argmax of
    summed neighbour-label weights, ties broken by smallest label; updates
    are a fixpoint, so unrolling past Spark's early-stop is a no-op)."""
    ctes = [
        _EDGES,
        """
sym AS MATERIALIZED (
  SELECT src, dst, weight FROM edges WHERE src <> dst
  UNION ALL
  SELECT dst AS src, src AS dst, weight FROM edges WHERE src <> dst
),
verts AS (
  SELECT DISTINCT vertex FROM (
    SELECT src AS vertex FROM edges UNION ALL SELECT dst FROM edges
  )
),
l0 AS (SELECT vertex, vertex AS label FROM verts)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""
l{i} AS MATERIALIZED (
  SELECT v.vertex, coalesce(b.new_label, p.label) AS label
  FROM verts v
  JOIN l{i - 1} p ON p.vertex = v.vertex
  LEFT JOIN (
    SELECT dst, label AS new_label FROM (
      SELECT dst, label,
             row_number() OVER (PARTITION BY dst
                                ORDER BY votes DESC, label ASC) AS rn
      FROM (SELECT s.dst, p2.label, sum(s.weight) AS votes
            FROM sym s JOIN l{i - 1} p2 ON p2.vertex = s.src
            GROUP BY s.dst, p2.label)
    ) WHERE rn = 1
  ) b ON b.dst = v.vertex
)"""
        )
    return (
        "WITH " + ",".join(ctes) + f"\nSELECT vertex, label FROM l{iters}"
    )


def _onion_sql(rounds: int) -> str:
    """Unrolled replay of algos/onion.py: per round, degrees within the
    remaining vertex set, threshold = running max core (greatest of this
    round's min degree and the previous threshold, nx semantics), peel
    everything at or under it. Over-unrolled rounds are no-ops (empty
    remainder => empty peel)."""
    ctes = [
        _EDGES,
        """
sym AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges WHERE src <> dst
    UNION ALL
    SELECT dst AS src, src AS dst FROM edges WHERE src <> dst
  )
),
rem0 AS (SELECT DISTINCT src AS v FROM sym),
k0 AS (SELECT 0::BIGINT AS c)""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""
deg{r} AS MATERIALIZED (
  SELECT r1.v AS vertex, count(s2.v)::BIGINT AS deg
  FROM rem{r - 1} r1
  LEFT JOIN sym s ON s.src = r1.v
  LEFT JOIN rem{r - 1} s2 ON s2.v = s.dst
  GROUP BY r1.v
),
k{r} AS (
  SELECT greatest(coalesce(min(deg), 0), (SELECT c FROM k{r - 1})) AS c
  FROM deg{r}
),
asg{r} AS MATERIALIZED (
  SELECT vertex, {r}::BIGINT AS layer, (SELECT c FROM k{r}) AS core
  FROM deg{r} WHERE deg <= (SELECT c FROM k{r})
),
rem{r} AS MATERIALIZED (
  SELECT v FROM rem{r - 1}
  WHERE v NOT IN (SELECT vertex FROM asg{r})
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT vertex, layer, core FROM asg{r}" for r in range(1, rounds + 1)
    )
    return "WITH " + ",".join(ctes) + "\n" + union


def _louvain_sql(rounds: int, seed: str) -> str:
    """Bit-exact replay of algos/louvain.py louvain_move_phase with
    ``fixed_rounds=rounds``: undirected mirror + self-loop-aware vertex
    strengths, md5-parity activity gate, integer-scaled modularity-gain
    argmax in HUGEINT (mirrors Spark's decimal(38,0) — integral weights,
    so both are exact), ties to the smallest community id, strict-
    improvement moves only."""
    ctes = [
        _EDGES,
        """
mirror AS MATERIALIZED (
  SELECT src AS a, dst AS b, weight AS w FROM edges WHERE src <> dst
  UNION ALL
  SELECT dst AS a, src AS b, weight AS w FROM edges WHERE src <> dst
),
selfw AS (
  SELECT src AS vertex, sum(weight) AS sw FROM edges
  WHERE src = dst GROUP BY src
),
kv AS MATERIALIZED (
  SELECT coalesce(n.vertex, s.vertex) AS vertex,
         coalesce(n.kn, 0) + 2.0 * coalesce(s.sw, 0) AS k
  FROM (SELECT a AS vertex, sum(w) AS kn FROM mirror GROUP BY a) n
  FULL JOIN selfw s ON s.vertex = n.vertex
),
m2 AS (SELECT round(sum(k))::HUGEINT AS m2i FROM kv),
c0 AS (SELECT vertex, vertex AS community FROM kv)""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""
vol{r} AS (
  SELECT p.community, sum(kv.k) AS vol
  FROM c{r - 1} p JOIN kv ON kv.vertex = p.vertex
  GROUP BY p.community
),
active{r} AS MATERIALIZED (
  SELECT p.vertex, p.community, kv.k
  FROM c{r - 1} p JOIN kv ON kv.vertex = p.vertex
  WHERE ('0x' || substring(md5('{seed}:{r}:' || p.vertex), 1, 2))::INT
        % 2 = 0
),
cand{r} AS (
  SELECT vertex, c, sum(kvc) AS kvc FROM (
    SELECT m.a AS vertex, p.community AS c, m.w AS kvc
    FROM mirror m
    JOIN active{r} act ON act.vertex = m.a
    JOIN c{r - 1} p ON p.vertex = m.b
    UNION ALL
    SELECT vertex, community AS c, 0.0 FROM active{r}
  ) GROUP BY vertex, c
),
moves{r} AS (
  SELECT vertex, c AS new_c FROM (
    SELECT s.vertex, s.c, s.s,
           max(CASE WHEN s.c = s.community THEN s.s END)
             OVER (PARTITION BY s.vertex) AS cs,
           row_number() OVER (PARTITION BY s.vertex
                              ORDER BY s.s DESC, s.c ASC) AS rn
    FROM (
      SELECT cd.vertex, cd.c, a.community,
             (SELECT m2i FROM m2) * round(cd.kvc)::HUGEINT
             - round(a.k)::HUGEINT
               * (round(v.vol)::HUGEINT
                  - CASE WHEN cd.c = a.community
                         THEN round(a.k)::HUGEINT
                         ELSE 0::HUGEINT END) AS s
      FROM cand{r} cd
      JOIN active{r} a ON a.vertex = cd.vertex
      JOIN vol{r} v ON v.community = cd.c
    ) s
  ) WHERE rn = 1 AND s > cs
),
c{r} AS MATERIALIZED (
  SELECT p.vertex, coalesce(mv.new_c, p.community) AS community
  FROM c{r - 1} p LEFT JOIN moves{r} mv ON mv.vertex = p.vertex
)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\nSELECT vertex, community FROM c{rounds}"
    )


def _leiden_move_ctes(p: str, e: str, init: str | None, rounds: int, seed: str) -> str:
    """CTE block for ONE Leiden level's fixed-round Louvain move phase
    over edge CTE ``e`` (src, dst, w); every name is prefixed ``p`` so
    two instantiations coexist in one query. ``init`` names a
    (vertex, community) CTE to start from (level 2's piece->community),
    None starts from singletons. Mirrors algos/louvain.py
    louvain_move_phase bit-exactly: canonical undirected sum -> mirror
    (handles the contracted graph's (a,b)/(b,a) parallel rows), self-
    loop-aware strengths k_v, md5-parity activity gate, HUGEINT gain
    argmax with (s DESC, c ASC) tie-break, strict-improvement moves."""
    c0_body = (
        f"SELECT kv.vertex, i.community FROM {p}kv kv "
        f"JOIN {init} i ON i.vertex = kv.vertex"
        if init
        else f"SELECT vertex, vertex AS community FROM {p}kv"
    )
    blocks = [
        f"""
{p}canon AS (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v, sum(w) AS w
  FROM {e} WHERE src <> dst GROUP BY 1, 2
),
{p}mirror AS MATERIALIZED (
  SELECT u AS a, v AS b, w FROM {p}canon
  UNION ALL
  SELECT v AS a, u AS b, w FROM {p}canon
),
{p}selfw AS (
  SELECT src AS vertex, sum(w) AS sw FROM {e}
  WHERE src = dst GROUP BY src
),
{p}kv AS MATERIALIZED (
  SELECT coalesce(n.vertex, s.vertex) AS vertex,
         coalesce(n.kn, 0) + 2.0 * coalesce(s.sw, 0) AS k
  FROM (SELECT a AS vertex, sum(w) AS kn FROM {p}mirror GROUP BY a) n
  FULL JOIN {p}selfw s ON s.vertex = n.vertex
),
{p}m2 AS (SELECT round(sum(k))::HUGEINT AS m2i FROM {p}kv),
{p}c0 AS MATERIALIZED ({c0_body})"""
    ]
    for r in range(1, rounds + 1):
        blocks.append(
            f"""
{p}vol{r} AS (
  SELECT p.community, sum(kv.k) AS vol
  FROM {p}c{r - 1} p JOIN {p}kv kv ON kv.vertex = p.vertex
  GROUP BY p.community
),
{p}active{r} AS MATERIALIZED (
  SELECT p.vertex, p.community, kv.k
  FROM {p}c{r - 1} p JOIN {p}kv kv ON kv.vertex = p.vertex
  WHERE ('0x' || substring(md5('{seed}:{r}:' || p.vertex), 1, 2))::INT
        % 2 = 0
),
{p}cand{r} AS (
  SELECT vertex, c, sum(kvc) AS kvc FROM (
    SELECT m.a AS vertex, p.community AS c, m.w AS kvc
    FROM {p}mirror m
    JOIN {p}active{r} act ON act.vertex = m.a
    JOIN {p}c{r - 1} p ON p.vertex = m.b
    UNION ALL
    SELECT vertex, community AS c, 0.0 FROM {p}active{r}
  ) GROUP BY vertex, c
),
{p}moves{r} AS (
  SELECT vertex, c AS new_c FROM (
    SELECT s.vertex, s.c, s.s,
           max(CASE WHEN s.c = s.community THEN s.s END)
             OVER (PARTITION BY s.vertex) AS cs,
           row_number() OVER (PARTITION BY s.vertex
                              ORDER BY s.s DESC, s.c ASC) AS rn
    FROM (
      SELECT cd.vertex, cd.c, a.community,
             (SELECT m2i FROM {p}m2) * round(cd.kvc)::HUGEINT
             - round(a.k)::HUGEINT
               * (round(v.vol)::HUGEINT
                  - CASE WHEN cd.c = a.community
                         THEN round(a.k)::HUGEINT
                         ELSE 0::HUGEINT END) AS s
      FROM {p}cand{r} cd
      JOIN {p}active{r} a ON a.vertex = cd.vertex
      JOIN {p}vol{r} v ON v.community = cd.c
    ) s
  ) WHERE rn = 1 AND s > cs
),
{p}c{r} AS MATERIALIZED (
  SELECT p.vertex, coalesce(mv.new_c, p.community) AS community
  FROM {p}c{r - 1} p LEFT JOIN {p}moves{r} mv ON mv.vertex = p.vertex
)"""
        )
    return ",".join(blocks)


def _refine_ctes(p: str, e: str, lab: str) -> str:
    """Connectivity-refinement closure (mirrors algos/louvain.py
    refine_partition): split each community of ``lab`` (vertex,
    community) into its connected pieces over ``e``'s intra-community
    edges; ``{p}refined`` = (vertex, piece) where piece = min member id,
    no-intra-edge vertices become singletons. Non-recursive bodies avoid
    top-level UNION (the WITH RECURSIVE dedup footgun, NOTES.md)."""
    return f"""
{p}intra AS (
  SELECT DISTINCT src, dst FROM (
    SELECT e.src, e.dst FROM {e} e
    JOIN {lab} a ON a.vertex = e.src
    JOIN {lab} b ON b.vertex = e.dst
    WHERE a.community = b.community AND e.src <> e.dst
    UNION ALL
    SELECT e.dst AS src, e.src AS dst FROM {e} e
    JOIN {lab} a ON a.vertex = e.src
    JOIN {lab} b ON b.vertex = e.dst
    WHERE a.community = b.community AND e.src <> e.dst
  )
),
{p}reach(v, lbl) AS (
  SELECT src, src FROM {p}intra
  UNION
  SELECT i.dst, r.lbl FROM {p}reach r JOIN {p}intra i ON i.src = r.v
),
{p}cc AS (SELECT v, min(lbl) AS piece FROM {p}reach GROUP BY v),
{p}refined AS MATERIALIZED (
  SELECT l.vertex, coalesce(cc.piece, l.vertex) AS piece
  FROM {lab} l LEFT JOIN {p}cc cc ON cc.v = l.vertex
)"""


def _bpe_sql(merges: int) -> str:
    """Bit-exact replay of functions/bpe.py bpe_train: per unrolled
    round, frequency-weighted adjacent-pair counts (overlapping
    occurrences included — get_stats semantics), argmax with
    (count DESC, left ASC, right ASC) tie-break, then greedy
    left-to-right non-overlapping merge. The merge's only sequential
    dependency is within runs of consecutive candidates (possible only
    when left == right), resolved as gaps-and-islands + position parity
    — provably equal to the fold: in a run of L consecutive candidates
    the greedy pass merges at offsets 0, 2, 4, ..."""
    ctes = [
        _TOK,
        """
w0 AS (
  SELECT word, count(*) AS freq
  FROM (SELECT token AS word FROM tok) GROUP BY word
),
s0 AS MATERIALIZED (
  SELECT word, freq,
         list_append(
           [substr(word, i, 1) for i in generate_series(1, length(word))],
           '</w>'
         ) AS syms
  FROM w0
)""",
    ]
    for k in range(1, merges + 1):
        ctes.append(
            f"""
p{k} AS (
  SELECT l, r, sum(freq) AS c FROM (
    SELECT s.freq, s.syms[i] AS l, s.syms[i + 1] AS r
    FROM s{k - 1} s, unnest(generate_series(1, len(s.syms) - 1)) t(i)
  ) GROUP BY l, r
),
b{k} AS (SELECT l, r, c FROM p{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
cand{k} AS (
  SELECT s.word, i
  FROM s{k - 1} s, b{k} b,
       unnest(generate_series(1, len(s.syms) - 1)) t(i)
  WHERE s.syms[i] = b.l AND s.syms[i + 1] = b.r
),
mrg{k} AS (
  SELECT word, i FROM (
    SELECT word, i,
           min(i) OVER (PARTITION BY word, g) AS i0
    FROM (
      SELECT word, i,
             i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
      FROM cand{k}
    )
  ) WHERE (i - i0) % 2 = 0
),
s{k} AS MATERIALIZED (
  SELECT e.word, max(e.freq) AS freq,
         list(CASE WHEN m.i IS NOT NULL THEN b.l || b.r ELSE e.sym END
              ORDER BY e.j) AS syms
  FROM (
    SELECT s.word, s.freq, j, s.syms[j] AS sym
    FROM s{k - 1} s, unnest(generate_series(1, len(s.syms))) t(j)
  ) e
  CROSS JOIN b{k} b
  LEFT JOIN mrg{k} m ON m.word = e.word AND m.i = e.j
  LEFT JOIN mrg{k} m2 ON m2.word = e.word AND m2.i = e.j - 1
  WHERE m2.i IS NULL
  GROUP BY e.word
)"""
        )
    rows = "\n  UNION ALL ".join(
        f"SELECT {k} AS rank, l AS \"left\", r AS \"right\", "
        f"l || r AS merged, c::BIGINT AS freq FROM b{k}"
        for k in range(1, merges + 1)
    )
    return "WITH " + ",".join(ctes) + f"\nSELECT * FROM (\n  {rows}\n)"


def _bpe_apply_sql(merges: int) -> str:
    """Oracle for bpe_apply(docs, bpe_train(docs)): applying a merge
    table to its own training corpus reproduces the final training
    symbol state — so the expected segmentation IS the unrolled
    training chain's last s{K} table."""
    train = _bpe_sql(merges)
    ctes = train[: train.rindex("\nSELECT * FROM")]
    return (
        ctes
        + f"""
SELECT word, freq, array_to_string(syms, ' ') AS segmentation
FROM s{merges}"""
    )


def _louvain_ml_sql(rounds: int, seed: str) -> str:
    """Bit-exact replay of algos/louvain.py louvain(levels=2,
    fixed_rounds=rounds): level-1 move unroll on the token graph,
    contraction of COMMUNITIES to supervertices (internal edges become
    self-loops, entering k_v twice via the shared move-CTE template's
    selfw handling), level-2 move unroll from singletons on the coarse
    graph, then the map-through c2(c1(v))."""
    R = rounds
    parts = [
        _EDGES,
        "e0 AS (SELECT src, dst, weight AS w FROM edges)",
        _leiden_move_ctes("a1", "e0", None, R, f"{seed}:L1"),
        f"""
e1 AS MATERIALIZED (
  SELECT cu.community AS src, cv.community AS dst, sum(e.w) AS w
  FROM e0 e
  JOIN a1c{R} cu ON cu.vertex = e.src
  JOIN a1c{R} cv ON cv.vertex = e.dst
  GROUP BY 1, 2
)""",
        _leiden_move_ctes("a2", "e1", None, R, f"{seed}:L2"),
    ]
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT c1.vertex, c2.community
FROM a1c{R} c1 JOIN a2c{R} c2 ON c2.vertex = c1.community"""
    )


def _leiden_sql(rounds: int, seed: str) -> str:
    """Bit-exact replay of algos/louvain.py leiden(levels=2,
    fixed_rounds=rounds): level-1 move unroll on the token graph,
    refinement closure, aggregate-on-refinement contraction over the
    PIECES, level-2 move unroll starting from the pieces' move-phase
    communities (init), level-2 refinement, map-through to original
    vertices, and the final connectivity pass whose min-member piece ids
    are the returned communities. Three recursive closures coexist in
    one WITH RECURSIVE; the move algebra is the same HUGEINT unroll the
    `louvain` oracle uses (no float compare in any decision path)."""
    R = rounds
    parts = [
        _EDGES,
        "e0 AS (SELECT src, dst, weight AS w FROM edges)",
        _leiden_move_ctes("l1", "e0", None, R, f"{seed}:L1"),
        _refine_ctes("r1", "e0", f"l1c{R}"),
        f"""
pc1 AS (
  SELECT DISTINCT r.piece AS vertex, c.community
  FROM r1refined r JOIN l1c{R} c ON c.vertex = r.vertex
),
e1 AS MATERIALIZED (
  SELECT ru.piece AS src, rv.piece AS dst, sum(e.w) AS w
  FROM e0 e
  JOIN r1refined ru ON ru.vertex = e.src
  JOIN r1refined rv ON rv.vertex = e.dst
  GROUP BY 1, 2
)""",
        _leiden_move_ctes("l2", "e1", "pc1", R, f"{seed}:L2"),
        _refine_ctes("r2", "e1", f"l2c{R}"),
        f"""
map2 AS (
  SELECT m.vertex, r2.piece AS piece FROM r1refined m
  JOIN r2refined r2 ON r2.vertex = m.piece
),
pf AS (
  SELECT DISTINCT r2.piece, c.community
  FROM r2refined r2 JOIN l2c{R} c ON c.vertex = r2.vertex
),
asg AS (
  SELECT m.vertex, pf.community FROM map2 m JOIN pf ON pf.piece = m.piece
)""",
        _refine_ctes("fr", "e0", "asg"),
    ]
    return (
        "WITH RECURSIVE "
        + ",".join(parts)
        + "\nSELECT vertex, piece AS community FROM frrefined"
    )


def _simhash_sql(max_hamming: int, bits: int = 48, block_bits: int = 12) -> str:
    """Bit-exact replay of functions/dedup.py simhash_near_dup_pairs:
    token hash = first 12 hex chars of md5 as a 48-bit int, frequency-
    weighted bit sums, sign -> signature, pigeonhole block join, exact
    hamming verify via bit_count(xor)."""
    n_blocks = bits // block_bits
    mask = 2**block_bits - 1
    return f"""
WITH {_TOK},
wt AS (
  SELECT doc_id, token, count(*) AS w,
         ('0x' || substring(md5(token), 1, 12))::BIGINT AS h
  FROM tok GROUP BY doc_id, token
),
bitsum AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h >> j) & 1 = 1 THEN w ELSE -w END) AS s
  FROM wt, unnest(generate_series(0, {bits - 1})) AS t(j)
  GROUP BY doc_id, j
),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
           AS simhash
  FROM bitsum GROUP BY doc_id
),
blk AS (
  SELECT doc_id, simhash, i,
         (simhash >> (i * {block_bits})) & {mask} AS key
  FROM sig, unnest(generate_series(0, {n_blocks - 1})) AS t(i)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM blk a JOIN blk b
    ON a.i = b.i AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sa, sb))::BIGINT AS hamming
FROM cands
WHERE bit_count(xor(sa, sb)) <= {max_hamming}"""


def _ann_lsh_sql(k: int, n_queries: int, bucket_dims: int) -> str:
    """Replay of functions/similarity.py lsh_topk: sign-pattern bucket key
    over the first ``bucket_dims`` dims, probes = own bucket + all
    hamming-1 flips, exact cosine rank within the probed candidates."""
    sign_key = ", ".join(
        f"CASE WHEN v[{i + 1}] >= 0 THEN '1' ELSE '0' END"
        for i in range(bucket_dims)
    )
    flips = ["bkt"]
    for i in range(1, bucket_dims + 1):
        flips.append(
            f"substring(bkt, 1, {i - 1}) || "
            f"(CASE WHEN substring(bkt, {i}, 1) = '1' THEN '0' ELSE '1' END)"
            f" || substring(bkt, {i + 1}, {bucket_dims - i})"
        )
    probe_list = ", ".join(flips)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (SELECT vec_id, v, concat({sign_key}) AS bkt FROM e),
q AS (SELECT vec_id AS q_id, bkt FROM sig WHERE vec_id < {n_queries}),
qp AS (
  SELECT q_id, probe FROM q, unnest([{probe_list}]) AS t(probe)
),
cand AS (
  SELECT DISTINCT qp.q_id, c.vec_id AS n_id
  FROM qp JOIN sig c ON c.bkt = qp.probe AND c.vec_id <> qp.q_id
),
scored AS (
  SELECT cand.q_id, cand.n_id,
         round(list_cosine_similarity(qs.v, cs.v), 6) AS cosine
  FROM cand
  JOIN e qs ON qs.vec_id = cand.q_id
  JOIN e cs ON cs.vec_id = cand.n_id
),
r AS (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, n_id, cosine, rank::BIGINT AS rank FROM r WHERE rank <= {k}"""


def _ann_ivfpq_sql(
    k: int,
    n_queries: int,
    n_centroids: int,
    n_probe: int,
    m: int,
    sub: int,
    n_codes: int,
) -> str:
    """Replay of similarity.ivfpq_topk: the _ann_ivf_sql coarse stage
    (seeded centroids, rounded-cosine assignment, n_probe lists) feeding
    the ann_pq_topk ADC stage (seeded codebook, j-ordered fold),
    restricted to probed candidates."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS c_id, v AS cv FROM e
  ORDER BY md5(vec_id::VARCHAR) LIMIT {n_centroids}
),
asgn AS (
  SELECT n_id, cluster FROM (
    SELECT n.vec_id AS n_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY round(list_cosine_similarity(n.v, c.cv), 6) DESC,
                      c.c_id DESC) AS rn
    FROM e n, cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT q_id, cluster FROM (
    SELECT q.vec_id AS q_id, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC,
                      c.c_id DESC) AS rn
    FROM e q, cents c WHERE q.vec_id < {n_queries}
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT DISTINCT p.q_id, a.n_id
  FROM probes p JOIN asgn a USING (cluster)
  WHERE a.n_id <> p.q_id
),
cbv AS (
  SELECT vec_id AS c_id, v FROM e
  ORDER BY md5(vec_id::VARCHAR) LIMIT {n_codes}
),
cb AS (
  SELECT c_id, j, v[j * {sub} + 1 : j * {sub} + {sub}] AS c_sub
  FROM cbv, range(0, {m}) t(j)
),
nb AS (
  SELECT vec_id AS n_id, j,
         v[j * {sub} + 1 : j * {sub} + {sub}] AS n_sub
  FROM e, range(0, {m}) t(j)
),
qb AS (
  SELECT vec_id AS q_id, j,
         v[j * {sub} + 1 : j * {sub} + {sub}] AS q_sub
  FROM e, range(0, {m}) t(j)
  WHERE vec_id < {n_queries}
),
codes AS (
  SELECT n_id, j, code FROM (
    SELECT n.n_id, n.j, c.c_id AS code,
           row_number() OVER (
             PARTITION BY n.n_id, n.j
             ORDER BY round(list_sum(list_transform(
                        range(1, {sub} + 1),
                        i -> (n.n_sub[i] - c.c_sub[i])
                           * (n.n_sub[i] - c.c_sub[i]))), 6) ASC,
                      c.c_id ASC) AS rn
    FROM nb n JOIN cb c ON c.j = n.j
  ) WHERE rn = 1
),
lut AS (
  SELECT q.q_id, q.j, c.c_id AS code,
         round(list_sum(list_transform(
           range(1, {sub} + 1),
           i -> (q.q_sub[i] - c.c_sub[i])
              * (q.q_sub[i] - c.c_sub[i]))), 6) AS d
  FROM qb q JOIN cb c ON c.j = q.j
),
adc AS (
  SELECT cand.q_id, cand.n_id,
         round(list_sum(list(l.d ORDER BY l.j)), 6) AS adc_d2
  FROM cand
  JOIN codes cd ON cd.n_id = cand.n_id
  JOIN lut l ON l.q_id = cand.q_id AND l.j = cd.j AND l.code = cd.code
  GROUP BY cand.q_id, cand.n_id
)
SELECT q_id, n_id, adc_d2, rank::BIGINT AS rank FROM (
  SELECT q_id, n_id, adc_d2,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_d2 ASC, n_id ASC) AS rank
  FROM adc
) WHERE rank <= {k}"""


def _ann_ivf_sql(
    k: int, n_queries: int, n_centroids: int, n_probe: int
) -> str:
    """Replay of similarity.ivf_topk: md5-seeded coarse centroids,
    rounded-cosine assignment (ties -> largest centroid id), n_probe
    nearest lists per query, exact cosine rank within candidates."""
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS c_id, v AS cv FROM e
  ORDER BY md5(vec_id::VARCHAR) LIMIT {n_centroids}
),
asgn AS (
  SELECT n_id, nv, cluster FROM (
    SELECT n.vec_id AS n_id, n.v AS nv, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY round(list_cosine_similarity(n.v, c.cv), 6) DESC,
                      c.c_id DESC) AS rn
    FROM e n, cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT q_id, qv, cluster FROM (
    SELECT q.vec_id AS q_id, q.v AS qv, c.c_id AS cluster,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.v, c.cv), 6) DESC,
                      c.c_id DESC) AS rn
    FROM e q, cents c WHERE q.vec_id < {n_queries}
  ) WHERE rn <= {n_probe}
),
cand AS (
  SELECT DISTINCT p.q_id, a.n_id
  FROM probes p JOIN asgn a USING (cluster)
  WHERE a.n_id <> p.q_id
),
scored AS (
  SELECT cand.q_id, cand.n_id,
         round(list_cosine_similarity(qe.v, ne.v), 6) AS cosine
  FROM cand
  JOIN e qe ON qe.vec_id = cand.q_id
  JOIN e ne ON ne.vec_id = cand.n_id
),
r AS (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, n_id ASC) AS rank
  FROM scored
)
SELECT q_id, n_id, cosine, rank::BIGINT AS rank FROM r WHERE rank <= {k}"""


def _emb_bucket_sql(threshold: float, bucket_dims: int) -> str:
    """Replay of the bucketed embedding_near_dup_pairs: pairs restricted
    to equal sign-pattern buckets on the first ``bucket_dims`` dims."""
    sign_key = ", ".join(
        f"CASE WHEN v[{i + 1}] >= 0 THEN '1' ELSE '0' END"
        for i in range(bucket_dims)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (SELECT vec_id, v, concat({sign_key}) AS bkt FROM e)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM s a JOIN s b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}"""


def oracle_sql() -> dict[str, str]:
    # the goldens of this checkout, wherever it lives
    goldens = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "goldens"
    )
    fp_norm = (
        "md5(trim(regexp_replace(regexp_replace(lower(text), "
        "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))"
    )
    en_list = (
        "['the','of','and','to','in','a','is','that','for','it','with',"
        "'as','was','on','are','by','this','be','or','an']"
    )
    d = {
        "cooccur_edges": f"WITH {_EDGES} SELECT src, dst, weight FROM edges",
        "degree_centrality": f"""
WITH {_EDGES},
und AS (SELECT DISTINCT src AS u, dst AS v FROM edges),
deg AS (
  SELECT vertex, count(*) AS d FROM (
    SELECT u AS vertex FROM und UNION ALL SELECT v AS vertex FROM und
  ) GROUP BY vertex
)
SELECT vertex,
       round(d / (SELECT count(*) - 1 FROM deg)::DOUBLE, 6) AS score
FROM deg""",
        "neighborhood_size": f"""
WITH {_NBR},
cnt AS (
  SELECT src AS vertex, count(*)::DOUBLE AS score
  FROM nbr WHERE src <> dst GROUP BY src
)
SELECT v.vertex, coalesce(c.score, 0.0) AS score
FROM verts v LEFT JOIN cnt c ON c.vertex = v.vertex""",
        "tergraph": f"""
WITH {_NBR},
na AS (SELECT src, count(*) AS n_a FROM nbr GROUP BY src),
nt AS (
  SELECT nbr.src, sum(na.n_a) AS n_t
  FROM nbr JOIN na ON na.src = nbr.dst GROUP BY nbr.src
)
SELECT v.vertex,
       round(CASE WHEN coalesce(na.n_a, 0) = 0 THEN 0.0
             ELSE log2(1.5 + 1.0 / (na.n_a + coalesce(nt.n_t, 0))) END,
             6) AS score
FROM verts v
LEFT JOIN na ON na.src = v.vertex
LEFT JOIN nt ON nt.src = v.vertex""",
        "triangle_count": f"""
WITH {_SIMPLE},
tris AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM se e1 JOIN se e2 ON e2.u = e1.v
  JOIN se e3 ON e3.u = e1.u AND e3.v = e2.v
),
credit AS (
  SELECT a AS vertex FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
),
tc AS (SELECT vertex, count(*) AS t FROM credit GROUP BY vertex)
SELECT av.vertex, coalesce(tc.t, 0)::BIGINT AS triangles
FROM allverts av LEFT JOIN tc ON tc.vertex = av.vertex""",
        "clustering_coefficient": f"""
WITH {_SIMPLE},
tris AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM se e1 JOIN se e2 ON e2.u = e1.v
  JOIN se e3 ON e3.u = e1.u AND e3.v = e2.v
),
credit AS (
  SELECT a AS vertex FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
),
tc AS (SELECT vertex, count(*) AS t FROM credit GROUP BY vertex)
SELECT av.vertex,
       round(CASE WHEN coalesce(d.deg, 0) >= 2
             THEN 2.0 * coalesce(tc.t, 0) / (d.deg * (d.deg - 1))
             ELSE 0.0 END, 6) AS clustering
FROM allverts av
LEFT JOIN sdeg d ON d.vertex = av.vertex
LEFT JOIN tc ON tc.vertex = av.vertex""",
        "pagerank": _pagerank_sql(PR_ITERS),
        # Data-dependent loops (peeling rounds / converged power iteration
        # + collapse) are not ANSI-SQL-expressible; their oracles are
        # committed goldens generated AND verified by scripts/make_goldens.py
        # (coreness: exact vs networkx.core_number; textrank: exact vs the
        # real reference on the identical tagged stream — see the script).
        # The correctness gate runs at sf=0.01, which these pin.
        "coreness": (
            "SELECT vertex, core FROM "
            f"read_parquet('{goldens}/coreness_sf0.01.parquet')"
        ),
        "textrank_keywords": (
            "SELECT term, score FROM "
            f"read_parquet('{goldens}/textrank_sf0.01.parquet')"
        ),
        "textrank_gcvalue": (
            "SELECT term, score FROM "
            f"read_parquet('{goldens}/textrank_gcvalue_sf0.01.parquet')"
        ),
        "msf_forest": (
            "SELECT u, v, weight FROM "
            f"read_parquet('{goldens}/msf_sf0.01.parquet')"
        ),
        "betweenness_pages": (
            "SELECT vertex, betweenness FROM "
            f"read_parquet('{goldens}/betweenness_sf0.01.parquet')"
        ),
        "components_per_doc": f"""
WITH RECURSIVE {_TOK},
dpairs AS (
  SELECT DISTINCT a.doc_id, a.token AS src, b.token AS dst FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {WINDOW}
),
dadj AS (
  SELECT doc_id, src, dst FROM dpairs
  UNION
  SELECT doc_id, dst AS src, src AS dst FROM dpairs
),
reach(doc_id, v, lbl) AS (
  SELECT doc_id, src, src FROM dadj
  UNION
  SELECT d.doc_id, d.dst, r.lbl
  FROM reach r JOIN dadj d ON d.doc_id = r.doc_id AND d.src = r.v
)
SELECT doc_id, v AS token, min(lbl) AS component
FROM reach GROUP BY doc_id, v""",
        # directed SCC: transitive closure of the forward-pair digraph,
        # mutual reachability, min member id — independent of the
        # trim/coloring/gather rounds the Spark side runs
        "scc_per_doc": f"""
WITH RECURSIVE {_TOK},
dpairs AS (
  SELECT DISTINCT a.doc_id, a.token AS src, b.token AS dst FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {WINDOW}
),
reach(doc_id, a, b) AS (
  SELECT doc_id, src, dst FROM dpairs WHERE src <> dst
  UNION
  SELECT r.doc_id, r.a, d.dst
  FROM reach r JOIN dpairs d
    ON d.doc_id = r.doc_id AND d.src = r.b AND d.src <> d.dst
),
mutual AS (
  SELECT r1.doc_id, r1.a AS v, r1.b AS u
  FROM reach r1 JOIN reach r2
    ON r1.doc_id = r2.doc_id AND r1.a = r2.b AND r1.b = r2.a
),
verts AS (
  SELECT DISTINCT doc_id, src AS v FROM dpairs
  UNION
  SELECT DISTINCT doc_id, dst AS v FROM dpairs
)
SELECT vv.doc_id, vv.v AS token,
       least(vv.v, coalesce(min(m.u), vv.v)) AS component
FROM verts vv LEFT JOIN mutual m ON vv.doc_id = m.doc_id AND vv.v = m.v
GROUP BY vv.doc_id, vv.v""",
        "scc_tokens": f"""
WITH RECURSIVE {_TOK},
gpairs AS (
  SELECT DISTINCT a.token AS src, b.token AS dst FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {WINDOW}
),
reach(a, b) AS (
  SELECT src, dst FROM gpairs WHERE src <> dst
  UNION
  SELECT r.a, p.dst
  FROM reach r JOIN gpairs p ON p.src = r.b AND p.src <> p.dst
),
mutual AS (
  SELECT r1.a AS v, r1.b AS u
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
verts AS (
  SELECT DISTINCT src AS v FROM gpairs
  UNION
  SELECT DISTINCT dst AS v FROM gpairs
)
SELECT vv.v AS vertex, least(vv.v, coalesce(min(m.u), vv.v)) AS component
FROM verts vv LEFT JOIN mutual m ON vv.v = m.v
GROUP BY vv.v""",
        # condensation + Kahn layering: SCC closure, condensed distinct
        # edges, recursive longest-path over the DAG, layer 0 fallback
        # for in-edge-free components
        "condensation_layers": f"""
WITH RECURSIVE {_TOK},
gpairs AS (
  SELECT DISTINCT a.token AS src, b.token AS dst FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {WINDOW}
),
reach(a, b) AS (
  SELECT src, dst FROM gpairs WHERE src <> dst
  UNION
  SELECT r.a, p.dst
  FROM reach r JOIN gpairs p ON p.src = r.b AND p.src <> p.dst
),
mutual AS (
  SELECT r1.a AS v, r1.b AS u
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM gpairs UNION ALL SELECT dst AS v FROM gpairs
  )
),
assign AS MATERIALIZED (
  SELECT vv.v AS vertex, least(vv.v, coalesce(min(m.u), vv.v)) AS component
  FROM verts vv LEFT JOIN mutual m ON vv.v = m.v
  GROUP BY vv.v
),
dag AS MATERIALIZED (
  SELECT DISTINCT a1.component AS src, a2.component AS dst
  FROM gpairs g
  JOIN assign a1 ON a1.vertex = g.src
  JOIN assign a2 ON a2.vertex = g.dst
  WHERE a1.component <> a2.component
),
cverts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM dag UNION ALL SELECT dst AS v FROM dag
  )
),
p(v, d) AS (
  SELECT v, 0 FROM cverts WHERE v NOT IN (SELECT dst FROM dag)
  UNION
  SELECT dag.dst, p.d + 1 FROM p JOIN dag ON dag.src = p.v
),
lay AS (SELECT v, max(d)::BIGINT AS layer FROM p GROUP BY v)
SELECT a.vertex, a.component, coalesce(l.layer, 0) AS layer
FROM assign a LEFT JOIN lay l ON l.v = a.component""",
        # DSIR replay: same md5 buckets, add-one bucket distributions
        # on target (lang='en') and raw (all docs), per-doc log-ratio sum
        "dsir_weights": f"""
WITH {_TOK},
g AS (
  SELECT doc_id,
         ('0x' || substring(md5(gram), 1, 6))::BIGINT % {DSIR_BUCKETS}
           AS b
  FROM (
    SELECT doc_id, token AS gram FROM tok
    UNION ALL
    SELECT a.doc_id, a.token || ' ' || b.token AS gram
    FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  )
),
tgt AS (
  SELECT b, count(*) AS c FROM g
  JOIN documents d ON d.doc_id = g.doc_id
  WHERE d.lang = 'en' GROUP BY b
),
rawc AS (SELECT b, count(*) AS c FROM g GROUP BY b),
nt AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM tgt),
nr AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM rawc),
ratio AS (
  SELECT r.b,
         coalesce(ln((t.c + 1.0) / ((SELECT n FROM nt) + {DSIR_BUCKETS})),
                  ln(1.0 / ((SELECT n FROM nt) + {DSIR_BUCKETS})))
         - ln((r.c + 1.0) / ((SELECT n FROM nr) + {DSIR_BUCKETS}))
           AS log_ratio
  FROM rawc r LEFT JOIN tgt t ON t.b = r.b
),
perdoc AS (SELECT doc_id, b, count(*) AS c FROM g GROUP BY doc_id, b),
agg AS (
  SELECT p.doc_id, sum(p.c)::BIGINT AS n_feats,
         sum(p.c * rt.log_ratio) AS lw
  FROM perdoc p JOIN ratio rt ON rt.b = p.b
  GROUP BY p.doc_id
)
SELECT d.doc_id,
       coalesce(a.n_feats, 0)::BIGINT AS n_feats,
       round(coalesce(a.lw, 0.0), 6) AS log_weight,
       round(CASE WHEN coalesce(a.n_feats, 0) > 0
                  THEN a.lw / a.n_feats ELSE 0.0 END, 6) AS avg_log_ratio
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id""",
        # hashing-trick featurizer: identical md5 bucket + sign algebra,
        # unigrams + adjacent bigrams
        "feature_hash": f"""
WITH {_TOK},
g AS (
  SELECT doc_id, token AS gram FROM tok
  UNION ALL
  SELECT a.doc_id, a.token || ' ' || b.token AS gram
  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
),
h AS (
  SELECT doc_id,
         ('0x' || substring(md5(gram), 1, 6))::BIGINT % {FH_FEATURES}
           AS idx,
         CASE WHEN ('0x' || substring(md5('sign:' || gram), 1, 1))::INT < 8
              THEN 1 ELSE -1 END AS s
  FROM g
)
SELECT doc_id, idx, sum(s)::BIGINT AS value FROM h GROUP BY doc_id, idx""",
        # concat-and-chunk packing: identical shard hash, per-shard
        # cumsum and integer-division chunk indices
        "pack_chunks": f"""
WITH tokn AS (
  SELECT ('0x' || substring(md5(doc_id::VARCHAR), 1, 6))::BIGINT
           % {PACK_SHARDS} AS shard,
         doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_tokens
  FROM documents
),
off AS (
  SELECT shard, doc_id, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
           AS end_off
  FROM tokn
)
SELECT shard, doc_id, n_tokens,
       end_off - n_tokens AS start_off,
       end_off,
       (end_off - n_tokens) // {PACK_CONTEXT} AS first_chunk,
       greatest(end_off - 1, end_off - n_tokens) // {PACK_CONTEXT}
         AS last_chunk
FROM off""",
        # greedy first-fit packing: per-shard linear recursion over the
        # doc_id order carrying (bin_id, fill) state
        "pack_greedy": f"""
WITH RECURSIVE tokn AS (
  SELECT ('0x' || substring(md5(doc_id::VARCHAR), 1, 6))::BIGINT
           % {PACK_SHARDS} AS shard,
         doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_tokens
  FROM documents
),
seq AS (
  SELECT shard, doc_id, n_tokens,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM tokn
),
st(shard, rn, doc_id, n_tokens, bin_id, bin_off, fill_after) AS (
  SELECT shard, rn, doc_id, n_tokens, 0::BIGINT, 0::BIGINT,
         least(n_tokens, {PACK_CONTEXT})
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.shard, s.rn, s.doc_id, s.n_tokens,
         CASE WHEN p.fill_after + least(s.n_tokens, {PACK_CONTEXT})
                   > {PACK_CONTEXT}
              THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.fill_after + least(s.n_tokens, {PACK_CONTEXT})
                   > {PACK_CONTEXT}
              THEN 0 ELSE p.fill_after END,
         CASE WHEN p.fill_after + least(s.n_tokens, {PACK_CONTEXT})
                   > {PACK_CONTEXT}
              THEN least(s.n_tokens, {PACK_CONTEXT})
              ELSE p.fill_after + least(s.n_tokens, {PACK_CONTEXT}) END
  FROM st p JOIN seq s ON s.shard = p.shard AND s.rn = p.rn + 1
)
SELECT shard, doc_id, n_tokens, bin_id, bin_off,
       n_tokens > {PACK_CONTEXT} AS truncated
FROM st""",
        "token_count": """
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
         AS n_tokens,
       length(text)::BIGINT AS n_chars
FROM documents""",
        "bpe_token_count": r"""
SELECT doc_id,
       len(regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS n_bpe
FROM documents""",
        "lang_id": f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, len(toks) AS n,
         len(list_filter(toks, x -> list_contains({en_list}, x))) AS hits
  FROM t
)
SELECT doc_id,
       round(CASE WHEN n > 0 THEN hits::DOUBLE / n ELSE 0.0 END, 6)
         AS en_ratio,
       CASE WHEN n >= 5 AND hits::DOUBLE / n >= 0.05 THEN 'en'
            ELSE 'und' END AS lang_pred
FROM s""",
        "quality_score": f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
         len(toks) AS n,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS alnum,
         len(list_filter(toks, x -> list_contains({en_list}, x))) AS hits
  FROM t
)
SELECT doc_id,
       n::BIGINT AS n_tokens,
       round(CASE WHEN n > 0
             THEN (n_chars - (n - 1))::DOUBLE / n ELSE 0.0 END, 6)
         AS mean_word_len,
       round(CASE WHEN n_chars > 0
             THEN alnum::DOUBLE / n_chars ELSE 0.0 END, 6) AS alnum_ratio,
       round(CASE WHEN n > 0 THEN hits::DOUBLE / n ELSE 0.0 END, 6)
         AS stop_ratio,
       round(least(n / 20.0, 1.0)
             * (CASE WHEN (n_chars - (n - 1))::DOUBLE / n BETWEEN 2.0
                     AND 12.0 THEN 1.0 ELSE 0.5 END)
             * (CASE WHEN n_chars > 0
                THEN alnum::DOUBLE / n_chars ELSE 0.0 END), 6) AS quality
FROM s""",
        "fingerprint": f"SELECT doc_id, {fp_norm} AS fp FROM documents",
        "readability": """
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
               - 84.6 * (n_syllables::DOUBLE / n_words), 6)
       END AS flesch
FROM (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_words,
         greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT
           AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
           AS n_syllables
  FROM documents
)""",
        "word_entropy": """
WITH w AS (
  SELECT doc_id, lower(t.x) AS w
  FROM documents,
       unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(x)
),
c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
e AS (
  SELECT doc_id, sum(c)::DOUBLE AS n, sum(c::DOUBLE * log2(c)) AS clc
  FROM c GROUP BY 1
)
SELECT d.doc_id,
       coalesce(round(log2(e.n) - e.clc / e.n, 6), 0.0) AS entropy
FROM documents d LEFT JOIN e ON e.doc_id = d.doc_id""",
        "url_strip_tracking": """
SELECT doc_id,
       base || CASE doc_id % 4
         WHEN 0 THEN '?utm_source=x&q=' || doc_id::VARCHAR
         WHEN 1 THEN '?q=' || doc_id::VARCHAR || '&fbclid=zz'
         WHEN 2 THEN '?utm_campaign=c&utm_medium=m'
         ELSE '?a=1&b=2#f' END AS url,
       base || CASE doc_id % 4
         WHEN 0 THEN '?q=' || doc_id::VARCHAR
         WHEN 1 THEN '?q=' || doc_id::VARCHAR
         WHEN 2 THEN ''
         ELSE '?a=1&b=2#f' END AS clean_url
FROM (
  SELECT doc_id,
         'https://h' || (doc_id % 7)::VARCHAR || '.example.org/p/'
           || doc_id::VARCHAR AS base
  FROM documents
)""",
        "mirror_hosts": f"""
WITH pages AS (
  SELECT 'h' || (doc_id % 7)::VARCHAR || '.example.org' AS host, text
  FROM documents
  UNION ALL
  SELECT 'm' || (doc_id % 2)::VARCHAR || '.mirror.net' AS host, text
  FROM documents WHERE doc_id % 3 = 0
),
hfp AS (SELECT DISTINCT host, {fp_norm} AS fp FROM pages),
sizes AS (
  SELECT host, count(*) AS n_fp FROM hfp GROUP BY host
  HAVING count(*) >= 2
),
ok AS (SELECT h.host, h.fp FROM hfp h JOIN sizes s ON s.host = h.host),
rare AS (SELECT fp FROM ok GROUP BY fp HAVING count(*) <= 1000),
idx AS (SELECT o.host, o.fp FROM ok o JOIN rare r ON r.fp = o.fp),
-- denominators from the FILTERED index (same universe as the numerator)
fsizes AS (SELECT host, count(*) AS n_fp FROM idx GROUP BY host),
inter AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS common
  FROM idx a JOIN idx b ON a.fp = b.fp AND a.host < b.host
  GROUP BY 1, 2
)
SELECT host_a, host_b, common,
       round(common / (sa.n_fp + sb.n_fp - common)::DOUBLE, 6) AS jaccard
FROM inter
JOIN fsizes sa ON sa.host = host_a
JOIN fsizes sb ON sb.host = host_b
WHERE round(common / (sa.n_fp + sb.n_fp - common)::DOUBLE, 6) >= 0.02""",
        "dedup_exact": f"""
WITH fp AS (SELECT doc_id, {fp_norm} AS fp FROM documents)
SELECT fp, min(doc_id) AS canonical_doc, count(*)::BIGINT AS n_docs
FROM fp GROUP BY fp HAVING count(*) > 1""",
        # mojibake: expected output reconstructed in closed form
        "fix_mojibake": """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN text || ' café naïve é'
            ELSE text END AS text_fixed,
       doc_id % 3 = 0 AS was_mojibake
FROM documents""",
        # paragraph dedup: same synthesized 3-paragraph docs, md5 of the
        # ws-collapsed lowered paragraph as the dedup key, first
        # occurrence by (doc_id, pos), blanks always pass
        "paragraph_dedup": r"""
WITH d AS (
  SELECT doc_id,
         text || chr(10) || 'Subscribe to our newsletter.' || chr(10)
              || 'Copyright 2024 h' || (doc_id % 7)::VARCHAR
              || '.example.org' AS text
  FROM documents
),
p AS (
  SELECT doc_id, generate_subscripts(parts, 1) - 1 AS pos,
         unnest(parts) AS para
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d)
),
k AS (
  SELECT doc_id, pos, para, trim(para) = '' AS blank,
         md5(lower(trim(regexp_replace(para, '\s+', ' ', 'g')))) AS pkey
  FROM p
),
r AS (
  SELECT *, CASE WHEN blank THEN 1 ELSE
    row_number() OVER (PARTITION BY pkey ORDER BY doc_id, pos) END AS rn
  FROM k
),
kept AS (SELECT * FROM r WHERE blank OR rn = 1),
reb AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text_dedup,
         sum(CASE WHEN blank THEN 0 ELSE 1 END)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (
  SELECT doc_id, sum(CASE WHEN blank THEN 0 ELSE 1 END)::BIGINT AS n_paras
  FROM k GROUP BY doc_id
)
SELECT d.doc_id, coalesce(reb.text_dedup, '') AS text_dedup,
       coalesce(tot.n_paras, 0) AS n_paras,
       coalesce(reb.n_kept, 0) AS n_kept
FROM d LEFT JOIN reb ON reb.doc_id = d.doc_id
       LEFT JOIN tot ON tot.doc_id = d.doc_id""",
        "dedup_ngram_jaccard": f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       round(i.i / (za.n_sh + zb.n_sh - i.i), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
WHERE round(i.i / (za.n_sh + zb.n_sh - i.i), 6) >= {JACCARD_T}""",
        "dedup_minhash_lsh": _minhash_sql(),
        "dedup_simhash": _simhash_sql(max_hamming=10),
        "ann_lsh_topk": _ann_lsh_sql(
            k=ANN_K, n_queries=ANN_QUERIES, bucket_dims=LSH_BUCKET_DIMS
        ),
        "ann_ivf_topk": _ann_ivf_sql(
            k=ANN_K, n_queries=ANN_QUERIES, n_centroids=IVF_CENTROIDS,
            n_probe=IVF_PROBE,
        ),
        "label_propagation": _lpa_sql(10),
        "louvain": _louvain_sql(LOUVAIN_ROUNDS, LOUVAIN_SEED),
        "louvain_multilevel": _louvain_ml_sql(LOUVAIN_ROUNDS, LOUVAIN_ML_SEED),
        "bpe_merges": _bpe_sql(BPE_MERGES),
        "bpe_segment": _bpe_apply_sql(BPE_MERGES),
        "leiden": _leiden_sql(LEIDEN_ROUNDS, LEIDEN_SEED),
        # connectivity refinement of the host partition: transitive
        # closure restricted to intra-host edges, piece id = min member;
        # singletons = vertices with no intra-host edge (NOTE the
        # WITH RECURSIVE bare-UNION footgun: `adj` dedups via
        # SELECT DISTINCT over UNION ALL)
        # Kahn layering of the token DAG: longest path from a source,
        # enumerated recursively (bounded by DAG depth x vertices)
        "onion": _onion_sql(ONION_ROUNDS),
        "topo_layers": f"""
WITH RECURSIVE {_EDGES},
e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e
  )
),
p(v, d) AS (
  SELECT v, 0 FROM verts WHERE v NOT IN (SELECT dst FROM e)
  UNION
  SELECT e.dst, p.d + 1 FROM p JOIN e ON e.src = p.v
)
SELECT v AS vertex, max(d)::BIGINT AS layer FROM p GROUP BY v""",
        "refine_hosts": f"""
WITH RECURSIVE {_WEB_LINK_EDGES},
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges
  )
),
lab AS (
  SELECT v, regexp_extract(v, '^https://([^/]+)', 1) AS label FROM verts
),
adj AS (
  SELECT DISTINCT src, dst FROM (
    SELECT e.src, e.dst FROM edges e
    JOIN lab a ON a.v = e.src
    JOIN lab b ON b.v = e.dst
    WHERE a.label = b.label AND e.src <> e.dst
    UNION ALL
    SELECT e.dst AS src, e.src AS dst FROM edges e
    JOIN lab a ON a.v = e.src
    JOIN lab b ON b.v = e.dst
    WHERE a.label = b.label AND e.src <> e.dst
  )
),
reach(v, lbl) AS (
  SELECT src, src FROM adj
  UNION
  SELECT d.dst, r.lbl FROM reach r JOIN adj d ON d.src = r.v
),
cc AS (SELECT v, min(lbl) AS community FROM reach GROUP BY v)
SELECT l.v AS vertex, coalesce(cc.community, l.v) AS community
FROM lab l LEFT JOIN cc ON cc.v = l.v""",
        # conductance of those LPA communities: the unrolled LPA replay
        # nested as a subquery, cut/vol algebra mirrored (max-w dedup per
        # undirected pair, self-loops out, min-side volume denominator)
        # conductance of the host partition of the page graph: host
        # label from the URL arithmetic, cut/vol algebra mirrored
        # (max-w dedup per undirected pair, self-loops out, min-side
        # volume denominator)
        "conductance_hosts": f"""
WITH {_WEB_LINK_EDGES},
und AS (
  SELECT least(src, dst) AS a, greatest(src, dst) AS b, max(weight) AS w
  FROM edges WHERE src <> dst GROUP BY 1, 2
),
pair AS (
  SELECT regexp_extract(a, '^https://([^/]+)', 1) AS ca,
         regexp_extract(b, '^https://([^/]+)', 1) AS cb,
         w
  FROM und
),
mir AS (
  SELECT ca AS cu, cb AS cv, w FROM pair
  UNION ALL
  SELECT cb AS cu, ca AS cv, w FROM pair
),
vol AS (SELECT cu AS label, sum(w) AS vol_w FROM mir GROUP BY cu),
tot AS (SELECT sum(w) AS t FROM mir),
cut AS (
  SELECT cu AS label, sum(w) AS cut_w FROM mir WHERE cu <> cv GROUP BY cu
)
SELECT v.label, round(coalesce(c.cut_w, 0), 6) AS cut_w,
       round(v.vol_w, 6) AS vol_w,
       round(CASE WHEN least(v.vol_w, (SELECT t FROM tot) - v.vol_w) > 0
             THEN coalesce(c.cut_w, 0)
                  / least(v.vol_w, (SELECT t FROM tot) - v.vol_w)
             ELSE 0.0 END, 6) AS conductance
FROM vol v LEFT JOIN cut c USING (label)""",
        "embedding_near_dup": _emb_bucket_sql(
            threshold=0.35, bucket_dims=EMB_BUCKET_DIMS
        ),
        "ann_cosine_topk": f"""
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {ANN_QUERIES}),
c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
s AS (
  SELECT q_id, n_id,
         round(list_cosine_similarity(qv, nv), 6) AS cosine
  FROM q JOIN c ON q_id <> n_id
),
r AS (
  SELECT q_id, n_id, cosine,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, n_id ASC) AS rank
  FROM s
)
SELECT q_id, n_id, cosine, rank::BIGINT AS rank FROM r
WHERE rank <= {ANN_K}""",
        # PQ/ADC replay: same seeded codebook, per-block squared-L2 with
        # the same left-fold + 6dp rounding, min-(d, code) assignment,
        # j-ordered ADC fold
        "ann_ivfpq_topk": _ann_ivfpq_sql(
            ANN_K, ANN_QUERIES, IVF_CENTROIDS, IVF_PROBE,
            PQ_M, _PQ_SUB, PQ_CODES,
        ),
        "ann_pq_topk": f"""
WITH cbv AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS v
  FROM embeddings ORDER BY md5(vec_id::VARCHAR) LIMIT {PQ_CODES}
),
cb AS (
  SELECT c_id, j,
         v[j * {_PQ_SUB} + 1 : j * {_PQ_SUB} + {_PQ_SUB}] AS c_sub
  FROM cbv, range(0, {PQ_M}) t(j)
),
nb AS (
  SELECT vec_id AS n_id, j,
         (embedding::DOUBLE[])[j * {_PQ_SUB} + 1 : j * {_PQ_SUB} + {_PQ_SUB}]
           AS n_sub
  FROM embeddings, range(0, {PQ_M}) t(j)
),
qb AS (
  SELECT vec_id AS q_id, j,
         (embedding::DOUBLE[])[j * {_PQ_SUB} + 1 : j * {_PQ_SUB} + {_PQ_SUB}]
           AS q_sub
  FROM embeddings, range(0, {PQ_M}) t(j)
  WHERE vec_id < {ANN_QUERIES}
),
codes AS (
  SELECT n_id, j, code FROM (
    SELECT n.n_id, n.j, c.c_id AS code,
           row_number() OVER (
             PARTITION BY n.n_id, n.j
             ORDER BY round(list_sum(list_transform(
                        range(1, {_PQ_SUB} + 1),
                        i -> (n.n_sub[i] - c.c_sub[i])
                           * (n.n_sub[i] - c.c_sub[i]))), 6) ASC,
                      c.c_id ASC) AS rn
    FROM nb n JOIN cb c ON c.j = n.j
  ) WHERE rn = 1
),
lut AS (
  SELECT q.q_id, q.j, c.c_id AS code,
         round(list_sum(list_transform(
           range(1, {_PQ_SUB} + 1),
           i -> (q.q_sub[i] - c.c_sub[i])
              * (q.q_sub[i] - c.c_sub[i]))), 6) AS d
  FROM qb q JOIN cb c ON c.j = q.j
),
adc AS (
  SELECT l.q_id, cd.n_id,
         round(list_sum(list(l.d ORDER BY l.j)), 6) AS adc_d2
  FROM codes cd JOIN lut l ON l.j = cd.j AND l.code = cd.code
  WHERE l.q_id <> cd.n_id
  GROUP BY l.q_id, cd.n_id
)
SELECT q_id, n_id, adc_d2, rank::BIGINT AS rank FROM (
  SELECT q_id, n_id, adc_d2,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_d2 ASC, n_id ASC) AS rank
  FROM adc
) WHERE rank <= {ANN_K}""",
        "multimodal_meta": """
SELECT doc_id::VARCHAR AS doc_id,
       'application/octet-stream' AS media_type,
       octet_length(encode(text))::BIGINT AS n_bytes,
       lower(hex(encode(substring(text, 1, 4)))) AS magic
FROM documents""",
        "top_tokens": f"""
WITH {_TOK},
counts AS (SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY token),
ranked AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
  FROM counts
)
SELECT token, cnt, rank::BIGINT AS rank FROM ranked WHERE rank <= 100""",
        "prf_eval": f"""
WITH {_TOK},
vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
gold AS (SELECT token FROM vocab
         WHERE substring(md5(token), 1, 1) IN ('0','1','2','3')),
test AS (
  SELECT token FROM (
    SELECT token,
           row_number() OVER (ORDER BY cnt DESC, token ASC) AS rank
    FROM vocab
  ) WHERE rank <= 10
),
m AS (
  SELECT
    (SELECT count(*) FROM test JOIN gold USING (token))::DOUBLE AS i,
    (SELECT count(*) FROM test)::DOUBLE AS nt,
    (SELECT count(*) FROM gold)::DOUBLE AS ng
)
SELECT round(CASE WHEN nt > 0 THEN i / nt ELSE 0 END, 6) AS precision,
       round(CASE WHEN ng > 0 THEN i / ng ELSE 0 END, 6) AS recall,
       round(CASE WHEN i > 0 THEN 2 * (i/nt) * (i/ng) / (i/nt + i/ng)
             ELSE 0 END, 6) AS f1
FROM m""",
        "lineitem_pricing": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
        "orders_by_nation": """
SELECT n.n_name,
       count(*)::BIGINT AS n_orders,
       round(sum(o.o_totalprice), 4) AS revenue
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name""",
        "events_daily": """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*)::BIGINT AS n_events,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2""",
    }
    # plan-variant queries share their spec's oracle: the salted /
    # encoded / star paths must produce byte-identical results
    d["pagerank_salted"] = d["pagerank"]
    d["pagerank_personalized"] = _pagerank_sql_personalized(PR_ITERS)
    d["pagerank_encoded"] = d["pagerank"]
    d["components_star_per_doc"] = d["components_per_doc"]
    d["label_propagation_encoded"] = d["label_propagation"]
    d["neighborhood_2"] = f"""
WITH {_EDGES},
adj AS (
  SELECT DISTINCT src AS v, dst AS u FROM edges WHERE src <> dst
  UNION
  SELECT DISTINCT dst AS v, src AS u FROM edges WHERE src <> dst
),
verts AS (
  SELECT DISTINCT vertex FROM (
    SELECT src AS vertex FROM edges UNION ALL SELECT dst FROM edges
  )
),
r0 AS (SELECT vertex AS v, vertex AS r FROM verts),
r1 AS (
  SELECT v, r FROM r0
  UNION
  SELECT r0.v, adj.u AS r FROM r0 JOIN adj ON adj.v = r0.r
),
r2 AS (
  SELECT v, r FROM r1
  UNION
  SELECT r1.v, adj.u AS r FROM r1 JOIN adj ON adj.v = r1.r
)
SELECT v AS vertex, count(DISTINCT r)::BIGINT AS n_reach
FROM r2 GROUP BY v"""
    d["harmonic_approx"] = f"""
WITH RECURSIVE {_EDGES},
adj AS (
  SELECT DISTINCT src AS v, dst AS u FROM edges WHERE src <> dst
  UNION
  SELECT DISTINCT dst AS v, src AS u FROM edges WHERE src <> dst
),
verts AS (
  SELECT DISTINCT vertex FROM (
    SELECT src AS vertex FROM edges UNION ALL SELECT dst FROM edges
  )
),
reach(v, r, d) AS (
  SELECT vertex AS v, vertex AS r, 0 AS d FROM verts
  UNION
  SELECT reach.v, adj.u AS r, d + 1 AS d
  FROM reach JOIN adj ON adj.v = reach.r
  WHERE d < 40
),
dist AS (
  SELECT v, r, min(d) AS md FROM reach WHERE v <> r GROUP BY v, r
),
lvl AS (
  SELECT v, md, count(*)::DOUBLE AS cnt FROM dist GROUP BY v, md
)
SELECT v AS vertex, round(sum(cnt / md), 6) AS harmonic
FROM lvl GROUP BY v"""
    d["edge_diff"] = f"""
WITH {_TOK},
pa AS (
  SELECT least(a.token, b.token) AS src,
         greatest(a.token, b.token) AS dst
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {WINDOW}
),
ea AS (SELECT src, dst, count(*)::DOUBLE AS weight_a FROM pa GROUP BY 1, 2),
pb AS (
  SELECT least(a.token, b.token) AS src,
         greatest(a.token, b.token) AS dst
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {WINDOW + 1}
),
eb AS (SELECT src, dst, count(*)::DOUBLE AS weight_b FROM pb GROUP BY 1, 2)
SELECT coalesce(ea.src, eb.src) AS src,
       coalesce(ea.dst, eb.dst) AS dst,
       CASE WHEN ea.src IS NULL THEN 'new'
            WHEN eb.src IS NULL THEN 'lost'
            WHEN weight_a <> weight_b THEN 'changed'
            ELSE 'same' END AS status,
       coalesce(weight_a, 0) AS weight_a,
       coalesce(weight_b, 0) AS weight_b
FROM ea FULL OUTER JOIN eb ON ea.src = eb.src AND ea.dst = eb.dst"""
    d["web_link_edges"] = (
        f"WITH {_WEB_LINK_EDGES} SELECT src, dst, weight FROM edges"
    )
    d["hits_hosts"] = _hits_sql(HITS_ITERS, _WEB_HOST_EDGES)
    # anchor-text index: closed-form labels per link class from the page
    # arithmetic (independent of the anchor-element regexes)
    d["anchor_text"] = f"""
WITH {_WEB_BASE},
lk AS (
  SELECT src,
         'https://h' || (t1 % 7)::VARCHAR || '.example.org/d/'
           || t1::VARCHAR || '.html' AS dst,
         'a' AS anchor
  FROM base
  UNION ALL
  SELECT src, origin || '/d/' || t2::VARCHAR || '.html', 'b' FROM base
  UNION ALL
  SELECT src, dir || 'rel' || t2::VARCHAR || '.html', 'c' FROM base
)
SELECT dst, anchor, count(*)::BIGINT AS n
FROM lk WHERE src <> dst GROUP BY dst, anchor"""
    # bow-tie regions: closure + mutual reachability + region CASE (all
    # set CTEs written DISTINCT-over-UNION-ALL per the WITH RECURSIVE
    # footgun)
    d["bowtie_pages"] = f"""
WITH RECURSIVE {_WEB_LINK_EDGES},
sl AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
reach(a, b) AS (
  SELECT src, dst FROM sl
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sl s ON s.src = r.b
),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM sl UNION ALL SELECT dst FROM sl
  )
),
mutual AS (
  SELECT r1.a AS v, r1.b AS u
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
comp AS (
  SELECT vv.v, least(vv.v, coalesce(min(m.u), vv.v)) AS c
  FROM verts vv LEFT JOIN mutual m ON m.v = vv.v GROUP BY vv.v
),
csz AS (SELECT c, count(*) AS n FROM comp GROUP BY c),
core_id AS (SELECT c FROM csz ORDER BY n DESC, c ASC LIMIT 1),
core AS (SELECT v FROM comp WHERE c = (SELECT c FROM core_id)),
fwd AS (
  SELECT DISTINCT v FROM (
    SELECT v FROM core
    UNION ALL
    SELECT r.b AS v FROM reach r JOIN core ON core.v = r.a
  )
),
bwd AS (
  SELECT DISTINCT v FROM (
    SELECT v FROM core
    UNION ALL
    SELECT r.a AS v FROM reach r JOIN core ON core.v = r.b
  )
),
inr AS (SELECT v FROM bwd WHERE v NOT IN (SELECT v FROM core)),
outr AS (SELECT v FROM fwd WHERE v NOT IN (SELECT v FROM core)),
from_in AS (
  SELECT DISTINCT v FROM (
    SELECT v FROM inr
    UNION ALL
    SELECT r.b AS v FROM reach r JOIN inr ON inr.v = r.a
  )
),
to_out AS (
  SELECT DISTINCT v FROM (
    SELECT v FROM outr
    UNION ALL
    SELECT r.a AS v FROM reach r JOIN outr ON outr.v = r.b
  )
)
SELECT vv.v AS vertex,
       CASE WHEN vv.v IN (SELECT v FROM core) THEN 'CORE'
            WHEN vv.v IN (SELECT v FROM inr) THEN 'IN'
            WHEN vv.v IN (SELECT v FROM outr) THEN 'OUT'
            WHEN vv.v IN (SELECT v FROM from_in)
                 AND vv.v IN (SELECT v FROM to_out) THEN 'TUBE'
            WHEN vv.v IN (SELECT v FROM from_in)
                 OR vv.v IN (SELECT v FROM to_out) THEN 'TENDRIL'
            ELSE 'DISCONNECTED' END AS region
FROM verts vv"""
    # SALSA closed form: bipartite-support components (recursive CTE) +
    # per-component degree sums + side entitlement, mirroring salsa.py's
    # arithmetic shape
    d["salsa_pages"] = f"""
WITH RECURSIVE {_WEB_LINK_EDGES},
slinks AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
bip AS (SELECT 'H|' || src AS a, 'A|' || dst AS b FROM slinks),
badj AS (SELECT a, b FROM bip UNION SELECT b AS a, a AS b FROM bip),
reach(v, lbl) AS (
  SELECT a, a FROM badj
  UNION
  SELECT d.b, r.lbl FROM reach r JOIN badj d ON d.a = r.v
),
comp AS (SELECT v, min(lbl) AS component FROM reach GROUP BY v),
outd AS (
  SELECT src AS vertex, count(*)::BIGINT AS deg FROM slinks GROUP BY src
),
ind AS (
  SELECT dst AS vertex, count(*)::BIGINT AS deg FROM slinks GROUP BY dst
),
hl AS (
  SELECT o.vertex, o.deg, c.component
  FROM outd o JOIN comp c ON c.v = 'H|' || o.vertex
),
hn AS (SELECT count(*)::DOUBLE AS n FROM hl),
hc AS (
  SELECT component, sum(deg) AS cdeg, count(*) AS cn
  FROM hl GROUP BY component
),
hub AS (
  SELECT hl.vertex,
         (hc.cn::DOUBLE / (SELECT n FROM hn)) * hl.deg::DOUBLE / hc.cdeg
           AS hub
  FROM hl JOIN hc USING (component)
),
al AS (
  SELECT i.vertex, i.deg, c.component
  FROM ind i JOIN comp c ON c.v = 'A|' || i.vertex
),
an AS (SELECT count(*)::DOUBLE AS n FROM al),
ac AS (
  SELECT component, sum(deg) AS cdeg, count(*) AS cn
  FROM al GROUP BY component
),
auth AS (
  SELECT al.vertex,
         (ac.cn::DOUBLE / (SELECT n FROM an)) * al.deg::DOUBLE / ac.cdeg
           AS authority
  FROM al JOIN ac USING (component)
),
allv AS (
  -- DISTINCT over UNION ALL, not bare UNION: inside a WITH RECURSIVE
  -- clause DuckDB gives every UNION CTE recursive semantics (no
  -- cross-branch dedup for non-self-referencing bodies)
  SELECT DISTINCT vertex FROM (
    SELECT src AS vertex FROM slinks
    UNION ALL
    SELECT dst AS vertex FROM slinks
  )
)
SELECT v.vertex, round(coalesce(h.hub, 0.0), 6) AS hub,
       round(coalesce(a.authority, 0.0), 6) AS authority
FROM allv v
LEFT JOIN hub h ON h.vertex = v.vertex
LEFT JOIN auth a ON a.vertex = v.vertex"""
    d["ktruss"] = _ktruss_sql(KTRUSS_K, 10)
    d["densest_subgraph"] = _densest_sql(14)
    d["luby_mis"] = _mis_sql(6, "mis")
    d["landmark_distances"] = _landmark_sql(22, 4)
    d["maximal_matching"] = _matching_sql(6, "matching")
    d["random_walks"] = _walks_sql(WALK_STEPS, WALK_SEED)
    d["node2vec_walks"] = _n2v_sql(WALK_STEPS, N2V_SEED, N2V_P, N2V_Q)
    d["degree_distribution"] = f"""
WITH {_EDGES},
und AS (SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst),
adj AS (SELECT a AS u FROM und UNION ALL SELECT b FROM und),
deg AS (SELECT u, count(*)::BIGINT AS degree FROM adj GROUP BY u)
SELECT degree, count(*)::BIGINT AS n_vertices FROM deg GROUP BY degree"""
    # expression shapes mirror graphstats.py exactly (same IEEE op order)
    d["graph_stats"] = f"""
WITH {_EDGES},
und AS (SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst),
adj AS (
  SELECT a AS u, b AS v FROM und UNION ALL SELECT b AS u, a AS v FROM und
),
deg AS (SELECT u, count(*)::DOUBLE AS d FROM adj GROUP BY u),
j AS (
  SELECT d1.d AS x, d2.d AS y
  FROM adj JOIN deg d1 ON d1.u = adj.u JOIN deg d2 ON d2.u = adj.v
),
s AS (
  SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM j
),
assort AS (
  SELECT (sxy / n - (sx / n) * (sy / n))
         / sqrt((sxx / n - (sx / n) * (sx / n))
                * (syy / n - (sy / n) * (sy / n))) AS r
  FROM s
),
undw AS (
  SELECT src AS a, dst AS b, max(weight) AS w
  FROM edges WHERE src <> dst GROUP BY 1, 2
),
lab AS (
  SELECT a, b, w, substr(a, 1, 1) AS ca, substr(b, 1, 1) AS cb FROM undw
),
mm AS (SELECT sum(w) AS m FROM lab),
intra AS (SELECT coalesce(sum(w), 0.0) AS s FROM lab WHERE ca = cb),
degs AS (
  SELECT c, sum(w) AS dc FROM (
    SELECT ca AS c, w FROM lab UNION ALL SELECT cb AS c, w FROM lab
  ) GROUP BY c
),
s2 AS (SELECT sum(dc * dc) AS s2 FROM degs)
SELECT round((SELECT r FROM assort), 6) AS assortativity,
       round((SELECT s FROM intra) / (SELECT m FROM mm)
             - (SELECT s2 FROM s2)
               / (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm)),
             6) AS modularity"""
    # link prediction: wedge/degree algebra over the symmetrized
    # closed-form page graph — non-adjacent pairs with >= 1 common
    # neighbor, Adamic-Adar on natural log of the center degree
    d["link_prediction"] = f"""
WITH {_WEB_LINK_EDGES},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges
),
adj AS (
  SELECT a AS w, b AS n FROM und UNION ALL SELECT b AS w, a AS n FROM und
),
deg AS (SELECT w, count(*)::BIGINT AS deg FROM adj GROUP BY w),
wed AS (
  SELECT l.n AS u, r.n AS v, d.deg
  FROM adj l JOIN adj r ON l.w = r.w AND l.n < r.n
  JOIN deg d ON d.w = l.w
),
sc AS (
  SELECT u, v, count(*)::BIGINT AS cn, sum(1.0 / ln(deg)) AS aa
  FROM wed GROUP BY u, v
),
nonadj AS (
  SELECT sc.u, sc.v, sc.cn, sc.aa
  FROM sc LEFT JOIN und ON und.a = sc.u AND und.b = sc.v
  WHERE und.a IS NULL
)
SELECT n.u, n.v, n.cn,
       round(CAST(n.cn AS DOUBLE) / (du.deg + dv.deg - n.cn), 6) AS jaccard,
       round(n.aa, 6) AS adamic_adar
FROM nonadj n
JOIN deg du ON du.w = n.u
JOIN deg dv ON dv.w = n.v"""
    # cocitation / coupling: directed wedge on the shared center (citing
    # page resp. cited target); self-loops out, distinct edges, leaf-side
    # degree for the Jaccard by inclusion-exclusion
    d["cocitation"] = f"""
WITH {_WEB_LINK_EDGES},
sl AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
ind AS (SELECT dst AS n, count(*)::BIGINT AS d FROM sl GROUP BY dst),
p AS (
  SELECT a.dst AS u, b.dst AS v, count(*)::BIGINT AS n_common
  FROM sl a JOIN sl b ON a.src = b.src AND a.dst < b.dst
  GROUP BY 1, 2
)
SELECT u, v, n_common,
       round(CAST(n_common AS DOUBLE) / (du.d + dv.d - n_common), 6)
         AS jaccard
FROM p JOIN ind du ON du.n = p.u JOIN ind dv ON dv.n = p.v"""
    d["bib_coupling"] = f"""
WITH {_WEB_LINK_EDGES},
sl AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
outd AS (SELECT src AS n, count(*)::BIGINT AS d FROM sl GROUP BY src),
p AS (
  SELECT a.src AS u, b.src AS v, count(*)::BIGINT AS n_common
  FROM sl a JOIN sl b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
)
SELECT u, v, n_common,
       round(CAST(n_common AS DOUBLE) / (du.d + dv.d - n_common), 6)
         AS jaccard
FROM p JOIN outd du ON du.n = p.u JOIN outd dv ON dv.n = p.v"""
    d["web_text_extract"] = f"""
WITH {_WEB_BASE},
ct AS (
  SELECT b.src AS url,
         trim(regexp_replace(d.text, '\\s+', ' ', 'g')) AS body
  FROM base b JOIN documents d USING (doc_id)
)
SELECT url,
       CASE WHEN body = '' THEN 'a b c n'
            ELSE body || ' a b c n' END AS text
FROM ct"""
    d["ppr_multi_seed"] = _ppr_multi_seed_sql(
        PPR_ITERS, _WEB_LINK_EDGES, PPR_SEEDS
    )
    d["web_host_pagerank"] = _pagerank_sql_directed(
        PR_ITERS, _WEB_HOST_EDGES
    )
    # independent replay of canonicalize_url's algebra (scheme/host
    # lowering with userinfo preserved, scheme-keyed default-port strip,
    # percent-escape hex uppercasing) with DuckDB list ops instead of
    # Spark higher-order functions
    d["url_canonical"] = r"""
WITH raw AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
         || (CASE WHEN doc_id % 5 = 0 THEN 'User:P%4ass@' ELSE '' END)
         || 'H' || (doc_id % 7)::VARCHAR || '.Example.ORG'
         || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
             WHEN 2 THEN ':8080' ELSE '' END)
         || '/D/' || doc_id::VARCHAR || '%2f' || doc_id::VARCHAR
         || '%zz/x.html?a=%3a&b=100%' AS u
  FROM documents
),
org AS (
  SELECT doc_id, u,
         regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)', 1)
           AS origin
  FROM raw
),
auth AS (
  SELECT doc_id, u, origin,
         lower(regexp_extract(origin, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
           AS scheme,
         substr(origin,
                length(regexp_extract(origin,
                                      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                + 4) AS a
  FROM org
),
ui AS (
  SELECT doc_id, u, origin, scheme, a,
         regexp_extract(a, '^([^@]*@)', 1) AS userinfo
  FROM auth
),
lowered AS (
  SELECT doc_id,
         CASE WHEN origin = '' THEN u ELSE
           scheme || '://' || userinfo ||
           (CASE scheme
              WHEN 'http' THEN
                regexp_replace(lower(substr(a, length(userinfo) + 1)),
                               ':80$', '')
              WHEN 'https' THEN
                regexp_replace(lower(substr(a, length(userinfo) + 1)),
                               ':443$', '')
              ELSE lower(substr(a, length(userinfo) + 1)) END)
           || substr(u, length(origin) + 1)
         END AS u
  FROM ui
),
parts AS (SELECT doc_id, string_split(u, '%') AS p FROM lowered)
SELECT doc_id,
       array_to_string(
         list_prepend(
           p[1],
           list_transform(
             p[2:],
             s -> CASE WHEN regexp_matches(s[1:2], '^[0-9a-fA-F]{2}$')
                       THEN upper(s[1:2]) || s[3:]
                       ELSE s END)),
         '%') AS url
FROM parts"""
    # ---- curation operators -------------------------------------------
    # duplicate-line + gram-repetition algebra replayed with DuckDB list
    # ops and SELECT-unnest of generate_series (empty series drops the
    # row, matching the Spark side's empty-gram-array + coalesce(0))
    # crawl depth: bounded recursive reachability + min-hop agg over the
    # closed-form page edges; seeds = host-h0 pages; dist NULL =
    # unreachable (bound 80 >> graph diameter, so min-dist is exact)
    d["bfs_depth"] = f"""
WITH RECURSIVE {_WEB_LINK_EDGES},
sl AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
verts AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM sl UNION ALL SELECT dst AS v FROM sl
  )
),
seeds AS (SELECT DISTINCT src AS v FROM base WHERE doc_id % 7 = 0),
reach(v, d) AS (
  SELECT v, 0 FROM seeds
  UNION
  SELECT s.dst, r.d + 1 FROM reach r JOIN sl s ON s.src = r.v
  WHERE r.d < 80
),
mind AS (SELECT v, min(d) AS dist FROM reach GROUP BY v)
SELECT verts.v AS vertex, coalesce(mind.dist, -1) AS dist
FROM verts LEFT JOIN mind ON mind.v = verts.v"""
    d["sssp_pages"] = _sssp_pages_sql(40)
    d["redirect_resolution"] = _redirects_sql(16)
    # directed scalars: reciprocity (reverse-edge fraction) +
    # transitivity (3T / wedges), expression shapes mirrored bit-for-bit
    # pre-round
    d["graph_stats_directed"] = f"""
WITH {_WEB_LINK_EDGES},
de AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
rec AS (
  SELECT sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         / count(*)::DOUBLE AS v
  FROM de LEFT JOIN de r ON r.src = de.dst AND r.dst = de.src
),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
  ) GROUP BY v
),
tric AS (
  SELECT count(*)::DOUBLE AS t3
  FROM und e1
  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
),
wed AS (SELECT sum(d * (d - 1) / 2)::DOUBLE AS w FROM deg)
SELECT round(rec.v, 6) AS reciprocity,
       round((3.0 * tric.t3) / wed.w, 6) AS transitivity
FROM rec, tric, wed"""
    # rich club: suffix counts of the degree and min-endpoint-degree
    # histograms per threshold k
    d["rich_club"] = f"""
WITH {_EDGES},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
  ) GROUP BY v
),
md AS (
  SELECT least(da.d, db.d) AS m
  FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b
),
ks AS (
  SELECT unnest(generate_series(0, (SELECT max(d) FROM deg) - 1)) AS k
)
SELECT k,
       round(2.0 * (SELECT count(*) FROM md WHERE m > k)
             / ((SELECT count(*) FROM deg WHERE d > k)
                * ((SELECT count(*) FROM deg WHERE d > k) - 1)), 6) AS phi
FROM ks
WHERE (SELECT count(*) FROM deg WHERE d > k) >= 2"""
    # boilerplate line removal: two-pass heavy-hitter count + ordered
    # FILTERed string_agg reassembly (string_agg over zero kept lines is
    # NULL -> '')
    d["boilerplate_lines"] = """
WITH docs2 AS (
  SELECT doc_id,
         concat_ws(chr(10),
           'NAVBAR Home About Contact',
           text,
           CASE WHEN doc_id % 2 = 0 THEN 'COOKIE consent accept all' END,
           'uid ' || doc_id::VARCHAR) AS text
  FROM documents
),
lin AS (
  SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
  FROM (SELECT doc_id,
               list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
        FROM docs2)
),
freq AS (
  SELECT line FROM (SELECT line, count(*) AS n FROM lin GROUP BY line)
  WHERE n >= 3
),
marked AS (
  SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS boiler
  FROM lin l LEFT JOIN freq f ON f.line = l.line
),
reb AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos)
           FILTER (WHERE NOT boiler) AS text,
         count(*) FILTER (WHERE NOT boiler)::BIGINT AS n_kept,
         count(*) FILTER (WHERE boiler)::BIGINT AS n_dropped
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.text, '') AS text,
       coalesce(r.n_kept, 0) AS n_kept,
       coalesce(r.n_dropped, 0) AS n_dropped
FROM documents d LEFT JOIN reb r ON r.doc_id = d.doc_id"""
    d["repetition"] = r"""
WITH raw AS (
  SELECT doc_id,
         text || chr(10) || substr(text, 1, 40) || chr(10)
              || substr(text, 1, 40) || chr(10) || doc_id::VARCHAR AS t
  FROM documents
),
lines AS (
  SELECT doc_id, list_filter(string_split(t, chr(10)), s -> s <> '') AS ls
  FROM raw
),
linef AS (
  SELECT doc_id, len(ls)::BIGINT AS n_lines,
         CASE WHEN len(ls) > 1
              THEN round(1.0 - CAST(len(list_distinct(ls)) AS DOUBLE)
                               / len(ls), 6)
              ELSE 0.0 END AS dup_line_frac
  FROM lines
),
toks AS (
  SELECT doc_id, list_filter(string_split(t, ' '), s -> s <> '') AS tk
  FROM raw
),
g2p AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS i
  FROM toks
),
g2c AS (
  SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS g, count(*) AS c
  FROM g2p GROUP BY 1, 2
),
top2 AS (
  SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS tb
  FROM g2c GROUP BY 1
),
g3p AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS i
  FROM toks
),
g3c AS (
  SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS g, count(*) AS c
  FROM g3p GROUP BY 1, 2
),
dup3 AS (
  SELECT doc_id,
         round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
               / sum(c), 6) AS dt
  FROM g3c GROUP BY 1
)
SELECT l.doc_id, l.n_lines, l.dup_line_frac,
       coalesce(t2.tb, 0.0) AS top_bigram_frac,
       coalesce(d3.dt, 0.0) AS dup_trigram_frac
FROM linef l
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN dup3 d3 USING (doc_id)"""
    # identical regexes on both engines (Java regex ∩ RE2 subset) —
    # sourced from the library constants so they cannot drift
    from jgtextrank_spark.functions.curation import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
    )

    d["pii_scrub"] = f"""
WITH raw AS (
  SELECT doc_id,
         text || ' reach u' || doc_id::VARCHAR || '@ex'
              || (doc_id % 5)::VARCHAR || '.org'
              || (CASE WHEN doc_id % 3 = 0
                       THEN ' call 415-555-'
                            || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                       ELSE '' END)
              || (CASE WHEN doc_id % 4 = 0
                       THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.0.7'
                       ELSE '' END) AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(t, '{PHONE_RE}'))::BIGINT AS n_phones,
       len(regexp_extract_all(t, '{IPV4_RE}'))::BIGINT AS n_ips,
       regexp_replace(regexp_replace(regexp_replace(t,
         '{EMAIL_RE}', '<EMAIL>', 'g'),
         '{PHONE_RE}', '<PHONE>', 'g'),
         '{IPV4_RE}', '<IP>', 'g') AS clean_text
FROM raw"""
    # 8-gram benchmark-overlap check: same gram construction via list
    # slicing; DISTINCT per doc before the join (a gram repeated inside
    # one doc counts once)
    d["decontaminate"] = r"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), s -> s <> '') AS tk
  FROM documents
),
bench AS (SELECT tk[1:12] AS btk FROM toks WHERE doc_id % 50 = 0),
bg1 AS (
  SELECT btk, unnest(generate_series(1, greatest(len(btk) - 7, 0))) AS i
  FROM bench
),
bgrams AS (SELECT DISTINCT array_to_string(btk[i:i+7], ' ') AS g FROM bg1),
dg1 AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS i
  FROM toks
),
dgrams AS (
  SELECT DISTINCT doc_id, array_to_string(tk[i:i+7], ' ') AS g FROM dg1
),
hits AS (
  SELECT doc_id, count(*)::BIGINT AS n_hits
  FROM dgrams JOIN bgrams USING (g) GROUP BY 1
)
SELECT t.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM toks t LEFT JOIN hits h USING (doc_id)"""
    # ---- duplicate-span (exact substring) dedup -------------------------
    _SPAN_GRAMS = f"""
stoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
grams AS (
  SELECT doc_id, u.pos - 1 AS pos,
         md5(array_to_string(ts[u.pos : u.pos + {SPAN_K} - 1], ' ')) AS gh
  FROM stoks, unnest(range(1, len(ts) - {SPAN_K} + 2)) AS u(pos)
  WHERE len(ts) >= {SPAN_K}
),
dupg AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
dpos AS (SELECT g.doc_id, g.pos FROM grams g JOIN dupg USING (gh)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dpos
),
spans AS (
  SELECT doc_id, min(pos) AS span_start,
         max(pos) + {SPAN_K} - 1 AS span_end, count(*) AS n_grams
  FROM isl GROUP BY doc_id, grp
)"""
    d["duplicate_spans"] = f"""
WITH {_SPAN_GRAMS}
SELECT doc_id, span_start, span_end, n_grams FROM spans"""
    d["strip_spans"] = f"""
WITH {_SPAN_GRAMS},
sfps AS (
  SELECT s.doc_id, s.span_start, s.span_end,
         md5(array_to_string(
           t.ts[s.span_start + 1 : s.span_end + 1], ' ')) AS sfp
  FROM spans s JOIN stoks t USING (doc_id)
),
dropped AS (
  SELECT doc_id, span_start, span_end FROM (
    SELECT doc_id, span_start, span_end,
           row_number() OVER (
             PARTITION BY sfp ORDER BY doc_id, span_start) AS rn
    FROM sfps
  ) WHERE rn > 1
),
tokpos AS (
  SELECT doc_id, generate_subscripts(ts, 1) - 1 AS pos, unnest(ts) AS token
  FROM stoks
),
kept AS (
  SELECT t.doc_id, t.pos, t.token
  FROM tokpos t
  WHERE NOT EXISTS (
    SELECT 1 FROM dropped x
    WHERE x.doc_id = t.doc_id
      AND t.pos BETWEEN x.span_start AND x.span_end
  )
),
kagg AS (
  SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS txt
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, coalesce(k.txt, '') AS text_clean
FROM documents d LEFT JOIN kagg k USING (doc_id)"""
    # ---- BM25 / TF-IDF retrieval ----------------------------------------
    _POSTINGS = """
rtoks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
post AS (
  SELECT u.term, doc_id, count(*)::BIGINT AS tf
  FROM rtoks, unnest(ts) AS u(term) GROUP BY u.term, doc_id
),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term)"""
    d["bm25_topk"] = f"""
WITH {_POSTINGS},
queries AS (
  SELECT doc_id AS query_id, list_filter(ts[1:4], t -> t <> '') AS qts
  FROM rtoks WHERE doc_id % {BM25_QMOD} = 7
),
qterms AS (
  SELECT DISTINCT query_id, u.term FROM queries, unnest(qts) AS u(term)
),
dl AS (SELECT doc_id, len(ts)::DOUBLE AS dl FROM rtoks),
scal AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(len(ts)::DOUBLE) AS avgdl
  FROM rtoks
),
scored AS (
  SELECT q.query_id, p.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (p.tf * (1.2 + 1.0))
             / (p.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dd.dl / s.avgdl))
         ), 6) AS score
  FROM post p
  JOIN qterms q USING (term)
  JOIN dfreq f USING (term)
  JOIN dl dd ON dd.doc_id = p.doc_id
  CROSS JOIN scal s
  GROUP BY q.query_id, p.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id
         )::BIGINT AS rank
  FROM scored
)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {BM25_K}"""
    d["tfidf"] = f"""
WITH {_POSTINGS},
scal AS (SELECT count(*)::DOUBLE AS n_docs FROM documents)
SELECT p.doc_id, p.term,
       round(p.tf * (ln((1.0 + s.n_docs) / (1.0 + f.df)) + 1.0), 6)
         AS tfidf
FROM post p JOIN dfreq f USING (term) CROSS JOIN scal s"""
    # ---- near-dup cluster resolution ------------------------------------
    _mh = _minhash_sql()
    d["dedup_clusters"] = f"""
WITH RECURSIVE cpairs AS (
  SELECT doc_a, doc_b FROM ({_mh})
),
cadj AS (
  SELECT DISTINCT * FROM (
    SELECT doc_a AS src, doc_b AS dst FROM cpairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM cpairs
  )
),
creach(v, lbl) AS (
  SELECT src, src FROM cadj
  UNION
  SELECT a.dst, r.lbl FROM creach r JOIN cadj a ON a.src = r.v
),
comp AS (
  SELECT v AS doc_id, min(lbl) AS canonical_doc FROM creach GROUP BY v
)
SELECT doc_id, canonical_doc,
       count(*) OVER (PARTITION BY canonical_doc)::BIGINT AS cluster_size
FROM comp"""
    d["dedup_keep_best"] = f"""
WITH RECURSIVE cpairs AS (
  SELECT doc_a, doc_b FROM ({_mh})
),
cadj AS (
  SELECT DISTINCT * FROM (
    SELECT doc_a AS src, doc_b AS dst FROM cpairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM cpairs
  )
),
creach(v, lbl) AS (
  SELECT src, src FROM cadj
  UNION
  SELECT a.dst, r.lbl FROM creach r JOIN cadj a ON a.src = r.v
),
comp AS (
  SELECT v AS doc_id, min(lbl) AS canonical_doc FROM creach GROUP BY v
),
alldocs AS (
  SELECT d.doc_id,
         coalesce(c.canonical_doc, d.doc_id) AS canonical_doc
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
),
qual AS (
  SELECT doc_id,
         round(least(len(toks) / 20.0, 1.0)
               * (CASE WHEN (length(text) - (len(toks) - 1))::DOUBLE
                            / len(toks) BETWEEN 2.0 AND 12.0
                       THEN 1.0 ELSE 0.5 END)
               * (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(
                              text, '[^A-Za-z0-9 ]', '', 'g'))::DOUBLE
                            / length(text)
                       ELSE 0.0 END), 6) AS quality
  FROM (
    SELECT doc_id, text,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  )
)
SELECT f.doc_id, f.canonical_doc,
       count(*) OVER (PARTITION BY f.canonical_doc)::BIGINT
         AS cluster_size,
       q.quality,
       row_number() OVER (PARTITION BY f.canonical_doc
                          ORDER BY q.quality DESC, f.doc_id ASC) = 1
         AS keep
FROM alldocs f JOIN qual q ON q.doc_id = f.doc_id"""
    # ---- DeepWalk corpus: skip-gram pairs + negative sampling -----------
    _wsql = _walks_sql(WALK_STEPS, WALK_SEED)
    d["skipgram_pairs"] = f"""
WITH walks AS (
{_wsql}
)
SELECT a.vertex AS center, b.vertex AS context, count(*)::BIGINT AS n
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id AND a.step <> b.step
 AND abs(a.step - b.step) <= {SG_WINDOW}
GROUP BY a.vertex, b.vertex"""
    d["negative_sampling"] = f"""
WITH walks AS (
{_wsql}
),
wcounts AS (
  SELECT vertex, count(*)::BIGINT AS n FROM walks GROUP BY vertex
),
wz AS (SELECT sum(pow(n::DOUBLE, 0.75)) AS z FROM wcounts)
SELECT vertex, n, round(pow(n::DOUBLE, 0.75) / wz.z, 9) AS p_neg
FROM wcounts, wz"""
    # ---- deterministic sampling ------------------------------------------
    d["stratified_sample"] = f"""
WITH u AS (
  SELECT doc_id, lang,
         (('0x' || substring(md5('s0:' || doc_id::VARCHAR), 1, 12))::BIGINT
          / 281474976710656.0) AS uu
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY uu ASC, doc_id ASC
         )::BIGINT AS sample_rank
  FROM u
)
SELECT doc_id, lang, sample_rank FROM r WHERE sample_rank <= {QUOTA_N}"""
    d["weighted_sample"] = f"""
WITH w AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::DOUBLE
           + 1.0 AS wt,
         (('0x' || substring(md5('s0:' || doc_id::VARCHAR), 1, 12))::BIGINT
          / 281474976710656.0) AS uu
  FROM documents
),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY -ln(uu) / wt ASC, doc_id ASC)::BIGINT
           AS es_rank
  FROM w WHERE wt > 0
)
SELECT doc_id, es_rank FROM r WHERE es_rank <= {WS_K}"""
    d["temperature_mixture"] = f"""
WITH counts AS (
  SELECT lang AS stratum, count(*)::BIGINT AS n_docs
  FROM documents GROUP BY lang
),
t AS (
  SELECT sum(n_docs)::DOUBLE AS n_tot,
         sum(pow(n_docs::DOUBLE, {TEMP_ALPHA})) AS z
  FROM counts
)
SELECT stratum, n_docs,
       round(n_docs::DOUBLE / t.n_tot, 9) AS p_raw,
       round(pow(n_docs::DOUBLE, {TEMP_ALPHA}) / t.z, 9) AS p_mix,
       round((pow(n_docs::DOUBLE, {TEMP_ALPHA}) / t.z)
             / (n_docs::DOUBLE / t.n_tot), 9) AS boost
FROM counts, t"""
    # ---- crawl frontier + politeness schedule ----------------------------
    # closed-form link derivation (same as web_link_edges); crawled set =
    # the page urls themselves; host parsed with the SAME regexp as
    # weblinks.host_of
    # canonical / sitemap extraction: expected rows in closed form
    d["canonical_urls"] = """
WITH b AS (
  SELECT doc_id,
         'https://h' || (doc_id % 7)::VARCHAR || '.example.org' AS origin,
         (doc_id * 7 + 1) % 997 AS t1
  FROM documents
)
SELECT origin || '/d/' || doc_id::VARCHAR || '.html' AS url,
       origin || '/c/' || t1::VARCHAR || '.html?a=1&b=2' AS canonical
FROM b WHERE doc_id % 5 <> 0"""
    d["sitemap_urls"] = """
WITH b AS (
  SELECT doc_id,
         'https://h' || (doc_id % 7)::VARCHAR || '.example.org' AS origin,
         (doc_id * 7 + 1) % 997 AS t1
  FROM documents
),
sm AS (SELECT *, origin || '/sm/' || doc_id::VARCHAR || '.xml' AS su FROM b)
SELECT su AS sitemap_url, 0::BIGINT AS pos,
       origin || '/sm/child' || t1::VARCHAR || '.xml' AS loc,
       'sitemap' AS kind
FROM sm WHERE doc_id % 5 = 0
UNION ALL
SELECT su, 0::BIGINT,
       origin || '/d/' || t1::VARCHAR || '.html', 'url'
FROM sm WHERE doc_id % 5 <> 0
UNION ALL
SELECT su, 1::BIGINT, origin || '/q?a=1&b=2', 'url'
FROM sm WHERE doc_id % 5 <> 0"""
    # per-domain rollup: closed-form domain per doc_id residue class
    d["domain_stats"] = """
WITH u AS (
  SELECT CASE WHEN doc_id % 6 = 0 THEN 'news.co.uk'
              WHEN doc_id % 6 IN (1, 2) THEN 'example.org'
              WHEN doc_id % 6 = 3 THEN 'shop.com.au'
              WHEN doc_id % 6 = 4 THEN 'localhost'
              ELSE '10.0.0.1' END AS domain,
         CASE WHEN doc_id % 6 = 0
                THEN 'a' || ((doc_id // 6) % 3)::VARCHAR || '.news.co.uk'
              WHEN doc_id % 6 = 1 THEN 'b.example.org'
              WHEN doc_id % 6 = 2 THEN 'www.example.org'
              WHEN doc_id % 6 = 3 THEN 'shop.com.au'
              WHEN doc_id % 6 = 4 THEN 'localhost'
              ELSE '10.0.0.1' END AS host,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks
  FROM documents
)
SELECT domain, count(*)::BIGINT AS n_docs,
       count(DISTINCT host)::BIGINT AS n_hosts,
       sum(n_toks)::BIGINT AS n_tokens,
       round(avg(n_toks), 6) AS mean_doc_tokens
FROM u GROUP BY domain"""
    # robots verdicts in closed form from the doc_id arithmetic: even
    # hosts obey the named graftbot group (Disallow /d/9*), odd hosts
    # the catch-all (Disallow /d/1*, Allow /d/12 winning the length tie)
    d["robots_filter"] = """
WITH u AS (
  SELECT 'https://h' || (doc_id % 7)::VARCHAR || '.example.org/d/'
           || doc_id::VARCHAR || '.html' AS url,
         'h' || (doc_id % 7)::VARCHAR || '.example.org' AS host,
         doc_id::VARCHAR AS ds,
         (doc_id % 7) % 2 = 0 AS even
  FROM documents
)
SELECT url, host,
  CASE WHEN even THEN NOT (ds LIKE '9%')
       ELSE (ds LIKE '12%') OR NOT (ds LIKE '1%') END AS allowed,
  CASE WHEN even AND ds LIKE '9%' THEN 'disallow'
       WHEN NOT even AND ds LIKE '12%' THEN 'allow'
       WHEN NOT even AND ds LIKE '1%' THEN 'disallow'
       ELSE '' END AS matched_rule,
  CASE WHEN even AND ds LIKE '9%' THEN '/d/9*'
       WHEN NOT even AND ds LIKE '12%' THEN '/d/12'
       WHEN NOT even AND ds LIKE '1%' THEN '/d/1*'
       ELSE '' END AS matched_path
FROM u"""
    d["crawl_frontier"] = f"""
WITH {_WEB_LINK_EDGES},
crawled AS (SELECT src AS url FROM base),
refs AS (
  SELECT dst AS url, count(*)::BIGINT AS n_refs
  FROM (SELECT DISTINCT src, dst FROM edges) GROUP BY dst
),
fr AS (
  SELECT r.url,
         lower(regexp_extract(
           r.url, '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1)) AS host,
         r.n_refs
  FROM refs r
  WHERE r.url NOT IN (SELECT url FROM crawled)
),
ranked AS (
  SELECT url, host,
         row_number() OVER (
           PARTITION BY host ORDER BY n_refs DESC, url ASC
         )::BIGINT AS host_rank
  FROM fr
)
SELECT url, host, host_rank,
       ceil(host_rank::DOUBLE / {CRAWL_RATE})::BIGINT AS wave
FROM ranked"""
    # ---- bipartite butterflies -------------------------------------------
    d["butterflies"] = f"""
WITH {_TOK},
binc AS (SELECT DISTINCT doc_id AS l, token AS r FROM tok),
bpairs AS (
  SELECT a.l AS a, b.l AS b, count(*) AS c
  FROM binc a JOIN binc b ON a.r = b.r AND a.l < b.l
  GROUP BY a.l, b.l HAVING count(*) >= 2
),
bfsum AS (
  SELECT vertex, sum(bf)::BIGINT AS butterflies FROM (
    SELECT a AS vertex, ((c * (c - 1)) / 2)::BIGINT AS bf FROM bpairs
    UNION ALL
    SELECT b AS vertex, ((c * (c - 1)) / 2)::BIGINT AS bf FROM bpairs
  ) GROUP BY vertex
)
SELECT t.l AS doc_id, coalesce(s.butterflies, 0)::BIGINT AS butterflies
FROM (SELECT DISTINCT l FROM binc) t
LEFT JOIN bfsum s ON s.vertex = t.l"""
    # ---- Weisfeiler-Lehman fingerprints (unrolled refinement) -----------
    wl_ctes = [f"""{_TOK},
wdp AS (
  SELECT DISTINCT a.doc_id, a.token AS src, b.token AS dst FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {WINDOW}
),
wadj AS (
  SELECT DISTINCT * FROM (
    SELECT doc_id, src AS v, dst AS u FROM wdp WHERE src <> dst
    UNION ALL
    SELECT doc_id, dst AS v, src AS u FROM wdp WHERE src <> dst
  )
),
wl0 AS (
  SELECT doc_id, v, md5(count(*)::VARCHAR) AS lbl
  FROM wadj GROUP BY doc_id, v
)"""]
    for t in range(1, WL_ITERS + 1):
        wl_ctes.append(f"""
wl{t} AS (
  SELECT a.doc_id, a.v,
         md5(l.lbl || '|' || string_agg(n.lbl, ',' ORDER BY n.lbl)) AS lbl
  FROM wadj a
  JOIN wl{t - 1} l ON l.doc_id = a.doc_id AND l.v = a.v
  JOIN wl{t - 1} n ON n.doc_id = a.doc_id AND n.v = a.u
  GROUP BY a.doc_id, a.v, l.lbl
)""")
    d["wl_fingerprints"] = (
        "WITH " + ",".join(wl_ctes)
        + f"""
SELECT doc_id, md5(string_agg(lbl, ',' ORDER BY lbl)) AS wl_hash
FROM wl{WL_ITERS} GROUP BY doc_id"""
    )
    # ---- bigram LM fluency (train = even half, score = all) --------------
    d["bigram_lm"] = f"""
WITH dbg AS (
  SELECT doc_id,
         ts[i.pos] AS w1, ts[i.pos + 1] AS w2
  FROM (
    SELECT doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS ts
    FROM documents
  ), unnest(range(1, len(ts))) AS i(pos)
  WHERE len(ts) >= 2
),
tbg AS (SELECT w1, w2 FROM dbg WHERE doc_id % 2 = 0),
big AS (SELECT w1, w2, count(*) AS c12 FROM tbg GROUP BY w1, w2),
lft AS (SELECT w1, count(*) AS c1 FROM tbg GROUP BY w1),
uni AS (
  SELECT u.w, count(*) AS cu FROM (
    SELECT doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS ts
    FROM documents WHERE doc_id % 2 = 0
  ), unnest(ts) AS u(w) GROUP BY u.w
),
scal AS (
  SELECT sum(cu)::DOUBLE AS n_tok, count(*)::DOUBLE AS vocab FROM uni
),
scored AS (
  SELECT g.doc_id,
         CASE WHEN b.c12 IS NOT NULL THEN ln(b.c12 / l.c1)
              ELSE ln({LM_ALPHA} * ((coalesce(u.cu, 0) + 1)
                       / (s.n_tok + s.vocab)))
         END AS logp
  FROM dbg g
  LEFT JOIN big b ON b.w1 = g.w1 AND b.w2 = g.w2
  LEFT JOIN lft l ON l.w1 = g.w1
  LEFT JOIN uni u ON u.w = g.w2
  CROSS JOIN scal s
)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(a.avg_logp, 0.0) AS avg_logp
FROM documents d
LEFT JOIN (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         round(avg(logp), 6) AS avg_logp
  FROM scored GROUP BY doc_id
) a USING (doc_id)"""
    # ---- PMI collocations -------------------------------------------------
    d["pmi_collocations"] = f"""
WITH dbg AS (
  SELECT doc_id, ts[i.pos] AS w1, ts[i.pos + 1] AS w2
  FROM (
    SELECT doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS ts
    FROM documents
  ), unnest(range(1, len(ts))) AS i(pos)
  WHERE len(ts) >= 2
),
big AS (SELECT w1, w2, count(*)::BIGINT AS n FROM dbg GROUP BY w1, w2),
uni AS (
  SELECT u.w, count(*) AS cu FROM (
    SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
    FROM documents
  ), unnest(ts) AS u(w) GROUP BY u.w
),
scal AS (
  SELECT (SELECT count(*)::DOUBLE FROM dbg) AS b_tot,
         (SELECT sum(cu)::DOUBLE FROM uni) AS n_tok
)
SELECT b.w1, b.w2, b.n,
       round(ln((b.n / s.b_tot)
                / ((u1.cu / s.n_tok) * (u2.cu / s.n_tok))), 6) AS pmi
FROM big b
JOIN uni u1 ON u1.w = b.w1
JOIN uni u2 ON u2.w = b.w2
CROSS JOIN scal s
WHERE b.n >= {PMI_MIN}"""
    # ---- per-doc exact closeness/harmonic (bounded-depth BFS closure) ----
    # depth bound 40 >> any per-doc token-graph diameter at gate scale
    # (docs are <= ~40 tokens); min-dist over the bounded path closure is
    # exact BFS distance
    d["closeness_per_doc"] = f"""
WITH RECURSIVE {_TOK},
cdp AS (
  SELECT DISTINCT a.doc_id, a.token AS src, b.token AS dst FROM tok a
  JOIN tok b ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {WINDOW}
),
cadj2 AS (
  SELECT DISTINCT * FROM (
    SELECT doc_id, src AS v, dst AS u FROM cdp WHERE src <> dst
    UNION ALL
    SELECT doc_id, dst AS v, src AS u FROM cdp WHERE src <> dst
  )
),
cverts AS (SELECT DISTINCT doc_id, v FROM cadj2),
walkc(doc_id, s, v, dd) AS (
  SELECT doc_id, v, v, 0 FROM cverts
  UNION
  SELECT w.doc_id, w.s, a.u, w.dd + 1
  FROM walkc w JOIN cadj2 a ON a.doc_id = w.doc_id AND a.v = w.v
  WHERE w.dd < 40
),
dists AS (
  SELECT doc_id, s, v, min(dd) AS dist
  FROM walkc GROUP BY doc_id, s, v
),
per_s AS (
  SELECT doc_id, s,
         count(*)::DOUBLE AS r,            -- component size incl. s
         sum(dist)::DOUBLE AS sd,
         sum(CASE WHEN dist > 0 THEN 1.0 / dist ELSE 0.0 END) AS har
  FROM dists GROUP BY doc_id, s
),
nsize AS (SELECT doc_id, count(*)::DOUBLE AS n FROM cverts GROUP BY doc_id)
SELECT p.doc_id, p.s AS vertex,
       round(CASE WHEN p.r > 1 AND z.n > 1
                  THEN ((p.r - 1) / p.sd) * ((p.r - 1) / (z.n - 1))
                  ELSE 0.0 END, 6) AS closeness,
       round(p.har, 6) AS harmonic
FROM per_s p JOIN nsize z USING (doc_id)"""
    return d
