"""PageRank parity vs the networkx recurrence (numpy mirror oracle)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from jgtextrank_spark.algos.pagerank import pagerank, pagerank_result
from jgtextrank_spark.graph import symmetrize
from oracle.nxparity import pagerank_edges


def _make_edges_df(spark, edges, directed=True):
    df = spark.createDataFrame(
        [(str(s), str(d), float(w)) for s, d, w in edges],
        "src string, dst string, weight double",
    )
    return df if directed else symmetrize(df)


def _assert_allclose(spark_scores: dict, oracle: dict, atol=1e-6):
    assert set(spark_scores) == set(oracle)
    for k, v in oracle.items():
        assert abs(spark_scores[k] - v) <= atol, (
            k,
            spark_scores[k],
            v,
        )


def _collect(df):
    return {r["vertex"]: r["score"] for r in df.collect()}


def test_simple_chain(spark, solver_path):
    edges = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (1, 3, 2.0)]
    got = _collect(pagerank(_make_edges_df(spark, edges)))
    want = pagerank_edges([(str(s), str(d), w) for s, d, w in edges])
    _assert_allclose(got, want)


def test_dangling_and_isolated(spark, solver_path):
    # 4 is dangling (no out-edges), 9 is fully isolated.
    edges = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (1, 4, 0.5)]
    edf = _make_edges_df(spark, edges)
    vdf = spark.createDataFrame([("9",)], "id string")
    got = _collect(pagerank(edf, vertices=vdf))
    want = pagerank_edges(
        [(str(s), str(d), w) for s, d, w in edges], nodes=["9"]
    )
    _assert_allclose(got, want)


def test_undirected_with_selfloop(spark, solver_path):
    edges = [(1, 2, 1.0), (2, 3, 1.0), (2, 2, 1.0), (3, 1, 1.0)]
    edf = _make_edges_df(spark, edges, directed=False)
    got = _collect(pagerank(edf))
    want = pagerank_edges(
        [(str(s), str(d), w) for s, d, w in edges], directed=False
    )
    _assert_allclose(got, want)


def test_random_graph_weighted(spark, solver_path):
    rng = random.Random(42)
    n = 60
    edges = [
        (rng.randrange(n), rng.randrange(n), rng.uniform(0.5, 3.0))
        for _ in range(400)
    ]
    # collapse duplicate (s,d) like nx.DiGraph (last write wins)
    dedup = {}
    for s, d, w in edges:
        dedup[(s, d)] = w
    edges = [(s, d, w) for (s, d), w in dedup.items()]
    got = _collect(pagerank(_make_edges_df(spark, edges)))
    want = pagerank_edges([(str(s), str(d), w) for s, d, w in edges])
    _assert_allclose(got, want)


def test_convergence_metadata(spark, solver_path):
    edges = [(1, 2, 1.0), (2, 1, 1.0)]
    res, n = pagerank_result(_make_edges_df(spark, edges))
    assert n == 2
    assert res.converged
    assert res.iterations >= 1
    steps = [m for m in res.metrics if m["event"] != "resume"]
    assert all(m["wall_ms"] > 0 for m in steps)
    assert steps[-1]["delta"] <= 2 * 1e-6


def test_checkpoint_resume(spark, tmp_path, solver_path):
    rng = random.Random(7)
    n = 40
    dedup = {}
    for _ in range(250):
        dedup[(rng.randrange(n), rng.randrange(n))] = rng.uniform(0.5, 2.0)
    edges = [(s, d, w) for (s, d), w in dedup.items()]
    edf = _make_edges_df(spark, edges)

    ckpt = str(tmp_path / "pr_ckpt")
    # First run: stop early (budget 5 iters, checkpoint every 2).
    res1, _ = pagerank_result(
        edf, max_iter=5, checkpoint_every=2, checkpoint_dir=ckpt
    )
    assert not res1.converged
    # Second run resumes from superstep 4's checkpoint and converges.
    res2, n_v = pagerank_result(
        edf, max_iter=100, checkpoint_every=2, checkpoint_dir=ckpt
    )
    assert res2.converged
    assert any(m["event"] == "resume" for m in res2.metrics)
    got = {
        r["vertex"]: r["rank"]
        for r in res2.state.select("vertex", "rank").collect()
    }
    want = pagerank_edges([(str(s), str(d), w) for s, d, w in edges])
    for k, v in want.items():
        assert abs(got[k] - v) <= 1e-6


def test_personalized_pagerank_parity(spark, solver_path):
    """Topic-sensitive PageRank vs the nx recurrence: teleport AND
    dangling mass follow the normalized personalization vector; vertices
    absent from the table get weight 0. Encoded path identical."""
    import networkx as nx

    from oracle.nxparity import pagerank_nx

    rng = random.Random(13)
    n = 40
    dedup = {}
    for _ in range(200):
        dedup[(rng.randrange(n), rng.randrange(n))] = rng.uniform(0.5, 2.0)
    dedup[(0, 777)] = 1.0  # 777 dangling: mass redistributes along p
    edges = [(s, d, w) for (s, d), w in dedup.items()]
    edf = _make_edges_df(spark, edges)
    # deterministic non-uniform weights on a strict subset of vertices
    pers = {str(v): float(1 + v % 5) for v in range(0, n, 2)}
    pdf = spark.createDataFrame(
        list(pers.items()), "id string, weight double"
    )
    G = nx.DiGraph()
    for s, d, w in edges:
        G.add_edge(str(s), str(d), weight=w)
    want = pagerank_nx(G, personalization=pers)
    got = _collect(pagerank(edf, personalization=pdf))
    _assert_allclose(got, want)
    # encode_ids path translates personalization ids through the dict
    got_enc = _collect(pagerank(edf, personalization=pdf, encode_ids=True))
    _assert_allclose(got_enc, got, atol=1e-12)
    # ids ABSENT from the graph are ignored — nx normalizes p over its
    # nodelist only, so phantom weights must not dilute the vector;
    # plain and encoded paths must agree with nx AND each other
    pers_phantom = dict(pers, **{"no-such-vertex": 99.0, "ghost": 7.0})
    pdf2 = spark.createDataFrame(
        list(pers_phantom.items()), "id string, weight double"
    )
    got_ph = _collect(pagerank(edf, personalization=pdf2))
    _assert_allclose(got_ph, want)
    got_ph_enc = _collect(
        pagerank(edf, personalization=pdf2, encode_ids=True)
    )
    _assert_allclose(got_ph_enc, got_ph, atol=1e-12)
    # degenerate: all-zero weight table raises
    zero = spark.createDataFrame([("0", 0.0)], "id string, weight double")
    with pytest.raises(Exception, match="sum > 0"):
        pagerank(edf, personalization=zero)
    # degenerate: positive weights but none in the graph also raises
    allout = spark.createDataFrame(
        [("ghost", 5.0)], "id string, weight double"
    )
    with pytest.raises(Exception, match="sum > 0"):
        pagerank(edf, personalization=allout)


def test_warm_start_same_fixpoint_fewer_supersteps(spark, solver_path):
    """init_scores warm start: identical converged scores (1e-6), fewer
    supersteps when seeding from a near-identical graph's solution —
    the incremental-recompute path for crawl deltas."""
    rng = random.Random(11)
    n = 80
    dedup = {}
    for _ in range(600):
        dedup[(rng.randrange(n), rng.randrange(n))] = rng.uniform(0.5, 2.0)
    edges_a = [(s, d, w) for (s, d), w in dedup.items()]
    # snapshot B: perturb a handful of edges
    dedup[(0, 1)] = 5.0
    dedup[(2, 3)] = 0.1
    edges_b = [(s, d, w) for (s, d), w in dedup.items()]

    res_a, _ = pagerank_result(_make_edges_df(spark, edges_a))
    prior = res_a.state.select(
        F.col("vertex").alias("id"), "rank"
    ).localCheckpoint(eager=True)

    cold, _ = pagerank_result(_make_edges_df(spark, edges_b))
    warm, _ = pagerank_result(
        _make_edges_df(spark, edges_b), init_scores=prior
    )
    assert warm.converged and cold.converged
    assert warm.iterations < cold.iterations
    c = {r["vertex"]: r["rank"] for r in cold.state.collect()}
    w = {r["vertex"]: r["rank"] for r in warm.state.collect()}
    assert set(c) == set(w)
    for v in c:
        assert abs(c[v] - w[v]) < 5e-6, v


def test_warm_start_new_vertices_get_uniform_prior(spark, solver_path):
    # prior covers only part of the graph + one out-of-graph id; the run
    # must still converge to the cold-start fixpoint
    edges = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0)]
    prior = spark.createDataFrame(
        [("1", 0.9), ("2", 0.1), ("99", 4.0)], ["id", "rank"]
    )
    cold, _ = pagerank_result(_make_edges_df(spark, edges))
    warm, _ = pagerank_result(_make_edges_df(spark, edges), init_scores=prior)
    c = {r["vertex"]: r["rank"] for r in cold.state.collect()}
    w = {r["vertex"]: r["rank"] for r in warm.state.collect()}
    for v in c:
        assert abs(c[v] - w[v]) < 5e-6, v


def test_warm_start_encoded_matches_plain(spark, solver_path):
    edges = [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (1, 3, 0.5)]
    prior = spark.createDataFrame([("2", 0.7), ("3", 0.3)], ["id", "rank"])
    plain = {
        r["vertex"]: r["score"]
        for r in pagerank(
            _make_edges_df(spark, edges), init_scores=prior
        ).collect()
    }
    enc = {
        r["vertex"]: r["score"]
        for r in pagerank(
            _make_edges_df(spark, edges), init_scores=prior, encode_ids=True
        ).collect()
    }
    assert set(plain) == set(enc)
    for v in plain:
        assert abs(plain[v] - enc[v]) < 1e-9, v


def test_warm_start_zero_mass_raises(spark, solver_path):
    edges = [(1, 2, 1.0), (2, 1, 1.0)]
    bad = spark.createDataFrame([("1", -1.0), ("2", 0.0)], ["id", "rank"])
    with pytest.raises(Exception):
        pagerank_result(_make_edges_df(spark, edges), init_scores=bad)


def test_pagerank_multi_seed_vs_nx(spark):
    """Each seed's slice of the vectorized multi-seed PPR (a) replays the
    exact power-iteration recurrence (numpy mirror, same fixed 30
    supersteps) to 1e-12, and (b) that recurrence's fixpoint matches
    nx's converged personalized pagerank to 1e-9 — including dangling-mass return-to-seed and
    exact-0.0 sparsity for unreachable vertices."""
    import networkx as nx
    import numpy as np
    from oracle.nxparity import pagerank_nx

    from jgtextrank_spark.algos.pagerank import pagerank_multi_seed

    # digraph with a dangling vertex (4) and an unreachable island (8,9)
    edges = [
        ("0", "1", 1.0), ("1", "2", 2.0), ("2", "0", 1.0),
        ("2", "3", 1.0), ("3", "4", 1.0), ("5", "0", 1.0),
        ("8", "9", 1.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    nodes = sorted({x for e in edges for x in e[:2]})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for u, v, w in edges:
        A[idx[u], idx[v]] += w
    outw = A.sum(1)
    M = np.divide(A, outw[:, None], out=np.zeros_like(A),
                  where=outw[:, None] > 0)
    dang = outw == 0

    def ppr_mirror(seed, iters, alpha=0.85):
        p = np.zeros(n)
        p[idx[seed]] = 1.0
        x = p.copy()
        for _ in range(iters):
            dm = x[dang].sum()
            x = alpha * (x @ M + dm * p) + (1 - alpha) * p
        return x

    seeds = ["0", "5"]
    got = {}
    rows = pagerank_multi_seed(df, seeds, max_iter=30, dense=True).collect()
    for r in rows:
        got[(r["seed"], r["vertex"])] = r["score"]
    D = nx.DiGraph()
    for u, v, w in edges:
        D.add_edge(u, v, weight=w)
    for s in seeds:
        mirror = ppr_mirror(s, 30)
        for v in nodes:
            assert abs(got[(s, v)] - mirror[idx[v]]) <= 1e-12, (s, v)
        # recurrence-vs-nx anchor at the FIXPOINT (numpy, 2000 iters —
        # this graph's dangling cycle mixes at ~0.97/iter, so the
        # 30-round iterate is exact-replayed above but not converged)
        want = pagerank_nx(
            D, personalization={s: 1.0}, max_iter=500, tol=1e-12
        )
        fix = ppr_mirror(s, 2000)
        for v, pv in want.items():
            assert abs(fix[idx[v]] - pv) <= 1e-9, (s, v, fix[idx[v]], pv)
    # island vertices unreachable from both seeds: exactly 0.0
    for s in seeds:
        assert got[(s, "8")] == 0.0 and got[(s, "9")] == 0.0
    # sparse mode omits exactly the 0.0 rows (reach saturates by round
    # 5 on this graph; sparsity is iteration-independent)
    sparse = pagerank_multi_seed(df, seeds, max_iter=5).collect()
    assert {(r["seed"], r["vertex"]) for r in sparse} == {
        k for k, v in got.items() if v > 0.0
    }


# ------------------------------------------------- local solve vs DataFrame loop
def _both_paths(monkeypatch, fn):
    """``fn()`` on the driver-local solve, then on the DataFrame loop."""
    from jgtextrank_spark.algos import smallgraph

    local = fn()
    with monkeypatch.context() as m:
        m.setattr(smallgraph, "SMALL_GRAPH_LIMIT", 0)
        loop = fn()
    return local, loop


def _ranks(res):
    return {r["vertex"]: r["rank"] for r in res.state.collect()}


def _random_edges(seed, n, m):
    rng = random.Random(seed)
    dedup = {}
    for _ in range(m):
        dedup[(rng.randrange(n), rng.randrange(n))] = rng.uniform(0.5, 2.0)
    return [(s, d, w) for (s, d), w in dedup.items()]


@pytest.mark.parametrize("id_type", ["string", "long"])
def test_local_solve_matches_dataframe_loop(spark, monkeypatch, id_type):
    """Same scores to 1e-12, same state schema and same superstep count,
    with isolated vertices, a personalization vector and a warm start."""
    conv = str if id_type == "string" else int
    edges = _random_edges(3, 50, 300)
    edf = spark.createDataFrame(
        [(conv(s), conv(d), w) for s, d, w in edges],
        f"src {id_type}, dst {id_type}, weight double",
    )
    vdf = spark.createDataFrame(
        [(conv(v),) for v in (900, 901, 3)], f"id {id_type}"
    )
    pdf = spark.createDataFrame(
        [(conv(v), float(1 + v % 3)) for v in range(0, 50, 4)] + [
            (conv(901), 2.0), (conv(5555), 9.0)
        ],
        f"id {id_type}, weight double",
    )
    prior = spark.createDataFrame(
        [(conv(v), 0.01 * (1 + v % 7)) for v in range(0, 50, 3)],
        f"id {id_type}, rank double",
    )
    for kwargs in ({}, {"personalization": pdf, "init_scores": prior}):
        local, loop = _both_paths(
            monkeypatch,
            lambda: pagerank_result(edf, vertices=vdf, **kwargs)[0],
        )
        assert local.state.schema == loop.state.schema
        assert (local.iterations, local.converged) == (
            loop.iterations, loop.converged
        )
        a, b = _ranks(local), _ranks(loop)
        assert a.keys() == b.keys()
        assert conv(901) in a
        for v in a:
            assert abs(a[v] - b[v]) <= 1e-12, (kwargs.keys(), v)


@pytest.mark.parametrize("first", ["local", "dataframe"])
def test_checkpoint_resumes_across_paths(spark, monkeypatch, tmp_path, first):
    """A checkpoint written by one solver resumes on the other and ends at
    the uninterrupted fixpoint."""
    from jgtextrank_spark.algos import smallgraph as mod

    edges = _random_edges(7, 40, 250)
    edf = _make_edges_df(spark, edges)
    ckpt = str(tmp_path / "pr_ckpt")
    limit = mod.SMALL_GRAPH_LIMIT
    legs = (0, limit) if first == "dataframe" else (limit, 0)
    monkeypatch.setattr(mod, "SMALL_GRAPH_LIMIT", legs[0])
    res1, _ = pagerank_result(
        edf, max_iter=5, checkpoint_every=2, checkpoint_dir=ckpt
    )
    assert not res1.converged
    assert [m["event"] for m in res1.metrics].count("checkpoint") == 2
    monkeypatch.setattr(mod, "SMALL_GRAPH_LIMIT", legs[1])
    res2, _ = pagerank_result(
        edf, max_iter=100, checkpoint_every=2, checkpoint_dir=ckpt
    )
    assert res2.converged
    assert res2.metrics[0]["event"] == "resume"
    assert res2.metrics[0]["iteration"] == 4
    assert res2.metrics[1]["iteration"] == 5
    want = pagerank_edges([(str(s), str(d), w) for s, d, w in edges])
    _assert_allclose(_ranks(res2), want)


def test_zero_weight_out_edges(spark, solver_path):
    """A zero-weight edge carries no rank; a source whose out-weights sum
    to zero is divided by, which raises under ANSI on both paths."""
    edges = [(1, 2, 1.0), (2, 3, 1.0), (2, 1, 0.0), (3, 1, 1.0), (3, 2, 2.0)]
    got = _collect(pagerank(_make_edges_df(spark, edges)))
    want = pagerank_edges([(str(s), str(d), w) for s, d, w in edges])
    _assert_allclose(got, want)

    all_zero = _make_edges_df(spark, [(1, 2, 1.0), (2, 3, 0.0), (3, 1, 1.0)])
    if spark.conf.get("spark.sql.ansi.enabled") == "true":
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            pagerank(all_zero).collect()


def test_local_solve_job_count_independent_of_supersteps(spark):
    """The driver-local solve runs no Spark job inside its loop: 5 and 50
    supersteps (``tol=0``) submit the same number of jobs."""
    # a ring with one chord mixes slowly: 50 supersteps stay unconverged
    ring = [(i, (i + 1) % 40, 1.0) for i in range(40)] + [(0, 20, 1.0)]
    edf = _make_edges_df(spark, ring)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = {}
    for iters in (5, 50):
        group = f"pagerank-local-{iters}"
        sc.setJobGroup(group, group)
        try:
            res, _ = pagerank_result(edf, max_iter=iters, tol=0.0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert res.iterations == iters and not res.converged
        jobs[iters] = len(tracker.getJobIdsForGroup(group))
    assert jobs[5] == jobs[50] <= 3
