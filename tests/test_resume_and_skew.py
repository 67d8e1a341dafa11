"""Checkpoint-resume coverage for connected components + skew correctness
+ pointer-jumping acceleration."""

from __future__ import annotations

import networkx as nx
import pytest
from pyspark.sql import functions as F

from jgtextrank_spark.algos.components import (
    connected_components,
    connected_components_result,
)
from jgtextrank_spark.algos.pagerank import pagerank
from oracle.nxparity import pagerank_edges


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [(str(s), str(d), 1.0) for s, d in edges],
        "src string, dst string, weight double",
    )


def test_components_checkpoint_resume(spark, tmp_path, solver_paths):
    n = 24
    edges = [(i, i + 1) for i in range(n)] + [(100, 101), (101, 102)]
    df = _edges_df(spark, edges)
    G = nx.Graph()
    G.add_edges_from((str(u), str(v)) for u, v in edges)
    for path in solver_paths():
        ckpt = str(tmp_path / f"cc_ckpt_{path}")
        # budget-limited first run: must NOT converge
        r1 = connected_components_result(
            df, max_iter=2, checkpoint_every=1, checkpoint_dir=ckpt,
            accelerated=False,
        )
        assert not r1.converged, path
        # resumed run converges and is exact
        r2 = connected_components_result(
            df, max_iter=60, checkpoint_every=5, checkpoint_dir=ckpt,
            accelerated=False,
        )
        assert r2.converged, path
        assert any(m["event"] == "resume" for m in r2.metrics), path
        got = {
            r["vertex"]: r["label"]
            for r in r2.state.select("vertex", "label").collect()
        }
        for comp in nx.connected_components(G):
            assert {got[v] for v in comp} == {min(comp)}, path


def test_pointer_jumping_speeds_up_chain(spark, solver_paths):
    n = 30
    edges = [(i, i + 1) for i in range(n)]
    df = _edges_df(spark, edges)
    for path in solver_paths():
        slow = connected_components_result(
            df, max_iter=60, accelerated=False
        )
        fast = connected_components_result(df, max_iter=60, accelerated=True)
        assert fast.converged and slow.converged, path
        assert fast.iterations < slow.iterations / 2, path
        got = {
            r["vertex"]: r["label"]
            for r in fast.state.select("vertex", "label").collect()
        }
        assert set(got.values()) == {"0"}, path


def test_pagerank_on_skewed_hub_graph(spark, solver_path):
    """Power-law-style hub: one vertex receives 80% of edges — the skew
    case 100TB co-occurrence graphs hit. Scores must still match the
    oracle exactly."""
    edges = [(i, 0, 1.0 + (i % 3)) for i in range(1, 60)] + [
        (i, i % 7 + 1, 1.0) for i in range(1, 40)
    ]
    dedup = {}
    for s, d, w in edges:
        dedup[(s, d)] = w
    edges = [(s, d, w) for (s, d), w in dedup.items()]
    df = spark.createDataFrame(
        [(str(s), str(d), w) for s, d, w in edges],
        "src string, dst string, weight double",
    )
    got = {r["vertex"]: r["score"] for r in pagerank(df).collect()}
    want = pagerank_edges([(str(s), str(d), w) for s, d, w in edges])
    for k, v in want.items():
        assert abs(got[k] - v) <= 1e-6


def test_pagerank_salted_two_stage_matches(spark, solver_path):
    """salt_buckets only reassociates the per-dst contribution sums; the
    salted two-stage tree must match the unsalted path ~exactly and the
    oracle to 1e-6 on the 80%-hub graph."""
    edges = [(i, 0, 1.0 + (i % 3)) for i in range(1, 60)] + [
        (i, i % 7 + 1, 1.0) for i in range(1, 40)
    ]
    dedup = {}
    for s, d, w in edges:
        dedup[(s, d)] = w
    edges = [(s, d, w) for (s, d), w in dedup.items()]
    df = spark.createDataFrame(
        [(str(s), str(d), w) for s, d, w in edges],
        "src string, dst string, weight double",
    )
    plain = {r["vertex"]: r["score"] for r in pagerank(df).collect()}
    salted = {
        r["vertex"]: r["score"]
        for r in pagerank(df, salt_buckets=4).collect()
    }
    assert salted.keys() == plain.keys()
    for k in plain:
        assert abs(salted[k] - plain[k]) <= 1e-12
    want = pagerank_edges([(str(s), str(d), w) for s, d, w in edges])
    for k, v in want.items():
        assert abs(salted[k] - v) <= 1e-6


def test_pagerank_encoded_ids_matches(spark, solver_path):
    edges = [(i, (i * 7) % 23, 1.0 + (i % 2)) for i in range(40)]
    dedup = {(s, d): w for s, d, w in edges if s != d}
    edges = [(s, d, w) for (s, d), w in dedup.items()]
    df = spark.createDataFrame(
        [(str(s), str(d), w) for s, d, w in edges],
        "src string, dst string, weight double",
    )
    plain = {r["vertex"]: r["score"] for r in pagerank(df).collect()}
    enc = {
        r["vertex"]: r["score"]
        for r in pagerank(df, encode_ids=True).collect()
    }
    assert enc.keys() == plain.keys()
    for k in plain:
        assert abs(enc[k] - plain[k]) <= 1e-12


def test_toposort_checkpoint_resume(spark, tmp_path):
    from jgtextrank_spark.algos.toposort import topological_layers

    # 12-deep chain with some cross edges: depth > checkpoint interval
    edges = [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(12)]
    edges += [("v00", "v05"), ("v03", "v09")]
    df = spark.createDataFrame(edges, "src string, dst string")
    ck = str(tmp_path / "topo_ck")
    full = topological_layers(df, checkpoint_every=4)
    want = {r["vertex"]: r["layer"] for r in full.layers.collect()}

    # run capped at 5 rounds (writes the round-4 checkpoint, then stops
    # unconverged), then resume to completion from the checkpoint
    partial = topological_layers(
        df, max_rounds=5, checkpoint_every=4, checkpoint_dir=ck,
        allow_cycles=True,
    )
    assert partial.n_cyclic > 0  # genuinely incomplete at 5 rounds
    res = topological_layers(df, checkpoint_every=4, checkpoint_dir=ck)
    got = {r["vertex"]: r["layer"] for r in res.layers.collect()}
    assert got == want
    assert any(m["event"] == "resume" for m in res.metrics)


def test_onion_checkpoint_resume(spark, tmp_path):
    import itertools

    from jgtextrank_spark.algos.onion import onion_decomposition

    # layered structure: K5 core + a few pendant chains => several rounds
    edges = [(a, b) for a, b in itertools.combinations("abcde", 2)]
    for i, c in enumerate("abcde"):
        edges += [(c, f"p{i}0"), (f"p{i}0", f"p{i}1"), (f"p{i}1", f"p{i}2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    ck = str(tmp_path / "onion_ck")
    full = onion_decomposition(df, checkpoint_every=2)
    want = {
        r["vertex"]: (r["layer"], r["core"]) for r in full.state.collect()
    }

    partial = onion_decomposition(
        df, max_rounds=2, checkpoint_every=2, checkpoint_dir=ck
    )
    assert partial.state.filter(F.col("layer").isNull()).count() > 0
    res = onion_decomposition(df, checkpoint_every=2, checkpoint_dir=ck)
    got = {r["vertex"]: (r["layer"], r["core"]) for r in res.state.collect()}
    assert got == want
    assert any(m["event"] == "resume" for m in res.metrics)
