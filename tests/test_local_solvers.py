"""The driver-local solvers of components, label propagation and triangle
counting against their DataFrame loops: per-round parity, checkpoints
across paths, Spark's id order, and job counts."""

from __future__ import annotations

import os
import random

import networkx as nx
import pytest
from pyspark.sql import functions as F

from jgtextrank_spark.algos import smallgraph
from jgtextrank_spark.algos.components import connected_components_result
from jgtextrank_spark.algos.labelprop import label_propagation_result
from jgtextrank_spark.algos.triangles import triangle_counts


def _edges_df(spark, edges, id_type="string"):
    conv = str if id_type == "string" else int
    return spark.createDataFrame(
        [(conv(s), conv(d), float(w)) for s, d, w in edges],
        f"src {id_type}, dst {id_type}, weight double",
    )


def _random_edges(seed, n, m):
    rng = random.Random(seed)
    return [
        (rng.randrange(n), rng.randrange(n), float(rng.randint(1, 3)))
        for _ in range(m)
    ]


_LIMIT = smallgraph.SMALL_GRAPH_LIMIT


def _force_dataframe(monkeypatch, on: bool):
    monkeypatch.setattr(smallgraph, "SMALL_GRAPH_LIMIT", 0 if on else _LIMIT)


def _rounds(spark, ckpt, iterations):
    """Each round's ``(vertex, label, prev_label)`` rows, read back from
    the per-round checkpoints."""
    return [
        sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(ckpt, f"superstep_{it:06d}", "state")
            ).collect()
        )
        for it in range(1, iterations + 1)
    ]


def _run_both(spark, solver_paths, tmp_path, solve):
    """``solve(checkpoint_dir)`` on the local solver, then on the DataFrame
    loop, checkpointing every round; returns both results and both
    per-round label histories."""
    out = []
    for path in solver_paths():
        ckpt = str(tmp_path / path)
        res = solve(ckpt)
        out.append((res, _rounds(spark, ckpt, res.iterations)))
    return out


def _deltas(res):
    return [(m["iteration"], m["delta"], m["event"]) for m in res.metrics]


@pytest.mark.parametrize(
    "accelerated,id_type", [(True, "string"), (False, "long")]
)
def test_components_rounds_match_dataframe_loop(
    spark, solver_paths, tmp_path, accelerated, id_type
):
    """Every round's labels, every round's delta, the round count and the
    state schema agree between the two solvers."""
    edges = _random_edges(5, 40, 45)
    edges += [(i, i + 1, 1.0) for i in range(200, 206)]
    df = _edges_df(spark, edges, id_type)
    (local, lr), (loop, dr) = _run_both(
        spark, solver_paths, tmp_path,
        lambda ckpt: connected_components_result(
            df, accelerated=accelerated, checkpoint_every=1,
            checkpoint_dir=ckpt,
        ),
    )
    assert local.converged and loop.converged
    assert local.iterations == loop.iterations
    assert lr == dr
    assert _deltas(local) == _deltas(loop)
    assert all(m["wall_ms"] > 0 for m in local.metrics)
    assert local.state.schema == loop.state.schema


def test_components_warm_start_rounds_match(spark, solver_paths, tmp_path):
    chains = [(f"a{i:02d}", f"a{i + 1:02d}", 1.0) for i in range(10)] + [
        (f"b{i:02d}", f"b{i + 1:02d}", 1.0) for i in range(10)
    ]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "src string, dst string, weight double"
    )
    prior = connected_components_result(mk(chains)).state.select(
        F.col("vertex").alias("id"), "label"
    ).localCheckpoint(eager=True)
    edges_b = mk(chains + [("a05", "b05", 1.0), ("c0", "c1", 1.0)])
    (local, lr), (loop, dr) = _run_both(
        spark, solver_paths, tmp_path,
        lambda ckpt: connected_components_result(
            edges_b, init_labels=prior, checkpoint_every=1,
            checkpoint_dir=ckpt,
        ),
    )
    assert local.iterations == loop.iterations
    assert lr == dr


@pytest.mark.parametrize("weighted", [True, False])
def test_lpa_rounds_match_dataframe_loop(
    spark, solver_paths, tmp_path, weighted
):
    edges = _random_edges(9, 40, 90)
    df = _edges_df(spark, edges)
    (local, lr), (loop, dr) = _run_both(
        spark, solver_paths, tmp_path,
        lambda ckpt: label_propagation_result(
            df, weighted=weighted, max_iter=6, checkpoint_every=1,
            checkpoint_dir=ckpt,
        ),
    )
    assert (local.iterations, local.converged) == (
        loop.iterations, loop.converged
    )
    assert local.iterations > 2
    assert lr == dr
    assert _deltas(local) == _deltas(loop)
    assert local.state.schema == loop.state.schema


@pytest.mark.parametrize("algo", ["components", "label_propagation"])
@pytest.mark.parametrize("first", ["local", "dataframe"])
def test_checkpoint_resumes_across_paths(
    spark, monkeypatch, tmp_path, first, algo
):
    """A checkpoint written by one solver resumes on the other and ends
    where an uninterrupted run ends."""
    # a 6-hop chain outlasts the first leg; the pair keeps LPA swapping
    edges = [(i, i + 1, 1.0) for i in range(6)] + [(100, 101, 1.0)]
    df = _edges_df(spark, edges)
    solve = {
        "components": lambda **kw: connected_components_result(
            df, accelerated=False, **kw
        ),
        "label_propagation": lambda **kw: label_propagation_result(df, **kw),
    }[algo]
    want = solve(max_iter=8)
    ckpt = str(tmp_path / "ckpt")
    _force_dataframe(monkeypatch, first == "dataframe")
    res1 = solve(max_iter=4, checkpoint_every=2, checkpoint_dir=ckpt)
    assert not res1.converged
    _force_dataframe(monkeypatch, first != "dataframe")
    res2 = solve(max_iter=8, checkpoint_every=2, checkpoint_dir=ckpt)
    assert res2.metrics[0]["event"] == "resume"
    assert res2.metrics[0]["iteration"] == 4
    assert res2.metrics[1]["iteration"] == 5
    assert res2.iterations == want.iterations
    assert sorted(res2.state.collect()) == sorted(want.state.collect())


def test_checkpoint_of_another_algorithm_is_refused(
    spark, tmp_path, solver_path
):
    """Components and then label propagation on one checkpoint directory:
    the second run refuses the first one's state instead of resuming."""
    df = _edges_df(spark, [(i, i + 1, 1.0) for i in range(10)])
    ckpt = str(tmp_path / "ckpt")
    connected_components_result(
        df, max_iter=2, checkpoint_every=1, checkpoint_dir=ckpt
    )
    with pytest.raises(ValueError, match="connected_components"):
        label_propagation_result(df, checkpoint_dir=ckpt)
    # resume=False never reads the directory
    res = label_propagation_result(df, checkpoint_dir=ckpt, resume=False)
    assert res.metrics[0]["event"] != "resume"


_UNICODE_IDS = ["b", "B", "é", "a", "Z", "ß", "日本", "Ä", "z", "_", "ab"]


def test_string_ids_follow_spark_order(spark, solver_path):
    """Non-ASCII and mixed-case ids: the component label is the id Spark's
    ``min`` picks (UTF-8 byte order), and label propagation breaks a tie
    toward the id Spark sorts first."""
    chain = list(zip(_UNICODE_IDS, _UNICODE_IDS[1:]))
    df = spark.createDataFrame(
        [(s, d, 1.0) for s, d in chain] + [("x", "y", 1.0)],
        "src string, dst string, weight double",
    )
    spark_min = df.select(F.min("src")).first()[0]
    assert spark_min == min(_UNICODE_IDS) == "B"
    got = {
        r["vertex"]: r["label"]
        for r in connected_components_result(df).state.collect()
    }
    assert {got[v] for v in _UNICODE_IDS} == {"B"}
    assert got["y"] == "x"
    # "m" hears "é" and "Z" with equal weight: "Z" sorts first
    tie = spark.createDataFrame(
        [("é", "m", 1.0), ("Z", "m", 1.0)],
        "src string, dst string, weight double",
    )
    lp = label_propagation_result(tie, max_iter=1)
    assert {r["vertex"]: r["label"] for r in lp.state.collect()}["m"] == "Z"


def test_lpa_null_weight_same_on_both_paths(spark, solver_paths):
    """A null weight casts no vote (SQL ``sum`` skips it): "c" hears "a"
    with a null-weight edge and "b" with weight 1, so it takes "b"."""
    df = spark.createDataFrame(
        [("a", "c", None), ("b", "c", 1.0), ("a", "d", 2.0)],
        "src string, dst string, weight double",
    )
    results = []
    for _path in solver_paths():
        res = label_propagation_result(df, max_iter=1)
        results.append({r["vertex"]: r["label"] for r in res.state.collect()})
    assert results[0] == results[1]
    assert results[0]["c"] == "b"


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_solve_job_count_independent_of_rounds(spark):
    """The local solvers run no Spark job inside their loops: 3 and 30
    rounds submit the same number of jobs."""
    chain = _edges_df(spark, [(i, i + 1, 1.0) for i in range(100)], "long")
    pair = _edges_df(spark, [(1, 2, 1.0)])  # LPA swaps the two forever
    for name, solve in (
        ("cc", lambda it: connected_components_result(
            chain, max_iter=it, accelerated=False
        )),
        ("lpa", lambda it: label_propagation_result(pair, max_iter=it)),
    ):
        jobs = {}
        for iters in (3, 30):
            res, jobs[iters] = _job_count(
                spark, f"{name}-local-{iters}", lambda: solve(iters)
            )
            assert res.iterations == iters and not res.converged
        assert jobs[3] == jobs[30] <= 3, name


def test_triangles_chunked_wedges(spark, monkeypatch):
    """Counts do not depend on how the wedges are chunked."""
    from jgtextrank_spark.algos import triangles

    edges = _random_edges(4, 30, 160)
    df = _edges_df(spark, edges)
    G = nx.Graph()
    G.add_edges_from((str(s), str(d)) for s, d, _ in edges if s != d)
    want = nx.triangles(G)
    for chunk in (1, 7, triangles.WEDGE_CHUNK):
        monkeypatch.setattr(triangles, "WEDGE_CHUNK", chunk)
        got = {
            r["vertex"]: r["triangles"] for r in triangle_counts(df).collect()
        }
        assert {v: got[v] for v in want} == want, chunk


def test_nx_fallback_refuses_above_limit(spark, monkeypatch):
    """The networkx fallback refuses an edge table of more than
    ``SMALL_GRAPH_LIMIT`` rows with ``ValueError``."""
    from jgtextrank_spark.algos.smallgraph import nx_fallback_scores

    df = _edges_df(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)])
    got = nx_fallback_scores(df, "betweenness_centrality").collect()
    assert {r["vertex"] for r in got} == {"1", "2", "3", "4"}
    monkeypatch.setattr(smallgraph, "SMALL_GRAPH_LIMIT", 2)
    with pytest.raises(ValueError, match="more than 2 edges"):
        nx_fallback_scores(df, "betweenness_centrality")
