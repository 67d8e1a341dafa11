"""The DataFrame loops above ``BROADCAST_THRESHOLD`` vertices: with the
threshold at 0 the per-superstep joins shuffle instead of broadcasting the
state, and the results match the broadcast regime."""

from __future__ import annotations

import importlib
import random

import pytest

from jgtextrank_spark.algos import labelprop, smallgraph
from jgtextrank_spark.algos.components import connected_components_result
from jgtextrank_spark.algos.labelprop import label_propagation_result
from jgtextrank_spark.algos.pagerank import pagerank_result

# the package exports the ``pagerank`` function under the module's name
pagerank = importlib.import_module("jgtextrank_spark.algos.pagerank")
_LIMIT = smallgraph.SMALL_GRAPH_LIMIT


@pytest.fixture
def edges(spark, monkeypatch):
    """A 30-vertex random edge table, with the driver-local solvers off
    and Spark's own size-based broadcast off, so only the explicit
    broadcast hints of the loops decide the join strategy."""
    monkeypatch.setattr(smallgraph, "SMALL_GRAPH_LIMIT", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    rng = random.Random(3)
    rows = {
        (rng.randrange(30), rng.randrange(30)): float(rng.randint(1, 3))
        for _ in range(90)
    }
    yield spark.createDataFrame(
        [(s, d, w) for (s, d), w in rows.items()],
        "src long, dst long, weight double",
    )
    spark.conf.set(key, saved)


def _shuffle(monkeypatch):
    monkeypatch.setattr(pagerank, "BROADCAST_THRESHOLD", 0)
    monkeypatch.setattr(labelprop, "BROADCAST_THRESHOLD", 0)


def _state(res, col):
    return {r["vertex"]: r[col] for r in res.state.collect()}


def test_pagerank_shuffle_regime_matches_broadcast(edges, monkeypatch):
    def run(**kw):
        res, _ = pagerank_result(
            edges, max_iter=4, tol=0.0, checkpoint_every=0, **kw
        )
        assert res.iterations == 4
        return _state(res, "rank")

    bcast = run()
    _shuffle(monkeypatch)
    for kw in ({}, {"salt_buckets": 3}):
        ranks = run(**kw)
        assert ranks.keys() == bcast.keys()
        for v, r in ranks.items():
            assert abs(r - bcast[v]) <= 1e-12, (kw, v)


def test_label_loops_shuffle_regime_match_broadcast(edges, monkeypatch):
    """Label propagation broadcasts below the threshold; hash-min
    components never broadcasts, so its loop is checked against the
    driver-local solve."""
    lpa_bcast = _state(
        label_propagation_result(edges, max_iter=3, checkpoint_every=0),
        "label",
    )
    _shuffle(monkeypatch)
    lpa = _state(
        label_propagation_result(edges, max_iter=3, checkpoint_every=0),
        "label",
    )
    assert lpa == lpa_bcast

    cc = _state(connected_components_result(edges, checkpoint_every=0), "label")
    monkeypatch.setattr(smallgraph, "SMALL_GRAPH_LIMIT", _LIMIT)
    local = _state(
        connected_components_result(edges, checkpoint_every=0), "label"
    )
    assert cc == local
