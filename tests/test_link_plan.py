"""The link legs' plan size and traversal count: the resolver's plan
stays linear in its size (``weblinks._let``), its results keep the
semantics the inlined resolver had, and PageRank over an uncached link
table runs that table's plan once on the driver path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jgtextrank_spark.algos import smallgraph
from jgtextrank_spark.algos.pagerank import pagerank_result
from jgtextrank_spark.supersteps import release
from jgtextrank_spark.weblinks import (
    anchor_text_table,
    link_edges,
    resolve_href,
)


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, h.encode("utf-8")) for u, h in rows], "url string, html binary"
    )


@pytest.mark.parametrize("build", [link_edges, anchor_text_table])
def test_resolver_plan_is_linear(spark, build):
    """Inlined, the resolver's shared parts were copied into the plan at
    every use: 450 ``regexp_extract`` and 114 ``RLIKE`` nodes in the
    optimized plan of one link table. Bound once, the resolver holds 6
    and 2, copied into the projection and the pushed-down filter."""
    pages = _pages(spark, [("https://h.org/a", '<a href="x">t</a>')])
    plan = build(pages)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract(") <= 24
    assert plan.count("RLIKE(") <= 6


B = "https://h.org/a/b/c.html"

# expected values are the inlined resolver's outputs
EDGE_CASES = [
    (B, None, None),
    (None, "x.html", None),
    (None, "https://o.org/x", "https://o.org/x"),
    (None, None, None),
    (B, "", None),
    (B, "   ", None),
    (B, "\t", "https://h.org/a/b/\t"),  # trim strips spaces only
    (B, "#frag", None),
    (B, " #f ", None),
    (B, "#", None),
    (B, "javascript:void(0)", None),
    (B, "JavaScript:x", None),
    (B, " mailto:a@b", None),
    (B, "..", "https://h.org/a/"),
    (B, ".", "https://h.org/a/b/"),
    (B, "../..", "https://h.org/"),
    (B, "../../..", "https://h.org/"),
    (B, "../../../../x", "https://h.org/x"),
    (B, "a/.", "https://h.org/a/b/a/"),
    (B, "a/..", "https://h.org/a/b/"),
    (B, "/..", "https://h.org/"),
    (B, "/.", "https://h.org/"),
    ("https://h.org", "..", "https://h.org/"),
    ("https://h.org", "x/..", "https://h.org/"),
    (B, "?q=../x", "https://h.org/a/b/?q=../x"),
    (B, "//cdn.org/../x", "https://cdn.org/x"),
    (B, "//cdn.org", "https://cdn.org"),
    (B, "https://o.org?x=1", "https://o.org?x=1"),
    ("HTTPS://H.ORG/a/", "x", "/x"),  # no lowercase scheme: no origin
    ("h.org/a/b", "x", "/x"),
    ("ftp://f.org/a/b", "c", "ftp://f.org/a/c"),
    (B, "ftp://x.org/a/../b", "https://h.org/a/b/ftp://x.org/b"),
    (B, "x.html#a#b", "https://h.org/a/b/x.html"),
]


def test_resolve_href_null_and_edge_cases(spark):
    df = spark.createDataFrame(
        [(b, h) for b, h, _ in EDGE_CASES], "base string, href string"
    ).select(
        F.monotonically_increasing_id().alias("i"),
        resolve_href(F.col("base"), F.col("href")).alias("r"),
    )
    got = [r["r"] for r in df.orderBy("i").collect()]
    for (base, href, want), r in zip(EDGE_CASES, got):
        assert r == want, (base, href, r, want)


def test_pagerank_runs_link_plan_once(spark, solver_path, monkeypatch):
    """PageRank over an uncached link table: no Spark job runs before
    the driver-path fetch (it is the one job that runs the link plan), the
    DataFrame loop ranks the same, and neither path leaves a persisted
    RDD behind once the caller releases the result."""
    pages = _pages(spark, [
        ("https://a.org/x", '<a href="https://b.org/y">l</a><a href="/z">z</a>'),
        ("https://b.org/y", '<a href="/z">l</a><a href="https://a.org/x">r</a>'),
        ("https://a.org/z", '<a href="x">l</a><a href="../y">y</a>'),
    ])
    sc = spark.sparkContext
    group = f"link-plan-once-{solver_path}"
    before_fetch = []
    fetch = smallgraph.fetch

    def spy(df):
        before_fetch.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        return fetch(df)

    monkeypatch.setattr(smallgraph, "fetch", spy)
    persisted = set(sc._jsc.getPersistentRDDs().keys())
    sc.setJobGroup(group, group)
    try:
        res, n = pagerank_result(link_edges(pages), max_iter=8, tol=0.0)
        scores = {r["vertex"]: r["rank"] for r in res.state.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    release(res.state)
    assert before_fetch == [0]
    # no RDD this test persisted stays persisted; one an earlier test
    # left behind may be cleaned up meanwhile (ContextCleaner)
    assert set(sc._jsc.getPersistentRDDs().keys()) <= persisted
    # the 8-superstep recurrence from the uniform start, in numpy
    ids = sorted(scores)
    idx = {v: i for i, v in enumerate(ids)}
    out = {}
    for r in link_edges(pages).collect():
        out.setdefault(r["src"], []).append((r["dst"], r["weight"]))
    rank = np.full(n, 1.0 / n)
    for _ in range(8):
        nxt = np.zeros(n)
        dangle = sum(rank[idx[v]] for v in ids if v not in out)
        for s, targets in out.items():
            total = sum(w for _, w in targets)
            for d, w in targets:
                nxt[idx[d]] += 0.85 * rank[idx[s]] * w / total
        rank = nxt + 0.85 * dangle / n + 0.15 / n
    assert n == len(ids) == 5
    np.testing.assert_allclose([scores[v] for v in ids], rank, atol=1e-12)
