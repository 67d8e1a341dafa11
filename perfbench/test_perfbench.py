"""Tests for the benchmark itself.

    python3 -m pytest perfbench -q

Input generation, metric naming and the BENCHMARK.json contract run
without Spark; the oracle checks start one small local session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bytes(path):
    with open(path, "rb") as fh:
        return fh.read()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    pa_, links_a = gen.cached_pages(a, 7, 30)
    pb_, links_b = gen.cached_pages(b, 7, 30)
    pc_, _ = gen.cached_pages(c, 8, 30)
    assert _bytes(pa_) == _bytes(pb_)
    assert links_a == links_b
    assert _bytes(pa_) != _bytes(pc_)
    ea = gen.cached_edges(a, 7, 300, 1200)
    eb = gen.cached_edges(b, 7, 300, 1200)
    assert _bytes(ea) == _bytes(eb)
    assert _bytes(ea) != _bytes(gen.cached_edges(c, 8, 300, 1200))


def test_pages_table_shape():
    table, links = gen.pages_table(3, 20)
    assert table.schema == gen.PAGES_SCHEMA
    # Spark rejects nanosecond parquet timestamps; the generator writes us
    assert table.schema.field("warc_ts").type.unit == "us"
    assert links and all(s != d for s, d in links)


def test_link_targets_are_skewed():
    _table, links = gen.pages_table(5, 400)
    indeg = {}
    for (_s, d), c in links.items():
        indeg[d] = indeg.get(d, 0) + c
    counts = sorted(indeg.values(), reverse=True)
    # the most popular tenth of targets gets far more than a tenth of links
    top = sum(counts[: max(1, len(counts) // 10)])
    assert top > 0.3 * sum(counts)


def test_metric_names_are_valid():
    names = list(run.END_TO_END) + list(run.per_layer_units())
    assert len(names) == len(set(names))
    assert len(run.per_layer_units()) <= 128
    for name in names:
        assert run.NAME_RE.match(name), name


def test_benchmark_json_lists_workloads_and_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["why"] and "\n" not in w["why"] and len(w["why"]) <= 200
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pages", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_pagerank_oracle_matches_networkx_recurrence():
    # a dangling vertex (3) and unequal weights; compared against a dense
    # transcription of networkx's power iteration
    src, dst, w = np.array([0, 0, 1, 2]), np.array([1, 2, 2, 0]), np.array([1.0, 3.0, 1.0, 2.0])
    ids, x = oracles.pagerank(src, dst, w, vertices=[3])
    n = 4
    a = np.zeros((n, n))
    for s, d, ww in zip(src, dst, w):
        a[s, d] += ww
    out = a.sum(1)
    p = np.divide(a, out[:, None], where=out[:, None] > 0, out=np.zeros_like(a))
    y = np.full(n, 1 / n)
    for _ in range(100):
        last = y
        y = 0.85 * (last @ p + last[out == 0].sum() / n) + 0.15 / n
        if np.abs(y - last).sum() < n * 1e-6:
            break
    assert ids.tolist() == [0, 1, 2, 3]
    assert np.allclose(x, y, rtol=0, atol=1e-12)


@pytest.fixture(scope="module")
def spark():
    from jgtextrank_spark import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    s = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiny_edges():
    return gen.edges_table(11, 60, 180)


def test_graph_oracles_agree_with_engine(spark, tiny_edges):
    from jgtextrank_spark.algos.components import connected_components_result
    from jgtextrank_spark.algos.labelprop import label_propagation_result
    from jgtextrank_spark.algos.pagerank import pagerank_result
    from jgtextrank_spark.algos.triangles import triangle_counts

    src, dst, w = (tiny_edges.column(c).to_pylist() for c in ("src", "dst", "weight"))
    edges = spark.createDataFrame(tiny_edges.to_pandas())
    res, _ = pagerank_result(edges)
    ids, ranks = oracles.pagerank(np.array(src), np.array(dst), np.array(w))
    assert oracles.close_scores(
        {r["vertex"]: r["rank"] for r in res.state.collect()},
        dict(zip(ids.tolist(), ranks.tolist())),
    )
    g = oracles.undirected(src, dst)
    cc = connected_components_result(edges).state.collect()
    assert {r["vertex"]: r["label"] for r in cc} == oracles.components(g)
    lp = label_propagation_result(edges).state.collect()
    assert {r["vertex"]: r["label"] for r in lp} == oracles.label_propagation(src, dst, w)
    tri = triangle_counts(edges).collect()
    assert {r["vertex"]: r["triangles"] for r in tri} == oracles.triangles(g)


def test_textrank_and_link_oracles_agree_with_engine(spark, tmp_path):
    from jgtextrank_spark import api
    from jgtextrank_spark.extract import preprocess_text
    from jgtextrank_spark.weblinks import link_edges

    path, links = gen.cached_pages(str(tmp_path), 4, 6)
    pages = spark.read.parquet(path)
    rows = api.keywords_extraction_from_pages(pages).collect()
    docs = sorted((r["url"], r["text"]) for r in pages.collect())
    expected = oracles.textrank_keywords(
        [s for _u, t in docs for s in preprocess_text(t)]
    )
    assert oracles.keywords_match({r["term"]: r["score"] for r in rows}, expected)
    got = {(r["src"], r["dst"]): r["weight"] for r in link_edges(pages).collect()}
    assert got == {k: float(v) for k, v in links.items()}
