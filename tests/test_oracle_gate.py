"""The link-graph queries of the DuckDB oracle gate
(``scripts/check_oracles.py``): each Spark query matches its DuckDB SQL
oracle on the sf0.01 test data, compared by the script's own ``check``."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

# hits_hosts is left out: it alone takes about 40 s
LINK_GRAPH_QUERIES = [
    "pagerank", "pagerank_salted", "pagerank_encoded",
    "pagerank_personalized", "components_per_doc", "components_star_per_doc",
    "label_propagation", "label_propagation_encoded", "triangle_count",
    "clustering_coefficient", "web_host_pagerank",
]


def _load_check_oracles():
    spec = importlib.util.spec_from_file_location(
        "check_oracles", REPO / "scripts" / "check_oracles.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_link_graph_queries_match_duckdb(spark):
    co = _load_check_oracles()
    if not Path(co.SF_DIR).exists():
        pytest.skip(f"{co.SF_DIR} is absent")
    results = co.check(
        spark, co.open_duckdb(co.SF_DIR), co.SF_DIR, LINK_GRAPH_QUERIES
    )
    assert sorted(results) == sorted(LINK_GRAPH_QUERIES)
    assert {n: s for n, (s, _) in results.items() if s != "OK"} == {}
