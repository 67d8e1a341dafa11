"""``scripts/scaling_bench.py`` holds its own graph generator and PageRank
run: its size guard, the convergence run's result keys, and the imports of
the subprocess runner it launches at each parallelism level."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

# what main() reads from each run's result
_KEYS = {
    "vertices", "edges", "supersteps", "converged", "superstep_sec",
    "step_walls_sec", "final_delta",
}


def _load_scaling_bench():
    spec = importlib.util.spec_from_file_location(
        "scaling_bench", REPO / "scripts" / "scaling_bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_small_edge_count_is_a_usage_error(monkeypatch):
    mod = _load_scaling_bench()
    monkeypatch.setattr(sys, "argv", ["scaling_bench.py", "--edges", "1000"])
    with pytest.raises(SystemExit) as exc:
        mod.main()
    assert exc.value.code == 2


def test_convergence_run_returns_what_main_reads(spark):
    mod = _load_scaling_bench()
    r = mod.bench_pagerank_convergence(spark, 50, 400)
    assert _KEYS <= r.keys()
    assert r["edges"] == 400 and 0 < r["vertices"] <= 50
    assert r["converged"]
    assert r["supersteps"] == len(r["step_walls_sec"]) > 0
    assert r["final_delta"] < 1e-6


def test_runner_imports_resolve():
    """The runner's imports, up to session start, succeed in a fresh
    interpreter."""
    mod = _load_scaling_bench()
    code = mod._RUNNER.format(
        repo=str(REPO), scripts=str(REPO / "scripts"), cores=1, parts=1,
        vertices=1, edges=1,
    )
    header = code.split("spark = get_spark(")[0]
    proc = subprocess.run(
        [sys.executable, "-c", header], capture_output=True, text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
