"""spark-submit job entry point: argument wiring + run() on a live
session (the real spark-submit --py-files invocation is exercised
manually/in CI; here we pin the job logic itself)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))

import linkgraph_job  # noqa: E402


def _write_edges(spark, tmp_path):
    # asymmetric on purpose: a uniform-stationary graph (e.g. a plain
    # directed cycle) converges at superstep 1, before any durable
    # checkpoint exists, and the resume test below would see nothing
    path = str(tmp_path / "edges")
    spark.createDataFrame(
        [
            ("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0),
            ("a", "c", 3.0), ("d", "d", 1.0),
        ],
        "src string, dst string, weight double",
    ).write.parquet(path)
    return path


def test_job_components_on_edge_table(spark, tmp_path):
    edges = _write_edges(spark, tmp_path)
    out = str(tmp_path / "out")
    args = linkgraph_job.parse_args(
        ["--edges", edges, "--output", out, "--algo", "components_star"]
    )
    summary = linkgraph_job.run(spark, args)
    assert summary["rows"] == 4
    got = {
        r["vertex"]: r["component"]
        for r in spark.read.parquet(out + "/result").collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}
    meta = json.loads((tmp_path / "out" / "metrics.json").read_text())
    assert meta["algo"] == "components_star"


def test_job_pagerank_resumes(spark, tmp_path):
    edges = _write_edges(spark, tmp_path)
    out = str(tmp_path / "pr_out")
    ckpt = str(tmp_path / "ckpt")
    base = [
        "--edges", edges, "--output", out, "--algo", "pagerank",
        "--checkpoint-dir", ckpt, "--checkpoint-every", "2",
    ]
    a1 = linkgraph_job.parse_args(base + ["--max-iter", "2"])
    linkgraph_job.run(spark, a1)
    a2 = linkgraph_job.parse_args(base + ["--max-iter", "50"])
    s2 = linkgraph_job.run(spark, a2)
    assert any(
        m.get("event") == "resume" for m in s2["superstep_metrics"]
    ), "second submit must resume from the durable checkpoint"
    scores = {
        r["vertex"]: r["score"]
        for r in spark.read.parquet(out + "/result").collect()
    }
    assert abs(sum(scores.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("algo", ["pagerank", "components_star"])
def test_job_output_uri_holds_result_and_metrics(
    spark, tmp_path, monkeypatch, algo
):
    """A ``file://`` output gets ``result`` and ``metrics.json`` side by
    side, and nothing lands under the working directory. The driver-path
    PageRank writes ``result`` from its Arrow state, and every superstep
    row in ``metrics.json`` names the path that ran it."""
    edges = _write_edges(spark, tmp_path)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = tmp_path / "out"
    args = linkgraph_job.parse_args(
        ["--edges", edges, "--output", out.as_uri(), "--algo", algo,
         "--checkpoint-dir", str(tmp_path / "ckpt"),
         "--checkpoint-every", "2", "--max-iter", "4"]
    )
    summary = linkgraph_job.run(spark, args)
    assert list(cwd.iterdir()) == []
    meta = json.loads((out / "metrics.json").read_text())
    assert meta["algo"] == algo
    result = spark.read.parquet(out.as_uri() + "/result")
    assert meta["rows"] == summary["rows"] == result.count() == 4
    if algo == "pagerank":
        assert [m["path"] for m in meta["superstep_metrics"]] == ["local"] * 4
        assert result.schema.names == ["vertex", "score"]
        scores = [r["score"] for r in result.collect()]
        assert abs(sum(scores) - 1.0) < 1e-9


def test_job_scc_and_salsa_on_edge_table(spark, tmp_path):
    edges = _write_edges(spark, tmp_path)
    out = str(tmp_path / "out_scc")
    args = linkgraph_job.parse_args(
        ["--edges", edges, "--output", out, "--algo", "scc"]
    )
    summary = linkgraph_job.run(spark, args)
    assert summary["rows"] == 4
    got = {
        r["vertex"]: r["component"]
        for r in spark.read.parquet(out + "/result").collect()
    }
    # a->b->c->a cycle is one SCC; d (self-loop only) is a singleton
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d"}

    out2 = str(tmp_path / "out_salsa")
    args = linkgraph_job.parse_args(
        ["--edges", edges, "--output", out2, "--algo", "salsa"]
    )
    summary = linkgraph_job.run(spark, args)
    rows = spark.read.parquet(out2 + "/result").collect()
    assert abs(sum(r["hub"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["authority"] for r in rows) - 1.0) < 1e-9


def test_job_trustrank_and_warc_source(spark, tmp_path):
    import gzip

    edges = _write_edges(spark, tmp_path)
    out = str(tmp_path / "out_tr")
    args = linkgraph_job.parse_args(
        ["--edges", edges, "--output", out, "--algo", "trustrank",
         "--trusted", "a,b"]
    )
    summary = linkgraph_job.run(spark, args)
    assert summary["rows"] == 4
    scores = {
        r["vertex"]: r["score"]
        for r in spark.read.parquet(out + "/result").collect()
    }
    assert abs(sum(scores.values()) - 1.0) < 1e-6
    # d is unreachable from the seeds: only (tiny) dangling leakage
    assert scores["d"] < min(scores["a"], scores["b"], scores["c"])

    # WARC directory as the page source, link edges end-to-end
    body = (
        b"HTTP/1.1 200 OK\r\n\r\n"
        b'<html><a href="https://b.org/y">l</a></html>'
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: https://a.org/x\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        + f"Content-Length: {len(body)}\r\n\r\n".encode() + body + b"\r\n\r\n"
    )
    wdir = tmp_path / "warc"
    wdir.mkdir()
    (wdir / "c.warc.gz").write_bytes(gzip.compress(rec))
    out2 = str(tmp_path / "out_warc")
    args = linkgraph_job.parse_args(
        ["--warc", str(wdir), "--output", out2, "--algo", "pagerank"]
    )
    summary = linkgraph_job.run(spark, args)
    got = {
        r["vertex"]: r["score"]
        for r in spark.read.parquet(out2 + "/result").collect()
    }
    assert set(got) == {"https://a.org/x", "https://b.org/y"}
    assert abs(sum(got.values()) - 1.0) < 1e-6


def _write_community_edges(spark, tmp_path):
    # two triangles joined by one bridge: real merges for the community
    # algos (several productive move rounds before the no-move fixpoint)
    path = str(tmp_path / "cedges")
    spark.createDataFrame(
        [
            ("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
            ("d", "e", 1.0), ("e", "f", 1.0), ("f", "d", 1.0),
            ("c", "d", 1.0),
        ],
        "src string, dst string, weight double",
    ).write.parquet(path)
    return path


def _write_dag_edges(spark, tmp_path):
    # 5-chain + a skip edge: depth-4 layering (several Kahn rounds),
    # 2 onion peel layers
    path = str(tmp_path / "dagedges")
    spark.createDataFrame(
        [
            ("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0),
            ("d", "e", 1.0), ("a", "c", 1.0),
        ],
        "src string, dst string, weight double",
    ).write.parquet(path)
    return path


def _result_rows(spark, out):
    return sorted(
        tuple(r) for r in spark.read.parquet(out + "/result").collect()
    )


def test_job_community_and_layer_algos_resume(spark, tmp_path):
    """louvain/leiden/toposort/onion end-to-end through the job entry
    point with a durable checkpoint dir: a resubmit
    with identical args must RESUME from the final per-level superstep
    checkpoints — not recompute from scratch — and reproduce the first
    run's result exactly; the job result also matches the direct
    in-process library call."""
    ce = _write_community_edges(spark, tmp_path)
    de = _write_dag_edges(spark, tmp_path)

    from jgtextrank_spark.algos.louvain import leiden as lib_leiden
    from jgtextrank_spark.algos.louvain import louvain as lib_louvain
    from jgtextrank_spark.algos.onion import onion_decomposition
    from jgtextrank_spark.algos.toposort import topological_layers

    ce_df = spark.read.parquet(ce)
    de_df = spark.read.parquet(de)
    direct = {
        "louvain": lambda: lib_louvain(ce_df, levels=2).assignment,
        "leiden": lambda: lib_leiden(ce_df, levels=3).assignment,
        "toposort": lambda: topological_layers(de_df).layers,
        "onion": lambda: onion_decomposition(de_df).state,
    }

    for algo, edges in [
        ("louvain", ce), ("leiden", ce), ("toposort", de), ("onion", de)
    ]:
        out = str(tmp_path / f"out_{algo}")
        ckpt = str(tmp_path / f"ckpt_{algo}")
        base = [
            "--edges", edges, "--output", out, "--algo", algo,
            "--checkpoint-dir", ckpt, "--checkpoint-every", "1",
        ]
        s1 = linkgraph_job.run(spark, linkgraph_job.parse_args(base))
        r1 = _result_rows(spark, out)
        s2 = linkgraph_job.run(spark, linkgraph_job.parse_args(base))
        r2 = _result_rows(spark, out)
        assert r1 == r2, f"{algo}: resubmit changed the result"
        if algo in ("toposort", "onion"):
            assert any(
                m.get("event") == "resume" for m in s2["superstep_metrics"]
            ), f"{algo}: resubmit must resume from the durable checkpoint"
        else:
            # the community algos re-map superstep metrics to move_round
            # rows (resume events are not forwarded): a resumed level
            # starts PAST round 1, a scratch recompute starts AT 1
            rounds1 = [
                m["round"] for m in s1["superstep_metrics"]
                if m.get("event") == "move_round" and m.get("level") == 1
            ]
            rounds2 = [
                m["round"] for m in s2["superstep_metrics"]
                if m.get("event") == "move_round" and m.get("level") == 1
            ]
            assert min(rounds1) == 1, f"{algo}: first run starts at round 1"
            assert min(rounds2) > 1, (
                f"{algo}: resubmit must resume level 1 past round 1, "
                f"got rounds {rounds2}"
            )
        want = sorted(tuple(r) for r in direct[algo]().collect())
        assert r1 == want, f"{algo}: job result != direct library result"
