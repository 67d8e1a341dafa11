"""The benchmark's workloads. Each is a closed loop with one client: the
next pass starts when the previous one has returned its result.

A workload generates its inputs and its expected outputs from the seed
before the session starts (``prepare``), loads and caches its input tables
(``load``), runs one pass through the engine's public functions
(``run_pass``) and checks a pass's output against the oracles (``check``).
With tracing on, ``run_pass`` opens one span per layer; where a layer is
not a separate public call in the untraced pass (the TextRank pipeline),
the traced pass calls the same public stages one by one and materializes
between them.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB_SCRIPT = os.path.join(ROOT, "jobs", "linkgraph_job.py")


def load_job_module():
    spec = importlib.util.spec_from_file_location("linkgraph_job", JOB_SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def pagerank_edges_per_s(n_edges: int, *loops: list[dict]) -> float:
    """Edges per second of the median steady superstep of one or more
    PageRank loops (``SuperstepResult.metrics``). Each loop's first
    superstep carries its one-off planning and broadcast cost and a resume
    marker is not a superstep, so both are left out; the median keeps one
    superstep caught by a host stall from moving the figure."""
    walls = [
        m["wall_ms"] / 1000.0
        for loop in loops
        for m in [m for m in loop if m["event"] != "resume"][1:]
    ]
    return n_edges / statistics.median(walls) if walls else 0.0


class Pages:
    """The paper's pipeline on a Common-Crawl-shaped pages table:
    ``keywords_extraction_from_pages`` over the text, then
    ``jobs/linkgraph_job.run`` with ``--edge-source links --algo pagerank
    --checkpoint-dir`` over the html — a first leg capped by ``--max-iter``
    and a second leg that resumes from the newest checkpoint and runs to
    convergence."""

    name = "pages"
    n_pages = 300
    first_leg_iters = 5

    def prepare(self, cache_dir: str, seed: int, work_dir: str) -> None:
        from jgtextrank_spark.extract import preprocess_text

        self.path, self.links = gen.cached_pages(cache_dir, seed, self.n_pages)
        t = pq.read_table(self.path, columns=["url", "text"])
        docs = sorted(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))
        # the engine's collapse runs over the token stream in url order
        sentences = [s for _url, text in docs for s in preprocess_text(text)]
        self.expected_keywords = oracles.textrank_keywords(sentences)
        keys = sorted(self.links)
        ids, ranks = oracles.pagerank(
            np.array([s for s, _ in keys]),
            np.array([d for _, d in keys]),
            np.array([float(self.links[k]) for k in keys]),
        )
        self.expected_scores = dict(zip(ids.tolist(), ranks.tolist()))
        self.ckpt = os.path.join(work_dir, "job_checkpoints")
        self.output = os.path.join(work_dir, "job_output")
        self.job = load_job_module()

    def load(self, spark) -> None:
        self.pages = spark.read.parquet(self.path).cache()
        self.pages.count()

    def reset(self) -> None:
        shutil.rmtree(self.ckpt, ignore_errors=True)
        shutil.rmtree(self.output, ignore_errors=True)

    def _job_args(self, leg: int):
        argv = [
            "--pages", self.path, "--output", self.output,
            "--edge-source", "links", "--algo", "pagerank",
            "--checkpoint-dir", self.ckpt,
            "--checkpoint-every", str(self.first_leg_iters),
        ]
        if leg == 1:
            argv += ["--max-iter", str(self.first_leg_iters)]
        return self.job.parse_args(argv)

    def run_pass(self, spark, tracer) -> dict:
        from jgtextrank_spark import api

        out = {}
        if tracer.enabled:
            out["keywords"] = self._traced_textrank(tracer)
            with tracer.span("weblinks"):
                edges = self.job.build_edges(spark, self._job_args(1)).collect()
            out["edges"] = {(r["src"], r["dst"]): r["weight"] for r in edges}
            self._count_links(tracer, out["edges"])
        else:
            rows = api.keywords_extraction_from_pages(self.pages).collect()
            out["keywords"] = {r["term"]: r["score"] for r in rows}
        with tracer.span("job"):
            t0 = time.perf_counter()
            first = self.job.run(spark, self._job_args(1))
            tracer.loop("job", first["superstep_metrics"])
        with tracer.span("job"):
            t1 = time.perf_counter()
            second = self.job.run(spark, self._job_args(2))
            t2 = time.perf_counter()
            tracer.loop("job", second["superstep_metrics"])
        tracer.count("job.first_leg_s", t1 - t0)
        tracer.count("job.resume_s", t2 - t1)
        result = spark.read.parquet(os.path.join(self.output, "result")).collect()
        out["scores"] = {r["vertex"]: r["score"] for r in result}
        out["first"] = first["superstep_metrics"]
        out["second"] = second["superstep_metrics"]
        out["resume_s"] = t2 - t1
        out["pagerank_edges_per_s"] = pagerank_edges_per_s(
            len(self.links), out["first"], out["second"]
        )
        return out

    def _traced_textrank(self, tracer) -> dict:
        """The stages of ``textrank.keywords_from_sentences`` (default
        arguments), one span each."""
        from jgtextrank_spark.algos.pagerank import pagerank_result
        from jgtextrank_spark.corpus import build_sentences
        from jgtextrank_spark.graph import (
            cooccurrence_edges,
            cooccurrence_pairs,
            symmetrize,
            vertices_from_sentences,
        )
        from jgtextrank_spark.textrank import (
            collapse_candidates,
            top_t_vertices,
            weigh_candidates,
        )

        with tracer.span("extract"):
            sentences = build_sentences(self.pages).persist()
            row = sentences.agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.size("tokens")).alias("t")
            ).collect()[0]
        with tracer.span("graph"):
            edges = cooccurrence_edges(sentences).persist()
            vertices = vertices_from_sentences(sentences).persist()
            n_edges = edges.count()
            vertices.count()
        with tracer.span("textrank.solve"):
            res, _n = pagerank_result(symmetrize(edges), vertices=vertices)
            tracer.loop("textrank.solve", res.metrics)
            scores = res.state.select(
                "vertex", F.col("rank").alias("score")
            ).persist()
            scores.count()
        with tracer.span("textrank.collapse_weigh"):
            top = top_t_vertices(scores).persist()
            cands = collapse_candidates(sentences, scores).persist()
            rows = (
                weigh_candidates(cands, scores, top)
                .orderBy(F.desc("score"), F.asc("term"))
                .collect()
            )
        # counters outside every span, so they add nothing to busy times
        tracer.count("extract.sentences", row["n"])
        tracer.count("extract.tokens", row["t"] or 0)
        tracer.count("graph.pair_events", cooccurrence_pairs(sentences).count())
        tracer.count("graph.edges", n_edges)
        tracer.count("textrank.candidates", cands.count())
        return {r["term"]: r["score"] for r in rows}

    def _count_links(self, tracer, edges: dict) -> None:
        from jgtextrank_spark.weblinks import extract_hrefs

        hrefs = extract_hrefs(self.pages).count()
        tracer.count("weblinks.hrefs", hrefs)
        tracer.count("weblinks.edges", len(edges))
        tracer.count(
            "weblinks.resolved_ratio", sum(edges.values()) / hrefs if hrefs else 0.0
        )

    def _links_match(self, edges: dict) -> bool:
        return edges == {k: float(v) for k, v in self.links.items()}

    def check(self, out: dict) -> bool:
        first, second = out["first"], out["second"]
        resumed = (
            bool(first) and bool(second)
            and first[-1]["iteration"] == self.first_leg_iters
            and second[0]["event"] == "resume"
            and second[0]["iteration"] == self.first_leg_iters
        )
        return (
            oracles.keywords_match(out["keywords"], self.expected_keywords)
            and resumed
            and oracles.close_scores(out["scores"], self.expected_scores)
            and ("edges" not in out or self._links_match(out["edges"]))
        )

    def extra(self, out: dict) -> dict:
        return {"resume_s": (out["resume_s"], "s")}


class LinkGraphSuite:
    """Hash-min connected components, label propagation, triangle counts
    and weighted PageRank to convergence on one cached power-law
    ``(src, dst, weight)`` table. No checkpoint directory is set."""

    name = "linkgraph_suite"
    n_vertices = 5000
    n_edges = 25000

    def prepare(self, cache_dir: str, seed: int, work_dir: str) -> None:
        self.path = gen.cached_edges(cache_dir, seed, self.n_vertices, self.n_edges)
        t = pq.read_table(self.path)
        src, dst, w = (t.column(c).to_numpy() for c in ("src", "dst", "weight"))
        ids, ranks = oracles.pagerank(src, dst, w)
        self.expected_pr = dict(zip(ids.tolist(), ranks.tolist()))
        g = oracles.undirected(src.tolist(), dst.tolist())
        self.expected_cc = oracles.components(g)
        self.expected_tri = oracles.triangles(g)
        self.expected_lpa = oracles.label_propagation(
            src.tolist(), dst.tolist(), w.tolist()
        )
        self.n_rows = len(src)

    def load(self, spark) -> None:
        self.edges = spark.read.parquet(self.path).cache()
        self.edges.count()

    def run_pass(self, spark, tracer) -> dict:
        from jgtextrank_spark.algos.components import connected_components_result
        from jgtextrank_spark.algos.labelprop import label_propagation_result
        from jgtextrank_spark.algos.pagerank import pagerank_result
        from jgtextrank_spark.algos.triangles import triangle_counts

        # PageRank runs last, once the other loops have warmed the JVM's
        # join and aggregation code, so its supersteps time a steady state
        # rather than the compiler's warm-up curve
        out = {}
        with tracer.span("components"):
            cres = connected_components_result(self.edges)
            tracer.loop("components", cres.metrics)
            out["cc"] = {r["vertex"]: r["label"] for r in cres.state.collect()}
        with tracer.span("labelprop"):
            lres = label_propagation_result(self.edges)
            tracer.loop("labelprop", lres.metrics)
            out["lpa"] = {r["vertex"]: r["label"] for r in lres.state.collect()}
        with tracer.span("triangles"):
            out["tri"] = {
                r["vertex"]: r["triangles"]
                for r in triangle_counts(self.edges).collect()
            }
        with tracer.span("pagerank"):
            res, _n = pagerank_result(self.edges)
            tracer.loop("pagerank", res.metrics)
            out["pr"] = {r["vertex"]: r["rank"] for r in res.state.collect()}
        tracer.count("components.rounds", cres.iterations)
        out["pagerank_edges_per_s"] = pagerank_edges_per_s(self.n_rows, res.metrics)
        return out

    def reset(self) -> None:
        pass

    def check(self, out: dict) -> bool:
        return (
            oracles.close_scores(out["pr"], self.expected_pr)
            and out["cc"] == self.expected_cc
            and out["lpa"] == self.expected_lpa
            and out["tri"] == self.expected_tri
        )

    def extra(self, out: dict) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Pages, LinkGraphSuite)}
