"""TextRank keyword pipeline: solve -> top-T -> collapse -> MWT weighting.

DataFrame re-expression of the reference post-processing
(/root/reference/jgtextrank/core.py:711-872, metrics.py:160-369):

* **top-T**: ``top_t = round(N_scored * top_p)`` (Python banker's rounding,
  core.py:858-862); ties at the boundary broken by vertex id (the reference
  inherits dict insertion order — unstable across runs; we are
  deterministic).
* **collapse** (core.py:902-936): gaps-and-islands over the *flattened*
  original token stream — runs cross sentence AND document boundaries, and
  a keyword run that touches the very end of the stream is DROPPED (the
  reference never flushes its last buffer). Both quirks reproduced.
* **MWT weighting** (metrics.py:160-300): all 15 weight_comb variants.
  Within-term repetition normalization means: sum-score = sum of *distinct*
  member scores; max-score = max over distinct members of score/multiplicity.
  sigma for gaussian_norm = population stddev of candidate lengths over ALL
  candidate occurrences (before the top-T connection filter). Final scores
  ``round(x, 5)`` with HALF_EVEN (= Python round) via ``bround``.
* **gcvalue** (metrics.py:303-369): token-set containment self-join via an
  exploded inverted-index join (scale path for the reference's O(C^2)
  nested loop); longer-term multiplicity counts occurrences.

Collapse parity mode uses one global ordering window (fine per document /
small corpora — exactly the reference's regime); ``per_doc=True`` keeps
islands within documents and distributes fully (the scalable mode).

``keywords_from_token_rows`` runs the pipeline one of two ways.

* **Driver path** (corpora of at most ``SMALL_GRAPH_LIMIT`` = 200 000
  token rows, counting each stream token and each filtered token once,
  with the PageRank solvers): the token rows come to the driver as one
  Arrow table. ``keywords_from_sentences`` fetches them from its frame
  with one ``limit(...).toArrow()`` job, which stops early on a larger
  corpus; ``api.keywords_extraction_from_pages`` builds them in the
  driver process (``_token_rows_local`` over ``corpus.page_token_rows``'
  extraction), so a small page set reaches TextRank without a sentences
  frame or a Python worker. The co-occurrence edges, PageRank (the local
  solve's recurrence), top-T, collapse and per-term aggregates then run
  in numpy, with words coded in Spark's sort order so ties break as on
  the DataFrame path. Spark applies the weight formula, its rounding and
  the final order to one row per term; ``gcvalue`` runs ``_gcvalue`` over
  candidate frames built from Arrow.
* **DataFrame path** (larger corpora, other solvers, a null ``url``,
  ``sent_id`` or token, a repeated ``(url, sent_id)``): the stage functions below over one persisted
  ``(url, sent_id, tokens, filtered)`` projection. The result is cached
  and the intermediate frames are released before the call returns.

Both paths return the same rows.
"""

from __future__ import annotations

import math
from typing import Callable, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .algos import smallgraph
from .algos.smallgraph import fetch
from .corpus import explode_tokens
from .graph import cooccurrence_edges, symmetrize, vertices_from_sentences

__all__ = [
    "solve_scores",
    "top_t_vertices",
    "collapse_candidates",
    "weigh_candidates",
    "keywords_from_sentences",
    "keywords_from_token_rows",
    "SOLVERS",
]

SOLVERS = [
    "pagerank",
    "pagerank_numpy",
    "pagerank_scipy",
    "degree_centrality",
    "neighborhood_size",
    "TeRGraph",
    "coreness",
    "clustering_coefficient",
    "hits",
    "eigenvector_centrality",
    "katz_centrality",
    "betweenness_centrality",
    "edge_betweenness_centrality",
    "closeness_centrality",
    "load_centrality",
    "current_flow_closeness",
    "current_flow_betweenness",
    "edge_current_flow_betweenness",
    "communicability_betweenness",
]

_PAGERANK_SOLVERS = ("pagerank", "pagerank_numpy", "pagerank_scipy")

WEIGHT_COMBS = [
    "avg", "norm_avg", "log_norm_avg", "gaussian_norm_avg", "len_log_norm_avg",
    "sum", "norm_sum", "log_norm_sum", "gaussian_norm_sum", "len_log_norm_sum",
    "max", "norm_max", "log_norm_max", "gaussian_norm_max", "len_log_norm_max",
    "gcvalue",
]


def solve_scores(
    edges: DataFrame,
    vertices: DataFrame,
    solver: str = "pagerank",
    max_iter: int = 100,
    tol: float = 1.0e-6,
    directed: bool = False,
    **solver_kwargs,
) -> DataFrame:
    """Dispatch to the graph solvers; returns (vertex, score). ``edges`` is
    the canonical undirected co-occurrence edge table.

    ``directed=True`` mirrors the reference's ``to_directed()`` graph
    (core.py:516-517): the *same* edge set with every edge as a pair of
    reciprocal arcs. For the power-iteration solvers (pagerank family,
    hits, eigenvector, katz) and the neighbour-set solvers
    (neighborhood_size, TeRGraph) that digraph is provably
    score-identical to the undirected graph (the adjacency matrix /
    successor sets are the same), so they run unchanged;
    degree_centrality uses networkx's in+out directed degree; the
    remaining solvers have genuinely different directed semantics in
    networkx and raise rather than silently returning undirected scores.
    """
    from .algos import centrality as C
    from .algos.pagerank import pagerank
    from .algos.smallgraph import nx_fallback_scores

    if directed and solver not in (
        "pagerank", "pagerank_numpy", "pagerank_scipy", "hits",
        "eigenvector_centrality", "katz_centrality", "degree_centrality",
        "neighborhood_size", "TeRGraph",
    ):
        raise ValueError(
            f"directed=True is not supported for solver {solver!r} (its "
            "networkx directed semantics differ; run undirected or use "
            "the dedicated algos module)"
        )
    if solver in _PAGERANK_SOLVERS:
        # numpy/scipy variants are removed in networkx >= 3; all three are
        # the same converged power iteration (SURVEY.md §4.3).
        return pagerank(
            symmetrize(edges), vertices=vertices, max_iter=max_iter, tol=tol,
            **solver_kwargs,
        )
    if solver == "degree_centrality":
        return C.degree_centrality(edges, vertices, directed=directed)
    if solver == "neighborhood_size":
        return C.neighborhood_size(edges, vertices)
    if solver == "TeRGraph":
        return C.tergraph(edges, vertices)
    if solver == "coreness":
        return C.core_numbers(edges, vertices).select(
            "vertex", F.col("core").cast("double").alias("score")
        )
    if solver == "clustering_coefficient":
        from .algos.triangles import clustering_coefficient

        # nx.clustering on the co-occurrence graph (self-loops contribute
        # nothing in nx.clustering's triangle formula)
        cc = clustering_coefficient(edges)
        return vertices.join(
            cc, vertices["id"] == cc["vertex"], "left"
        ).select(
            vertices["id"].alias("vertex"),
            F.coalesce("clustering", F.lit(0.0)).alias("score"),
        )
    if solver == "hits":
        h = C.hits(
            symmetrize(edges), vertices=vertices, max_iter=max_iter, tol=tol
        )
        # reference avg_dicts(hubs, authorities): per-vertex mean
        return h.select(
            "vertex",
            ((F.col("hub") + F.col("authority")) / 2.0).alias("score"),
        )
    if solver == "eigenvector_centrality":
        return C.eigenvector_centrality(
            symmetrize(edges), vertices=vertices, max_iter=max_iter, tol=tol
        )
    if solver == "katz_centrality":
        return C.katz_centrality(
            symmetrize(edges), vertices=vertices, tol=tol, **solver_kwargs
        )
    # all-pairs / linear-algebra family -> driver fallback (documented)
    return nx_fallback_scores(edges, solver, vertices=vertices)


def top_t_vertices(
    scores: DataFrame, top_p: float = 0.3, top_t: int | None = None
) -> DataFrame:
    """Top-T scored vertices (vertex, score). T = round(N * top_p) with
    banker's rounding when not given (core.py:858-862)."""
    if top_t is None:
        n = scores.count()
        top_t = int(round(n * top_p))  # Python banker's rounding, as ref
    return scores.orderBy(
        F.desc("score"), F.asc("vertex")
    ).limit(int(top_t))


def collapse_candidates(
    sentences: DataFrame,
    scores: DataFrame,
    per_doc: bool = False,
) -> DataFrame:
    """Candidate terms: maximal runs of adjacent *scored* tokens in the
    original normalized token stream. Returns one row per occurrence:
    (cand_id, term_tokens array<string>, term string, n_tokens).

    ``per_doc=False`` reproduces the reference exactly (global stream,
    trailing-run drop); ``per_doc=True`` is the scalable variant (runs
    bounded by documents, windows partitioned by url).
    """
    toks = explode_tokens(sentences, "tokens")
    if per_doc:
        order_win = Window.partitionBy("url").orderBy("sent_id", "pos")
    else:
        order_win = Window.orderBy("url", "sent_id", "pos")

    kw = scores.select(F.col("vertex").alias("token")).distinct()
    marked = toks.join(
        kw.withColumn("is_kw", F.lit(True)), "token", "left"
    ).withColumn("is_kw", F.coalesce("is_kw", F.lit(False)))

    marked = marked.withColumn("gpos", F.row_number().over(order_win))
    marked = marked.withColumn(
        "grp",
        F.sum(F.when(~F.col("is_kw"), 1).otherwise(0)).over(
            order_win.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # the last row of the stream: no row follows it in the same window
    marked = marked.withColumn(
        "at_end", F.lead(F.lit(1)).over(order_win).isNull()
    )
    part_cols = ["url", "grp"] if per_doc else ["grp"]
    islands = (
        marked.filter(F.col("is_kw"))
        .groupBy(*part_cols)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("gpos", "token"))
            ).alias("run"),
            F.max("at_end").alias("at_end"),
        )
        .withColumn(
            "term_tokens", F.transform("run", lambda x: x["token"])
        )
    )
    if not per_doc:
        # reference quirk: the final buffer is never flushed -> a keyword
        # run touching the end of the stream is dropped (core.py:926-934)
        islands = islands.filter(~F.col("at_end"))
    return islands.select(
        F.monotonically_increasing_id().alias("cand_id"),
        "term_tokens",
        F.concat_ws(" ", "term_tokens").alias("term"),
        F.size("term_tokens").alias("n_tokens"),
    )


def _member_scores(candidates: DataFrame, scores: DataFrame) -> DataFrame:
    """Per candidate aggregates of member-vertex scores with within-term
    multiplicity normalization: (cand_id, sum_score, max_score)."""
    ex = candidates.select(
        "cand_id", F.explode("term_tokens").alias("token")
    )
    per_tok = ex.groupBy("cand_id", "token").agg(
        F.count(F.lit(1)).alias("k")
    )
    joined = per_tok.join(
        scores.select(F.col("vertex").alias("token"), "score"), "token"
    )
    return joined.groupBy("cand_id").agg(
        F.sum("score").alias("sum_score"),  # k * (score/k) summed = score
        F.max(F.col("score") / F.col("k")).alias("max_score"),
    )


def _gvalue_expr(weight_comb: str, mu: int):
    """The 15-way weight_comb expression over columns sum_score, max_score,
    n_tokens, sigma (metrics.py:172-229)."""
    n = F.col("n_tokens").cast("double")
    avg = F.col("sum_score") / n
    smm = F.col("sum_score")
    mx = F.col("max_score")
    log2a = F.log2(n + 0.1)

    def log_norm(base):
        return F.when(n > 1, base / (F.log(n) / math.log(mu))).otherwise(base)

    def gaussian_norm(base):
        sigma = F.col("sigma")
        pd = (
            1.0
            / (sigma * math.sqrt(2 * math.pi))
            * F.exp(-F.pow(n - mu, F.lit(2.0)) / (2.0 * sigma * sigma))
        )
        return base * (1.0 - pd)

    table = {
        "avg": avg,
        "norm_avg": avg / n,
        "log_norm_avg": log_norm(avg),
        "gaussian_norm_avg": gaussian_norm(avg),
        "len_log_norm_avg": log2a * avg,
        "sum": smm,
        "norm_sum": smm / n,
        "log_norm_sum": log_norm(smm),
        "gaussian_norm_sum": gaussian_norm(smm),
        "len_log_norm_sum": log2a * smm,
        "max": mx,
        "norm_max": mx / n,
        "log_norm_max": log_norm(mx),
        "gaussian_norm_max": gaussian_norm(mx),
        "len_log_norm_max": log2a * mx,
    }
    if weight_comb not in table:
        raise ValueError(f"Unsupported weight combination: {weight_comb!r}")
    # round(x, 5) half-even == Python round (metrics.py:229)
    return F.bround(table[weight_comb], 5)


def weigh_candidates(
    candidates: DataFrame,
    scores: DataFrame,
    top_t: DataFrame,
    weight_comb: str = "norm_max",
    mu: int = 5,
) -> DataFrame:
    """Candidate occurrences + vertex scores -> distinct (term, score),
    keeping only candidates containing a top-T vertex. The plan reads
    ``candidates`` more than once; callers persist it."""
    if weight_comb == "gcvalue":
        return _gcvalue(candidates, scores, top_t)

    # sigma over ALL candidate occurrences, population stddev
    # (metrics.py:244-252), computed before the top-T connection filter
    sigma = 0.0
    if "norm" in weight_comb:
        row = candidates.agg(
            F.stddev_pop(F.col("n_tokens").cast("double")).alias("s")
        ).collect()[0]
        sigma = row["s"] or 0.0

    kept = _filter_top_t_connected(candidates, top_t)
    member = _member_scores(kept, scores)
    out = (
        kept.join(member, "cand_id")
        .withColumn("sigma", F.lit(float(sigma)))
        .withColumn("g", _gvalue_expr(weight_comb, mu))
        .select("term", F.col("g").alias("score"))
        .dropDuplicates(["term"])
    )
    return out


def _filter_top_t_connected(
    candidates: DataFrame, top_t: DataFrame
) -> DataFrame:
    """Keep candidates whose token list contains >= 1 top-T vertex
    (metrics.py:231-239). Distributed as explode + semi-join (top-T can be
    millions of vertices at web scale; no literal IN-list)."""
    ex = candidates.select(
        "cand_id", F.explode("term_tokens").alias("token")
    )
    hit = ex.join(
        top_t.select(F.col("vertex").alias("token")), "token", "left_semi"
    ).select("cand_id").distinct()
    return candidates.join(hit, "cand_id", "left_semi")


def _gcvalue(
    candidates: DataFrame, scores: DataFrame, top_t: DataFrame
) -> DataFrame:
    """GCValue (metrics.py:303-369). longer(a) = candidates b (counted per
    occurrence) with token-set(a) ⊆ token-set(b), list(a) != list(b).
    gcvalue(a) = log2(|a|+0.1) * (g(a) - mean over longer-occurrences g(b)),
    g = len_log_norm_avg (already rounded to 5 before combining, as ref)."""
    member = _member_scores(candidates, scores)
    g = (
        candidates.join(member, "cand_id")
        .withColumn("sigma", F.lit(0.0))
        .withColumn("g", _gvalue_expr("len_log_norm_avg", 5))
        .select("cand_id", "term", "term_tokens", "n_tokens", "g")
    )
    # distinct surface forms with occurrence counts
    forms = g.groupBy("term").agg(
        F.first("term_tokens").alias("term_tokens"),
        F.first("n_tokens").alias("n_tokens"),
        F.first("g").alias("g"),
        F.count(F.lit(1)).alias("occ"),
    ).withColumn(
        "tok_set", F.array_distinct(F.array_sort("term_tokens"))
    )

    # Containment join (a ⊆ b) via rarest-token prefix filtering: every
    # superset of a must contain a's globally rarest token, so indexing a
    # ONLY under that token generates a complete candidate set whose size
    # is Σ_a df(rarest(a)) — immune to stopword-like hot tokens, which
    # would make a full inverted-index join quadratic (a token present in
    # every candidate → C² intermediate rows). Exact verification is a
    # per-row array_except check, no second join.
    tok_df = (
        forms.select(F.explode("tok_set").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df_"))
    )
    a_min = (
        forms.select(
            F.col("term").alias("a_term"),
            F.col("tok_set").alias("a_set"),
            F.col("term_tokens").alias("a_tokens"),
            F.explode("tok_set").alias("token"),
        )
        .join(tok_df, "token")
        .groupBy("a_term")
        .agg(
            F.first("a_set").alias("a_set"),
            F.first("a_tokens").alias("a_tokens"),
            F.min_by("token", F.struct("df_", "token")).alias("token"),
        )
    )
    b_ex = forms.select(
        F.col("term").alias("b_term"),
        F.col("term_tokens").alias("b_tokens"),
        F.col("tok_set").alias("b_set"),
        F.col("g").alias("b_g"),
        F.col("occ").alias("b_occ"),
        F.explode("tok_set").alias("token"),
    )
    containing = (
        a_min.join(b_ex, "token")
        .filter(F.size(F.array_except("a_set", "b_set")) == 0)
        # list inequality (ref uses term != longer_term on token LISTS)
        .filter(F.col("a_tokens") != F.col("b_tokens"))
    )
    longer_agg = containing.groupBy("a_term").agg(
        F.sum("b_occ").alias("p_ta"),
        F.sum(F.col("b_g") * F.col("b_occ")).alias("sum_gb"),
    )

    kept = _filter_top_t_connected(candidates, top_t).select("term").distinct()
    out = (
        forms.join(kept, "term", "left_semi")
        .join(longer_agg, forms["term"] == longer_agg["a_term"], "left")
        .withColumn("log2a", F.log2(F.col("n_tokens").cast("double") + 0.1))
        .withColumn(
            "score",
            F.bround(
                F.when(
                    F.col("p_ta").isNotNull(),
                    F.col("log2a")
                    * (F.col("g") - F.col("sum_gb") / F.col("p_ta")),
                ).otherwise(F.col("log2a") * F.col("g")),
                5,
            ),
        )
        .select("term", "score")
    )
    return out


def keywords_from_sentences(
    sentences: DataFrame, **pipeline_kwargs
) -> DataFrame:
    """``keywords_from_token_rows`` over a sentences frame: the driver path
    fetches the frame's token rows (``_token_rows``) in one limited Arrow
    job."""
    return keywords_from_token_rows(
        sentences.sparkSession,
        lambda: fetch(_token_rows(sentences)),
        lambda: sentences,
        **pipeline_kwargs,
    )


def keywords_from_token_rows(
    spark: SparkSession,
    token_rows: Callable[[], pa.Table | None],
    sentences: Callable[[], DataFrame],
    window: int = 2,
    top_p: float = 0.3,
    top_t: int | None = None,
    directed: bool = False,
    weighted: bool = False,
    conn_with_original_ctx: bool = True,
    max_iter: int = 100,
    tol: float = 1.0e-6,
    solver: str = "pagerank",
    weight_comb: str = "norm_max",
    mu: int = 5,
    per_doc_collapse: bool = False,
    **solver_kwargs,
) -> DataFrame:
    """Full pipeline mirror of
    ``_keywords_extraction_from_preprocessed_context`` (core.py:711-872):
    sentences -> co-occurrence graph -> solver -> top-T -> collapse ->
    weigh. Returns (term, score) ordered by score desc, term asc.

    One corpus, two sources, each called only when its path runs:
    ``token_rows()`` gives the corpus' token rows ``(url, sent_id, pos,
    accepted, token)`` for the driver path, or None when there are more
    than ``SMALL_GRAPH_LIMIT``; ``sentences()`` gives its sentences frame
    for the DataFrame path. Invalid options raise before either is called.

    The pipeline has run when this returns. The driver path's result is a
    frame over per-term rows held on the driver; the DataFrame path's
    result is cached, its intermediate frames are released, and
    ``unpersist()`` on the result frees the rest."""
    if _runs_local(solver, weighted, solver_kwargs):
        local = _keywords_local(
            spark, token_rows(), window, top_p, top_t,
            conn_with_original_ctx, max_iter, tol,
            solver_kwargs.get("alpha", 0.85), weight_comb, mu,
            per_doc_collapse,
        )
        if local is not None:
            return local

    # one extraction: every branch below reads this narrow projection
    narrow = sentences().select(
        "url",
        "sent_id",
        "tokens",
        F.transform(
            "filtered", lambda x: F.struct(x["token"].alias("token"))
        ).alias("filtered"),
    ).persist()
    edges = cooccurrence_edges(
        narrow,
        window=window,
        conn_with_original_ctx=conn_with_original_ctx,
        weighted=False,
    ).persist()
    vertices = vertices_from_sentences(narrow).persist()
    scores = solve_scores(
        edges, vertices, solver=solver, max_iter=max_iter, tol=tol,
        directed=directed, **solver_kwargs,
    ).persist()
    top = top_t_vertices(scores, top_p=top_p, top_t=top_t).persist()
    cands = collapse_candidates(
        narrow, scores, per_doc=per_doc_collapse
    ).persist()
    out = (
        weigh_candidates(cands, scores, top, weight_comb=weight_comb, mu=mu)
        .orderBy(F.desc("score"), F.asc("term"))
        .persist()
    )
    out.count()
    for df in (narrow, edges, vertices, scores, top, cands):
        df.unpersist()
    return out


def _runs_local(solver, weighted, solver_kwargs) -> bool:
    """Whether the options suit the driver path; raises on options that
    no path takes."""
    if solver not in SOLVERS:
        raise ValueError(f"Unsupported solver: {solver!r}")
    if weighted:
        raise ValueError(
            "weighted=True is unsupported in the reference pipeline "
            "(core.py:939-942); use cooccurrence_edges(weighted=True) for "
            "the generalized engine."
        )
    return solver in _PAGERANK_SOLVERS and set(solver_kwargs) <= {"alpha"}


def _token_rows(sentences: DataFrame) -> DataFrame:
    """One row per token occurrence ``(url, sent_id, pos, accepted,
    token)``: a sentence's stream tokens (``accepted`` false), then its
    filtered tokens (``accepted`` true), numbered in that order by
    ``pos``."""

    def rows(col, accepted, token):
        return F.transform(
            col,
            lambda x: F.struct(
                F.lit(accepted).alias("accepted"), token(x).alias("token")
            ),
        )

    both = F.concat(
        rows("tokens", False, lambda x: x),
        rows("filtered", True, lambda x: x["token"]),
    )
    return sentences.select(
        "url", "sent_id", F.posexplode(both).alias("pos", "t")
    ).select("url", "sent_id", "pos", "t.accepted", "t.token")


def _token_rows_local(
    urls: pa.ChunkedArray,
    pages: Iterable[list[tuple[list[str], list[tuple[str, str]]]]],
) -> pa.Table | None:
    """``_token_rows`` built on the driver: page ``i`` has url ``urls[i]``
    and the ``extract.preprocess_text`` sentences that ``pages`` yields
    i-th. ``url`` keeps its type. None at the first page whose rows take
    the total past ``SMALL_GRAPH_LIMIT``; later pages are not read."""
    page, sent_id, pos, accepted, token = [], [], [], [], []
    for i, sents in enumerate(pages):
        for sid, (tokens, filtered) in enumerate(sents):
            row_tokens = tokens + [tok for tok, _ in filtered]
            n = len(row_tokens)
            page += [i] * n
            sent_id += [sid] * n
            pos.extend(range(n))
            accepted += [False] * len(tokens) + [True] * len(filtered)
            token += row_tokens
        if len(token) > smallgraph.SMALL_GRAPH_LIMIT:
            return None
    return pa.table(
        {
            "url": urls.take(pa.array(page, pa.int64())),
            "sent_id": pa.array(sent_id, pa.int32()),
            "pos": pa.array(pos, pa.int32()),
            "accepted": pa.array(accepted, pa.bool_()),
            "token": pa.array(token, pa.string()),
        }
    )


def _keywords_local(
    spark, table, window, top_p, top_t, conn_with_original_ctx, max_iter,
    tol, alpha, weight_comb, mu, per_doc,
) -> DataFrame | None:
    """The pipeline in numpy on the driver, from a token-rows table
    ``(url, sent_id, pos, accepted, token)``; Spark only applies the weight
    formula and the final order to one row per term. None when ``table``
    is None (more than ``SMALL_GRAPH_LIMIT`` rows), or has a null url,
    sent_id or token, or two sentences with the same ``(url, sent_id)``."""
    from .algos.pagerank import pagerank_local_scores
    from .algos.smallgraph import sorted_codes

    if table is None or any(
        table.column(c).null_count for c in ("url", "sent_id", "token")
    ):
        return None
    # the collapse window's order: (url, sent_id), then position
    table = table.take(
        pc.sort_indices(
            table,
            sort_keys=[(c, "ascending") for c in ("url", "sent_id", "pos")],
        )
    )
    pos = table.column("pos").to_numpy()
    sid = table.column("sent_id").to_numpy()
    accepted = table.column("accepted").to_numpy()
    doc = sorted_codes(table.column("url").combine_chunks())[1]
    words, code = sorted_codes(table.column("token").combine_chunks())
    n_words = len(words)
    new_doc = np.ones(len(pos), dtype=bool)
    new_doc[1:] = doc[1:] != doc[:-1]
    new_sent = new_doc.copy()
    new_sent[1:] |= sid[1:] != sid[:-1]
    if (~new_sent[1:] & (pos[1:] == pos[:-1])).any():
        return None
    sent = np.cumsum(new_sent)

    # vertices: the accepted words, numbered in id order
    is_vertex = np.zeros(n_words, dtype=bool)
    is_vertex[code[accepted]] = True
    vid = np.cumsum(is_vertex) - 1
    n = int(is_vertex.sum())

    # co-occurrence edges: pairs within `window` in one sentence's context,
    # both ends accepted, undirected and distinct
    ctx = ~accepted if conn_with_original_ctx else accepted
    c, s = code[ctx], sent[ctx]
    a, b = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.int64)]
    for d in range(1, window + 1):
        same = s[d:] == s[:-d]
        if not same.any():
            break
        x, y = c[:-d][same], c[d:][same]
        keep = is_vertex[x] & is_vertex[y]
        a.append(vid[x[keep]])
        b.append(vid[y[keep]])
    a, b = np.concatenate(a), np.concatenate(b)
    key = np.unique(np.minimum(a, b) * n + np.maximum(a, b))
    lo, hi = key // max(n, 1), key % max(n, 1)
    loop = lo == hi
    rank = pagerank_local_scores(
        np.concatenate([lo, hi[~loop]]),
        np.concatenate([hi, lo[~loop]]),
        n, alpha=alpha, max_iter=max_iter, tol=tol,
    )
    score = np.zeros(n_words)
    score[is_vertex] = rank
    # top-T: score desc, ties to the smaller id
    n_top = int(round(n * top_p)) if top_t is None else int(top_t)
    top = np.argsort(-rank, kind="stable")[:n_top]
    in_top = np.zeros(n_words, dtype=bool)
    in_top[np.flatnonzero(is_vertex)[top]] = True

    # candidates: runs of scored tokens over the stream (per document with
    # per_doc); the reference never flushes a run that reaches the end
    stream, stream_doc = code[~accepted], doc[~accepted]
    kw = is_vertex[stream]
    start = kw.copy()
    start[1:] &= ~kw[:-1] | (per_doc & (stream_doc[1:] != stream_doc[:-1]))
    run = (np.cumsum(start) - 1)[kw]
    members = stream[kw]
    n_runs = int(start.sum())
    if not per_doc and len(kw) and kw[-1]:
        n_runs -= 1
        members = members[run < n_runs]
        run = run[run < n_runs]
    n_tokens = np.bincount(run, minlength=n_runs)
    term_tokens = pa.ListArray.from_arrays(
        pa.array(np.concatenate([[0], np.cumsum(n_tokens)]), pa.int32()),
        words.take(pa.array(members)),
    )
    terms = pc.binary_join(term_tokens, " ")

    if weight_comb == "gcvalue":
        out = _gcvalue(
            spark.createDataFrame(
                pa.table(
                    [pa.array(np.arange(n_runs)), term_tokens, terms,
                     pa.array(n_tokens, pa.int32())],
                    names=["cand_id", "term_tokens", "term", "n_tokens"],
                )
            ),
            spark.createDataFrame(
                pa.table(
                    [words.filter(pa.array(is_vertex)), pa.array(rank)],
                    names=["vertex", "score"],
                )
            ),
            spark.createDataFrame(
                pa.table([words.filter(pa.array(in_top))], names=["vertex"])
            ),
        )
        return out.orderBy(F.desc("score"), F.asc("term"))

    # per-term aggregates over distinct members: sum of scores, max of
    # score / multiplicity; every occurrence of a term gives the same row
    pair, k = np.unique(run * n_words + members, return_counts=True)
    r, w = pair // n_words, pair % n_words
    sum_score = np.bincount(r, weights=score[w], minlength=n_runs)
    max_score = np.full(n_runs, -np.inf)
    np.maximum.at(max_score, r, score[w] / k)
    touches = np.bincount(run, weights=in_top[members], minlength=n_runs) > 0
    first = np.unique(
        terms.dictionary_encode().indices.to_numpy(), return_index=True
    )[1]
    first = pa.array(first[touches[first]])
    per_term = pa.table(
        [
            terms.take(first),
            pa.array(n_tokens, pa.int32()).take(first),
            pa.array(sum_score).take(first),
            pa.array(max_score).take(first),
        ],
        names=["term", "n_tokens", "sum_score", "max_score"],
    )
    # population stddev of the lengths of all candidate occurrences
    sigma = float(n_tokens.std()) if n_runs else 0.0
    return (
        spark.createDataFrame(per_term)
        .withColumn("sigma", F.lit(sigma))
        .select("term", _gvalue_expr(weight_comb, mu).alias("score"))
        .orderBy(F.desc("score"), F.asc("term"))
    )
