"""Independent output checks, computed in the benchmark process from the
generated inputs without the engine.

* PageRank: a sparse numpy power iteration with networkx's recurrence and
  its ``N * tol`` L1 stopping rule (weighted, dangling mass spread
  uniformly).
* Connected components and triangle counts: networkx.
* Label propagation: a plain-Python synchronous sweep with the engine's
  documented rule (weighted majority of neighbour labels, ties to the
  smallest label, isolated vertices keep their own label).
* TextRank keywords: the numpy PageRank above on a co-occurrence graph
  built in plain Python from the rule tagger's token stream, then the
  reference's top-T / collapse / ``norm_max`` weighting.
"""

from __future__ import annotations

from collections import defaultdict

import networkx as nx
import numpy as np

PAGERANK_ATOL = 1.0e-6  # the paper's allclose target for ranking scores


def pagerank(
    src, dst, weight, vertices=(), alpha=0.85, max_iter=100, tol=1.0e-6
):
    """Returns ``(ids, ranks)`` for a directed weighted graph given as
    parallel sequences; ``vertices`` adds isolated ids."""
    m = len(src)
    extra = np.asarray(list(vertices), dtype=np.asarray(src).dtype)
    ids, inv = np.unique(np.concatenate([src, dst, extra]), return_inverse=True)
    n = len(ids)
    s, d = inv[:m], inv[m: 2 * m]
    w = np.asarray(weight, dtype=np.float64)
    out_w = np.bincount(s, weights=w, minlength=n)
    nw = w / out_w[s]
    dangling = out_w == 0
    x = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        xlast = x
        x = alpha * (
            np.bincount(d, weights=xlast[s] * nw, minlength=n)
            + xlast[dangling].sum() / n
        ) + (1.0 - alpha) / n
        if np.abs(x - xlast).sum() < n * tol:
            break
    return ids, x


def close_scores(engine: dict, oracle: dict, atol: float = PAGERANK_ATOL) -> bool:
    if engine.keys() != oracle.keys():
        return False
    keys = list(oracle)
    a = np.array([engine[k] for k in keys])
    b = np.array([oracle[k] for k in keys])
    return bool(np.allclose(a, b, rtol=0.0, atol=atol))


def undirected(src, dst) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(zip(src, dst))
    return g


def components(g: nx.Graph) -> dict:
    """vertex -> min vertex id of its component (the engine's labelling)."""
    out = {}
    for comp in nx.connected_components(g):
        rep = min(comp)
        out.update(dict.fromkeys(comp, rep))
    return out


def triangles(g: nx.Graph) -> dict:
    g = g.copy()
    g.remove_edges_from(nx.selfloop_edges(g))
    return nx.triangles(g)


def label_propagation(src, dst, weight, max_iter=10) -> dict:
    nbrs = defaultdict(list)
    verts = set()
    for s, d, w in zip(src, dst, weight):
        verts.update((s, d))
        if s != d:
            nbrs[s].append((d, w))
            nbrs[d].append((s, w))
    label = {v: v for v in verts}
    for _ in range(max_iter):
        new = {}
        for v in verts:
            votes = defaultdict(float)
            for u, w in nbrs[v]:
                votes[label[u]] += w
            if votes:
                new[v] = min(votes, key=lambda lab: (-votes[lab], lab))
            else:
                new[v] = label[v]
        changed = sum(new[v] != label[v] for v in verts)
        label = new
        if changed == 0:
            break
    return label


def textrank_keywords(sentences, window=2, top_p=0.3) -> dict:
    """Keywords ``{term: score}`` for one corpus, from per-sentence
    ``(normalized_tokens, filtered_tagged)`` pairs as
    ``jgtextrank_spark.extract.preprocess_text`` returns them.

    Builds the reference co-occurrence graph (window on the original
    context, neighbours kept only if accepted, undirected weight-1 edges,
    self-loops kept, isolated accepted tokens as vertices), ranks it with
    the PageRank above (each undirected edge as two arcs, a self-loop as
    one, as networkx does), takes the top ``round(N * top_p)`` vertices, collapses
    adjacent scored tokens of the whole token stream into candidate terms
    (a run reaching the stream end is dropped) and weighs them with
    ``norm_max``."""
    accepted = set()
    for _toks, filtered in sentences:
        accepted.update(t for t, _ in filtered)
    g = nx.Graph()
    g.add_nodes_from(accepted)
    for toks, _ in sentences:
        for i, a in enumerate(toks):
            if a not in accepted:
                continue
            for b in toks[i + 1: i + 1 + window]:
                if b in accepted:
                    g.add_edge(a, b, weight=1.0)
    arcs = [(a, b) for a, b in g.edges()] + [(b, a) for a, b in g.edges() if a != b]
    ids, ranks = pagerank(
        np.array([a for a, _ in arcs], dtype=object),
        np.array([b for _, b in arcs], dtype=object),
        np.ones(len(arcs)),
        vertices=sorted(accepted),
    )
    scores = dict(zip(ids.tolist(), ranks.tolist()))
    top_t = int(round(len(scores) * top_p))
    top = {
        v for v, _ in sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_t]
    }
    stream = [t for toks, _ in sentences for t in toks]
    runs, cur = [], []
    for tok in stream:
        if tok in scores:
            cur.append(tok)
        else:
            if cur:
                runs.append(cur)
            cur = []
    out = {}
    for run in runs:
        if not top.intersection(run):
            continue
        counts = defaultdict(int)
        for t in run:
            counts[t] += 1
        max_score = max(scores[t] / k for t, k in counts.items())
        out[" ".join(run)] = round(max_score / len(run), 5)
    return out


def keywords_match(engine: dict, oracle: dict) -> bool:
    """Same terms; scores equal up to one unit in the 5th decimal (the
    engine and the oracle sum PageRank contributions in different orders, so
    a score sitting on a rounding boundary may round either way)."""
    if engine.keys() != oracle.keys():
        return False
    return all(abs(engine[k] - oracle[k]) <= 1.5e-5 for k in oracle)
