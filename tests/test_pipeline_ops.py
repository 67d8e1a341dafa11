"""Tests for the round-4 training-pipeline additions: duplicate-span
(exact substring) dedup, BM25/TF-IDF retrieval, near-dup cluster
resolution, skip-gram corpus generation, and deterministic sampling.
Brute-force Python oracles throughout."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from jgtextrank_spark.functions.dedup import (
    dedup_clusters,
    dedup_filter,
    duplicate_spans,
    kgram_positions,
    minhash_lsh_pairs,
    strip_duplicate_spans,
)
from jgtextrank_spark.functions.sampling import (
    hash_sample,
    hash_uniform,
    stratified_quota_sample,
    temperature_mixture_weights,
)
from jgtextrank_spark.functions.search import (
    bm25_topk,
    term_postings,
    tfidf_vectors,
)
from jgtextrank_spark.algos.walks import (
    negative_sampling_table,
    skipgram_pairs,
)

# ---------------------------------------------------------------------------
# duplicate spans
# ---------------------------------------------------------------------------

_SPAN_DOCS = [
    (1, "a b c d e f g h the quick brown fox jumps over the lazy dog x y"),
    (2, "z z the quick brown fox jumps over the lazy dog q r s"),
    (3, "unrelated text entirely different tokens here now"),
    (4, "a b c d e f g h extra tail words"),
    (5, "tiny doc"),
]


def _brute_spans(docs, k, min_occ=2):
    grams = {}
    for did, text in docs:
        toks = text.split()
        for i in range(len(toks) - k + 1):
            grams.setdefault(" ".join(toks[i : i + k]), []).append((did, i))
    dup_pos = {}
    for g, occs in grams.items():
        if len(occs) >= min_occ:
            for did, i in occs:
                dup_pos.setdefault(did, set()).add(i)
    out = set()
    for did, poss in dup_pos.items():
        run = []
        for p in sorted(poss):
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    out.add((did, run[0], run[-1] + k - 1, len(run)))
                run = [p]
        if run:
            out.add((did, run[0], run[-1] + k - 1, len(run)))
    return out


def test_duplicate_spans_brute_force(spark):
    docs = spark.createDataFrame(_SPAN_DOCS, ["doc_id", "text"])
    for k in (3, 5, 8):
        got = {
            (r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
            for r in duplicate_spans(docs, k=k).collect()
        }
        assert got == _brute_spans(_SPAN_DOCS, k), f"k={k}"


def test_kgram_positions_short_doc_empty(spark):
    docs = spark.createDataFrame([(1, "only two")], ["doc_id", "text"])
    assert kgram_positions(docs, k=5).count() == 0


def test_duplicate_spans_cross_doc_only(spark):
    # "p q r s t" repeats only WITHIN doc 9 -> excluded by cross_doc_only
    docs = spark.createDataFrame(
        [(9, "p q r s t u v p q r s t"), (10, "nothing shared here at all")],
        ["doc_id", "text"],
    )
    within = duplicate_spans(docs, k=5).collect()
    assert len(within) > 0
    cross = duplicate_spans(docs, k=5, cross_doc_only=True).collect()
    assert cross == []


def test_strip_duplicate_spans_keeps_one_canonical(spark):
    docs = spark.createDataFrame(_SPAN_DOCS, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["text_clean"]
        for r in strip_duplicate_spans(docs, k=5).collect()
    }
    # doc 1 is canonical for both duplicated span texts -> unchanged
    assert got[1] == _SPAN_DOCS[0][1]
    # doc 2 loses the 9-token quick-brown-fox span, doc 4 the a..h prefix
    assert got[2] == "z z q r s"
    assert got[4] == "extra tail words"
    # untouched docs pass through (whitespace-normalized framing)
    assert got[3] == _SPAN_DOCS[2][1]
    assert got[5] == "tiny doc"


def test_strip_then_redetect_finds_nothing(spark):
    # after stripping, no k-gram occurs twice anymore
    docs = spark.createDataFrame(_SPAN_DOCS, ["doc_id", "text"])
    clean = strip_duplicate_spans(docs, k=5).withColumnRenamed(
        "text_clean", "text"
    )
    assert duplicate_spans(clean, k=5).count() == 0


# ---------------------------------------------------------------------------
# BM25 / TF-IDF
# ---------------------------------------------------------------------------

_CORPUS = [
    (1, "spark shuffles data between stages"),
    (2, "spark caches data in memory for iterative jobs"),
    (3, "the optimizer prunes columns and pushes filters"),
    (4, "iterative graph jobs checkpoint lineage"),
    (5, "memory pressure spills shuffle data to disk"),
]


def _brute_bm25(corpus, query_terms, k1=1.2, b=0.75):
    n = len(corpus)
    dls = {d: len(t.split()) for d, t in corpus}
    avgdl = sum(dls.values()) / n
    dfs = {}
    tfs = {}
    for d, t in corpus:
        toks = t.split()
        for term in set(toks):
            dfs[term] = dfs.get(term, 0) + 1
        for term in toks:
            tfs[(term, d)] = tfs.get((term, d), 0) + 1
    scores = {}
    for d, _ in corpus:
        s = 0.0
        hit = False
        for term in set(query_terms):
            tf = tfs.get((term, d), 0)
            if tf == 0:
                continue
            hit = True
            idf = math.log(1.0 + (n - dfs[term] + 0.5) / (dfs[term] + 0.5))
            s += idf * (tf * (k1 + 1)) / (
                tf + k1 * (1 - b + b * dls[d] / avgdl)
            )
        if hit:
            scores[d] = round(s, 6)
    return scores


def test_bm25_matches_brute_force(spark):
    docs = spark.createDataFrame(_CORPUS, ["doc_id", "text"])
    queries = spark.createDataFrame(
        [(100, "spark data"), (200, "iterative jobs memory")],
        ["query_id", "text"],
    )
    rows = bm25_topk(docs, queries, k=10).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], {})[r["doc_id"]] = r["score"]
    assert got[100] == _brute_bm25(_CORPUS, ["spark", "data"])
    assert got[200] == _brute_bm25(_CORPUS, ["iterative", "jobs", "memory"])
    # ranks are 1..n, descending score, doc_id tiebreak
    for qid in (100, 200):
        qrows = sorted(
            (r for r in rows if r["query_id"] == qid),
            key=lambda r: r["rank"],
        )
        assert [r["rank"] for r in qrows] == list(range(1, len(qrows) + 1))
        keys = [(-r["score"], r["doc_id"]) for r in qrows]
        assert keys == sorted(keys)


def test_bm25_topk_truncates(spark):
    docs = spark.createDataFrame(_CORPUS, ["doc_id", "text"])
    queries = spark.createDataFrame([(1, "data jobs")], ["query_id", "text"])
    assert bm25_topk(docs, queries, k=2).count() == 2


def test_bm25_duplicate_query_terms_count_once(spark):
    docs = spark.createDataFrame(_CORPUS, ["doc_id", "text"])
    q1 = spark.createDataFrame([(1, "spark")], ["query_id", "text"])
    q2 = spark.createDataFrame([(1, "spark spark spark")], ["query_id", "text"])
    r1 = {(r["doc_id"], r["score"]) for r in bm25_topk(docs, q1, k=10).collect()}
    r2 = {(r["doc_id"], r["score"]) for r in bm25_topk(docs, q2, k=10).collect()}
    assert r1 == r2


def test_tfidf_matches_brute_force(spark):
    docs = spark.createDataFrame(_CORPUS, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["term"]): r["tfidf"]
        for r in tfidf_vectors(docs).collect()
    }
    n = len(_CORPUS)
    dfs = {}
    for _, t in _CORPUS:
        for term in set(t.split()):
            dfs[term] = dfs.get(term, 0) + 1
    for d, t in _CORPUS:
        toks = t.split()
        for term in set(toks):
            tf = toks.count(term)
            want = round(
                tf * (math.log((1 + n) / (1 + dfs[term])) + 1), 6
            )
            assert got[(d, term)] == pytest.approx(want, abs=1e-9)
    assert len(got) == sum(len(set(t.split())) for _, t in _CORPUS)


def test_term_postings_counts(spark):
    docs = spark.createDataFrame([(1, "a b a  a"), (2, "b")], ["doc_id", "text"])
    got = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in term_postings(docs).collect()
    }
    assert got == {("a", 1): 3, ("b", 1): 1, ("b", 2): 1}


# ---------------------------------------------------------------------------
# dedup clusters
# ---------------------------------------------------------------------------

def test_dedup_clusters_transitive(spark):
    # chain 1-2-3 plus isolated pair 7-9: CC must merge the chain
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: (r["canonical_doc"], r["cluster_size"])
        for r in dedup_clusters(pairs).collect()
    }
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3), 7: (7, 2), 9: (7, 2),
    }


def test_dedup_filter_keeps_canonicals_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 5, 7, 9)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["keep"] for r in dedup_filter(docs, pairs).collect()}
    assert got == {1: True, 2: False, 3: False, 5: True, 7: True, 9: False}


def test_dedup_clusters_end_to_end_minhash(spark):
    # three literal copies + one unrelated doc
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " tail"), (4, "something else wholly")],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_pairs(docs, n=3, bands=8, rows_per_band=2,
                              verify_threshold=0.5)
    got = {
        r["doc_id"]: r["canonical_doc"]
        for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


# ---------------------------------------------------------------------------
# skip-gram corpus + negative sampling
# ---------------------------------------------------------------------------

def test_skipgram_pairs_brute_force(spark):
    walks = [
        ("w1", [("a"), "b", "c", "d"]),
        ("w2", ["b", "c"]),
    ]
    rows = [
        (wid, i, v) for wid, vs in walks for i, v in enumerate(vs)
    ]
    wdf = spark.createDataFrame(rows, ["walk_id", "step", "vertex"])
    got = {
        (r["center"], r["context"]): r["n"]
        for r in skipgram_pairs(wdf, window=2).collect()
    }
    want = {}
    for _, vs in walks:
        for i, c in enumerate(vs):
            for j, x in enumerate(vs):
                if i != j and abs(i - j) <= 2:
                    want[(c, x)] = want.get((c, x), 0) + 1
    assert got == want


def test_negative_sampling_distribution(spark):
    wdf = spark.createDataFrame(
        [("w", i, v) for i, v in enumerate("a a a a b b c".split())],
        ["walk_id", "step", "vertex"],
    )
    rows = {r["vertex"]: r for r in negative_sampling_table(wdf).collect()}
    z = 4**0.75 + 2**0.75 + 1
    assert rows["a"]["n"] == 4
    assert rows["a"]["p_neg"] == pytest.approx(4**0.75 / z, abs=1e-8)
    assert rows["c"]["p_neg"] == pytest.approx(1 / z, abs=1e-8)
    assert sum(r["p_neg"] for r in rows.values()) == pytest.approx(1.0, abs=1e-6)


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

def test_hash_sample_deterministic_and_nested(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    s20 = {r["doc_id"] for r in hash_sample(df, 0.2).collect()}
    s20b = {r["doc_id"] for r in hash_sample(df, 0.2).collect()}
    s50 = {r["doc_id"] for r in hash_sample(df, 0.5).collect()}
    assert s20 == s20b  # replayable
    assert s20 <= s50  # thresholds nest: a bigger sample CONTAINS a smaller
    assert 0.15 < len(s20) / 2000 < 0.25
    other = {r["doc_id"] for r in hash_sample(df, 0.2, seed="s1").collect()}
    assert other != s20  # seed changes membership


def test_stratified_quota_sample(spark):
    rows = [(i, "en" if i % 3 else "de") for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = stratified_quota_sample(df, "lang", quota=10).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert {k: len(v) for k, v in by_lang.items()} == {"en": 10, "de": 10}
    # membership = the 10 smallest hash_uniform values per stratum
    u = {
        r["doc_id"]: r["u"]
        for r in df.select("doc_id", hash_uniform("doc_id").alias("u")).collect()
    }
    for lang, members in by_lang.items():
        pool = sorted(
            (d for d, l_ in rows if l_ == lang), key=lambda d: (u[d], d)
        )
        assert sorted(m["doc_id"] for m in members) == sorted(pool[:10])


def test_temperature_mixture_weights(spark):
    rows = [(i, "en") for i in range(90)] + [(i + 1000, "de") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = {r["stratum"]: r for r in
           temperature_mixture_weights(df, "lang", alpha=0.5).collect()}
    z = 90**0.5 + 10**0.5
    assert out["en"]["p_raw"] == pytest.approx(0.9, abs=1e-9)
    assert out["de"]["p_mix"] == pytest.approx(10**0.5 / z, abs=1e-8)
    # temperature UPSAMPLES the rare stratum, DOWNSAMPLES the common one
    assert out["de"]["boost"] > 1.0 > out["en"]["boost"]
    # alpha=1 is a no-op mixture
    flat = {r["stratum"]: r for r in
            temperature_mixture_weights(df, "lang", alpha=1.0).collect()}
    assert flat["en"]["boost"] == pytest.approx(1.0, abs=1e-8)
    assert flat["de"]["boost"] == pytest.approx(1.0, abs=1e-8)


# ---------------------------------------------------------------------------
# crawl frontier + politeness scheduling
# ---------------------------------------------------------------------------

def test_frontier_urls_anti_join_and_indegree(spark):
    from jgtextrank_spark.crawl import frontier_urls

    edges = spark.createDataFrame(
        [
            ("https://a.org/1", "https://b.org/x", 1.0),
            ("https://a.org/2", "https://b.org/x", 1.0),
            ("https://a.org/1", "https://b.org/x", 1.0),  # dup ref
            ("https://a.org/2", "https://a.org/1", 1.0),  # already crawled
            ("https://a.org/1", "https://c.org/y", 1.0),
        ],
        ["src", "dst", "weight"],
    )
    crawled = spark.createDataFrame(
        [("https://a.org/1",), ("https://a.org/2",)], ["url"]
    )
    got = {
        r["url"]: (r["host"], r["n_refs"])
        for r in frontier_urls(edges, crawled).collect()
    }
    assert got == {
        "https://b.org/x": ("b.org", 2),
        "https://c.org/y": ("c.org", 1),
    }


def test_crawl_schedule_politeness_waves(spark):
    from jgtextrank_spark.crawl import crawl_schedule

    frontier = spark.createDataFrame(
        [
            ("https://h.org/a", "h.org", 5),
            ("https://h.org/b", "h.org", 5),  # tie -> url asc
            ("https://h.org/c", "h.org", 9),
            ("https://h.org/d", "h.org", 1),
            ("https://k.org/z", "k.org", 2),
        ],
        ["url", "host", "n_refs"],
    )
    got = {
        r["url"]: (r["host_rank"], r["wave"])
        for r in crawl_schedule(frontier, per_host_rate=2).collect()
    }
    assert got == {
        "https://h.org/c": (1, 1),
        "https://h.org/a": (2, 1),
        "https://h.org/b": (3, 2),
        "https://h.org/d": (4, 2),
        "https://k.org/z": (1, 1),
    }
    # invariant: no wave has more than per_host_rate urls for one host
    waves = {}
    for url, (rk, wv) in got.items():
        waves.setdefault((url.split("/")[2], wv), []).append(url)
    assert all(len(v) <= 2 for v in waves.values())


# ---------------------------------------------------------------------------
# bipartite butterflies
# ---------------------------------------------------------------------------

def _brute_butterflies(inc):
    from collections import defaultdict

    nbrs = defaultdict(set)
    for l_, r in set(inc):
        nbrs[l_].add(r)
    lefts = sorted(nbrs)
    out = {l_: 0 for l_ in lefts}
    for i, a in enumerate(lefts):
        for b in lefts[i + 1 :]:
            c = len(nbrs[a] & nbrs[b])
            bf = c * (c - 1) // 2
            out[a] += bf
            out[b] += bf
    return out


def test_butterfly_counts_brute_force(spark):
    from jgtextrank_spark.algos.bipartite import butterfly_counts

    inc = [
        ("d1", "t1"), ("d1", "t2"), ("d1", "t3"),
        ("d2", "t1"), ("d2", "t2"),            # d1-d2 share 2 -> 1 bf
        ("d3", "t1"), ("d3", "t2"), ("d3", "t3"),  # d1-d3 share 3 -> 3 bf
        ("d4", "t9"),                           # isolated left -> 0
        ("d1", "t1"),                            # duplicate row collapses
    ]
    got = {
        r["vertex"]: r["butterflies"]
        for r in butterfly_counts(
            spark.createDataFrame(inc, ["left", "right"])
        ).collect()
    }
    assert got == _brute_butterflies(inc)
    # complete bipartite K(3,3): every left pair shares 3 -> C(3,2)=3 per
    # pair, 2 pairs per vertex -> 6 each
    k33 = [(f"l{i}", f"r{j}") for i in range(3) for j in range(3)]
    got33 = {
        r["vertex"]: r["butterflies"]
        for r in butterfly_counts(
            spark.createDataFrame(k33, ["left", "right"])
        ).collect()
    }
    assert got33 == {"l0": 6, "l1": 6, "l2": 6}


def test_butterfly_max_right_degree_guard(spark):
    from jgtextrank_spark.algos.bipartite import butterfly_counts

    # hot right vertex 'hub' touches all lefts; capping at 2 removes its
    # wedges, leaving only the t-pair butterflies
    inc = [(f"d{i}", "hub") for i in range(4)] + [
        ("d0", "t1"), ("d1", "t1"), ("d0", "t2"), ("d1", "t2"),
    ]
    df = spark.createDataFrame(inc, ["left", "right"])
    uncapped = {
        r["vertex"]: r["butterflies"]
        for r in butterfly_counts(df).collect()
    }
    capped = {
        r["vertex"]: r["butterflies"]
        for r in butterfly_counts(df, max_right_degree=2).collect()
    }
    assert uncapped == _brute_butterflies(inc)
    assert capped == _brute_butterflies(
        [(l_, r) for l_, r in inc if r != "hub"]
    ) | {"d2": 0, "d3": 0}


# ---------------------------------------------------------------------------
# Weisfeiler-Lehman fingerprints
# ---------------------------------------------------------------------------

def _brute_wl(edges, iterations=2):
    """Pure-python mirror of the md5 WL scheme (per group)."""
    import hashlib
    from collections import defaultdict

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    adj = defaultdict(lambda: defaultdict(set))
    for g, a, b in edges:
        if a != b:
            adj[g][a].add(b)
            adj[g][b].add(a)
    out = {}
    for g, nb in adj.items():
        lbl = {v: h(str(len(us))) for v, us in nb.items()}
        for _ in range(iterations):
            lbl = {
                v: h(lbl[v] + "|" + ",".join(sorted(lbl[u] for u in us)))
                for v, us in nb.items()
            }
        out[g] = h(",".join(sorted(lbl.values())))
    return out


def test_wl_fingerprints_replay_and_isomorphism(spark):
    from jgtextrank_spark.algos.wlhash import wl_fingerprints

    edges = [
        # g1 and g2: isomorphic triangles with disjoint token names
        ("g1", "a", "b"), ("g1", "b", "c"), ("g1", "c", "a"),
        ("g2", "x", "y"), ("g2", "y", "z"), ("g2", "z", "x"),
        # g3: path of 3 (not isomorphic to a triangle)
        ("g3", "p", "q"), ("g3", "q", "r"),
        # g4: triangle with a self-loop (dropped) and a dup edge
        ("g4", "m", "n"), ("g4", "n", "o"), ("g4", "o", "m"),
        ("g4", "m", "m"), ("g4", "n", "m"),
    ]
    df = spark.createDataFrame(edges, ["doc_id", "src", "dst"])
    got = {
        r["doc_id"]: r["wl_hash"] for r in wl_fingerprints(df).collect()
    }
    assert got == _brute_wl(edges)
    assert got["g1"] == got["g2"] == got["g4"]  # isomorphic -> equal
    assert got["g3"] != got["g1"]  # WL separates path from triangle


def test_wl_separates_degree_sequences(spark):
    from jgtextrank_spark.algos.wlhash import wl_fingerprints

    # star K(1,3) vs path of 4: same size, different refinement
    edges = [
        ("s", "c", "a"), ("s", "c", "b"), ("s", "c", "d"),
        ("p", "1", "2"), ("p", "2", "3"), ("p", "3", "4"),
    ]
    got = {
        r["doc_id"]: r["wl_hash"]
        for r in wl_fingerprints(
            spark.createDataFrame(edges, ["doc_id", "src", "dst"])
        ).collect()
    }
    assert got["s"] != got["p"]


# ---------------------------------------------------------------------------
# bigram LM + PMI
# ---------------------------------------------------------------------------

def test_bigram_lm_score_brute_force(spark):
    from jgtextrank_spark.functions.lm import bigram_lm_score

    train_rows = [(1, "a b a b c"), (2, "a b c d")]
    score_rows = train_rows + [(3, "a b x"), (4, "solo")]
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    docs = spark.createDataFrame(score_rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in bigram_lm_score(docs, train=train, alpha=0.4).collect()
    }
    # brute force
    from collections import Counter

    tb = Counter()
    c1 = Counter()
    cu = Counter()
    for _, t in train_rows:
        ws = t.split()
        cu.update(ws)
        for x, y in zip(ws, ws[1:]):
            tb[(x, y)] += 1
            c1[x] += 1
    n_tok, vocab = sum(cu.values()), len(cu)

    def lp(x, y):
        if (x, y) in tb:
            return math.log(tb[(x, y)] / c1[x])
        return math.log(0.4 * (cu.get(y, 0) + 1) / (n_tok + vocab))

    for did, t in score_rows:
        ws = t.split()
        bgs = list(zip(ws, ws[1:]))
        want_n = len(bgs)
        want_avg = (
            round(sum(lp(x, y) for x, y in bgs) / want_n, 6) if bgs else 0.0
        )
        assert got[did][0] == want_n, did
        assert got[did][1] == pytest.approx(want_avg, abs=2e-6), did
    # held-out doc with unseen bigram scores lower than in-train docs
    assert got[3][1] < got[1][1]


def test_pmi_collocations_brute_force(spark):
    from jgtextrank_spark.functions.lm import pmi_collocations

    rows = [(1, "new york new york city"), (2, "new york is big"),
            (3, "the city is big the city")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["w1"], r["w2"]): (r["n"], r["pmi"])
        for r in pmi_collocations(docs, min_count=2).collect()
    }
    from collections import Counter

    bg = Counter()
    cu = Counter()
    for _, t in rows:
        ws = t.split()
        cu.update(ws)
        bg.update(zip(ws, ws[1:]))
    b_tot, n_tok = sum(bg.values()), sum(cu.values())
    want = {
        (x, y): (n, round(
            math.log((n / b_tot) / ((cu[x] / n_tok) * (cu[y] / n_tok))), 6
        ))
        for (x, y), n in bg.items() if n >= 2
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-6)
    # "new york" is a collocation: every "new" is followed by "york",
    # so its PMI is positive (above-chance association)
    assert got[("new", "york")][1] > 0


# ---------------------------------------------------------------------------
# per-group exact distance centralities
# ---------------------------------------------------------------------------

def test_closeness_per_group_nx_parity(spark):
    import networkx as nx

    from jgtextrank_spark.algos.groupdist import closeness_per_group

    graphs = {
        "g1": [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "g2": [("x", "y"), ("z", "w")],  # two components
        "g3": [("p", "q")],
    }
    rows = [(g, a, b) for g, es in graphs.items() for a, b in es]
    got = {
        (r["doc_id"], r["vertex"]): (r["closeness"], r["harmonic"])
        for r in closeness_per_group(
            spark.createDataFrame(rows, ["doc_id", "src", "dst"])
        ).collect()
    }
    for g, es in graphs.items():
        G = nx.Graph(es)
        clo = nx.closeness_centrality(G, wf_improved=True)
        har = nx.harmonic_centrality(G)
        for v in G.nodes:
            assert got[(g, v)][0] == pytest.approx(
                round(clo[v], 6), abs=1e-9
            ), (g, v)
            assert got[(g, v)][1] == pytest.approx(
                round(har[v], 6), abs=1e-9
            ), (g, v)


# ---------------------------------------------------------------------------
# incremental connected components (insert-only warm labels)
# ---------------------------------------------------------------------------

def test_cc_warm_labels_same_output_fewer_supersteps(spark, solver_paths):
    from jgtextrank_spark.algos.components import (
        connected_components,
        connected_components_result,
    )

    # snapshot A: two long chains (slow for cold hash-min, fast warm)
    chain1 = [(f"a{i:03d}", f"a{i + 1:03d}") for i in range(30)]
    chain2 = [(f"b{i:03d}", f"b{i + 1:03d}") for i in range(30)]
    mk = lambda rows: spark.createDataFrame(
        [(s, d, 1.0) for s, d in rows], ["src", "dst", "weight"]
    )
    # snapshot B: new edge MERGES the chains + a brand-new vertex pair
    delta = [("a015", "b015"), ("c000", "c001")]
    edges_b = mk(chain1 + chain2 + delta)
    for path in solver_paths():
        res_a = connected_components_result(mk(chain1 + chain2))
        prior = res_a.state.select(
            F.col("vertex").alias("id"), "label"
        ).localCheckpoint(eager=True)

        cold = connected_components_result(edges_b)
        warm = connected_components_result(edges_b, init_labels=prior)
        c = {r["vertex"]: r["label"] for r in cold.state.collect()}
        w = {r["vertex"]: r["label"] for r in warm.state.collect()}
        assert c == w, path
        assert warm.converged and cold.converged, path
        assert warm.iterations < cold.iterations, path
        # merged component labeled by the global min, new pair by its
        # own min
        assert w["b030"] == "a000" and w["c001"] == "c000", path


def test_cc_warm_labels_stale_target_dropped(spark, solver_paths):
    from jgtextrank_spark.algos.components import (
        connected_components_result,
    )

    edges = spark.createDataFrame(
        [("x", "y", 1.0), ("y", "z", 1.0)], ["src", "dst", "weight"]
    )
    # prior labels point at a vertex that no longer exists ("deleted")
    prior = spark.createDataFrame(
        [("x", "aaa_gone"), ("y", "aaa_gone")], ["id", "label"]
    )
    for path in solver_paths():
        res = connected_components_result(edges, init_labels=prior)
        got = {r["vertex"]: r["label"] for r in res.state.collect()}
        # never a phantom label
        assert got == {"x": "x", "y": "x", "z": "x"}, path


def test_cc_warm_labels_guards(spark):
    from jgtextrank_spark.algos.components import connected_components

    edges = spark.createDataFrame(
        [("x", "y", 1.0)], ["src", "dst", "weight"]
    )
    prior = spark.createDataFrame([("x", "x")], ["id", "label"])
    import pytest as _pt

    with _pt.raises(ValueError):
        connected_components(edges, algorithm="star", init_labels=prior)
    with _pt.raises(ValueError):
        connected_components(edges, encode_ids=True, init_labels=prior)


def test_parse_robots_group_semantics(spark):
    """RFC 9309 grouping: consecutive UA lines share a group; the most
    specific matching group wins (named beats *); rules before any UA
    line are ignored; empty values and comments dropped."""
    from jgtextrank_spark.crawl import parse_robots

    robots = spark.createDataFrame(
        [
            (
                "a.org",
                "# hi\nUser-agent: *\nDisallow: /private/\n"
                "Allow: /private/ok\nDisallow:\n",
            ),
            (
                "b.org",
                "User-agent: mybot\nUser-Agent: otherbot\n"
                "Disallow: /blocked\n\nUser-agent: *\nDisallow: /\n",
            ),
            ("c.org", "Disallow: /orphan\nUser-agent: evil\nDisallow: /\n"),
        ],
        "host string, robots_txt string",
    )
    rules = {
        (r["host"], r["rule"], r["path"]): r["rx"]
        for r in parse_robots(robots, agent="MyBot").collect()
    }
    assert set(rules) == {
        ("a.org", "disallow", "/private/"),
        ("a.org", "allow", "/private/ok"),
        ("b.org", "disallow", "/blocked"),   # named group, not the * group
    }
    assert rules[("a.org", "disallow", "/private/")] == "^/private/"


def test_robots_filter_longest_match_and_wildcards(spark):
    """Longest-match decides, allow wins length ties, * and trailing $
    wildcards, bare-origin URLs match path '/', hosts without robots are
    allowed."""
    from jgtextrank_spark.crawl import robots_filter

    robots = spark.createDataFrame(
        [
            (
                "a.org",
                "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
                "Disallow: /*.pdf$\nAllow: /dir\nDisallow: /dir\n",
            ),
        ],
        "host string, robots_txt string",
    )
    frontier = spark.createDataFrame(
        [
            ("https://a.org/private/x",),
            ("https://a.org/private/ok/page",),
            ("https://a.org/doc.pdf",),
            ("https://a.org/doc.pdfx",),   # $ anchor must not match
            ("https://a.org/dir/tie",),    # allow wins the 4-4 tie
            ("https://a.org",),            # bare origin -> path '/'
            ("https://z.org/anything",),   # no robots -> allowed
        ],
        "url string",
    )
    got = {
        r["url"]: (r["allowed"], r["matched_rule"])
        for r in robots_filter(frontier, robots).collect()
    }
    assert got["https://a.org/private/x"] == (False, "disallow")
    assert got["https://a.org/private/ok/page"] == (True, "allow")
    assert got["https://a.org/doc.pdf"] == (False, "disallow")
    assert got["https://a.org/doc.pdfx"] == (True, None)
    assert got["https://a.org/dir/tie"] == (True, "allow")
    assert got["https://a.org"] == (True, None)
    assert got["https://z.org/anything"] == (True, None)


def test_weighted_sample_k_exact_mirror(spark):
    """A-ES weighted sampling replays exactly against a pure-python
    hashlib mirror (same md5 uniforms, same -ln(u)/w order), global and
    per-stratum; zero/negative weights excluded; heavier rows win more
    often across seeds."""
    import hashlib
    import math

    from jgtextrank_spark.functions.sampling import weighted_sample_k

    rows = [(i, "s" + str(i % 2), float((i % 7) + (0 if i != 13 else -8)))
            for i in range(40)]  # row 13 gets weight -2 -> excluded
    df = spark.createDataFrame(rows, "doc_id long, lang string, w double")

    def u_of(doc_id, seed="s0"):
        h = hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()
        return int(h[:12], 16) / float(2 ** 48)

    def mirror(k, strata=None):
        cand = [
            (doc_id, lang, -math.log(u_of(doc_id)) / w)
            for doc_id, lang, w in rows
            if w > 0
        ]
        out = {}
        groups = (
            {None: cand}
            if strata is None
            else {
                g: [c for c in cand if c[1] == g]
                for g in {c[1] for c in cand}
            }
        )
        for g, items in groups.items():
            items.sort(key=lambda c: (c[2], c[0]))
            for rank, c in enumerate(items[:k], 1):
                out[c[0]] = rank
        return out

    got = {
        r["doc_id"]: r["es_rank"]
        for r in weighted_sample_k(df, "w", 10).collect()
    }
    assert got == mirror(10)
    got_s = {
        r["doc_id"]: r["es_rank"]
        for r in weighted_sample_k(df, "w", 5, strata_col="lang").collect()
    }
    assert got_s == mirror(5, strata="lang")
    # weight-proportional tendency: weight-6 rows beat weight-1 rows
    # in selection frequency across seeds
    heavy, light = 0, 0
    for seed_i in range(20):
        sel = {
            r["doc_id"]
            for r in weighted_sample_k(
                df, "w", 10, seed=f"t{seed_i}"
            ).collect()
        }
        heavy += sum(1 for d, _, w in rows if w == 6.0 and d in sel)
        light += sum(1 for d, _, w in rows if w == 1.0 and d in sel)
    assert heavy > light
