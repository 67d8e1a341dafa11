"""The TextRank pipeline's two paths. A corpus of at most
``SMALL_GRAPH_LIMIT`` token rows is solved on the driver after one Arrow
fetch; a larger one takes the DataFrame path. Both must return the same
``(term, score)`` rows in the same order."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from jgtextrank_spark import textrank
from jgtextrank_spark.algos import smallgraph
from jgtextrank_spark.corpus import sentences_from_tagged
from jgtextrank_spark.textrank import WEIGHT_COMBS, keywords_from_sentences
from test_textrank import TAGGED

# Keyword runs cross both document boundaries ("natural numbers" + "Upper
# bounds", "types systems" + "Criteria"), and the stream ends on a
# keyword run that occurs nowhere else.
MULTIDOC = {
    "a": [TAGGED[0][:-1]],
    "b": [TAGGED[2], TAGGED[3]],
    "c": [TAGGED[1][:-1] + [("natural", "JJ"), ("solutions", "NNS")]],
}

TAGGED_SCHEMA = (
    "url string, sent_id long, tagged array<struct<token:string,tag:string>>"
)


def _sentences(spark, docs):
    rows = [
        Row(
            url=url,
            sent_id=i,
            tagged=[Row(token=t, tag=g) for t, g in sent],
        )
        for url, sents in docs.items()
        for i, sent in enumerate(sents)
    ]
    return sentences_from_tagged(
        spark.createDataFrame(rows, TAGGED_SCHEMA), normalized=False
    )


def _two_docs(spark):
    return _sentences(spark, {"doc1": TAGGED[:2], "doc2": TAGGED[2:]})


def _keywords(sentences, **kwargs):
    kw = keywords_from_sentences(sentences, **kwargs)
    rows = [(r["term"], r["score"]) for r in kw.collect()]
    kw.unpersist()
    return rows


@pytest.fixture
def keyword_paths(monkeypatch):
    """``for path in keyword_paths(): ...`` runs the block on the driver
    path, then on the DataFrame path. The second leg declines the driver
    path for the keyword pipeline only: PageRank keeps its driver solve,
    so a DataFrame leg costs seconds instead of the DataFrame PageRank
    loop's half minute (``test_paths_agree_on_dataframe_solvers`` covers
    that combination)."""

    def paths():
        yield "local"
        monkeypatch.setattr(
            textrank, "_keywords_local", lambda *args, **kwargs: None
        )
        yield "dataframe"

    return paths


def _both(paths, sentences, **kwargs):
    got = {path: _keywords(sentences, **kwargs) for path in paths()}
    assert got["local"] == got["dataframe"]
    return got["local"]


@pytest.mark.parametrize("weight_comb", WEIGHT_COMBS)
def test_paths_agree_on_weight_combs(spark, keyword_paths, weight_comb):
    assert _both(keyword_paths, _two_docs(spark), weight_comb=weight_comb)


@pytest.mark.parametrize(
    "kwargs",
    [
        # window 2 is the default the weight-comb tests run
        {"window": 3},
        {"window": 4},
        {"top_p": 1.0},
        {"top_t": 5},
        {"conn_with_original_ctx": False},
        {"per_doc_collapse": True},
        {"directed": True},
    ],
    ids=lambda kw: "-".join(f"{k}={v}" for k, v in kw.items()),
)
def test_paths_agree_on_options(spark, keyword_paths, kwargs):
    assert _both(keyword_paths, _two_docs(spark), weight_comb="sum", **kwargs)


def test_paths_agree_on_dataframe_solvers(spark, solver_paths):
    """The shared limit at 0 sends the keyword pipeline and PageRank to
    their DataFrame code. Ten supersteps keep the DataFrame loop short;
    both paths stop at the same superstep."""
    got = {
        path: _keywords(_two_docs(spark), max_iter=10)
        for path in solver_paths()
    }
    assert got["local"] == got["dataframe"]


@pytest.mark.parametrize("per_doc", [False, True])
def test_paths_agree_across_documents(spark, keyword_paths, per_doc):
    got = dict(
        _both(
            keyword_paths, _sentences(spark, MULTIDOC), top_p=1.0,
            weight_comb="sum", per_doc_collapse=per_doc,
        )
    )
    # a run only crosses documents in the global stream, and only the
    # global stream drops the run that reaches its end
    assert ("natural numbers upper bounds" in got) is not per_doc
    assert ("types systems criteria" in got) is not per_doc
    assert ("natural solutions" in got) is per_doc


def test_paths_agree_on_empty_corpora(spark, keyword_paths):
    empty = sentences_from_tagged(
        spark.createDataFrame([], TAGGED_SCHEMA), normalized=False
    )
    rejected = _sentences(
        spark, {"d": [[("the", "DT"), ("of", "IN"), ("a", "DT")]]}
    )
    for sentences in (empty, rejected):
        assert _both(keyword_paths, sentences) == []


def test_corpus_over_limit_takes_dataframe_path(spark, monkeypatch):
    """The limit counts token rows (stream tokens plus filtered tokens).
    At the limit the result is computed on the driver and nothing is
    cached; one row over it the DataFrame path returns a cached frame."""
    sentences = _two_docs(spark)
    n_rows = sum(
        len(r["tokens"]) + len(r["filtered"]) for r in sentences.collect()
    )
    got = {}
    for limit, cached in ((n_rows, False), (n_rows - 1, True)):
        monkeypatch.setattr(smallgraph, "SMALL_GRAPH_LIMIT", limit)
        kw = keywords_from_sentences(sentences, weight_comb="sum")
        assert kw.storageLevel.useMemory is cached
        got[limit] = kw.collect()
        kw.unpersist()
    assert got[n_rows] == got[n_rows - 1]


def test_call_leaves_no_cached_frame(spark, keyword_paths):
    """Once the caller releases the result, a call has left nothing
    persisted on either path."""
    sc = spark.sparkContext
    sentences = _two_docs(spark)
    for _path in keyword_paths():
        for weight_comb in ("norm_max", "gcvalue"):
            # ids, not a count: the context cleaner may drop an RDD an
            # earlier test left persisted while the call runs
            before = set(sc._jsc.getPersistentRDDs().keys())
            _keywords(sentences, weight_comb=weight_comb)
            assert set(sc._jsc.getPersistentRDDs().keys()) <= before


def test_local_path_job_count_independent_of_documents(spark):
    """The driver path runs the same few Spark jobs for 2 documents and
    for 50."""
    sc = spark.sparkContext
    jobs = {}
    for n_docs in (2, 50):
        docs = {f"doc{i:02d}": [TAGGED[i % 4]] for i in range(n_docs)}
        sentences = _sentences(spark, docs)
        group = f"textrank-local-{n_docs}"
        sc.setJobGroup(group, group)
        try:
            assert _keywords(sentences)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n_docs] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[2] == jobs[50] <= 3
