"""``keywords_extraction_from_pages``' two extraction paths. A page set
whose size estimate fits under ``spark.sql.autoBroadcastJoinThreshold``,
and whose word count does not pass ``SMALL_GRAPH_LIMIT``, is extracted on
the driver and its token rows go straight to the TextRank driver path;
otherwise the extract UDF builds a sentences frame. Both must return the
same ``(term, score)`` rows in the same order."""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
import pytest

from jgtextrank_spark import api, corpus
from jgtextrank_spark.algos import smallgraph

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

TEXT = (
    "Compatibility of systems of linear constraints over the set of "
    "natural numbers. Criteria of compatibility of a system of linear "
    "Diophantine equations are considered. Upper bounds for components "
    "of a minimal set of solutions and algorithms of construction of "
    "minimal generating sets of solutions for all types of systems are "
    "given."
)

CORPORA = {
    "default": [
        ("u1", TEXT),
        ("u2", "Linear constraints and natural numbers. Minimal sets."),
        ("u3", "Criteria of compatibility for linear Diophantine systems."),
    ],
    # decomposed é, fullwidth digits and ™ all change under NFKD
    "non_ascii": [
        ("a", "Café networks of linear systems. Café networks."),
        ("b", "Fullwidth ０１２ digits of Brand™ systems are given."),
        ("c", "Naïve résumé of Zürich café networks and linear systems."),
    ],
    "empty_texts": [
        ("n", None),
        ("w", "   \t\n "),
        ("e", ""),
        ("t", TEXT),
    ],
}

CASES = [
    pytest.param("default", {}, id="default"),
    pytest.param("non_ascii", {"weight_comb": "sum"}, id="non_ascii"),
    pytest.param("empty_texts", {}, id="none_and_blank_texts"),
    pytest.param(
        "default",
        {
            "stop_words": ["systems", "set"],
            "syntactic_categories": ["NN", "NNS", "CD"],
        },
        id="stop_words_and_categories",
    ),
    pytest.param("default", {"weight_comb": "sum"}, id="sum"),
    pytest.param("default", {"weight_comb": "norm_max"}, id="norm_max"),
    pytest.param("default", {"weight_comb": "gcvalue"}, id="gcvalue"),
    pytest.param("default", {"window": 3}, id="window_3"),
    pytest.param("default", {"per_doc_collapse": True}, id="per_doc_collapse"),
]


def _frame(spark, rows, url_type="string"):
    """Pages from pandas: a local relation whose size Spark knows."""
    pdf = pd.DataFrame(rows, columns=["url", "text"])
    return spark.createDataFrame(pdf, f"url {url_type}, text string")


@pytest.fixture(scope="module")
def pages(spark):
    return {name: _frame(spark, rows) for name, rows in CORPORA.items()}


@contextmanager
def _threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _keywords(pages, **kwargs):
    kw = api.keywords_extraction_from_pages(pages, **kwargs)
    rows = [(r["term"], r["score"]) for r in kw.collect()]
    kw.unpersist()
    return rows


def _udf_calls(monkeypatch, fail=False):
    """Count (or, with ``fail``, refuse) the extract UDF's uses."""
    calls = []
    real = corpus.tagged_sentences_udf

    def spy(*args, **kwargs):
        if fail:
            raise AssertionError("the driver path ran the extract UDF")
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(corpus, "tagged_sentences_udf", spy)
    return calls


def _udf_path(spark, pages, **kwargs):
    """Today's answer: the extract UDF, forced by turning the threshold
    off."""
    with _threshold(spark, "-1"):
        return _keywords(pages, **kwargs)


@pytest.mark.parametrize("name, kwargs", CASES)
def test_driver_extraction_matches_udf(
    spark, pages, monkeypatch, name, kwargs
):
    _udf_calls(monkeypatch, fail=True)
    driver = _keywords(pages[name], **kwargs)
    monkeypatch.undo()
    assert driver == _udf_path(spark, pages[name], **kwargs)
    assert driver


@pytest.mark.parametrize(
    "rows",
    [
        # the DataFrame path interleaves the token streams of two pages
        # with one url, so only identical texts give a defined answer
        [("u", TEXT), ("u", TEXT), ("v", CORPORA["default"][1][1])],
        [(None, TEXT), ("u2", CORPORA["default"][1][1])],
    ],
    ids=["duplicate-url", "null-url"],
)
def test_declined_rows_fall_back(spark, monkeypatch, rows):
    frame = _frame(spark, rows)
    assert corpus.page_token_rows(frame) is not None
    calls = _udf_calls(monkeypatch)
    got = _keywords(frame, weight_comb="sum")
    assert calls
    assert got == _udf_path(spark, frame, weight_comb="sum")


def test_estimate_over_threshold_falls_back(spark, pages, monkeypatch):
    frame = pages["default"]
    with _threshold(spark, "16"):
        assert corpus.page_token_rows(frame) is None
        calls = _udf_calls(monkeypatch)
        got = _keywords(frame)
    assert calls
    assert got == _udf_path(spark, frame)


def test_estimate_unknown_falls_back(spark):
    """A frame built from a Python list has no size estimate, and Spark
    would not collect it to the driver either."""
    frame = spark.createDataFrame(
        CORPORA["default"], "url string, text string"
    )
    assert corpus.page_token_rows(frame) is None


def _preprocess_calls(monkeypatch):
    """The texts the driver extraction reads, in order."""
    texts = []
    real = corpus.preprocess_text

    def counting(text, *args, **kwargs):
        texts.append(text)
        return real(text, *args, **kwargs)

    monkeypatch.setattr(corpus, "preprocess_text", counting)
    return texts


def _words(frame):
    """The page set's whitespace-separated words."""
    texts = [row["text"] for row in frame.select("text").collect()]
    return sum(len(text.split()) for text in texts if text)


def test_rows_over_limit_stop_extraction(spark, pages, monkeypatch):
    """Extraction stops at the first page whose rows cross the limit; the
    UDF path then gives today's answer."""
    frame = pages["default"]
    urls = corpus.page_token_rows(frame).column("url").to_pylist()
    first = urls.count("u1")
    # the word count passes, the first page's rows do not
    assert _words(frame) <= first - 1
    texts = _preprocess_calls(monkeypatch)
    monkeypatch.setattr(smallgraph, "SMALL_GRAPH_LIMIT", first - 1)
    assert corpus.page_token_rows(frame) is None
    assert len(texts) == 1
    calls = _udf_calls(monkeypatch)
    got = _keywords(frame, weight_comb="sum")
    assert calls
    assert got == _udf_path(spark, frame, weight_comb="sum")


def test_words_over_limit_fetch_no_text(spark, pages, monkeypatch):
    """A page set with more words than the limit is not fetched or
    extracted on the driver: one aggregation job decides, and the UDF
    path gives today's answer."""
    frame = pages["default"]
    monkeypatch.setattr(smallgraph, "SMALL_GRAPH_LIMIT", _words(frame) - 1)
    texts = _preprocess_calls(monkeypatch)
    sc = spark.sparkContext
    group = "pages-words-over-limit"
    sc.setJobGroup(group, group)
    try:
        assert corpus.page_token_rows(frame) is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert texts == []
    calls = _udf_calls(monkeypatch)
    got = _keywords(frame, weight_comb="sum")
    assert calls
    assert got == _udf_path(spark, frame, weight_comb="sum")


@pytest.mark.parametrize(
    "kwargs", [{"solver": "no_such_solver"}, {"weighted": True}]
)
def test_invalid_options_raise_before_any_job(spark, pages, kwargs):
    sc = spark.sparkContext
    group = "pages-invalid-options"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError):
            api.keywords_extraction_from_pages(pages["default"], **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_other_solver_options_take_udf_path(spark, pages, monkeypatch):
    calls = _udf_calls(monkeypatch)
    assert _keywords(pages["default"], solver="degree_centrality")
    assert calls


def test_url_type_is_kept(spark, monkeypatch):
    """Numeric urls order the global token stream numerically (9 < 10 <
    100), as on the UDF path."""
    rows = [(10, TEXT), (9, CORPORA["default"][1][1]), (100, TEXT[:90])]
    frame = _frame(spark, rows, url_type="long")
    table = corpus.page_token_rows(frame)
    assert table.schema.field("url").type == pa.int64()
    _udf_calls(monkeypatch, fail=True)
    driver = _keywords(frame, weight_comb="sum", top_p=1.0)
    monkeypatch.undo()
    assert driver == _udf_path(spark, frame, weight_comb="sum", top_p=1.0)
