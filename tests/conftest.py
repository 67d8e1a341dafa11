"""Shared pytest fixtures: one local SparkSession per test session, and an
nltk stub that makes the reference package importable so the REAL reference
(`/root/reference`, pre-tagged entry points + networkx solvers) serves as
the differential oracle. The stub only satisfies module-scope imports; any
actual NLTK *tokenization* call raises, so oracle runs are restricted to
the deterministic tagged-corpus path (``core.py:1336-1496``) — exactly the
path the reference's published evaluations use."""

from __future__ import annotations

import sys
import types
from pathlib import Path

import pytest


def _install_nltk_stub():
    if "nltk" in sys.modules:
        return

    def _unavailable(*a, **k):
        raise RuntimeError(
            "NLTK is not installed in this environment; the oracle only "
            "supports the pre-tagged corpus path."
        )

    nltk = types.ModuleType("nltk")
    nltk.pos_tag = _unavailable

    tokenize = types.ModuleType("nltk.tokenize")
    tokenize.word_tokenize = _unavailable
    tokenize.sent_tokenize = _unavailable
    api = types.ModuleType("nltk.tokenize.api")

    class TokenizerI:  # minimal interface shim
        def tokenize(self, text):  # pragma: no cover
            raise NotImplementedError

    api.TokenizerI = TokenizerI
    tokenize.api = api
    nltk.tokenize = tokenize

    corpus = types.ModuleType("nltk.corpus")

    class _Stopwords:
        @staticmethod
        def words(lang="english"):
            return []

    corpus.stopwords = _Stopwords()
    wordnet = types.ModuleType("nltk.corpus.wordnet")
    wordnet.ADJ = "a"
    wordnet.VERB = "v"
    wordnet.NOUN = "n"
    wordnet.ADV = "r"
    corpus.wordnet = wordnet
    nltk.corpus = corpus

    stem = types.ModuleType("nltk.stem")
    porter = types.ModuleType("nltk.stem.porter")

    class PorterStemmer:
        def stem(self, word):
            _unavailable()

    porter.PorterStemmer = PorterStemmer
    # the reference's normaliser.py relies on `re` leaking from
    # `from nltk.stem.porter import *` — reproduce that namespace side-effect
    import re as _re

    porter.re = _re
    porter.__all__ = ["PorterStemmer", "re"]

    class WordNetLemmatizer:
        def lemmatize(self, word, pos="n"):
            _unavailable()

    stem.WordNetLemmatizer = WordNetLemmatizer
    stem.porter = porter
    nltk.stem = stem

    data = types.ModuleType("nltk.data")
    data.find = _unavailable
    nltk.data = data
    nltk.download = _unavailable

    sys.modules["nltk"] = nltk
    sys.modules["nltk.tokenize"] = tokenize
    sys.modules["nltk.tokenize.api"] = api
    sys.modules["nltk.corpus"] = corpus
    sys.modules["nltk.corpus.wordnet"] = wordnet
    sys.modules["nltk.stem"] = stem
    sys.modules["nltk.stem.porter"] = porter
    sys.modules["nltk.data"] = data


_install_nltk_stub()
REFERENCE_DIR = "/root/reference"
sys.path.insert(0, REFERENCE_DIR)  # reference package as oracle
# the checkout these tests belong to, wherever it lives
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from jgtextrank_spark.session import get_spark

    spark = get_spark(
        master="local[4]",
        shuffle_partitions=2,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    yield spark
    _stop_spark(spark)


def _stop_spark(spark):
    """Stop the session and the gateway JVM behind it, and wait for the
    JVM to exit, so no process outlives the test run."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


@pytest.fixture(params=["local", "dataframe"])
def solver_path(request, monkeypatch):
    """Run a test on both solvers of PageRank, components, label
    propagation and triangle counting. Every test graph is small enough
    for the driver-local solve, so ``dataframe`` lowers the shared
    local-solve edge limit (``smallgraph.SMALL_GRAPH_LIMIT``) to 0 for the
    test, forcing the DataFrame loops."""
    if request.param == "dataframe":
        from jgtextrank_spark.algos import smallgraph

        monkeypatch.setattr(smallgraph, "SMALL_GRAPH_LIMIT", 0)
    return request.param


@pytest.fixture
def solver_paths(monkeypatch):
    """The ``solver_path`` switch as a loop, for tests that keep one id:
    ``for path in solver_paths(): ...`` runs the block on the local
    solvers, then on the DataFrame loops."""
    from jgtextrank_spark.algos import smallgraph

    def paths():
        for path, limit in (
            ("local", smallgraph.SMALL_GRAPH_LIMIT),
            ("dataframe", 0),
        ):
            monkeypatch.setattr(smallgraph, "SMALL_GRAPH_LIMIT", limit)
            yield path

    return paths


def importorskip_reference():
    """Import the reference package, or skip the calling test when it is
    absent (``ModuleNotFoundError`` only: a reference that is present but
    fails to import still errors)."""
    return pytest.importorskip(
        "jgtextrank",
        reason=f"reference package jgtextrank is not importable "
        f"(looked for on sys.path and in {REFERENCE_DIR})",
        exc_type=ModuleNotFoundError,
    )


@pytest.fixture(scope="session")
def reference():
    """The real reference package (oracle). Usable only via its tagged /
    segmented paths plus networkx solvers; NLTK calls raise. scipy-backed
    nx solvers (pagerank, hits) are routed to numpy-parity mirrors.
    Skips the requesting test when the package is absent."""
    jgtextrank = importorskip_reference()
    from oracle.nxparity import install_solver_patches

    install_solver_patches()

    # The reference fans out via multiprocessing.Pool (core.py:431-434,
    # metrics.py:265) which cannot fork under pytest+JVM; swap in a serial
    # pool — identical results (workers=1 is the reference default anyway).
    class _SerialPool:
        def __init__(self, processes=None):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def starmap(self, fn, iterable):
            return [fn(*args) for args in iterable]

    import jgtextrank.core as _core
    import jgtextrank.metrics as _metrics

    _core.Pool = _SerialPool
    _metrics.MultiprocPool = _SerialPool
    return jgtextrank
