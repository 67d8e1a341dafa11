"""Text extraction stage: sentence split, tokenize, PoS-tag, normalize.

Re-expresses the reference preprocessing chain
(``/root/reference/jgtextrank/preprocessing/segmentation.py:146-232``,
``normaliser.py:122-192``, ``core.py:177-318``) as deterministic pure-Python
functions that run identically on the driver and inside Arrow-batched pandas
UDFs. There are deliberately NO row-at-a-time Python UDFs anywhere.

Backend note: the reference delegates sentence/word tokenization and PoS
tagging to NLTK (Punkt / Treebank / averaged-perceptron). NLTK is not
available in this environment, so the default backend is a deterministic
regex tokenizer + rule-based tagger with the same *shape* (pluggable via
``TOKENIZER_BACKENDS`` / ``TAGGER_BACKENDS``; an ``nltk`` backend is
registered automatically when importable, restoring byte-identical parity
with the reference). Everything downstream of tagging (normalize, filters,
graph, solvers, MWT weighting) is exact-parity with the reference and is
differential-tested against it (the reference's tagged-corpus entry point,
``core.py:1336-1496``, needs no NLTK at runtime).

The per-url invariant we assert in tests: the Spark pipeline's extracted
token stream for a url is byte-identical to a single-process run of these
same functions on the same text (determinism + distribution-invariance).
"""

from __future__ import annotations

import functools
import re
import string
import unicodedata
from typing import Iterable

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "normalize_token",
    "sent_tokenize",
    "word_tokenize",
    "rule_pos_tag",
    "tag_text",
    "preprocess_text",
    "tagged_sentences_udf",
    "DEFAULT_SYNTACTIC_CATEGORIES",
    "token_passes_filters",
    "strip_punc",
    "remove_punctuations",
    "remove_digits",
    "remove_punctuations_expr",
    "remove_digits_expr",
    "punctuation_filter_for_list",
    "punctuation_filter_for_word_level",
    "get_wordnet_pos",
    "lemmatize",
    "stem",
]

# Default vertex filter = noun + adjective tags (reference core.py:97-98).
DEFAULT_SYNTACTIC_CATEGORIES = frozenset({"NNS", "NNP", "NN", "JJ"})

_WS_COLLAPSE = re.compile(r"\s+")

# Sentence boundary: terminator(s) followed by whitespace + capital/digit/quote.
_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+(?=[\"'(\[]?[A-Z0-9])")

# Treebank-ish word pattern: abbreviations, hyphen/apostrophe words, numbers
# (incl. decimals), or any single non-space symbol.
_WORD = re.compile(
    r"[A-Za-z]+(?:[-'’][A-Za-z]+)*"  # words incl. hyphen/apostrophe joins
    r"|\d+(?:[.,]\d+)*"  # numbers
    r"|[^\w\s]"  # isolated punctuation/symbols
)


def sent_tokenize(text: str) -> list[str]:
    """Deterministic sentence split (regex stand-in for Punkt,
    reference ``segmentation.py:181-195``)."""
    if not text or not text.strip():
        return []
    return [s for s in _SENT_SPLIT.split(text.strip()) if s]


def word_tokenize(sentence: str) -> list[str]:
    """Deterministic word tokenizer (stand-in for Treebank,
    reference ``segmentation.py:146-178``)."""
    return _WORD.findall(sentence)


@functools.lru_cache(maxsize=1 << 16)
def normalize_token(token: str) -> str:
    """Exact-parity reimplementation of the reference ``normalize`` with
    ``lemma=False`` (``normaliser.py:122-192``): lowercase -> NFKD
    decomposition -> drop unicode category-M (mark) characters -> collapse
    whitespace runs to a single space and strip.

    Memoized per distinct token, with a bounded cache: a corpus's tokens
    are Zipf-shaped (a 300-page benchmark set makes about 55 000 calls over
    about 5 800 distinct tokens), and the result depends on the token
    alone."""
    if token is None:
        return None
    t = token.lower()
    t = unicodedata.normalize("NFKD", t)
    t = "".join(c for c in t if unicodedata.category(c)[0] != "M")
    return _WS_COLLAPSE.sub(" ", t).strip(" ")


_ADJ_SUFFIXES = (
    "al", "ous", "ive", "ic", "able", "ible", "ful", "ish", "ary",
    "less", "ant", "ent",
)

# Closed-class function words -> non-vertex tags. Without this the default
# NN fallback turns "of"/"the"/"and" into graph vertices and keyword runs
# swallow whole sentences.
_FUNCTION_TAGS = {
    **dict.fromkeys(
        ["the", "a", "an", "this", "that", "these", "those", "each",
         "every", "some", "any", "no", "all", "both"], "DT"),
    **dict.fromkeys(
        ["of", "in", "on", "at", "by", "for", "with", "from", "to",
         "into", "over", "under", "between", "through", "during",
         "above", "below", "about", "against", "upon", "within"], "IN"),
    **dict.fromkeys(["and", "or", "but", "nor", "yet"], "CC"),
    **dict.fromkeys(
        ["is", "are", "was", "were", "be", "been", "being", "am"], "VBZ"),
    **dict.fromkeys(
        ["can", "could", "will", "would", "shall", "should", "may",
         "might", "must", "do", "does", "did", "have", "has", "had"], "MD"),
    **dict.fromkeys(
        ["it", "its", "he", "she", "they", "them", "their", "we", "our",
         "you", "your", "i", "me", "my", "his", "her", "us", "who",
         "which", "what", "where", "when", "how", "why", "there",
         "here", "not", "as", "if", "than", "then", "so", "such",
         "also", "more", "most", "very", "only", "other", "same"], "PRP"),
}


def rule_pos_tag(tokens: list[str]) -> list[tuple[str, str]]:
    """Deterministic rule tagger (stand-in for NLTK's perceptron tagger,
    ``segmentation.py:71-79``). Heuristic but stable: the downstream engine
    only distinguishes the vertex categories {NN, NNS, NNP, JJ} plus
    "everything else". Closed-class function words are tagged out first."""
    out = []
    for tok in tokens:
        low = tok.lower() if tok else tok
        if not tok:
            out.append((tok, ""))
        elif low in _FUNCTION_TAGS:
            out.append((tok, _FUNCTION_TAGS[low]))
        elif all(c in string.punctuation for c in tok):
            out.append((tok, "."))
        elif tok[0].isdigit():
            out.append((tok, "CD"))
        elif tok.endswith("ly"):
            out.append((tok, "RB"))
        elif tok.endswith(("ed", "ing")) and len(tok) > 4:
            out.append((tok, "VBD"))
        elif tok.endswith(_ADJ_SUFFIXES):
            out.append((tok, "JJ"))
        elif tok[0].isupper():
            out.append((tok, "NNP"))
        elif tok.endswith("s") and not tok.endswith(("ss", "us", "is")):
            out.append((tok, "NNS"))
        else:
            out.append((tok, "NN"))
    return out


TOKENIZER_BACKENDS = {"regex": (sent_tokenize, word_tokenize)}
TAGGER_BACKENDS = {"rule": rule_pos_tag}

try:  # pragma: no cover - environment-dependent optional backend
    import nltk  # noqa: F401

    # A real, working NLTK only: it must be a filesystem package (test
    # stubs aren't) AND actually tokenize (punkt data present) — otherwise
    # UDF closures would fail on executors at runtime.
    if not getattr(nltk, "__file__", None):
        raise ImportError("nltk module is a stub")
    nltk.tokenize.sent_tokenize("Probe one. Probe two.")
    TOKENIZER_BACKENDS["nltk"] = (
        lambda text: nltk.tokenize.sent_tokenize(text),
        lambda sent: nltk.tokenize.word_tokenize(sent),
    )
    TAGGER_BACKENDS["nltk"] = lambda tokens: nltk.pos_tag(tokens)
    DEFAULT_BACKEND = "nltk"
except Exception:  # noqa: BLE001 - any failure means: use the regex backend
    DEFAULT_BACKEND = "regex"


def token_passes_filters(
    token: str,
    tag: str,
    syntactic_categories: Iterable[str] = DEFAULT_SYNTACTIC_CATEGORIES,
    stop_words: Iterable[str] | None = None,
) -> bool:
    """The reference's filter chain on one normalized tagged token
    (``core.py:283-318``), order preserved: PoS -> stopword -> punctuation.

    The punctuation predicate reproduces the reference's Python
    ``token not in string.punctuation`` — a *substring* test, so the empty
    string and multi-char slices of the punctuation constant (e.g. ``"<="``)
    are filtered, while e.g. ``"!!"`` survives.
    """
    if tag not in syntactic_categories:
        return False
    if stop_words is not None and token in stop_words:
        return False
    return token not in string.punctuation


def tag_text(
    text: str | None, backend: str | None = None
) -> list[list[tuple[str, str]]]:
    """One document's tagged sentences: sentence split -> tokenize
    (lowercased first for ``regex``) -> tag the raw tokens -> normalize each
    token (``core.py:219-251``). Returns per sentence the
    ``(normalized_token, tag)`` pairs; ``[]`` for a None text.

    The one extraction loop: ``tagged_sentences_udf`` and
    ``preprocess_text`` call it, and the pages driver path
    (``corpus.page_token_rows``) through ``preprocess_text``."""
    if text is None:
        return []
    backend = backend or DEFAULT_BACKEND
    sent_fn, word_fn = TOKENIZER_BACKENDS[backend]
    tagger = TAGGER_BACKENDS["nltk" if backend == "nltk" else "rule"]
    out = []
    for sent in sent_fn(text):
        # Reference lowercases at corpus-read time (utility.py:79-84) or via
        # normalize(); tag first, then normalize each token.
        tokens = word_fn(sent.lower()) if backend == "regex" else word_fn(sent)
        out.append([(normalize_token(t), tag) for t, tag in tagger(tokens)])
    return out


def preprocess_text(
    text: str,
    syntactic_categories: Iterable[str] = DEFAULT_SYNTACTIC_CATEGORIES,
    stop_words: Iterable[str] | None = None,
    backend: str | None = None,
) -> list[tuple[list[str], list[tuple[str, str]]]]:
    """Full single-process preprocessing of one document: the reference's
    ``preprocessing`` + ``preprocessing_tokenised_context``
    (``core.py:131-216``). Returns per sentence:
    ``(normalized_tokens, filtered_tagged_tokens)``.

    This is the driver-side golden path the distributed pipeline is
    asserted byte-identical against.
    """
    cats = set(syntactic_categories)
    stops = set(stop_words) if stop_words is not None else None
    return [
        (
            [tok for tok, _ in tagged],
            [
                (tok, tag)
                for tok, tag in tagged
                if token_passes_filters(tok, tag, cats, stops)
            ],
        )
        for tagged in tag_text(text, backend)
    ]


# ---------------------------------------------------------------------------
# String-cleanup helpers exposed by the reference preprocessing module
# (segmentation.py:82-92, normaliser.py:76-77, 101-119, 195-232) — each with
# a pure-Python form and, where hot-path-relevant, a JVM column expression.
# ---------------------------------------------------------------------------

_PUNCT_CLASS = "[" + re.escape(string.punctuation) + "]"


def strip_punc(token: str, all_: bool = False) -> str:
    """Strip punctuation from both ends (or everywhere with ``all_``) —
    reference ``strip_punc`` (segmentation.py:82-92): whitespace-strip
    first, then punctuation."""
    if token is None:
        return None
    if all_:
        return re.sub(_PUNCT_CLASS, "", token.strip())
    return token.strip().strip(string.punctuation)


def remove_punctuations(text: str) -> str:
    """Replace punctuation with spaces, collapse runs, trim
    (normaliser.py:199-204)."""
    if text is None:
        return None
    return _WS_COLLAPSE.sub(" ", re.sub(_PUNCT_CLASS, " ", text)).strip()


def remove_digits(text: str) -> str:
    """Same for digits (normaliser.py:207-212)."""
    if text is None:
        return None
    return _WS_COLLAPSE.sub(" ", re.sub(r"\d", " ", text)).strip()


def remove_punctuations_expr(col):
    """JVM-side column form of remove_punctuations."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(c, _PUNCT_CLASS, " "), r"\s+", " "
        )
    )


def remove_digits_expr(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.regexp_replace(c, r"\d", " "), r"\s+", " ")
    )


def punctuation_filter_for_list(tokens: list[str]) -> list[str]:
    """Reference ``punctuation_filter_for_list`` (normaliser.py:195-196):
    remove_punctuations applied per token (empties preserved)."""
    return [remove_punctuations(tok) for tok in tokens or []]


def punctuation_filter_for_word_level(tokens: list[str]) -> list[str]:
    """Reference ``punctuation_filter_for_word_level``
    (normaliser.py:215-232): drop tokens that are substrings of the
    punctuation constant, clean embedded punctuation, split multi-part
    results."""
    out: list[str] = []
    for tok in tokens or []:
        if tok in string.punctuation:  # substring semantics, as reference
            continue
        cleaned = remove_punctuations(tok)
        if " " in cleaned:
            out.extend(cleaned.split(" "))
        else:
            out.append(cleaned)
    return out


def get_wordnet_pos(penn_tag: str) -> str:
    """Penn tag prefix -> wordnet pos letter (normaliser.py:101-119).
    Case-sensitive, like the reference (lowercase tags map to '')."""
    if not penn_tag:
        return ""
    return {"J": "a", "V": "v", "N": "n", "R": "r"}.get(penn_tag[0], "")


def lemmatize(word: str, pos: str = "n") -> str:
    """WordNet lemmatization — requires a real NLTK with wordnet data;
    gated exactly like the reference's optional ``lemma=True`` path."""
    if not pos.strip():
        return word
    if "nltk" not in TAGGER_BACKENDS:
        raise NotImplementedError(
            "lemmatize requires NLTK + wordnet data, not present in this "
            "environment; run with lemma=False (the reference default)."
        )
    from nltk.stem import WordNetLemmatizer  # pragma: no cover

    return WordNetLemmatizer().lemmatize(word, pos=pos)  # pragma: no cover


def stem(word: str) -> str:
    """Porter stem — exposed-but-unused in the reference pipeline
    (normaliser.py:76-77); gated on a real NLTK."""
    if "nltk" not in TAGGER_BACKENDS:
        raise NotImplementedError(
            "stem requires NLTK's PorterStemmer, not present here."
        )
    from nltk.stem.porter import PorterStemmer  # pragma: no cover

    return PorterStemmer().stem(word)  # pragma: no cover


# ---------------------------------------------------------------------------
# Spark-side vectorized wrappers (Arrow-batched; one Python call per batch).
# ---------------------------------------------------------------------------

_TAGGED_SCHEMA = ArrayType(
    ArrayType(
        StructType(
            [
                StructField("token", StringType()),
                StructField("tag", StringType()),
            ]
        )
    )
)


def tagged_sentences_udf(backend: str | None = None):
    """pandas UDF: ``text -> array<array<struct<token,tag>>>`` —
    ``tag_text`` over one Arrow batch."""
    backend = backend or DEFAULT_BACKEND

    @F.pandas_udf(_TAGGED_SCHEMA)
    def _extract(texts: pd.Series) -> pd.Series:
        return pd.Series([tag_text(text, backend) for text in texts])

    return _extract
