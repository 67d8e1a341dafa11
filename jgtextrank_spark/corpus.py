"""Corpus tables: pages -> sentences -> token tables.

Maps the reference's generator pipeline (``core.py:131-216``) onto two
DataFrame shapes shared by the whole engine:

* ``sentences``: one row per (url, sent_id) with the normalized token array,
  the tagged array, and the syntactically-filtered tagged array.
* ``tokens``: position-exploded rows for windowing/collapse stages.

On the ``build_sentences`` path all filtering happens JVM-side with
higher-order array functions so Catalyst sees (and prunes/pushes) it; the
only Python is the Arrow-batched extract UDF.

A page set small enough for Spark to collect to the driver, with no more
words than the TextRank driver path can take, skips that UDF:
``page_token_rows`` fetches ``(url, text)`` in one Arrow job and runs the
same ``extract.tag_text`` loop (through ``preprocess_text``) in the driver
process, so no Python worker starts. Its rows feed the TextRank driver
path directly.
"""

from __future__ import annotations

import string
from typing import Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .extract import (
    DEFAULT_SYNTACTIC_CATEGORIES,
    preprocess_text,
    tagged_sentences_udf,
)

__all__ = [
    "build_sentences",
    "sentences_from_tagged",
    "explode_tokens",
    "page_token_rows",
]

_PUNCT = string.punctuation


def _passes_filters(
    x: Column,
    syntactic_categories: Iterable[str],
    stop_words: Iterable[str] | None,
) -> Column:
    """Filter predicate on a struct<token,tag> element, matching the
    reference chain pos -> stopword -> punctuation (``core.py:283-318``).

    The punctuation test reproduces Python's ``token in string.punctuation``
    *substring* semantics ('' and e.g. '<=' are dropped, '!!' survives).
    """
    keep = x["tag"].isin(*list(syntactic_categories))
    if stop_words:
        keep = keep & ~x["token"].isin(*list(stop_words))
    is_punct_sub = (x["token"] == F.lit("")) | F.contains(
        F.lit(_PUNCT), x["token"]
    )
    return keep & ~is_punct_sub


def sentences_from_tagged(
    tagged_df: DataFrame,
    syntactic_categories: Iterable[str] = DEFAULT_SYNTACTIC_CATEGORIES,
    stop_words: Iterable[str] | None = None,
    doc_col: str = "url",
    ctx_col: str = "sent_id",
    tagged_col: str = "tagged",
    normalized: bool = False,
) -> DataFrame:
    """From a pre-tagged context table
    ``(doc, ctx, tagged array<struct<token,tag>>)`` — the analogue of the
    reference's ``keywords_extraction_from_tagged_corpus``
    (``core.py:1336-1496``) — produce the canonical sentences shape.

    If ``normalized`` is False the tokens are normalized here (lowercase /
    NFKD / strip marks / collapse), matching ``core.py:1317-1333``.
    """
    tagged = F.col(tagged_col)
    if not normalized:
        # normalize() for ASCII-ish tokens == lower + whitespace collapse;
        # full NFKD parity lives in the extract UDF for raw-text input. Here
        # tokens are single words already, so lower+trim is exact for all
        # inputs whose tokens carry no combining marks; tests cover parity.
        tagged = F.transform(
            tagged,
            lambda x: F.struct(
                F.trim(F.regexp_replace(F.lower(x["token"]), r"\s+", " ")).alias(
                    "token"
                ),
                x["tag"].alias("tag"),
            ),
        )
    out = tagged_df.select(
        F.col(doc_col).alias("url"),
        F.col(ctx_col).cast("long").alias("sent_id"),
        tagged.alias("tagged"),
    )
    out = out.withColumn("tokens", F.transform(F.col("tagged"), lambda x: x["token"]))
    out = out.withColumn(
        "filtered",
        F.filter(
            F.col("tagged"),
            lambda x: _passes_filters(x, syntactic_categories, stop_words),
        ),
    )
    return out


def build_sentences(
    pages: DataFrame,
    syntactic_categories: Iterable[str] = DEFAULT_SYNTACTIC_CATEGORIES,
    stop_words: Iterable[str] | None = None,
    text_col: str = "text",
    url_col: str = "url",
    backend: str | None = None,
) -> DataFrame:
    """pages(url, .., text) -> sentences(url, sent_id, tokens, tagged,
    filtered). One Arrow batch pass for extract; everything else JVM-side."""
    extract = tagged_sentences_udf(backend)
    sents = pages.select(
        F.col(url_col).alias("url"),
        F.posexplode(extract(F.col(text_col))).alias("sent_id", "tagged"),
    )
    sents = sents.withColumn(
        "tokens", F.transform(F.col("tagged"), lambda x: x["token"])
    )
    sents = sents.withColumn(
        "filtered",
        F.filter(
            F.col("tagged"),
            lambda x: _passes_filters(x, syntactic_categories, stop_words),
        ),
    )
    return sents


def page_token_rows(
    pages: DataFrame,
    syntactic_categories: Iterable[str] = DEFAULT_SYNTACTIC_CATEGORIES,
    stop_words: Iterable[str] | None = None,
    text_col: str = "text",
    url_col: str = "url",
) -> pa.Table | None:
    """The token rows of ``build_sentences(pages)``, extracted on the
    driver (``textrank._token_rows_local`` over ``preprocess_text``), or
    None when the page set is too large for that. Two checks run before
    any text is fetched:

    * Spark's size estimate of the ``(url, text)`` projection must fit
      under ``spark.sql.autoBroadcastJoinThreshold`` (above 0), the size
      at which Spark itself collects a relation to the driver. No job.
    * Its whitespace-separated words, counted by one JVM aggregation,
      must not pass ``SMALL_GRAPH_LIMIT``. A word of ASCII letters, digits
      or punctuation yields at least one stream token, hence one token row,
      so a page set with more words would not fit the TextRank driver path
      after extraction either. This bounds the text the fetch brings to the
      driver by what that limit can use.

    Then one Arrow job fetches ``(url, text)``, and extraction stops at
    the first page whose rows take the total past ``SMALL_GRAPH_LIMIT``."""
    from .algos import smallgraph
    from .textrank import _token_rows_local

    texts = pages.select(
        F.col(url_col).alias("url"), F.col(text_col).alias("text")
    )
    threshold = (
        pages.sparkSession._jsparkSession.sessionState()
        .conf()
        .autoBroadcastJoinThreshold()
    )
    size = texts._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if threshold <= 0 or size > threshold:
        return None
    words = texts.agg(F.sum(F.regexp_count("text", F.lit(r"\S+")))).first()
    if (words[0] or 0) > smallgraph.SMALL_GRAPH_LIMIT:
        return None
    table = texts.toArrow()
    return _token_rows_local(
        table.column("url"),
        (
            preprocess_text(text, syntactic_categories, stop_words)
            for text in table.column("text").to_pylist()
        ),
    )


def explode_tokens(sentences: DataFrame, col: str = "tokens") -> DataFrame:
    """sentences -> (url, sent_id, pos, token) position-exploded rows."""
    return sentences.select(
        "url",
        "sent_id",
        F.posexplode(F.col(col)).alias("pos", "token"),
    )
