"""Public API mirroring the reference entry points
(/root/reference/jgtextrank/core.py:948, 1132, 1336, 1528) on DataFrames.

Every function returns a DataFrame ``(term, score)`` ordered by score desc
(ties by term asc — deterministic where the reference inherits dict order).
Input contracts:

* ``keywords_extraction``            — one raw text string (driver-side
  convenience; builds a 1-row pages DataFrame).
* ``keywords_extraction_from_pages`` — pages DataFrame
  ``(url, text, ...)`` — THE scale path. A page set small enough for
  Spark to collect to the driver, with no more words than the TextRank
  driver path takes, is extracted there, with no Python worker.
* ``keywords_extraction_from_segmented_corpus`` — pre-tokenized contexts
  ``(doc_id, ctx_id, tokens array<string>)``.
* ``keywords_extraction_from_tagged_corpus`` — pre-tagged contexts
  ``(doc_id, ctx_id, tagged array<struct<token,tag>>)`` — the
  deterministic correctness anchor (no tokenizer variance).
* ``keywords_extraction_from_corpus_directory`` — directory of .txt files,
  one document per file (reference ``utility.py:63-98``).
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus import build_sentences, page_token_rows, sentences_from_tagged
from .extract import DEFAULT_SYNTACTIC_CATEGORIES, rule_pos_tag
from .graph import cooccurrence_edges, vertices_from_sentences
from .textrank import keywords_from_sentences, keywords_from_token_rows

__all__ = [
    "keywords_extraction",
    "keywords_extraction_from_pages",
    "keywords_extraction_from_segmented_corpus",
    "keywords_extraction_from_tagged_corpus",
    "keywords_extraction_from_corpus_directory",
    "build_cooccurrence_graph",
]


def keywords_extraction_from_pages(
    pages: DataFrame,
    syntactic_categories: Iterable[str] = DEFAULT_SYNTACTIC_CATEGORIES,
    stop_words: Iterable[str] | None = None,
    text_col: str = "text",
    url_col: str = "url",
    **pipeline_kwargs,
) -> DataFrame:
    """A page set that Spark would collect to the driver (its ``(url,
    text)`` size estimate fits under ``spark.sql.autoBroadcastJoinThreshold``)
    and whose word count does not pass ``SMALL_GRAPH_LIMIT`` is extracted in
    the driver process (``corpus.page_token_rows``), and its token rows go
    straight to the TextRank driver path. Larger page sets, more than
    ``SMALL_GRAPH_LIMIT`` token rows, rows that path declines and options
    it does not take run the extract UDF and the DataFrame path. Spark has
    no size estimate for a frame built from a Python list, so such a frame
    takes the UDF path."""
    return keywords_from_token_rows(
        pages.sparkSession,
        lambda: page_token_rows(
            pages, syntactic_categories, stop_words, text_col, url_col
        ),
        lambda: build_sentences(
            pages,
            syntactic_categories=syntactic_categories,
            stop_words=stop_words,
            text_col=text_col,
            url_col=url_col,
        ),
        **pipeline_kwargs,
    )


def keywords_extraction(
    spark: SparkSession,
    text: str,
    **kwargs,
) -> DataFrame:
    # from pandas, the frame is a local relation whose size Spark knows,
    # so the text is extracted on the driver
    pages = spark.createDataFrame(
        pd.DataFrame({"url": ["text-0"], "text": [text]}),
        "url string, text string",
    )
    return keywords_extraction_from_pages(pages, **kwargs)


def keywords_extraction_from_segmented_corpus(
    segmented: DataFrame,
    doc_col: str = "doc_id",
    ctx_col: str = "ctx_id",
    tokens_col: str = "tokens",
    syntactic_categories: Iterable[str] = DEFAULT_SYNTACTIC_CATEGORIES,
    stop_words: Iterable[str] | None = None,
    **pipeline_kwargs,
) -> DataFrame:
    """Pre-segmented path (reference core.py:1132-1303): caller supplies
    token contexts; we PoS-tag with the deterministic rule tagger (the
    reference uses NLTK here), then run the common pipeline."""
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )

    tag_schema = ArrayType(
        StructType(
            [
                StructField("token", StringType()),
                StructField("tag", StringType()),
            ]
        )
    )

    @F.pandas_udf(tag_schema)
    def _tag(tokens: pd.Series) -> pd.Series:
        return pd.Series(
            [rule_pos_tag(list(t)) if t is not None else [] for t in tokens]
        )

    tagged = segmented.select(
        F.col(doc_col).alias("url"),
        F.col(ctx_col).cast("long").alias("sent_id"),
        _tag(F.col(tokens_col)).alias("tagged"),
    )
    sentences = sentences_from_tagged(
        tagged,
        syntactic_categories=syntactic_categories,
        stop_words=stop_words,
        doc_col="url",
        ctx_col="sent_id",
        normalized=False,
    )
    return keywords_from_sentences(sentences, **pipeline_kwargs)


def keywords_extraction_from_tagged_corpus(
    tagged: DataFrame,
    doc_col: str = "doc_id",
    ctx_col: str = "ctx_id",
    tagged_col: str = "tagged",
    syntactic_categories: Iterable[str] = DEFAULT_SYNTACTIC_CATEGORIES,
    stop_words: Iterable[str] | None = None,
    **pipeline_kwargs,
) -> DataFrame:
    sentences = sentences_from_tagged(
        tagged,
        syntactic_categories=syntactic_categories,
        stop_words=stop_words,
        doc_col=doc_col,
        ctx_col=ctx_col,
        tagged_col=tagged_col,
        normalized=False,
    )
    return keywords_from_sentences(sentences, **pipeline_kwargs)


def keywords_extraction_from_corpus_directory(
    spark: SparkSession,
    dirname: str,
    encoding: str = "utf-8",
    **kwargs,
) -> DataFrame:
    """Directory of text files -> keywords (reference utility.py:63-98 +
    core.py:1528). One document per file; file path becomes the url."""
    pages = (
        # NB: wholetext must be the text() kwarg — as a reader .option()
        # it is silently ignored and files split into one row per line
        spark.read.text(dirname, wholetext=True)
        .select(
            F.input_file_name().alias("url"), F.col("value").alias("text")
        )
    )
    return keywords_extraction_from_pages(pages, **kwargs)


def build_cooccurrence_graph(
    sentences: DataFrame,
    window: int = 2,
    conn_with_original_ctx: bool = True,
    weighted: bool = False,
    directed: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(vertices, edges) mirror of reference build_cooccurrence_graph
    (core.py:469-520) over the sentences shape.

    ``directed=True`` mirrors core.py:516-517 (``to_directed()``): the
    undirected edge set expanded to reciprocal arcs (each non-self edge
    in both orientations, self-loops once) — NOT text-order arcs; for
    those use ``graph.cooccurrence_edges(directed=True)``."""
    from .graph import symmetrize

    vertices = vertices_from_sentences(sentences)
    edges = cooccurrence_edges(
        sentences,
        window=window,
        conn_with_original_ctx=conn_with_original_ctx,
        weighted=weighted,
    )
    if directed:
        edges = symmetrize(edges)
    return vertices, edges
