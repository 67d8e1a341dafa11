"""Co-occurrence edge builder + generic edge-table utilities.

Re-expresses the reference's windowed co-occurrence graph construction
(``core.py:325-539``) as a shuffle-minimal DataFrame program:

* Pair generation is done **inside each sentence row** with higher-order
  array functions (``transform``/``slice``/``flatten``) — no positional
  self-join, no shuffle, full whole-stage codegen. A sentence of length L
  with window w emits <= L*w forward pairs.
* Vertex-set membership filtering (the reference filters neighbours *after*
  windowing against the syntactically-accepted token set, ``core.py:349-351``)
  is two semi-joins against the distinct filtered-token table; Spark
  broadcasts it when small (vocab tables almost always are relative to the
  token stream), else AQE picks a shuffle join.
* Dedup to the undirected edge set is a single ``distinct`` shuffle — the
  only unavoidable one; it is also where 100x scale survives, since
  cardinality drops from O(token stream) to O(vocab^2 cap).

Semantics checked against the reference:
- window counted on the *original* normalized context when
  ``conn_with_original_ctx=True`` (default), else on the filtered context
  (``core.py:424-427``);
- neighbours failing the syntactic filter are discarded post-windowing
  (two keywords <= w tokens of ANY kind apart are linked);
- duplicate co-occurrences collapse to one undirected edge of weight 1.0
  (``core.py:353, 523-539``); self-loops are kept;
- isolated filtered tokens are still vertices (``core.py:422, 512-514``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cooccurrence_edges",
    "cooccurrence_pairs",
    "vertices_from_sentences",
    "symmetrize",
    "canonicalize",
    "encode_vertices",
    "decode_scores",
    "materialize_input",
]


def materialize_input(edges: DataFrame, *cols: str):
    """Project ``edges`` to ``cols`` and persist the projection — UNLESS
    the input DataFrame is itself already cached.

    The iterative solvers derive several setup frames from their edge
    input (vertex universe, out-degrees, adjacency); when the input's
    lineage is an expensive pipeline (MinHash candidates, link
    extraction, the tokenizer), every derivation re-traverses it — ~10
    AQE stage-jobs per traversal — and racing broadcast-subplan builds
    in the first superstep can traverse it again. One narrow cached
    projection makes every derivation a cache scan.

    The cache is filled lazily, by the caller's first action: on the
    driver path that is ``smallgraph.fetch``, the one job that runs the
    input's plan; when the fetch declines (too many edges), the
    DataFrame path's setup actions read the cache that job filled (and
    fill any partition still missing). An eager ``count()`` here would
    run the input's plan once more before the fetch. Callers must
    ``unpersist()`` the returned frame (a no-op if it wasn't persisted
    here) once their own cached frames are filled.

    Skipped when the caller already persisted the input: a second copy
    would only add cache-write cost."""
    proj = edges.select(*cols)
    lvl = edges.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return proj
    return proj.persist()


def vertices_from_sentences(sentences: DataFrame) -> DataFrame:
    """Vertex universe = distinct filtered tokens (``core.py:422``)."""
    return (
        sentences.select(
            F.explode(F.transform("filtered", lambda x: x["token"])).alias("id")
        )
        .distinct()
    )


def cooccurrence_pairs(
    sentences: DataFrame,
    window: int = 2,
    conn_with_original_ctx: bool = True,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """All forward co-occurrence pair *events* (one row per occurrence):
    ``(src, dst)`` with ``dst`` 1..window positions after ``src`` in the
    chosen context. Zero-shuffle: pairs are generated per row from the token
    array. ``extra_cols`` carries grouping columns (e.g. a doc id for
    per-document graphs) through the explode."""
    ctx = (
        F.col("tokens")
        if conn_with_original_ctx
        else F.transform("filtered", lambda x: x["token"])
    )
    pairs = F.flatten(
        F.transform(
            ctx,
            # slice() is 1-based; element i (0-based) pairs with the next
            # `window` elements. slice start past the end returns [].
            lambda x, i: F.transform(
                F.slice(ctx, i + 2, window),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    extra = list(extra_cols or [])
    return sentences.select(*extra, F.explode(pairs).alias("p")).select(
        *extra, F.col("p.src").alias("src"), F.col("p.dst").alias("dst")
    )


def cooccurrence_edges(
    sentences: DataFrame,
    window: int = 2,
    conn_with_original_ctx: bool = True,
    weighted: bool = False,
    directed: bool = False,
) -> DataFrame:
    """The reference graph's edge table ``(src, dst, weight)``.

    ``weighted=False`` (reference parity, ``core.py:523-539``): undirected
    distinct edges, canonical ``src <= dst``, weight 1.0.
    ``weighted=True`` (the generalized engine): weight = number of
    co-occurrence events for the pair.
    """
    vertices = vertices_from_sentences(sentences).persist()
    pairs = cooccurrence_pairs(sentences, window, conn_with_original_ctx)
    # Keep pairs where both endpoints are accepted vertices. The "src side
    # must be a vertex" check and the reference's post-window neighbour
    # filter (core.py:349-351) are symmetric for forward pairs.
    pairs = pairs.join(
        vertices.hint("broadcast"), pairs["src"] == vertices["id"], "left_semi"
    )
    pairs = pairs.join(
        vertices.hint("broadcast"), pairs["dst"] == vertices["id"], "left_semi"
    )
    if not directed:
        pairs = pairs.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
    if weighted:
        edges = pairs.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("double").alias("weight")
        )
    else:
        edges = pairs.distinct().withColumn("weight", F.lit(1.0))
    return edges


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected -> directed expansion for the iterative solvers: each
    non-self-loop edge in both orientations, self-loops once (this matches
    networkx's adjacency of an undirected graph, where a self-loop
    contributes its weight once to the row sum)."""
    rev = edges.filter(F.col("src") != F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    return edges.unionByName(rev)


def encode_vertices(
    edges: DataFrame,
    extra_vertices: DataFrame | None = None,
    order_preserving: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encode string vertex ids to dense longs:
    returns (edges_encoded(src, dst, weight), dict(id, token)).

    At web scale the superstep loops shuffle the rank vector every
    iteration; 8-byte longs shuffle ~5-10x less than URL/token strings and
    hash-partition without skew from common prefixes. The dictionary is a
    one-time zipWithIndex-free build: xxhash64 would risk collisions at
    10^12 vertices, so ids come from a window-free ``monotonically
    increasing id over a distinct scan`` (dense within partition,
    partition-offset bits above), which is collision-free and needs no
    global sort. The dictionary is localCheckpoint-ed: monotonically
    increasing ids are only deterministic for a fixed partitioning, so the
    mapping must never be silently recomputed mid-job.

    ``extra_vertices`` (one column ``id``) adds isolated vertices to the
    dictionary so solvers that accept a vertex universe can encode it too.

    ``order_preserving=True`` assigns ids monotone in the string order
    (distributed range-partitioned sort + zipWithIndex — one extra sort
    shuffle, one time), so min-id / smallest-label tie-breaks on encoded
    ids are IDENTICAL to the string semantics — required for solvers
    whose dynamics depend on label order (LPA); hash-min CC and PageRank
    don't need it.
    """
    tokens = edges.select(F.col("src").alias("token")).unionByName(
        edges.select(F.col("dst").alias("token"))
    )
    if extra_vertices is not None:
        tokens = tokens.unionByName(
            extra_vertices.select(F.col("id").alias("token"))
        )
    tokens = tokens.distinct()
    if order_preserving:
        from pyspark.sql.types import LongType, StructField, StructType

        spark = edges.sparkSession
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # JVM range-partitioned sort, then dense ids = per-partition
        # prefix offset + vectorized arange inside Arrow batches. The
        # sorted table is localCheckpoint-ed FIRST because range
        # partitioning samples its bounds (not re-run-stable): the
        # offsets job and the id-assignment job must read the same
        # materialized partitions.
        srt = (
            tokens.repartitionByRange(n_parts, "token")
            .sortWithinPartitions("token")
            .withColumn("pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        counts = {
            r["pid"]: r["cnt"]
            for r in srt.groupBy("pid")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        offsets = {}
        acc = 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]

        schema = StructType(
            [
                StructField("token", tokens.schema["token"].dataType),
                StructField("id", LongType()),
            ]
        )

        def assign(batches):
            import pandas as pd

            offset = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if offset is None:
                    offset = offsets[int(pdf["pid"].iloc[0])]
                yield pd.DataFrame(
                    {
                        "token": pdf["token"],
                        "id": range(offset, offset + len(pdf)),
                    }
                )
                offset += len(pdf)

        tokens = srt.mapInPandas(assign, schema)
    else:
        tokens = tokens.withColumn("id", F.monotonically_increasing_id())
    tokens = tokens.localCheckpoint(eager=True)
    enc = (
        edges.join(
            tokens.select(F.col("token").alias("src"), F.col("id").alias("src_id")),
            "src",
        )
        .join(
            tokens.select(F.col("token").alias("dst"), F.col("id").alias("dst_id")),
            "dst",
        )
        .select(
            F.col("src_id").alias("src"),
            F.col("dst_id").alias("dst"),
            "weight",
        )
    )
    return enc, tokens.select("id", "token")


def decode_scores(
    scores: DataFrame, vertex_dict: DataFrame, id_col: str = "vertex"
) -> DataFrame:
    """Join long vertex ids back to their tokens after a solver run."""
    return scores.join(
        vertex_dict.withColumnRenamed("id", id_col), id_col
    ).drop(id_col).withColumnRenamed("token", id_col)


def canonicalize(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Directed/mixed edge rows -> canonical undirected ``src <= dst``."""
    out = edges.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        "weight",
    )
    if dedup:
        out = out.groupBy("src", "dst").agg(F.max("weight").alias("weight"))
    return out
