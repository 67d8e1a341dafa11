"""Structured Streaming surface: incremental ingestion of Common-Crawl
style page streams into the same operators the batch engine runs.

The reference is batch-only; this is the generalization the north rule's
"Common-Crawl-style web pages" input calls for when pages arrive
continuously (new WARC drops): the SAME zero-shuffle pair-generation and
fingerprint expressions feed ``readStream`` sources, so streaming and
batch stay semantically identical by construction (the streaming tests
assert availableNow-triggered results equal the batch operator on the
same files).

Design notes for the cluster:

* **Edge aggregation is a streaming stateful agg.** With an event-time
  column, edges are aggregated per ``window(warc_ts, ...)`` under a
  watermark — state is bounded and append-mode sinks work (each window's
  edge partial finalizes when the watermark passes). Periodic batch
  compaction of window partials into the global edge table is one
  ``groupBy(src,dst).sum`` — the classic lambda-free incremental build.
* **Streaming dedup is ``dropDuplicates`` on the fingerprint under the
  same watermark** — Spark keeps one state row per fingerprint within
  the watermark horizon, i.e. bounded memory at any corpus size.
* No new shuffle shapes: everything reuses the batch expressions
  (``graph.cooccurrence_pairs``, ``textstats.fingerprint_expr``), so the
  batch plans' properties carry over.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.textstats import fingerprint_expr, tokens_expr
from .graph import cooccurrence_pairs

__all__ = [
    "PAGES_SCHEMA",
    "stream_pages",
    "streaming_cooccurrence_edges",
    "streaming_dedup_pages",
    "streaming_token_stats",
    "streaming_sessionize",
    "streaming_minhash_candidates",
    "streaming_minhash_verified_writer",
    "streaming_minhash_dedup_sink",
    "streaming_pagerank_sink",
    "streaming_communities_sink",
]

# the north-rule input table shape (BASELINE.json input_hint)
PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages(
    spark: SparkSession,
    path: str,
    schema: str = PAGES_SCHEMA,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a drop directory of page files."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def streaming_cooccurrence_edges(
    pages: DataFrame,
    window: int = 2,
    text_col: str = "text",
    ts_col: str | None = "warc_ts",
    time_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Incremental weighted co-occurrence edge table.

    With ``ts_col``: (window, src, dst, weight) partials per event-time
    window under a watermark (append-compatible, bounded state). Without:
    the global running (src, dst, weight) aggregate (update/complete
    sinks). Pair generation is the batch zero-shuffle array path."""
    toks = pages.select(
        *([F.col(ts_col)] if ts_col else []),
        tokens_expr(text_col).alias("tokens"),
    )
    if ts_col:
        toks = toks.withWatermark(ts_col, watermark)
    pairs = cooccurrence_pairs(
        toks, window=window, extra_cols=[ts_col] if ts_col else None
    )
    pairs = pairs.select(
        *([F.col(ts_col)] if ts_col else []),
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
    )
    if ts_col:
        grouped = pairs.groupBy(
            F.window(ts_col, time_window).alias("time_window"), "src", "dst"
        )
    else:
        grouped = pairs.groupBy("src", "dst")
    return grouped.agg(F.count(F.lit(1)).cast("double").alias("weight"))


def streaming_dedup_pages(
    pages: DataFrame,
    text_col: str = "text",
    ts_col: str | None = "warc_ts",
    watermark: str = "24 hours",
) -> DataFrame:
    """First-seen page per content fingerprint (exact streaming dedup):
    one state row per fingerprint inside the watermark horizon."""
    fp = pages.withColumn("fp", fingerprint_expr(text_col))
    if ts_col:
        fp = fp.withWatermark(ts_col, watermark)
        return fp.dropDuplicatesWithinWatermark(["fp"])
    return fp.dropDuplicates(["fp"])


def _band_bucket_rows(
    pages: DataFrame,
    text_col: str,
    url_col: str,
    n: int,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(url, band, bucket): one row per (page, LSH band), all per-row
    column algebra — the per-document MinHash signature needs NO
    aggregation because a document's shingle set is an array expression
    over its own text (identical md5 family to functions/dedup.py, so
    streaming and batch bucket keys coincide bit-for-bit)."""
    toks = tokens_expr(text_col)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    grams = F.array_distinct(grams)

    def mh(b: int, r: int):
        salt = f"{b}:{r}:"
        return F.array_min(
            F.transform(grams, lambda g: F.md5(F.concat(F.lit(salt), g)))
        )

    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[mh(b, r) for r in range(rows_per_band)]
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return pages.select(
        F.col(url_col).cast("string").alias("url"),
        F.explode(keys).alias("bk"),
    ).select("url", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))


def streaming_minhash_candidates(
    pages: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    max_per_bucket: int = 64,
    timeout_minutes: float = 24 * 60.0,
) -> DataFrame:
    """Incremental MinHash-LSH near-duplicate CANDIDATE pairs over a page
    stream: ``(doc_a, doc_b, band)`` with doc_a < doc_b, emitted the
    moment the second member of a bucket collision arrives.

    Signatures/bucket keys are per-row column algebra (no streaming agg),
    so this composes as ONE stateful operator keyed by (band, bucket):
    state per bucket is the member list, capped at ``max_per_bucket``,
    plus a bounded FIFO set of seen-but-unadmitted urls (the streaming
    analogue of the batch ``max_shingle_freq`` guard). Saturation
    semantics, precisely: a url arriving at a FULL bucket still emits its
    pairs against the admitted members ONCE, is then remembered in the
    overflow set so re-arrivals don't re-emit, but is never admitted —
    pairs between two post-cap urls are NOT emitted (bounded-state recall
    loss on hot boilerplate buckets, by design). The overflow set is
    FIFO-bounded at ``4 * max_per_bucket``; a url evicted from it that
    re-arrives re-emits its member pairs (dedup downstream, same as the
    per-band duplicates). Buckets are evicted after ``timeout_minutes``
    of inactivity. A pair that collides in k bands is emitted up to k
    times (dedup downstream with the exact-verify join, exactly like the
    batch path). With an unsaturated cap, the emitted pair SET equals the
    batch ``minhash_lsh_pairs(verify_threshold=None)`` candidates.

    .. note:: **Checkpoint compatibility.** The state schema gained the
       ``overflow`` column (was ``members array<string>`` only). Spark's
       state-store schema check rejects a restart of an existing query
       from a pre-change checkpoint at startup — resume such queries
       from a FRESH checkpoint location (the operator is deterministic
       per bucket; replaying the source rebuilds state)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = _band_bucket_rows(
        pages, text_col, url_col, n, bands, rows_per_band
    )
    out_schema = "doc_a string, doc_b string, band long"
    state_schema = "members array<string>, overflow array<string>"
    overflow_cap = 4 * max_per_bucket

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        band = int(key[0])
        if state.hasTimedOut:
            state.remove()
            return
        urls: list[str] = []
        for pdf in pdf_iter:
            urls.extend(pdf["url"].tolist())
        if state.exists:
            members, overflow = (list(c) for c in state.get)
        else:
            members, overflow = [], []
        pairs = []
        for u in urls:
            if u in members or u in overflow:
                continue
            for v in members:
                a, b = (u, v) if u < v else (v, u)
                pairs.append((a, b, band))
            if len(members) < max_per_bucket:
                members.append(u)
            else:
                overflow.append(u)
                if len(overflow) > overflow_cap:
                    overflow.pop(0)
        state.update((members, overflow))
        state.setTimeoutDuration(int(timeout_minutes * 60 * 1000))
        if pairs:
            yield pd.DataFrame(
                pairs, columns=["doc_a", "doc_b", "band"]
            )

    return keyed.groupBy("band", "bucket").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_minhash_verified_writer(
    pages: DataFrame,
    docs_store: DataFrame,
    output_fn,
    text_col: str = "text",
    url_col: str = "url",
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    max_per_bucket: int = 64,
    verify_threshold: float = 0.7,
    store_id_col: str = "url",
    store_text_col: str = "text",
):
    """Stream-side verify stage for the MinHash-LSH candidates: candidate
    pairs from :func:`streaming_minhash_candidates` are exact-Jaccard
    verified per microbatch against a (static or periodically refreshed)
    page store via ``foreachBatch`` + the batch verify join
    (``dedup.exact_jaccard_for_pairs`` — the same expressions, so
    streaming-verified pairs equal ``minhash_lsh_pairs(verify_threshold=
    t)`` on the same corpus).

    ``output_fn(verified_df, batch_id)`` receives each microbatch's
    verified ``(doc_a, doc_b, jaccard)`` rows (already
    ``>= verify_threshold``); write them to the sink of your choice.
    Candidates are deduplicated WITHIN a microbatch (band collisions);
    a pair straddling two microbatches via different bands can be
    verified twice — sinks needing exactly-once should upsert on
    (doc_a, doc_b). Pairs whose members are missing from the store are
    dropped (verify again after the next store refresh).

    Returns the configured ``DataStreamWriter`` — call
    ``.trigger(...).start()`` (and manage checkpointLocation) yourself."""
    from .functions.dedup import exact_jaccard_for_pairs

    cands = streaming_minhash_candidates(
        pages,
        text_col=text_col,
        url_col=url_col,
        n=n,
        bands=bands,
        rows_per_band=rows_per_band,
        max_per_bucket=max_per_bucket,
    )

    def _verify(batch_df: DataFrame, batch_id: int) -> None:
        uniq = batch_df.select("doc_a", "doc_b").distinct()
        verified = exact_jaccard_for_pairs(
            uniq, docs_store, id_col=store_id_col,
            text_col=store_text_col, n=n,
        ).filter(F.col("jaccard") >= verify_threshold)
        output_fn(verified, batch_id)

    return cands.writeStream.foreachBatch(_verify).outputMode("append")


def streaming_minhash_dedup_sink(
    pages: DataFrame,
    docs_store: DataFrame,
    sink_dir: str,
    **kwargs,
):
    """Exactly-once parquet sink for the streaming MinHash verify stage —
    closes the cross-batch duplicate gap of
    :func:`streaming_minhash_verified_writer` (a pair can be re-emitted
    across microbatches: band collisions landing in different batches,
    or an overflow-evicted url re-arriving).

    Two standard mechanics compose to give exactly-once on plain
    parquet, no table format required:

    * **Cross-batch dedup**: each microbatch's verified pairs are
      anti-joined on ``(doc_a, doc_b)`` against the pairs already in the
      sink (prior batches' committed output). Microbatches are
      sequential per query, so single-writer read-then-append is safe.
      With an Iceberg/Delta sink this would be a ``MERGE``; the
      anti-join is the engine-neutral equivalent, and its cost scales
      with the sink (duplicate-pair table), not the corpus.
    * **Retry idempotence**: batch N writes ``mode=overwrite`` into its
      own partition directory ``<sink_dir>/batch_id=N``, so a failed and
      retried microbatch replaces its own partial output instead of
      appending twice. The current batch's own partition is excluded
      from the anti-join so a retry re-emits the full batch.

    Read the sink with ``spark.read.parquet(sink_dir)`` — rows are
    ``(doc_a, doc_b, jaccard)`` (+ the ``batch_id`` partition column),
    with each pair appearing exactly once.

    ``**kwargs`` pass through to
    :func:`streaming_minhash_verified_writer` (bands, thresholds, store
    columns...). Returns the configured writer — call
    ``.option("checkpointLocation", ...).trigger(...).start()``."""

    def _sink(verified: DataFrame, batch_id: int) -> None:
        spark = verified.sparkSession
        try:
            prior = spark.read.parquet(sink_dir).filter(
                F.col("batch_id") != batch_id
            ).select("doc_a", "doc_b")
        except Exception:  # first batch: sink directory not created yet
            prior = None
        fresh = verified.select("doc_a", "doc_b", "jaccard")
        if prior is not None:
            fresh = fresh.join(prior, ["doc_a", "doc_b"], "left_anti")
        fresh.write.mode("overwrite").parquet(
            f"{sink_dir}/batch_id={batch_id}"
        )

    return streaming_minhash_verified_writer(
        pages, docs_store, _sink, **kwargs
    )


def streaming_sessionize(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: float = 30.0,
    watermark: str = "1 hour",
    timeout_minutes: float = 60.0,
    timeout_mode: str = "processing",
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    gap-based sessionization of an event stream. A session for a key
    closes when no event arrives within ``gap_minutes`` of its last event
    — the canonical "operator Spark's built-ins can't express as a plain
    windowed agg" (session windows with per-key custom state and
    arbitrary per-session aggregates).

    How a quiet key's trailing session closes depends on
    ``timeout_mode``:

    * ``"processing"``: a wall-clock timeout of ``timeout_minutes`` after
      the key's last activity — simple, but a session on a quiet key
      closes when the OPERATOR has been idle, not when the data says the
      gap elapsed (replays close sessions at replay speed).
    * ``"event"``: an event-time timeout at ``session_end + gap`` — the
      session closes exactly when the WATERMARK passes its gap, i.e.
      deterministically from data time, independent of arrival order and
      wall clock (the usual session-window semantics). Requires the
      watermark (always set here).

    Emits one row per CLOSED session:
    ``(key, session_start, session_end, n_events, sum_value)``.
    State per key is one open session (bounded memory); the grouped Arrow
    batches keep the Python boundary vectorized."""
    import pandas as pd  # noqa: F401  (imported for the worker closure)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if timeout_mode not in ("processing", "event"):
        raise ValueError(f"unknown timeout_mode: {timeout_mode!r}")
    event_time = timeout_mode == "event"
    gap_ms = int(gap_minutes * 60 * 1000)
    out_schema = (
        f"key string, session_start timestamp, session_end timestamp, "
        f"n_events long, sum_value double"
    )
    state_schema = "start long, last long, n long, total double"

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        closed = []

        def flush(start, last, n, total):
            closed.append(
                (
                    key[0],
                    pd.Timestamp(start, unit="ms"),
                    pd.Timestamp(last, unit="ms"),
                    n,
                    total,
                )
            )

        if state.hasTimedOut:
            start, last, n, total = state.get
            flush(start, last, n, total)
            state.remove()
        else:
            rows = []
            for pdf in pdf_iter:
                ts_ms = (
                    pdf[ts_col].astype("int64") // 1_000_000
                )  # ns -> ms
                rows.append(
                    pd.DataFrame(
                        {"t": ts_ms, "v": pdf[value_col].astype("float64")}
                    )
                )
            batch = pd.concat(rows).sort_values("t")
            if state.exists:
                start, last, n, total = state.get
            else:
                start = last = int(batch["t"].iloc[0])
                n, total = 0, 0.0
            for t, v in zip(batch["t"], batch["v"]):
                t = int(t)
                if n > 0 and t - last > gap_ms:
                    flush(start, last, n, total)
                    start, n, total = t, 0, 0.0
                n += 1
                total += float(v)
                last = max(last, t)
                # a late-but-in-watermark event merging into an open
                # session can predate its recorded start
                start = min(start, t)
            state.update((start, last, n, total))
            if event_time:
                # close when the watermark passes the gap after the last
                # event; the timestamp must lead the current watermark
                state.setTimeoutTimestamp(
                    max(last + gap_ms, state.getCurrentWatermarkMs() + 1)
                )
            else:
                state.setTimeoutDuration(int(timeout_minutes * 60 * 1000))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "key", "session_start", "session_end", "n_events",
                    "sum_value",
                ],
            )

    keyed = events.withColumn(
        "key", F.col(key_col).cast("string")
    ).withWatermark(ts_col, watermark)
    grouped = keyed.groupBy("key")
    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if event_time
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def streaming_token_stats(
    pages: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    time_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-event-time-window corpus stats (pages, tokens, chars) — the
    monitoring rollup a continuous ingest pipeline alarms on."""
    return (
        pages.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, time_window).alias("time_window"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.size(tokens_expr(text_col))).alias("n_tokens"),
            F.sum(F.length(text_col)).alias("n_chars"),
        )
    )


def streaming_pagerank_sink(
    edge_stream: DataFrame,
    state_dir: str,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1.0e-6,
    **pr_kwargs,
):
    """Continuous PageRank over a growing crawl: each microbatch of
    ``(src, dst[, weight])`` link rows lands in a durable edge store,
    then PageRank re-runs over the FULL aggregated graph WARM-STARTED
    from the previous batch's converged scores — the crawl-delta
    recomputation pattern (``pagerank_result(init_scores=...)``): on a
    small delta the power iteration restarts next to its fixpoint and
    converges in fewer supersteps than a cold run (asserted by
    ``tests/test_pagerank.py``).

    Exactly-once mechanics follow :func:`streaming_minhash_dedup_sink`:
    batch N overwrites its own partition ``<state_dir>/edges/batch_id=N``
    (a retried microbatch replaces its partial output), and scores land
    in ``<state_dir>/scores/batch_id=N`` — the warm start reads the
    newest committed score partition, so a retry re-reads the same
    predecessor it did the first time. Read the current ranking with
    ``spark.read.parquet(f"{state_dir}/scores")`` filtered to the max
    ``batch_id``.

    Returns the configured writer — call
    ``.option("checkpointLocation", ...).trigger(...).start()``."""
    from . import fsutil
    from .algos.pagerank import pagerank_result

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = (
            F.col("weight").cast("double")
            if "weight" in batch_df.columns
            else F.lit(1.0)
        )
        batch_df.select("src", "dst", w.alias("weight")).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/edges/batch_id={batch_id}")
        all_edges = (
            spark.read.parquet(f"{state_dir}/edges")
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
        )
        init = None
        score_root = f"{state_dir}/scores"
        # prior-state discovery via the Hadoop FileSystem API: with
        # state_dir on HDFS/S3 (the normal deployment) an os.listdir of
        # the driver's local disk would silently return nothing and
        # every batch would cold-start
        prior = [
            int(name.split("=", 1)[1])
            for name in fsutil.list_dir(spark, score_root)
            if name.startswith("batch_id=")
        ]
        prior = [b for b in prior if b != batch_id]
        if prior:
            init = spark.read.parquet(
                f"{score_root}/batch_id={max(prior)}"
            ).select(F.col("vertex").alias("id"), "rank")
        res, _n = pagerank_result(
            all_edges,
            alpha=alpha,
            max_iter=max_iter,
            tol=tol,
            init_scores=init,
            **pr_kwargs,
        )
        res.state.select("vertex", "rank").write.mode("overwrite").parquet(
            f"{score_root}/batch_id={batch_id}"
        )

    return edge_stream.writeStream.foreachBatch(_sink).outputMode("append")


def streaming_communities_sink(
    edge_stream: DataFrame,
    state_dir: str,
    max_rounds: int = 30,
    seed: str = "stream-louvain",
):
    """Continuous community tracking over a growing crawl: each
    microbatch of ``(src, dst[, weight])`` rows lands in the same
    batch_id-partitioned edge store as
    :func:`streaming_pagerank_sink`, then ONE Louvain move phase runs
    over the full aggregated graph WARM-STARTED from the previous
    batch's assignment — the incremental-community pattern (tested in
    test_algos.py: a warm start on a delta converges in a fraction of
    the cold rounds at equal modularity). Vertices first seen in this
    batch enter as singletons; the per-batch md5 gate seed is
    ``{seed}:{batch_id}`` so re-runs of a batch are bit-identical.

    Assignments land in ``<state_dir>/communities/batch_id=N``
    (overwrite per partition — retry-idempotent, same exactly-once
    mechanics as the engine's other streaming sinks)."""
    from . import fsutil
    from .algos.louvain import louvain_move_phase

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = (
            F.col("weight").cast("double")
            if "weight" in batch_df.columns
            else F.lit(1.0)
        )
        batch_df.select("src", "dst", w.alias("weight")).write.mode(
            "overwrite"
        ).parquet(f"{state_dir}/edges/batch_id={batch_id}")
        all_edges = (
            spark.read.parquet(f"{state_dir}/edges")
            .groupBy("src", "dst")
            .agg(F.sum("weight").alias("weight"))
        )
        verts = (
            all_edges.select(F.col("src").alias("vertex"))
            .unionByName(all_edges.select(F.col("dst").alias("vertex")))
            .distinct()
        )
        init = None
        root = f"{state_dir}/communities"
        # same Hadoop-FS discovery rationale as the PageRank sink
        prior = [
            int(name.split("=", 1)[1])
            for name in fsutil.list_dir(spark, root)
            if name.startswith("batch_id=")
        ]
        prior = [b for b in prior if b != batch_id]
        if prior:
            last = spark.read.parquet(f"{root}/batch_id={max(prior)}")
            # new vertices enter as singletons (init must be a COMPLETE
            # assignment over the current vertex set)
            init = verts.join(last, "vertex", "left").select(
                "vertex",
                F.coalesce("community", "vertex").alias("community"),
            )
        comm, _rounds, _conv, _ms = louvain_move_phase(
            all_edges,
            init=init,
            max_rounds=max_rounds,
            seed=f"{seed}:{batch_id}",
        )
        comm.select("vertex", "community").write.mode("overwrite").parquet(
            f"{root}/batch_id={batch_id}"
        )

    return edge_stream.writeStream.foreachBatch(_sink).outputMode("append")
