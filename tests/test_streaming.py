"""Structured Streaming surface: availableNow-triggered streaming results
must equal the batch operators on the same files (same expressions by
construction; these tests pin it)."""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import functions as F

from jgtextrank_spark.streaming import (
    stream_pages,
    streaming_cooccurrence_edges,
    streaming_dedup_pages,
    streaming_token_stats,
)

T0 = dt.datetime(2024, 1, 1, 10, 0, 0)


def _pages_rows():
    return [
        ("u1", T0, b"<html>", "linear constraints over numbers", "en"),
        ("u2", T0 + dt.timedelta(minutes=10), b"<html>",
         "minimal set of solutions", "en"),
        # exact duplicate content of u1, later
        ("u3", T0 + dt.timedelta(minutes=20), b"<html>",
         "Linear constraints over numbers!", "en"),
        ("u4", T0 + dt.timedelta(hours=2), b"<html>",
         "minimal generating sets", "en"),
    ]


def _write_pages(spark, tmp_path):
    path = str(tmp_path / "pages_stream")
    spark.createDataFrame(
        _pages_rows(),
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    ).write.parquet(path)
    return path


def _finish(q, timeout=180):
    """Wait for ``q`` to finish its input, then stop it. A query whose
    state has processing-time timeouts never terminates under
    ``availableNow``: once the input is processed Spark keeps running
    batches without input rows to check the timeouts. A second such
    batch therefore means the query has done all its work. A query that
    needs a batch without input (an event-time flush) runs at most one
    and then terminates by itself."""
    deadline = time.monotonic() + timeout
    try:
        while not q.awaitTermination(0.5) and time.monotonic() < deadline:
            idle = {p.batchId for p in q.recentProgress if p.numInputRows == 0}
            if len(idle) >= 2:
                break
    finally:
        q.stop()


def _run(spark, df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    _finish(q)
    return spark.table(name)


def test_streaming_edges_match_batch(spark, tmp_path):
    path = _write_pages(spark, tmp_path)
    pages = stream_pages(spark, path)
    got = _run(
        spark,
        streaming_cooccurrence_edges(pages, window=2),
        "stream_edges",
        "complete",
    )
    batch = spark.read.parquet(path)
    from jgtextrank_spark.streaming import streaming_cooccurrence_edges as _e

    want = _e(batch, window=2)  # same code path works on a batch df
    g = {
        (r["time_window"], r["src"], r["dst"], r["weight"])
        for r in got.collect()
    }
    w = {
        (r["time_window"], r["src"], r["dst"], r["weight"])
        for r in want.collect()
    }
    assert g == w and len(g) > 0


def test_streaming_dedup_first_seen(spark, tmp_path):
    path = _write_pages(spark, tmp_path)
    pages = stream_pages(spark, path)
    got = _run(
        spark, streaming_dedup_pages(pages), "stream_dedup", "append"
    )
    # u3 normalizes to u1's fingerprint ('!' stripped, lowercased)
    urls = {r["url"] for r in got.collect()}
    assert "u1" in urls or "u3" in urls
    assert not {"u1", "u3"} <= urls  # only one survivor of the dup pair
    assert {"u2", "u4"} <= urls


def test_streaming_token_stats(spark, tmp_path):
    path = _write_pages(spark, tmp_path)
    pages = stream_pages(spark, path)
    got = _run(
        spark,
        streaming_token_stats(pages, time_window="1 hour"),
        "stream_stats",
        "complete",
    )
    rows = {
        r["time_window"]["start"]: (r["n_pages"], r["n_tokens"])
        for r in got.collect()
    }
    assert rows[T0] == (3, 4 + 4 + 4)
    assert rows[T0 + dt.timedelta(hours=2)] == (1, 3)


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: gap-based session
    windows with per-key state. Sessions separated by more than the gap
    INSIDE the stream close and emit; trailing open sessions stay in
    state (closed later by the processing-time timeout on a live
    stream)."""
    from jgtextrank_spark.streaming import streaming_sessionize

    rows = [
        ("u1", T0, 1.0),
        ("u1", T0 + dt.timedelta(minutes=5), 2.0),
        # > 10-minute gap -> first session closes
        ("u1", T0 + dt.timedelta(minutes=60), 4.0),
        ("u1", T0 + dt.timedelta(minutes=62), 8.0),
        ("u2", T0, 16.0),  # single open session, must NOT emit
    ]
    path = str(tmp_path / "events_stream")
    spark.createDataFrame(
        rows, "user_id string, ts timestamp, value double"
    ).write.parquet(path)
    ev = (
        spark.readStream.schema("user_id string, ts timestamp, value double")
        .parquet(path)
    )
    got = _run(
        spark,
        streaming_sessionize(ev, gap_minutes=10),
        "stream_sessions",
        "append",
    )
    sessions = {
        (r["key"], r["session_start"], r["n_events"], r["sum_value"])
        for r in got.collect()
    }
    assert sessions == {("u1", T0, 2, 3.0)}


def test_streaming_minhash_candidates_match_batch(spark, tmp_path):
    """Incremental LSH candidates == the batch minhash_lsh_pairs
    candidate set (same md5 family, per-row signatures) on the same
    corpus, modulo per-band duplicates."""
    from jgtextrank_spark.functions.dedup import minhash_lsh_pairs
    from jgtextrank_spark.streaming import streaming_minhash_candidates

    texts = {
        "d1": "the quick brown fox jumps over the lazy dog again today",
        "d2": "the quick brown fox jumps over the lazy dog again now",
        "d3": "completely different content about spark streaming state",
        "d4": "the quick brown fox jumps over the lazy dog again today",
    }
    path = str(tmp_path / "mh_pages")
    spark.createDataFrame(
        [(k, dt.datetime(2024, 1, 1), b"", v, "en") for k, v in texts.items()],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    ).write.parquet(path)

    pages = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"
    ).parquet(path)
    got = _run(
        spark,
        streaming_minhash_candidates(pages, bands=8, rows_per_band=2),
        "stream_mh",
        "append",
    )
    stream_pairs = {(r["doc_a"], r["doc_b"]) for r in got.collect()}

    batch_docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id string, text string"
    )
    batch_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(
            batch_docs, bands=8, rows_per_band=2, verify_threshold=None
        ).collect()
    }
    assert stream_pairs == batch_pairs
    assert ("d1", "d4") in stream_pairs  # exact dup always collides
    assert not any("d3" in p for p in stream_pairs)


def test_streaming_edges_running_total(spark, tmp_path):
    """No event-time column: global running (src, dst, weight) aggregate."""
    path = _write_pages(spark, tmp_path)
    pages = stream_pages(spark, path)
    got = _run(
        spark,
        streaming_cooccurrence_edges(pages, window=2, ts_col=None),
        "stream_edges_global",
        "complete",
    )
    g = {(r["src"], r["dst"], r["weight"]) for r in got.collect()}
    batch = spark.read.parquet(path)
    want = streaming_cooccurrence_edges(batch, window=2, ts_col=None)
    w = {(r["src"], r["dst"], r["weight"]) for r in want.collect()}
    assert g == w and len(g) > 0
    assert ("constraints", "linear", 1.0) in g  # raw tokens, not lowercased
    assert F is not None


def test_streaming_minhash_verified_matches_batch(spark, tmp_path):
    """Stream-side verify stage (foreachBatch + exact_jaccard_for_pairs):
    streaming pairs-above-threshold == minhash_lsh_pairs(verify_threshold)
    on the same corpus."""
    from jgtextrank_spark.functions.dedup import minhash_lsh_pairs
    from jgtextrank_spark.streaming import streaming_minhash_verified_writer

    texts = {
        "d1": "the quick brown fox jumps over the lazy dog again today",
        "d2": "the quick brown fox jumps over the lazy dog again now",
        "d3": "completely different content about spark streaming state",
        "d4": "the quick brown fox jumps over the lazy dog again today",
    }
    path = str(tmp_path / "mhv_pages")
    spark.createDataFrame(
        [(k, dt.datetime(2024, 1, 1), b"", v, "en") for k, v in texts.items()],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    ).write.parquet(path)
    store = spark.read.parquet(path)

    pages = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"
    ).parquet(path)
    got: set = set()
    writer = streaming_minhash_verified_writer(
        pages,
        store,
        output_fn=lambda df, bid: got.update(
            (r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()
        ),
        bands=8,
        rows_per_band=2,
        verify_threshold=0.5,
    )
    q = writer.trigger(availableNow=True).start()
    _finish(q)

    batch_docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id string, text string"
    )
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            batch_docs, bands=8, rows_per_band=2, verify_threshold=0.5
        ).collect()
    }
    assert got == want and len(got) > 0
    assert ("d1", "d4", 1.0) in got  # exact dup verifies at jaccard 1


def test_streaming_minhash_saturation_no_reemission(spark, tmp_path):
    """A url hitting a FULL bucket emits its member pairs once, is
    remembered in the bounded overflow set, and a later re-arrival of the
    same url does NOT re-emit (ADVICE round 2); pairs between two
    post-cap urls are not emitted."""
    from jgtextrank_spark.streaming import streaming_minhash_candidates

    same = "the quick brown fox jumps over the lazy dog again today"
    f1 = str(tmp_path / "sat" / "f1.parquet")
    f2 = str(tmp_path / "sat" / "f2.parquet")
    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"
    )
    spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1), b"", same, "en")
         for u in ("d1", "d2", "d3")],
        schema,
    ).coalesce(1).write.parquet(f1)
    import time as _t
    _t.sleep(1.1)  # distinct mtime: f1's batch must replay before f2's
    spark.createDataFrame(
        [("d2", dt.datetime(2024, 1, 1, 1), b"", same, "en")], schema
    ).coalesce(1).write.parquet(f2)

    pages = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "sat" / "*"))
    )
    got = _run(
        spark,
        streaming_minhash_candidates(
            pages, bands=4, rows_per_band=2, max_per_bucket=1
        ),
        "stream_mh_sat",
        "append",
    )
    rows = [(r["doc_a"], r["doc_b"], r["band"]) for r in got.collect()]
    # cap=1: only d1 admitted; d2/d3 each pair with d1 once per band;
    # (d2, d3) never pairs (both post-cap); d2's re-arrival emits nothing
    assert set(rows) == {
        ("d1", "d2", b) for b in range(4)
    } | {("d1", "d3", b) for b in range(4)}
    assert len(rows) == len(set(rows))  # no duplicate emissions


def test_streaming_minhash_dedup_sink_exactly_once(spark, tmp_path):
    """Cross-batch duplicate closure (NOTES round-3 gap): an overflow-
    evicted url re-arriving in a later microbatch re-emits its pairs,
    but the dedup sink's anti-join keeps each (doc_a, doc_b) exactly
    once in the parquet sink; reprocessing the whole stream from a fresh
    checkpoint (same batch ids) leaves the sink unchanged (per-batch
    partition overwrite)."""
    from jgtextrank_spark.streaming import streaming_minhash_dedup_sink

    same = "the quick brown fox jumps over the lazy dog again today"
    schema = (
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"
    )
    base = tmp_path / "mds"
    # batch 1: a admitted (cap=1); b..f overflow (emit vs a); FIFO cap
    # 4*1 evicts b once c,d,e,f arrive
    spark.createDataFrame(
        [(u, dt.datetime(2024, 1, 1), b"", same, "en")
         for u in ("a", "b", "c", "d", "e", "f")],
        schema,
    ).coalesce(1).write.parquet(str(base / "f1.parquet"))
    import time as _t
    _t.sleep(1.1)
    # batch 2: b re-arrives -> re-emits (a, b)
    spark.createDataFrame(
        [("b", dt.datetime(2024, 1, 1, 1), b"", same, "en")], schema
    ).coalesce(1).write.parquet(str(base / "f2.parquet"))

    store = spark.createDataFrame(
        [(u, same) for u in "abcdef"], "url string, text string"
    )
    sink = str(tmp_path / "mds_sink")

    def run(ckpt):
        pages = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(base / "*"))
        )
        q = (
            streaming_minhash_dedup_sink(
                pages, store, sink,
                bands=4, rows_per_band=2, max_per_bucket=1,
                verify_threshold=0.5,
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        _finish(q)

    run("ck1")
    rows = [
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in spark.read.parquet(sink).collect()
    ]
    want = {("a", x, 1.0) for x in "bcdef"}
    assert set(rows) == want
    assert len(rows) == len(want)  # (a, b) exactly once despite re-emit

    # full reprocess, fresh checkpoint: same batch ids overwrite their
    # own partitions; sink content is unchanged
    run("ck2")
    rows2 = [
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in spark.read.parquet(sink).collect()
    ]
    assert sorted(rows2) == sorted(rows)


def _write_session_files(spark, base, batches):
    """One parquet dir per micro-batch, mtime-ordered so the file source
    (maxFilesPerTrigger=1) replays them in sequence."""
    import os
    import time

    schema = "user_id string, ts timestamp, value double"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(base / f"b{i}.parquet")
        )
        time.sleep(1.1)  # distinct mtimes -> deterministic replay order
    return str(base / "*")


def test_streaming_sessionize_event_time(spark, tmp_path):
    """EventTimeTimeout: a quiet key's session closes when the WATERMARK
    passes session_end + gap — deterministically from data time — and the
    closed-session set is invariant to arrival order within the
    watermark."""
    from jgtextrank_spark.streaming import streaming_sessionize

    u1 = [
        ("u1", T0, 1.0),
        ("u1", T0 + dt.timedelta(minutes=5), 2.0),
    ]
    # sentinels on another key, far enough ahead to drag the watermark
    # (1 hour) past u1's last event + gap (10 min)
    s1 = [("z", T0 + dt.timedelta(hours=3), 0.0)]
    s2 = [("z", T0 + dt.timedelta(hours=4), 0.0)]

    def run(order, name):
        base = tmp_path / name
        base.mkdir()
        glob = _write_session_files(spark, base, order)
        ev = (
            spark.readStream.schema(
                "user_id string, ts timestamp, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
        )
        got = _run(
            spark,
            streaming_sessionize(
                ev, gap_minutes=10, timeout_mode="event", watermark="1 hour"
            ),
            f"stream_sessions_{name}",
            "append",
        )
        return {
            (r["key"], r["session_start"], r["session_end"], r["n_events"],
             r["sum_value"])
            for r in got.collect()
        }

    want = {
        ("u1", T0, T0 + dt.timedelta(minutes=5), 2, 3.0),
        # the sentinel key's first session closes via the in-batch gap
        # when its second sentinel arrives
        ("z", T0 + dt.timedelta(hours=3), T0 + dt.timedelta(hours=3), 1, 0.0),
    }
    got_a = run([u1, s1, s2], "a")
    assert got_a == want
    # shuffled arrival: u1's two events split across batches, reversed
    got_b = run([[u1[1]], [u1[0]] + s1, s2], "b")
    assert got_b == want


def test_streaming_pagerank_warm_equals_batch(spark, tmp_path):
    """Two-microbatch streamed edge feed == batch PageRank on the union,
    and the second (warm-started) run takes fewer supersteps than a
    cold run on the same graph."""
    import json

    from jgtextrank_spark.algos.pagerank import pagerank_result
    from jgtextrank_spark.streaming import streaming_pagerank_sink

    drop = tmp_path / "edges_in"
    drop.mkdir()
    state = str(tmp_path / "prstate")
    b1 = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0), ("c", "d", 1.0)]
    b2 = [("d", "a", 1.0), ("b", "d", 1.0)]
    spark.createDataFrame(b1, "src string, dst string, weight double").coalesce(
        1
    ).write.parquet(str(drop / "f1"))

    def run_available():
        stream = spark.readStream.schema(
            "src string, dst string, weight double"
        ).parquet(str(drop / "*"))
        q = (
            streaming_pagerank_sink(stream, state, tol=1.0e-10)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        _finish(q, 300)

    run_available()
    spark.createDataFrame(b2, "src string, dst string, weight double").coalesce(
        1
    ).write.parquet(str(drop / "f2"))
    run_available()

    import os

    batches = sorted(
        int(n.split("=")[1])
        for n in os.listdir(f"{state}/scores")
        if n.startswith("batch_id=")
    )
    final = {
        r["vertex"]: r["rank"]
        for r in spark.read.parquet(
            f"{state}/scores/batch_id={batches[-1]}"
        ).collect()
    }
    cold_edges = spark.createDataFrame(
        b1 + b2, "src string, dst string, weight double"
    )
    res, _ = pagerank_result(cold_edges, tol=1.0e-10)
    want = {r["vertex"]: r["rank"] for r in res.state.collect()}
    assert set(final) == set(want)
    assert all(abs(final[v] - want[v]) < 1e-6 for v in want)


def test_streaming_communities_equal_batch_sequence(spark, tmp_path):
    """The streamed two-batch community state equals the deterministic
    batch-side equivalent: move phase on batch-1 edges, then a
    warm-started move phase on the union with new vertices entering as
    singletons, same per-batch seeds."""
    from pyspark.sql import functions as F

    from jgtextrank_spark.algos.louvain import louvain_move_phase
    from jgtextrank_spark.streaming import streaming_communities_sink

    drop = tmp_path / "cedges_in"
    drop.mkdir()
    state = str(tmp_path / "cstate")
    b1 = [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 1.0), ("x", "y", 1.0)]
    b2 = [("y", "z", 1.0), ("x", "z", 1.0), ("c", "x", 1.0)]
    spark.createDataFrame(b1, "src string, dst string, weight double").coalesce(
        1
    ).write.parquet(str(drop / "f1"))

    def run_available():
        stream = spark.readStream.schema(
            "src string, dst string, weight double"
        ).parquet(str(drop / "*"))
        q = (
            streaming_communities_sink(stream, state)
            .option("checkpointLocation", str(tmp_path / "cck"))
            .trigger(availableNow=True)
            .start()
        )
        _finish(q, 300)

    run_available()
    spark.createDataFrame(b2, "src string, dst string, weight double").coalesce(
        1
    ).write.parquet(str(drop / "f2"))
    run_available()

    import os

    batches = sorted(
        int(n.split("=")[1])
        for n in os.listdir(f"{state}/communities")
        if n.startswith("batch_id=")
    )
    got = {
        r["vertex"]: r["community"]
        for r in spark.read.parquet(
            f"{state}/communities/batch_id={batches[-1]}"
        ).collect()
    }

    e1 = spark.createDataFrame(b1, "src string, dst string, weight double")
    c1, _, _, _ = louvain_move_phase(e1, seed=f"stream-louvain:{batches[0]}")
    full = spark.createDataFrame(
        b1 + b2, "src string, dst string, weight double"
    ).groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    verts = (
        full.select(F.col("src").alias("vertex"))
        .unionByName(full.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    init = verts.join(c1, "vertex", "left").select(
        "vertex", F.coalesce("community", "vertex").alias("community")
    )
    c2, _, _, _ = louvain_move_phase(
        full, init=init, seed=f"stream-louvain:{batches[-1]}"
    )
    want = {r["vertex"]: r["community"] for r in c2.collect()}
    assert got == want
