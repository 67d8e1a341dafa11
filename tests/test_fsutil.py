"""fsutil: the scheme-agnostic driver-side state IO used by checkpoint
discovery / meta markers / hyperball totals. Exercised here against the
local filesystem through the SAME Hadoop FileSystem code path a remote
hdfs://s3a:// deployment takes (Hadoop's LocalFileSystem backs bare
paths), so a regression in the JVM plumbing fails loudly."""

from __future__ import annotations

import json

from jgtextrank_spark import fsutil


def test_fsutil_roundtrip(spark, tmp_path):
    root = str(tmp_path / "state")
    path = f"{root}/sub/_meta.json"

    assert not fsutil.exists(spark, path)
    assert fsutil.list_dir(spark, root) == []  # missing dir -> []

    fsutil.write_text(spark, path, json.dumps({"iteration": 3}))
    assert fsutil.exists(spark, path)
    assert json.loads(fsutil.read_text(spark, path)) == {"iteration": 3}

    # overwrite via create(overwrite=True)
    fsutil.write_text(spark, path, "v2")
    assert fsutil.read_text(spark, path) == "v2"

    # replace_text: tmp+rename, no stray .tmp, content swapped atomically
    fsutil.replace_text(spark, path, "v3")
    assert fsutil.read_text(spark, path) == "v3"
    assert fsutil.list_dir(spark, f"{root}/sub") == ["_meta.json"]

    # listing is sorted basenames; files and dirs both appear
    fsutil.write_text(spark, f"{root}/sub2/x", "x")
    assert fsutil.list_dir(spark, root) == ["sub", "sub2"]
    # a FILE path is not a directory -> [] (mirrors the old
    # isdir+listdir discovery contract)
    assert fsutil.list_dir(spark, path) == []

    assert fsutil.delete(spark, path)
    assert not fsutil.exists(spark, path)
    assert not fsutil.delete(spark, path)  # second delete: no-op False


def test_louvain_zero_signal_honors_init(spark):
    """ADVICE r4: a zero-total-weight graph has no modularity signal
    (m2 <= 0); the move phase must return the PROVIDED init unchanged
    (inner-joined to the vertex set) rather than resetting to
    singletons. (A self-loop-ONLY graph is NOT this case: self-loops
    enter vertex strength twice, so m2 > 0 and the normal loop runs —
    it just finds no candidate moves.)"""
    from jgtextrank_spark.algos.louvain import louvain_move_phase

    edges = spark.createDataFrame(
        [("a", "b", 0.0), ("b", "c", 0.0)],
        "src string, dst string, weight double",
    )
    init = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c2"), ("zz", "c9")],
        "vertex string, community string",  # zz not in the graph
    )
    comm, rounds, converged, _ms = louvain_move_phase(edges, init=init)
    got = {r["vertex"]: r["community"] for r in comm.collect()}
    assert got == {"a": "c1", "b": "c1", "c": "c2"}  # init kept; zz dropped
    assert converged and rounds == 0

    # without init the zero-signal contract stays singletons
    comm2, _r, _c, _m = louvain_move_phase(edges)
    got2 = {r["vertex"]: r["community"] for r in comm2.collect()}
    assert got2 == {"a": "a", "b": "b", "c": "c"}

    # self-loop-only graph: m2 > 0, normal loop, no moves possible —
    # init passes through the state machinery unchanged
    selfonly = spark.createDataFrame(
        [("a", "a", 1.0), ("b", "b", 2.0)],
        "src string, dst string, weight double",
    )
    comm3, _r3, conv3, _m3 = louvain_move_phase(
        selfonly, init=init.filter("vertex in ('a','b')")
    )
    got3 = {r["vertex"]: r["community"] for r in comm3.collect()}
    assert got3 == {"a": "c1", "b": "c1"} and conv3


def test_fsutil_bytes_roundtrip(spark, tmp_path):
    """``write_bytes``/``read_bytes`` move arbitrary bytes unchanged (the
    checkpoint parquet parts of the driver loops travel this way), and
    ``write_text``/``read_text`` are their UTF-8 wrappers."""
    path = str(tmp_path / "b" / "blob")
    data = bytes(range(256)) * 5
    fsutil.write_bytes(spark, path, data)
    assert fsutil.read_bytes(spark, path) == data
    fsutil.write_bytes(spark, path, b"")
    assert fsutil.read_bytes(spark, path) == b""
    fsutil.write_text(spark, path, "é日本")
    assert fsutil.read_bytes(spark, path) == "é日本".encode("utf-8")
