"""Checkpoints of the solver states held on the driver: written and read
there (``supersteps.write_table`` / ``read_table``), with no Spark job, in
the one format the DataFrame loops write and ``spark.read.parquet``
reads; and the ``path`` every superstep row records."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from jgtextrank_spark import fsutil
from jgtextrank_spark.algos import smallgraph
from jgtextrank_spark.algos.components import connected_components_result
from jgtextrank_spark.algos.labelprop import label_propagation_result
from jgtextrank_spark.algos.pagerank import pagerank_result
from jgtextrank_spark.supersteps import read_table, release

_SPARK_TYPES = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
}


def _edges_df(spark, id_type="string"):
    """A 20-vertex chain with one chord: hash-min needs about 20 rounds
    and PageRank with ``tol=0`` never stops, so short legs end
    unconverged."""
    conv = str if id_type == "string" else int
    edges = [(i, i + 1, 1.0) for i in range(19)] + [(0, 10, 2.0)]
    return spark.createDataFrame(
        [(conv(s), conv(d), w) for s, d, w in edges],
        f"src {id_type}, dst {id_type}, weight double",
    )


def _solver(df, algo):
    """``solve(max_iter, **kw) -> SuperstepResult`` for one algorithm."""
    return {
        "pagerank": lambda it, **kw: pagerank_result(
            df, max_iter=it, tol=0.0, **kw
        )[0],
        "components": lambda it, **kw: connected_components_result(
            df, max_iter=it, accelerated=False, **kw
        ),
        "label_propagation": lambda it, **kw: label_propagation_result(
            df, max_iter=it, **kw
        ),
    }[algo]


def _release(*results):
    """Drop the final states the DataFrame loops leave persisted."""
    for res in results:
        if res.table is None:
            release(res.state)


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def _state_dir(ckpt, iteration):
    return os.path.join(ckpt, f"superstep_{iteration:06d}", "state")


@pytest.mark.parametrize("algo", ["pagerank", "components"])
def test_driver_checkpoints_run_no_spark_job(spark, tmp_path, algo):
    """A driver-path run that checkpoints every superstep, then its
    resume, submit exactly as many Spark jobs as the same two calls
    without a checkpoint dir."""
    solve = _solver(_edges_df(spark), algo)
    ckpt = str(tmp_path / "ckpt")

    def legs(**kw):
        return solve(3, **kw), solve(6, **kw)

    (first, second), with_ckpt = _job_count(
        spark, f"{algo}-ckpt", lambda: legs(
            checkpoint_every=1, checkpoint_dir=ckpt
        )
    )
    _, without = _job_count(spark, f"{algo}-plain", legs)
    assert [m["event"] for m in first.metrics] == ["checkpoint"] * 3
    assert second.metrics[0]["event"] == "resume"
    assert second.metrics[0]["iteration"] == 3
    assert not second.converged and second.iterations == 6
    assert 0 < without == with_ckpt


@pytest.mark.parametrize("algo", ["pagerank", "components"])
def test_checkpoint_schema_is_the_metas_on_both_paths(
    spark, solver_paths, tmp_path, algo
):
    """Each loop's checkpoint reads back through ``spark.read.parquet``
    with the column names and types its meta records, and the two loops'
    checkpoints read back with the same schema. The driver writes one
    part plus ``_SUCCESS``."""
    solve = _solver(_edges_df(spark, "long"), algo)
    read = {}
    for path in solver_paths():
        ckpt = str(tmp_path / path)
        _release(solve(2, checkpoint_every=2, checkpoint_dir=ckpt))
        meta_path = os.path.join(
            ckpt, "superstep_000002", "_superstep_meta.json"
        )
        meta = json.loads(fsutil.read_text(spark, meta_path))
        want = T.StructType.fromJson(meta["schema"])
        got = spark.read.parquet(_state_dir(ckpt, 2)).schema
        assert [(f.name, f.dataType) for f in got] == [
            (f.name, f.dataType) for f in want
        ], path
        read[path] = (got, want)
    assert read["local"] == read["dataframe"]
    names = os.listdir(_state_dir(str(tmp_path / "local"), 2))
    assert sorted(n for n in names if n[0] != ".") == [
        "_SUCCESS", "part-00000.parquet"
    ]


def test_read_table_reads_every_part_and_skips_the_rest(spark, tmp_path):
    """``read_table`` reads all of a multi-part Spark write and opens no
    hidden file: not ``_SUCCESS``, not a ``.crc`` checksum, not a hidden
    name that ends in ``.parquet``."""
    path = tmp_path / "t"
    spark.range(0, 30, numPartitions=3).selectExpr(
        "id", "cast(id as string) as s"
    ).write.parquet(str(path))
    names = os.listdir(path)
    assert sum(n.endswith(".parquet") for n in names) == 3
    assert any(n.endswith(".crc") for n in names)
    (path / "_SUCCESS").write_bytes(b"not parquet")
    (path / "_hidden.parquet").write_bytes(b"not parquet")
    (path / ".hidden.parquet").write_bytes(b"not parquet")
    table = read_table(spark, str(path))
    assert sorted(table.column("id").to_pylist()) == list(range(30))
    assert dict(zip(*table.to_pydict().values())) == {
        i: str(i) for i in range(30)
    }


@pytest.mark.parametrize("algo", ["pagerank", "components"])
@pytest.mark.parametrize("id_type", ["string", "long", "int"])
def test_ids_round_trip_through_driver_checkpoints(
    spark, tmp_path, algo, id_type
):
    """String, long and int ids keep their type in a driver-written
    checkpoint, and a run resumed from it ends exactly where an
    uninterrupted run ends."""
    solve = _solver(_edges_df(spark, id_type), algo)
    ckpt = str(tmp_path / "ckpt")
    first = solve(3, checkpoint_every=3, checkpoint_dir=ckpt)
    state = _state_dir(ckpt, 3)
    vtype = spark.read.parquet(state).schema["vertex"].dataType
    assert vtype == first.state.schema["vertex"].dataType
    assert vtype == _SPARK_TYPES[id_type]
    table = read_table(spark, state)
    assert table.to_pylist() == first.table.to_pylist()
    resumed = solve(6, checkpoint_dir=ckpt)
    assert resumed.metrics[0]["event"] == "resume"
    assert resumed.table.to_pylist() == solve(6).table.to_pylist()


@pytest.mark.parametrize(
    "algo", ["pagerank", "components", "label_propagation"]
)
@pytest.mark.parametrize("first", ["local", "dataframe"])
def test_metrics_rows_name_the_solver_path(
    spark, monkeypatch, tmp_path, first, algo
):
    """Every superstep row records the loop that produced it: a leg on one
    path, then a resume on the other, whose ``"resume"`` row names the
    loop that read the checkpoint."""
    solve = _solver(_edges_df(spark), algo)
    ckpt = str(tmp_path / "ckpt")
    limit = smallgraph.SMALL_GRAPH_LIMIT
    other = "dataframe" if first == "local" else "local"
    legs = []
    for path, iters in ((first, 2), (other, 3)):
        monkeypatch.setattr(
            smallgraph, "SMALL_GRAPH_LIMIT", limit if path == "local" else 0
        )
        legs.append(solve(iters, checkpoint_every=1, checkpoint_dir=ckpt))
    assert [m["path"] for m in legs[0].metrics] == [first] * 2
    assert [(m["event"], m["path"]) for m in legs[1].metrics] == [
        ("resume", other), ("checkpoint", other)
    ]
    assert (legs[0].table is None) == (first == "dataframe")
    assert (legs[1].table is None) == (other == "dataframe")
    _release(*legs)
