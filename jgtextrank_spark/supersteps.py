"""Generic iterative superstep harness for DataFrame graph algorithms,
and the one checkpoint format every solver loop shares.

Catalyst has no fixpoint operator, so every iterative solver (PageRank,
HITS, connected components, LPA, k-core...) is a driver-side loop of
DataFrame jobs. This harness centralizes the physical concerns that make
such loops survive hundreds of supersteps at 100 TB scale:

* **Lineage truncation**: each superstep's state is ``localCheckpoint``-ed
  and the previous one released (``release``), so neither the logical
  plan nor the cached states grow without bound; every
  ``checkpoint_every`` supersteps it is also written reliably to
  ``checkpoint_dir``.
* **Checkpoint-resume**: with ``checkpoint_dir`` set, state parquet +
  a meta JSON (iteration, delta, partitioning lineage) is written per
  checkpoint; ``run_supersteps`` resumes from the newest valid checkpoint.
* **Per-superstep metrics**: (iteration, wall_ms, delta, state rows if
  cheap, partition count, checkpoint events, and ``path``: ``"dataframe"``
  here, ``"local"`` in the driver loops) accumulated and returned.

The step function owns the algorithm: ``step(state, i) -> (new_state,
delta)`` where ``delta`` is the algorithm's convergence measure (L1 error,
#changed labels, ...), computed as part of materializing the new state (one
action per superstep). ``delta=None`` means "not converged / not measured".

**One checkpoint format, written where the state lives.** A checkpoint
is ``<checkpoint_dir>/superstep_<iteration>/`` holding a ``state/``
parquet directory and ``_superstep_meta.json``, written last so that its
presence marks the state complete. The DataFrame loops hold their state
in Spark, so Spark's parquet writer writes it and ``spark.read.parquet``
reads it back. The driver loops (``pagerank._pagerank_local``,
``smallgraph.label_loop``) hold theirs as an Arrow table on the driver:
``write_table`` builds the parquet bytes with pyarrow and
``read_table`` reads them back, both through ``fsutil`` (the Hadoop
FileSystem, so ``hdfs://``/``s3a://`` dirs keep working), with no Spark
job either way. ``write_table`` writes one ``part-00000.parquet`` plus
``_SUCCESS``, with Spark's own schema key in the footer; ``read_table``
reads every non-hidden ``*.parquet`` part, so each loop resumes the
other's checkpoints.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import fsutil

__all__ = [
    "SuperstepResult",
    "read_checkpoint",
    "read_table",
    "release",
    "run_supersteps",
    "write_checkpoint",
    "write_table",
]

# the footer key under which Spark's parquet writer records the schema
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


@dataclass
class SuperstepResult:
    """A solver loop's outcome. ``table`` is the final state as an Arrow
    table when the loop held it on the driver (``state`` is then a frame
    over it), None on the DataFrame loops."""

    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    table: pa.Table | None = None

    @property
    def total_wall_ms(self) -> float:
        return sum(m["wall_ms"] for m in self.metrics)


def release(df: DataFrame) -> None:
    """Unpersist ``df``, and drop the data of a ``localCheckpoint``-ed
    frame as well: ``DataFrame.unpersist`` leaves a local checkpoint's RDD
    in the block manager until the JVM happens to collect it, one state
    per superstep. Only for frames nothing else reads any more."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def write_table(
    spark: SparkSession, path: str, table: pa.Table, schema: T.StructType
) -> None:
    """Replace the parquet directory ``path`` with ``table`` (cast to
    ``schema``), written from the driver: one ``part-00000.parquet`` and
    an empty ``_SUCCESS``, as ``df.write.mode("overwrite").parquet(path)``
    would leave for a one-partition frame. No Spark job runs."""
    table = table.cast(to_arrow_schema(schema)).replace_schema_metadata(
        {_SPARK_SCHEMA_KEY: schema.json()}
    )
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    fsutil.delete(spark, path, recursive=True)
    fsutil.write_bytes(
        spark, os.path.join(path, "part-00000.parquet"), buf.getvalue()
    )
    fsutil.write_bytes(spark, os.path.join(path, "_SUCCESS"), b"")


def read_table(spark: SparkSession, path: str) -> pa.Table:
    """The parquet directory ``path`` as one Arrow table, read on the
    driver: every ``*.parquet`` part whose name does not start with
    ``_`` or ``.`` (so not ``_SUCCESS`` or a ``.crc`` file), whoever wrote
    it. No Spark job runs."""
    parts = [
        pq.ParquetFile(
            pa.BufferReader(
                fsutil.read_bytes(spark, os.path.join(path, name))
            )
        ).read()
        for name in fsutil.list_dir(spark, path)
        if name.endswith(".parquet") and name[0] not in "_."
    ]
    if not parts:
        raise ValueError(f"no parquet part under {path}")
    return pa.concat_tables(parts)


def _checkpoint_path(checkpoint_dir: str, iteration: int) -> str:
    return os.path.join(checkpoint_dir, f"superstep_{iteration:06d}")


def _find_resume_point(spark: SparkSession, checkpoint_dir: str):
    """Newest checkpoint with a valid meta file, or None. Discovery goes
    through the Hadoop FileSystem API (fsutil) so checkpoint_dir may live
    on HDFS/S3 — os.listdir on the driver's local disk would silently
    find nothing there and every run would cold-start."""
    if not checkpoint_dir:
        return None
    best = None
    for name in fsutil.list_dir(spark, checkpoint_dir):
        meta_path = os.path.join(checkpoint_dir, name, "_superstep_meta.json")
        if name.startswith("superstep_") and fsutil.exists(spark, meta_path):
            meta = json.loads(fsutil.read_text(spark, meta_path))
            best = (meta["iteration"], os.path.join(checkpoint_dir, name), meta)
    return best


def write_checkpoint(
    spark: SparkSession,
    checkpoint_dir: str,
    iteration: int,
    state: DataFrame | pa.Table,
    delta: float | None,
    label: str,
    schema: T.StructType | None = None,
) -> str:
    """Write ``state`` as superstep ``iteration``'s checkpoint: the state
    parquet plus ``_superstep_meta.json``. Returns the state path. Every
    solver that checkpoints writes through here, so a checkpoint written
    by one solver loop can be resumed by another.

    ``state`` is a DataFrame (written by Spark) or, for a loop that holds
    its state on the driver, an Arrow table with its Spark ``schema``
    (written by ``write_table``)."""
    path = _checkpoint_path(checkpoint_dir, iteration)
    state_path = os.path.join(path, "state")
    if isinstance(state, DataFrame):
        state.write.mode("overwrite").parquet(state_path)
        schema, partitions = state.schema, state.rdd.getNumPartitions()
    else:
        write_table(spark, state_path, state, schema)
        partitions = 1
    meta = {
        "iteration": iteration,
        "delta": None if delta is None else float(delta),
        "label": label,
        # partition lineage: what the state was partitioned as, so resume
        # can restore co-location cheaply.
        "partitions": partitions,
        "schema": schema.jsonValue(),
    }
    fsutil.write_text(
        spark, os.path.join(path, "_superstep_meta.json"), json.dumps(meta)
    )
    return state_path


def read_checkpoint(
    spark: SparkSession,
    checkpoint_dir: str | None,
    label: str,
    solver_path: str,
):
    """The newest checkpoint under ``checkpoint_dir`` as ``(iteration,
    state, metrics row)``, or None. ``solver_path`` names the loop that
    resumes: ``"dataframe"`` gets the state as a DataFrame, ``"local"`` (a
    driver loop) as an Arrow table read by ``read_table``. The row is the
    ``"resume"`` event that loop reports first. Raises ``ValueError`` when
    the checkpoint was written by a loop with a different ``label``: the
    state of one algorithm is no starting point for another."""
    found = _find_resume_point(spark, checkpoint_dir)
    if found is None:
        return None
    iteration, ckpt_path, meta = found
    if meta.get("label") != label:
        raise ValueError(
            f"checkpoint under {checkpoint_dir} was written by "
            f"{meta.get('label')!r}, not {label!r}"
        )
    state_path = os.path.join(ckpt_path, "state")
    row = {
        "iteration": iteration,
        "wall_ms": 0.0,
        "delta": meta.get("delta"),
        "event": "resume",
        "path": solver_path,
    }
    if solver_path == "local":
        return iteration, read_table(spark, state_path), row
    state = spark.read.parquet(state_path)
    row["partitions"] = state.rdd.getNumPartitions()
    return iteration, state, row


def run_supersteps(
    spark: SparkSession,
    initial_state: DataFrame,
    step: Callable[[DataFrame, int], tuple[DataFrame, float | None]],
    max_iter: int,
    tolerance: float = 0.0,
    checkpoint_every: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    label: str = "supersteps",
) -> SuperstepResult:
    """Run ``step`` until ``delta <= tolerance`` or ``max_iter``.

    Convergence: a step returning ``delta <= tolerance`` stops the loop
    (the returned state is the *converged* one). With ``tolerance=0`` the
    natural reading is "no change" (delta==0 stops).
    """
    metrics: list[dict] = []
    start_iter = 0
    state = initial_state

    found = (
        read_checkpoint(spark, checkpoint_dir, label, "dataframe")
        if resume
        else None
    )
    if found is not None:
        start_iter, state, resume_row = found
        metrics.append(resume_row)

    state = state.persist()
    converged = False
    it = start_iter
    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.monotonic()
        new_state, delta = step(state, it)
        new_state = new_state.persist()
        # The step's delta computation is the materializing action; if the
        # step didn't materialize, force it so timing is honest.
        if delta is None:
            new_state.count()
        # Truncate lineage: persisting caches *data* but the logical plan
        # still grows per iteration, making Catalyst analysis O(iterations)
        # per superstep (quadratic overall). localCheckpoint over the
        # already-cached state is a cheap O(state) copy that resets the plan.
        truncated = new_state.localCheckpoint(eager=True)
        new_state.unpersist()
        new_state = truncated
        wall_ms = (time.monotonic() - t0) * 1000.0
        if it == start_iter + 1:
            state.unpersist()  # the caller's frame: leave its data alone
        else:
            release(state)
        state = new_state

        row = {
            "iteration": it,
            "wall_ms": wall_ms,
            "delta": None if delta is None else float(delta),
            "event": "step",
            "label": label,
            "path": "dataframe",
        }

        do_checkpoint = checkpoint_every and it % checkpoint_every == 0
        if do_checkpoint:
            if checkpoint_dir:
                state_path = write_checkpoint(
                    spark, checkpoint_dir, it, state, delta, label
                )
                release(state)
                # reload from the durable checkpoint (also truncates lineage
                # to a plain parquet scan)
                state = spark.read.parquet(state_path).persist()
                row["event"] = "checkpoint"
        metrics.append(row)

        if delta is not None and not math.isnan(delta) and delta <= tolerance:
            converged = True
            break

    return SuperstepResult(
        state=state, iterations=it, converged=converged, metrics=metrics
    )
