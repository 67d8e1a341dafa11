"""Generic iterative superstep harness for DataFrame graph algorithms.

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
  cheap, partition count, checkpoint events) accumulated and returned.

The step function owns the algorithm: ``step(state, i) -> (new_state,
delta)`` where ``delta`` is the algorithm's convergence measure (L1 error,
#changed labels, ...), computed as part of materializing the new state (one
action per superstep). ``delta=None`` means "not converged / not measured".
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from . import fsutil

__all__ = [
    "SuperstepResult",
    "read_checkpoint",
    "release",
    "run_supersteps",
    "write_checkpoint",
]


@dataclass
class SuperstepResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)

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
    state: DataFrame,
    delta: float | None,
    label: str,
) -> str:
    """Write ``state`` as superstep ``iteration``'s checkpoint: the state
    parquet plus ``_superstep_meta.json``. Returns the state path. Every
    solver that checkpoints writes through here, so a checkpoint written
    by one solver loop can be resumed by another."""
    path = _checkpoint_path(checkpoint_dir, iteration)
    state_path = os.path.join(path, "state")
    state.write.mode("overwrite").parquet(state_path)
    meta = {
        "iteration": iteration,
        "delta": None if delta is None else float(delta),
        "label": label,
        # partition lineage: what the state was partitioned as, so resume
        # can restore co-location cheaply.
        "partitions": state.rdd.getNumPartitions(),
        "schema": state.schema.jsonValue(),
    }
    fsutil.write_text(
        spark, os.path.join(path, "_superstep_meta.json"), json.dumps(meta)
    )
    return state_path


def read_checkpoint(
    spark: SparkSession, checkpoint_dir: str | None, label: str
):
    """The newest checkpoint under ``checkpoint_dir`` as ``(iteration,
    state, metrics row)``, or None. The row is the ``"resume"`` event a
    resumed loop reports first. Raises ``ValueError`` when the checkpoint
    was written by a loop with a different ``label``: the state of one
    algorithm is no starting point for another."""
    found = _find_resume_point(spark, checkpoint_dir)
    if found is None:
        return None
    iteration, path, meta = found
    if meta.get("label") != label:
        raise ValueError(
            f"checkpoint under {checkpoint_dir} was written by "
            f"{meta.get('label')!r}, not {label!r}"
        )
    state = spark.read.parquet(os.path.join(path, "state"))
    row = {
        "iteration": iteration,
        "wall_ms": 0.0,
        "delta": meta.get("delta"),
        "event": "resume",
        "partitions": state.rdd.getNumPartitions(),
    }
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

    found = read_checkpoint(spark, checkpoint_dir, label) if resume else None
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
