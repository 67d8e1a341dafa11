"""Benchmark for the jgtextrank_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Inputs are generated from the seed
and cached under ``.perfbench-data/cache``; Spark scratch space, the event
log and job outputs go to ``.perfbench-data/work`` (removed when the run
ends) and a traced run's spans to ``.perfbench-data/traces``. Nothing is
written outside the checkout.

One run: start a local session with one core per available CPU
(``local[N]``, N from the CPU affinity mask, as ``nproc`` reports it), load
and cache the inputs, then run passes until ``--seconds`` have passed (at
least one). The first pass is cold: it runs in a fresh JVM with fresh
Python workers, as every spark-submit job does. Every pass's output is
checked against oracles computed from the generated inputs; a pass that
raises or fails its check counts in ``failed``.

End-to-end metrics (``--trace 0``):
  setup_s       session start (JVM launch, package shipping) plus loading
                and caching the input tables
  first_pass_s  the cold pass

Two more figures are printed on every run but reported as per-layer
metrics, because run to run they vary by more than any bound an end-to-end
metric may have on a shared 4-core host:
  pagerank.edges_per_s  edges per second of the median superstep of the
                        pass's PageRank loops, each loop's first superstep
                        left out
  memory.peak_rss_mb    peak resident memory of the JVM plus the Python
                        workers after the first pass, summed over the
                        processes this run started (the JVM's share follows
                        the garbage collector's heap sizing)

``--trace 1`` runs a cold pass and a warm pass untraced, then one traced
warm pass (one Spark job group per layer span, Spark event log on), and
reports the per-layer metrics instead, including the tracing overhead
(traced minus untraced warm pass). Each per-layer metric and the
end-to-end metric it should move:

  extract.*, graph.*, textrank.*     first_pass_s on pages; nothing on
                                     linkgraph_suite
  weblinks.*, job.*                  first_pass_s on pages
  supersteps.checkpoint*, .resume_read_s
                                     first_pass_s on pages (its job legs
                                     checkpoint and resume); nothing on
                                     linkgraph_suite, which sets no
                                     checkpoint directory
  supersteps.step_s_p50, .jobs_per_step
                                     pagerank.edges_per_s on both, and
                                     through it first_pass_s
  pagerank.*                         first_pass_s on linkgraph_suite
  supersteps.first_step_s            first_pass_s on both (fixed cost of
                                     a loop's first superstep)
  components.*, labelprop.*, triangles.*
                                     first_pass_s on linkgraph_suite
  <span>.core_util                   low values mean tasks wait on
                                     Spark's per-job scheduling overhead

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
repeat each metric with its unit, plus ``failed_frac`` (failed / attempted)
and the workload's own figures.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench-data")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
}

LAYER_SCALARS = {
    "extract.busy_s": "s", "extract.tokens": "count",
    "extract.sentences": "count",
    "graph.busy_s": "s", "graph.pair_events": "count",
    "graph.edges": "count", "graph.dedup_ratio": "ratio",
    "supersteps.count": "count", "supersteps.step_s_p50": "s",
    "supersteps.first_step_s": "s", "supersteps.jobs_per_step": "count",
    "supersteps.checkpoints": "count",
    "supersteps.checkpoint_step_s_p50": "s",
    "supersteps.resume_read_s": "s",
    "pagerank.busy_s": "s", "pagerank.edges_per_s": "1/s",
    "components.busy_s": "s", "components.rounds": "count",
    "labelprop.busy_s": "s", "triangles.busy_s": "s",
    "textrank.solve_s": "s", "textrank.collapse_weigh_s": "s",
    "textrank.candidates": "count",
    "weblinks.busy_s": "s", "weblinks.hrefs": "count",
    "weblinks.edges": "count", "weblinks.resolved_ratio": "ratio",
    "job.first_leg_s": "s", "job.resume_s": "s",
    "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
    "memory.peak_rss_mb": "MB",
}
SPANS = (
    "extract", "graph", "textrank.solve", "textrank.collapse_weigh",
    "pagerank", "components", "labelprop", "triangles", "weblinks", "job",
    "supersteps",
)
SPARK_COUNT_UNITS = {
    "jobs": "count", "tasks": "count", "task_s": "s", "core_util": "ratio",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s",
}


def per_layer_units() -> dict:
    units = dict(LAYER_SCALARS)
    for span in SPANS:
        for count, unit in SPARK_COUNT_UNITS.items():
            units[f"{span}.{count}"] = unit
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def program_missing() -> str | None:
    for rel in ("jgtextrank_spark/__init__.py", "jobs/linkgraph_job.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def heap_size() -> str:
    """A quarter of physical memory, capped at 2 GiB: the engine's 32g
    default exceeds the RAM of small machines, and the benchmark's inputs
    fit in far less."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(512, min(2048, total_kb // 1024 // 4))}m"


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def peak_rss_mb() -> float:
    """Summed peak RSS (VmHWM) of every process this one started: the JVM
    and the Python workers it forks."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def start_session(cores: int, work: str, event_log: str | None):
    from jgtextrank_spark import get_spark

    local_dir = os.path.join(work, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Runs and checks passes of one workload, counting every attempted
    pass or check and every failure."""

    def __init__(self, workload, spark):
        self.wl = workload
        self.spark = spark
        self.attempted = 0
        self.failed = 0

    def reset(self) -> None:
        """Drop what the previous pass cached and reload the inputs."""
        self.spark.catalog.clearCache()
        self.wl.load(self.spark)
        self.wl.reset()

    def timed_pass(self, tracer):
        """Run and check one pass: ``(wall seconds, output or None)``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = self.wl.run_pass(self.spark, tracer)
        except Exception:  # noqa: BLE001 - a failing pass is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t0, None
        wall = time.perf_counter() - t0
        if not self.wl.check(out):
            print(f"perfbench: output check failed on {self.wl.name}",
                  file=sys.stderr)
            self.failed += 1
        return wall, out


def layer_metrics(tracer, log_dir, cores, untraced_wall, traced_wall, out, rss) -> dict:
    from spans import span_counts

    units = per_layer_units()
    values = dict.fromkeys(units, 0.0)
    counts = span_counts(tracer, log_dir, cores)
    for span, c in counts.items():
        for k, v in c.items():
            values[f"{span}.{k}"] = v
    busy = {}
    for s in tracer.spans:
        busy[s["name"]] = busy.get(s["name"], 0.0) + s["end"] - s["start"]
    for span in ("extract", "graph", "pagerank", "components", "labelprop",
                 "triangles", "weblinks"):
        values[f"{span}.busy_s"] = busy.get(span, 0.0)
    values["textrank.solve_s"] = busy.get("textrank.solve", 0.0)
    values["textrank.collapse_weigh_s"] = busy.get("textrank.collapse_weigh", 0.0)
    values.update(tracer.counters)
    if values["graph.pair_events"]:
        values["graph.dedup_ratio"] = values["graph.edges"] / values["graph.pair_events"]
    if out is not None:
        values["pagerank.edges_per_s"] = out["pagerank_edges_per_s"]

    steps, firsts, ckpt_steps, resume_reads = [], [], [], []
    for lp in tracer.loops:
        resumed = bool(lp["metrics"]) and lp["metrics"][0]["event"] == "resume"
        walls = [(m["wall_ms"] / 1000.0, m["event"])
                 for m in lp["metrics"] if m["event"] != "resume"]
        if not walls:
            continue
        steps += [w for w, _ in walls]
        firsts.append(walls[0][0])
        ckpt_steps += [w for w, ev in walls if ev == "checkpoint"]
        if resumed:
            resume_reads.append(walls[0][0])
    values["supersteps.count"] = len(steps)
    values["supersteps.step_s_p50"] = median(steps)
    values["supersteps.first_step_s"] = median(firsts)
    values["supersteps.checkpoints"] = len(ckpt_steps)
    values["supersteps.checkpoint_step_s_p50"] = median(ckpt_steps)
    values["supersteps.resume_read_s"] = sum(resume_reads)
    if steps:
        values["supersteps.jobs_per_step"] = counts["supersteps"]["jobs"] / len(steps)
    values["trace.untraced_wall_s"] = untraced_wall
    values["trace.traced_wall_s"] = traced_wall
    values["trace.overhead_s"] = traced_wall - untraced_wall
    values["memory.peak_rss_mb"] = rss
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def run(args, work: str) -> int:
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    cores = cpu_count()
    wl.prepare(os.path.join(DATA, "cache"), args.seed, work)

    event_log = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(cores, work, event_log)
    try:
        wl.load(spark)
        wl.reset()
        setup_s = time.perf_counter() - t0
        runner = Runner(wl, spark)
        walls, outs = [], []
        t_measure = time.perf_counter()
        while not walls or time.perf_counter() - t_measure < args.seconds:
            if walls:
                runner.reset()
            wall, out = runner.timed_pass(Tracer())
            walls.append(wall)
            outs.append(out)
        rss = peak_rss_mb()
        if args.trace:
            runner.reset()
            untraced_wall, _ = runner.timed_pass(Tracer())
            runner.reset()
            tracer = Tracer(spark, enabled=True)
            traced_wall, traced_out = runner.timed_pass(tracer)
    finally:
        stop_session(spark)

    done = [o for o in outs if o is not None]
    if args.trace:
        traces = os.path.join(DATA, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{wl.name}-seed{args.seed}.json"))
        metrics = layer_metrics(
            tracer, event_log, cores, untraced_wall, traced_wall, traced_out, rss
        )
    else:
        values = {"setup_s": setup_s, "first_pass_s": walls[0]}
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    bad = [k for k in metrics if not NAME_RE.match(k)]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")

    print(f"workload {wl.name} seed {args.seed} cores {cores} passes {len(walls)}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        print(f"memory.peak_rss_mb {rss:.6g} MB")
        if done:
            rate = median([o["pagerank_edges_per_s"] for o in done])
            print(f"pagerank.edges_per_s {rate:.6g} 1/s")
    print(f"failed_frac {runner.failed / runner.attempted:.6g} "
          f"({runner.failed}/{runner.attempted})")
    if done:
        for k, (v, unit) in wl.extra(done[-1]).items():
            print(f"{k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = program_missing()
    if missing:
        print(f"perfbench: program file {missing} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(DATA, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["SPARK_DRIVER_MEM"] = heap_size()
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
