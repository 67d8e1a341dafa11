"""Minimum spanning forest via distributed Borůvka rounds.

Extends the graph suite (the reference ranks/partitions co-occurrence
graphs — ``/root/reference/jgtextrank/core.py:614-642`` decomposes into
components; the MSF is the natural next decomposition: the lightest
skeleton of each component, used for single-linkage clustering over
similarity graphs and for sparsifying web/host graphs before expensive
downstream ops).

Borůvka is THE MapReduce-friendly MST algorithm: every round each
component selects its minimum outgoing edge (one join + one aggregate —
map-side combinable), the selected edges merge components (contraction),
and the component count at least halves, so O(log V) rounds total. No
priority queue, no sequential dependence — unlike Prim/Kruskal, every
step is a bulk DataFrame op:

1. Attach component labels to both endpoints of every still-external
   edge (two hash joins against the label table, which is small and
   broadcastable once components coarsen).
2. Per component, pick ``min(struct(weight, u, v, other))`` — a single
   partial-aggregable ``groupBy``. The struct comparator makes the
   choice a TOTAL order over edges (each edge's (weight, u, v) triple is
   unique), which is the classic trick that (a) makes the result
   deterministic under weight ties and (b) guarantees the selected-edge
   graph has only 2-cycles, never longer ones.
3. Contract: the per-component selections form a FUNCTIONAL graph over
   component ids (c -> other endpoint of c's chosen edge) whose only
   cycles are 2-cycles (total order), so each connected piece is a
   pseudo-tree hanging off one 2-cycle. Resolve every 2-cycle to its
   min-id member, then pointer-jump the trees to their roots —
   O(log depth) self-joins on a component-count-sized table. No general
   CC harness needed: that nested job cascade was the dominant cost of
   the first implementation (bench 51.3s -> ~2x faster on the same
   2M-edge power-law graph). Relabel.

The union of selected edges over all rounds is the minimum spanning
forest w.r.t. the (weight, u, v) total order — a true MSF of the
weights, with ties broken canonically.

At 10^12 edges: the edge table is hash-partitioned by ``u`` once and
static; per round only the label table (V-sized, shrinking) shuffles,
and the contraction graph is component-count-sized. Selected edges per
round are checkpointed to truncate lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["boruvka_msf", "msf_perturbed_weights"]


def msf_perturbed_weights(edges: DataFrame) -> DataFrame:
    """Replace ``weight`` with ``weight + md5(u:v)48bit / 2**48`` on the
    canonical (u < v) pair — a deterministic, engine-portable tie-break
    that makes all weights distinct (so the MSF is unique) without
    changing the relative order of distinct integral weights. The
    perturbation is exact in IEEE doubles (int48 / 2**48 is an exact
    division; one rounded add), so any engine reproduces it bit-for-bit.
    """
    u = F.least("src", "dst")
    v = F.greatest("src", "dst")
    eps = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", u, v)), 1, 12), 16, 10
        ).cast("long").cast("double")
        / F.lit(float(2**48))
    )
    return edges.select(
        "src", "dst", (F.col("weight").cast("double") + eps).alias("weight")
    )


def boruvka_msf(
    edges: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 40,
) -> DataFrame:
    """Minimum spanning forest: DataFrame ``(u, v, weight)``, one row per
    forest edge, ``u < v``. Ties are broken by the (weight, u, v) total
    order, so the output is deterministic; with distinct weights it is
    THE unique MSF. Self-loops ignored; parallel edges collapse to their
    minimum weight. Isolated vertices contribute no rows (a forest has
    no edges there)."""
    spark = edges.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = F.col(weight_col).cast("double")
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            w.alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .repartition(n_parts, "u")
        .persist()
    )
    comp = (
        e.select(F.col("u").alias("vertex"))
        .unionByName(e.select(F.col("v").alias("vertex")))
        .distinct()
        .select("vertex", F.col("vertex").alias("comp"))
        .localCheckpoint(eager=True)
    )
    chosen_parts: list[DataFrame] = []
    for _ in range(max_iter):
        cu = comp.select(
            F.col("vertex").alias("u"), F.col("comp").alias("cu")
        )
        cv = comp.select(
            F.col("vertex").alias("v"), F.col("comp").alias("cv")
        )
        ec = (
            e.join(cu, "u")
            .join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
        )
        # per-component min external edge under the (w, u, v) total
        # order; both endpoints' components compete for the same edge.
        # Carry the OTHER endpoint's component: it becomes the node's
        # parent pointer for the contraction below. For a fixed c the
        # struct min is decided by s=(w,u,v) alone (other is a function
        # of the edge), so the selected edge set is exactly the old
        # min-over-s one.
        cand = ec.select(
            F.col("cu").alias("c"),
            F.struct("w", "u", "v").alias("s"),
            F.col("cv").alias("other"),
        ).unionByName(
            ec.select(
                F.col("cv").alias("c"),
                F.struct("w", "u", "v").alias("s"),
                F.col("cu").alias("other"),
            )
        )
        selm = (
            cand.groupBy("c")
            .agg(F.min(F.struct("s", "other")).alias("m"))
            .select(
                "c", F.col("m.s").alias("s"), F.col("m.other").alias("p")
            )
            .localCheckpoint(eager=True)  # truncate per-round lineage
        )
        if selm.isEmpty():
            break
        sel = selm.select("s.u", "s.v", "s.w").distinct()
        chosen_parts.append(sel)
        # Contract WITHOUT a general CC run. selm is a functional graph
        # over component ids (every c points to the other end p of its
        # chosen edge; p is itself a key — it shares that edge, so it
        # chose one too). Under the (w, u, v) total order its only
        # cycles are 2-cycles (the classic Borůvka argument: a longer
        # cycle would need strictly decreasing edge keys around a loop),
        # so each weakly-connected piece is a pseudo-tree hanging off
        # one 2-cycle. Resolve the 2-cycles to their min-id member, then
        # pointer-jump the trees — O(log depth) rounds of a self-join on
        # a component-count-sized table, much cheaper than the nested
        # hash-min CC job cascade this replaces (bench: msf_powerlaw_2m
        # 51.3s -> see BENCH; the selected graph is the only input).
        ptr = selm.select("c", "p")
        q = (
            ptr.alias("a")
            .join(ptr.alias("b"), F.col("a.p") == F.col("b.c"))
            .select(
                F.col("a.c").alias("c"),
                F.when(
                    F.col("b.p") == F.col("a.c"),  # 2-cycle: p(p(c)) == c
                    F.least("a.c", "a.p"),
                )
                .otherwise(F.col("a.p"))
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        for _jump in range(64):
            # TWO pointer jumps per convergence check (r <- r(r(c))):
            # each check costs a full persist+agg+checkpoint cycle of
            # driver-side fixed work, so squaring the jump per iteration
            # halves the number of cycles for the same fixpoint (an extra
            # jump at the fixpoint is a no-op, so `chg` still reaches 0).
            j = (
                q.alias("a")
                .join(q.alias("b"), F.col("a.r") == F.col("b.c"))
                .join(q.alias("d"), F.col("b.r") == F.col("d.c"))
                .select(
                    F.col("a.c").alias("c"),
                    F.col("d.r").alias("r"),
                    (F.col("a.r") != F.col("d.r")).cast("int").alias("chg"),
                )
                .persist()
            )
            # the agg materializes the cache BEFORE localCheckpoint:
            # Spark 4's localCheckpoint rewrites the new LogicalRDD's
            # stats from the source plan, and checkpointing an
            # UNPERSISTED q-join-q would square sizeInBytes every round
            # (2^63 -> 2^126 -> ...), ending in a multi-megabit BigInteger
            # multiply inside Catalyst's stats visitor that pins the
            # driver for minutes. With the cache materialized, stats come
            # from the InMemoryRelation's actual (tiny) size. See
            # NOTES.md round-5 "stats-squaring" entry.
            changed = j.agg(F.sum("chg").alias("n")).collect()[0]["n"]
            jt = j.localCheckpoint(eager=True)
            j.unpersist()
            q = jt.select("c", "r")
            if not changed:
                break
        else:
            raise RuntimeError(
                "boruvka_msf: pointer jumping did not converge in 64 "
                "rounds — component pointer graph deeper than 2^64?"
            )
        comp = (
            comp.join(
                q.select(F.col("c").alias("comp"), "r"), "comp", "left"
            )
            .select(
                "vertex",
                F.coalesce("r", F.col("comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    if not chosen_parts:
        return e.select("u", "v", F.col("w").alias("weight")).limit(0)
    out = chosen_parts[0]
    for p in chosen_parts[1:]:
        out = out.unionByName(p)
    return out.distinct().select("u", "v", F.col("w").alias("weight"))
