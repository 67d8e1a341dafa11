"""Driver-side solves for graphs of at most ``SMALL_GRAPH_LIMIT`` edges.

Two things live here.

* **The shared fetch.** ``local_graph`` pulls an edge table of at most
  ``SMALL_GRAPH_LIMIT`` (200 000) rows to the driver in one Arrow job and
  encodes the vertex ids as int64 codes in Spark's sort order. PageRank,
  hash-min components, label propagation and triangle counting all solve
  such graphs in numpy on the driver, with no Spark job inside their
  loops; ``label_loop`` is the superstep loop the two label solvers
  share. Per-document co-occurrence graphs and most host graphs land
  here, which is how the reference treats them too: one in-process
  networkx call per graph (reference ``jgtextrank/core.py:614-642``).
  The TextRank driver path (``textrank.keywords_from_sentences``) fetches
  and codes its token rows with the same ``fetch`` and ``sorted_codes``.
* **The networkx fallback** for all-pairs / linear-algebra centralities.
  The reference dispatches betweenness, closeness, load, current-flow and
  communicability centralities straight to networkx
  (``core.py:804-838``). These are O(V*E) or worse all-pairs algorithms
  with no web-scale distributed formulation — the reference itself only
  ever runs them on single-document graphs. We mirror that honestly:
  build the graph from the same bounded fetch and run networkx, refusing
  above the limit. The per-component wrapper reproduces
  ``_weight_nodes_with_centrality_metrics`` (core.py:614-642): score each
  connected component separately, skip ZeroDivisionError components, drop
  inf-valued nodes.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..supersteps import SuperstepResult, read_checkpoint, write_checkpoint

__all__ = [
    "LocalGraph",
    "SMALL_GRAPH_LIMIT",
    "fetch",
    "label_loop",
    "local_graph",
    "nx_fallback_scores",
    "sorted_codes",
]

SMALL_GRAPH_LIMIT = 200_000


def fetch(df: DataFrame) -> pa.Table | None:
    """``df`` as an Arrow table, or None when it has more than
    ``SMALL_GRAPH_LIMIT`` rows. One job both measures and fetches, and the
    driver never holds more than ``SMALL_GRAPH_LIMIT + 1`` rows."""
    table = df.limit(SMALL_GRAPH_LIMIT + 1).toArrow()
    return None if table.num_rows > SMALL_GRAPH_LIMIT else table


def sorted_codes(values: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """``(ids, codes)``: the distinct values sorted in Spark's order (byte
    order for strings, natural order for numbers) and each value's int64
    code into them, so comparing codes compares values."""
    enc = values.dictionary_encode()
    order = pc.sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    return enc.dictionary.take(pa.array(order)), rank[enc.indices.to_numpy()]


@dataclass
class LocalGraph:
    """An edge table on the driver. ``ids`` holds the distinct vertex ids
    sorted in Spark's order (byte order for strings, natural order for
    numbers), so comparing int64 codes compares ids; ``src``/``dst`` are
    codes into it, one per edge row, and ``weight`` the edge weights as
    doubles with nulls kept (None when no weight was fetched)."""

    ids: pa.Array
    vfield: T.StructField
    src: np.ndarray
    dst: np.ndarray
    weight: pa.Array | None

    @property
    def n(self) -> int:
        return len(self.ids)

    def positions(self, values: pa.Array | pa.ChunkedArray):
        """Codes of ``values`` (cast to the vertex type), and the mask of
        the values that are ids of the graph."""
        pos = pc.index_in(values.cast(self.ids.type), value_set=self.ids)
        found = pos.is_valid().to_numpy(zero_copy_only=False)
        return pos.fill_null(0).to_numpy(), found


def local_graph(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    weight_col: str | None = None,
) -> LocalGraph | None:
    """Fetch ``edges`` (``src, dst`` and optionally ``weight_col``) plus
    the ``id`` column of ``vertices`` to the driver. None when the graph
    stays on the DataFrame path: more than ``SMALL_GRAPH_LIMIT`` edges or
    a null id (the DataFrame loops' joins drop those)."""
    ids = edges.select(F.col("src").alias("id")).unionByName(
        edges.select(F.col("dst").alias("id"))
    )
    if vertices is not None:
        ids = ids.unionByName(vertices.select("id"))
    vfield = ids.schema["id"]
    vtype = vfield.dataType
    cols = [F.col("src").cast(vtype), F.col("dst").cast(vtype)]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double"))
    table = fetch(edges.select(*cols))
    if table is None:
        return None
    arrays = [table.column(0), table.column(1)]
    if vertices is not None:
        arrays.append(vertices.select(F.col("id").cast(vtype)).toArrow()[0])
    all_ids = pa.concat_arrays([a.combine_chunks() for a in arrays])
    if all_ids.null_count:
        return None
    ids, codes = sorted_codes(all_ids)
    m = table.num_rows
    return LocalGraph(
        ids=ids,
        vfield=vfield,
        src=codes[:m],
        dst=codes[m : 2 * m],
        weight=(
            table.column(2).combine_chunks() if weight_col is not None else None
        ),
    )


def label_loop(
    spark: SparkSession,
    graph: LocalGraph,
    labels: np.ndarray,
    step: Callable[[np.ndarray], np.ndarray],
    max_iter: int,
    checkpoint_every: int,
    checkpoint_dir: str | None,
    resume: bool,
    label: str,
    label_nullable: bool,
) -> SuperstepResult:
    """``run_supersteps`` for a vertex-label state held as codes on the
    driver: ``step(labels) -> new labels`` until no label changes or
    ``max_iter``. Returns the same ``SuperstepResult`` as the DataFrame
    loops (state ``vertex, label, prev_label``, one metrics row per round
    with ``delta`` = changed labels, a ``"resume"`` row first on resume)
    and writes and resumes the same checkpoint files, from the driver
    (``supersteps.write_table`` / ``read_table``)."""
    metrics: list[dict] = []
    prev = None
    start_iter = 0
    found = (
        read_checkpoint(spark, checkpoint_dir, label, "local")
        if resume
        else None
    )
    if found is not None:
        start_iter, ckpt, resume_row = found
        pos, found_v = graph.positions(ckpt.column("vertex"))
        codes = [
            graph.positions(ckpt.column(c)) for c in ("label", "prev_label")
        ]
        if ckpt.num_rows != graph.n or not (
            found_v.all() and all(f.all() for _, f in codes)
        ):
            raise ValueError(
                f"checkpoint under {checkpoint_dir} holds a different "
                "vertex set than this graph"
            )
        labels = np.empty(graph.n, dtype=np.int64)
        prev = np.empty(graph.n, dtype=np.int64)
        labels[pos], prev[pos] = codes[0][0], codes[1][0]
        metrics.append(resume_row)

    def state(cur, before):
        """``(table, schema)``: vertex, label and, after a round,
        prev_label, with the DataFrame loop's schema."""
        vf = graph.vfield
        fields = [
            T.StructField("vertex", vf.dataType, vf.nullable),
            T.StructField("label", vf.dataType, label_nullable),
        ]
        cols = [graph.ids, graph.ids.take(pa.array(cur))]
        if before is not None:
            fields.append(
                T.StructField("prev_label", vf.dataType, label_nullable)
            )
            cols.append(graph.ids.take(pa.array(before)))
        table = pa.table(cols, names=[f.name for f in fields])
        return table, T.StructType(fields)

    converged = False
    it = start_iter
    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.perf_counter()
        prev = labels
        labels = step(prev)
        delta = float(np.count_nonzero(labels != prev))
        row = {
            "iteration": it,
            "wall_ms": (time.perf_counter() - t0) * 1000.0,
            "delta": delta,
            "event": "step",
            "label": label,
            "path": "local",
        }
        if checkpoint_dir and checkpoint_every and it % checkpoint_every == 0:
            table, schema = state(labels, prev)
            write_checkpoint(
                spark, checkpoint_dir, it, table, delta, label, schema
            )
            row["event"] = "checkpoint"
        metrics.append(row)
        if delta <= 0:
            converged = True
            break
    table, schema = state(labels, prev)
    return SuperstepResult(
        spark.createDataFrame(table, schema=schema), it, converged, metrics,
        table,
    )


def _to_nx(edges: DataFrame, vertices: DataFrame | None, directed: bool):
    import networkx as nx

    G = nx.DiGraph() if directed else nx.Graph()
    table = fetch(edges.select("src", "dst", "weight"))
    if table is None:
        raise ValueError(
            f"small-graph fallback refused: more than {SMALL_GRAPH_LIMIT} "
            "edges. These centralities have no scalable distributed "
            "formulation; run them per-document."
        )
    G.add_weighted_edges_from(
        zip(*(table.column(c).to_pylist() for c in ("src", "dst", "weight")))
    )
    if vertices is not None:
        G.add_nodes_from(vertices.select("id").toArrow()[0].to_pylist())
    return G


def _flatten_edge_scores(edge_scores: dict) -> dict:
    """Per-node max over incident edge scores (reference
    ``_flatten_nodes_betweenness_weights``, core.py:875-899)."""
    out: dict = {}
    for (u, v), val in edge_scores.items():
        if u not in out or out[u] < val:
            out[u] = val
        if v not in out or out[v] < val:
            out[v] = val
    return out


def _per_component(scoring, G) -> dict:
    import networkx as nx

    if nx.is_connected(G):
        weighted = scoring(G)
    else:
        weighted = {}
        for c in nx.connected_components(G):
            try:
                weighted.update(scoring(G.subgraph(c)))
            except ZeroDivisionError:
                continue
    return {k: v for k, v in weighted.items() if v != float("inf")}


def nx_fallback_scores(
    edges: DataFrame,
    method: str,
    vertices: DataFrame | None = None,
    directed: bool = False,
) -> DataFrame:
    """Supported methods: betweenness_centrality,
    edge_betweenness_centrality, closeness_centrality, load_centrality,
    current_flow_closeness, current_flow_betweenness,
    edge_current_flow_betweenness, communicability_betweenness.
    Returns (vertex, score)."""
    import networkx as nx

    spark = edges.sparkSession
    G = _to_nx(edges, vertices, directed)

    if method == "betweenness_centrality":
        scores = nx.betweenness_centrality(G)
    elif method == "edge_betweenness_centrality":
        scores = _flatten_edge_scores(nx.edge_betweenness_centrality(G))
    elif method == "closeness_centrality":
        scores = nx.closeness_centrality(G)
    elif method == "load_centrality":
        scores = nx.load_centrality(G)
    elif method == "current_flow_closeness":
        scores = _per_component(nx.current_flow_closeness_centrality, G)
    elif method == "current_flow_betweenness":
        scores = _per_component(nx.current_flow_betweenness_centrality, G)
    elif method == "edge_current_flow_betweenness":
        scores = _flatten_edge_scores(
            _per_component(nx.edge_current_flow_betweenness_centrality, G)
        )
    elif method == "communicability_betweenness":
        scores = _per_component(nx.communicability_betweenness_centrality, G)
    else:
        raise ValueError(f"unknown small-graph method: {method}")

    return spark.createDataFrame(
        [(k, float(v)) for k, v in scores.items()], "vertex string, score double"
    )
