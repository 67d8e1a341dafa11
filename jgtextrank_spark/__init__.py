"""jgtextrank_spark — a from-scratch PySpark-native link-graph analytics
engine with the query/data-processing capabilities of
jerrygaoLondon/jgtextrank, re-expressed Spark-first.

Layers:
    extract / corpus   text -> sentences -> token tables (Arrow UDF extract)
    graph              co-occurrence / generic (src, dst, weight) edge tables
    supersteps         iterative harness (checkpoint/resume, metrics)
    algos              pagerank, components, labelprop, triangles,
                       centrality family (degree, k-core, HITS, ...)
    textrank           top-T -> collapse -> MWT weighting -> keywords
    functions          dedup and text stats (streaming, the job); the
                       other training-data-pipeline ops are reached by
                       no entry point (tests/test_reachability.py)
"""

from .session import get_spark  # noqa: F401

__version__ = "0.1.0"
