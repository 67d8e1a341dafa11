r"""spark-submit entry point for the link-graph suite (north rule: "ships
as a spark-submit --py-files job").

    # zip the package (or let the job ship itself via addPyFile); the zip
    # is $TMPDIR/jgtextrank_spark-<hash of the sources>.zip
    ZIP=$(python -c "import jgtextrank_spark.session as s; print(s.package_zip())")
    spark-submit --master <cluster> \
        --py-files "$ZIP" \
        jobs/linkgraph_job.py \
        --pages  s3://bucket/crawl/pages/          \  # (url, warc_ts, html, text, lang)
        --output s3://bucket/out/pagerank/          \
        --algo pagerank --edge-source links --host-graph \
        --checkpoint-dir s3://bucket/ckpt/run1 --max-iter 100

Edge sources:
  links         hyperlink graph from the html column (weblinks.link_edges)
  cooccurrence  token co-occurrence graph from the text column
Or pass ``--edges`` to read a prebuilt (src, dst, weight) table directly.

Outputs ``<output>/result`` (parquet) and ``<output>/metrics.json``
(per-superstep wall/delta/partition rows, each naming the solver path
that ran it — the run's lineage record), both written through the
Hadoop FileSystem, so ``--output`` may be any URI Spark can write. When
PageRank solved on the driver, the driver writes ``result`` from the
Arrow state it holds; every other run writes it with Spark.
The job is resumable: re-submitting with the same --checkpoint-dir
continues from the newest durable superstep checkpoint.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="pages parquet (url, warc_ts, html, text, lang)")
    src.add_argument("--warc", help="directory of .warc/.warc.gz files "
                     "(native crawl input; parsed to the pages shape)")
    src.add_argument("--edges", help="prebuilt (src, dst, weight) parquet")
    p.add_argument("--output", required=True)
    p.add_argument(
        "--algo", default="pagerank",
        choices=["pagerank", "components", "components_star", "labelprop",
                 "triangles", "scc", "salsa", "hits", "trustrank",
                 "louvain", "leiden", "toposort", "onion"],
    )
    p.add_argument(
        "--trusted", default=None,
        help="comma-separated trusted seed vertex ids (required for "
        "--algo trustrank)",
    )
    p.add_argument("--edge-source", default="links",
                   choices=["links", "cooccurrence"])
    p.add_argument("--host-graph", action="store_true",
                   help="roll the page graph up to hosts first")
    p.add_argument("--window", type=int, default=2)
    p.add_argument(
        "--max-iter", type=int, default=None,
        help="superstep cap (default: 100; 20 for labelprop, whose "
        "sequential-spec unrolled oracle uses 20 supersteps)",
    )
    p.add_argument("--tol", type=float, default=1.0e-6)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--checkpoint-every", type=int, default=10)
    p.add_argument("--salt-buckets", type=int, default=0)
    p.add_argument("--encode-ids", action="store_true")
    p.add_argument(
        "--undirected", action="store_true",
        help="treat the edge table as undirected for pagerank "
        "(symmetrize before solving). Default: link-graph and prebuilt "
        "--edges inputs are DIRECTED; only the co-occurrence source is "
        "symmetrized implicitly.",
    )
    args = p.parse_args(argv)
    if args.max_iter is None:
        # labelprop's default matches the 20-superstep unrolled oracle; an
        # explicit --max-iter is always honored (no silent clamping)
        args.max_iter = 20 if args.algo == "labelprop" else 100
    return args


def build_edges(spark, args):
    from pyspark.sql import functions as F

    if args.edges:
        return spark.read.parquet(args.edges)
    if args.warc:
        from jgtextrank_spark.io import warc_pages

        pages = warc_pages(spark, args.warc)
    else:
        pages = spark.read.parquet(args.pages)
    if args.edge_source == "links":
        from jgtextrank_spark.weblinks import host_edges, link_edges

        edges = link_edges(pages)
        return host_edges(edges) if args.host_graph else edges
    from jgtextrank_spark.functions.textstats import tokens_expr
    from jgtextrank_spark.graph import cooccurrence_pairs

    toks = pages.select(tokens_expr("text").alias("tokens"))
    pairs = cooccurrence_pairs(toks, window=args.window)
    return (
        pairs.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from jgtextrank_spark import fsutil
    from jgtextrank_spark.supersteps import write_table

    edges = build_edges(spark, args)
    metrics: list[dict] = []
    table = None  # the result, when the solver left it on the driver
    if args.algo == "pagerank":
        from jgtextrank_spark.algos.pagerank import pagerank_result
        from jgtextrank_spark.graph import symmetrize

        # directed by default for link graphs AND prebuilt edge tables
        # (a materialized link graph must score identically to the same
        # graph built in-job); co-occurrence graphs are undirected.
        undirected = args.undirected or (
            (args.pages or args.warc) and args.edge_source == "cooccurrence"
        )
        e = symmetrize(edges) if undirected else edges
        res, _n = pagerank_result(
            e, max_iter=args.max_iter, tol=args.tol,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_every=args.checkpoint_every,
            salt_buckets=args.salt_buckets,
        )
        out = res.state.select("vertex", F.col("rank").alias("score"))
        metrics = res.metrics
        if res.table is not None:
            table = res.table.select(["vertex", "rank"]).rename_columns(
                ["vertex", "score"]
            )
    elif args.algo in ("components", "components_star"):
        from jgtextrank_spark.algos.components import connected_components

        out = connected_components(
            edges,
            algorithm="star" if args.algo == "components_star" else "hashmin",
            encode_ids=args.encode_ids,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_every=args.checkpoint_every,
            max_iter=args.max_iter,
        )
    elif args.algo == "labelprop":
        from jgtextrank_spark.algos.labelprop import label_propagation

        out = label_propagation(
            edges, max_iter=args.max_iter,
            encode_ids=args.encode_ids,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_every=args.checkpoint_every,
        )
    elif args.algo == "scc":
        from jgtextrank_spark.algos.scc import strongly_connected_components

        out = strongly_connected_components(edges)
    elif args.algo == "salsa":
        from jgtextrank_spark.algos.salsa import salsa

        out = salsa(edges)
    elif args.algo == "hits":
        from jgtextrank_spark.algos.centrality import hits

        out = hits(
            edges, max_iter=args.max_iter, tol=args.tol,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_every=args.checkpoint_every,
        )
    elif args.algo == "louvain":
        from jgtextrank_spark.algos.louvain import louvain

        res = louvain(
            edges, levels=2, max_rounds=args.max_iter,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_every=args.checkpoint_every,
        )
        out = res.assignment
        metrics = res.metrics
    elif args.algo == "leiden":
        from jgtextrank_spark.algos.louvain import leiden

        res = leiden(
            edges, levels=3, max_rounds=args.max_iter,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_every=args.checkpoint_every,
        )
        out = res.assignment
        metrics = res.metrics
    elif args.algo == "toposort":
        from jgtextrank_spark.algos.toposort import topological_layers

        res = topological_layers(
            edges, max_rounds=args.max_iter,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_every=args.checkpoint_every,
        )
        out = res.layers
        metrics = res.metrics
    elif args.algo == "onion":
        from jgtextrank_spark.algos.onion import onion_decomposition

        res = onion_decomposition(
            edges, max_rounds=args.max_iter,
            checkpoint_dir=args.checkpoint_dir,
            checkpoint_every=args.checkpoint_every,
        )
        out = res.state
        metrics = res.metrics
    elif args.algo == "trustrank":
        from jgtextrank_spark.algos.pagerank import trustrank

        if not args.trusted:
            raise SystemExit("--algo trustrank requires --trusted ids")
        seeds = spark.createDataFrame(
            [(s,) for s in args.trusted.split(",") if s], "id string"
        )
        out = trustrank(
            edges, seeds, max_iter=args.max_iter, tol=args.tol,
        )
    else:
        from jgtextrank_spark.algos.triangles import triangle_counts

        out = triangle_counts(edges)

    result = os.path.join(args.output, "result")
    if table is not None:
        write_table(spark, result, table, out.schema)
        rows = table.num_rows
    else:
        out.write.mode("overwrite").parquet(result)
        rows = spark.read.parquet(result).count()
    summary = {
        "algo": args.algo,
        "rows": rows,
        "superstep_metrics": metrics,
    }
    fsutil.write_text(
        spark,
        os.path.join(args.output, "metrics.json"),
        json.dumps(summary, indent=1),
    )
    return summary


def _get_session():
    """Under spark-submit, respect the submit command's master/conf (it
    lands in the JVM system properties that SparkConf reads); standalone,
    fall back to the library's local-mode factory. Either way call-site
    capture is off (see ``session``) unless the submit conf sets it; the
    setting counts only before the first Column call."""
    from pyspark import SparkConf
    from pyspark.sql import SparkSession

    from jgtextrank_spark.session import get_spark, ship_package

    conf = SparkConf()
    if conf.contains("spark.master"):
        spark = SparkSession.builder.getOrCreate()
        key = "spark.python.sql.dataFrameDebugging.enabled"
        if not conf.contains(key):
            spark.conf.set(key, "false")
        ship_package(spark)  # a no-op when --py-files shipped the same zip
        return spark
    return get_spark(master=os.environ.get("SPARK_MASTER"))


def main(argv=None):
    args = parse_args(argv)
    spark = _get_session()
    summary = run(spark, args)
    print(json.dumps({k: v for k, v in summary.items()
                      if k != "superstep_metrics"}))


if __name__ == "__main__":
    main()
