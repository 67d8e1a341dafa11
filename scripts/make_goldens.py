"""Generate the committed correctness goldens for the gate queries whose
semantics are data-dependent loops (not ANSI-SQL-expressible):

* ``coreness``          — verified at generation time against
                          ``networkx.core_number`` (exact).
* ``msf_forest``        — verified against
                          ``networkx.minimum_spanning_edges`` (exact edge
                          set on md5-perturbed, hence distinct, weights).
* ``betweenness_pages`` — verified against
                          ``networkx.betweenness_centrality`` to 1e-9.
* ``textrank_keywords`` and ``textrank_gcvalue`` — verified at generation
                          time against the REAL reference
                          (``keywords_extraction_from_tagged_corpus``) run
                          on the identical tagged stream.

The textrank check is exact, not approximate, via a sentinel trick: the
gate runs with ``per_doc_collapse=True`` (runs bounded by documents, no
trailing-run drop), while the reference collapses over one global token
stream with a trailing-run quirk (core.py:926-934). Feeding the reference
the same per-document sentences with a one-token punctuation sentinel
sentence ``[('.', '.')]`` inserted between documents AND after the last
document makes the two semantics coincide exactly:

* the sentinel is never a vertex (tag '.' fails the syntactic filter) and
  its single-token sentence produces no co-occurrence pairs, so the graph
  and all PageRank scores are untouched;
* as a non-keyword token it breaks every keyword run at a document
  boundary, reproducing per-doc collapse bounds;
* the final sentinel guarantees no keyword run touches the end of the
  stream, so the reference's trailing-run drop never fires.

``top_p=1.0`` (the gate setting) removes the reference's only other
nondeterminism — Python-hash-ordered ties at the top-T boundary.

Usage: python scripts/make_goldens.py [sf_dir] [name ...]   (default
sf0.01; names: coreness textrank gcvalue msf betweenness, default all).
Writes goldens/{coreness,textrank,textrank_gcvalue,msf,betweenness}_<sf>
.parquet and refuses to write on any verification mismatch.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

import conftest  # noqa: E402,F401  installs the nltk stub + reference path


def _serial_pools():
    from oracle.nxparity import install_solver_patches

    install_solver_patches()

    class _SerialPool:
        def __init__(self, processes=None):
            pass

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def starmap(self, fn, iterable):
            return [fn(*args) for args in iterable]

    import jgtextrank.core as _core
    import jgtextrank.metrics as _metrics

    _core.Pool = _SerialPool
    _metrics.MultiprocPool = _SerialPool


def _write(df, path: Path):
    pdf = df.toPandas()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    print(f"wrote {path} ({len(pdf)} rows)")


def make_coreness(spark, entrymod, sf_dir: str, out: Path):
    import networkx as nx
    from pyspark.sql import functions as F

    got = entrymod.q_coreness(spark, sf_dir).persist()
    edges = entrymod._doc_edges(spark, sf_dir)
    G = nx.Graph()
    for r in edges.filter(F.col("src") != F.col("dst")).collect():
        G.add_edge(r["src"], r["dst"])
    for r in edges.collect():  # isolated / self-loop-only vertices
        G.add_node(r["src"])
        G.add_node(r["dst"])
    want = nx.core_number(G)
    got_map = {r["vertex"]: r["core"] for r in got.collect()}
    assert got_map == want, (
        f"coreness mismatch vs networkx: "
        f"{dict(set(got_map.items()) ^ set(want.items()))}"
    )
    print(f"coreness verified vs nx.core_number ({len(got_map)} vertices)")
    _write(got, out)


def make_textrank(spark, entrymod, sf_dir: str, out: Path, weight_comb="sum"):
    from jgtextrank import keywords_extraction_from_tagged_corpus
    from jgtextrank_spark.corpus import build_sentences
    from pyspark.sql import functions as F

    pages = entrymod._docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    sents = (
        build_sentences(pages)
        .select("url", "sent_id", "tagged")
        .orderBy("url", "sent_id")
        .collect()
    )
    sentinel = [(".", ".")]
    tagged_stream, last_url = [], None
    for row in sents:
        if last_url is not None and row["url"] != last_url:
            tagged_stream.append(sentinel)
        tagged_stream.append([(t["token"], t["tag"]) for t in row["tagged"]])
        last_url = row["url"]
    tagged_stream.append(sentinel)

    sorted_terms, _ = keywords_extraction_from_tagged_corpus(
        tagged_stream, lemma=False, window=2, weight_comb=weight_comb,
        top_p=1.0,
    )
    want = dict(sorted_terms)

    query = (
        entrymod.q_textrank_keywords
        if weight_comb == "sum"
        else entrymod.q_textrank_gcvalue
    )
    got_df = query(spark, sf_dir).persist()
    got = {r["term"]: r["score"] for r in got_df.collect()}
    missing = set(want) - set(got)
    extra = set(got) - set(want)
    diff = {t: (want[t], got[t]) for t in want if t in got and want[t] != got[t]}
    assert not (missing or extra or diff), (
        f"textrank mismatch vs reference: missing={sorted(missing)[:5]} "
        f"extra={sorted(extra)[:5]} diff={dict(list(diff.items())[:5])} "
        f"(|want|={len(want)}, |got|={len(got)})"
    )
    print(f"textrank verified vs reference ({len(got)} terms, exact)")
    _write(got_df, out)


def make_msf(spark, entrymod, sf_dir: str, out: Path):
    """Borůvka MSF golden on the md5-perturbed token graph. Perturbed
    weights are distinct, so the MSF is UNIQUE and the verification is
    exact edge-set equality vs networkx.minimum_spanning_edges run on an
    independently computed (pure-python hashlib) perturbation."""
    import hashlib

    import networkx as nx

    got_df = entrymod.q_msf_forest(spark, sf_dir).persist()
    got = {(r["u"], r["v"], r["weight"]) for r in got_df.collect()}
    G = nx.Graph()
    for r in entrymod._doc_edges(spark, sf_dir).collect():
        s, d = r["src"], r["dst"]
        if s == d:
            continue
        u, v = min(s, d), max(s, d)
        h = hashlib.md5(f"{u}:{v}".encode()).hexdigest()
        G.add_edge(u, v, weight=r["weight"] + int(h[:12], 16) / float(2**48))
    want = {
        (min(a, b), max(a, b), G[a][b]["weight"])
        for a, b in nx.minimum_spanning_edges(G, data=False)
    }
    assert got == want, (
        f"msf mismatch vs networkx: only_spark={sorted(got - want)[:5]} "
        f"only_nx={sorted(want - got)[:5]} (|got|={len(got)}, "
        f"|want|={len(want)})"
    )
    print(f"msf verified vs nx.minimum_spanning_edges ({len(got)} edges)")
    _write(got_df, out)


def make_betweenness(spark, entrymod, sf_dir: str, out: Path):
    """Exact betweenness golden on the synthesized page link graph,
    verified against nx.betweenness_centrality(normalized=False) to
    1e-9 — and every value checked to sit > 1e-7 away from a 6-dp
    rounding boundary, so the gate's round(x, 6) comparison is stable
    under cross-run aggregation-order noise."""
    import networkx as nx
    from pyspark.sql import functions as F

    from jgtextrank_spark.algos.betweenness import betweenness_sampled
    from jgtextrank_spark.weblinks import link_edges

    edges = link_edges(entrymod._synth_pages(spark, sf_dir))
    G = nx.Graph()
    for r in edges.collect():
        if r["src"] != r["dst"]:
            G.add_edge(r["src"], r["dst"])
    want = nx.betweenness_centrality(G, normalized=False)
    got_df = betweenness_sampled(edges).persist()
    got = {r["vertex"]: r["betweenness"] for r in got_df.collect()}
    assert got.keys() == want.keys(), (
        f"vertex set mismatch: {len(got)} vs {len(want)}"
    )
    for v, b in want.items():
        assert abs(got[v] - b) <= 1e-9, (v, got[v], b)
        frac = abs(b * 1e6 - round(b * 1e6))
        assert abs(frac - 0.5) > 0.1, (
            f"value {b!r} at vertex {v} is too close to a 6-dp rounding "
            f"boundary for a stable golden"
        )
    print(f"betweenness verified vs nx ({len(got)} vertices, 1e-9)")
    _write(
        got_df.select(
            "vertex", F.round("betweenness", 6).alias("betweenness")
        ),
        out,
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sf_tag = Path(sf_dir).name
    _serial_pools()
    import __spark_entry__ as entrymod
    from jgtextrank_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    gold_dir = REPO / "goldens"
    gold_dir.mkdir(exist_ok=True)
    only = set(sys.argv[2:])  # optional golden-name filter, e.g. "gcvalue"

    def want(name):
        return not only or name in only

    if want("coreness"):
        make_coreness(
            spark, entrymod, sf_dir, gold_dir / f"coreness_{sf_tag}.parquet"
        )
    if want("textrank"):
        make_textrank(
            spark, entrymod, sf_dir, gold_dir / f"textrank_{sf_tag}.parquet"
        )
    if want("gcvalue"):
        make_textrank(
            spark,
            entrymod,
            sf_dir,
            gold_dir / f"textrank_gcvalue_{sf_tag}.parquet",
            weight_comb="gcvalue",
        )
    if want("msf"):
        make_msf(spark, entrymod, sf_dir, gold_dir / f"msf_{sf_tag}.parquet")
    if want("betweenness"):
        make_betweenness(
            spark, entrymod, sf_dir, gold_dir / f"betweenness_{sf_tag}.parquet"
        )


if __name__ == "__main__":
    main()
