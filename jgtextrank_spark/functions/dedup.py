"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale notes baked into each: the exact path is one hash-groupBy; the
near-dup paths never materialize the O(n^2) pair space — candidates come
from LSH band buckets (MinHash), hamming buckets (SimHash) or sign-pattern
buckets (embeddings), with an exact verify join afterwards. All hashing is
md5-based so the DuckDB oracle can replay it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import fingerprint, tokens_expr

__all__ = [
    "exact_duplicates",
    "shingles",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "exact_jaccard_for_pairs",
    "simhash",
    "simhash_near_dup_pairs",
    "embedding_near_dup_pairs",
    "kgram_positions",
    "duplicate_spans",
    "strip_duplicate_spans",
    "paragraph_dedup",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_filter",
]


def exact_jaccard_for_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard for an explicit candidate-pair table:
    ``(doc_a, doc_b)`` -> ``(doc_a, doc_b, jaccard)``. The verify stage
    shared by the batch LSH path and the streaming candidate stream
    (foreachBatch) — linear in the candidate count, never all-pairs."""
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    sh = shingles(d, "text", n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.select("doc_a", "doc_b")
        .join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.select("doc_a", "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce("inter", F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce("inter", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs:
    (fp, canonical_doc, n_dups). Canonical = min doc_id. One shuffle."""
    fp = fingerprint(df, text_col)
    return (
        fp.groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, shingle): distinct word n-gram shingles per doc, built with
    array higher-order functions (no Python)."""
    toks = tokens_expr(text_col)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return df.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs:
    (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >= threshold.

    Inverted-index self-join on shingles; ``max_shingle_freq`` drops
    degenerate shingles shared by huge numbers of docs (boilerplate) — the
    standard web-scale guard against quadratic hot keys. The cap is an
    explicit, tunable parameter (set it above your corpus size to disable);
    pairs whose ONLY shared shingles are boilerplate are not reported.
    """
    sh = shingles(df, text_col, n).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    freq_ok = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") <= max_shingle_freq)
        .select("shingle")
    )
    sh_f = sh.join(freq_ok, "shingle", "left_semi")
    a = sh_f.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh_f.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def _minhash_col(band: int, row: int) -> Column:
    """One MinHash value: min over shingles of md5(salt || shingle). String
    min over hex digests is a valid uniform min-hash family and replays
    identically in any engine with md5."""
    salt = f"{band}:{row}:"
    return F.min(F.md5(F.concat(F.lit(salt), F.col("shingle"))))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 2,
    verify_threshold: float | None = 0.7,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs:
    (doc_a, doc_b[, jaccard]) with doc_a < doc_b.

    Signature = bands x rows_per_band min-hashes; docs sharing any full band
    key become candidates (collision prob ~ 1-(1-s^r)^b). With
    ``verify_threshold`` set, candidates are verified with exact Jaccard
    and filtered — the standard candidate->verify split that keeps the
    join linear in bucket sizes at 100 TB.
    """
    sh = shingles(df, text_col, n).persist()
    mins = sh.groupBy("doc_id").agg(
        *[
            _minhash_col(b, r).alias(f"mh_{b}_{r}")
            for b in range(bands)
            for r in range(rows_per_band)
        ]
    )
    band_rows = None
    for b in range(bands):
        key = F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh_{b}_{r}") for r in range(rows_per_band)]
            )
        )
        one = mins.select(
            "doc_id", F.lit(b).alias("band"), key.alias("bucket")
        )
        band_rows = one if band_rows is None else band_rows.unionByName(one)

    a = band_rows.select(
        F.col("doc_id").alias("doc_a"), "band", "bucket"
    )
    b_ = band_rows.select(
        F.col("doc_id").alias("doc_b"), "band", "bucket"
    )
    cands = (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    if verify_threshold is None:
        return cands
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
    )


_SIMHASH_BITS = 48  # 12 hex chars of md5 -> fits comfortably in a long


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): 48-bit SimHash over whitespace tokens weighted by
    in-doc frequency. Token hash = first 12 hex chars of md5(token); all
    bit algebra is JVM-side (conv/shiftright), no Python."""
    toks = df.select("doc_id", F.explode(tokens_expr(text_col)).alias("tok"))
    weighted = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("w")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10).cast("long")
    weighted = weighted.withColumn("h", h)
    bit_sums = weighted.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                    F.col("w"),
                ).otherwise(-F.col("w"))
            ).alias(f"b{j}")
            for j in range(_SIMHASH_BITS)
        ]
    )
    sig = None
    for j in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return bit_sums.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    block_bits: int = 12,
) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within ``max_hamming`` bit flips.

    Candidate generation by block permutation: split the 48-bit signature
    into 4 blocks of ``block_bits``; any pair within hamming distance 3
    shares at least one exact block (pigeonhole) -> join per block, then
    verify exact hamming with bit_count.
    """
    sigs = simhash(df, text_col).persist()
    n_blocks = _SIMHASH_BITS // block_bits
    blocks = None
    for i in range(n_blocks):
        one = sigs.select(
            "doc_id",
            "simhash",
            F.lit(i).alias("blk"),
            F.shiftright(F.col("simhash"), i * block_bits)
            .bitwiseAND(F.lit(2**block_bits - 1))
            .alias("key"),
        )
        blocks = one if blocks is None else blocks.unionByName(one)
    a = blocks.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
        "blk", "key",
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
        "blk", "key",
    )
    cands = (
        a.join(b, ["blk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).alias("hamming")
    return cands.select("doc_a", "doc_b", hamming).filter(
        F.col("hamming") <= max_hamming
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_dims: int = 0,
) -> DataFrame:
    """(id_a, id_b, cosine): embedding near-duplicates above a cosine
    threshold. ``bucket_dims=0`` = exact brute force (quadratic — small
    inputs / verification); ``bucket_dims=k`` buckets by the sign pattern
    of the first k dimensions first (near-identical vectors almost surely
    share it), making the join linear in bucket sizes at scale."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(
        F.col(id_col).alias("id"),
        v.alias("vec"),
        F.sqrt(
            F.aggregate(
                v, F.lit(0.0), lambda acc, x: acc + x * x
            )
        ).alias("nrm"),
    )
    if bucket_dims > 0:
        sign_key = F.concat_ws(
            "",
            *[
                F.when(F.element_at("vec", i + 1) >= 0, "1").otherwise("0")
                for i in range(bucket_dims)
            ],
        )
        base = base.withColumn("bkt", sign_key)
        join_cond = ["bkt"]
    else:
        base = base.withColumn("bkt", F.lit(0))
        join_cond = ["bkt"]
    a = base.select(
        F.col("id").alias("id_a"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"), "bkt",
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"), "bkt",
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, join_cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Exact substring (duplicate-span) deduplication
# ---------------------------------------------------------------------------

def kgram_positions(
    df: DataFrame, text_col: str = "text", k: int = 5
) -> DataFrame:
    """Positional k-gram table ``(doc_id, pos, gh)``: one row per token
    position ``pos`` (0-based) whose k-token window starts there, with
    ``gh = md5`` of the space-joined window.

    Built with array higher-order functions (sequence/transform/slice) —
    zero shuffle, no positional self-join, no Python in the hot path. The
    md5 key makes the whole pipeline bit-replayable in any engine
    (the correctness gate replays it in DuckDB)."""
    toks = tokens_expr(text_col)
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.struct(
                (i - 1).cast("long").alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(toks, i, k))).alias("gh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:long,gh:string>>"))
    return df.select("doc_id", F.explode(grams).alias("g")).select(
        "doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_occurrences: int = 2,
    cross_doc_only: bool = False,
) -> DataFrame:
    """Exact duplicate-SPAN detection (the "deduplicating training data"
    substring-dedup operator, cf. Lee et al. 2022): find every maximal
    token span of length >= k that occurs at least ``min_occurrences``
    times in the corpus.

    Returns ``(doc_id, span_start, span_end, n_grams)`` — token indices
    are 0-based and ``span_end`` is INCLUSIVE; ``n_grams`` is the number
    of duplicated k-grams merged into the span (span length in tokens is
    ``span_end - span_start + 1 = n_grams + k - 1``).

    Plan shape (scale rationale): one zero-shuffle k-gram projection
    (O(total tokens) rows), one partial-agg groupBy on the 16-byte gram
    hash, one shuffle hash join back to positions, then a PER-DOC window
    (gaps-and-islands: ``pos - row_number()``) to merge adjacent
    duplicated positions into maximal runs. Nothing is quadratic in
    corpus size and no window is global, so the plan survives 100x:
    the gram aggregation is the only corpus-wide exchange.

    ``cross_doc_only=True`` counts a gram as duplicated only when it
    appears in >= 2 distinct documents (pure within-doc repetition is
    the repetition-signal operator's job, functions/curation.py)."""
    g = kgram_positions(df, text_col, k)
    occ = g.groupBy("gh").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    cond = F.col("n_occ") >= min_occurrences
    if cross_doc_only:
        cond = cond & (F.col("n_docs") >= 2)
    dup = occ.filter(cond).select("gh")
    dp = g.join(dup, "gh").select("doc_id", "pos")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = dp.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 5,
    min_occurrences: int = 2,
) -> DataFrame:
    """Remove duplicated spans, keeping ONE canonical occurrence of each
    distinct span text: ``(doc_id, text_clean)``.

    Policy (deterministic): spans from :func:`duplicate_spans` are
    fingerprinted by the md5 of their token string; for each fingerprint
    the occurrence with the smallest ``(doc_id, span_start)`` survives,
    every other occurrence's tokens are dropped and the remaining tokens
    are re-joined with single spaces. Docs with no duplicated span pass
    through with normalized whitespace (so output framing is uniform).

    Scale: the keep/drop decision is a window over the span FINGERPRINT
    (cardinality = number of distinct duplicated span texts, each group
    tiny), dropped ranges per doc are collected into a per-doc array
    (bounded by spans-per-doc), and token filtering is array algebra —
    no global window, no Python."""
    spans = duplicate_spans(df, text_col, k, min_occurrences)
    toks_df = df.select(
        "doc_id", tokens_expr(text_col).alias("toks")
    )
    sp = spans.join(toks_df, "doc_id").select(
        "doc_id",
        "span_start",
        "span_end",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "toks",
                    (F.col("span_start") + 1).cast("int"),
                    (F.col("span_end") - F.col("span_start") + 1).cast(
                        "int"
                    ),
                ),
            )
        ).alias("sfp"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("sfp").orderBy("doc_id", "span_start")
    drop = (
        sp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct("span_start", "span_end")
            ).alias("drop_ranges")
        )
    )
    indexed = F.transform(
        "toks", lambda t, i: F.struct(t.alias("t"), i.cast("long").alias("i"))
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            F.coalesce(
                F.col("drop_ranges"),
                F.array().cast(
                    "array<struct<span_start:long,span_end:long>>"
                ),
            ),
            lambda r: (x["i"] >= r["span_start"])
            & (x["i"] <= r["span_end"]),
        ),
    )
    return toks_df.join(drop, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(
            " ", F.transform(kept, lambda x: x["t"])
        ).alias("text_clean"),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide PARAGRAPH-level exact dedup (the CCNet line-dedup
    operator, Wenzek et al. 2020): split every document on ``sep``, drop
    each paragraph whose normalized form (whitespace-collapsed,
    lowercased) already occurred earlier in the corpus, keep the FIRST
    occurrence (smallest ``(doc_id, pos)``), and re-join the survivors in
    original order. This is the standard boilerplate-killer at corpus
    granularity — a nav bar or cookie banner repeated across a site
    survives exactly once — complementing :func:`duplicate_spans` (token
    spans within the line structure) and ``boilerplate_lines``
    (per-document frequency heuristics, no cross-corpus state).

    Returns ``(doc_id, text_dedup, n_paras, n_kept)``; blank paragraphs
    (whitespace-only) always pass through — they are framing, not
    content — and count in neither total.

    Scale shape: one zero-shuffle posexplode projection (O(total
    paragraphs) rows), ONE exchange on the 16-byte paragraph hash for the
    first-occurrence window (group cardinality = distinct paragraphs,
    group size = occurrence count — tiny except true boilerplate, and a
    window computes rank in one pass without joining winners back), one
    per-doc aggregation to reassemble. No global window, no Python; md5
    keys keep the whole decision bit-replayable in DuckDB."""
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    from pyspark.sql import Window

    paras = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn(
        "blank", F.trim(F.col("para")) == ""
    ).withColumn(
        "pkey",
        F.md5(F.lower(F.trim(F.regexp_replace("para", r"\s+", " ")))),
    )
    w = Window.partitionBy("pkey").orderBy("doc_id", "pos")
    ranked = paras.withColumn(
        "rn", F.when(F.col("blank"), F.lit(1)).otherwise(F.row_number().over(w))
    )
    kept = ranked.filter(F.col("blank") | (F.col("rn") == 1))
    rebuilt = (
        kept.repartition(n_parts, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "para"))
                    ),
                    lambda s: s["para"],
                ),
            ).alias("text_dedup"),
            F.sum(F.when(F.col("blank"), 0).otherwise(1))
            .cast("long")
            .alias("n_kept"),
        )
    )
    totals = paras.groupBy("doc_id").agg(
        F.sum(F.when(F.col("blank"), 0).otherwise(1))
        .cast("long")
        .alias("n_paras")
    )
    return (
        df.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .join(totals, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup cluster resolution (pairs -> clusters -> canonical survivor)
# ---------------------------------------------------------------------------

def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Resolve a near-duplicate PAIR table into CLUSTERS:
    ``(doc_id, canonical_doc, cluster_size)`` — connected components over
    the undirected pair graph (near-dup similarity is not transitive, but
    cluster-then-keep-one is the standard corpus-dedup policy), canonical
    = min doc_id per cluster. Docs that appear in no pair are absent
    (each is trivially its own canonical).

    End-to-end composition of the engine's own parts: the pair source is
    any of ``minhash_lsh_pairs`` / ``simhash_near_dup_pairs`` /
    ``ngram_jaccard_pairs`` / ``embedding_near_dup_pairs``, and the
    clustering is ``algos.components.connected_components`` (hash-min +
    pointer jumping — O(log d) rounds, scale-proven on the gate's token
    graphs), so the whole path inherits the skew and shuffle behavior
    already benchmarked."""
    from ..algos.components import connected_components

    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).withColumn("weight", F.lit(1.0))
    cc = connected_components(edges)
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return cc.join(sizes, "component").select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("canonical_doc"),
        "cluster_size",
    )


def dedup_filter(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Apply cluster dedup to the corpus: input docs plus a ``keep``
    flag — true iff the doc is not near-duplicated or is its cluster's
    canonical survivor. A left join against the (small relative to the
    corpus) cluster table; the corpus itself is never shuffled."""
    clusters = dedup_clusters(pairs)
    return docs.join(
        F.broadcast(
            clusters.select(
                "doc_id", F.col("canonical_doc").alias("_canon")
            )
        ),
        "doc_id",
        "left",
    ).withColumn(
        "keep",
        F.col("_canon").isNull() | (F.col("_canon") == F.col("doc_id")),
    ).drop("_canon")


def dedup_keep_best(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Near-dup resolution with a QUALITY-AWARE keep policy: resolve the
    pair table into clusters (:func:`dedup_clusters`), score every
    document (:func:`~jgtextrank_spark.functions.textstats.quality_score`
    composite), and keep the highest-quality member of each cluster
    (ties to the smallest doc_id) — the standard refinement over
    keep-first dedup: when a page and its boilerplate-mangled mirror
    collide, the clean copy survives. Docs in no pair are their own
    singleton cluster and are kept.

    Returns ``(doc_id, canonical_doc, cluster_size, quality, keep)``.
    Scale shape: the pair-graph CC plus one broadcastable quality join
    and one window keyed by cluster — nothing global."""
    from pyspark.sql import Window

    from .textstats import quality_score

    clusters = dedup_clusters(pairs)
    q = quality_score(docs, text_col).select("doc_id", "quality")
    full = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("canonical_doc", "doc_id").alias("canonical_doc"),
            F.coalesce("cluster_size", F.lit(1))
            .cast("long")
            .alias("cluster_size"),
        )
        .join(q, "doc_id")
    )
    w = Window.partitionBy("canonical_doc").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return full.withColumn(
        "keep", F.row_number().over(w) == 1
    ).select("doc_id", "canonical_doc", "cluster_size", "quality", "keep")
