"""Hyperlink extraction + web link-graph construction.

The north-star input is a table of Common-Crawl-style pages
``(url, warc_ts, html binary, text, lang)`` and the engine's edge table
comes from BOTH hyperlinks and co-occurrence windows. ``graph.py`` covers
co-occurrence; this module covers the hyperlink side:

    pages ──extract_hrefs──► (src_url, href)
          ──resolve_href───► (src_url, dst_url)         absolute targets
          ──link_edges─────► (src, dst, weight)         page-level graph
          ──host_edges─────► (src, dst, weight)         host-level rollup

Everything is JVM-side column algebra (binary decode + regexp + string
ops) — no Python in the hot path, so extraction is embarrassingly
parallel over page partitions and the only shuffles are the final edge
aggregations. Every step is deterministic and replayable in ANSI SQL
(the correctness gate replays it in DuckDB).

URL resolution implements the subset of RFC 3986 that dominates web
corpora — absolute http(s), protocol-relative (``//h/p``), root-relative
(``/p``), and relative references — drops non-navigational schemes
(javascript/mailto/data/tel) and pure-fragment links, and removes
dot-segments (``./``, ``../`` incl. above-root clamping) from the
resolved path via the exact RFC 3986 §5.2.4 stack algorithm (one
``aggregate`` over path segments — no nesting-depth limit). The
resolver reads each of its inputs and parsed parts many times; each is
bound once with ``_let`` (a lambda variable of a one-element
``transform``), so the plan holds the resolver once instead of once per
use: ``link_edges``' optimized plan over one page holds 12
``regexp_extract`` nodes (the projection's copy and the pushed-down
filter's), where inlined Python variables gave 450 for Catalyst to
optimize and plan on the driver. ``aggregate`` and ``transform`` are
interpreted, outside whole-stage codegen.
``canonicalize_url`` adds scheme/host lowercasing, default-port
stripping, and percent-escape hex-case normalization; IDN host folding
needs the punycode algorithm and ships as an Arrow-batched pandas UDF
(``idn_fold_host``), opt-in.
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "HREF_PATTERN",
    "HREF_PATTERN_UNQUOTED",
    "ANCHOR_PATTERN",
    "ANCHOR_PATTERN_UNQUOTED",
    "extract_hrefs",
    "extract_anchor_texts",
    "anchor_text_table",
    "resolve_href",
    "normalize_dot_segments",
    "canonicalize_url",
    "idn_fold_host",
    "link_edges",
    "edge_diff",
    "top_movers",
    "host_of",
    "extract_canonical_urls",
    "extract_sitemap_urls",
    "registrable_domain",
    "domain_stats",
    "MULTI_PART_SUFFIXES",
    "host_edges",
    "mirror_host_pairs",
    "strip_tracking_params",
    "TRACKING_PARAM_RX",
    "html_to_text",
    "extract_page_text",
]

# href attribute of <a> tags; group 2 = the target (group 1 is the
# opening quote, backreferenced so an apostrophe inside a double-quoted
# href does not truncate the target). Case-insensitive, tolerant of
# attribute order.
HREF_PATTERN = r"""(?i)<a\s[^>]*href\s*=\s*(["'])([^>]*?)\1"""
_HREF_GROUP = 2

# Unquoted href values (href=foo.html — common in real crawl HTML): the
# value starts with a non-quote, non-space, non-'>' character and runs to
# the next whitespace or tag close. Disjoint from HREF_PATTERN by the
# leading character class, so the two extraction passes never double-count.
HREF_PATTERN_UNQUOTED = r"""(?i)<a\s[^>]*href\s*=\s*([^\s"'>][^\s>]*)"""
_HREF_GROUP_UNQUOTED = 1


def _html_str(col, binary: bool) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.decode(c, "UTF-8") if binary else c


def extract_hrefs(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    html_is_binary: bool = True,
) -> DataFrame:
    """(src_url, href): one row per anchor occurrence (duplicates kept —
    they carry the link weight). Quoted and unquoted attribute values are
    both extracted (two disjoint regexp passes concatenated — anchor
    ORDER within a page is not preserved across the two classes, which is
    immaterial: every consumer aggregates)."""
    h = _html_str(html_col, html_is_binary)
    return pages.select(
        F.col(url_col).alias("src_url"),
        F.explode(
            F.concat(
                F.regexp_extract_all(
                    h, F.lit(HREF_PATTERN), F.lit(_HREF_GROUP)
                ),
                F.regexp_extract_all(
                    h,
                    F.lit(HREF_PATTERN_UNQUOTED),
                    F.lit(_HREF_GROUP_UNQUOTED),
                ),
            )
        ).alias("href"),
    )


# full anchor elements, DOTALL so multi-line anchors match: quoted
# (groups: 1 quote, 2 href, 3 inner html) and unquoted (1 href, 2 inner)
ANCHOR_PATTERN = (
    r"""(?is)<a\s[^>]*href\s*=\s*(["'])([^>]*?)\1[^>]*>(.*?)</a>"""
)
ANCHOR_PATTERN_UNQUOTED = (
    r"""(?is)<a\s[^>]*href\s*=\s*([^\s"'>][^\s>]*)[^>]*>(.*?)</a>"""
)


def _clean_anchor(t: Column) -> Column:
    """Inner anchor html -> visible label: nested tags to spaces, the
    ubiquitous entities decoded, whitespace collapsed (the same cleaning
    contract as html_to_text, scoped to the anchor)."""
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, rep in _ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def extract_anchor_texts(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    html_is_binary: bool = True,
) -> DataFrame:
    """(src_url, href, anchor): one row per anchor element with its
    VISIBLE LABEL — the raw material of an anchor-text index. Both
    quoted and unquoted href forms. href/label pairs are recovered by
    running the SAME pattern twice with different group indices and
    positionally zipping the two arrays (same pattern ⇒ same match
    sequence, so the zip is exact); labels are tag-stripped and
    entity-decoded. Map-only JVM regexp algebra."""
    h = _html_str(html_col, html_is_binary)

    def _pairs(pattern: str, href_g: int, text_g: int) -> Column:
        return F.arrays_zip(
            F.regexp_extract_all(h, F.lit(pattern), F.lit(href_g)).alias(
                "href"
            ),
            F.regexp_extract_all(h, F.lit(pattern), F.lit(text_g)).alias(
                "txt"
            ),
        )

    both = F.concat(
        _pairs(ANCHOR_PATTERN, 2, 3),
        _pairs(ANCHOR_PATTERN_UNQUOTED, 1, 2),
    )
    return pages.select(
        F.col(url_col).alias("src_url"), F.explode(both).alias("p")
    ).select(
        "src_url",
        F.col("p.href").alias("href"),
        _clean_anchor(F.col("p.txt")).alias("anchor"),
    )


def anchor_text_table(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    html_is_binary: bool = True,
    drop_self_loops: bool = True,
) -> DataFrame:
    """The anchor-text index ``(dst, anchor, n)``: how the web DESCRIBES
    each target url — n = number of anchors with that exact label
    pointing at dst (hrefs resolved like link_edges; non-navigational
    and self links dropped). The classic relevance signal a link-graph
    corpus ships next to PageRank. One narrow extraction pass + one
    aggregation shuffle."""
    a = extract_anchor_texts(pages, html_col, url_col, html_is_binary)
    resolved = a.select(
        F.col("src_url").alias("src"),
        resolve_href(F.col("src_url"), F.col("href")).alias("dst"),
        "anchor",
    ).where(_kept_link(drop_self_loops))
    return resolved.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# scheme://authority of an absolute URL (group 1) and the path after it
# (group 2); query and fragment are excluded from the path
_ORIGIN_PATH = r"^([a-z][a-z0-9+.-]*://[^/?#]+)([^?#]*)"


def _let(value: Column, body) -> Column:
    """``body(v)`` with ``v`` bound to ``value``: ``value`` sits in the
    plan once, however often ``body`` reads ``v`` (a Python variable
    would copy its expression into the plan at every use). ``v`` is the
    lambda variable of a ``transform`` over the one-element
    ``array(value)``, so a NULL ``value`` binds as NULL."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _kept_link(drop_self_loops: bool) -> Column:
    """Keep resolved links: ``dst`` not NULL, and not ``src`` either when
    self-loops are dropped. One predicate, because the optimizer copies
    ``dst``'s resolver into every predicate it pushes below the
    projection; ``src != dst`` is NULL, so false, on a NULL ``dst``."""
    if drop_self_loops:
        return F.col("src") != F.col("dst")
    return F.col("dst").isNotNull()


def normalize_dot_segments(url: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal on the PATH of an absolute
    URL: ``/./`` collapses, ``/seg/../`` cancels, and above-root ``/../``
    clamps to ``/`` (browser behaviour). Implemented as the exact stack
    algorithm — ONE ``aggregate`` over the ``/``-split segments (``.``
    skipped, ``..`` pops, anything else pushed) — so arbitrary nesting
    depth resolves. A trailing ``.``/``..`` segment yields a trailing
    slash, and empty segments (``//``) are ordinary stack entries, both
    per the RFC. The origin is split off first so ``https://h.org/../x``
    clamps instead of eating the host; a URL without one is returned
    as is. ``url`` is evaluated once (``_let``)."""

    def parts(u: Column) -> Column:
        return F.struct(
            u.alias("url"),
            F.regexp_extract(u, _ORIGIN_PATH, 1).alias("origin"),
            F.regexp_extract(u, _ORIGIN_PATH, 2).alias("path"),
        )

    def normalized(p: Column) -> Column:
        path = p["path"]
        # query/fragment kept byte for byte
        rest = F.substr(p["url"], F.length(p["origin"]) + F.length(path) + 1)
        npath = _let(
            F.split(path, "/"),  # absolute path => segs[0] == ""
            lambda segs: F.aggregate(
                F.slice(segs, 2, F.greatest(F.size(segs) - 1, F.lit(0))),
                F.expr("cast(array() as array<string>)"),
                lambda acc, s: F.when(s == ".", acc)
                .when(
                    s == "..",
                    F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
                )
                .otherwise(F.concat(acc, F.array(s))),
                # a trailing '.'/'..' input segment leaves a trailing '/'
                lambda stack: F.concat(
                    F.lit("/"),
                    F.array_join(
                        F.when(
                            F.element_at(segs, -1).isin(".", ".."),
                            F.concat(stack, F.array(F.lit(""))),
                        ).otherwise(stack),
                        "/",
                    ),
                ),
            ),
        )
        npath = F.when(path == "", F.lit("")).otherwise(npath)
        return F.when(p["origin"] == "", p["url"]).otherwise(
            F.concat(p["origin"], npath, rest)
        )

    return _let(url, lambda u: _let(parts(u), normalized))


def resolve_href(base: Column, href: Column) -> Column:
    """Absolute target URL for ``href`` found on page ``base``, or NULL
    for non-navigational targets. Fragments are stripped first (links to
    an anchor on the same resource are the same edge). Each input and
    each part parsed from it is evaluated once (``_let``), so the plan
    grows linearly with the resolver, not with its uses."""

    def parts(b: Column) -> Column:
        # directory of the base: last '/' of the PATH component only — the
        # query/fragment are excluded first (a '/' inside '?x=/y' is not a
        # path separator), and a base with no path at all ('https://h.org')
        # resolves relative references against '/'
        path_dir = F.regexp_extract(
            F.regexp_extract(b, _ORIGIN_PATH, 2), r"^(.*/)", 1
        )
        return F.struct(
            F.split_part(F.trim(href), F.lit("#"), F.lit(1)).alias("h"),
            F.regexp_extract(b, r"^([a-z][a-z0-9+.-]*):", 1).alias("scheme"),
            F.regexp_extract(b, _ORIGIN_PATH, 1).alias("origin"),
            path_dir.alias("path_dir"),
        )

    def resolved(p: Column) -> Column:
        h, origin, path_dir = p["h"], p["origin"], p["path_dir"]
        base_dir = F.concat(
            origin, F.when(path_dir == "", F.lit("/")).otherwise(path_dir)
        )
        return (
            F.when(h == "", F.lit(None).cast("string"))
            .when(h.rlike(r"(?i)^(javascript|mailto|data|tel):"), F.lit(None))
            .when(h.rlike(r"(?i)^https?://"), h)
            .when(h.startswith("//"), F.concat(p["scheme"], F.lit(":"), h))
            .when(h.startswith("/"), F.concat(origin, h))
            .otherwise(F.concat(base_dir, h))
        )

    return normalize_dot_segments(_let(_let(base, parts), resolved))


def link_edges(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    html_is_binary: bool = True,
    drop_self_loops: bool = True,
) -> DataFrame:
    """Page-level link graph ``(src, dst, weight)``; weight = number of
    anchors from src to dst. One narrow extraction pass + one aggregation
    shuffle."""
    hrefs = extract_hrefs(pages, html_col, url_col, html_is_binary)
    resolved = hrefs.select(
        F.col("src_url").alias("src"),
        resolve_href(F.col("src_url"), F.col("href")).alias("dst"),
    ).where(_kept_link(drop_self_loops))
    return resolved.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("weight")
    )


def canonicalize_url(url: Column) -> Column:
    """Scheme-based URL canonicalization beyond dot-segments, as pure
    column algebra (JVM-side, DuckDB-replayable):

    * scheme + host lowercased (``HTTP://Ex.Org/P`` → ``http://ex.org/P``
      — path case is significant and kept). Userinfo (``user:pass@``,
      delimited by the first ``@`` in the authority — RFC 3986 forbids a
      raw ``@`` inside userinfo) is case-SENSITIVE and preserved as-is,
    * default ports stripped (``http://h:80/`` → ``http://h/``,
      ``https://h:443/`` → ``https://h/``) — keyed on the scheme alone,
      so userinfo (with or without a colon) doesn't defeat the strip,
    * percent-escape hex uppercased (``%2f`` → ``%2F``, RFC 3986 §6.2.2.1)
      — only for valid two-hex-digit escapes, so a literal ``100%`` stays.

    IDN (punycode) host folding needs the RFC 3492 algorithm — see
    :func:`idn_fold_host` (Arrow-batched pandas UDF, opt-in)."""
    origin = F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)", 1)
    rest = F.substr(url, F.length(origin) + 1)
    # split the authority: scheme :// [userinfo@] hostport — lowercase
    # only scheme + hostport, keep userinfo byte-for-byte.
    scheme = F.lower(
        F.regexp_extract(origin, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    auth = F.substr(origin, F.length(scheme) + 4)  # past "scheme://"
    userinfo = F.regexp_extract(auth, r"^([^@]*@)", 1)  # "" when absent
    hp = F.lower(F.substr(auth, F.length(userinfo) + 1))
    hp = (
        F.when(scheme == "http", F.regexp_replace(hp, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hp, r":443$", ""))
        .otherwise(hp)
    )
    o = F.concat(scheme, F.lit("://"), userinfo, hp)
    u = F.when(origin == "", url).otherwise(F.concat(o, rest))
    # uppercase the two hex digits after each '%' (valid escapes only)
    parts = F.split(u, "%")
    fixed = F.concat(
        F.slice(parts, 1, 1),
        F.transform(
            F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))),
            lambda s: F.when(
                F.substring(s, 1, 2).rlike("^[0-9a-fA-F]{2}$"),
                F.concat(
                    F.upper(F.substring(s, 1, 2)), F.substr(s, F.lit(3))
                ),
            ).otherwise(s),
        ),
    )
    return F.array_join(fixed, "%")


def idn_fold_host(url: Column) -> Column:
    """Punycode (IDNA) folding of the HOST component: a Unicode host like
    ``https://bücher.example/x`` becomes ``https://xn--bcher-kva.example/x``
    so the two spellings are one vertex. The RFC 3492 bootstring encoding
    is not expressible as column algebra, so this is the one opt-in
    Arrow-batched pandas UDF in the link path (vectorized per batch — not
    per-row Python); hosts that fail IDNA encoding pass through
    unchanged. Apply AFTER :func:`canonicalize_url` (it assumes a
    lowercase host)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fold(urls: pd.Series) -> pd.Series:
        import re

        rx = re.compile(r"^([a-z][a-z0-9+.-]*://)([^/?#:]+)(.*)$", re.S)

        def one(u):
            if u is None:
                return None
            m = rx.match(u)
            if not m or m.group(2).isascii():
                return u
            try:
                host = m.group(2).encode("idna").decode("ascii")
            except UnicodeError:
                return u
            return m.group(1) + host + m.group(3)

        return urls.map(one)

    return _fold(url)


def _decode_entities(c: Column) -> Column:
    """Decode the ubiquitous entities (shared _ENTITIES table — &amp;
    last so &amp;lt; decodes to &lt;, not <)."""
    for ent, rep in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return c


def host_of(col) -> Column:
    """Host component (SQL-replayable regexp, lowercased)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_extract(c, r"^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1))


_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
]


def html_to_text(col, binary: bool = True) -> Column:
    """Visible text of an HTML document as a column expression:
    script/style/comment blocks removed, tags replaced by spaces, the six
    ubiquitous entities decoded, whitespace collapsed. Deterministic
    regexp algebra (JVM-side, DuckDB-replayable) — a cleaning pass, not a
    browser; layout-accurate rendering is out of scope by design."""
    t = _html_str(col, binary)
    t = F.regexp_replace(t, r"(?is)<script\b.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, rep in _ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def extract_page_text(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    html_is_binary: bool = True,
) -> DataFrame:
    """(url, text): extracted visible text per page — the ingest step
    that turns the raw crawl table into the engine's text column."""
    return pages.select(
        F.col(url_col).alias("url"),
        html_to_text(html_col, html_is_binary).alias("text"),
    )


def edge_diff(edges_a: DataFrame, edges_b: DataFrame) -> DataFrame:
    """Crawl-snapshot diff of two edge tables: ``(src, dst, status,
    weight_a, weight_b)`` with status ``new`` (only in B), ``lost``
    (only in A), ``changed`` (weight moved), ``same``. One full-outer
    hash join on the edge key after per-side aggregation — linear, no
    driver state, co-partitioned if both sides are bucketed by
    (src, dst). The standard between-crawls question ("which links
    appeared/disappeared since the last WARC drop?") as one plan."""
    a = edges_a.groupBy("src", "dst").agg(
        F.sum(F.col("weight").cast("double")).alias("weight_a")
    )
    b = edges_b.groupBy("src", "dst").agg(
        F.sum(F.col("weight").cast("double")).alias("weight_b")
    )
    j = a.join(b, ["src", "dst"], "full_outer")
    return j.select(
        "src",
        "dst",
        F.when(F.col("weight_a").isNull(), F.lit("new"))
        .when(F.col("weight_b").isNull(), F.lit("lost"))
        .when(F.col("weight_a") != F.col("weight_b"), F.lit("changed"))
        .otherwise(F.lit("same"))
        .alias("status"),
        F.coalesce("weight_a", F.lit(0.0)).alias("weight_a"),
        F.coalesce("weight_b", F.lit(0.0)).alias("weight_b"),
    )


def top_movers(
    scores_a: DataFrame, scores_b: DataFrame, k: int = 100
) -> DataFrame:
    """Biggest per-vertex score changes between two runs (e.g. PageRank
    on consecutive crawls): ``(vertex, score_a, score_b, delta)``, top-k
    by |delta|. Full-outer join (absent = 0) + TakeOrderedAndProject —
    per-partition partial top-k, never a global sort/window."""
    a = scores_a.select("vertex", F.col("score").alias("score_a"))
    b = scores_b.select("vertex", F.col("score").alias("score_b"))
    return (
        a.join(b, "vertex", "full_outer")
        .select(
            "vertex",
            F.coalesce("score_a", F.lit(0.0)).alias("score_a"),
            F.coalesce("score_b", F.lit(0.0)).alias("score_b"),
            (
                F.coalesce("score_b", F.lit(0.0))
                - F.coalesce("score_a", F.lit(0.0))
            ).alias("delta"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), F.col("vertex"))
        .limit(k)
    )


def host_edges(page_edges: DataFrame) -> DataFrame:
    """Host-level rollup of a page-level link graph: ``(src, dst,
    weight)`` with weight = total inter-host anchors; intra-host links
    dropped (the standard web-graph host projection)."""
    hosts = page_edges.select(
        host_of("src").alias("src"),
        host_of("dst").alias("dst"),
        "weight",
    ).where(
        (F.col("src") != "") & (F.col("dst") != "")
        & (F.col("src") != F.col("dst"))
    )
    return hosts.groupBy("src", "dst").agg(
        F.sum("weight").alias("weight")
    )


# Common second-level public suffixes (heuristic subset of the Mozilla
# Public Suffix List — the full PSL is a data file, not an algorithm;
# this covers the high-traffic ccTLD second levels and is the documented
# approximation, shared verbatim with the DuckDB oracle).
MULTI_PART_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "co.in", "net.in", "org.in",
    "co.kr", "or.kr", "co.za", "org.za",
    "com.mx", "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
]


def registrable_domain(col) -> Column:
    """Registrable (pay-level) domain of a host: the label directly
    below the public suffix — ``news.bbc.co.uk`` -> ``bbc.co.uk``,
    ``a.example.org`` -> ``example.org``. Suffix detection uses
    ``MULTI_PART_SUFFIXES`` (documented PSL approximation); IPv4
    literals and single-label hosts pass through unchanged. Pure array
    algebra on the split host — map-only, SQL-replayable."""
    h = F.col(col) if isinstance(col, str) else col
    labels = F.split(h, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    last3 = F.concat_ws(
        ".", F.element_at(labels, -3), F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    is_ip = h.rlike(r"^[0-9.]+$")
    return (
        F.when(is_ip | (n <= 1), h)
        .when((n >= 3) & last2.isin(MULTI_PART_SUFFIXES), last3)
        .otherwise(last2)
    )


def domain_stats(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-registrable-domain corpus rollup: ``(domain, n_docs, n_hosts,
    n_tokens, mean_doc_tokens)`` — the curation dashboard every crawl
    pipeline keys its allow/deny lists on. One partial-agg-friendly
    aggregation exchange keyed by domain (domain cardinality ~10^8 at
    web scale — wide enough to parallelise, no skew beyond giant
    domains which partial aggregation absorbs)."""
    toks = F.size(
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    )
    base = pages.select(
        host_of(F.col("url")).alias("host"),
        toks.cast("long").alias("n_toks"),
    ).withColumn("domain", registrable_domain(F.col("host")))
    return base.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("host").cast("long").alias("n_hosts"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.round(F.avg("n_toks"), 6).alias("mean_doc_tokens"),
    )


# rel=canonical link element; two passes because attribute order varies
# (rel-before-href and href-before-rel), same backreferenced-quote trick
# as HREF_PATTERN. Values are entity-decoded like anchors.
CANONICAL_PATTERN_REL_FIRST = (
    r"""(?i)<link\s[^>]*rel\s*=\s*(["'])canonical\1[^>]*"""
    r"""href\s*=\s*(["'])([^>]*?)\2"""
)
CANONICAL_PATTERN_HREF_FIRST = (
    r"""(?i)<link\s[^>]*href\s*=\s*(["'])([^>]*?)\1[^>]*"""
    r"""rel\s*=\s*(["'])canonical\3"""
)


def extract_canonical_urls(
    pages: DataFrame, binary: bool = True
) -> DataFrame:
    """``(url, canonical)`` — the page's ``<link rel="canonical">``
    target, resolved to an absolute URL against the page (the dedup
    hint crawlers trust before any content hashing). Pages without a
    canonical element are absent; a page with several keeps the
    distinct resolved set (real crawls do contain conflicting ones —
    downstream policy decides). Map-only JVM regex + the shared RFC
    3986 resolver; no Python."""
    html = _html_str(F.col("html"), binary)
    targets = F.array_union(
        F.regexp_extract_all(html, F.lit(CANONICAL_PATTERN_REL_FIRST), 3),
        F.regexp_extract_all(html, F.lit(CANONICAL_PATTERN_HREF_FIRST), 2),
    )
    out = pages.select(
        "url", F.explode(targets).alias("raw")
    ).select(
        "url",
        resolve_href(F.col("url"), _decode_entities(F.col("raw"))).alias(
            "canonical"
        ),
    )
    return out.filter(F.col("canonical").isNotNull()).distinct()


def extract_sitemap_urls(
    sitemaps: DataFrame,
    xml_col: str = "xml",
    url_col: str = "url",
) -> DataFrame:
    """``(sitemap_url, loc, kind)`` from sitemap XML bodies (ISO
    sitemaps.org protocol): ``kind`` = 'sitemap' for ``<sitemapindex>``
    child locs (follow to more sitemaps) or 'url' for ``<urlset>``
    entries (frontier candidates). ``<loc>`` values are trimmed and
    entity-decoded; one posexplode per document, order preserved via
    ``pos``. A full crawl pipeline chains this with robots_filter and
    frontier_urls."""
    xml = F.col(xml_col)
    kind = F.when(
        F.lower(xml).contains("<sitemapindex"), F.lit("sitemap")
    ).otherwise(F.lit("url"))
    locs = F.regexp_extract_all(
        xml, F.lit(r"(?is)<loc>\s*(.*?)\s*</loc>"), 1
    )
    return sitemaps.select(
        F.col(url_col).alias("sitemap_url"),
        kind.alias("kind"),
        F.posexplode(locs).alias("pos", "raw"),
    ).select(
        "sitemap_url",
        F.col("pos").cast("long").alias("pos"),
        _decode_entities(F.col("raw")).alias("loc"),
        "kind",
    )


def mirror_host_pairs(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.5,
    min_pages: int = 2,
    max_fp_hosts: int = 1000,
) -> DataFrame:
    """Mirror / scraper host detection: (host_a, host_b, common, jaccard)
    for host pairs whose page-CONTENT fingerprint sets overlap with
    Jaccard >= ``threshold`` (host_a < host_b).

    The host-level twin of document near-dup: two hosts serving largely
    the same page bodies under different URLs are one crawl target, and
    training corpora want one copy. Fingerprints reuse the exact-dedup
    normalization (``functions.textstats.fingerprint_expr``), so a
    mirror that only differs in whitespace/punctuation still matches.

    Scale shape (same as the n-gram Jaccard family): per-host DISTINCT
    fingerprint sets (one aggregation), then an inverted-index self-join
    keyed by fingerprint. ``max_fp_hosts`` drops fingerprints served by
    huge numbers of hosts (parked-domain boilerplate, empty pages) — the
    hot-key guard that keeps candidate pairs linear in index-entry
    sizes; hosts with fewer than ``min_pages`` distinct pages are too
    small to call mirrors and are dropped before the join.
    """
    from .functions.textstats import fingerprint_expr

    hfp = (
        pages.select(
            host_of(url_col).alias("host"),
            fingerprint_expr(text_col).alias("fp"),
        )
        .filter(F.col("host") != "")
        .distinct()
        .persist()
    )
    sizes = (
        hfp.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_fp"))
        .filter(F.col("n_fp") >= min_pages)
    )
    ok = hfp.join(sizes, "host", "semi")
    rare = (
        ok.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("hf"))
        .filter(F.col("hf") <= max_fp_hosts)
        .select("fp")
    )
    idx = ok.join(rare, "fp", "semi")
    # jaccard denominators come from the FILTERED index, so numerator
    # and denominator see the same fingerprint universe — sizing from
    # the pre-filter sets would systematically underestimate jaccard
    # (silently tightening the threshold) whenever max_fp_hosts drops a
    # hot fingerprint. min_pages gating above stays on raw page counts.
    fsizes = idx.groupBy("host").agg(F.count(F.lit(1)).alias("n_fp"))
    inter = (
        idx.select(F.col("host").alias("host_a"), "fp")
        .join(idx.select(F.col("host").alias("host_b"), "fp"), "fp")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        inter.join(
            fsizes.select(
                F.col("host").alias("host_a"), F.col("n_fp").alias("na")
            ),
            "host_a",
        )
        .join(
            fsizes.select(
                F.col("host").alias("host_b"), F.col("n_fp").alias("nb")
            ),
            "host_b",
        )
        .select(
            "host_a",
            "host_b",
            "common",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


# Tracking parameters stripped by strip_tracking_params: the common
# click/campaign identifiers (Java-regex ∩ RE2 subset, shared with the
# SQL oracle). utm_* covers source/medium/campaign/term/content/id.
TRACKING_PARAM_RX = (
    r"^(utm_[^=&]*|gclid|fbclid|msclkid|yclid|igshid|mc_eid|_ga)(=.*)?$"
)


def strip_tracking_params(
    url: Column, pattern: str = TRACKING_PARAM_RX
) -> Column:
    """Remove tracking query parameters (utm_*, gclid, fbclid, ...) from
    a URL column — pure JVM column algebra (split query on '&', filter
    by the shared regex, rejoin). Two URLs differing only in campaign
    identifiers collapse to one crawl/dedup key; the '?' disappears when
    no parameters survive. Empty params from '&&' runs are dropped
    (harmless normalization); the fragment is preserved untouched."""
    u = url if isinstance(url, Column) else F.col(url)
    pre = F.regexp_extract(u, r"^([^?#]*)", 1)
    query = F.regexp_extract(u, r"^[^?#]*\?([^#]*)", 1)
    frag = F.regexp_extract(u, r"(#.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (~p.rlike(pattern)) & (p != F.lit("")),
    )
    newq = F.array_join(kept, "&")
    return F.concat(
        pre,
        F.when(newq != "", F.concat(F.lit("?"), newq)).otherwise(F.lit("")),
        frag,
    )
