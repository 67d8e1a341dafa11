"""Seeded input generators for the benchmark.

Every table is a pure function of ``(seed, size)``: the same arguments give
byte-identical parquet files. The engine only ever sees the written tables;
the generator's own record of what it wrote (the intended link targets) is
kept beside them for the output checks.

* ``pages``: a Common-Crawl-shaped table ``(url, warc_ts, html, text, lang)``.
  Text is drawn from a Zipf vocabulary whose words carry the suffixes the
  rule tagger distinguishes (nouns, plurals, adjectives, adverbs, verb forms)
  plus closed-class function words. Each page's html holds anchors whose
  targets follow a skewed popularity over all pages, written in the href
  forms web corpora mix (absolute, root-relative, relative, ``..``,
  protocol-relative, fragments, non-navigational schemes).
* ``edges``: a power-law ``(src, dst, weight)`` table — sources uniform,
  destinations Zipf-popular, integer weights, no self-loops, no duplicate
  ordered pairs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Suffix mix of the rule tagger (jgtextrank_spark.extract.rule_pos_tag):
# "" -> NN, "s" -> NNS, adjective suffixes -> JJ, "ly" -> RB, "ed"/"ing" -> VBD.
_SUFFIXES = (
    [""] * 40 + ["s"] * 15
    + ["al", "ous", "ive", "ic", "able", "ful", "ary", "ent"] * 2
    + ["ly"] * 6 + ["ed"] * 6 + ["ing"] * 6
)
_FUNCTION_WORDS = (
    "the a an this that of in on at by for with from to into over and or "
    "but is are was were be has have it its they their which not as also "
    "more most very other"
).split()
_ONSETS = "b c d f g h j k l m n p r s t v w z br cr dr fr gr pr tr st sp".split()
_VOWELS = "a e i o u ai ea io ou".split()
_CODAS = ["", "n", "r", "l", "m", "st", "nd", "x"]

VOCAB_SIZE = 20000
PAGES_PER_HOST = 8
TS_BASE_US = 1_700_000_000_000_000  # 2023-11-14, microseconds since epoch

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
EDGES_SCHEMA = pa.schema(
    [("src", pa.int64()), ("dst", pa.int64()), ("weight", pa.float64())]
)


def vocabulary(rng: np.random.Generator, size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct pseudo-words: 2-3 syllable stems plus a suffix."""
    words: list[str] = []
    seen = set(_FUNCTION_WORDS)
    while len(words) < size:
        n_syl = int(rng.integers(2, 4))
        stem = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(n_syl)
        )
        word = stem + _SUFFIXES[rng.integers(len(_SUFFIXES))]
        if word not in seen:
            seen.add(word)
            words.append(word)
    return words


def _zipf_sampler(rng: np.random.Generator, n: int, s: float):
    """Draw indices 0..n-1 with P(i) ~ 1/(i+1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    cdf = np.cumsum(p / p.sum())
    return lambda k: np.minimum(np.searchsorted(cdf, rng.random(k)), n - 1)


def _page_text(rng, words, draw_word, n_sentences: int) -> str:
    sentences = []
    for _ in range(n_sentences):
        n = int(rng.integers(8, 21))
        toks = []
        for i in range(n):
            if rng.random() < 0.3:
                toks.append(_FUNCTION_WORDS[rng.integers(len(_FUNCTION_WORDS))])
            else:
                toks.append(words[draw_word(1)[0]])
            if i == n // 2 and rng.random() < 0.2:
                toks[-1] += ","
        sent = " ".join(toks)
        sentences.append(sent[0].upper() + sent[1:] + ".")
    return " ".join(sentences)


def page_url(i: int) -> str:
    return f"https://site{i // PAGES_PER_HOST}.example/d{i % 3}/p{i}.html"


def _href(src: int, dst: int, form: int) -> str:
    """One href on page ``src`` that resolves to ``page_url(dst)``; ``form``
    picks the written shape. Relative forms are only used within a host."""
    target = page_url(dst)
    same_host = src // PAGES_PER_HOST == dst // PAGES_PER_HOST
    if not same_host or form == 0:
        return target
    path = target.split(".example", 1)[1]
    if form == 1:
        return path  # root-relative
    if form == 2:
        return "//" + target.split("://", 1)[1]  # protocol-relative
    if form == 3:
        return f"../d{dst % 3}/p{dst}.html"  # relative with dot-segment
    return target + "#sec" + str(dst % 5)  # fragment stripped on resolve


def pages_table(seed: int, n_pages: int, sentences_per_page: int = 12):
    """Returns ``(table, links)``: the pages table and the generator's own
    record of the link edges it wrote, ``{(src_url, dst_url): count}``
    (self-links and non-navigational hrefs excluded, as a crawler graph
    would)."""
    rng = np.random.default_rng(seed)
    words = vocabulary(rng)
    draw_word = _zipf_sampler(rng, len(words), 1.1)
    # link popularity: a skewed ranking over pages, shuffled so the popular
    # pages are spread over hosts
    popularity = rng.permutation(n_pages)
    draw_rank = _zipf_sampler(rng, n_pages, 1.2)
    urls, htmls, texts, stamps = [], [], [], []
    links: dict[tuple[str, str], int] = {}
    for i in range(n_pages):
        text = _page_text(rng, words, draw_word, sentences_per_page)
        anchors = []
        n_links = int(rng.integers(3, 12))
        for _ in range(n_links):
            dst = int(popularity[draw_rank(1)[0]])
            if rng.random() < 0.5:  # half the links stay on the host
                dst = (i // PAGES_PER_HOST) * PAGES_PER_HOST + dst % PAGES_PER_HOST
                dst = min(dst, n_pages - 1)
            form = int(rng.integers(0, 5))
            anchors.append(f'<a href="{_href(i, dst, form)}">{words[dst % len(words)]}</a>')
            if dst != i:
                key = (page_url(i), page_url(dst))
                links[key] = links.get(key, 0) + 1
        # links no crawler graph keeps: mail, script, pure fragment
        anchors.append('<a href="mailto:info@example.org">mail</a>')
        anchors.append("<a href='javascript:void(0)'>menu</a>")
        anchors.append('<a href="#top">top</a>')
        html = (
            "<html><head><title>p</title></head><body><p>"
            + text
            + "</p>\n"
            + "\n".join(anchors)
            + "</body></html>"
        )
        urls.append(page_url(i))
        texts.append(text)
        htmls.append(html.encode("utf-8"))
        stamps.append(TS_BASE_US + int(rng.integers(0, 86_400_000_000)))
    table = pa.table(
        [
            pa.array(urls, pa.string()),
            pa.array(stamps, pa.timestamp("us", tz="UTC")),
            pa.array(htmls, pa.binary()),
            pa.array(texts, pa.string()),
            pa.array(["en"] * n_pages, pa.string()),
        ],
        schema=PAGES_SCHEMA,
    )
    return table, links


def edges_table(seed: int, n_vertices: int, n_edges: int) -> pa.Table:
    """Power-law directed weighted edges over vertex ids ``0..n-1``."""
    rng = np.random.default_rng(seed)
    draw_dst = _zipf_sampler(rng, n_vertices, 0.9)
    relabel = rng.permutation(n_vertices)
    pairs: set[tuple[int, int]] = set()
    src_l, dst_l = [], []
    while len(src_l) < n_edges:
        k = n_edges - len(src_l)
        srcs = rng.integers(0, n_vertices, k)
        dsts = relabel[draw_dst(k)]
        for s, d in zip(srcs.tolist(), dsts.tolist()):
            if s != d and (s, d) not in pairs:
                pairs.add((s, d))
                src_l.append(s)
                dst_l.append(d)
    weights = rng.integers(1, 6, len(src_l)).astype(np.float64)
    return pa.table(
        [
            pa.array(src_l, pa.int64()),
            pa.array(dst_l, pa.int64()),
            pa.array(weights, pa.float64()),
        ],
        schema=EDGES_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(table, tmp, compression="snappy", row_group_size=1 << 20)
    os.replace(tmp, path)


def cached_pages(cache_dir: str, seed: int, n_pages: int):
    """Path of the pages parquet for ``(seed, n_pages)`` plus the written
    link record, generating both on first use."""
    base = os.path.join(cache_dir, f"pages_s{seed}_n{n_pages}")
    path, links_path = base + ".parquet", base + ".links.json"
    if not (os.path.exists(path) and os.path.exists(links_path)):
        os.makedirs(cache_dir, exist_ok=True)
        table, links = pages_table(seed, n_pages)
        write_parquet(table, path)
        rows = sorted([s, d, c] for (s, d), c in links.items())
        tmp = f"{links_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(rows, fh)
        os.replace(tmp, links_path)
    with open(links_path) as fh:
        links = {(s, d): c for s, d, c in json.load(fh)}
    return path, links


def cached_edges(cache_dir: str, seed: int, n_vertices: int, n_edges: int) -> str:
    path = os.path.join(
        cache_dir, f"edges_s{seed}_v{n_vertices}_e{n_edges}.parquet"
    )
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        write_parquet(edges_table(seed, n_vertices, n_edges), path)
    return path
