"""Deterministic synthetic Common-Crawl-style pages table.

Schema per BASELINE.json input_hint / FIXTURES.md §1:
    (url string, warc_ts timestamp, html binary, text string, lang string)

The link structure is a pure function of the page index (splitmix64-style
hash draws), so the induced graph is reproducible under any partitioning and
the PageRank/CC/LPA/triangle oracles can be computed from the same formula.
Shape: n_hosts hosts x pages_per_host pages; power-law-ish out-degree; every
page also links to the mega-hub (host0/p0) with probability ~1/4 (skew);
intra-host ring links keep each host's subgraph connected.

Generation runs distributed via mapInPandas over spark.range (no driver-side
materialization) — the 100 TB-scale pattern for synthetic inputs.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

_LANGS = ["en", "fr", "es", "de"]
_WORDS = [
    "graph", "stream", "sketch", "anomaly", "cluster", "edge", "vertex",
    "crawl", "link", "page", "host", "rank", "hash", "band", "bucket",
]


def _mix64(x: int) -> int:
    """splitmix64 finalizer — deterministic per-index hash (public domain)."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def page_url(host: int, page: int) -> str:
    return f"http://host{host}.example.com/p{page}.html"


def page_links(idx: int, n_hosts: int, pages_per_host: int, seed: int) -> list[str]:
    """Deterministic out-links of page ``idx`` (global index)."""
    host, page = divmod(idx, pages_per_host)
    links: list[str] = []
    # intra-host ring (keeps the host subgraph connected)
    links.append(page_url(host, (page + 1) % pages_per_host))
    # power-law-ish extra links: out-degree in [0, 6), targets hashed
    h0 = _mix64(seed * 0x10001 + idx)
    extra = h0 % 6
    for j in range(extra):
        hj = _mix64(h0 + j + 1)
        t_host = hj % n_hosts
        t_page = (hj >> 20) % pages_per_host
        if (t_host, t_page) != (host, page):
            links.append(page_url(t_host, t_page))
    # mega-hub skew: ~1/4 of pages link to host0/p0
    if _mix64(idx + seed) % 4 == 0 and idx != 0:
        links.append(page_url(0, 0))
    return links


def page_body_words(idx: int, seed: int) -> list[str]:
    h = _mix64(seed + idx * 7919)
    n = 20 + h % 30
    return [_WORDS[_mix64(h + i) % len(_WORDS)] for i in range(n)]


def render_html(idx: int, n_hosts: int, pages_per_host: int, seed: int) -> bytes:
    host, page = divmod(idx, pages_per_host)
    words = page_body_words(idx, seed)
    anchors = "".join(
        f'<a href="{u}">link {i}</a> ' for i, u in
        enumerate(page_links(idx, n_hosts, pages_per_host, seed)))
    body = " ".join(words)
    return (
        f"<html><head><title>host{host} page{page}</title>"
        f"<script>var x = 1;</script><style>.a {{}}</style></head>"
        f"<body><h1>Page {page} &amp; host {host}</h1>"
        f"<p>{body}</p>{anchors}</body></html>"
    ).encode("utf-8")


def _page_batches(batches, *, n_hosts, pages_per_host, seed):
    """``generate_pages`` kernel: page-index batches -> page rows."""
    from ..functions.text import extract_text_bytes
    for pdf in batches:
        idxs = pdf["id"].tolist()
        urls, tss, htmls, texts, langs = [], [], [], [], []
        for idx in idxs:
            host, page = divmod(int(idx), pages_per_host)
            html = render_html(int(idx), n_hosts, pages_per_host, seed)
            urls.append(page_url(host, page))
            tss.append(_EPOCH + timedelta(seconds=int(idx)))
            htmls.append(html)
            texts.append(extract_text_bytes(html))
            langs.append(_LANGS[_mix64(seed ^ idx) % len(_LANGS)])
        yield pd.DataFrame({
            "url": urls, "warc_ts": tss, "html": htmls,
            "text": texts, "lang": langs,
        })


def generate_pages(spark: SparkSession, n_hosts: int = 10,
                   pages_per_host: int = 20, seed: int = 42,
                   num_partitions: int = 8) -> DataFrame:
    """Distributed deterministic pages DataFrame."""
    n = n_hosts * pages_per_host
    gen = partial(_page_batches, n_hosts=n_hosts,
                  pages_per_host=pages_per_host, seed=seed)
    return (
        spark.range(0, n, 1, num_partitions)
        .mapInPandas(gen, schema="url string, warc_ts timestamp, html binary, "
                                 "text string, lang string")
    )


def expected_link_edges(n_hosts: int, pages_per_host: int, seed: int) -> list[tuple[str, str]]:
    """Driver-side oracle of the full (src_url, dst_url) edge list."""
    out = []
    for idx in range(n_hosts * pages_per_host):
        host, page = divmod(idx, pages_per_host)
        src = page_url(host, page)
        for dst in page_links(idx, n_hosts, pages_per_host, seed):
            out.append((src, dst))
    return out
