"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of ``seed`` (plus fixed sizes), runs on
the driver in plain Python/numpy, and returns the planted ground truth next
to the data, so the checks know what the engine must find.  ``digest``
hashes a generated input, so two runs can show they measured identical
inputs and two seeds can show they differ.

- ``graph_input``: power-law digraph whose mega-hub takes ~1/16 of in-links.
- ``pages_input``: Common-Crawl-style pages whose hosts come from three
  planted link families (ring, hub-and-spoke, cross-host farm) plus planted
  anomalous hosts that match no family.
- ``docs_input``: variant-doc corpus with planted near-duplicates; unlike
  ``sources.docs.generate_variant_docs`` its tokens are salted by the seed.
- ``stream_input``: StreamSpot-format edge stream of benign scenario graphs
  plus planted attack graphs, with the bootstrap clusters of its training
  graphs.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
_WORDS = [
    "graph", "stream", "sketch", "anomaly", "cluster", "edge", "vertex",
    "crawl", "link", "page", "host", "rank", "hash", "band", "bucket",
    "shingle", "chunk", "window", "batch", "index",
]


def digest(*parts) -> str:
    """sha256 of the generated input: array bytes or JSON (first 16 hex)."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            h.update(json.dumps(p, sort_keys=True, default=str).encode())
    return h.hexdigest()[:16]


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), salt])


# --------------------------------------------------------------- graph
@dataclass
class GraphInput:
    src: np.ndarray
    dst: np.ndarray
    hub: int
    digest: str

    def edge_list(self) -> list[tuple[int, int]]:
        return list(zip(self.src.tolist(), self.dst.tolist()))


def graph_input(seed: int, n_nodes: int, n_edges: int) -> GraphInput:
    """Power-law out- and in-degrees over a seeded id permutation; every
    16th edge on average points at the mega-hub.  Self-loops are dropped,
    parallel edges are kept (the algorithms deduplicate)."""
    rng = _rng(seed, 1)
    perm = rng.permutation(n_nodes).astype(np.int64)
    src = perm[(rng.zipf(1.7, n_edges) - 1) % n_nodes]
    dst = perm[(rng.zipf(1.9, n_edges) - 1 + n_nodes // 2) % n_nodes]
    hub = int(perm[0])
    dst = np.where(rng.random(n_edges) < 1 / 16, hub, dst)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    return GraphInput(src, dst, hub, digest(src, dst))


# --------------------------------------------------------------- pages
FAMILIES = ("ring", "star", "farm")


@dataclass
class PagesInput:
    rows: list[tuple]                 # (url, warc_ts, html, lang)
    edges: list[tuple[str, str]]      # expected (src_url, dst_url) href edges
    host_family: dict[str, str]       # host -> family name or "anomaly"
    digest: str

    @property
    def anomalous_hosts(self) -> set[str]:
        return {h for h, f in self.host_family.items() if f == "anomaly"}


def _url(host: str, page: int) -> str:
    return f"http://{host}.example.com/p{page}.html"


def _family_links(family: str, host: str, page: int, n_pages: int,
                  farm_hosts: list[str], rng: random.Random) -> list[str]:
    if family == "ring":
        return [_url(host, (page + 1) % n_pages)]
    if family == "star":
        if page == 0:
            return [_url(host, j) for j in range(1, n_pages)]
        return [_url(host, 0)]
    # farm: three cross-host links to non-root pages of other farm hosts
    others = [h for h in farm_hosts if h != host]
    return [_url(rng.choice(others), rng.randrange(1, n_pages))
            for _ in range(3)]


def _anomaly_links(host: str, page: int, pattern: list[tuple[bool, bool]],
                   sizes: dict[str, int], rng: random.Random) -> list[str]:
    """Links following the host's own (intra?, to root?) pattern, rotated
    by the page index, so the host's shingle chunks are many and its own."""
    k = page % len(pattern)
    out = []
    for intra, root in pattern[k:] + pattern[:k]:
        h = host if intra else rng.choice([x for x in sorted(sizes) if x != host])
        out.append(_url(h, 0 if root else rng.randrange(1, sizes[h])))
    return out


def _render(host: str, page: int, words: list[str], links: list[str]) -> bytes:
    anchors = "".join(f'<a href="{u}">link {i}</a> '
                      for i, u in enumerate(links))
    return (
        f"<html><head><title>{host} page{page}</title>"
        f"<script>var x = {page};</script><style>.a {{}}</style></head>"
        f"<body><h1>Page {page} &amp; {host}</h1>"
        f"<p>{' '.join(words)}</p>{anchors}</body></html>"
    ).encode("utf-8")


def _chunk_vector(links: dict[str, list[str]], chunk_length: int) -> Counter:
    """A host's shingle-chunk counts, as the web pipeline defines them: per
    page ' ' + its type + (edge type + target type) per link, where the type
    is 'r' for a host's root page and 'p' otherwise, and the edge type is
    'i' within the host and 'x' across hosts."""
    def kind(u):
        return "r" if u.endswith("/p0.html") else "p"

    def host(u):
        return u.split("/")[2]

    out: Counter = Counter()
    for src, dsts in links.items():
        sh = " " + kind(src) + "".join(
            ("i" if host(d) == host(src) else "x") + kind(d) for d in dsts)
        out.update(sh[i:i + chunk_length]
                   for i in range(0, len(sh), chunk_length))
    return out


def _cosine(a: Counter, b: Counter) -> float:
    dot = sum(v * b[k] for k, v in a.items())
    return dot / math.sqrt(sum(v * v for v in a.values())
                           * sum(v * v for v in b.values()))


def pages_input(seed: int, hosts_per_family: int, n_anomalies: int,
                pages_per_host: int, chunk_length: int,
                max_cosine: float = 0.1) -> PagesInput:
    """Hosts of each family share one link structure (page counts jitter by
    +/-2 per host), so their sketches land in shared LSH buckets.  Each
    anomalous host follows its own random link pattern, redrawn until its
    chunk vector is within ``max_cosine`` of no other host's, so it should
    share no bucket with anyone."""
    rng = random.Random(seed * 1_000_003 + 2)
    fam_hosts = {f: [f"{f}{i}" for i in range(hosts_per_family)]
                 for f in FAMILIES}
    anomalies = [f"odd{i}" for i in range(n_anomalies)]
    host_family = {h: f for f, hs in fam_hosts.items() for h in hs}
    host_family.update({h: "anomaly" for h in anomalies})
    hosts = sorted(host_family)
    sizes = {h: pages_per_host + rng.randint(-2, 2) for h in hosts}
    # farm links must target pages that exist on every farm host
    farm_pages = min(sizes[h] for h in fam_hosts["farm"])
    links = {}                        # host -> {page url: [target urls]}
    for f, hs in fam_hosts.items():
        for h in hs:
            n = farm_pages if f == "farm" else sizes[h]
            links[h] = {_url(h, p): _family_links(f, h, p, n, fam_hosts["farm"],
                                                  rng)
                        for p in range(sizes[h])}
    vectors = [_chunk_vector(v, chunk_length) for v in links.values()]
    for h in anomalies:
        for _ in range(1000):
            pattern = [(rng.random() < 0.5, rng.random() < 0.3)
                       for _ in range(rng.randint(10, 14))]
            cand = {_url(h, p): _anomaly_links(h, p, pattern, sizes, rng)
                    for p in range(sizes[h])}
            vec = _chunk_vector(cand, chunk_length)
            if all(_cosine(vec, v) <= max_cosine for v in vectors):
                break
        else:
            raise RuntimeError(f"no distinct link pattern for {h}")
        links[h] = cand
        vectors.append(vec)
    rows, edges = [], []
    for h in hosts:
        for page in range(sizes[h]):
            url = _url(h, page)
            words = [rng.choice(_WORDS) for _ in range(rng.randint(30, 60))]
            rows.append((url, _EPOCH + timedelta(seconds=len(rows)),
                         _render(h, page, words, links[h][url]),
                         rng.choice(("en", "fr", "de"))))
            edges.extend((url, d) for d in links[h][url])
    return PagesInput(rows, edges, host_family,
                      digest([(r[0], r[2].hex()) for r in rows]))


# --------------------------------------------------------------- docs
@dataclass
class DocsInput:
    rows: list[tuple[int, int, int, str]]   # (doc_id, base_id, variant, text)
    truth: set[tuple[int, int]]             # planted pairs, char-5gram J >= 0.5
    digest: str


def char_jaccard(a: str, b: str, n: int = 5) -> float:
    """Exact char n-gram Jaccard, the semantics of exact_jaccard_for_pairs."""
    sa = {a[i:i + n] for i in range(max(len(a) - n + 1, 1))}
    sb = {b[i:i + n] for i in range(max(len(b) - n + 1, 1))}
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def docs_input(seed: int, n_bases: int, variants: int = 10,
               tokens_per_doc: int = 40, mutate_tokens: int = 4,
               threshold: float = 0.5) -> DocsInput:
    """Variant 0 is the base doc, variants 1 and 2 replace the last
    ``mutate_tokens * v`` tokens (near-duplicates), variants >= 3 are fresh.
    Tokens are 8 hex chars of md5(seed, base, variant tag, position)."""
    def tok(*key) -> str:
        return hashlib.md5(repr((seed,) + key).encode()).hexdigest()[:8]

    t, m = tokens_per_doc, mutate_tokens
    rows = []
    for b in range(n_bases):
        for v in range(variants):
            if v >= 3:
                toks = [tok(b, "f", v, i) for i in range(t)]
            else:
                toks = [tok(b, "n", v, i) if v and i >= t - m * v
                        else tok(b, i) for i in range(t)]
            rows.append((b * variants + v, b, v, " ".join(toks)))
    text = {r[0]: r[3] for r in rows}
    truth = set()
    for b in range(n_bases):
        near = [b * variants + v for v in range(min(3, variants))]
        for i, a in enumerate(near):
            for c in near[i + 1:]:
                if char_jaccard(text[a], text[c]) >= threshold:
                    truth.add((a, c))
    return DocsInput(rows, truth, digest(rows))


# --------------------------------------------------------------- stream
# node/edge type alphabets per benign scenario; attacks have their own
_SCENARIOS = (("abc", "ef"), ("dgh", "ij"), ("klm", "no"))
_ATTACK = ("azy", "qr")


@dataclass
class StreamInput:
    train: list[tuple]            # (src_id, src_type, dst_id, dst_type, e_type, gid, seq)
    test: list[tuple]
    clusters: list[list[int]]     # bootstrap clusters of training gids
    attacks: set[int]             # planted anomalous test gids
    test_gids: list[int]
    digest: str = field(default="")


def _motifs(node_types: str, edge_types: str, salt: int) -> list[tuple]:
    """Five fixed (src_type, [(e_type, dst_type), ...]) out-edge motifs with
    skewed weights: the scenario's behaviour, independent of the seed."""
    r = random.Random(salt)
    return [(r.choice(node_types),
             [(r.choice(edge_types), r.choice(node_types))
              for _ in range(r.randint(1, 4))]) for _ in range(5)]


_WEIGHTS = (0.35, 0.25, 0.2, 0.12, 0.08)


def _motif_graph(gid: int, motifs: list[tuple], n_nodes: int,
                 rng: random.Random) -> list[tuple]:
    """Each source node draws one motif and emits its out-edges in order;
    graphs of one scenario share a chunk distribution."""
    out, next_id = [], n_nodes
    for node in range(n_nodes):
        src_type, edges = rng.choices(motifs, weights=_WEIGHTS)[0]
        for e_type, dst_type in edges:
            out.append((node, src_type, next_id, dst_type, e_type, gid, len(out)))
            next_id += 1
    return out


def stream_input(seed: int, train_per_scenario: int, test_per_scenario: int,
                 n_attacks: int, nodes_per_graph: int) -> StreamInput:
    """Scenario s owns gids 100*s.. (the reference's scenario = gid / 100);
    attacks take gids from 300 up."""
    rng = random.Random(seed * 1_000_003 + 4)
    train, test, clusters, test_gids = [], [], [], []
    for s, (nt, et) in enumerate(_SCENARIOS):
        motifs = _motifs(nt, et, 100 + s)
        members = []
        for i in range(train_per_scenario + test_per_scenario):
            gid = 100 * s + i
            g = _motif_graph(gid, motifs, nodes_per_graph, rng)
            if i < train_per_scenario:
                train.extend(g)
                members.append(gid)
            else:
                test.extend(g)
                test_gids.append(gid)
        clusters.append(members)
    attack_motifs = _motifs(*_ATTACK, 200)
    for i in range(n_attacks):
        gid = 300 + i
        test.extend(_motif_graph(gid, attack_motifs, nodes_per_graph, rng))
        test_gids.append(gid)
    out = StreamInput(train, test, clusters, set(range(300, 300 + n_attacks)),
                      sorted(test_gids))
    out.digest = digest(train, test)
    return out
