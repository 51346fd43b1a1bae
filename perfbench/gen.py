"""Seeded input generators and their ground truth.

Everything here is plain Python/numpy: no Spark, no import of the
package under test.  The WARC writer, the SURT keys and every expected
answer are derived from the generator's own choices, so a defect in the
program cannot leak into the reference it is checked against.

URLs are generated already in canonical form (lowercase ``http://``
host without ``www.``, no port, at most one query parameter), so the
SURT key is the reversed host, ``)``, the path and the query, written
directly by ``surt_of``.
"""

from __future__ import annotations

import base64
import bisect
import gzip
import hashlib
import os
import random
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# WARC writing
# ---------------------------------------------------------------------------

REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


def iso(ts14: str) -> str:
    return (
        f"{ts14[0:4]}-{ts14[4:6]}-{ts14[6:8]}T"
        f"{ts14[8:10]}:{ts14[10:12]}:{ts14[12:14]}Z"
    )


def sha1_b32(payload: bytes) -> str:
    return base64.b32encode(hashlib.sha1(payload).digest()).decode("ascii")


def warc_record(
    url: str, ts14: str, payload: bytes, *, revisit_of: tuple | None = None
) -> bytes:
    """One gzip member holding one WARC response (or revisit) record.
    A revisit carries the HTTP head only and declares the original
    payload digest, as crawlers write deduplicated recaptures."""
    head = b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
    if revisit_of is None:
        http = head + f"Content-Length: {len(payload)}\r\n\r\n".encode() + payload
        extra = ""
        rtype = "response"
    else:
        http = head + b"\r\n"
        ref_url, ref_ts, digest = revisit_of
        extra = (
            f"WARC-Profile: {REVISIT_PROFILE}\r\n"
            f"WARC-Refers-To-Target-URI: {ref_url}\r\n"
            f"WARC-Refers-To-Date: {iso(ref_ts)}\r\n"
            f"WARC-Payload-Digest: sha1:{digest}\r\n"
        )
        rtype = "revisit"
    hdr = (
        "WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {iso(ts14)}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
        f"{extra}"
    ).encode()
    return gzip.compress(hdr + b"\r\n" + http + b"\r\n\r\n", mtime=0, compresslevel=1)


def write_warcs(out_dir: str, records: list[bytes], n_files: int, tag: str) -> str:
    """Deal ``records`` round-robin into ``n_files`` .warc.gz files and
    write a manifest; returns the manifest path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        p = os.path.abspath(os.path.join(out_dir, f"{tag}-{f:03d}.warc.gz"))
        with open(p, "wb") as fh:
            fh.write(b"".join(records[f::n_files]))
        paths.append(p)
    manifest = os.path.join(out_dir, f"{tag}.manifest")
    with open(manifest, "w") as fh:
        fh.write("\n".join(paths) + "\n")
    return os.path.abspath(manifest)


def surt_of(host: str, path: str, query: str = "") -> str:
    return ",".join(reversed(host.split("."))) + ")" + path + (
        f"?{query}" if query else ""
    )


def zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


# ---------------------------------------------------------------------------
# archive: crawl corpus, epoch batches, cdx request mix
# ---------------------------------------------------------------------------


@dataclass
class Capture:
    urlkey: str
    ts: str
    url: str
    revisit: bool


@dataclass
class Corpus:
    """A crawl: captures plus the WARC bytes that encode them."""

    captures: list[Capture] = field(default_factory=list)
    records: list[bytes] = field(default_factory=list)

    def sorted_keys(self) -> list[tuple[str, str]]:
        return sorted((c.urlkey, c.ts) for c in self.captures)


def _rand_ts(rng: random.Random) -> str:
    # 2015-01-01 .. 2023-12-28, second resolution
    y = rng.randrange(2015, 2024)
    return (
        f"{y}{rng.randrange(1, 13):02d}{rng.randrange(1, 29):02d}"
        f"{rng.randrange(24):02d}{rng.randrange(60):02d}{rng.randrange(60):02d}"
    )


_WORDS = (
    "archive crawl index capture replay memento web page link host "
    "domain record index block shard query prefix match lookup time "
    "travel snapshot collection warc cdx zipnum surt canonical key"
).split()


def _html(rng: random.Random, n_words: int) -> bytes:
    body = " ".join(rng.choices(_WORDS, k=n_words))
    return f"<html><body><p>{body}</p></body></html>".encode()


class UrlSpace:
    """Hosts with Zipf popularity; each host owns a pool of canonical
    URLs, some under subdomains and some with a query parameter."""

    def __init__(self, rng: random.Random, n_hosts: int, zipf_s: float):
        self.rng = rng
        self.hosts = [f"h{i:04d}.example.org" for i in range(n_hosts)]
        self.weights = zipf_weights(n_hosts, zipf_s)
        self.urls: dict[str, list[tuple[str, str, str]]] = {h: [] for h in self.hosts}

    def new_url(self) -> tuple[str, str, str]:
        rng = self.rng
        base = rng.choices(self.hosts, self.weights)[0]
        sub = rng.choices(["", "a.", "b."], [0.8, 0.1, 0.1])[0]
        host = sub + base
        pool = self.urls[base]
        path = f"/d{rng.randrange(6)}/p{len(pool)}"
        query = f"id={rng.randrange(1000)}" if rng.random() < 0.25 else ""
        u = (host, path, query)
        pool.append(u)
        return u

    def popular_url(self) -> tuple[str, str, str]:
        """A URL already in the space, host by Zipf, URL uniform."""
        while True:
            base = self.rng.choices(self.hosts, self.weights)[0]
            if self.urls[base]:
                return self.rng.choice(self.urls[base])


def url_str(u: tuple[str, str, str]) -> str:
    host, path, query = u
    return f"http://{host}{path}" + (f"?{query}" if query else "")


def crawl(
    rng: random.Random, space: UrlSpace, n_records: int, revisit_share: float
) -> Corpus:
    """``n_records`` captures: new URLs and recaptures of existing ones
    (popular hosts recaptured more), a share of recaptures written as
    revisit records, HTML payloads of log-normal word counts."""
    out = Corpus()
    last: dict[str, tuple[str, str]] = {}  # urlkey -> (ts, digest)
    used: set[tuple[str, str]] = set()
    while len(out.captures) < n_records:
        if last and rng.random() < 0.4:
            u = space.popular_url()
        else:
            u = space.new_url()
        key = surt_of(*u)
        ts = _rand_ts(rng)
        if (key, ts) in used:
            continue
        used.add((key, ts))
        url = url_str(u)
        prev = last.get(key)
        if prev is not None and prev[0] < ts and rng.random() < revisit_share:
            out.records.append(warc_record(url, ts, b"", revisit_of=(url, *prev)))
            out.captures.append(Capture(key, ts, url, True))
            continue
        payload = _html(rng, int(min(2000, rng.lognormvariate(4.0, 0.8))) + 5)
        out.records.append(warc_record(url, ts, payload))
        out.captures.append(Capture(key, ts, url, False))
        last[key] = (ts, sha1_b32(payload))
    return out


@dataclass
class Request:
    """One cdx-server request plus its expected answer: the ordered
    list of (urlkey, timestamp) rows, and the urlkey range the
    request's index pruning must cover."""

    kind: str
    url: str
    params: dict
    expected: list[tuple[str, str]]
    key_lo: str
    key_hi: str


def _closest(rows, target: str, limit: int):
    t = int(target)
    return sorted(rows, key=lambda r: (abs(int(r[1]) - t), r[1]))[:limit]


def _collapse_year(rows, revisit_keys):
    out, prev = [], None
    for r in rows:  # rows sorted by (urlkey, ts)
        if (r[0], r[1]) in revisit_keys:
            continue
        k = (r[0], r[1][:4])
        if k != prev:
            out.append(r)
        prev = k
    return out


#: request kinds in the order a client sends them, one cycle of 10:
#: exact hits 30%, and 10% each of exact misses, prefix, domain,
#: closest+limit, collapse+filter, fuzzy and resume_key paging.  A
#: fixed cycle keeps every run's mix identical whatever the seed.
SINGLE_CYCLE = (
    "exact", "prefix", "closest", "exact", "miss", "domain", "collapse",
    "exact", "fuzzy", "resume",
)
#: the epoch store answers the same grammar; its cycle has no
#: collapse/fuzzy/resume share, which ``archive`` sends to the cluster
EPOCH_CYCLE = ("exact", "prefix", "miss", "exact", "closest")
#: batch members: the bulk-lookup surface takes exact and prefix
BATCH_CYCLE = ("exact", "exact", "prefix", "exact", "miss", "prefix", "exact", "exact")


class RequestMaker:
    """Builds requests against one corpus; popularity of the URLs asked
    for follows the hosts' Zipf law."""

    def __init__(self, rng: random.Random, space: UrlSpace, corpus: Corpus):
        self.rng, self.space = rng, space
        self.rows = corpus.sorted_keys()
        self.by_key: dict[str, list[tuple[str, str]]] = {}
        for r in self.rows:
            self.by_key.setdefault(r[0], []).append(r)
        self.revisits = {(c.urlkey, c.ts) for c in corpus.captures if c.revisit}

    def _range(self, lo: str, hi: str):
        i = bisect.bisect_left(self.rows, (lo, ""))
        j = bisect.bisect_left(self.rows, (hi, ""))
        return self.rows[i:j]

    def make(self, kind: str) -> Request:
        while True:
            r = self._try(kind)
            if r is not None:
                return r

    def _try(self, kind: str) -> Request | None:
        rng = self.rng
        host, path, query = self.space.popular_url()
        key = surt_of(host, path, query)
        if key not in self.by_key:
            return None
        url = url_str((host, path, query))
        d = path.rsplit("/", 1)[0] + "/"
        plo = surt_of(host, d)
        if kind == "exact":
            return Request(kind, url, {}, self.by_key[key], key, key + "!")
        if kind == "miss":
            mk = surt_of(host, path + "x")
            return Request(kind, url_str((host, path + "x", "")), {}, [], mk, mk + "!")
        if kind == "prefix":
            return Request(kind, f"http://{host}{d}*", {},
                           self._range(plo, plo + "~"), plo, plo + "~")
        if kind == "domain":
            base = host.split(".", 1)[1] if host.count(".") > 2 else host
            lo = ",".join(reversed(base.split(".")))
            return Request(kind, f"*.{base}", {}, self._range(lo, lo + "~"), lo, lo + "~")
        if kind == "closest":
            target = _rand_ts(rng)
            return Request(kind, url, {"closest": target, "limit": 3},
                           _closest(self.by_key[key], target, 3), key, key + "!")
        if kind == "collapse":
            return Request(
                kind, f"http://{host}{d}*",
                {"collapse": "timestamp:4", "filters": ["!mime:revisit"]},
                _collapse_year(self._range(plo, plo + "~"), self.revisits),
                plo, plo + "~",
            )
        if kind == "fuzzy":
            if query:
                return None
            bust = f"_={rng.randrange(10**6, 10**7)}"
            bk = surt_of(host, path, bust)
            return Request(kind, url + "?" + bust, {"fuzzy": True},
                           self.by_key[key], min(bk, key), max(bk, key) + "!")
        if kind == "resume":
            hits = self._range(plo, plo + "~")
            if len(hits) < 4:
                return None
            cut = hits[len(hits) // 3]
            return Request(kind, f"http://{host}{d}*",
                           {"resume_key": cut, "limit": 5},
                           [r for r in hits if r > cut][:5], cut[0], plo + "~")
        raise ValueError(kind)

    def cycle(self, kinds: tuple[str, ...], n: int) -> list[Request]:
        return [self.make(kinds[i % len(kinds)]) for i in range(n)]


# ---------------------------------------------------------------------------
# curation: HTML corpus with planted duplicates and boilerplate
# ---------------------------------------------------------------------------

_VOCAB = [f"w{i}" for i in range(4000)]


@dataclass
class CurateCorpus:
    """An HTML crawl and the duplicate structure planted in it."""

    records: list[bytes]
    n_docs: int
    near_dup_pairs: set[tuple[str, str]]  # (source url, edited copy url)
    exact_dup_pairs: set[tuple[str, str]]  # (source url, copy url)
    boilerplate_urls: set[str]
    originals: set[str]  # distinct articles: no two may share a cluster


def curate_corpus(rng: random.Random, n_docs: int) -> CurateCorpus:
    """``n_docs`` HTML pages: distinct articles, exact copies (same
    body under another URL), near-duplicates (a few words edited) and
    boilerplate-only pages (navigation lists, no main text)."""
    recs, urls_all = [], []
    near, exact, boiler = set(), set(), set()
    originals: list[tuple[str, list[str]]] = []
    nav = "".join(f'<li><a href="/n{i}">menu {i}</a></li>' for i in range(12))

    def page(words: list[str]) -> bytes:
        paras = [" ".join(words[i:i + 60]) for i in range(0, len(words), 60)]
        body = "".join(f"<p>{p}</p>" for p in paras)
        return (
            f"<html><head><title>t</title></head><body><ul>{nav}</ul>"
            f"<article>{body}</article><footer>contact us</footer></body></html>"
        ).encode()

    i = 0
    while len(urls_all) < n_docs:
        url = f"http://c{i % 97:02d}.example.net/doc/{i}"
        ts = _rand_ts(rng)
        r = rng.random()
        if originals and r < 0.10:
            src_url, words = rng.choice(originals)
            exact.add((src_url, url))
            body = page(words)
        elif originals and r < 0.25:
            src_url, words = rng.choice(originals)
            w = list(words)
            for _ in range(max(1, len(w) // 40)):
                w[rng.randrange(len(w))] = rng.choice(_VOCAB)
            near.add((src_url, url))
            body = page(w)
        elif r < 0.32:
            boiler.add(url)
            body = f"<html><body><ul>{nav}</ul><p>login</p></body></html>".encode()
        else:
            words = rng.choices(_VOCAB, k=rng.randrange(120, 400))
            originals.append((url, words))
            body = page(words)
        recs.append(warc_record(url, ts, body))
        urls_all.append(url)
        i += 1
    return CurateCorpus(recs, n_docs, near, exact, boiler, {u for u, _ in originals})


# ---------------------------------------------------------------------------
# vectors: clustered 64-d corpus, queries and brute-force top-10
# ---------------------------------------------------------------------------


def vectors(seed: int, n: int, dim: int, n_clusters: int, n_queries: int):
    """Vectors in ``n_clusters`` Gaussian clusters, an integer ``label``
    attribute tied to the cluster (for filtered search), and query
    vectors drawn near random corpus points."""
    import numpy as np

    g = np.random.default_rng(seed)
    cents = g.normal(size=(n_clusters, dim))
    lab = g.integers(0, n_clusters, n)
    x = (cents[lab] + 0.9 * g.normal(size=(n, dim))).astype(np.float32)
    attr = (lab % 4).astype(np.int32)
    picks = g.integers(0, n, n_queries)
    q = (x[picks] + 0.3 * g.normal(size=(n_queries, dim))).astype(np.float32)
    return x, attr, q


def brute_topk(x, q, k: int, mask=None):
    """Exact cosine top-k ids per query (ties by id), over rows where
    ``mask`` is true."""
    import numpy as np

    xn = x.astype(np.float64) / np.linalg.norm(x.astype(np.float64), axis=1, keepdims=True)
    qn = q.astype(np.float64) / np.linalg.norm(q.astype(np.float64), axis=1, keepdims=True)
    sims = qn @ xn.T
    if mask is not None:
        sims = np.where(mask[None, :], sims, -np.inf)
    out = []
    for row in sims:
        order = np.lexsort((np.arange(len(row)), -np.round(row, 6)))
        out.append([int(i) for i in order[:k] if np.isfinite(row[i])])
    return out, sims
