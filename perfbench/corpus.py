"""Seeded input generators for the crawl-round benchmark.

Each workload is a pure function of ``(seed, scale)``: the same pair gives
byte-identical tables. The engine only ever sees the tables written by
:func:`write_tables` (``cdx``, ``pages``, ``robots``, and for
``discovery_restart`` a pre-populated ``seen`` key list); the gold values
the checker compares against (per-URL article text, the dedup winner of
every URL, the link graph) stay in the returned :class:`Corpus`.

Gold article text is known by construction, not by running the engine's
extractor: a page body is ``<p>`` paragraphs of plain words, so the
extracted text is the paragraphs joined by newlines.

Sizes are fixed per workload (the seed varies content and order, never
counts), so runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import random
from dataclasses import dataclass, field

import pandas as pd

CRAWLS = [f"CC-MAIN-{y}-{w:02d}" for y, w in
          [(2019, 4), (2020, 16), (2021, 21), (2022, 33), (2024, 10)]]
SECTIONS = ["world", "politics", "sport", "culture", "business", "tech"]
WORDS = (
    "the quick analysis shows that markets respond to policy shifts while "
    "researchers continue to examine long term trends across regions and "
    "communities report steady progress despite ongoing challenges in the "
    "sector according to officials familiar with the matter"
).split()
# non-ASCII words appear only in pages that declare their charset, so the
# charset-sniffing fallback is exercised on pure-ASCII bodies only
ACCENTED = ["café", "naïve", "Zürich", "São", "façade"]
AUTHORS = ["Alice Carter", "Bob Ng", "Carol Diaz", "Dan Okafor", "Eve Lind"]


@dataclass
class Corpus:
    """Generated tables plus the gold values the checker needs."""

    cdx: pd.DataFrame
    pages: pd.DataFrame
    robots: pd.DataFrame
    # url -> extracted article text; malformed pages map to None
    gold_text: dict[str, str | None]
    crawl_order: list[str]
    job_args: dict
    # rounds run before the job is dropped and rebuilt on its directory,
    # as after a crash; every workload restarts once so that ``resume_s``
    # is measured on each
    restart_after: int
    # discovery_restart only
    links: dict[str, list[str]] = field(default_factory=dict)
    seen_keys: list[str] = field(default_factory=list)
    seed_urls: list[str] = field(default_factory=list)

    def sizes(self) -> dict[str, int]:
        return {
            "urls": int(self.cdx["url"].nunique()) if not self.links
            else len(self.pages),
            "hosts": int(self.pages["url"].map(host_of).nunique()),
            "cdx_rows": len(self.cdx),
            "page_bytes": int(self.pages["html"].map(len).sum()),
            "preseen_keys": len(self.seen_keys),
        }


def canonical(url: str) -> str:
    """The engine's seen-set key input: netloc (lowercased, ``www.``
    dropped) + path without trailing slashes. Generated URLs carry no
    query, fragment or port, so this is all the canonicalization they
    need."""
    rest = url.split("://", 1)[1]
    netloc, _, path = rest.partition("/")
    netloc = netloc.lower()
    if netloc.startswith("www."):
        netloc = netloc[4:]
    return netloc + ("/" + path).rstrip("/")


def url_key(url: str) -> str:
    return hashlib.sha1(canonical(url).encode()).hexdigest()


def host_of(url: str) -> str:
    return canonical(url).split("/", 1)[0]


def _paragraph(rng: random.Random, n_words: int, accented: bool) -> str:
    words = rng.choices(WORDS, k=n_words)
    if accented and rng.random() < 0.3:
        words[rng.randrange(n_words)] = rng.choice(ACCENTED)
    return " ".join(words).capitalize() + "."


def _article(rng: random.Random, i: int, n_paras: int, para_words: tuple,
             charset: str | None, nav_links: list[str]) -> tuple[str, str]:
    """(html, gold text). Only ``nav_links`` carry an href, so link
    discovery sees exactly the intended graph."""
    accented = charset is not None
    paras = [_paragraph(rng, rng.randint(*para_words), accented)
             for _ in range(n_paras)]
    nav = "".join(f'<a href="{u}">more</a>' for u in nav_links)
    body = "\n".join(f"<p>{p}</p>" for p in paras)
    html = (
        "<!DOCTYPE html><html><head><title>t</title></head><body>"
        f"<nav>{nav}</nav>"
        f'<h1 class="content__headline">Report {i}</h1>'
        '<time itemprop="datePublished" datetime="2024-03-01T00:00:00+00:00">'
        "2024-03-01</time>"
        f'<a rel="author">{AUTHORS[i % len(AUTHORS)]}</a>'
        '<div itemprop="articleBody"><script>var x=1;</script>'
        f"<aside>Related stories</aside>{body}</div>"
        "</body></html>"
    )
    return html, "\n".join(paras)


def _warc(html: str, url: str, charset: str | None, gzipped: bool) -> bytes:
    body = html.encode(charset or "ascii")
    ctype = f"text/html; charset={charset}" if charset else "text/html"
    raw = (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n"
    ).encode("ascii") + body
    return gzip.compress(raw, compresslevel=1, mtime=0) if gzipped else raw


def _pages_and_gold(rng, urls, malformed, n_paras, para_words, gzip_share,
                    links=None):
    rows, gold = [], {}
    for i, url in enumerate(urls):
        charset = [None, "utf-8", "iso-8859-1"][i % 3]
        if url in malformed:
            # no WARC separators: the extractor must route it to failures
            html_bytes = b"GARBAGE-NO-SEPARATORS"
            gold[url] = None
        else:
            html, gold[url] = _article(
                rng, i, rng.randint(*n_paras), para_words, charset,
                (links or {}).get(url, []))
            html_bytes = _warc(html, url, charset, rng.random() < gzip_share)
        rows.append({"url": url, "html": html_bytes,
                     "lang": "en" if i % 20 else "de"})
    pages = pd.DataFrame(rows)
    pages["warc_ts"] = pd.Timestamp("2024-03-01")
    return pages, gold


def _captures(rng, urls, dup_share):
    """CDX rows. Every URL has exactly one ``200`` + ``text/html``
    capture (the dedup winner whatever the fold order); ``dup_share`` of
    URLs get 1-4 extra losing captures."""
    rows, line_no = [], {}
    for url in urls:
        n_extra = rng.choice([1, 1, 2, 4]) if rng.random() < dup_share else 0
        kinds = ["win"] + ["lose"] * n_extra
        rng.shuffle(kinds)
        for kind in kinds:
            crawl = rng.choice(CRAWLS)
            page = rng.randrange(10)
            line_no[(crawl, page)] = line_no.get((crawl, page), -1) + 1
            if kind == "win":
                status, mime = "200", "text/html"
            else:
                status, mime = rng.choice(
                    [("404", "text/html"), ("301", "text/html"),
                     ("503", None), ("200", "application/pdf")])
            rows.append({
                "urlkey": canonical(url),
                "timestamp": f"20{rng.randint(10, 25)}0101000000",
                "url": url,
                "mime": "text/html",
                "mime_detected": mime,
                "status": status,
                "digest": hashlib.sha1(f"{url}{len(rows)}".encode()).hexdigest(),
                "length": str(rng.randint(2_000, 80_000)),
                "offset": str(rng.randint(0, 10**9)),
                "filename": f"crawl-data/{crawl}/seg.warc.gz",
                "crawl": crawl,
                "page": page,
                "line_no": line_no[(crawl, page)],
            })
    # arrival order is a property of the index, not of the URL list
    rng.shuffle(rows)
    return pd.DataFrame(rows)


def _url(rng: random.Random, host: str, i: int, variants: bool) -> str:
    section = rng.choice(SECTIONS)
    url = f"https://{host}/{section}/2024/{rng.randint(1, 12):02d}/story-{i}"
    if variants:
        # canonicalization twins of the same shape the reference saw
        style = rng.random()
        if style < 0.02:
            url = url.replace("https://", "https://www.")
        elif style < 0.035:
            url = url.replace("https://", "http://")
        elif style < 0.05:
            url += "/"
    return url


def fat_single_round(seed: int, scale: float = 1.0) -> Corpus:
    """Evenly loaded hosts, fat pages, and a budget above every host's
    frontier share, so a single round fetches everything."""
    rng = random.Random(f"fat_single_round/{seed}")
    n_hosts = 64
    per_host = max(4, int(30 * scale))
    hosts = [f"host-{k:02d}.test" for k in range(n_hosts)] * per_host
    rng.shuffle(hosts)
    urls = [_url(rng, h, i, variants=True) for i, h in enumerate(hosts)]
    malformed = set(rng.sample(urls, round(len(urls) * 0.01)))
    pages, gold = _pages_and_gold(rng, urls, malformed, (40, 60), (60, 100),
                                  gzip_share=0.5)
    cdx = _captures(rng, urls, dup_share=0.2)
    robots = pd.DataFrame([{"host": h, "disallow_prefixes": [],
                            "crawl_delay_s": 0.1}
                           for h in sorted(set(hosts))])
    return Corpus(cdx, pages, robots, gold, CRAWLS,
                  {"budget_per_host": 4 * per_host}, restart_after=0)


def discovery_restart(seed: int, scale: float = 1.0) -> Corpus:
    """A link-following crawl from a few seed pages that link to every
    other page, so round 0 grows the frontier ~40x and round 1 (the first
    after the restart) drains it, with a seen set pre-populated above the
    Bloom crossover."""
    rng = random.Random(f"discovery_restart/{seed}")
    n = max(300, int(2400 * scale))
    n_hosts = 16
    hosts = [f"node-{k:02d}.test" for k in range(n_hosts)] * (n // n_hosts + 1)
    hosts = hosts[:n]
    rng.shuffle(hosts)
    urls = [_url(rng, h, i, variants=False) for i, h in enumerate(hosts)]
    n_seeds = max(8, n // 40)
    seeds = urls[:n_seeds]
    # two rounds only: each crawl round costs seconds of fixed Spark work
    # on a small host, and the whole run must stay near a minute
    links: dict[str, list[str]] = {u: [] for u in urls}
    for child in urls[n_seeds:]:
        links[rng.choice(seeds)].append(child)
    for u in urls:  # cross links to already-known pages (dedup work)
        links[u] += rng.sample(urls, 2)
    # a previous crawl saw 8 synthetic keys per page plus 3% of the corpus
    # pages themselves, which the crawl must then never fetch
    preseen_pages = set(rng.sample(urls[n_seeds:], round(n * 0.03)))
    seen_keys = sorted(
        [hashlib.sha1(f"old-{seed}-{j}".encode()).hexdigest()
         for j in range(8 * n)]
        + [url_key(u) for u in preseen_pages])
    malformed = set(rng.sample(urls[n_seeds:], round(n * 0.01)))
    pages, gold = _pages_and_gold(rng, urls, malformed, (2, 5), (8, 25),
                                  gzip_share=0.0, links=links)
    cdx = _captures(rng, seeds, dup_share=0.2)
    robots = pd.DataFrame([{"host": h, "disallow_prefixes": [],
                            "crawl_delay_s": 0.5}
                           for h in sorted(set(hosts))])
    return Corpus(
        cdx, pages, robots, gold, CRAWLS,
        {"budget_per_host": -(-n // n_hosts),
         "bloom_threshold": len(seen_keys) // 2},
        links=links, seen_keys=seen_keys, seed_urls=seeds, restart_after=1,
    )


WORKLOADS = {
    "fat_single_round": fat_single_round,
    "discovery_restart": discovery_restart,
}


def write_tables(corpus: Corpus, out_dir: str, files: int = 8) -> dict[str, str]:
    """Write the engine-visible tables as parquet; returns {name: path}.

    ``pages`` is split over ``files`` files so the scan (and the fused
    fetch + extraction behind it) runs in parallel."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    tables = [("cdx", corpus.cdx, 1), ("robots", corpus.robots, 1),
              ("pages", corpus.pages, files)]
    if corpus.seen_keys:
        tables.append(("seen", pd.DataFrame({"url_sha1": corpus.seen_keys}), 1))
    for name, df, n_files in tables:
        path = os.path.join(out_dir, name)
        os.makedirs(path, exist_ok=True)
        step = -(-len(df) // n_files)
        for k in range(n_files):
            part = df.iloc[k * step:(k + 1) * step]
            if len(part):
                part.to_parquet(os.path.join(path, f"part-{k:03d}.parquet"),
                                index=False, coerce_timestamps="us",
                                allow_truncated_timestamps=True)
        paths[name] = path
    return paths
