"""Deterministic synthetic fixtures (seed=42) for the crawl engine.

Schemas per FIXTURES.md; no driver table carries WARC bytes, so the
``pages`` table (BASELINE.json input_hint: url, warc_ts, html, text, lang)
is synthesized here. HTML bodies follow the Guardian selector structure the
extractor targets (reference extract_from_warc.py:58-156), WARC framing
follows the 3-part layout split at extract_from_warc.py:40-46, and the
golden ``text`` column is computed at generation time with the *same*
extraction module the Spark UDF uses — the byte-identity target.

Everything derives from ``random.Random(seed)``: same seed + same n ->
bit-identical tables, so tests and the two-parallelism scaling bench run
on identical inputs.
"""

from __future__ import annotations

import gzip
import os
import random
from datetime import datetime, timedelta, timezone

import pandas as pd

from .functions.extract import extract_from_warc_bytes

HOT_HOST = "example-news.test"
MINOR_HOSTS = [f"site-{i:02d}.test" for i in range(50)]
SECTIONS = ["world", "politics", "sport", "culture", "business", "tech", "science"]
AUTHORS = [
    "Alice Carter", "Bob Ng", "Carol Diaz", "Dan Okafor", "Eve Lindqvist",
    "Fred Zhou", "Grace O'Neil", "Hugo Marchetti", "Iris Tanaka", "José Müller",
]
KEYWORDS = [
    "Climate", "Elections", "Football", "Cinema", "Markets", "AI", "Space",
    "Health", "Energy", "Education", "Brexit", "Privacy",
]
CRAWLS = [f"CC-MAIN-{y}-{w:02d}" for y, w in
          [(2019, 4), (2020, 16), (2021, 21), (2022, 33), (2024, 10), (2025, 38)]]

_EPOCH = datetime(2008, 1, 1, tzinfo=timezone.utc)
_SPAN_S = int((datetime(2025, 9, 1, tzinfo=timezone.utc) - _EPOCH).total_seconds())

_WORDS = (
    "the quick analysis shows that markets respond to policy shifts while "
    "researchers continue to examine long term trends across regions and "
    "communities report steady progress despite ongoing challenges in the "
    "sector according to officials familiar with the matter"
).split()


def _paragraph(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words)).capitalize() + "."


def _article_html(rng: random.Random, i: int, charset_ascii_only: bool) -> str:
    """One Guardian-shaped article. Variant switches exercise every fallback
    chain in the extractor (reference extract_from_warc.py:58-156)."""
    author = AUTHORS[i % len(AUTHORS)]
    if charset_ascii_only:
        author = author.encode("ascii", "ignore").decode("ascii")
    title = f"Report {i}: {_paragraph(rng, 4)[:-1]}"
    pub = (_EPOCH + timedelta(seconds=(i * 7919) % _SPAN_S)).strftime(
        "%Y-%m-%dT%H:%M:%S+00:00"
    )
    paras = "\n".join(
        f"<p>{_paragraph(rng, rng.randint(8, 25))}</p>" for _ in range(rng.randint(2, 6))
    )
    noise = (
        "<script>var x=1;</script><style>.a{color:red}</style>"
        "<aside>Related stories</aside>"
    )
    body_variant = i % 2
    if body_variant == 0:
        body = f'<div itemprop="articleBody" class="content__article-body">{noise}{paras}</div>'
    else:
        body = f'<div class="content__article-body from-content-api">{noise}{paras}</div>'

    kws = rng.sample(KEYWORDS, rng.randint(2, 4))
    sign_variant = i % 4
    if sign_variant == 0:
        items = "".join(
            f'<li class="signposting__item"><a href="/{k.lower()}">{k}</a></li>'
            for k in ["Home"] + kws[:2]
        )
        signposting = f'<ul class="signposting">{items}</ul>'
    elif sign_variant == 1:
        items = "".join(
            f'<li class="subnav__item"><a class="subnav-link" href="/{k.lower()}">{k}</a></li>'
            for k in ["Home"] + kws[:2]
        )
        signposting = f'<ul class="subnav__list">{items}</ul>'
    elif sign_variant == 2:
        links = "".join(f'<a href="/{k.lower()}">{k}</a>' for k in ["Home"] + kws[:2])
        signposting = f'<div class="content__labels">{links}</div>'
    else:
        signposting = ""

    labels = (
        '<div class="content__labels content__labels--not-immersive">'
        f'<a class="content__section-label__link" href="/{kws[0].lower()}">{kws[0]}</a></div>'
        if i % 3 != 2
        else ""
    )

    kw_variant = i % 3
    if kw_variant == 0:
        links = "".join(
            f'<a class="submeta__link" href="/tag/{k.lower()}">{k}</a>' for k in kws
        )
        kw_block = f'<div class="submeta__keywords">{links}</div>'
    elif kw_variant == 1:
        links = "".join(
            f'<li><a itemprop="keywords" href="/tag/{k.lower()}">{k}</a></li>' for k in kws
        )
        kw_block = f'<ul class="keyword-list">{links}</ul>'
    else:
        links = "".join(
            f'<li><a class="submeta__link" href="/tag/{k.lower()}">{k}</a></li>' for k in kws
        )
        kw_block = f'<ul class="submeta__links">{links}</ul>'

    return (
        "<!DOCTYPE html><html><head><title>t</title></head><body>"
        f"{signposting}{labels}"
        f'<h1 class="content__headline" itemprop="headline">{title}</h1>'
        f'<time itemprop="datePublished" datetime="{pub}">{pub}</time>'
        f'<a rel="author" class="tone-colour" href="/profile/a{i}">{author}</a>'
        f"{body}{kw_block}"
        "</body></html>"
    )


def _warc_wrap(html: str, url: str, ts14: str, charset: str | None,
               gzipped: bool) -> bytes:
    """WARC header + HTTP header + body, per the 3-part \\r\\n\\r\\n layout."""
    enc = charset or "utf-8"
    body = html.encode(enc, errors="replace")
    ctype = f"text/html; charset={charset}" if charset else "text/html"
    warc_header = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\nWARC-Date: {ts14}\r\n"
        f"Content-Length: {len(body)}\r\n"
    ).encode("ascii")
    http_header = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n"
    ).encode("ascii")
    raw = warc_header + b"\r\n\r\n" + http_header + b"\r\n\r\n" + body
    if gzipped:
        return gzip.compress(raw, compresslevel=1, mtime=0)
    return raw


def _url_for(rng: random.Random, i: int) -> tuple[str, str]:
    """(url, host). 90% hot host (the reference corpus is single-host —
    maximal skew by design); ~5% canonicalization twins."""
    host = HOT_HOST if rng.random() < 0.9 else rng.choice(MINOR_HOSTS)
    section = SECTIONS[i % len(SECTIONS)]
    d = _EPOCH + timedelta(seconds=(i * 104729) % _SPAN_S)
    base = f"https://{host}/{section}/{d:%Y/%b/%d}/story-{i}".lower()
    style = rng.random()
    if style < 0.02:
        base = base.replace("https://", "https://www.")
    elif style < 0.035:
        base = base.replace("https://", "http://")
    elif style < 0.05:
        base = base + "/"
    return base, host


def gen_pages(n: int, seed: int = 42) -> pd.DataFrame:
    """The canonical input table: (url, warc_ts, html, text, lang)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        url, host = _url_for(rng, i)
        ts = _EPOCH + timedelta(seconds=(i * 60611) % _SPAN_S)
        charset = [None, "utf-8", "iso-8859-1"][i % 3]
        ascii_only = charset is None  # keep charset-sniff path deterministic
        shape = rng.random()
        if shape < 0.02:  # malformed: no separators / empty body
            raw = b"GARBAGE-NO-SEPARATORS" if shape < 0.01 else _warc_wrap(
                "", url, f"{ts:%Y%m%d%H%M%S}", charset, gzipped=False
            )
            html_bytes = raw
        else:
            html = _article_html(rng, i, ascii_only)
            html_bytes = _warc_wrap(
                html, url, f"{ts:%Y%m%d%H%M%S}", charset, gzipped=rng.random() < 0.9
            )
        oracle = extract_from_warc_bytes(html_bytes)
        lang = "en" if i % 25 else rng.choice(["de", "fr"])
        rows.append(
            {
                "url": url,
                "warc_ts": ts.replace(tzinfo=None),
                "html": html_bytes,
                "text": oracle["text"],
                "lang": lang,
            }
        )
    return pd.DataFrame(rows)


def gen_cdx(pages: pd.DataFrame, seed: int = 42, dup_rate: float = 0.2) -> pd.DataFrame:
    """CDX index records joining to pages.url; ~20% of URLs appear 2-5x with
    varying status/mime/length/timestamp to exercise every
    choose_better_record branch (download_and_merge.py:198-209)."""
    rng = random.Random(seed + 1)
    rows = []
    line_no = {}
    for i, url in enumerate(pages["url"]):
        n_caps = rng.choices([1, 2, 3, 5], weights=[1 - dup_rate, 0.12, 0.05, 0.03])[0]
        for c in range(n_caps):
            crawl = CRAWLS[(i + c) % len(CRAWLS)]
            page = (i // 500) % 10
            key = (crawl, page)
            line_no[key] = line_no.get(key, -1) + 1
            ts = _EPOCH + timedelta(seconds=((i * 60611) + c * 86400 * 37) % _SPAN_S)
            status = "200" if rng.random() < 0.85 else rng.choice(["301", "404", "503"])
            mime = rng.choice(["text/html", "text/html", "application/pdf", None])
            length = str(rng.randint(2_000, 80_000))
            host_part = url.split("//", 1)[-1]
            rows.append(
                {
                    "urlkey": "test," + host_part.replace("/", ")/", 1),
                    "timestamp": f"{ts:%Y%m%d%H%M%S}",
                    "url": url,
                    "mime": mime or "text/html",
                    "mime_detected": mime,
                    "status": status,
                    "digest": f"B32{(i * 2654435761 + c) % 10**12:012d}",
                    "length": length,
                    "offset": str(rng.randint(0, 10**9)),
                    "filename": f"crawl-data/{crawl}/segments/{i % 100}/warc/seg.warc.gz",
                    "crawl": crawl,
                    "page": page,
                    "line_no": line_no[key],
                }
            )
    # a handful of single-capture rows with non-numeric length: exercises the
    # ingest try_cast path without making the dedup fold order-ambiguous
    for j in range(3):
        if j < len(rows):
            url = f"https://{HOT_HOST}/special/badlen-{j}"
            rows.append(
                {
                    "urlkey": f"test,{HOT_HOST})/special/badlen-{j}",
                    "timestamp": "20200101000000",
                    "url": url,
                    "mime": "text/html",
                    "mime_detected": "text/html",
                    "status": "200",
                    "digest": f"B32BAD{j}",
                    "length": "not-a-number",
                    "offset": "0",
                    "filename": "crawl-data/CC-MAIN-2020-16/segments/0/warc/seg.warc.gz",
                    "crawl": "CC-MAIN-2020-16",
                    "page": 0,
                    "line_no": 10_000 + j,
                }
            )
    return pd.DataFrame(rows)


def gen_robots(seed: int = 42) -> pd.DataFrame:
    """Per-host politeness rules (north-rule addition; FIXTURES.md section 4)."""
    rng = random.Random(seed + 2)
    rows = [{"host": HOT_HOST, "disallow_prefixes": [], "crawl_delay_s": 0.2}]
    for h in MINOR_HOSTS:
        dis = [f"/{rng.choice(SECTIONS)}"] if rng.random() < 0.1 else []
        rows.append({"host": h, "disallow_prefixes": dis, "crawl_delay_s": 0.2})
    return pd.DataFrame(rows)


def write_fixtures(out_dir: str, n_pages: int = 1000, seed: int = 42) -> dict[str, str]:
    """Materialize pages/cdx/robots as parquet; returns {table: path}."""
    os.makedirs(out_dir, exist_ok=True)
    pages = gen_pages(n_pages, seed)
    cdx = gen_cdx(pages, seed)
    robots = gen_robots(seed)
    paths = {}
    for name, df in [("pages", pages), ("cdx", cdx), ("robots", robots)]:
        path = os.path.join(out_dir, f"{name}.parquet")
        # Spark can't scan TIMESTAMP(NANOS) parquet; write micros
        df.to_parquet(path, index=False, coerce_timestamps="us",
                      allow_truncated_timestamps=True)
        paths[name] = path
    return paths
