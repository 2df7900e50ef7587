"""URL discovery: extract and absolutize links from page HTML.

The reference never follows links — its frontier comes pre-built from
the CDX index (create_tasks.py fans out index pages, not page links).
A general crawl engine needs the discovery edge: pages -> hrefs ->
canonicalized absolute URLs -> (anti-join seen) -> frontier candidates.

Everything here is Catalyst expressions (regexp_extract_all + explode +
conditional concat) — link extraction runs in the scan stage with
whole-stage codegen, no Python, and the output is a slim (src, href)
edge table that shuffles cheaply. Fragment-only and non-fetchable
schemes (mailto:, javascript:, data:) are dropped at the source.

Resolution handles the cases that matter at corpus scale: absolute
http(s) URLs, protocol-relative ``//host/path``, root-relative
``/path``, and path-relative ``x/y`` (resolved against the source
directory; ``.``/``..`` segments are NOT normalized — the downstream
canonicalizer treats paths textually, matching the reference's
canonicalization which never normalizes dot-segments either).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..materialize import iterate, release
from ..materialize import materialize as _materialize

# href values in <a> tags, one pattern per quoting style so the closing
# quote always pairs the opening one (a single alternation with a shared
# [^"'] class truncated values containing the *other* quote char, e.g.
# href="it's-here"). The unquoted branch catches href=/x; its char class
# stops at whitespace/quotes/>/=/` per the HTML5 attribute grammar.
_HREF_RE_DQ = r'(?i)<a\s[^>]*?href\s*=\s*"([^"<>]*)"'
_HREF_RE_SQ = r"(?i)<a\s[^>]*?href\s*=\s*'([^'<>]*)'"
_HREF_RE_UQ = r"(?i)<a\s[^>]*?href\s*=\s*([^\s\"'<>=`]+)"

_SKIP_SCHEMES = r"(?i)^(mailto|javascript|data|tel|ftp):"


def _src_parts(src: Column) -> tuple[Column, Column, Column]:
    """(scheme, scheme://host, directory-of-path) of the source URL."""
    scheme = F.regexp_extract(src, r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://", 1)
    origin = F.regexp_extract(src, r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)", 1)
    # directory: origin + path up to (and incl.) the last '/'
    path = F.regexp_extract(src, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    dir_ = F.concat(
        origin,
        F.when(path.rlike("/"), F.regexp_replace(path, r"[^/]*$", ""))
        .otherwise(F.lit("/")),
    )
    return scheme, origin, dir_


def absolutize_col(href: Column, src: Column) -> Column:
    """Resolve ``href`` against source URL ``src`` (null if not fetchable)."""
    scheme, origin, dir_ = _src_parts(src)
    h = F.trim(href)
    no_frag = F.regexp_replace(h, r"#.*$", "")
    return (
        F.when(no_frag == "", None)
        .when(no_frag.rlike(_SKIP_SCHEMES), None)
        .when(no_frag.rlike(r"(?i)^https?://"), no_frag)
        .when(no_frag.startswith("//"), F.concat(scheme, F.lit(":"), no_frag))
        .when(no_frag.startswith("/"), F.concat(origin, no_frag))
        .otherwise(F.concat(dir_, no_frag))
    )


def page_hrefs(html: Column) -> Column:
    """Every ``<a href>`` value in the page bytes, as one array.

    The html bytes are interpreted best-effort via cast-to-string (a
    tolerant UTF8String wrap — unlike ``decode``, it never throws on
    non-UTF-8 or gzipped payloads, which real WARC corpora contain; the
    regex simply finds no links in binary noise). Byte-exact charset
    handling stays in the extraction operator where it matters."""
    text = html.cast("string")
    # three codegen regex passes (double-quoted, single-quoted, unquoted
    # values); discovery is set-shaped downstream, so pass order is
    # irrelevant. Known over-approximations, acceptable for discovery and
    # gated later by robots/seen: hrefs inside comments or <script> string
    # literals are extracted too, and a tag carrying several href
    # attributes yields each of them (browsers keep the first).
    return F.concat(
        F.regexp_extract_all(text, F.lit(_HREF_RE_DQ), F.lit(1)),
        F.regexp_extract_all(text, F.lit(_HREF_RE_SQ), F.lit(1)),
        F.regexp_extract_all(text, F.lit(_HREF_RE_UQ), F.lit(1)),
    )


def _resolve_edges(pages: DataFrame, src: Column, hrefs: Column) -> DataFrame:
    """(src_url, href, abs_url) per fetchable href of each page."""
    exploded = pages.select(src.alias("src_url"), F.explode(hrefs).alias("href"))
    out = exploded.withColumn(
        "abs_url", absolutize_col(F.col("href"), F.col("src_url"))
    )
    return out.filter(F.col("abs_url").isNotNull())


def extract_links(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """pages(url, html: binary) -> (src_url, href, abs_url) edge table
    (hrefs by :func:`page_hrefs`)."""
    return _resolve_edges(pages, F.col(url_col), page_hrefs(F.col(html_col)))


def discover_frontier_candidates(
    pages: DataFrame,
    seen: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Distinct new URLs discovered from fetched pages, minus the seen set
    — the feed for the next frontier seeding round.

    Deduplication happens on the CANONICAL key (url_sha1), not the raw
    string: two raw variants that canonicalize identically (case-differing
    host, trailing slash, www.) must yield ONE frontier row, or the
    downstream seen/batch machinery — which keys on url_sha1 — would
    double-fetch or silently drop a twin. One deterministic representative
    (min raw url) survives per key."""
    from .seen_set import anti_join_seen

    return anti_join_seen(candidate_links(pages, html_col, url_col), seen)


def candidate_links(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Discovered links as canonical-key-deduped frontier candidates
    (url_sha1, url) — membership filtering is the caller's (so CrawlJob
    can route it through its cross-round Bloom state)."""
    return _keyed_candidates(extract_links(pages, html_col, url_col))


def href_candidates(pages: DataFrame, hrefs_col: str = "hrefs",
                    url_col: str = "url") -> DataFrame:
    """:func:`candidate_links` over href arrays already taken from the
    html by :func:`page_hrefs` — for a round that extracts them in the
    same pass as the articles and then drops the html."""
    return _keyed_candidates(
        _resolve_edges(pages, F.col(url_col), F.col(hrefs_col)))


def _keyed_candidates(links: DataFrame) -> DataFrame:
    from .seen_set import with_url_key

    return (
        with_url_key(links.select(F.col("abs_url").alias("url")))
        .groupBy("url_sha1")
        .agg(F.min("url").alias("url"))
    )


def link_locality(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Per source host: how much of its discovered linking stays on-site
    — ``(host, n_edges, n_internal, n_external, internal_ratio)``. Link
    farms and boilerplate-heavy sites skew external; walled gardens
    skew internal — a crawl-budget allocation signal (an almost fully
    internal host saturates quickly; heavy external linkers feed the
    frontier). Edges come from ``extract_links`` (scan-stage regex);
    the aggregate shuffles (host, flag) pairs only."""
    from ..functions.urls import host_col

    edges = extract_links(pages, html_col, url_col)
    internal = (
        host_col(F.col("abs_url")) == host_col(F.col("src_url"))
    ).cast("long")
    return (
        edges.select(host_col(F.col("src_url")).alias("host"),
                     internal.alias("_i"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_edges"),
             F.sum("_i").alias("n_internal"))
        .select(
            "host", "n_edges", "n_internal",
            (F.col("n_edges") - F.col("n_internal")).alias("n_external"),
            F.round(F.col("n_internal")
                    / F.col("n_edges").cast("double"), 6)
            .alias("internal_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Anchor-text aggregation: what the web calls each URL
# ---------------------------------------------------------------------------

# full <a ...href...>inner</a> elements, one per quoting style; group 1 =
# href value, group 2 = inner markup (non-greedy to the nearest </a>).
# Nested-<a> documents are malformed HTML; the regex takes the shortest
# span, which is the browser-equivalent recovery.
_ANCHOR_RE_DQ = r'(?is)<a\s[^>]*?href\s*=\s*"([^"<>]*)"[^>]*>(.*?)</a\s*>'
_ANCHOR_RE_SQ = r"(?is)<a\s[^>]*?href\s*=\s*'([^'<>]*)'[^>]*>(.*?)</a\s*>"
_ANCHOR_RE_UQ = r"(?is)<a\s[^>]*?href\s*=\s*([^\s\"'<>=`]+)[^>]*>(.*?)</a\s*>"


def _anchor_pairs(text: Column, pattern: str) -> Column:
    """array<struct<href,anchor>> from one quoting-style pattern: the two
    capture groups come from the SAME match set, so the positional zip is
    exact."""
    hrefs = F.regexp_extract_all(text, F.lit(pattern), F.lit(1))
    inner = F.regexp_extract_all(text, F.lit(pattern), F.lit(2))
    return F.zip_with(
        hrefs, inner,
        lambda h, t: F.struct(h.alias("href"), t.alias("anchor")))


def extract_anchors(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """pages(url, html) -> (src_url, abs_url, anchor): the link-text
    signal (what other pages call a URL — ranking/quality input the
    href-only edge table drops). Inner markup is tag-stripped and
    whitespace-collapsed; empty anchors and non-fetchable targets are
    dropped. Same scan-stage codegen shape as ``extract_links``."""
    text = F.col(html_col).cast("string")
    # the three quoting styles are mutually exclusive at the first
    # value character (quote chars are excluded from the unquoted
    # class), so no anchor is extracted twice
    pairs = F.concat(_anchor_pairs(text, _ANCHOR_RE_DQ),
                     _anchor_pairs(text, _ANCHOR_RE_SQ),
                     _anchor_pairs(text, _ANCHOR_RE_UQ))
    exploded = pages.select(
        F.col(url_col).alias("src_url"), F.explode(pairs).alias("p")
    ).select("src_url", "p.href", "p.anchor")
    clean = F.trim(F.regexp_replace(
        F.regexp_replace(F.col("anchor"), r"<[^>]*>", ""), r"\s+", " "))
    return (
        exploded.withColumn("anchor", clean)
        .withColumn("abs_url", absolutize_col(F.col("href"), F.col("src_url")))
        .filter(F.col("abs_url").isNotNull() & (F.col("anchor") != ""))
        .select("src_url", "abs_url", "anchor")
    )


def anchor_text_summary(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Per-target anchor profile: ``(abs_url, n_anchors, n_unique,
    top_anchor, top_count)`` with the most frequent anchor text (ties
    to the lexicographically greatest — one struct-max, deterministic).
    Two map-side-partial aggregates; shuffle rows are (url, short
    anchor) pairs, never page bytes."""
    anchors = extract_anchors(pages, html_col, url_col)
    counts = anchors.groupBy("abs_url", "anchor").agg(
        F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("abs_url")
        .agg(
            F.sum("c").alias("n_anchors"),
            F.count(F.lit(1)).alias("n_unique"),
            F.max(F.struct(F.col("c").alias("c"),
                           F.col("anchor").alias("anchor"))).alias("_top"),
        )
        .select(
            "abs_url", "n_anchors", "n_unique",
            F.col("_top.anchor").alias("top_anchor"),
            F.col("_top.c").alias("top_count"),
        )
    )


# ---------------------------------------------------------------------------
# Sitemap discovery: robots.txt "Sitemap:" directives -> sitemap XML locs
# ---------------------------------------------------------------------------

# RFC 9309 §2.3 / sitemaps.org: a non-group "Sitemap: <url>" record, any
# case, anywhere in robots.txt. One URL per line.
_SITEMAP_DIRECTIVE_RE = r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)[ \t]*\r?$"
# <loc> element text in urlset/sitemapindex documents (whitespace-trimmed)
_LOC_RE = r"(?is)<loc>\s*([^<]*?)\s*</loc>"


def sitemap_urls_from_robots(
    robots: DataFrame,
    host_col: str = "host",
    text_col: str = "robots_txt",
) -> DataFrame:
    """robots.txt bodies -> (host, sitemap_url), one row per ``Sitemap:``
    directive. Pure codegen (regexp_extract_all + explode), same shape as
    href discovery: a corpus of millions of robots bodies parses in the
    scan stage with no Python. Complements ``schedule.robots_rules_col``,
    which extracts the ``*`` group's Disallow/Crawl-delay; sitemap
    records live OUTSIDE groups per RFC 9309, so they parse separately."""
    urls = F.regexp_extract_all(
        F.col(text_col), F.lit(_SITEMAP_DIRECTIVE_RE), F.lit(1))
    return robots.select(
        F.col(host_col).alias("host"), F.explode(urls).alias("sitemap_url"))


def extract_sitemap_locs(
    sitemaps: DataFrame,
    xml_col: str = "xml",
    url_col: str = "sitemap_url",
) -> DataFrame:
    """Fetched sitemap documents -> (sitemap_url, is_index, loc).

    ``is_index`` is true for <sitemapindex> documents, whose locs are
    NESTED sitemap URLs (to be fetched and fed back through this same
    operator); false for <urlset>, whose locs are page URLs for the
    frontier. Binary-tolerant like ``extract_links``: cast-to-string
    never throws on gzipped/broken payloads — the regex finds nothing."""
    text = F.col(xml_col).cast("string")
    is_index = text.rlike(r"(?is)<\s*sitemapindex[\s>]")
    locs = F.regexp_extract_all(text, F.lit(_LOC_RE), F.lit(1))
    return sitemaps.select(
        F.col(url_col).alias("sitemap_url"),
        is_index.alias("is_index"),
        F.explode(locs).alias("loc"),
    ).filter(F.col("loc") != "")


_URL_BLOCK_RE = r"(?is)<url>(.*?)</url>"


def extract_sitemap_entries(
    sitemaps: DataFrame,
    xml_col: str = "xml",
    url_col: str = "sitemap_url",
) -> DataFrame:
    """<urlset> entries WITH their scheduling metadata: one row per
    ``<url>`` block — ``(sitemap_url, loc, lastmod, changefreq,
    priority)``, missing children null. This is the publisher-declared
    freshness signal that seeds adaptive recrawl (sitemaps.org:
    changefreq in {always,hourly,daily,weekly,monthly,yearly,never},
    priority in [0,1]) before any capture history exists —
    ``temporal.capture_change_stats`` then replaces the hint with
    observed rates. Same scan-stage codegen shape as the loc-only
    extractor; ``extract_sitemap_locs`` remains the slim path when only
    frontier candidates are needed."""
    text = F.col(xml_col).cast("string")
    blocks = F.regexp_extract_all(text, F.lit(_URL_BLOCK_RE), F.lit(1))
    ex = sitemaps.select(
        F.col(url_col).alias("sitemap_url"), F.explode(blocks).alias("_b"))

    def child(tag: str) -> Column:
        v = F.trim(F.regexp_extract(
            F.col("_b"), rf"(?is)<{tag}>\s*([^<]*?)\s*</{tag}>", 1))
        return F.when(v != "", v)

    return ex.select(
        "sitemap_url",
        child("loc").alias("loc"),
        child("lastmod").alias("lastmod"),
        F.lower(child("changefreq")).alias("changefreq"),
        child("priority").try_cast("double").alias("priority"),
    ).filter(F.col("loc").isNotNull())


#: sitemaps.org changefreq -> a prior change rate per day, the seed for
#: recrawl_schedule's default before capture evidence accumulates
CHANGEFREQ_RATE_PER_DAY = {
    "always": 24.0, "hourly": 24.0, "daily": 1.0, "weekly": 1.0 / 7,
    "monthly": 1.0 / 30, "yearly": 1.0 / 365, "never": 0.0,
}


def changefreq_rate_col(changefreq: Column) -> Column:
    """Map a sitemap changefreq string to a prior change_rate_per_day
    (null for unknown values — callers fall back to their default)."""
    m = F.create_map(*[
        x for k, v in CHANGEFREQ_RATE_PER_DAY.items()
        for x in (F.lit(k), F.lit(v))
    ])
    return m[F.lower(changefreq)]


def sitemap_candidates(
    sitemaps: DataFrame,
    xml_col: str = "xml",
    url_col: str = "sitemap_url",
) -> DataFrame:
    """Page URLs from <urlset> sitemaps as canonical-key-deduped frontier
    candidates (url_sha1, url) — the sitemap analog of
    ``candidate_links``; membership filtering is the caller's."""
    from .seen_set import with_url_key

    locs = extract_sitemap_locs(sitemaps, xml_col, url_col)
    pages = locs.filter(~F.col("is_index")).select(F.col("loc").alias("url"))
    return (
        with_url_key(pages)
        .groupBy("url_sha1")
        .agg(F.min("url").alias("url"))
    )


def host_trap_stats(
    df: DataFrame,
    url_col: str = "url",
    min_urls: int = 5,
) -> DataFrame:
    """Crawler-trap detection: hosts whose URL space is generated —
    calendars, session ids, pagination, faceted search — produce
    unbounded DISTINCT URLs from a handful of structural TEMPLATES
    (``url_template_col``: digit runs -> D, query values -> V). A
    benign host's template count grows with its URL count; a trap's
    stays flat. Output one row per host with ``n_urls`` (distinct),
    ``n_templates``, ``urls_per_template``, and ``trap_score = 1 -
    templates/urls`` — the frontier signal for capping a host's crawl
    budget before it swallows the scheduler (hosts under ``min_urls``
    are unscorable noise and dropped).

    Scale shape: the URL never shuffles whole — the distinct runs on
    (host, template, md5(url)); both aggregates are map-side-partial
    on slim keys; no window, no Python.
    """
    from ..functions.urls import host_col, url_template_col

    per = (
        df.select(
            host_col(F.col(url_col)).alias("host"),
            url_template_col(F.col(url_col)).alias("_t"),
            F.md5(F.col(url_col)).alias("_u"),
        )
        .distinct()
        .groupBy("host", "_t").agg(F.count(F.lit(1)).alias("_c"))
    )
    n_urls = F.col("n_urls").cast("double")
    n_tmpl = F.col("n_templates").cast("double")
    return (
        per.groupBy("host").agg(
            F.sum("_c").alias("n_urls"),
            F.count(F.lit(1)).alias("n_templates"),
        )
        .where(F.col("n_urls") >= min_urls)
        .select(
            "host", "n_urls", "n_templates",
            F.round(n_urls / n_tmpl, 4).alias("urls_per_template"),
            F.round(F.lit(1.0) - n_tmpl / n_urls, 4).alias("trap_score"),
        )
    )


def resolve_redirects(
    redirects: DataFrame,
    src_col: str = "url",
    dst_col: str = "location",
    max_hops: int = 16,
) -> DataFrame:
    """Resolve 3xx redirect chains to their final URL — the crawl-side
    canonicalization step string canonicalization can't do: a frontier
    that fetches ``http://ex.com`` and ``https://www.ex.com/`` through
    their redirect chains to one final page must dedup on the CHAIN
    TARGET, and recrawl scheduling should follow the target's change
    rate, not the hop's. Input is the slim ``(url, location)`` edge
    table a fetch round emits for its 3xx responses (one out-edge per
    URL after conflict resolution: ``min(location)`` per source —
    feed latest-capture edges for latest-wins semantics).

    Semantics: follow the chain up to ``max_hops``. A chain that
    reaches a non-redirecting URL within the budget resolves
    (``resolved = true``, ``final_url`` = the terminal, ``n_hops`` =
    exact chain length); a chain still redirecting after ``max_hops``
    — too long, or a redirect LOOP, the classic crawler trap — returns
    ``resolved = false`` with NULL final_url/n_hops (the frontier
    drops or demotes these). Browsers cap around 20 hops; crawlers cap
    lower.

    Scale shape (10^9 redirect edges, 1000 executors): POINTER
    DOUBLING on the redirect function — each round joins the mapping
    with itself (``M'(u) = M(M(u))``, hop counts adding), so a
    ``max_hops`` budget needs ``ceil(log2(max_hops))`` rounds (16 hops
    = 4 self-joins), not ``max_hops`` sequential joins; state is three
    slim columns, every join an equi-join on the url key, aggregates
    map-side partial, and ``materialize.iterate`` cuts every round so
    the plan stays constant-depth.

    Returns ``(url, final_url, n_hops, resolved)``, one row per
    distinct source URL.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    import math

    r = (
        redirects.select(
            F.col(src_col).alias("url"), F.col(dst_col).alias("_dst"))
        .filter(F.col("url").isNotNull() & F.col("_dst").isNotNull())
        .groupBy("url")
        .agg(F.min("_dst").alias("cur"))
        .transform(_materialize)
    )

    def double(m: DataFrame, _: int) -> DataFrame:
        m2 = m.select(
            F.col("url").alias("_mu"),
            F.col("cur").alias("_mc"),
            F.col("hops").alias("_mh"),
        )
        # a terminal cur (not a redirect source) simply misses the join
        # and carries forward unchanged — no done flag needed in-loop
        return (
            m.join(m2, m.cur == m2._mu, "left")
            .select(
                "url",
                F.coalesce("_mc", "cur").alias("cur"),
                F.when(F.col("_mu").isNotNull(),
                       F.col("hops") + F.col("_mh"))
                .otherwise(F.col("hops")).alias("hops"),
            )
        )

    # 2^rounds >= max_hops covers every chain the budget admits; one
    # extra doubling can overshoot past max_hops, which the final
    # resolved clamp (hops <= max_hops) makes harmless
    m = iterate(r.withColumn("hops", F.lit(1).cast("long")), double,
                max(1, math.ceil(math.log2(max_hops))), 1)
    release(r)
    # every round keeps one row per source url, so m's urls ARE the
    # redirect sources: a cur among them still redirects
    done = (
        m.join(m.select(F.col("url").alias("cur"),
                        F.lit(1).alias("_is_src")),
               "cur", "left")
        .select(
            "url", "cur", "hops",
            (F.col("_is_src").isNull()
             & (F.col("hops") <= max_hops)).alias("resolved"),
        )
    )
    return done.select(
        "url",
        F.when(F.col("resolved"), F.col("cur")).alias("final_url"),
        F.when(F.col("resolved"), F.col("hops")).alias("n_hops"),
        "resolved",
    )


# one pattern per quoting style (the _HREF_RE discipline above: a
# shared ["'] class would let a closing quote pair with the WRONG
# opening quote and truncate values containing the other quote char,
# e.g. href="it's-here") x one per attribute order
_META_ROBOTS_RES = [
    r'(?i)<meta\s[^>]*?name\s*=\s*["\']?robots["\']?[^>]*?'
    r'content\s*=\s*"([^"]*)"',
    r"(?i)<meta\s[^>]*?name\s*=\s*[\"']?robots[\"']?[^>]*?"
    r"content\s*=\s*'([^']*)'",
    r'(?i)<meta\s[^>]*?content\s*=\s*"([^"]*)"[^>]*?'
    r'name\s*=\s*["\']?robots["\']?',
    r"(?i)<meta\s[^>]*?content\s*=\s*'([^']*)'[^>]*?"
    r"name\s*=\s*[\"']?robots[\"']?",
]
_CANONICAL_RES = [
    r'(?i)<link\s[^>]*?rel\s*=\s*["\']?canonical["\']?[^>]*?'
    r'href\s*=\s*"([^"]*)"',
    r"(?i)<link\s[^>]*?rel\s*=\s*[\"']?canonical[\"']?[^>]*?"
    r"href\s*=\s*'([^']*)'",
    r'(?i)<link\s[^>]*?href\s*=\s*"([^"]*)"[^>]*?'
    r'rel\s*=\s*["\']?canonical["\']?',
    r"(?i)<link\s[^>]*?href\s*=\s*'([^']*)'[^>]*?"
    r"rel\s*=\s*[\"']?canonical[\"']?",
]
_A_TAG_RE = r"(?i)<a(\s[^>]*)?>"
_NOFOLLOW_RE = r'(?i)rel\s*=\s*["\'][^"\']*nofollow'


def page_directives(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Per-page crawl directives — the in-HTML signals a polite crawler
    must honor alongside robots.txt (RFC 9309 covers only the fetch;
    these govern what may be INDEXED and FOLLOWED once fetched):

    - ``noindex`` / ``nofollow`` from ``<meta name="robots">`` (either
      attribute order) — a noindex page is fetched but excluded from
      the corpus; a nofollow page contributes no frontier candidates;
    - ``canonical_url`` from ``<link rel="canonical">`` (either
      attribute order), absolutized against the page URL — the
      publisher-declared dedup key: grouping captures by
      ``coalesce(canonical_url, url)`` collapses print/mobile/tracking
      variants the way redirect chains collapse 3xx aliases
      (:func:`resolve_redirects` is the fetch-side twin);
    - ``n_links`` / ``n_nofollow_links`` — total anchor tags vs
      anchors carrying ``rel=nofollow``, so link extraction can weight
      or drop per-anchor endorsements (the PageRank-sculpting signal).

    All Catalyst regex/aggregate expressions in the scan stage — no
    Python, no shuffle; composes into the same pass as
    :func:`extract_links`.

    Returns ``(url_col, noindex, nofollow, canonical_url, n_links,
    n_nofollow_links)``, one row per page.
    """
    text = F.col(html_col).cast("string")
    # ALL robots meta tags, not just the first — multiple tags are
    # legal and ADDITIVE (a second tag's nofollow must still gate link
    # expansion), so every directive flag tests every extracted content
    robots_all = F.concat(*[
        F.regexp_extract_all(text, F.lit(p), F.lit(1))
        for p in _META_ROBOTS_RES
    ])

    def _has_directive(word: str):
        pat = rf"(?i)(^|[\s,]){word}([\s,]|$)"
        return F.exists(robots_all, lambda c: c.rlike(pat))

    canonical = F.coalesce(*[
        F.nullif(F.regexp_extract(text, p, 1), F.lit(""))
        for p in _CANONICAL_RES
    ])
    a_tags = F.regexp_extract_all(text, F.lit(_A_TAG_RE), F.lit(0))
    n_nofollow = F.size(
        F.filter(a_tags, lambda t: t.rlike(_NOFOLLOW_RE)))
    return pages.select(
        F.col(url_col),
        _has_directive("noindex").alias("noindex"),
        _has_directive("nofollow").alias("nofollow"),
        absolutize_col(canonical, F.col(url_col)).alias("canonical_url"),
        F.size(a_tags).alias("n_links"),
        n_nofollow.alias("n_nofollow_links"),
    )


def domain_graph(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    drop_internal: bool = True,
) -> DataFrame:
    """The Common Crawl domain-level web graph (the cc-webgraph
    artifact): roll host-level link edges up to registered domains
    (``functions.urls.registered_domain_col`` — PSL-lite) and count
    links per domain pair. ``drop_internal`` removes intra-domain
    edges (self-loops after the rollup — site-internal navigation,
    which would otherwise dominate every count and pollute any rank
    computed downstream). Returns
    ``(src_domain, dst_domain, n_links)`` — feed straight into
    :func:`~commoncrawl_spark.operators.graph.pagerank` /
    ``trustrank`` / ``spam_mass`` for domain-level ranking.

    Scale shape: the rollup is a scan-stage expression; the only
    exchange is the (src_domain, dst_domain) count agg — map-side
    partial, so the 10^11-edge host graph collapses toward the
    domain-pair cardinality before shuffling."""
    from commoncrawl_spark.functions.urls import registered_domain_col

    d = edges.select(
        registered_domain_col(F.col(src_col)).alias("src_domain"),
        registered_domain_col(F.col(dst_col)).alias("dst_domain"),
    )
    if drop_internal:
        d = d.filter(F.col("src_domain") != F.col("dst_domain"))
    return d.groupBy("src_domain", "dst_domain").agg(
        F.count(F.lit(1)).alias("n_links"))


def expand_sitemap_tree(
    seeds: DataFrame,
    bodies: DataFrame,
    max_depth: int = 2,
    seed_col: str = "sitemap_url",
    body_url_col: str = "url",
    xml_col: str = "xml",
) -> DataFrame:
    """Recursive sitemap-index expansion (sitemaps.org: a
    ``<sitemapindex>`` loc is ANOTHER sitemap, not a page — large sites
    ship a root index fanning out to thousands of urlset shards):
    starting from ``seeds`` root sitemap URLs, repeatedly look up each
    sitemap's body in ``bodies`` (the same lookup-join fetch seam as the
    transport layer — swap in ranged HTTP at deploy time), extract locs,
    feed ``<sitemapindex>`` locs back as the next level, and emit
    ``<urlset>`` locs as frontier page candidates. Returns
    ``(root, sitemap_url, depth, loc)`` — one row per page loc, tagged
    with the root that discovered it and the nesting depth.

    Bounded recursion: ``max_depth`` levels (a constant, like the graph
    walks' fixed iterations), so reference cycles between indexes
    cannot loop; sitemaps whose body is missing from ``bodies`` simply
    contribute nothing (unfetched = undiscovered, the crawl semantics).

    Scale shape: each level is one equi-join of the slim frontier
    (url, root, depth) against the bodies table on the URL key plus the
    scan-stage regex extraction — the XML column never shuffles (it is
    consumed in the same stage the join produces); the per-level
    frontier is checkpoint-truncated so the final plan does not nest
    ``max_depth`` joins of joins."""
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    b = bodies.select(
        F.col(body_url_col).alias("sitemap_url"), F.col(xml_col).alias("_xml"))
    frontier = seeds.select(
        F.col(seed_col).alias("sitemap_url"),
        F.col(seed_col).alias("root"),
        F.lit(0).alias("depth"),
    )
    out = []
    for level in range(max_depth + 1):
        fetched = frontier.join(b, "sitemap_url")
        text = F.col("_xml").cast("string")
        locs = fetched.select(
            "root", "sitemap_url", "depth",
            text.rlike(r"(?is)<\s*sitemapindex[\s>]").alias("is_index"),
            F.explode(
                F.regexp_extract_all(text, F.lit(_LOC_RE), F.lit(1))
            ).alias("loc"),
        ).filter(F.col("loc") != "").transform(_materialize, eager=False)
        out.append(
            locs.filter(~F.col("is_index"))
            .select("root", "sitemap_url", "depth", "loc"))
        if level == max_depth:
            break
        frontier = (
            locs.filter(F.col("is_index"))
            .select(F.col("loc").alias("sitemap_url"), "root",
                    (F.col("depth") + 1).alias("depth"))
        )
    pages = out[0]
    for o_ in out[1:]:
        pages = pages.unionByName(o_)
    return pages


def url_tree_rollup(
    df: DataFrame,
    url_col: str = "url",
    max_depth: int = 3,
) -> DataFrame:
    """Path-prefix tree aggregation: URL counts per (host, path prefix)
    down to ``max_depth`` segments — the crawl-budget map ("90% of
    forum.example's URLs live under /thread/") that drives subtree
    pruning, trap triage alongside :func:`host_trap_stats`, and
    sitemap-vs-reality coverage checks.

    Every URL contributes its root ('/', depth 0) plus one row per
    path prefix: /a -> /a/b -> /a/b/c, capped at ``max_depth``. Query
    strings and fragments never enter the prefix.

    Scale shape: prefixes are per-row array expressions (split + a
    bounded transform over at most ``max_depth`` slices — a constant
    fan-out like the cutoff join in vocabulary_growth, not an
    explode-per-segment of unbounded depth); the only exchange is the
    final (host, prefix) count, map-side partial.

    Returns ``(host, depth, prefix, n_urls)``.
    """
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    host = F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/?#]+)", 1)
    path = F.regexp_extract(F.col(url_col), r"^[a-z]+://[^/?#]*([^?#]*)", 1)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    n = F.least(F.lit(max_depth), F.size(segs))
    prefixes = F.concat(
        F.array(F.lit("/")),
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(
                F.lit("/"),
                F.array_join(F.slice(segs, 1, i), "/"))),
    )
    # sequence(1, 0) would yield [1, 0] (a DESCENDING range), not
    # empty — guard zero-segment paths explicitly
    prefixes = F.when(n >= 1, prefixes).otherwise(F.array(F.lit("/")))
    return (
        df.select(host.alias("host"), F.explode(prefixes).alias("prefix"))
        .groupBy("host", "prefix")
        .agg(F.count("*").alias("n_urls"))
        .select(
            "host",
            (F.length("prefix")
             - F.length(F.replace(F.col("prefix"), F.lit("/"), F.lit("")))
             - F.when(F.col("prefix") == "/", 1).otherwise(0))
            .cast("long").alias("depth"),
            "prefix", "n_urls")
    )


def cocitation(
    links: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_out: int = 64,
    min_count: int = 1,
) -> DataFrame:
    """Co-citation similarity (Small, JASIS 1973 — the original
    link-structure similarity, and HITS' ``A^T A`` matrix one cell at
    a time): two targets are similar when the same sources link to
    BOTH. Returns ``(a, b, n_common, similarity)`` for unordered
    target pairs ``a < b`` with ``n_common`` co-citing sources
    ``>= min_count`` and ``similarity`` the cosine normalization
    ``n_common / sqrt(df_a * df_b)`` (df = a target's distinct citing
    sources) rounded 6dp — related-host discovery, mirror triage, and
    the "sites like X" signal, computed without touching any content.

    Bibliographic coupling (Kessler 1963) — two SOURCES similar when
    they cite the same targets — is this operator on the reversed edge
    list: ``cocitation(links, src_col=dst_col, dst_col=src_col)``.

    Scale shape: the pair fan-out is the self-join of each source's
    out-list with itself — quadratic in out-degree — so sources with
    more than ``max_out`` distinct targets are EXCLUDED before the
    join (a directory page citing 10^4 hosts contributes 10^8
    signal-free pairs; dropping hubs is the standard cut, and the same
    ubiquity guard mirrors/minhash use). Every surviving source
    contributes <= C(max_out, 2) pairs, so output is linear in
    eligible sources. The self-join is an equi-join on the source key;
    df counts come from the SAME eligible edge set (the normalization
    stays consistent with the pair counts); no windows, no collect."""
    if max_out < 2:
        raise ValueError(f"max_out must be >= 2, got {max_out}")
    e = (
        links.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_t"))
        .filter(F.col("_s").isNotNull() & F.col("_t").isNotNull())
        .distinct()
    )
    outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_od"))
    eligible = (
        e.join(outdeg.filter(F.col("_od") <= max_out).select("_s"),
               "_s", "semi")
    )
    dfreq = eligible.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    left = eligible.select("_s", F.col("_t").alias("a"))
    right = eligible.select("_s", F.col("_t").alias("b"))
    pairs = (
        left.join(right, "_s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if min_count > 1:
        pairs = pairs.filter(F.col("n_common") >= min_count)
    return (
        pairs
        .join(dfreq.select(F.col("_t").alias("a"),
                           F.col("_df").alias("_dfa")), "a")
        .join(dfreq.select(F.col("_t").alias("b"),
                           F.col("_df").alias("_dfb")), "b")
        .select(
            "a", "b", "n_common",
            F.round(
                F.col("n_common").cast("double")
                / F.sqrt(F.col("_dfa").cast("double")
                         * F.col("_dfb").cast("double")),
                6).alias("similarity"),
        )
    )


# ---------------------------------------------------------------------------
# RSS / Atom feed parsing (the sitemap extractor's syndication twin)
# ---------------------------------------------------------------------------

#: RFC 822 month tokens -> zero-padded month numbers, shared with the
#: DuckDB oracle so both engines normalize pubDate identically
FEED_MONTHS = {
    "Jan": "01", "Feb": "02", "Mar": "03", "Apr": "04", "May": "05",
    "Jun": "06", "Jul": "07", "Aug": "08", "Sep": "09", "Oct": "10",
    "Nov": "11", "Dec": "12",
}

_RSS_ITEM_RE = r"(?is)<item>(.*?)</item>"
_ATOM_ENTRY_RE = r"(?is)<entry>(.*?)</entry>"
_RFC822_DATE_RE = (
    r"(\d{1,2}) (Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec) (\d{4})"
)
_ISO_DATE_RE = r"(\d{4})-(\d{2})-(\d{2})"


def extract_feed_entries(
    feeds: DataFrame,
    xml_col: str = "xml",
    url_col: str = "feed_url",
) -> DataFrame:
    """RSS 2.0 ``<item>`` / Atom ``<entry>`` records from feed bytes:
    one row per entry — ``(feed_url, kind, title, link, entry_id,
    published, published_raw)``, missing children null, entries
    without a link dropped (nothing to crawl). ``published``
    normalizes BOTH date dialects to yyyy-MM-dd — RFC 822
    ("Tue, 7 Sep 2021 10:00:00 GMT") via a month-token map and ISO
     8601 via direct extraction — because feeds are the news-crawl
    freshness source and the recrawl scheduler wants one comparable
    key, not two formats.

    Same scan-stage shape as :func:`extract_sitemap_entries`: the only
    non-projection op is the explode; every child field is a
    regexp_extract over the entry block, so 10^8 polled feeds parse in
    their read stage. Feed kind is sniffed from the root element —
    ``<feed`` (Atom) wins over ``<rss`` so Atom feeds that mention rss
    in comments don't misroute."""
    text = F.col(xml_col).cast("string")
    kind = (
        F.when(text.rlike(r"(?is)<feed[\s>]"), F.lit("atom"))
        .when(text.rlike(r"(?is)<rss[\s>]"), F.lit("rss"))
    )
    blocks = F.when(
        kind == "atom",
        F.regexp_extract_all(text, F.lit(_ATOM_ENTRY_RE), F.lit(1)),
    ).otherwise(
        F.regexp_extract_all(text, F.lit(_RSS_ITEM_RE), F.lit(1)))
    ex = feeds.select(
        F.col(url_col).alias("feed_url"), kind.alias("kind"),
        F.explode(blocks).alias("_b"),
    ).filter(F.col("kind").isNotNull())

    def child(tag: str) -> Column:
        v = F.trim(F.regexp_extract(
            F.col("_b"), rf"(?is)<{tag}[^>]*>\s*([^<]*?)\s*</{tag}>", 1))
        return F.when(v != "", v)

    link = F.when(
        F.col("kind") == "atom",
        F.when(F.regexp_extract(
            F.col("_b"), r'(?is)<link[^>]*href="([^"]+)"', 1) != "",
            F.regexp_extract(
                F.col("_b"), r'(?is)<link[^>]*href="([^"]+)"', 1)),
    ).otherwise(child("link"))
    raw = F.when(F.col("kind") == "atom",
                 F.coalesce(child("published"), child("updated"))
                 ).otherwise(child("pubDate"))
    mm = F.coalesce(*[
        F.when(F.regexp_extract(raw, _RFC822_DATE_RE, 2) == k, F.lit(v))
        for k, v in FEED_MONTHS.items()])
    rfc = F.when(
        F.regexp_extract(raw, _RFC822_DATE_RE, 1) != "",
        F.concat(
            F.regexp_extract(raw, _RFC822_DATE_RE, 3), F.lit("-"), mm,
            F.lit("-"),
            F.lpad(F.regexp_extract(raw, _RFC822_DATE_RE, 1), 2, "0")))
    iso = F.when(
        F.regexp_extract(raw, _ISO_DATE_RE, 1) != "",
        F.concat_ws("-",
                    F.regexp_extract(raw, _ISO_DATE_RE, 1),
                    F.regexp_extract(raw, _ISO_DATE_RE, 2),
                    F.regexp_extract(raw, _ISO_DATE_RE, 3)))
    return ex.select(
        "feed_url", "kind",
        child("title").alias("title"),
        link.alias("link"),
        F.when(F.col("kind") == "atom", child("id"))
        .otherwise(child("guid")).alias("entry_id"),
        F.coalesce(rfc, iso).alias("published"),
        raw.alias("published_raw"),
    ).filter(F.col("link").isNotNull())


# ---------------------------------------------------------------------------
# hreflang alternates (multilingual site mapping -> bitext candidates)
# ---------------------------------------------------------------------------


def extract_hreflang(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """``<link rel="alternate" hreflang=... href=...>`` declarations:
    one row per tag — ``(url, hreflang, alt_url)``, language tag
    lowercased (BCP 47 tags are case-insensitive), tags missing either
    attribute or not rel=alternate dropped. This is how multilingual
    sites declare their translation sets (Google's hreflang
    convention) — the seed signal for CCMatrix/CCAligned-style bitext
    mining, long before any content alignment runs.

    Attribute order is free in HTML, so the tag body is captured once
    and each attribute extracted independently. Scan-stage regex +
    explode, zero exchanges."""
    text = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(
        text, F.lit(r"(?i)<link\b([^>]*hreflang[^>]*)>"), F.lit(1))
    ex = pages.select(
        F.col(url_col).alias("url"), F.explode(tags).alias("_t"))
    lang = F.lower(F.regexp_extract(
        F.col("_t"), r'(?i)hreflang="([^"]+)"', 1))
    href = F.regexp_extract(F.col("_t"), r'(?i)href="([^"]+)"', 1)
    rel = F.regexp_extract(F.col("_t"), r'(?i)rel="([^"]+)"', 1)
    return (
        ex.select(
            "url", lang.alias("hreflang"), href.alias("alt_url"),
            F.lower(rel).alias("_rel"))
        .filter((F.col("hreflang") != "") & (F.col("alt_url") != "")
                & (F.col("_rel") == "alternate"))
        .drop("_rel")
    )


def confirmed_hreflang_pairs(alts: DataFrame) -> DataFrame:
    """Bidirectionally confirmed translation pairs from
    :func:`extract_hreflang` output: ``(url_a, lang_a, url_b,
    lang_b)`` with ``url_a < url_b``, kept only when A declares B AND
    B declares A — the validation step that makes hreflang usable at
    web scale, because unreciprocated declarations (spam, stale tags,
    scraped copies pointing at originals) are endemic and one-sided
    claims routinely cross sites. ``lang_b`` is the language A
    declares FOR B and vice versa — each side's label comes from the
    OTHER page, the direction search engines actually trust.
    Self-references (a page listing itself) and ``x-default`` rows
    pass through extract_hreflang but cannot form a pair (url_a <
    url_b is strict; x-default pairs fail the reciprocity join unless
    genuinely mutual).

    Scale shape: one equi-join of the declaration table against
    itself on the (url, alt_url) key pair — hash join on real keys,
    no cartesian anywhere; a hub page declaring 50 languages
    contributes 50 rows, not 50^2. The distinct collapses duplicate
    tags before pairs form."""
    d = alts.select("url", "hreflang", "alt_url").distinct()
    a = d.select(F.col("url").alias("url_a"),
                 F.col("alt_url").alias("url_b"),
                 F.col("hreflang").alias("lang_b"))
    b = d.select(F.col("url").alias("url_b"),
                 F.col("alt_url").alias("url_a"),
                 F.col("hreflang").alias("lang_a"))
    return (
        a.join(b, ["url_a", "url_b"])
        .filter(F.col("url_a") < F.col("url_b"))
        .select("url_a", "lang_a", "url_b", "lang_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# rel=next pagination chains (multi-page article stitching)
# ---------------------------------------------------------------------------


def extract_rel_next(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """``(url, next_url)`` edges from ``<link rel="next" href=...>``
    declarations (attribute order free, first declaration wins — a
    page has one successor). The pagination signal multi-page
    articles/forums publish; stitching them back together is what
    turns 8 thin fragment-pages into one trainable document."""
    text = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(
        text, F.lit(r"(?i)<link\b([^>]*)>"), F.lit(1))
    ex = pages.select(F.col(url_col).alias("url"),
                      F.explode(tags).alias("_t"))
    rel = F.lower(F.regexp_extract(F.col("_t"), r'(?i)rel="([^"]+)"', 1))
    href = F.regexp_extract(F.col("_t"), r'(?i)href="([^"]+)"', 1)
    return (
        ex.filter((rel == "next") & (href != ""))
        .groupBy("url")
        .agg(F.min(href).alias("next_url"))
    )


def pagination_chains(
    edges: DataFrame,
    max_pages: int = 10,
) -> DataFrame:
    """Stitch :func:`extract_rel_next` edges into ordered chains:
    ``(head_url, url, position)`` with position 0 at the head — a head
    is any page no other page declares as its next (so a chain
    entered mid-way still yields a well-defined suffix chain). Chains
    longer than ``max_pages`` truncate (the sitemap_tree depth-bound
    rationale: adversarial or cyclic rel=next must terminate).

    Scale shape: per round ONE hash equi-join of the current ring
    (slim (head, url) pairs) against the edge table — ring-sized work
    like the seed-BFS walk, no window, no Python; cycles cannot loop
    because position strictly increases and the bound cuts them. The
    edge table is cut once up front, so the ``max_pages`` unrolled
    joins read it from that cut instead of each re-planning (and
    re-scanning) its input; the result reads the cut, which stays
    pinned."""
    edges = edges.select("url", "next_url").transform(_materialize)
    heads = edges.join(
        edges.select(F.col("next_url").alias("url")).distinct(),
        "url", "left_anti",
    ).select(F.col("url").alias("head_url"), F.col("url"))
    ring = heads.withColumn("position", F.lit(0))
    out = [ring]
    for _ in range(max_pages - 1):
        ring = (
            ring.join(edges, "url")
            .select(
                "head_url",
                F.col("next_url").alias("url"),
                (F.col("position") + 1).alias("position"))
        )
        out.append(ring)
    res = out[0]
    for r in out[1:]:
        res = res.unionByName(r)
    # a truncated cycle could re-enter a url; keep the first position
    return res.groupBy("head_url", "url").agg(
        F.min("position").alias("position"))


def discover_feeds(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Feed AUTODISCOVERY — the step that connects page crawling to
    feed polling: ``<link rel="alternate" type="application/rss+xml"
    | "application/atom+xml" href=...>`` declarations (the convention
    every reader/browser implements), one row ``(url, feed_kind,
    feed_url)`` per declaration, kind derived from the MIME type.
    Scan-stage regex + explode, attribute order free."""
    text = F.col(html_col).cast("string")
    tags = F.regexp_extract_all(
        text, F.lit(r"(?i)<link\b([^>]*)>"), F.lit(1))
    ex = pages.select(F.col(url_col).alias("url"),
                      F.explode(tags).alias("_t"))
    rel = F.lower(F.regexp_extract(F.col("_t"), r'(?i)rel="([^"]+)"', 1))
    typ = F.lower(F.regexp_extract(F.col("_t"), r'(?i)type="([^"]+)"', 1))
    href = F.regexp_extract(F.col("_t"), r'(?i)href="([^"]+)"', 1)
    kind = (F.when(typ == "application/rss+xml", F.lit("rss"))
            .when(typ == "application/atom+xml", F.lit("atom")))
    return (
        ex.select("url", kind.alias("feed_kind"), href.alias("feed_url"))
        .filter((F.col("feed_kind").isNotNull())
                & (F.col("feed_url") != "") & (rel == "alternate"))
    )


def stitch_chains(
    chains: DataFrame,
    pages: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    sep: str = "\n",
) -> DataFrame:
    """Merge :func:`pagination_chains` output back into single
    documents — the POINT of chain detection: 8 thin fragment pages
    become one trainable document. ``(head_url, n_pages, text)`` with
    page texts joined in position order.

    Scale shape: one hash join of the slim chain table against the
    pages table on the URL key, then a head-keyed aggregate whose
    per-group state is bounded by max_pages (the chain walk's depth
    bound) — the sort happens inside a <= max_pages array, never in a
    window."""
    j = chains.join(
        pages.select(F.col(url_col).alias("url"), F.col(text_col)),
        "url")
    return (
        j.groupBy("head_url")
        .agg(F.array_sort(
            F.collect_list(F.struct("position", text_col)))
            .alias("_parts"))
        .select(
            "head_url",
            F.size(F.col("_parts")).alias("n_pages"),
            F.array_join(
                F.transform(F.col("_parts"), lambda p: p[text_col]),
                sep).alias("text"))
    )
