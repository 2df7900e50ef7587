"""Link discovery: href extraction + URL resolution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.operators.links import (
    discover_frontier_candidates,
    extract_links,
)


def _page(url: str, body: str):
    return (url, ("<html><body>" + body + "</body></html>").encode())


@pytest.mark.spark
def test_resolution_cases(spark):
    pages = spark.createDataFrame(
        [
            _page(
                "https://a.test/sec/page.html",
                '<a href="https://b.test/x">1</a>'
                "<a href='/root/y'>2</a>"
                '<a href="rel/z.html">3</a>'
                '<a href="//cdn.test/c.css">4</a>'
                '<a href="mailto:a@b.c">no</a>'
                '<a href="javascript:void(0)">no</a>'
                '<a href="#frag">no</a>'
                '<a href="other.html#sec2">5</a>',
            ),
            _page("https://h.test", '<a href="p">rootless</a>'),
        ],
        "url string, html binary",
    )
    got = {
        (r["src_url"], r["abs_url"]) for r in extract_links(pages).collect()
    }
    assert got == {
        ("https://a.test/sec/page.html", "https://b.test/x"),
        ("https://a.test/sec/page.html", "https://a.test/root/y"),
        ("https://a.test/sec/page.html", "https://a.test/sec/rel/z.html"),
        ("https://a.test/sec/page.html", "https://cdn.test/c.css"),
        ("https://a.test/sec/page.html", "https://a.test/sec/other.html"),
        ("https://h.test", "https://h.test/p"),
    }


@pytest.mark.spark
def test_discover_candidates_anti_joins_seen(spark):
    from commoncrawl_spark.operators.seen_set import with_url_key

    pages = spark.createDataFrame(
        [
            _page("https://a.test/1", '<a href="/new">n</a><a href="/old">o</a>'),
            _page("https://a.test/2", '<a href="/new">dup</a>'),
        ],
        "url string, html binary",
    )
    seen = with_url_key(
        spark.createDataFrame([("https://a.test/old",)], "url string")
    ).select("url_sha1")
    got = [r["url"] for r in discover_frontier_candidates(pages, seen).collect()]
    assert got == ["https://a.test/new"]  # deduped and seen-filtered


@pytest.mark.spark
def test_extraction_is_codegen_only(spark):
    pages = spark.createDataFrame(
        [_page("https://a.test/p", '<a href="/x">l</a>')], "url string, html binary"
    )
    plan = extract_links(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


@pytest.mark.spark
def test_link_following_crawl_drains_reachable_graph(spark, tmp_path):
    """discover_links=True turns CrawlJob into a link-following crawler:
    seed only page A; A->B,C; B->D; the job must fetch all four over
    successive rounds, exactly once each, deterministically."""
    from commoncrawl_spark.fixtures import _warc_wrap
    from commoncrawl_spark.plans.frontier import CrawlJob

    def page(path: str, links: list[str]) -> tuple[str, bytes]:
        url = f"https://g.test{path}"
        body = (
            '<h1 class="content__headline">T</h1>'
            '<div itemprop="articleBody"><p>hello world text</p></div>'
            + "".join(f'<a href="{l}">l</a>' for l in links)
        )
        html = f"<html><body>{body}</body></html>"
        return url, _warc_wrap(html, url, "20240101000000", "utf-8", False)

    rows = [page("/a", ["/b", "https://g.test/c"]),
            page("/b", ["/d", "/a"]),       # back-link must not refetch /a
            page("/c", []),
            page("/d", ["mailto:x@y.z"])]
    pages = spark.createDataFrame(rows, "url string, html binary")
    cdx = spark.createDataFrame(
        [("https://g.test/a", "200", "text/html", "100",
          "20240101000000", "CC-MAIN-2024-10", 0, 0)],
        "url string, status string, mime_detected string, length string, "
        "timestamp string, crawl string, page int, line_no int",
    )

    job = CrawlJob(spark, str(tmp_path / "ckpt"), budget_per_host=10)
    assert job.seed_from_cdx(cdx) == 1
    counters = job.run(pages, discover_links=True, max_rounds=10)

    fetched_urls = sorted(r["url"] for r in job.articles_df().collect())
    assert fetched_urls == [f"https://g.test/{p}" for p in "abcd"]
    assert sum(c["fetched"] for c in counters) == 4  # each exactly once
    # round structure: a | b,c | d
    assert [c["fetched"] for c in counters[:3]] == [1, 2, 1]


@pytest.mark.spark
def test_link_following_crawl_identical_under_bloom_membership(spark, tmp_path):
    """The cross-round BloomSeenSet membership path (bloom_threshold=0
    forces it from round 1) must produce the identical crawl — articles,
    seen set, and trace — as the plain exact-anti-join path."""
    from commoncrawl_spark.fixtures import _warc_wrap
    from commoncrawl_spark.plans.frontier import CrawlJob

    def page(path: str, links: list[str]) -> tuple[str, bytes]:
        url = f"https://g.test{path}"
        body = (
            '<h1 class="content__headline">T</h1>'
            '<div itemprop="articleBody"><p>hello world text</p></div>'
            + "".join(f'<a href="{l}">l</a>' for l in links)
        )
        html = f"<html><body>{body}</body></html>"
        return url, _warc_wrap(html, url, "20240101000000", "utf-8", False)

    rows = [page("/a", ["/b", "/c"]), page("/b", ["/d", "/a"]),
            page("/c", ["/d"]), page("/d", [])]
    pages = spark.createDataFrame(rows, "url string, html binary")
    cdx = spark.createDataFrame(
        [("https://g.test/a", "200", "text/html", "100",
          "20240101000000", "CC-MAIN-2024-10", 0, 0)],
        "url string, status string, mime_detected string, length string, "
        "timestamp string, crawl string, page int, line_no int",
    )

    outs = {}
    for name, thr in (("exact", 10**9), ("bloom", 0)):
        job = CrawlJob(spark, str(tmp_path / name), budget_per_host=10,
                       bloom_threshold=thr)
        job.seed_from_cdx(cdx)
        job.run(pages, discover_links=True, max_rounds=10)
        outs[name] = (
            sorted(r["url"] for r in job.articles_df().collect()),
            {r["url_sha1"] for r in job.seen_df().collect()},
            {tuple(r) for r in job.trace_df().drop("article").collect()},
        )
        if name == "bloom":
            assert job._bloom is not None  # the bloom path actually ran
    assert outs["exact"] == outs["bloom"]


@pytest.mark.spark
def test_discovery_crawl_resume_with_bloom_state(spark, tmp_path):
    """Crash a discovery crawl after round 1 and resume in a FRESH
    CrawlJob: the in-memory BloomSeenSet is gone, must rebuild lazily
    from the seen table, and the final state must equal an
    uninterrupted run."""
    from commoncrawl_spark.fixtures import _warc_wrap
    from commoncrawl_spark.plans.frontier import CrawlJob

    def page(path: str, links: list[str]) -> tuple[str, bytes]:
        url = f"https://g.test{path}"
        body = (
            '<h1 class="content__headline">T</h1>'
            '<div itemprop="articleBody"><p>hello world text</p></div>'
            + "".join(f'<a href="{l}">l</a>' for l in links)
        )
        return url, _warc_wrap(f"<html><body>{body}</body></html>", url,
                               "20240101000000", "utf-8", False)

    rows = [page("/a", ["/b", "/c"]), page("/b", ["/d"]),
            page("/c", ["/d", "/e"]), page("/d", []), page("/e", ["/a"])]
    pages = spark.createDataFrame(rows, "url string, html binary")
    cdx = spark.createDataFrame(
        [("https://g.test/a", "200", "text/html", "100",
          "20240101000000", "CC-MAIN-2024-10", 0, 0)],
        "url string, status string, mime_detected string, length string, "
        "timestamp string, crawl string, page int, line_no int",
    )

    def state(job):
        return (
            sorted(r["url"] for r in job.articles_df().collect()),
            {r["url_sha1"] for r in job.seen_df().collect()},
            {tuple(r) for r in job.trace_df().drop("article").collect()},
        )

    ref = CrawlJob(spark, str(tmp_path / "ref"), budget_per_host=10,
                   bloom_threshold=0)
    ref.seed_from_cdx(cdx)
    ref.run(pages, discover_links=True, max_rounds=10)

    d = str(tmp_path / "crash")
    j1 = CrawlJob(spark, d, budget_per_host=10, bloom_threshold=0)
    j1.seed_from_cdx(cdx)
    j1.run(pages, discover_links=True, max_rounds=1)  # "crash"
    j2 = CrawlJob(spark, d, budget_per_host=10, bloom_threshold=0)
    assert j2._bloom is None  # fresh process: no in-memory state
    j2.run(pages, discover_links=True, max_rounds=10)
    assert j2._bloom is not None  # rebuilt lazily from the seen table
    assert state(ref) == state(j2)


# ---------------------------------------------------------------------------
# sitemap discovery
# ---------------------------------------------------------------------------

@pytest.mark.spark
def test_sitemap_directive_parsing_edges(spark):
    from commoncrawl_spark.operators.links import sitemap_urls_from_robots

    body = (
        "User-agent: *\n"
        "Disallow: /x\n"
        "Sitemap: https://h.test/a.xml\n"
        "  SITEMAP:\thttps://h.test/b.xml  \n"      # case + whitespace
        "sitemap : https://h.test/space-before-colon.xml\n"
        "NotSitemap: https://h.test/decoy.xml\n"    # prefixed -> no match
        "Sitemap:\n"                                 # empty -> no match
    )
    df = spark.createDataFrame([("h.test", body)], "host string, robots_txt string")
    got = sorted(r["sitemap_url"]
                 for r in sitemap_urls_from_robots(df).collect())
    assert got == [
        "https://h.test/a.xml",
        "https://h.test/b.xml",
        "https://h.test/space-before-colon.xml",
    ]


@pytest.mark.spark
def test_sitemap_locs_urlset_vs_index_and_binary_noise(spark):
    from commoncrawl_spark.operators.links import (
        extract_sitemap_locs,
        sitemap_candidates,
    )

    urlset = b"<urlset><url><loc> https://h.test/p/1 </loc></url></urlset>"
    index = (b'<?xml version="1.0"?><sitemapindex>'
             b"<sitemap><loc>https://h.test/nested.xml</loc></sitemap>"
             b"</sitemapindex>")
    noise = bytes(range(256))  # not UTF-8, not XML: must not throw
    df = spark.createDataFrame(
        [("https://h.test/s1.xml", urlset),
         ("https://h.test/s2.xml", index),
         ("https://h.test/gz.xml", noise)],
        "sitemap_url string, xml binary")
    rows = {(r["sitemap_url"], r["is_index"], r["loc"])
            for r in extract_sitemap_locs(df).collect()}
    assert rows == {
        ("https://h.test/s1.xml", False, "https://h.test/p/1"),
        ("https://h.test/s2.xml", True, "https://h.test/nested.xml"),
    }
    # only urlset locs become frontier candidates, keyed canonically
    cands = sitemap_candidates(df)
    got = [r["url"] for r in cands.collect()]
    assert got == ["https://h.test/p/1"]
    assert "url_sha1" in cands.columns


@pytest.mark.spark
def test_extract_anchors_semantics(spark):
    """Both quote styles, inner-tag strip, whitespace collapse, empty
    anchors and unfetchable targets dropped, relative resolution."""
    from commoncrawl_spark.operators.links import extract_anchors

    html = (
        '<a href="https://x.test/a">Hello  <b>World</b></a>'
        "<a href='/rel'> spaced   text </a>"
        '<a href="https://x.test/e"></a>'
        '<a href="mailto:a@b.c">mail</a>'
        "<a href=/promo>Big Sale</a>"
    )
    pages = spark.createDataFrame(
        [("https://src.test/dir/page", bytearray(html, "utf-8"))],
        "url string, html binary")
    got = {(r["abs_url"], r["anchor"])
           for r in extract_anchors(pages).collect()}
    assert got == {("https://x.test/a", "Hello World"),
                   ("https://src.test/rel", "spaced text"),
                   ("https://src.test/promo", "Big Sale")}


@pytest.mark.spark
def test_anchor_text_summary_top_and_counts(spark):
    from commoncrawl_spark.operators.links import anchor_text_summary

    html1 = ('<a href="https://t.test/p">good page</a>'
             '<a href="https://t.test/p">good page</a>')
    html2 = '<a href="https://t.test/p">click here</a>'
    pages = spark.createDataFrame(
        [("https://a.test/", bytearray(html1, "utf-8")),
         ("https://b.test/", bytearray(html2, "utf-8"))],
        "url string, html binary")
    row = anchor_text_summary(pages).first()
    assert row["abs_url"] == "https://t.test/p"
    assert (row["n_anchors"], row["n_unique"]) == (3, 2)
    assert (row["top_anchor"], row["top_count"]) == ("good page", 2)


@pytest.mark.spark
def test_anchor_extraction_adversarial_html(spark):
    """Malformed quoting, nested tags, unclosed anchors, binary noise:
    extraction never raises, every anchor is non-empty post-strip, and
    every target is an absolutized fetchable URL."""
    from commoncrawl_spark.operators.links import extract_anchors

    cases = [
        '<a href="it\'s-here">quote inside</a>',
        "<a href='say \"hi\"'>other quote</a>",
        '<a href="https://x.test/a"><b><i>deep</i></b></a>',
        '<a href="https://x.test/b">unclosed',
        '<a href="">empty href</a>',
        '<a href="https://x.test/c">   </a>',
        '<a href="javascript:alert(1)">js</a>',
        "\x00\xff binary <a no-href>junk</a> \x01",
        '<A HREF="HTTPS://UP.test/">case</A>',
        '<a data-x=">" href="https://x.test/d">attr with gt</a>',
    ]
    pages = spark.createDataFrame(
        [(f"https://src.test/{i}/", bytearray(h, "latin-1"))
         for i, h in enumerate(cases)],
        "url string, html binary")
    rows = extract_anchors(pages).collect()   # must not raise
    for r in rows:
        assert r["anchor"].strip() != ""
        assert r["abs_url"].lower().startswith(("http://", "https://"))
    got = {(r["abs_url"], r["anchor"]) for r in rows}
    assert ("https://x.test/a", "deep") in got
    assert ("HTTPS://UP.test/", "case") in got
    assert not any(u.startswith("javascript") for u, _ in got)


@pytest.mark.spark
def test_surt_col_semantics(spark):
    """SURT: reversed comma-joined host, www/port dropped, lowercased
    path+query kept, fragment dropped, trailing slash trimmed —
    sorting clusters a domain with its subdomains."""
    from commoncrawl_spark.functions.urls import surt_col

    cases = [
        ("https://www.Example.COM/Path/A?X=1#f", "com,example)/path/a?x=1"),
        ("http://sub.example.com:8080/b/", "com,example,sub)/b"),
        ("https://example.com", "com,example)"),
        # a slash ending a QUERY value is data, only the path is trimmed
        ("https://example.com/p/?next=/home/", "com,example)/p?next=/home/"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string")
    got = {r["i"]: r["s"] for r in df.select(
        "i", surt_col(F.col("url")).alias("s")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)
    # locality: domain + subdomain sort adjacent, other TLD does not split them
    urls = ["https://example.com/z", "https://a.example.org/x",
            "https://sub.example.com/a", "https://example.net/y"]
    d2 = spark.createDataFrame([(u,) for u in urls], "url string")
    surts = sorted(r["s"] for r in d2.select(
        surt_col(F.col("url")).alias("s")).collect())
    com = [s for s in surts if s.startswith("com,example")]
    assert surts.index(com[0]) + len(com) - 1 == surts.index(com[-1])


@pytest.mark.spark
def test_sitemap_entries_metadata(spark):
    """Per-<url> metadata extraction: whitespace-trimmed loc, missing
    children null, changefreq case-folded, priority typed, loc-less
    blocks dropped; changefreq maps to a prior rate."""
    from commoncrawl_spark.operators.links import (
        changefreq_rate_col,
        extract_sitemap_entries,
    )

    xml = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc> https://h.test/a </loc><lastmod>2024-02-03</lastmod>"
        "<changefreq>WEEKLY</changefreq><priority>0.8</priority></url>"
        "<url><loc>https://h.test/b</loc></url>"
        "<url><changefreq>daily</changefreq></url>"
        "</urlset>"
    )
    sm = spark.createDataFrame(
        [("https://h.test/sitemap.xml", bytearray(xml, "utf-8"))],
        "sitemap_url string, xml binary")
    out = extract_sitemap_entries(sm).withColumn(
        "rate", changefreq_rate_col(F.col("changefreq")))
    got = {r["loc"]: r for r in out.collect()}
    assert set(got) == {"https://h.test/a", "https://h.test/b"}
    a = got["https://h.test/a"]
    assert (a["lastmod"], a["changefreq"], a["priority"]) == (
        "2024-02-03", "weekly", 0.8)
    assert a["rate"] == 1 / 7
    b = got["https://h.test/b"]
    assert (b["lastmod"], b["changefreq"], b["priority"], b["rate"]) == (
        None, None, None, None)


@pytest.mark.spark
def test_link_locality_hand_computed(spark):
    from commoncrawl_spark.operators.links import link_locality

    html = ('<a href="https://other.test/x">o</a>'
            '<a href="/here">i</a><a href="rel/a">i2</a>')
    pages = spark.createDataFrame(
        [("https://h.test/d/page", bytearray(html, "utf-8"))],
        "url string, html binary")
    r = link_locality(pages).first()
    assert (r["host"], r["n_edges"], r["n_internal"], r["n_external"]) == (
        "h.test", 3, 2, 1)
    assert r["internal_ratio"] == round(2 / 3, 6)


def test_url_features_hand_cases(spark):
    from commoncrawl_spark.functions.urls import url_features
    from pyspark.sql import functions as F

    rows = [
        (1, "https://example.com"),                       # homepage
        (2, "https://example.com/?utm=1"),                # params, no path segs
        (3, "http://a.org/x/y/z123/?id=7&b=2#frag"),      # deep + digits + frag
        (4, "example.com/plain/path"),                    # schemeless
        (5, "https://h.io:8080/a1b2"),                    # port in netloc
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    f = url_features(F.col("url"))
    got = {r["id"]: r.asDict()
           for r in df.select("id", *[v.alias(k)
                                      for k, v in f.items()]).collect()}
    assert got[1]["is_homepage"] and got[1]["path_depth"] == 0
    assert got[2]["n_params"] == 1 and not got[2]["is_homepage"]
    g3 = got[3]
    # path '/x/y/z123/' -> 3 segments, 10 chars, 3 digits; query stops
    # at the fragment
    assert g3["path_depth"] == 3 and g3["n_params"] == 2
    assert g3["path_len"] == 10 and g3["digit_ratio"] == 0.3
    assert got[4]["path_depth"] == 2 and not got[4]["is_homepage"]
    # the port belongs to the netloc, not the path
    assert got[5]["path_depth"] == 1 and got[5]["path_len"] == 5


def test_host_trap_stats_separates_generated_url_spaces(spark):
    from commoncrawl_spark.operators.links import host_trap_stats

    urls = (
        # trap: 50 distinct calendar URLs, one template
        [(f"https://trap.ex/cal/2024/{m:02d}/{d:02d}?sid={m * d}",)
         for m in range(1, 6) for d in range(1, 11)]
        # benign: 8 lettered articles, 8 templates
        + [(f"https://news.ex/articles/{w}",)
           for w in "abcdefgh"]
        # below min_urls -> dropped
        + [("https://tiny.ex/a",), ("https://tiny.ex/b",)]
    )
    df = spark.createDataFrame(urls, "url string")
    got = {r["host"]: r.asDict() for r in host_trap_stats(df).collect()}
    assert set(got) == {"trap.ex", "news.ex"}
    assert got["trap.ex"]["n_urls"] == 50
    assert got["trap.ex"]["n_templates"] == 1
    assert got["trap.ex"]["trap_score"] == 0.98
    assert got["news.ex"]["trap_score"] == 0.0
    assert got["news.ex"]["urls_per_template"] == 1.0


def test_url_features_fuzz_vs_urlsplit(spark):
    """Seeded random schemed URLs against a urllib.urlsplit-based
    oracle — pins the regex netloc/path/query split across ports,
    digit segments, empty paths, fragments, and query shapes."""
    import random
    from urllib.parse import urlsplit

    from commoncrawl_spark.functions.urls import url_features
    from pyspark.sql import functions as F

    rng = random.Random(7)
    urls = []
    for _ in range(120):
        scheme = rng.choice(["http", "https"])
        host = rng.choice(["ex.org", "a.b.ex.org", "x1.io"])
        port = rng.choice(["", ":8080", ":443"])
        segs = [rng.choice(["p", "2024", "item9", "a-b", "07"])
                for _ in range(rng.randint(0, 4))]
        path = "".join("/" + s for s in segs) + rng.choice(["", "/"])
        q = rng.choice(["", "", "?a=1", "?a=1&bb=cc2", "?x=&y=9&z=0"])
        frag = rng.choice(["", "#sec?not=query"])
        urls.append(f"{scheme}://{host}{port}{path}{q}{frag}")
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "id long, url string")
    f = url_features(F.col("url"))
    got = {r["id"]: r.asDict() for r in df.select(
        "id", *[v.alias(k) for k, v in f.items()]).collect()}
    for i, u in enumerate(urls):
        sp = urlsplit(u)
        depth = len([s for s in sp.path.split("/") if s])
        digits = sum(c.isdigit() for c in sp.path)
        want = {
            "path_depth": depth,
            "path_len": len(sp.path),
            "n_params": 0 if sp.query == "" else len(sp.query.split("&")),
            "is_homepage": depth == 0 and sp.query == "",
            "digit_ratio": round(digits / max(len(sp.path), 1), 4),
            "url_len": len(u),
        }
        have = {k: got[i][k] for k in want}
        assert have == want, (u, have, want)


def _resolve_py(edges, max_hops):
    """Pure-Python oracle: min-location conflict rule, step-by-step walk."""
    r = {}
    for s, d in edges:
        r[s] = min(r[s], d) if s in r else d
    out = {}
    for s in r:
        cur, hops = r[s], 1
        while cur in r and hops < max_hops:
            cur, hops = r[cur], hops + 1
        if cur not in r and hops <= max_hops:
            out[s] = (cur, hops, True)
        else:
            out[s] = (None, None, False)
    return out


@pytest.mark.spark
def test_resolve_redirects_random_graph_matches_walk(spark):
    import random as _random

    from commoncrawl_spark.operators.links import resolve_redirects

    rng = _random.Random(5)
    # random functional graph over 60 nodes: chains, merges, and cycles
    edges = [(f"u{i}", f"u{rng.randrange(60)}") for i in range(45)]
    df = spark.createDataFrame(edges, "url string, location string")
    got = {r["url"]: (r["final_url"], r["n_hops"], r["resolved"])
           for r in resolve_redirects(df, max_hops=8).collect()}
    assert got == _resolve_py(edges, 8)


@pytest.mark.spark
def test_resolve_redirects_loop_and_budget(spark):
    from commoncrawl_spark.operators.links import resolve_redirects

    edges = [("a", "b"), ("b", "c"), ("c", "d"),   # 3-hop chain
             ("x", "y"), ("y", "x"),               # 2-cycle
             ("p", "x")]                           # rho: tail into cycle
    df = spark.createDataFrame(edges, "url string, location string")
    got = {r["url"]: (r["final_url"], r["n_hops"], r["resolved"])
           for r in resolve_redirects(df, max_hops=2).collect()}
    assert got["b"] == ("d", 2, True)
    assert got["a"] == (None, None, False)   # 3 hops > budget 2
    assert got["x"] == (None, None, False)   # loop
    assert got["p"] == (None, None, False)   # rho trap
    # budget 3 admits the full chain
    got3 = {r["url"]: r["resolved"]
            for r in resolve_redirects(df, max_hops=3).collect()}
    assert got3["a"] is True and got3["x"] is False


@pytest.mark.spark
def test_resolve_redirects_conflicting_captures_take_min(spark):
    from commoncrawl_spark.operators.links import resolve_redirects

    df = spark.createDataFrame(
        [("s", "t2"), ("s", "t1")], "url string, location string")
    rows = resolve_redirects(df, max_hops=4).collect()
    assert len(rows) == 1 and rows[0]["final_url"] == "t1"
    with pytest.raises(ValueError):
        resolve_redirects(df, max_hops=0)


@pytest.mark.spark
def test_page_directives_variants(spark):
    from commoncrawl_spark.operators.links import page_directives

    rows = [
        # attribute orders, casing, single quotes
        ("u1", "<meta name='robots' content='NOINDEX'>"
               "<link rel='canonical' href='https://c.test/x'>"
               "<a href='/a'>1</a>"),
        ("u2", '<META content="nofollow" name="Robots">'
               '<link href="/c" rel="canonical">'
               '<a rel="NoFollow" href="/a">1</a><a href="/b">2</a>'),
        # token boundary: 'nofollowme' is NOT a nofollow directive
        ("u3", '<meta name="robots" content="nofollowme,index">'),
        ("u4", "<a href='/x'>plain</a>"),
        # the other quote char inside a double-quoted value must not
        # truncate (the _HREF_RE quote-pairing discipline)
        ("u5", '<link rel="canonical" href="https://c.test/it\'s-here">'),
        # multiple robots meta tags are ADDITIVE
        ("u6", '<meta name="robots" content="noindex">'
               '<meta name="robots" content="nofollow">'),
    ]
    df = spark.createDataFrame(
        [(f"https://h.test/{u}", h.encode()) for u, h in rows],
        "url string, html binary")
    got = {r["url"].rsplit("/", 1)[1]: r
           for r in page_directives(df).collect()}
    assert got["u1"]["noindex"] and not got["u1"]["nofollow"]
    assert got["u1"]["canonical_url"] == "https://c.test/x"
    assert not got["u2"]["noindex"] and got["u2"]["nofollow"]
    assert got["u2"]["canonical_url"] == "https://h.test/c"
    assert (got["u2"]["n_links"], got["u2"]["n_nofollow_links"]) == (2, 1)
    assert not got["u3"]["noindex"] and not got["u3"]["nofollow"]
    assert got["u3"]["canonical_url"] is None
    assert got["u4"]["n_links"] == 1 and got["u4"]["n_nofollow_links"] == 0
    assert got["u5"]["canonical_url"] == "https://c.test/it's-here"
    assert got["u6"]["noindex"] and got["u6"]["nofollow"]


@pytest.mark.spark
def test_page_directives_canonical_grouping_composes(spark):
    """The publisher-declared dedup: group captures by
    coalesce(canonical, url) — print/mobile variants collapse."""
    from pyspark.sql import functions as F

    from commoncrawl_spark.operators.links import page_directives

    variants = [
        ("https://h.test/story", ""),
        ("https://h.test/story?print=1",
         '<link rel="canonical" href="/story">'),
        ("https://h.test/amp/story",
         '<link rel="canonical" href="https://h.test/story">'),
        ("https://h.test/other", ""),
    ]
    df = spark.createDataFrame(
        [(u, f"<html><head>{h}</head></html>".encode())
         for u, h in variants], "url string, html binary")
    groups = (
        page_directives(df)
        .groupBy(F.coalesce("canonical_url", "url").alias("key"))
        .count().collect())
    got = {r["key"]: r["count"] for r in groups}
    assert got == {"https://h.test/story": 3, "https://h.test/other": 1}


@pytest.mark.spark
def test_registered_domain_branches(spark):
    from commoncrawl_spark.functions.urls import registered_domain_col
    from pyspark.sql import functions as F

    cases = [
        ("a.b.co.uk", "b.co.uk"),          # 2-letter ccTLD + public 2LD
        ("www.example.org", "example.org"),
        ("deep.sub.site.ac.jp", "site.ac.jp"),
        ("example.org", "example.org"),     # bare registered domain
        ("x.co.uk", "x.co.uk"),             # exactly three labels
        ("static.media.net", "media.net"),  # 3-letter TLD: last two
        ("localhost", "localhost"),         # single label passthrough
        ("b.co.de", "b.co.de"),             # any 2-letter ccTLD + 'co' 2LD
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
    got = [r["d"] for r in
           df.select(registered_domain_col(F.col("h")).alias("d")).collect()]
    assert got == [w for _, w in cases]


@pytest.mark.spark
def test_domain_graph_rollup_and_internal_drop(spark):
    from commoncrawl_spark.operators.links import domain_graph

    edges = spark.createDataFrame(
        [("www.a.co.uk", "b.org"), ("cdn.a.co.uk", "b.org"),
         ("a.co.uk", "www.a.co.uk"),        # intra-domain after rollup
         ("c.net", "b.org")],
        "src_host string, dst_host string")
    got = {(r["src_domain"], r["dst_domain"]): r["n_links"]
           for r in domain_graph(edges).collect()}
    assert got == {("a.co.uk", "b.org"): 2, ("c.net", "b.org"): 1}
    kept = domain_graph(edges, drop_internal=False).count()
    assert kept == 3   # the self-loop group survives


@pytest.mark.spark
def test_domain_graph_plan_scan_stage_rollup(spark):
    from commoncrawl_spark.operators.links import domain_graph

    edges = spark.createDataFrame(
        [("a.org", "b.org")], "src_host string, dst_host string")
    out = domain_graph(edges)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "partial_count" in plan   # map-side partial link count


@pytest.mark.spark
def test_expand_sitemap_tree(spark):
    from commoncrawl_spark.operators.links import expand_sitemap_tree

    bodies = spark.createDataFrame([
        ("https://s.test/sitemap.xml",
         '<?xml version="1.0"?><sitemapindex>'
         '<sitemap><loc> https://s.test/sm-a.xml </loc></sitemap>'
         '<sitemap><loc>https://s.test/sm-b.xml</loc></sitemap>'
         '<sitemap><loc>https://s.test/missing.xml</loc></sitemap>'
         '</sitemapindex>'),
        ("https://s.test/sm-a.xml",
         '<urlset><url><loc>https://s.test/p/1</loc></url>'
         '<url><loc>https://s.test/p/2</loc></url></urlset>'),
        ("https://s.test/sm-b.xml",   # UPPERCASE index tag + cycle back
         '<SITEMAPINDEX><sitemap><loc>https://s.test/sm-c.xml</loc>'
         '</sitemap><sitemap><loc>https://s.test/sitemap.xml</loc>'
         '</sitemap></SITEMAPINDEX>'),
        ("https://s.test/sm-c.xml",
         '<urlset><url><loc>https://s.test/p/3</loc></url></urlset>'),
    ], "url string, xml string")
    seeds = spark.createDataFrame(
        [("https://s.test/sitemap.xml",)], "sitemap_url string")
    got = sorted((r["sitemap_url"], r["depth"], r["loc"])
                 for r in expand_sitemap_tree(seeds, bodies,
                                              max_depth=2).collect())
    # cycle back to the root re-emits its urlset children one level
    # deeper, then the depth bound stops it — no infinite loop
    assert ("https://s.test/sm-a.xml", 1, "https://s.test/p/1") in got
    assert ("https://s.test/sm-a.xml", 1, "https://s.test/p/2") in got
    assert ("https://s.test/sm-c.xml", 2, "https://s.test/p/3") in got
    assert all(d <= 2 for _, d, _ in got)
    # depth cap excludes the grandchild
    got1 = {r["loc"] for r in expand_sitemap_tree(
        seeds, bodies, max_depth=1).collect()}
    assert "https://s.test/p/3" not in got1
    with pytest.raises(ValueError):
        expand_sitemap_tree(seeds, bodies, max_depth=-1)


@pytest.mark.spark
def test_expand_sitemap_tree_plan_no_python(spark):
    from commoncrawl_spark.operators.links import expand_sitemap_tree

    bodies = spark.createDataFrame(
        [("u", "<urlset><url><loc>p</loc></url></urlset>")],
        "url string, xml string")
    seeds = spark.createDataFrame([("u",)], "sitemap_url string")
    out = expand_sitemap_tree(seeds, bodies, max_depth=1)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


@pytest.mark.spark
def test_url_tree_rollup_depth_cap_and_query_strip(spark):
    from commoncrawl_spark.operators.links import url_tree_rollup

    df = spark.createDataFrame([
        ("https://a.test/x/y/z/w?q=1",),
        ("https://a.test/x/y",),
        ("https://a.test/",),
        ("https://b.test",),
    ], "url string")
    got = {(r["host"], r["prefix"]): (r["depth"], r["n_urls"])
           for r in url_tree_rollup(df, max_depth=3).collect()}
    assert got[("a.test", "/")] == (0, 3)
    assert got[("a.test", "/x")] == (1, 2)
    assert got[("a.test", "/x/y/z")] == (3, 1)
    assert ("a.test", "/x/y/z/w") not in got  # capped at depth 3
    assert got[("b.test", "/")] == (0, 1)
    with pytest.raises(ValueError, match="max_depth"):
        url_tree_rollup(df, max_depth=-1)


# ---------------------------------------------------------------------------
# co-citation similarity
# ---------------------------------------------------------------------------


@pytest.mark.spark
def test_cocitation_counts_and_cosine(spark):
    from commoncrawl_spark.operators.links import cocitation

    # s1 and s2 both cite {x, y}; s3 cites {x, z}
    links = spark.createDataFrame(
        [("s1", "x"), ("s1", "y"),
         ("s2", "x"), ("s2", "y"),
         ("s3", "x"), ("s3", "z")],
        "src string, dst string")
    rows = {(r["a"], r["b"]): r for r in cocitation(links).collect()}
    # x cited by 3, y by 2, z by 1
    assert rows[("x", "y")]["n_common"] == 2
    assert rows[("x", "y")]["similarity"] == round(2 / (3 * 2) ** 0.5, 6)
    assert rows[("x", "z")]["n_common"] == 1
    assert rows[("x", "z")]["similarity"] == round(1 / (3 * 1) ** 0.5, 6)
    assert ("y", "z") not in rows  # no common citing source


@pytest.mark.spark
def test_cocitation_hub_exclusion(spark):
    from commoncrawl_spark.operators.links import cocitation

    hub = [("hub", t) for t in ("a", "b", "c", "d", "e")]
    links = spark.createDataFrame(
        hub + [("s1", "a"), ("s1", "b")], "src string, dst string")
    rows = {(r["a"], r["b"]): r
            for r in cocitation(links, max_out=4).collect()}
    # the 5-target hub is excluded entirely: only s1's pair survives,
    # and df counts exclude the hub's citations too (df_a = df_b = 1)
    assert set(rows) == {("a", "b")}
    assert rows[("a", "b")]["n_common"] == 1
    assert rows[("a", "b")]["similarity"] == 1.0


@pytest.mark.spark
def test_cocitation_duplicate_links_collapse(spark):
    from commoncrawl_spark.operators.links import cocitation

    links = spark.createDataFrame(
        [("s1", "x"), ("s1", "x"), ("s1", "y")], "src string, dst string")
    rows = cocitation(links).collect()
    assert len(rows) == 1 and rows[0]["n_common"] == 1


@pytest.mark.spark
def test_cocitation_min_count_and_coupling_via_reversal(spark):
    from commoncrawl_spark.operators.links import cocitation

    links = spark.createDataFrame(
        [("s1", "x"), ("s1", "y"), ("s2", "x"), ("s2", "y"), ("s3", "x")],
        "src string, dst string")
    assert [(r["a"], r["b"]) for r in
            cocitation(links, min_count=2).collect()] == [("x", "y")]
    # bibliographic coupling: sources similar through shared targets
    coup = {(r["a"], r["b"]): r["n_common"]
            for r in cocitation(
                links, src_col="dst", dst_col="src").collect()}
    assert coup[("s1", "s2")] == 2
    assert coup[("s1", "s3")] == 1 and coup[("s2", "s3")] == 1


# ---------------------------------------------------------------------------
# RSS / Atom feed parsing
# ---------------------------------------------------------------------------

RSS_FEED = """<?xml version="1.0"?><rss version="2.0"><channel>
<title>Site</title><link>https://s.test/</link>
<item><title> First post </title><link>https://s.test/a</link>
<guid isPermaLink="false">tag:a</guid>
<pubDate>Tue, 7 Sep 2021 10:00:00 GMT</pubDate></item>
<item><title>No date</title><link>https://s.test/b</link></item>
<item><title>No link, dropped</title></item>
</channel></rss>"""

ATOM_FEED = """<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">
<title>Site</title>
<entry><title type="text">Alpha</title>
<link rel="alternate" href="https://a.test/x"/>
<id>urn:1</id><published>2022-03-09T08:00:00Z</published></entry>
<entry><title>Beta</title><link href="https://a.test/y"/>
<updated>2022-12-31T23:59:59Z</updated></entry>
</feed>"""


@pytest.mark.spark
def test_feed_entries_rss(spark):
    from commoncrawl_spark.operators.links import extract_feed_entries

    df = spark.createDataFrame([("https://s.test/feed", RSS_FEED)],
                               "feed_url string, xml string")
    rows = extract_feed_entries(df).orderBy("link").collect()
    assert [r["link"] for r in rows] == ["https://s.test/a",
                                         "https://s.test/b"]
    a, b = rows
    assert a["kind"] == "rss" and a["title"] == "First post"
    assert a["entry_id"] == "tag:a"
    assert a["published"] == "2021-09-07"          # RFC822 normalized
    assert a["published_raw"] == "Tue, 7 Sep 2021 10:00:00 GMT"
    assert b["entry_id"] is None and b["published"] is None


@pytest.mark.spark
def test_feed_entries_atom(spark):
    from commoncrawl_spark.operators.links import extract_feed_entries

    df = spark.createDataFrame([("https://a.test/atom", ATOM_FEED)],
                               "feed_url string, xml string")
    rows = extract_feed_entries(df).orderBy("link").collect()
    assert [(r["kind"], r["link"]) for r in rows] == [
        ("atom", "https://a.test/x"), ("atom", "https://a.test/y")]
    x, y = rows
    assert x["title"] == "Alpha" and x["entry_id"] == "urn:1"
    assert x["published"] == "2022-03-09"          # ISO normalized
    assert y["published"] == "2022-12-31"          # falls back to updated
    assert y["entry_id"] is None


@pytest.mark.spark
def test_feed_entries_not_a_feed_and_plan(spark):
    from commoncrawl_spark.operators.links import extract_feed_entries
    from commoncrawl_spark.plans.explain import plan_string

    df = spark.createDataFrame(
        [("https://h.test/p", "<html>not a feed</html>")],
        "feed_url string, xml string")
    out = extract_feed_entries(df)
    assert out.count() == 0
    p = plan_string(out, "simple")
    assert "Exchange" not in p and "EvalPython" not in p


# ---------------------------------------------------------------------------
# hreflang alternates
# ---------------------------------------------------------------------------

HREFLANG_PAGE = """<html><head>
<link rel="alternate" hreflang="EN" href="https://s.test/en"/>
<link hreflang="de" rel="alternate" href="https://s.test/de"/>
<link rel="alternate" hreflang="x-default" href="https://s.test/"/>
<link rel="stylesheet" hreflang="fr" href="https://s.test/css"/>
<link rel="alternate" hreflang="es">
</head></html>"""


@pytest.mark.spark
def test_extract_hreflang_attr_order_case_and_filters(spark):
    from commoncrawl_spark.operators.links import extract_hreflang

    df = spark.createDataFrame([("https://s.test/en", HREFLANG_PAGE)],
                               "url string, html string")
    rows = extract_hreflang(df).orderBy("hreflang").collect()
    # stylesheet rel dropped, missing-href dropped, lang lowercased
    assert [(r["hreflang"], r["alt_url"]) for r in rows] == [
        ("de", "https://s.test/de"),
        ("en", "https://s.test/en"),
        ("x-default", "https://s.test/"),
    ]


@pytest.mark.spark
def test_confirmed_hreflang_pairs_reciprocity(spark):
    from commoncrawl_spark.operators.links import confirmed_hreflang_pairs

    alts = spark.createDataFrame([
        # en <-> de reciprocal
        ("https://s.test/en", "de", "https://s.test/de"),
        ("https://s.test/de", "en", "https://s.test/en"),
        # en -> fr unreciprocated (fr page never confirms)
        ("https://s.test/en", "fr", "https://s.test/fr"),
        # duplicate tag collapses
        ("https://s.test/en", "de", "https://s.test/de"),
        # self-reference cannot pair
        ("https://s.test/en", "en", "https://s.test/en"),
    ], "url string, hreflang string, alt_url string")
    rows = confirmed_hreflang_pairs(alts).collect()
    # lang_a is the label the OTHER page assigns A: the en page says
    # the de page is "de", and vice versa
    assert [(r["url_a"], r["lang_a"], r["url_b"], r["lang_b"])
            for r in rows] == [
        ("https://s.test/de", "de", "https://s.test/en", "en")]


@pytest.mark.spark
def test_hreflang_pair_plan_equi_join_no_cartesian(spark):
    from commoncrawl_spark.operators.links import confirmed_hreflang_pairs
    from commoncrawl_spark.plans.explain import plan_string

    alts = spark.createDataFrame(
        [("u", "en", "v"), ("v", "de", "u")],
        "url string, hreflang string, alt_url string")
    p = plan_string(confirmed_hreflang_pairs(alts), "simple")
    assert "CartesianProduct" not in p and "EvalPython" not in p


# ---------------------------------------------------------------------------
# rel=next pagination chains
# ---------------------------------------------------------------------------

@pytest.mark.spark
def test_extract_rel_next_first_wins_and_filters(spark):
    from commoncrawl_spark.operators.links import extract_rel_next

    html = ('<link rel="stylesheet" href="/css">'
            '<link href="https://s.test/p2" rel="next">'
            '<link rel="next" href="https://s.test/zzz">'   # dup: min wins
            '<link rel="prev" href="https://s.test/p0">')
    df = spark.createDataFrame([("https://s.test/p1", html)],
                               "url string, html string")
    rows = extract_rel_next(df).collect()
    assert [(r["url"], r["next_url"]) for r in rows] == [
        ("https://s.test/p1", "https://s.test/p2")]


@pytest.mark.spark
def test_pagination_chains_order_cycle_truncation(spark):
    from commoncrawl_spark.operators.links import pagination_chains

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"),            # chain a->b->c
         ("x", "y"), ("y", "x"),            # pure cycle: no head, drops
         ("m", "n")],                       # 2-page chain
        "url string, next_url string")
    got = sorted((r["head_url"], r["url"], r["position"])
                 for r in pagination_chains(edges).collect())
    assert got == [("a", "a", 0), ("a", "b", 1), ("a", "c", 2),
                   ("m", "m", 0), ("m", "n", 1)]
    # truncation: a 6-chain cut at max_pages=3 keeps positions 0..2
    long_edges = spark.createDataFrame(
        [(f"p{i}", f"p{i+1}") for i in range(6)],
        "url string, next_url string")
    got = sorted((r["url"], r["position"]) for r in
                 pagination_chains(long_edges, max_pages=3).collect())
    assert got == [("p0", 0), ("p1", 1), ("p2", 2)]


@pytest.mark.spark
def test_pagination_chains_plan(spark, tmp_path):
    """The edge input is scanned once, by the one cut the operator
    makes; the unrolled joins read that cut."""
    from commoncrawl_spark.operators.links import pagination_chains
    from commoncrawl_spark.plans.explain import plan_string
    from scripts.plan_audit import cut_frames, planned_once

    spark.createDataFrame([("a", "b"), ("b", "c")],
                          "url string, next_url string").write.parquet(
        str(tmp_path / "edges"))
    edges = spark.read.parquet(str(tmp_path / "edges"))
    with cut_frames() as cuts:
        out = pagination_chains(edges, max_pages=4)
    assert len(cuts) == 1
    cut = planned_once(plan_string(cuts[0], "simple"))
    p = plan_string(out, "simple")
    assert cut.count("FileScan parquet") == 1
    assert "FileScan parquet" not in p and "Scan ExistingRDD" in p
    assert "CartesianProduct" not in p and "EvalPython" not in p
    assert "Window" not in p


@pytest.mark.spark
def test_discover_feeds(spark):
    from commoncrawl_spark.operators.links import discover_feeds

    html = ('<link rel="alternate" type="application/rss+xml" '
            'href="https://s.test/feed"/>'
            '<link type="application/atom+xml" rel="alternate" '
            'href="https://s.test/atom"/>'
            '<link rel="alternate" type="text/html" href="/mobile">'
            '<link rel="stylesheet" type="application/rss+xml" '
            'href="/weird">')
    df = spark.createDataFrame([("https://s.test/p", html)],
                               "url string, html string")
    rows = sorted((r["feed_kind"], r["feed_url"])
                  for r in discover_feeds(df).collect())
    assert rows == [("atom", "https://s.test/atom"),
                    ("rss", "https://s.test/feed")]


@pytest.mark.spark
def test_stitch_chains_orders_and_bounds(spark):
    from commoncrawl_spark.operators.links import stitch_chains

    chains = spark.createDataFrame(
        [("a", "a", 0), ("a", "b", 1), ("a", "c", 2), ("m", "m", 0)],
        "head_url string, url string, position int")
    pages = spark.createDataFrame(
        [("a", "first."), ("b", "second."), ("c", "third."),
         ("m", "solo."), ("zz", "unreferenced.")],
        "url string, text string")
    got = {r["head_url"]: (r["n_pages"], r["text"])
           for r in stitch_chains(chains, pages).collect()}
    assert got["a"] == (3, "first.\nsecond.\nthird.")
    assert got["m"] == (1, "solo.")
    assert "zz" not in got
