"""Transport seam (S5/S6): size-aware lookup join, ranged-HTTP transport
with Content-Length verification (torn reads fail into the retry path),
and retry backoff pacing (ST3: failing URLs skip rounds per the
2*2^attempt policy, deterministically)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.plans.explain import plan_string as _plan
from commoncrawl_spark.plans.frontier import CrawlJob
from commoncrawl_spark.sources.transport import (
    HttpRangeTransport,
    LookupJoinTransport,
)
from conftest import FlakyTransport

CDX_SCHEMA = (
    "url string, status string, mime_detected string, length string, "
    "timestamp string, crawl string, page int, line_no int"
)


def _mini_cdx(spark, urls):
    rows = [
        (u, "200", "text/html", "1000", "20240101000000", "CC-MAIN-2024-10", 0, i)
        for i, u in enumerate(urls)
    ]
    return spark.createDataFrame(rows, CDX_SCHEMA)


@pytest.mark.spark
def test_fetch_join_is_size_aware(spark, fixture_dir):
    """Under the limit the batch is broadcast; over it the join is
    un-hinted (no BroadcastExchange once auto-broadcast is off) — the
    fix for the unconditional F.broadcast of a hosts x budget batch."""
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    batch = pages.select("url").limit(100)

    small = LookupJoinTransport(pages, broadcast_limit=10**6)
    assert "BroadcastExchange" in _plan(small.fetch(batch, n_rows_hint=100))

    big = LookupJoinTransport(pages, broadcast_limit=0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastExchange" not in _plan(big.fetch(batch, n_rows_hint=100))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.spark
def test_http_transport_verifies_content_length(spark, fixture_dir):
    """A response shorter than the expected length is a torn read
    (download_warc_segments.py:62-64): the row fails, the bytes are
    never admitted."""
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").limit(20)
    blobs = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    torn = set(sorted(blobs)[:5])

    def opener(url, offset, length):
        data = blobs[url]
        return data[: len(data) // 2] if url in torn else data

    batch = spark.createDataFrame(
        [(u, 0, len(b)) for u, b in blobs.items()],
        "url string, offset long, length long",
    )
    out = HttpRangeTransport(opener=opener).fetch(batch).collect()
    assert len(out) == len(blobs)
    for r in out:
        if r["url"] in torn:
            assert r["html"] is None and r["_fetch_error"].startswith("torn_read")
        else:
            assert bytes(r["html"]) == blobs[r["url"]] and r["_fetch_error"] is None


@pytest.mark.spark
def test_crawljob_through_http_transport(spark, fixture_dir, tmp_path):
    """The round loop runs unchanged through an injected HTTP transport:
    reachable URLs extract byte-identically, a permanently-erroring URL
    exhausts its retries into the failures table."""
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    sample = pages.limit(30).collect()
    blobs = {r["url"]: bytes(r["html"]) for r in sample}
    golden = {r["url"]: r["text"] for r in sample}
    dead = sorted(blobs)[0]

    def opener(url, offset, length):
        if url == dead:
            raise OSError("connection refused")
        return blobs[url]

    job = CrawlJob(
        spark, str(tmp_path / "http_crawl"), budget_per_host=100,
        max_retries=1, transport=HttpRangeTransport(opener=opener),
    )
    job.seed_from_cdx(_mini_cdx(spark, sorted(blobs)), crawl_order=["CC-MAIN-2024-10"])
    job.run(pages=None)

    arts = {r["url"]: r["text"] for r in job.articles_df().collect()}
    for u, t in arts.items():
        assert t == golden[u]
    fails = {r["url"]: r["reason"] for r in job.failures.read(spark).collect()}
    assert dead in fails and fails[dead].startswith("OSError")
    assert dead not in arts


@pytest.mark.spark
def test_backoff_skips_rounds_deterministically(spark, fixture_dir, tmp_path):
    """A transiently failing URL is rescheduled at rounds 0, 2, 6, 14
    (min(2*2^attempt, cap) round gaps), then exhausted — while healthy
    URLs complete in round 0. The trace stays fully deterministic."""
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    good = pages.filter(F.length(F.trim("text")) > 0)  # extractable pages
    urls = [r["url"] for r in good.limit(3).collect()]
    flaky_url = urls[0]

    flaky = FlakyTransport(LookupJoinTransport(pages),
                           F.col("url") == flaky_url)
    job = CrawlJob(spark, str(tmp_path / "backoff"), budget_per_host=100,
                   max_retries=3, transport=flaky)
    job.seed_from_cdx(_mini_cdx(spark, urls), crawl_order=["CC-MAIN-2024-10"])
    rounds = job.run(pages)

    sched = sorted(
        r["round"] for r in job.trace_df().collect() if r["url"] == flaky_url
    )
    assert sched == [0, 2, 6, 14]
    healthy = {r["url"] for r in job.articles_df().collect()}
    assert healthy == set(urls[1:])
    # rounds in between only fast-forward; they select nothing
    assert all(r["selected"] == 0 for r in rounds if r["round"] not in sched)


@pytest.mark.spark
def test_unranged_get_skips_length_verification(spark, fixture_dir):
    """A batch row carrying a length but NO offset gets a plain GET — the
    full response is correct even when its size differs from the CDX
    segment length, so it must not be failed as a torn read."""
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").limit(10)
    blobs = {r["url"]: bytes(r["html"]) for r in pages.collect()}

    def opener(url, offset, length):
        assert offset is None and length is None  # un-ranged request
        return blobs[url]

    batch = spark.createDataFrame(  # wrong lengths on purpose; no offset col
        [(u, 1) for u in blobs], "url string, length long"
    )
    out = HttpRangeTransport(opener=opener).fetch(batch).collect()
    assert len(out) == len(blobs)
    for r in out:
        assert r["_fetch_error"] is None
        assert bytes(r["html"]) == blobs[r["url"]]


@pytest.mark.spark
def test_gated_rows_do_not_mask_waiting_retries(spark, fixture_dir, tmp_path):
    """An eligible-but-robots-gated row (not_before_round=0) must not make
    the empty-batch drain check conclude the crawl is done while another
    row is still backing off: the round clock fast-forwards to the
    retry's eligibility and the retry is either completed or exhausted
    into the failures table — never silently lost (ST3)."""
    from urllib.parse import urlparse

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    good = pages.filter(F.length(F.trim("text")) > 0)
    pool = sorted(r["url"] for r in good.limit(10).collect())
    gated_url = pool[0]
    gp = urlparse(gated_url)
    flaky_url = next(  # must not fall under the gated path prefix
        u for u in pool[1:] if not urlparse(u).path.startswith(gp.path)
    )
    urls = sorted([gated_url, flaky_url])
    robots = spark.createDataFrame(
        [(gp.netloc, [gp.path])],
        "host string, disallow_prefixes array<string>",
    )

    flaky = FlakyTransport(LookupJoinTransport(pages),
                           F.col("url") == flaky_url)
    job = CrawlJob(spark, str(tmp_path / "gated"), budget_per_host=100,
                   max_retries=1, transport=flaky)
    job.seed_from_cdx(_mini_cdx(spark, urls), crawl_order=["CC-MAIN-2024-10"])
    rounds = job.run(pages, robots=robots)

    # round 0 selects the flaky row; round 1's batch is empty (only the
    # gated row is eligible) and fast-forwards to round 2; round 2
    # exhausts the retry into failures
    assert [r["round"] for r in rounds] == [0, 1, 2]
    assert rounds[1]["selected"] == 0 and rounds[1]["fast_forward_to"] == 2
    fails = {r["url"] for r in job.failures.read(spark).collect()}
    assert flaky_url in fails  # the retry was exhausted, not abandoned
    arts = {r["url"] for r in job.articles_df().collect()}
    assert gated_url not in arts and flaky_url not in arts


@pytest.mark.spark
def test_fail_fast_group_commit_null_keys(spark):
    """Null group keys never equi-join: such rows are their own unit of
    work — committable iff they themselves succeeded — and must be
    conserved across the split, not silently committed-when-errored."""
    from commoncrawl_spark.operators.groups import split_complete_groups

    res = spark.createDataFrame(
        [
            (0, "u1", None), (0, "u2", "err"),   # group 0: held whole
            (1, "u3", None),                      # group 1: committable
            (None, "u4", None),                   # null-group success
            (None, "u5", "boom"),                 # null-group failure
        ],
        "grp int, url string, _fetch_error string",
    )
    committable, held = split_complete_groups(res, "grp")
    assert {r["url"] for r in committable.collect()} == {"u3", "u4"}
    assert {r["url"] for r in held.collect()} == {"u1", "u2", "u5"}
    assert committable.count() + held.count() == res.count()


@pytest.mark.spark
def test_fail_fast_group_commit(spark, fixture_dir):
    """ST5: a group (index) with any failed row commits nothing; clean
    groups commit whole. Row counts are conserved across the split."""
    from commoncrawl_spark.operators.groups import split_complete_groups

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    batch = pages.select("url").limit(40).withColumn(
        "grp", (F.crc32("url") % 4).cast("int")
    )
    fail = F.crc32("url") % 17 == 0  # a few rows fail, hitting some groups
    t = FlakyTransport(LookupJoinTransport(pages), fail)
    res = t.fetch(batch, n_rows_hint=40).persist()

    committable, held = split_complete_groups(res, "grp")
    bad_groups = {
        r["grp"] for r in
        res.filter(F.col("_fetch_error").isNotNull()).select("grp").collect()
    }
    assert bad_groups  # fixture produces at least one failing group
    assert {r["grp"] for r in held.select("grp").distinct().collect()} == bad_groups
    assert committable.filter(F.col("grp").isin(bad_groups)).count() == 0
    assert committable.filter(F.col("_fetch_error").isNotNull()).count() == 0
    assert committable.count() + held.count() == res.count()
    res.unpersist()


@pytest.mark.spark
def test_http_transport_fetches_concurrently(spark, fixture_dir, tmp_path):
    """The live transport's per-partition thread pool (the reference's
    MAX_WORKERS shape, download_warc_segments.py:30-32) must actually
    overlap requests — and still return every row correctly aligned."""
    import time as _t

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").limit(24)
    blobs = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    log = str(tmp_path / "calls.log")  # local mode: workers share the FS

    def opener(url, offset, length):
        t0 = _t.monotonic()
        _t.sleep(0.05)
        with open(log, "a") as fh:
            fh.write(f"{t0} {_t.monotonic()}\n")
        return blobs[url]

    batch = spark.createDataFrame([(u,) for u in blobs], "url string") \
        .coalesce(1)  # ONE partition: overlap must come from the pool
    out = HttpRangeTransport(opener=opener, max_workers=8).fetch(batch).collect()
    assert {r["url"]: bytes(r["html"]) for r in out} == blobs
    assert all(r["_fetch_error"] is None for r in out)

    spans = sorted(tuple(map(float, l.split())) for l in open(log))
    assert len(spans) == len(blobs)
    overlaps = sum(1 for (s0, e0), (s1, e1) in zip(spans, spans[1:]) if s1 < e0)
    assert overlaps > 0  # serial execution would have zero overlapping spans
