"""Recrawl eviction through CrawlJob: evicted URLs leave the seen table
(time-travelably), the cross-round filter state follows (in-place for
cuckoo, release-and-rebuild for bloom), and requeued URLs are actually
re-fetched on the next run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.plans.frontier import CrawlJob

BUDGET = 40


@pytest.fixture(scope="module")
def tables(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").cache()
    cdx = spark.read.parquet(f"{fixture_dir}/cdx.parquet").cache()
    return pages, cdx


@pytest.mark.spark
def test_evict_and_recrawl_refetches(spark, tables, tmp_path_factory):
    pages, cdx = tables
    job = CrawlJob(spark, str(tmp_path_factory.mktemp("recrawl")),
                   budget_per_host=BUDGET)
    job.seed_from_cdx(cdx)
    assert job.run(pages)
    arts1 = job.articles_df().count()
    seen1 = job.seen_df().count()

    evict = job.articles_df().select("url").orderBy("url").limit(20)
    assert job.evict_for_recrawl(evict) == 20
    assert job.seen_df().count() == seen1 - 20

    rounds2 = job.run(pages)
    assert rounds2 and sum(r["fetched"] for r in rounds2) == 20
    assert job.seen_df().count() == seen1  # membership restored
    # the refetch produced fresh article rows (append-only log)
    assert job.articles_df().count() == arts1 + 20
    # pre-eviction membership is still time-travelable
    snaps = job.seen.snapshots()
    evicted_snap = [s for s in snaps if "evicted" in s["metadata"]]
    assert evicted_snap and evicted_snap[0]["metadata"]["evicted"] == 20


@pytest.mark.spark
def test_evict_unknown_urls_is_noop(spark, tables, tmp_path_factory):
    pages, cdx = tables
    job = CrawlJob(spark, str(tmp_path_factory.mktemp("recrawl_noop")),
                   budget_per_host=BUDGET)
    job.seed_from_cdx(cdx)
    job.run(pages)
    seen1 = job.seen_df().count()
    ghost = spark.createDataFrame(
        [("https://never.crawled.test/x",)], "url string")
    assert job.evict_for_recrawl(ghost) == 0
    assert job.seen_df().count() == seen1


@pytest.mark.spark
@pytest.mark.parametrize("state", ["cuckoo", "bloom"])
def test_evict_updates_filter_state(spark, tables, tmp_path_factory, state):
    """The live state object is edited IN PLACE (the same instance
    survives the eviction): cuckoo clears fingerprints, Bloom rebuilds
    the touched buckets from its remaining key history. Both stay
    membership-exact."""
    pages, cdx = tables
    job = CrawlJob(spark, str(tmp_path_factory.mktemp(f"recrawl_{state}")),
                   budget_per_host=BUDGET, bloom_threshold=10,
                   seen_state=state)
    job.seed_from_cdx(cdx)
    job.run(pages)
    # force the cross-round state into existence
    probe = job.seen_df().select("url_sha1")
    assert job._filter_unseen(probe).count() == 0
    st = job._bloom
    assert st is not None

    evict = job.articles_df().select("url").orderBy("url").limit(15)
    assert job.evict_for_recrawl(evict, requeue=False) == 15
    assert job._bloom is st
    # evicted keys now pass the membership filter; the rest stay caught
    unseen = job._filter_unseen(probe)
    from commoncrawl_spark.operators.seen_set import with_url_key

    want = {r["url_sha1"]
            for r in with_url_key(evict).select("url_sha1").collect()}
    assert {r["url_sha1"] for r in unseen.collect()} == want
    job._bloom.release()


@pytest.mark.spark
def test_evict_stale_freshness_policy(spark, tables, tmp_path_factory):
    """evict_stale composes the change-rate policy with eviction: a URL
    whose digest flips every capture is evicted and refetched; a URL
    with a stable digest stays seen."""
    pages, cdx = tables
    job = CrawlJob(spark, str(tmp_path_factory.mktemp("recrawl_stale")),
                   budget_per_host=BUDGET)
    job.seed_from_cdx(cdx)
    assert job.run(pages)
    seen1 = job.seen_df().count()
    hot, cold = [r["url"] for r in
                 job.articles_df().select("url").orderBy("url").limit(2).collect()]

    day = 86400
    caps = spark.createDataFrame(
        [(hot, 0 * day, "d0"), (hot, 1 * day, "d1"), (hot, 2 * day, "d2"),
         (cold, 0 * day, "same"), (cold, 1 * day, "same"),
         (cold, 2 * day, "same")],
        "url string, ts long, digest string")
    n = job.evict_stale(caps, as_of=4 * day, threshold=0.5)
    assert n == 1
    assert job.seen_df().count() == seen1 - 1

    rounds = job.run(pages)
    refetched = {r["url"] for r in job.articles_df()
                 .groupBy("url").count().filter(F.col("count") > 1).collect()}
    assert rounds and refetched == {hot}


@pytest.mark.spark
def test_revalidation_plan_validator_choice_and_expectation(spark):
    from commoncrawl_spark.operators.temporal import revalidation_plan

    rows = [
        # etag wins over last-modified; p=0.25, body=10000
        ("https://a.test/1", 0.25, 10000, 'W/"x"', "Mon, 01 Jan 2024", None),
        # last-modified only
        ("https://a.test/2", 0.5, 2000, None, "Tue, 02 Jan 2024", None),
        # no validator -> unconditional, saves nothing
        ("https://a.test/3", 0.0, 50000, None, None, None),
        # tiny body under the 304 overhead -> validator not worthwhile
        ("https://a.test/4", 0.5, 100, '"t"', None, None),
    ]
    df = spark.createDataFrame(
        [(u, p, b, e, lm) for u, p, b, e, lm, _ in rows],
        "url string, p_changed double, content_length long, "
        "etag string, last_modified string")
    got = {r["url"]: r for r in revalidation_plan(df).collect()}
    r1 = got["https://a.test/1"]
    assert r1["validator"] == "etag"
    assert r1["expected_bytes"] == 0.25 * 10000 + 0.75 * 600
    assert r1["saved_bytes"] == 10000 - r1["expected_bytes"]
    r2 = got["https://a.test/2"]
    assert r2["validator"] == "last-modified"
    assert r2["expected_bytes"] == 0.5 * 2000 + 0.5 * 600
    r3 = got["https://a.test/3"]
    assert r3["validator"] == "none"
    assert r3["expected_bytes"] == 50000.0 and r3["saved_bytes"] == 0.0
    r4 = got["https://a.test/4"]
    assert r4["validator"] == "etag"
    assert r4["expected_bytes"] == 100.0 and r4["saved_bytes"] == 0.0


@pytest.mark.spark
def test_revalidation_plan_is_scan_stage(spark):
    from commoncrawl_spark.operators.temporal import revalidation_plan

    df = spark.createDataFrame(
        [("u", 0.5, 1000, "e", None)],
        "url string, p_changed double, content_length long, "
        "etag string, last_modified string")
    plan = (revalidation_plan(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "EvalPython" not in plan
