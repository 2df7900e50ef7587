"""Frontier round loop: politeness scheduling vs a pure-Python oracle,
crawl-ordering trace, byte-identical extraction, crash-resume equivalence,
transient-failure retry, robots gating."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.fixtures import CRAWLS
from commoncrawl_spark.functions.urls import canonicalize_url_py
from commoncrawl_spark.operators.dedup import deduplicate_records_py
from commoncrawl_spark.plans.frontier import CrawlJob
from commoncrawl_spark.session import DRIVER_JAVA_OPTIONS
from commoncrawl_spark.sources.transport import LookupJoinTransport
from commoncrawl_spark.tables import SnapshotTable
from conftest import FlakyTransport

BUDGET = 40


@pytest.fixture(scope="module")
def tables(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").cache()
    cdx = spark.read.parquet(f"{fixture_dir}/cdx.parquet").cache()
    robots = spark.read.parquet(f"{fixture_dir}/robots.parquet").cache()
    return pages, cdx, robots


def _host_of(url: str) -> str:
    rest = url.split("://", 1)[-1]
    netloc = rest.split("/", 1)[0].lower()
    if netloc.startswith("www."):
        netloc = netloc[4:]
    return netloc.split(":")[0]


def python_crawl_oracle(cdx_rows, budget, crawl_order, fetchable, max_retries=3,
                        backoff_cap=300):
    """Reference-faithful simulation: dedup fold -> 200 filter -> per-round
    per-host top-budget by (crawl_rank, page, line_no); URLs missing from
    ``fetchable`` fail transiently and retry with attempt+1 until
    max_retries, then are exhausted (ST3 retry-until-drained semantics).
    A row failing on attempt a backs off min(2*2^a, cap) rounds before
    re-eligibility (the reference's 2*2^attempt pacing at round
    granularity); rounds where everything is backing off fast-forward to
    the earliest eligibility. Returns (trace rows, seen sha1 set)."""
    best = deduplicate_records_py(cdx_rows, canonicalize_url_py)
    rank = {c: i for i, c in enumerate(crawl_order)}
    frontier = [
        {
            "url": r["url"],
            "host": _host_of(r["url"]),
            "prio": (rank[r["crawl"]], r["page"], r["line_no"]),
            "attempt": 0,
            "not_before": 0,
        }
        for r in best.values()
        if r["status"] == "200"
    ]
    trace, seen = [], set()
    rnd = 0
    while frontier:
        eligible = [r for r in frontier if r["not_before"] <= rnd]
        if not eligible:
            rnd = min(r["not_before"] for r in frontier)  # fast-forward
            continue
        by_host: dict[str, list] = {}
        for rec in sorted(eligible, key=lambda r: r["prio"]):
            by_host.setdefault(rec["host"], []).append(rec)
        batch = []
        for host, recs in by_host.items():
            for i, rec in enumerate(recs[:budget]):
                batch.append((rnd, host, i + 1, rec["url"]))
                trace.append((rnd, host, i + 1, rec["url"]))
        if not batch:
            break
        picked = {u for _, _, _, u in batch}
        remaining = []
        for rec in frontier:
            if rec["url"] not in picked:
                remaining.append(rec)
                continue
            key = hashlib.sha1(canonicalize_url_py(rec["url"]).encode()).hexdigest()
            if rec["url"] in fetchable:
                seen.add(key)  # fetched
            elif rec["attempt"] >= max_retries:
                seen.add(key)  # exhausted
            else:
                rec["not_before"] = rnd + min(2 * 2 ** rec["attempt"], backoff_cap)
                rec["attempt"] += 1
                remaining.append(rec)  # transient failure -> retry later
        frontier = remaining
        rnd += 1
    return trace, seen


@pytest.fixture(scope="module")
def full_run(spark, tables, tmp_path_factory):
    pages, cdx, robots = tables
    job = CrawlJob(
        spark, str(tmp_path_factory.mktemp("crawl_full")), budget_per_host=BUDGET
    )
    n = job.seed_from_cdx(cdx, crawl_order=CRAWLS)
    rounds = job.run(pages)
    return job, n, rounds


@pytest.mark.spark
def test_crawl_drains_and_orders_like_oracle(spark, tables, full_run):
    pages, cdx, _ = tables
    job, n_seeded, rounds = full_run
    assert n_seeded > 0 and rounds

    cdx_rows = [r.asDict() for r in cdx.orderBy("crawl", "page", "line_no").collect()]
    fetchable = {r["url"] for r in pages.select("url").collect()}
    oracle_trace, oracle_seen = python_crawl_oracle(cdx_rows, BUDGET, CRAWLS, fetchable)

    got_trace = {
        (r["round"], r["host"], r["host_rank"], r["url"])
        for r in job.trace_df().collect()
    }
    assert got_trace == set(oracle_trace)

    got_seen = {r["url_sha1"] for r in job.seen_df().collect()}
    assert got_seen == oracle_seen


@pytest.mark.spark
def test_extracted_text_byte_identical(spark, tables, full_run):
    pages, _, _ = tables
    job, _, _ = full_run
    arts = job.articles_df().select("url", F.col("text").alias("got"))
    golden = pages.select("url", F.col("text").alias("want"))
    joined = arts.join(golden, "url")
    assert joined.count() == arts.count()
    assert joined.filter(F.col("got") != F.col("want")).count() == 0
    # failures are logged, not dropped: articles + failures == fetched urls
    n_failed = job.failures.read(spark).count()
    assert arts.count() + n_failed == job.seen_df().count()


@pytest.mark.spark
def test_per_host_budget_respected(full_run):
    job, _, _ = full_run
    per = (
        job.trace_df().groupBy("round", "host").count().agg(F.max("count")).first()[0]
    )
    assert per <= BUDGET


@pytest.mark.spark
def test_metrics_lineage(spark, full_run):
    job, _, rounds = full_run
    m = job.metrics_df()
    tot = m.agg(F.sum("n_selected"), F.sum("n_fetched")).first()
    assert tot[0] == sum(r["selected"] for r in rounds)
    assert tot[1] == sum(r["fetched"] for r in rounds)
    # the driver-side timings ride on every round's counters
    assert all(r["wall_s"] > 0 and r["jit_s"] >= 0 for r in rounds), rounds
    # per-partition lineage accounts for every fetched row, per round
    lin = job.lineage.read(spark)
    per_round = {r["round"]: r["s"] for r in
                 lin.groupBy("round").agg(F.sum("n_rows").alias("s")).collect()}
    # lineage covers exactly the rounds that fetched something; rounds
    # that only fast-forwarded the backoff clock or only exhausted
    # failures produce no per-partition rows
    assert per_round == {r["round"]: r["fetched"] for r in rounds if r["fetched"]}
    assert lin.filter(F.col("min_key") > F.col("max_key")).count() == 0


@pytest.mark.spark
def test_resume_equals_uninterrupted(spark, tables, full_run, tmp_path_factory):
    pages, cdx, _ = tables
    ref_job, _, _ = full_run

    d = str(tmp_path_factory.mktemp("crawl_resume"))
    job1 = CrawlJob(spark, d, budget_per_host=BUDGET)
    job1.seed_from_cdx(cdx, crawl_order=CRAWLS)
    job1.run(pages, max_rounds=2)  # "crash" after round 2
    job2 = CrawlJob(spark, d, budget_per_host=BUDGET)  # fresh process resumes
    job2.run(pages)

    for name, a, b in [
        ("seen", ref_job.seen_df(), job2.seen_df()),
        ("articles", ref_job.articles_df().select("url", "text"),
         job2.articles_df().select("url", "text")),
        ("trace", ref_job.trace_df(), job2.trace_df()),
    ]:
        ra = {tuple(r) for r in a.collect()}
        rb = {tuple(r) for r in b.collect()}
        assert ra == rb, f"{name} diverged after resume"


@pytest.mark.spark
def test_transient_failures_retried_to_same_result(spark, tables, full_run,
                                                   tmp_path_factory):
    pages, cdx, _ = tables
    ref_job, _, _ = full_run
    d = str(tmp_path_factory.mktemp("crawl_flaky"))
    # ~1/4 of first-attempt fetches fail transiently
    flaky = (F.col("attempt") == 0) & (F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    job = CrawlJob(spark, d, budget_per_host=BUDGET, max_retries=3,
                   transport=FlakyTransport(LookupJoinTransport(pages), flaky))
    job.seed_from_cdx(cdx, crawl_order=CRAWLS)
    job.run(pages)

    a = {tuple(r) for r in ref_job.seen_df().collect()}
    b = {tuple(r) for r in job.seen_df().collect()}
    assert a == b
    ta = {tuple(r) for r in ref_job.articles_df().select("url", "text").collect()}
    tb = {tuple(r) for r in job.articles_df().select("url", "text").collect()}
    assert ta == tb


@pytest.mark.spark
def test_crawl_delay_derives_per_host_budget(spark, tables, tmp_path_factory):
    pages, cdx, _ = tables
    # hot host: 1 s delay -> 10 fetches per 10 s round; others: 0.2 s -> 50
    robots = spark.createDataFrame(
        [("example-news.test", [], 1.0)],
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    d = str(tmp_path_factory.mktemp("crawl_delay"))
    job = CrawlJob(spark, d, budget_per_host=BUDGET, round_seconds=10.0)
    job.seed_from_cdx(cdx, crawl_order=CRAWLS)
    job.run(pages, robots=robots, max_rounds=3)
    per = {
        (r["round"], r["host"]): r["count"]
        for r in job.trace_df().groupBy("round", "host").count().collect()
    }
    hot = [v for (rnd, h), v in per.items() if h == "example-news.test"]
    cold = [v for (rnd, h), v in per.items() if h != "example-news.test"]
    assert hot and max(hot) <= 10  # floor(10 s / 1.0 s)
    assert max(cold, default=0) <= BUDGET  # hosts without rules: default cap


@pytest.mark.spark
def test_robots_gating(spark, tables, tmp_path_factory):
    pages, cdx, _ = tables
    # forbid the hot host's /sport prefix
    robots = spark.createDataFrame(
        [("example-news.test", ["/sport"], 0.2)],
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    d = str(tmp_path_factory.mktemp("crawl_robots"))
    job = CrawlJob(spark, d, budget_per_host=BUDGET)
    job.seed_from_cdx(cdx, crawl_order=CRAWLS)
    job.run(pages, robots=robots)
    fetched = job.trace_df().filter(
        (F.col("host") == "example-news.test") & F.col("url").rlike("/sport/")
    )
    assert fetched.count() == 0
    # gated URLs remain unfetched in the frontier (never silently dropped)
    left = job.frontier.read(spark)
    assert left.filter(F.col("url").rlike("/sport/")).count() > 0


# a round's commits, in the order run_round makes them (the frontier,
# the resume authority, is last)
ROUND_COMMITS = ("articles", "failures", "trace", "metrics", "lineage",
                 "seen", "frontier")
# discovery crawl with the Bloom membership path on from round 0, one
# attempt per URL (discovered fixture links mostly point at pages the
# corpus lacks), and a budget that drains the fixture in a few rounds
CRASH_JOB = dict(budget_per_host=200, bloom_threshold=0, max_retries=0)


class _Crash(Exception):
    pass


def _discovery_state(job):
    spark = job.spark
    return {
        "articles": {tuple(r) for r in
                     job.articles_df().select("url", "text").collect()},
        "failures": {tuple(r) for r in
                     job.failures.read(spark).collect()},
        "trace": {tuple(r) for r in job.trace_df().collect()},
        "seen": {tuple(r) for r in job.seen_df().collect()},
        "frontier": {tuple(r) for r in job.frontier.read(spark).collect()},
    }


@pytest.fixture(scope="module")
def discovery_ref(spark, tables, tmp_path_factory):
    pages, cdx, _ = tables
    job = CrawlJob(spark, str(tmp_path_factory.mktemp("crawl_disc_ref")),
                   **CRASH_JOB)
    job.seed_from_cdx(cdx, crawl_order=CRAWLS)
    rounds = job.run(pages, discover_links=True)
    assert len(rounds) >= 3 and sum(r["discovered"] for r in rounds) > 0
    state = _discovery_state(job)
    job.release()
    return state


@pytest.mark.spark
@pytest.mark.parametrize("landed", ROUND_COMMITS[:-1])
def test_mid_round_crash_between_commits_replays_idempotently(
        spark, tables, discovery_ref, tmp_path_factory, monkeypatch, landed):
    """_append_once's replay-skip path, exercised at every crash point it
    exists for: the process dies right AFTER the ``landed`` commit of a
    round and BEFORE the next one, so the frontier (the resume
    authority, committed last) never moves. The resumed job must replay
    the round, re-commit exactly the missing tables (skipping the
    committed ones) and converge to the uninterrupted run's state. The
    crawl follows links through the Bloom seen state, whose new
    generation each round is read back from the seen commit's own
    files — so a crash on either side of that commit must not leave a
    key out of the rebuilt state."""
    pages, cdx, _ = tables
    d = str(tmp_path_factory.mktemp(f"crawl_crash_{landed}"))
    job1 = CrawlJob(spark, d, **CRASH_JOB)
    job1.seed_from_cdx(cdx, crawl_order=CRAWLS)
    job1.run_round(pages, discover_links=True)  # round 0 commits all
    assert job1._bloom is not None  # the Bloom path is on

    # round 1 dies after the `landed` commit
    n_landed = ROUND_COMMITS.index(landed) + 1
    done = []
    commit = SnapshotTable._commit

    def crashing_commit(self, *args, **kwargs):
        if len(done) == n_landed:
            raise _Crash(os.path.basename(self.root))
        done.append(os.path.basename(self.root))
        return commit(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "_commit", crashing_commit)
    with pytest.raises(_Crash):
        job1.run_round(pages, discover_links=True)
    monkeypatch.undo()
    assert tuple(done) == ROUND_COMMITS[:n_landed]

    job2 = CrawlJob(spark, d, **CRASH_JOB)  # fresh process
    assert job2.next_round() == 1  # the frontier never moved
    job2.run(pages, discover_links=True)

    got = _discovery_state(job2)
    for name, want in discovery_ref.items():
        assert got[name] == want, f"{name} diverged after crash replay"
    # the replay did NOT double-commit the already-landed tables: one
    # round-1 commit each
    for name in ROUND_COMMITS:
        t = SnapshotTable(os.path.join(d, name))
        meta = [s["metadata"] for s in t.snapshots()]
        if name == "frontier":  # its metadata carries the NEXT round
            assert sum(m.get("round") == 2 for m in meta) == 1, name
        else:
            assert sum(m.get("round") == 1 for m in meta) == 1, name


# Spark jobs a round may launch under its caller's job group: the most
# measured on this fixture (8 shuffle partitions) over six three-round
# crawls, 33-38 per round (AQE varies a round's count by a few jobs). A
# slim outcome cut counted in one aggregate, commits planned over the
# round's cuts, an O(delta) Bloom add, counts and the frontier's max
# crawl_rank from manifests, table schemas from manifests (no
# schema-inference job per read)
ROUND_JOB_BUDGET = 38


@pytest.mark.spark
def test_round_job_budget_and_job_group_hygiene(spark, tables,
                                                tmp_path_factory,
                                                monkeypatch):
    """Each round of a link-following crawl through the Bloom seen state
    stays within its job budget, counted the way a caller counts it (by
    the job group it set); the round leaves that job group as it found
    it; and no frame the round pins — cached or cut — holds page
    html."""
    pages, cdx, _ = tables
    sc = spark.sparkContext
    job = CrawlJob(spark, str(tmp_path_factory.mktemp("crawl_jobs")),
                   budget_per_host=BUDGET, bloom_threshold=10)
    job.seed_from_cdx(cdx, crawl_order=CRAWLS)

    cached = []
    frame_cls = type(pages)  # the session's concrete DataFrame class

    def recording(name):
        pin = getattr(frame_cls, name)

        def record(self, *args, **kwargs):
            cached.append(self.columns)
            return pin(self, *args, **kwargs)
        return record

    # persist, and the two cuts materialize() makes
    for name in ("persist", "localCheckpoint", "checkpoint"):
        monkeypatch.setattr(frame_cls, name, recording(name))
    jobs = []
    try:
        for r in range(3):
            group = f"caller-round-{r}"
            sc.setJobGroup(group, "a caller's round")
            assert job.run_round(pages, discover_links=True)
            assert sc.getLocalProperty("spark.jobGroup.id") == group
            assert sc.getLocalProperty("spark.job.description") == \
                "a caller's round"
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert job._bloom is not None  # rounds 1-2 add to the Bloom state
    assert cached and not [c for c in cached if "html" in c], cached
    assert max(jobs) <= ROUND_JOB_BUDGET, jobs


class _TickingTransport:
    """The lookup-join transport, adding 1 to ``acc`` for every fetched
    row each time a job computes it."""

    def __init__(self, pages, acc):
        self.inner, self.acc = LookupJoinTransport(pages), acc

    def fetch(self, batch, n_rows_hint=None):
        acc = self.acc

        def tick(err):
            acc.add(1)
            return err

        fetched = self.inner.fetch(batch, n_rows_hint)
        return fetched.withColumn("_fetch_error", F.udf(
            tick, "string").asNondeterministic()("_fetch_error"))


def _pinned_rdds(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keySet())


@pytest.mark.spark
def test_release_frees_the_seen_state(spark, tables, tmp_path):
    """A finished job frees its cross-round seen state with release():
    three link-following crawls through the Bloom state, each released,
    leave no RDD pinned that was not pinned before the crawls (earlier
    tests' frames may be collected meanwhile)."""
    pages, cdx, _ = tables
    sc = spark.sparkContext
    pages.count(), cdx.count()  # the module's cached inputs, pinned once
    before = _pinned_rdds(sc)
    for i in range(3):
        job = CrawlJob(spark, str(tmp_path / f"ck{i}"), **CRASH_JOB)
        job.seed_from_cdx(cdx, crawl_order=CRAWLS)
        assert len(job.run(pages, max_rounds=2, discover_links=True)) == 2
        assert job._bloom is not None
        job.release()
        assert job._bloom is None
        assert _pinned_rdds(sc) - before == set(), i


@pytest.mark.spark
def test_frontier_without_not_before_round_resumes(spark, tables, tmp_path):
    """A frontier snapshot written before retry backoff lacks
    not_before_round; a round over it reads the column as 0 and
    schedules, fetches and requeues exactly like a round over the
    current schema."""
    pages, cdx, _ = tables
    states = []
    for legacy in (False, True):
        job = CrawlJob(spark, str(tmp_path / f"ck{int(legacy)}"),
                       budget_per_host=BUDGET)
        job.seed_from_cdx(cdx, crawl_order=CRAWLS)
        if legacy:
            old = job.frontier.read(spark).drop("not_before_round")
            job.frontier.overwrite(old, {"round": job.next_round()})
            assert "not_before_round" not in job.frontier.read(spark).columns
        assert job.run_round(pages)["selected"] > 0
        states.append([{tuple(r) for r in df.collect()} for df in
                       (job.trace_df(), job.frontier.read(spark))])
    assert states[0] == states[1]


@pytest.mark.spark
@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_round_computes_outcome_once_and_releases_its_cuts(
        spark, tables, tmp_path, request, mode):
    """A round cuts its multi-consumer frames instead of caching them:
    each batch row is fetched and extracted exactly once, and the round
    leaves no RDD pinned — also with a checkpoint dir set, where each cut
    persists its source before checkpointing it."""
    if mode == "reliable":
        request.getfixturevalue("ckpt_dir")
    pages, cdx, _ = tables
    sc = spark.sparkContext
    acc = sc.accumulator(0)
    job = CrawlJob(spark, str(tmp_path / "ck"), budget_per_host=BUDGET,
                   transport=_TickingTransport(pages, acc))
    job.seed_from_cdx(cdx, crawl_order=CRAWLS)
    before = _pinned_rdds(sc)
    c = job.run_round(pages)
    assert acc.value == c["selected"] > 0
    assert _pinned_rdds(sc) - before == set()


@pytest.mark.spark
def test_reliable_mode_crawl_equals_local(spark, tables, discovery_ref,
                                          ckpt_dir, tmp_path):
    """With a checkpoint dir set every cut is a reliable checkpoint. The
    link-following Bloom-path crawl then commits the same articles,
    failures, trace, seen set and frontier as the local-mode reference,
    and still extracts each batch row exactly once."""
    pages, cdx, _ = tables
    acc = spark.sparkContext.accumulator(0)
    job = CrawlJob(spark, str(tmp_path / "ck"),
                   transport=_TickingTransport(pages, acc), **CRASH_JOB)
    job.seed_from_cdx(cdx, crawl_order=CRAWLS)
    rounds = job.run(pages, discover_links=True)
    assert _discovery_state(job) == discovery_ref
    assert acc.value == sum(r["selected"] for r in rounds)


@pytest.mark.spark
def test_round_commits_plan_over_cuts(spark, tables, tmp_path,
                                      monkeypatch):
    """Every commit of a round plans over the round's cuts (Scan
    ExistingRDD leaves), never over a cached deep plan
    (InMemoryTableScan); and the polite batch's two windows are planned
    once — in the batch's cut, not again in the outcome read from it.

    The outcome keeps extraction above the fetch join. As a pandas_udf
    EXPRESSION, extraction (dragged by the article.error filter) was
    pushed below the join by PushPredicateThroughJoin — evaluated twice
    and forcing the join to shuffle fat extracted rows. The MapInPandas
    barrier must keep a single extraction above the join."""
    from commoncrawl_spark.plans.explain import plan_string
    from scripts.plan_audit import cut_frames, planned_once

    pages, cdx, _ = tables
    job = CrawlJob(spark, str(tmp_path / "ck"), budget_per_host=BUDGET)
    job.seed_from_cdx(cdx, crawl_order=CRAWLS)
    commit_plans = {}
    commit = SnapshotTable._commit

    def recording_commit(self, df, operation, metadata):
        commit_plans[os.path.basename(self.root)] = plan_string(df, "simple")
        return commit(self, df, operation, metadata)

    monkeypatch.setattr(SnapshotTable, "_commit", recording_commit)
    with cut_frames() as cuts:
        assert job.run_round(pages, discover_links=True)["discovered"] > 0
    assert sorted(commit_plans) == sorted(ROUND_COMMITS)
    for name, plan in commit_plans.items():
        assert "InMemoryTableScan" not in plan, name
        assert "Scan ExistingRDD" in plan, name
    # the batch, the outcome, the discovered links: each planned as the
    # planner chose it, before AQE re-planned the executed cut
    batch, outcome, _ = (planned_once(plan_string(c, "simple"))
                         for c in cuts)
    assert batch.count("Window [") == 2
    assert outcome.count("Window [") == 0
    assert "Scan ExistingRDD" in outcome
    assert outcome.count("MapInPandas") == 1  # evaluated exactly once
    join_pos = max(outcome.find("SortMergeJoin"),
                   outcome.find("BroadcastHashJoin"),
                   outcome.find("ShuffledHashJoin"))
    # physical plans print top-down: the single MapInPandas must appear
    # ABOVE (before) the join operator in the tree
    assert -1 < outcome.find("MapInPandas") < join_pos


@pytest.mark.spark
def test_repeated_round_compiles_no_new_code(spark, tables,
                                             tmp_path_factory):
    """An identical second crawl round reuses every class the first one
    compiled: the session's codegen cache holds a round's working set.
    At Spark's 100-entry default the round evicted its own classes
    before reuse, so every round recompiled them all."""
    pages, cdx, _ = tables
    compiled = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    compiles = []
    for _ in range(2):
        job = CrawlJob(spark, str(tmp_path_factory.mktemp("recompile")),
                       budget_per_host=BUDGET)
        job.seed_from_cdx(cdx, crawl_order=CRAWLS)
        before = compiled.getCount()
        assert job.run_round(pages)
        compiles.append(compiled.getCount() - before)
    assert compiles[1] == 0, compiles
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    # the session JVM runs get_spark's driver options (a C1-only JIT),
    # and its code cache keeps 2x headroom over what this session
    # compiled: a full cache flushes and recompiles planner code
    mf = spark._jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    assert set(DRIVER_JAVA_OPTIONS.split()) <= set(args), args
    pool = next(p for p in mf.getMemoryPoolMXBeans()
                if p.getName() == "CodeCache")
    assert pool.getPeakUsage().getUsed() < pool.getUsage().getMax() / 2


@pytest.mark.spark
def test_unlisted_crawls_rank_last_not_first(spark, tables,
                                             tmp_path_factory):
    """A crawl absent from crawl_order must sort AFTER every listed
    crawl (NULL rank would sort FIRST under Spark's ascending order,
    silently preempting the caller's explicit priority)."""
    pages, cdx, _ = tables
    d = str(tmp_path_factory.mktemp("crawl_rank"))
    job = CrawlJob(spark, d, budget_per_host=BUDGET)
    # list only the SECOND crawl: its rows rank 0; every other crawl's
    # rows get rank len(order)=1 — never NULL (the frontier drops the
    # crawl column, so assert on the rank distribution)
    job.seed_from_cdx(cdx, crawl_order=[CRAWLS[1]])
    fr = job._read_frontier()
    assert fr.filter(F.col("crawl_rank").isNull()).count() == 0
    ranks = {r["crawl_rank"] for r in
             fr.select("crawl_rank").distinct().collect()}
    assert ranks == {0, 1}
    # the listed crawl is the minority of the fixture's captures
    assert fr.filter(F.col("crawl_rank") == 1).count() > 0


def _window_crawl_ranks(best):
    """crawl -> dense rank of the crawl name over the deduped captures,
    NULL first: the ranking seed_from_cdx's default order must give."""
    from pyspark.sql import Window

    w = Window.orderBy("crawl")
    return {r["crawl"]: r["rank"] for r in
            best.select("crawl").distinct()
            .withColumn("rank", F.dense_rank().over(w) - 1).collect()}


@pytest.mark.spark
@pytest.mark.parametrize("with_null_crawl", [False, True])
def test_default_crawl_order_ranks_like_a_window(spark, tables,
                                                tmp_path_factory,
                                                with_null_crawl):
    """crawl_order=None ranks the distinct crawls lexicographically,
    NULL first — the same crawl_rank per row as a dense-rank window over
    them — now ranked on the driver instead of in a partition-less
    window."""
    from commoncrawl_spark.operators.dedup import best_capture_per_url
    from commoncrawl_spark.operators.seen_set import with_url_key

    _, cdx, _ = tables
    if with_null_crawl:
        # a few 200 captures of URLs of their own with no crawl id
        cdx = cdx.unionByName(
            cdx.filter((F.col("status") == "200")
                       & (F.crc32("url") % 20 == 0))
            .withColumn("url", F.concat(F.lit("https://null-crawl.test/"),
                                        F.sha1("url")))
            .withColumn("crawl", F.lit(None).cast("string")))
    best = best_capture_per_url(cdx).filter(F.col("status") == "200")
    ranks = _window_crawl_ranks(best)
    assert (None in ranks) == with_null_crawl and len(ranks) > 1
    want = {r["url_sha1"]: ranks[r["crawl"]]
            for r in with_url_key(best).collect()}

    job = CrawlJob(spark, str(tmp_path_factory.mktemp("crawl_rank_default")),
                   budget_per_host=BUDGET)
    assert job.seed_from_cdx(cdx) == len(want)
    got = {r["url_sha1"]: r["crawl_rank"]
           for r in job.frontier.read(spark).collect()}
    assert got == want


@pytest.mark.spark
def test_evict_validates_before_mutating_seen(spark, tables, full_run,
                                              tmp_path_factory):
    """requeue=True with a url-less frame must raise BEFORE the seen
    table is touched — raising after would strand the keys: evicted
    from seen yet never requeued."""
    pages, cdx, _ = tables
    d = str(tmp_path_factory.mktemp("crawl_evict_guard"))
    job = CrawlJob(spark, d, budget_per_host=BUDGET)
    job.seed_from_cdx(cdx, crawl_order=CRAWLS)
    job.run(pages, max_rounds=1)
    before = {r["url_sha1"] for r in job.seen_df().collect()}
    assert before
    keyed = job.seen_df().select("url_sha1").limit(5)
    with pytest.raises(ValueError, match="url column"):
        job.evict_for_recrawl(keyed, requeue=True)
    after = {r["url_sha1"] for r in job.seen_df().collect()}
    assert after == before  # nothing was evicted


# ---------------------------------------------------------------------------
# feed-driven seeding
# ---------------------------------------------------------------------------

@pytest.mark.spark
def test_seed_from_feeds_freshness_dedup_and_merge(spark, tmp_path):
    from commoncrawl_spark.plans.frontier import CrawlJob

    rss = ('<rss><channel>'
           '<item><title>new</title><link>https://n.test/fresh</link>'
           '<pubDate>Tue, 7 Sep 2021 10:00:00 GMT</pubDate></item>'
           '<item><title>old</title><link>https://n.test/stale</link>'
           '<pubDate>Mon, 1 Jan 2001 00:00:00 GMT</pubDate></item>'
           '<item><title>nodate</title><link>https://n.test/nodate</link>'
           '</item></channel></rss>')
    # a second feed re-announces /fresh with an older date: the
    # first-priority-wins merge must keep the fresher copy
    rss2 = ('<rss><channel>'
            '<item><title>dup</title><link>https://n.test/fresh</link>'
            '<pubDate>Sat, 1 Jan 2011 00:00:00 GMT</pubDate></item>'
            '</channel></rss>')
    feeds = spark.createDataFrame(
        [("https://n.test/feed1", rss), ("https://n.test/feed2", rss2)],
        "feed_url string, xml string")

    job = CrawlJob(spark, str(tmp_path / "ckpt"), budget_per_host=10)
    n = job.seed_from_feeds(feeds)
    rows = {r["url"]: r for r in job.frontier.read(spark).collect()}
    assert n == 3 and set(rows) == {"https://n.test/fresh",
                                    "https://n.test/stale",
                                    "https://n.test/nodate"}
    # freshness ordering: fresher entries carry a smaller page value
    assert (rows["https://n.test/fresh"]["page"]
            < rows["https://n.test/stale"]["page"]
            < rows["https://n.test/nodate"]["page"])
    assert rows["https://n.test/nodate"]["page"] == 99999
    # the duplicate announcement lost: 2021's staleness, not 2011's
    import datetime
    want = (datetime.date(2100, 1, 1) - datetime.date(2021, 9, 7)).days
    assert rows["https://n.test/fresh"]["page"] == want

    # re-seeding from the same feeds after marking /fresh seen: the
    # seen filter drops it, the merge keeps the untouched rows
    seen = spark.createDataFrame(
        [("https://n.test/fresh",)], "url string")
    from commoncrawl_spark.operators.seen_set import with_url_key
    job.seen.overwrite(
        with_url_key(seen).select("url_sha1"), {"round": 0})
    n2 = job.seed_from_feeds(feeds)
    assert n2 == 3  # merged frontier still holds the earlier fresh row
    # but a FRESH checkpoint seeded after seen would exclude it
    job2 = CrawlJob(spark, str(tmp_path / "ckpt2"), budget_per_host=10)
    job2.seen.overwrite(
        with_url_key(seen).select("url_sha1"), {"round": 0})
    assert job2.seed_from_feeds(feeds) == 2
