"""The crawl plan: frontier round loop with politeness, retries, resume.

This is the engine's replacement for the reference's stage scripts and
their retry loops (ST3: download_and_merge.py:118-182 — failed tasks
become the next round's input, until drained) and append-only checkpoint
logs (ST4: download_and_merge.py:167-171, download_warc_segments.py:73-81).

One **round** =
    frontier ──robots gate──▶ polite batch (per-host budget, salted)
            ──fetch (lookup join vs pages) + extract (Arrow UDF)──▶
    outcome: one slim row per batch row (batch columns, _fetch_error,
             article struct, hrefs when discovering; never html),
             cut, counted in ONE aggregate (the round's counters)
            ──commit, each derived from outcome:
              articles / failures / trace / metrics / lineage
              / seen ──▶ seen-state add (delta read back from the commit)
              / frontier (+ discovered links, probed against the seen set)

The round's multi-consumer frames — the polite batch, the outcome and
the discovered links — are lineage CUTS (``materialize``), not cached
frames: each is computed once, and every later commit and anti-join
plans over a ``Scan ExistingRDD`` leaf instead of re-planning (and
re-scanning) a cached deep plan. The round releases its cuts when it
ends. Row counts and the frontier's max ``crawl_rank`` come from the
snapshot manifests (recorded from the Parquet footers at commit), not
Spark jobs.

State lives in snapshot tables (tables.SnapshotTable — Iceberg-style
atomic commits), so a crash at any point resumes from the last committed
frontier snapshot; per-table round metadata makes round replay
exactly-once (a table that already committed round R skips its append —
all round outputs are deterministic functions of the round-R frontier).

Scale notes (10^10 URLs, 1000 executors):
- the fetch is an injectable Transport (sources.transport): the default
  lookup join broadcasts the *batch* (hosts x budget rows) only while it
  is provably small (``broadcast_batch_limit``); a web-shaped batch joins
  un-hinted so AQE + a bucketed pages layout keep the 100 TB side
  un-shuffled either way;
- the politeness window is salted (operators.schedule) so a single-host
  corpus — the reference's actual shape, create_tasks.py:10 — cannot
  create a straggler partition;
- the seen-set anti-join uses the partitioned-Bloom prefilter above
  ``bloom_threshold`` keys (operators.seen_set);
- transient failures re-enter the frontier with exponential backoff
  (``not_before_round``), the reference's 2*2^attempt retry pacing
  (download_warc_segments.py:66-70) at round granularity.
"""

from __future__ import annotations

import os
import time
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..materialize import materialize, release
from ..operators.dedup import best_capture_per_url, dedup_first_seen
from ..operators.extraction import extract_articles, split_articles
from ..operators.schedule import apply_robots, select_polite_batch, with_host
from ..operators.seen_set import (
    SEEN_SCHEMA,
    anti_join_seen,
    with_url_key,
)
from ..tables import SnapshotTable

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_sha1", T.StringType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("crawl_rank", T.IntegerType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("line_no", T.IntegerType()),
        T.StructField("attempt", T.IntegerType()),
        # earliest round this row may be scheduled (retry backoff, ST3);
        # 0 for seeded/discovered rows
        T.StructField("not_before_round", T.IntegerType()),
    ]
)

PRIORITY = ("crawl_rank", "page", "line_no")

# reference retry pacing (download_warc_segments.py:66-70): a row failing
# on attempt a becomes eligible again after min(2 * 2^a, cap) rounds
# (1 round ~ 1 s of the reference's per-request sleep); the cap is
# download_and_merge.py:179's 300 s ceiling
BACKOFF_CAP_ROUNDS = 300


def _frontier_rows(df: DataFrame, crawl_rank: Column | int,
                  page: Column | int = 0, line_no: Column | int = 0
                  ) -> DataFrame:
    """``df`` (url, url_sha1, host) projected onto FRONTIER_SCHEMA's
    columns: the given priority triple cast to int, a fresh row
    (``attempt`` 0) eligible from round 0."""
    def as_int(v: Column | int) -> Column:
        return (v if isinstance(v, Column) else F.lit(v)).cast("int")

    return df.select(
        "url", "url_sha1", "host",
        as_int(crawl_rank).alias("crawl_rank"),
        as_int(page).alias("page"),
        as_int(line_no).alias("line_no"),
        F.lit(0).alias("attempt"),
        F.lit(0).alias("not_before_round"),
    )


def _outcome(fetched: DataFrame, batch_cols: Sequence[str],
             discover_links: bool) -> DataFrame:
    """The round's outcome from the transport's output: one row per
    batch row with the batch columns, ``_fetch_error``, the extracted
    ``article`` (null when the fetch failed) and, when discovering, the
    page's ``hrefs`` — taken from the html in the same pass, since the
    html is dropped by the extraction."""
    from ..operators.links import page_hrefs

    cols = [*batch_cols, "_fetch_error", "html"]
    if discover_links:
        cols.append(page_hrefs(F.col("html")).alias("hrefs"))
    extracted = extract_articles(fetched.select(*cols))
    return extracted.withColumn(
        "article",
        F.when(F.col("_fetch_error").isNull(), F.col("article")))


class CrawlJob:
    """Checkpoint-resumable crawl over a pages table.

    All state under ``checkpoint_dir``; constructing a second CrawlJob on
    the same directory resumes exactly where the first stopped.
    """

    # fetch-join strategy cutover: batches at or under this row count are
    # broadcast (the single-host reference shape); larger batches join
    # un-hinted so AQE and the bucketed pages layout decide
    broadcast_batch_limit = 1_000_000

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        budget_per_host: int = 200,
        salt_buckets: int = 16,
        max_retries: int = 3,
        bloom_threshold: int = 2_000_000,
        round_seconds: float | None = None,
        transport=None,
        seen_state: str = "bloom",
    ):
        if seen_state not in ("bloom", "cuckoo"):
            raise ValueError(
                f"seen_state must be 'bloom' or 'cuckoo', got {seen_state!r}")
        self.spark = spark
        self.dir = checkpoint_dir
        self.budget = budget_per_host
        self.salt_buckets = salt_buckets
        self.max_retries = max_retries
        self.bloom_threshold = bloom_threshold
        # injectable fetch stage (sources.transport.Transport); None ->
        # LookupJoinTransport over the ``pages`` argument of run_round
        self.transport = transport
        # cross-round filter state (a SeenSet over the Bloom or cuckoo
        # kernel per seen_state): built lazily the first time the seen
        # table crosses bloom_threshold, then extended incrementally per
        # round (_note_seen_keys). In-memory only — a resumed job
        # rebuilds it from the seen table on first use. 'cuckoo' costs
        # ~2x the blob bytes but supports in-place DELETION, which makes
        # evict_for_recrawl cheap at 10^10 keys.
        self.seen_state = seen_state
        self._bloom = None
        # when set and robots carries crawl_delay_s, a host's per-round
        # budget becomes min(budget_per_host, floor(round_seconds / delay))
        # — the politeness rate the reference enforced with time.sleep(0.2)
        # (fetch_guardian_fulltext.py:130), generalized per host
        self.round_seconds = round_seconds
        t = lambda name, **kw: SnapshotTable(  # noqa: E731
            os.path.join(checkpoint_dir, name), **kw)
        # the manifest's crawl_rank bound places discovered and requeued
        # rows below every queued one without an aggregate job
        self.frontier = t("frontier", bounds_by=("crawl_rank",))
        self.seen = t("seen")
        self.articles = t("articles")
        self.failures = t("failures")
        self.trace = t("trace")
        self.metrics = t("metrics")
        self.lineage = t("lineage")

    # -- seeding ---------------------------------------------------------------

    def seed_from_cdx(
        self,
        cdx: DataFrame,
        crawl_order: Sequence[str] | None = None,
    ) -> int:
        """CDX records -> deduped, 200-filtered, unseen frontier (stage 1+2
        of the reference pipeline: dedup A2 then the status-200 gate F1).

        ``crawl_order`` fixes crawl_rank = position in the INDEXES list
        (create_tasks.py:12); default = lexicographic (CC-MAIN-YYYY-WW names
        sort chronologically, matching the list's order). Returns the
        frontier size.
        """
        best = best_capture_per_url(cdx)
        best = best.filter(F.col("status") == "200")
        if crawl_order is None:
            # the handful of distinct crawls is ranked on the driver
            # (dense rank, NULL first as Spark sorts ascending) — a
            # window over them would have no partition. Persisted: the
            # frontier write reuses the dedup instead of redoing it.
            best = best.persist()
            crawls = {r[0] for r in best.select("crawl").distinct().collect()}
            nulls = int(None in crawls)
            order, unlisted = sorted(crawls - {None}), 0
        else:
            # crawls ABSENT from crawl_order rank LAST (len(order)), not
            # NULL: Spark's ascending sort puts NULLs FIRST, which would
            # silently schedule unlisted crawls ahead of every crawl the
            # caller explicitly prioritized
            nulls, order, unlisted = 0, list(crawl_order), len(crawl_order)
        rank = F.lit(unlisted)
        if order:
            rank_map = F.create_map(*[
                x for i, c in enumerate(order)
                for x in (F.lit(c), F.lit(i + nulls))])
            rank = F.coalesce(rank_map[F.col("crawl")], rank)
        ranked = best.withColumn("crawl_rank", rank.cast("int"))

        frontier = _frontier_rows(
            with_host(with_url_key(ranked)), F.col("crawl_rank"),
            F.col("page"), F.col("line_no"))
        frontier = self._filter_unseen(frontier)
        self.frontier.overwrite(frontier, {"round": self.next_round()})
        best.unpersist()
        self._ensure_seen()
        return self.frontier.count(self.spark)

    def seed_from_feeds(
        self,
        feeds: DataFrame,
        ref_date: str = "2100-01-01",
        xml_col: str = "xml",
        url_col: str = "feed_url",
    ) -> int:
        """Feed-driven (re)seeding — the news-crawl entry point: poll
        results (``feed_url, xml``) become entry links, freshness maps
        into the frontier's existing priority triple (``page`` = days
        from the normalized published date to ``ref_date``, so fresher
        entries schedule first; dateless entries sink at 99999;
        ``crawl_rank`` = ``line_no`` = 0), duplicate links across
        feeds collapse first-priority-wins on the canonical key, the
        seen set filters re-announced URLs, and the survivors MERGE
        into the current frontier (unlike ``seed_from_cdx``'s
        overwrite — feeds are polled into a live crawl). Returns the
        frontier size after the merge.

        Scale shape: feed parsing rides the scan, the dedup is a
        min_by partial aggregate on the key (never a window), the
        membership check is the job's crossover-aware anti-join, and
        the merge re-dedups only on the slim key."""
        from ..operators.links import extract_feed_entries

        ent = extract_feed_entries(feeds, xml_col=xml_col,
                                   url_col=url_col)
        cand = with_host(with_url_key(
            ent.select(F.col("link").alias("url"), "published")))
        staleness = F.coalesce(
            F.datediff(F.lit(ref_date).cast("date"),
                       F.col("published").cast("date")),
            F.lit(99999)).cast("int")
        rows = self._filter_unseen(_frontier_rows(cand, 0, staleness))
        existing = self.frontier.read_or_empty(self.spark, FRONTIER_SCHEMA)
        merged = dedup_first_seen(
            existing.unionByName(rows.select(
                *[f.name for f in FRONTIER_SCHEMA.fields])),
            key_cols=["url_sha1"],
            arrival_cols=["crawl_rank", "page", "line_no", "url"],
        )
        self.frontier.overwrite(merged, {"round": self.next_round(),
                                         "seeded_from": "feeds"})
        self._ensure_seen()
        return self.frontier.count(self.spark)

    def _ensure_seen(self) -> None:
        """Create the seen table empty (round -1) if no seed made it yet."""
        if not self.seen.exists():
            self.seen.overwrite(
                self.spark.createDataFrame([], SEEN_SCHEMA), {"round": -1}
            )

    # -- seen-set membership -----------------------------------------------------

    def _filter_unseen(self, candidates: DataFrame) -> DataFrame:
        """Anti-join candidates against the seen set, choosing the side of
        the small/large crossover automatically: below ``bloom_threshold``
        keys the plain JVM anti-join wins outright (measured — BASELINE.md
        round-2 probe numbers); above it, a ``BloomSeenSet`` is built ONCE
        and kept across rounds — per-round cost is the probe plus an exact
        join on the ~1% survivors, and ``_note_seen_keys`` extends the
        blobs incrementally instead of rebuilding from 10^10 keys."""
        if self._bloom is not None:
            # steady state: never re-read the (10^10-row) seen table once
            # the cross-round Bloom state exists — _note_seen_keys keeps
            # it in sync with every commit
            return self._bloom.unseen(candidates)
        n_seen = self.seen.count(self.spark)  # from the manifest
        if n_seen > self.bloom_threshold:
            self._bloom = self._make_state(self.seen.read(self.spark))
            return self._bloom.unseen(candidates)
        if n_seen:
            return anti_join_seen(candidates, self.seen.read(self.spark))
        return candidates

    def _make_state(self, seen: DataFrame):
        from ..operators.cuckoo import CuckooSeenSet
        from ..operators.seen_set import BloomSeenSet

        return (CuckooSeenSet if self.seen_state == "cuckoo"
                else BloomSeenSet)(seen)

    def _note_seen_keys(self) -> None:
        """Keep the cross-round filter state in sync with the seen table:
        the round's keys are read back from the seen commit's own files —
        stable storage, so the state's new generation needs no lineage
        cut, and the manifest says how many keys it holds."""
        if self._bloom is not None:
            self._bloom.add(self.seen.read_added(self.spark),
                            n_new=self.seen.snapshot()["added_count"])

    def evict_for_recrawl(self, urls: DataFrame, requeue: bool = True) -> int:
        """Recrawl scheduling: make previously-fetched URLs fetchable again.

        ``urls`` needs a ``url`` column (``url_sha1`` is derived if absent;
        a pre-keyed frame is used as-is). Three coordinated updates:

        * the persistent seen table loses the keys — via a NEW snapshot,
          so the pre-eviction membership stays time-travelable;
        * the cross-round filter state follows in place: in-place
          fingerprint deletion when ``seen_state='cuckoo'`` (delta-sized
          work — the reason the cuckoo kernel exists); the Bloom state,
          which cannot delete, rebuilds the touched buckets from its
          remaining key history;
        * with ``requeue=True``, the URLs re-enter the frontier BELOW
          every queued row (crawl_rank = max + 1, url_sha1 tie-break —
          the same deterministic placement as discovered links), so a
          recrawl never starves fresh seeds and replays stay ordered.

        Only keys actually in the seen set count; returns how many were
        evicted. Reference analog: deleting output files so the resume
        scan re-queues them (download_warc_segments.py:163-171 existence
        check) — here a metadata operation instead of filesystem surgery.
        """
        keyed = urls if "url_sha1" in urls.columns else with_url_key(urls)
        cols = ["url_sha1"] + (["url"] if "url" in keyed.columns else [])
        if requeue and "url" not in keyed.columns:
            # validate BEFORE mutating: raising after the seen-table
            # overwrite would leave the keys evicted but never requeued
            # — gone from seen AND from the frontier
            raise ValueError("requeue=True needs a url column")
        seen_df = self.seen.read_or_empty(self.spark, SEEN_SCHEMA)
        evict = (
            keyed.select(*cols).dropDuplicates(["url_sha1"])
            .join(seen_df, "url_sha1", "left_semi").persist()
        )
        n = evict.count()
        if n == 0:
            evict.unpersist()
            return 0
        # keep the snapshot's round marker: _append_once replay detection
        # compares it against the NEXT round's number, which must not match
        snap = self.seen.snapshot()
        prev_round = snap["metadata"].get("round", -1) if snap else -1
        self.seen.overwrite(
            seen_df.join(evict.select("url_sha1"), "url_sha1", "left_anti"),
            {"round": prev_round, "evicted": n},
        )
        if self._bloom is not None:
            self._bloom.remove(evict.select("url_sha1"))
        if requeue:
            rnd = self.next_round()
            frontier = self._read_frontier()
            rows = _frontier_rows(
                with_host(evict), self._next_rank(),
            ).join(frontier.select("url_sha1"), "url_sha1", "left_anti")
            self.frontier.overwrite(
                frontier.unionByName(rows), {"round": rnd, "recrawl": n})
        evict.unpersist()
        return n

    def evict_stale(
        self,
        captures: DataFrame,
        as_of,
        threshold: float = 0.5,
        default_rate_per_day: float = 0.1,
        requeue: bool = True,
        key_col: str = "url",
        ts_col: str = "ts",
        digest_col: str = "digest",
        tiebreak_cols=(),
    ) -> int:
        """Freshness-driven recrawl: the Cho-Garcia-Molina policy wired
        to the eviction mechanism. From each URL's capture history
        (``captures``: key, ts, content digest per fetch), estimate the
        Poisson change rate (``capture_change_stats``), compute
        P(changed since last capture) as of ``as_of``
        (``recrawl_schedule``), and evict every URL whose ``p_changed >=
        threshold`` via :meth:`evict_for_recrawl` — hot pages re-enter
        the frontier, cold ones stay seen. Returns the evicted count.

        The ``default_rate_per_day`` governs single-capture URLs (no
        interval evidence): raise it to make never-revisited pages age
        into recrawl faster. The whole policy is one shuffle over the
        capture log (the change-stats window + agg) before the eviction
        anti-joins — no Python, safe at full capture-log scale."""
        from ..operators.temporal import (
            capture_change_stats,
            recrawl_schedule,
        )

        stats = capture_change_stats(
            captures, key_col=key_col, ts_col=ts_col,
            digest_col=digest_col, tiebreak_cols=tiebreak_cols)
        sched = recrawl_schedule(
            stats, as_of, default_rate_per_day=default_rate_per_day)
        stale = sched.filter(F.col("p_changed") >= F.lit(threshold)).select(
            F.col(key_col).alias("url"))
        return self.evict_for_recrawl(stale, requeue=requeue)

    def _read_frontier(self) -> DataFrame:
        """Read the frontier snapshot, defaulting columns added since the
        checkpoint was written (schema evolution: a pre-backoff frontier
        lacks not_before_round; resuming it must not break — the frontier
        commit is the resume authority)."""
        df = self.frontier.read(self.spark)
        if "not_before_round" not in df.columns:
            df = df.withColumn("not_before_round", F.lit(0).cast("int"))
        return df

    def _next_rank(self) -> int:
        """The crawl_rank below every row of the committed frontier:
        max + 1 (1 if empty), from its manifest."""
        return (self.frontier.column_max(self.spark, "crawl_rank") or 0) + 1

    # -- round bookkeeping -------------------------------------------------------

    def next_round(self) -> int:
        snap = self.frontier.snapshot()
        return 0 if snap is None else int(snap["metadata"].get("round", 0))

    def _append_once(self, table: SnapshotTable, df: DataFrame, rnd: int) -> bool:
        """Exactly-once per round: skip if this table already committed rnd
        (crash-between-commits replay safety; outputs are deterministic).
        Returns whether an append actually happened (False = replay skip)."""
        snap = table.snapshot()
        if snap is not None and snap["metadata"].get("round") == rnd:
            return False
        table.append(df, {"round": rnd})
        return True

    # -- the round ---------------------------------------------------------------

    def run_round(
        self,
        pages: DataFrame,
        robots: DataFrame | None = None,
        discover_links: bool = False,
    ) -> dict[str, int]:
        """Execute one crawl round; returns counters. Empty frontier -> {}.

        ``discover_links=True`` turns the job into a link-FOLLOWING
        crawler: hrefs of this round's fetched pages (minus the seen set
        and the current frontier) enter the next frontier with
        deterministic priority below every seeded URL — crawl_rank =
        seeded max + 1, ordered by url_sha1 — so replaying a crashed
        round still reproduces the same schedule. Off by default: the
        reference's frontier comes entirely from the CDX index, and its
        crawl-ordering trace (SURVEY.md §3) is only comparable without
        discovered URLs."""
        rnd = self.next_round()
        n_frontier = self.frontier.count(self.spark)  # from the manifest
        if n_frontier == 0:
            return {}  # drained
        frontier = self._read_frontier()

        # retry backoff (ST3): rows still backing off are not eligible
        eligible = frontier.filter(F.col("not_before_round") <= F.lit(rnd))
        gated = apply_robots(eligible, robots) if robots is not None else eligible
        budget_col = None
        if self.round_seconds is not None and "crawl_delay_s" in gated.columns:
            gated = gated.withColumn(
                "_budget",
                F.floor(F.lit(self.round_seconds)
                        / F.greatest(F.col("crawl_delay_s"), F.lit(1e-3)))
                .cast("int"),
            )
            budget_col = "_budget"
        # url_sha1 tie-break makes the priority a TOTAL order: seeded rows
        # never tie (arrival seq is unique), but discovered rows share
        # (crawl_rank, page, line_no) and must still schedule
        # deterministically.
        # cut: a transport may read the batch more than once (the lookup
        # join's hits and misses), and each read would redo the windows
        batch = select_polite_batch(
            gated, self.budget, self.salt_buckets, PRIORITY + ("url_sha1",),
            budget_col=budget_col,
        ).drop("crawl_delay_s", "_budget").transform(materialize, eager=False)

        # fetch stage (J2/S6) through the injectable transport seam; the
        # default lookup join broadcasts the batch only under
        # broadcast_batch_limit (size-aware — see sources.transport). The
        # frontier's row count bounds the batch, so the join strategy is
        # chosen without counting it first.
        from ..sources.transport import LookupJoinTransport

        transport = self.transport or LookupJoinTransport(
            pages, self.broadcast_batch_limit)
        fetched = transport.fetch(batch, n_rows_hint=n_frontier)
        # fetch and extraction as ONE pass: the html never outlives it, so
        # the outcome cut every commit below reads is slim. One aggregate
        # over it materializes it and yields every counter.
        outcome = _outcome(fetched, batch.columns, discover_links).transform(
            materialize, eager=False)
        cuts = [batch, outcome]
        ok_fetch = F.col("_fetch_error").isNull()
        retryable = ~ok_fetch & (F.col("attempt") < self.max_retries)
        exhausted = ~ok_fetch & (F.col("attempt") >= self.max_retries)
        ok_text = F.col("article.error").isNull()
        c = outcome.agg(
            F.count(F.lit(1)).alias("selected"),
            F.count(F.when(ok_fetch, 1)).alias("fetched"),
            F.count(F.when(ok_fetch & ok_text, 1)).alias("extract_ok"),
            F.count(F.when(ok_fetch & ~ok_text, 1)).alias("extract_failed"),
            F.count(F.when(retryable, 1)).alias("retried"),
            F.count(F.when(exhausted, 1)).alias("exhausted"),
        ).first()
        counters = {"round": rnd, **{k: int(v) for k, v in c.asDict().items()}}
        n_selected = counters["selected"]
        if n_selected == 0:
            for cut in cuts:
                release(cut)
            # look only at rows still BACKING OFF (not_before > rnd): a
            # permanently-gated row (robots, zero budget) with
            # not_before_round = 0 must not mask waiting retries — min
            # over the whole frontier would return 0 and terminate the
            # crawl with retries silently abandoned
            nxt = (
                frontier.filter(F.col("not_before_round") > rnd)
                .agg(F.min("not_before_round")).first()[0]
            )
            if nxt is None:
                return {}  # drained, or only permanently-gated rows remain
            # fast-forward the round clock to the earliest eligibility —
            # metadata-only: the frontier data is byte-identical, so a
            # retag re-references the committed files instead of
            # rewriting a potentially 10^9-row table per idle round
            self.frontier.retag({"round": int(nxt)})
            return {**counters, "discovered": 0, "fast_forward_to": int(nxt)}

        # ---- commits (deterministic; _append_once makes replay idempotent) ----
        ok, extract_failed = split_articles(outcome.filter(ok_fetch))
        self._append_once(
            self.articles, ok.withColumn("round", F.lit(rnd)), rnd
        )
        perm_failures = (
            extract_failed.select("url", "reason")
            .unionByName(outcome.filter(exhausted).select(
                "url",
                F.coalesce(F.col("_fetch_error"), F.lit("fetch_failed"))
                .alias("reason"),
            ))
            .withColumn("round", F.lit(rnd))
        )
        self._append_once(self.failures, perm_failures, rnd)
        self._append_once(
            self.trace,
            outcome.select(
                F.lit(rnd).alias("round"), "host", "host_rank",
                "crawl_rank", "page", "line_no", "url",
            ),
            rnd,
        )
        per_host = (
            outcome.groupBy("host")
            .agg(
                F.count(F.lit(1)).alias("n_selected"),
                F.count(F.when(ok_fetch, 1)).alias("n_fetched"),
                F.count(F.when(~ok_fetch, 1)).alias("n_fetch_failed"),
            )
            .select(F.lit(rnd).alias("round"), "host", "n_selected",
                    "n_fetched", "n_fetch_failed")
        )
        self._append_once(self.metrics, per_host, rnd)
        # per-partition lineage: which physical partition produced how many
        # fetched rows this round, with the key range it covered (audit
        # trail for a 1000-executor run; partition ids are physical, so
        # this table is observability, not part of the deterministic state)
        per_part = (
            outcome.filter(ok_fetch)
            .groupBy(F.spark_partition_id().alias("part_id"))
            .agg(
                F.count("*").alias("n_rows"),
                F.min("url_sha1").alias("min_key"),
                F.max("url_sha1").alias("max_key"),
            )
            .select(F.lit(rnd).alias("round"), "part_id", "n_rows",
                    "min_key", "max_key")
        )
        self._append_once(self.lineage, per_part, rnd)
        # fetched and exhausted rows are done; retryable ones requeue
        done = outcome.filter(ok_fetch | exhausted)
        if self._append_once(self.seen, done.select("url_sha1").distinct(),
                             rnd):
            # extend the cross-round Bloom state only when the table
            # actually advanced
            self._note_seen_keys()
        elif self._bloom is not None:
            # replay of a round whose seen commit landed: the crash may
            # have hit BETWEEN that commit and the in-memory state
            # update, in which case the blobs lack this round's keys —
            # a false-negative window the exactness contract forbids.
            # Drop the state; the next unseen() rebuilds it from the
            # committed table (which includes the keys). Replays are
            # crash recovery, so the rebuild cost is fine.
            self.release()

        # reference pacing mapped to rounds (BACKOFF_CAP_ROUNDS), computed
        # from the PRE-increment attempt
        backoff = F.least(
            F.lit(2) * F.pow(F.lit(2.0), F.col("attempt")),
            F.lit(float(BACKOFF_CAP_ROUNDS))).cast("int")
        requeued = (
            outcome.filter(retryable)
            .withColumn("not_before_round", (F.lit(rnd) + backoff).cast("int"))
            .withColumn("attempt", F.col("attempt") + 1)
            .select(*[f.name for f in FRONTIER_SCHEMA.fields])
        )
        hint = (
            F.broadcast if n_selected <= self.broadcast_batch_limit
            else (lambda df: df)
        )
        remaining = (
            frontier.join(hint(outcome.select("url_sha1")), "url_sha1",
                          "left_anti")
            .unionByName(requeued)
        )
        n_discovered = 0
        if discover_links:
            from ..operators.links import href_candidates

            # membership through _filter_unseen so a long discovery crawl
            # pays the Bloom probe, not a per-round exact anti-join
            # against the ever-growing seen table
            cands = (
                self._filter_unseen(href_candidates(outcome.filter(ok_fetch)))
                .join(remaining.select("url_sha1"), "url_sha1", "left_anti")
            )
            new_rows = _frontier_rows(
                with_host(cands), self._next_rank()).transform(
                    materialize, eager=False)
            cuts.append(new_rows)
            n_discovered = new_rows.count()
            remaining = remaining.unionByName(new_rows)
        counters["discovered"] = n_discovered
        # frontier commit LAST: it is the resume authority. Crash before this
        # line -> the whole round replays; _append_once skips re-commits.
        self.frontier.overwrite(remaining, {"round": rnd + 1, **{
            k: v for k, v in counters.items() if k != "round"
        }})
        for cut in cuts:
            release(cut)
        return counters

    def run(
        self,
        pages: DataFrame,
        robots: DataFrame | None = None,
        max_rounds: int | None = None,
        discover_links: bool = False,
    ) -> list[dict[str, int | float]]:
        """Drive rounds until the frontier drains (or max_rounds).

        Each round's counters gain ``wall_s``, its wall time, and
        ``jit_s``, the time the driver JVM's JIT compilers spent in it
        (the delta of its CompilationMXBean total, read without a Spark
        job); both in seconds to 3 places."""
        jit = (self.spark._jvm.java.lang.management.ManagementFactory
               .getCompilationMXBean())
        out = []
        while max_rounds is None or len(out) < max_rounds:
            t0, jit0 = time.monotonic(), jit.getTotalCompilationTime()
            c = self.run_round(pages, robots, discover_links)
            if not c:
                break
            c["wall_s"] = round(time.monotonic() - t0, 3)
            c["jit_s"] = round((jit.getTotalCompilationTime() - jit0) / 1000, 3)
            out.append(c)
        return out

    def release(self) -> None:
        """Free the job's cross-round seen state (its Bloom or cuckoo
        generations, blob table and probe cache). Call it once the job
        is done: a resumed or later job on the same directory rebuilds
        the state from the seen table on first use."""
        if self._bloom is not None:
            self._bloom.release()
            self._bloom = None

    # -- views -------------------------------------------------------------------

    def articles_df(self) -> DataFrame:
        return self.articles.read(self.spark)

    def seen_df(self) -> DataFrame:
        return self.seen.read(self.spark)

    def trace_df(self) -> DataFrame:
        return self.trace.read(self.spark)

    def metrics_df(self) -> DataFrame:
        return self.metrics.read(self.spark)
