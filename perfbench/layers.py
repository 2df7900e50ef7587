"""Per-layer trace of a crawl: spans, event-log attribution, replay.

A span is a timed interval the benchmark records around one call into a
layer. The traced run wraps, from outside the engine:

* ``CrawlJob.seed_from_cdx`` and ``CrawlJob.run_round`` (``seed``,
  ``round``);
* ``SnapshotTable.append``/``overwrite``/``retag`` (``commit.<table>``);
* ``BloomSeenSet.__init__``/``add`` (``seen.rebuild``, ``seen.add``).

Each span runs its Spark jobs under its own job group, so the session's
event log (enabled for the traced run only) attributes every job's wall
time, task CPU, GC, input, shuffle and output to the innermost span that
launched it. Jobs with a foreign group (broadcast exchanges run under
their own) fall back to the innermost span open at their submission. A
job launched by ``run_round`` outside any commit span is an in-round
action (the batch count, the counter aggregates); its call site is kept.

Inside a production round, fetch and extraction run fused into the
articles commit, so the traced run also replays one round layer by layer
(dedup, ``select_polite_batch``, ``LookupJoinTransport.fetch``,
``extract_articles``/``split_articles``, the Bloom probe), with a
materializing cut after each. Spans stay in memory until the run ends,
when the caller writes them to stderr as one JSON line.

Per-layer values are totals over one traced crawl (or the one replayed
round); ``trace.overhead_frac`` compares the traced crawl with the
untraced crawl of the same inputs that follows it in the same session.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

PER_LAYER_UNITS = {
    # wall times of the untraced crawl; on a small shared host they swing
    # too much from run to run to bound, so the end-to-end metrics are
    # the same intervals in CPU seconds
    "seed_s": "s", "crawl_s": "s", "round_s_p50": "s", "resume_s": "s",
    "urls_per_s": "1/s",
    "dedup.wall_s": "s", "dedup.rows_in": "count",
    "dedup.rows_out": "count", "dedup.shuffle_mb": "MB",
    "seen.probe_s": "s", "seen.add_s": "s", "seen.rebuild_s": "s",
    "seen.verify_frac": "frac",
    "select.wall_s": "s", "select.rows_in": "count",
    "select.rows_out": "count", "select.shuffle_mb": "MB",
    "fetch.wall_s": "s", "fetch.input_mb": "MB", "fetch.shuffle_mb": "MB",
    "fetch.miss_frac": "frac",
    "extract.wall_s": "s", "extract.task_cpu_s": "s", "extract.gc_s": "s",
    "extract.ms_per_page": "ms", "extract.ok_frac": "frac",
    **{f"commit.{t}.{m}": u
       for t in ("articles", "failures", "trace", "metrics", "lineage",
                 "seen", "frontier")
       for m, u in (("wall_s", "s"), ("jobs", "count"))},
    "commit.frontier.rows": "count",
    "round.in_round_actions_s": "s", "round.unattributed_s": "s",
    "jvm.gc_s": "s",
    "trace.overhead_frac": "frac",
    # set by the caller: the share of the run's crawls that raised or
    # failed the check, and the peak resident memory of the driver, the
    # JVM and the Python workers, which swings by the JVM's heap growth
    # too much between runs to bound as an end-to-end metric
    "failed_frac": "frac",
    "peak_rss_mb": "MB",
}
MB = 1024 * 1024


class Tracer:
    """In-memory spans; each open span owns the thread's job group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": f"perfbench-span-{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "attrs": attrs,
               "outer_group": self.sc.getLocalProperty("spark.jobGroup.id")}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            outer = rec["outer_group"]
            self.sc.setLocalProperty("spark.jobGroup.id", outer)
            self.sc.setLocalProperty("spark.job.description", outer)

    def _wrap(self, cls, method: str, name_of):
        original = getattr(cls, method)

        def traced(obj, *args, **kwargs):
            with self.span(name_of(obj)):
                return original(obj, *args, **kwargs)

        setattr(cls, method, traced)
        return lambda: setattr(cls, method, original)

    @contextlib.contextmanager
    def patched(self):
        """Wrap the engine's layer entry points in spans."""
        from commoncrawl_spark.operators.seen_set import BloomSeenSet
        from commoncrawl_spark.plans.frontier import CrawlJob
        from commoncrawl_spark.tables import SnapshotTable

        def table(t):
            return f"commit.{os.path.basename(t.root)}"

        restore = [
            self._wrap(CrawlJob, "seed_from_cdx", lambda _: "seed"),
            self._wrap(CrawlJob, "run_round", lambda _: "round"),
            self._wrap(SnapshotTable, "append", table),
            self._wrap(SnapshotTable, "overwrite", table),
            self._wrap(SnapshotTable, "retag", table),
            self._wrap(BloomSeenSet, "__init__", lambda _: "seen.rebuild"),
            self._wrap(BloomSeenSet, "add", lambda _: "seen.add"),
        ]
        try:
            yield self
        finally:
            for undo in restore:
                undo()


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python workers: every ``python`` process below
    the JVM, including reaped children (the daemon's ``cutime``)."""
    me = os.getpid()
    parent, comm, cpu = {}, {}, {}
    tick = os.sysconf("SC_CLK_TCK")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                head, rest = fh.read().rsplit(")", 1)
        except OSError:
            continue
        f = rest.split()
        pid = int(name)
        parent[pid], comm[pid] = int(f[1]), head.split("(", 1)[1]
        cpu[pid] = sum(int(x) for x in f[11:15]) / tick

    def below_jvm(pid):
        chain = []
        while pid in parent and pid != me:
            chain.append(pid)
            pid = parent[pid]
        # driver -> JVM -> ... : at least two hops below this process
        return pid == me and len(chain) >= 2

    return sum(c for pid, c in cpu.items()
               if comm[pid].startswith("python") and below_jvm(pid))


def jvm_gc_s(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000


class Replay:
    """Counts and extra measurements taken while the session is alive."""

    def __init__(self):
        self.counts: dict[str, float] = {}


def replay_round(spark, inputs, tracer: Tracer, ckpt: str) -> Replay:
    """One round of ``inputs``, layer by layer, each behind a
    materializing cut, under a ``replay`` span."""
    from pyspark.sql import functions as F

    from commoncrawl_spark.operators.dedup import best_capture_per_url
    from commoncrawl_spark.operators.extraction import (
        extract_articles,
        split_articles,
    )
    from commoncrawl_spark.operators.links import candidate_links
    from commoncrawl_spark.operators.schedule import (
        apply_robots,
        select_polite_batch,
    )
    from commoncrawl_spark.operators.seen_set import (
        BloomSeenSet,
        bloom_prefilter,
        with_url_key,
    )
    from commoncrawl_spark.plans.frontier import PRIORITY, CrawlJob
    from commoncrawl_spark.sources.transport import LookupJoinTransport

    rep = Replay()
    c = rep.counts
    corpus = inputs.corpus
    job = CrawlJob(spark, ckpt, **corpus.job_args)
    if inputs.seen is not None:
        job.seen.overwrite(inputs.seen, {"round": -1})
    job.seed_from_cdx(inputs.cdx, crawl_order=corpus.crawl_order)
    frames = []

    def cut(df):
        df = df.persist()
        frames.append(df)
        return df, df.count()

    with tracer.span("replay"):
        c["dedup.rows_in"] = inputs.cdx.count()
        with tracer.span("dedup"):
            _, c["dedup.rows_out"] = cut(best_capture_per_url(inputs.cdx))

        # the round's own gating and per-host budget (CrawlJob.run_round)
        gated = apply_robots(job.frontier.read(spark), inputs.robots)
        budget_col = None
        if job.round_seconds is not None:
            gated = gated.withColumn("_budget", F.floor(
                F.lit(job.round_seconds)
                / F.greatest(F.col("crawl_delay_s"), F.lit(1e-3))).cast("int"))
            budget_col = "_budget"
        gated, c["select.rows_in"] = cut(gated)
        with tracer.span("select"):
            batch, n_batch = cut(select_polite_batch(
                gated, job.budget, job.salt_buckets, PRIORITY + ("url_sha1",),
                budget_col=budget_col).drop("crawl_delay_s", "_budget"))
        c["select.rows_out"] = n_batch

        transport = LookupJoinTransport(inputs.pages, job.broadcast_batch_limit)
        with tracer.span("fetch"):
            result, n_result = cut(transport.fetch(batch, n_rows_hint=n_batch))
        n_miss = result.filter(F.col("_fetch_error").isNotNull()).count()
        c["fetch.miss_frac"] = n_miss / n_result if n_result else 0.0
        fetched = result.filter(F.col("_fetch_error").isNull()) \
            .drop("_fetch_error")

        cpu0 = python_worker_cpu_s()
        with tracer.span("extract"):
            extracted, n_pages = cut(extract_articles(fetched))
        c["extract.python_cpu_s"] = python_worker_cpu_s() - cpu0
        ok, _ = split_articles(extracted)
        c["extract.pages"] = n_pages
        c["extract.ok_frac"] = ok.count() / n_pages if n_pages else 0.0

        # the seen-set probe, where the crawl keeps Bloom state at all
        if job.seen.read(spark).count() > job.bloom_threshold:
            cands = (candidate_links(fetched) if inputs.discover
                     else with_url_key(inputs.pages.select("url")))
            cands, n_cands = cut(cands)
            bloom = BloomSeenSet(job.seen.read(spark))
            with tracer.span("seen.probe"):
                cut(bloom.unseen(cands))
            flagged = bloom_prefilter(cands, bloom.blooms, bloom.n_buckets,
                                      bloom.key)
            n_maybe = flagged.filter(F.col("_maybe_seen")).count()
            c["seen.verify_frac"] = n_maybe / n_cands if n_cands else 0.0
            bloom.release()
    for df in frames:
        df.unpersist()
    return rep


def read_event_log(events_dir: str) -> dict[int, dict]:
    """job id -> submission/completion (s), group, call site and the
    summed task metrics of its completed stages."""
    (path,) = glob.glob(os.path.join(events_dir, "*"))
    jobs, stage_job, stage_metrics = {}, {}, {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"] / 1000,
                             "end": None,
                             "group": props.get("spark.jobGroup.id"),
                             "callsite": props.get("callSite.short")}
                for sid in ev.get("Stage IDs", ()):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {}
                for a in info.get("Accumulables", ()):
                    try:
                        acc[a["Name"]] = float(a["Value"])
                    except (KeyError, TypeError, ValueError):
                        pass
                stage_metrics[info["Stage ID"]] = acc
    for job in jobs.values():
        job["metrics"] = {}
    for sid, acc in stage_metrics.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        m = jobs[jid]["metrics"]
        for name, value in acc.items():
            m[name] = m.get(name, 0.0) + value
    return jobs


def _metric(job, name: str) -> float:
    return job["metrics"].get(f"internal.metrics.{name}", 0.0)


def _union_s(intervals) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class TraceResult:
    """Everything the traced run measured; ``metrics`` reads the event
    log, which is complete only once the session has stopped."""

    def __init__(self, tracer, replay: Replay, gc_s: float,
                 overhead_frac: float, untraced):
        self.tracer = tracer
        self.replay = replay
        self.gc_s = gc_s
        self.overhead_frac = overhead_frac
        self.untraced = untraced
        self.in_round_callsites: list[str] = []

    def metrics(self, events_dir: str) -> dict:
        jobs = read_event_log(events_dir)
        spans = {s["id"]: s for s in self.tracer.spans}
        by_start = sorted(self.tracer.spans, key=lambda s: s["start"])
        owned: dict[str, list] = {sid: [] for sid in spans}
        for job in jobs.values():
            if job["end"] is None:
                continue
            sid = job["group"] if job["group"] in spans else None
            if sid is None:  # innermost span open at submission
                for s in by_start:
                    if s["start"] <= job["start"] <= s["end"]:
                        sid = s["id"]
            if sid is not None:
                owned[sid].append(job)

        def under(span, root_id):
            while span is not None:
                if span["id"] == root_id:
                    return True
                span = spans.get(span["parent"])
            return False

        def subtree_jobs(span):
            return [j for s in spans.values() if under(s, span["id"])
                    for j in owned[s["id"]]]

        def sum_metric(sel, name):
            return sum(_metric(j, name) for s in sel for j in subtree_jobs(s))

        def named(name, root=None):
            return [s for s in spans.values() if s["name"] == name
                    and (root is None or under(s, root["id"]))]

        def wall(sel):
            return sum(s["end"] - s["start"] for s in sel)

        def shuffle_mb(sel):
            return sum_metric(sel, "shuffle.write.bytesWritten") / MB

        (crawl,), (replay,) = named("crawl"), named("replay")
        rounds = named("round", crawl)
        v = dict(self.replay.counts)
        dedup, select = named("dedup", replay), named("select", replay)
        fetch, extract = named("fetch", replay), named("extract", replay)
        v.update({
            "dedup.wall_s": wall(dedup), "dedup.shuffle_mb": shuffle_mb(dedup),
            "seen.probe_s": wall(named("seen.probe", replay)),
            "seen.add_s": wall(named("seen.add", crawl)),
            "seen.rebuild_s": wall(named("seen.rebuild", crawl)),
            "select.wall_s": wall(select),
            "select.shuffle_mb": shuffle_mb(select),
            "fetch.wall_s": wall(fetch),
            "fetch.input_mb": sum_metric(fetch, "input.bytesRead") / MB,
            "fetch.shuffle_mb": shuffle_mb(fetch),
            "extract.wall_s": wall(extract),
            "extract.task_cpu_s":
                sum_metric(extract, "executorCpuTime") / 1e9
                + v.pop("extract.python_cpu_s"),
            "extract.gc_s": sum_metric(extract, "jvmGCTime") / 1000,
        })
        n_pages = v.pop("extract.pages")
        v["extract.ms_per_page"] = (
            1000 * v["extract.wall_s"] / n_pages if n_pages else 0.0)
        v.setdefault("seen.verify_frac", 0.0)
        for table in ("articles", "failures", "trace", "metrics", "lineage",
                      "seen", "frontier"):
            commits = [s for r in rounds
                       for s in named(f"commit.{table}", r)]
            v[f"commit.{table}.wall_s"] = wall(commits)
            v[f"commit.{table}.jobs"] = sum(len(subtree_jobs(s))
                                            for s in commits)
            if table == "frontier":
                v["commit.frontier.rows"] = sum_metric(
                    commits, "output.recordsWritten")
        in_round, unattributed = 0.0, 0.0
        for r in rounds:
            busy = _union_s(
                (max(j["start"], r["start"]), min(j["end"], r["end"]))
                for j in owned[r["id"]])
            children = [s for s in spans.values() if s["parent"] == r["id"]]
            in_round += busy
            unattributed += (r["end"] - r["start"]) - wall(children) - busy
        v["round.in_round_actions_s"] = in_round
        v["round.unattributed_s"] = unattributed
        v["jvm.gc_s"] = self.gc_s
        v["trace.overhead_frac"] = self.overhead_frac
        u = self.untraced
        v.update({"seed_s": u.seed_s, "crawl_s": u.crawl_s,
                  "round_s_p50": statistics.median(u.rounds),
                  "resume_s": u.resume_s,
                  "urls_per_s": u.articles / u.crawl_s})
        self.in_round_callsites = sorted(
            {j["callsite"] or "?" for r in rounds for j in owned[r["id"]]})
        return {k: {"value": float(v[k]), "unit": u}
                for k, u in PER_LAYER_UNITS.items()
                if k not in ("failed_frac", "peak_rss_mb")}


def traced_run(spark, inputs, work: str, oracle, crawl):
    """The layer-by-layer replay, a traced crawl, then an untraced crawl
    of the same inputs. The replay also warms the full-size plans, so the
    traced crawl is compared with a crawl that ran no colder than it.
    Returns (TraceResult, attempted, failed)."""
    sc = spark.sparkContext
    tracer = Tracer(sc)
    with tracer.patched():
        replay = replay_round(spark, inputs, tracer,
                              os.path.join(work, "replay"))
        gc0 = jvm_gc_s(sc)
        with tracer.span("crawl"):
            traced = crawl(spark, inputs, os.path.join(work, "traced"),
                           "tr", oracle)
        gc_s = jvm_gc_s(sc) - gc0
        spark.catalog.clearCache()
    base = crawl(spark, inputs, os.path.join(work, "untraced"), "u", oracle)
    overhead = traced.crawl_s / base.crawl_s - 1
    failed = sum(bool(c.errors) for c in (traced, base))
    return TraceResult(tracer, replay, gc_s, overhead, base), 2, failed
