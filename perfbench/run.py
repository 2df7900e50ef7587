"""Crawl-round benchmark: seeded workloads, checked outputs, one command.

    python3 perfbench/run.py --workload fat_single_round --seed 1 \\
        --seconds 1 --trace 0

Run from the repository root. One ``local[nproc]`` session per run drives
a closed loop with one client: a single :class:`CrawlJob` whose next round
is issued only after the previous one has committed. Each timed crawl
seeds a fresh checkpoint directory from the generated CDX table, runs
rounds until the frontier drains (restarting the job partway through, as
after a crash) and then checks the committed tables against the gold
values of the generator. Crawls repeat until ``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a
layer-by-layer replay of one round, a traced crawl and an untraced one,
and prints the per-layer metrics (see ``layers.py``). The last line of
stdout is one JSON object: ``correct``, ``attempted`` (crawls),
``failed`` (crawls that raised or failed the check) and ``metrics``.
The exit code is non-zero when any check failed.

All files go to ``perfbench/_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import corpus as gen  # noqa: E402
from check import Outputs, check, crawl_oracle, mutation_check  # noqa: E402

# Crawl costs are CPU seconds of the whole process tree (driver, JVM,
# Python workers). A crawl keeps about three of four cores busy, so its
# wall time moves with whatever else runs on a shared host: on a shared
# 4-vCPU Xeon VM two consecutive runs of one workload differed by 27% in
# wall time and 2% in CPU time. The traced run reports wall times
# (layers.py).
E2E_UNITS = {
    "setup_s": "s",
    "round_cpu_s_p50": "s",
    "crawl_cpu_s": "s",
    "urls_per_cpu_s": "1/s",
    "resume_cpu_s": "s",
    "jobs_per_round": "count",
}
WARMUP_SCALE = 0.1
WARMUP_ROUNDS = 1


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _r(xs):
    return [round(x, 2) for x in xs]


def tree_pids() -> list[int]:
    """This process and all its descendants (the JVM and its Python
    workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children
    included."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                total += sum(int(x) for x in
                             fh.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled every 100 ms from /proc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._done = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def _tree_kb(self) -> int:
        total = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page_kb
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._done.wait(0.1):
            self.peak_kb = max(self.peak_kb, self._tree_kb())

    def stop(self) -> float:
        self._done.set()
        self.join(timeout=5)
        return self.peak_kb / 1024


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def start_session(work: str, event_log: bool):
    """The engine's session (``get_spark``) on every core, with all
    scratch space under ``work``."""
    from commoncrawl_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the session, then the JVM (and with it the Python workers),
    and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Inputs:
    """One generated corpus, written to parquet and read back as the
    engine-visible DataFrames."""

    def __init__(self, spark, corpus: gen.Corpus, root: str):
        self.corpus = corpus
        paths = gen.write_tables(corpus, root)
        read = spark.read.parquet
        self.cdx = read(paths["cdx"])
        self.pages = read(paths["pages"])
        self.robots = read(paths["robots"])
        self.seen = read(paths["seen"]) if "seen" in paths else None
        self.discover = bool(corpus.links)


class Crawl:
    """Timings of one seeded crawl, driven to drain."""

    def __init__(self):
        self.seed_s = 0.0
        self.crawl_s = 0.0
        self.crawl_cpu_s = 0.0
        self.resume_cpu_s = 0.0
        self.round_cpu: list[float] = []
        self.resume_s = 0.0
        self.rounds: list[float] = []
        self.jobs: list[int] = []
        self.articles = 0
        self.errors: list[str] = []


def crawl(spark, inputs: Inputs, ckpt: str, tag: str, oracle=None,
          max_rounds: int | None = None) -> Crawl:
    """Seed, run rounds to drain (rebuilding the job from its directory
    after the corpus's ``restart_after`` rounds) and check the committed
    outputs, and that the check catches a corrupted copy of them. With
    ``max_rounds`` the crawl stops early and is not checked.

    Every round runs under its own job group so its Spark jobs can be
    counted from the status tracker."""
    from commoncrawl_spark.plans.frontier import CrawlJob

    sc = spark.sparkContext
    corpus = inputs.corpus

    def new_job():
        return CrawlJob(spark, ckpt, **corpus.job_args)

    res = Crawl()
    job = new_job()
    if inputs.seen is not None:
        job.seen.overwrite(inputs.seen, {"round": -1})
    t0, cpu0 = time.perf_counter(), tree_cpu_s()
    job.seed_from_cdx(inputs.cdx, crawl_order=corpus.crawl_order)
    res.seed_s = time.perf_counter() - t0
    while max_rounds is None or len(res.rounds) < max_rounds:
        restarted = len(res.rounds) == corpus.restart_after
        if restarted:
            job = new_job()
        group = f"{tag}-r{len(res.rounds)}"
        sc.setJobGroup(group, group)
        t, c0 = time.perf_counter(), tree_cpu_s()
        counters = job.run_round(inputs.pages, inputs.robots,
                                 discover_links=inputs.discover)
        dt = time.perf_counter() - t
        if not counters:
            break
        res.rounds.append(dt)
        res.round_cpu.append(tree_cpu_s() - c0)
        res.jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        if restarted:
            res.resume_s = dt
            res.resume_cpu_s = res.round_cpu[-1]
    res.crawl_s = time.perf_counter() - t0
    res.crawl_cpu_s = tree_cpu_s() - cpu0
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    if max_rounds is not None:
        return res
    out = Outputs.collect(job)
    res.articles = len(out.articles)
    res.errors = check(corpus, out, oracle) + mutation_check(corpus, out,
                                                             oracle)
    return res


def timed_crawls(spark, inputs, work, seconds, tag, oracle):
    """Crawl repeatedly until ``seconds`` have passed (at least once)."""
    crawls, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < t_end:
        ckpt = os.path.join(work, f"{tag}{attempted}")
        attempted += 1
        try:
            c = crawl(spark, inputs, ckpt, f"{tag}{attempted}", oracle)
        except Exception:  # noqa: BLE001 - a raising crawl is a failed one
            traceback.print_exc()
            failed += 1
            continue
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
            spark.catalog.clearCache()
        if c.errors:
            failed += 1
            log(f"check failed: {c.errors}")
        crawls.append(c)
    return crawls, attempted, failed


def e2e_metrics(setup_s: float, crawls: list[Crawl]) -> dict:
    rounds = [r for c in crawls for r in c.round_cpu]
    jobs = [j for c in crawls for j in c.jobs]
    values = {
        "setup_s": setup_s,
        "round_cpu_s_p50": statistics.median(rounds),
        "crawl_cpu_s": statistics.median(c.crawl_cpu_s for c in crawls),
        "urls_per_cpu_s": statistics.median(c.articles / c.crawl_cpu_s
                                            for c in crawls),
        "resume_cpu_s": statistics.median(c.resume_cpu_s for c in crawls),
        "jobs_per_round": sum(jobs) / len(jobs),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def run(args, work: str) -> dict:
    make = gen.WORKLOADS[args.workload]
    # memory is a per-layer metric: sample it in traced runs only, so the
    # sampler's /proc scans never compete with a timed crawl
    rss = RssSampler() if args.trace else None
    if rss:
        rss.start()
    steal0 = steal_jiffies()
    t0 = time.perf_counter()
    spark = start_session(work, event_log=bool(args.trace))
    log(f"session {time.perf_counter() - t0:.2f}s")
    try:
        t = time.perf_counter()
        corpus = make(args.seed, args.scale)
        inputs = Inputs(spark, corpus, os.path.join(work, "input"))
        oracle = None if corpus.links else crawl_oracle(corpus)
        log(f"inputs {time.perf_counter() - t:.2f}s sizes={corpus.sizes()}")
        # warm the JVM and the Python workers on a small throwaway crawl
        warm = Inputs(spark, make(args.seed + 1_000_003,
                                  args.scale * WARMUP_SCALE),
                      os.path.join(work, "warm-input"))
        w = crawl(spark, warm, os.path.join(work, "warm"), "warm",
                  max_rounds=WARMUP_ROUNDS)
        spark.catalog.clearCache()
        setup_s = time.perf_counter() - t0
        log(f"warm crawl {w.crawl_s:.2f}s rounds {_r(w.rounds)}")
        log(f"setup {setup_s:.2f}s")

        if args.trace:
            import layers

            traced, attempted, failed = layers.traced_run(
                spark, inputs, work, oracle, crawl)
        else:
            crawls, attempted, failed = timed_crawls(
                spark, inputs, work, args.seconds, "t", oracle)
    finally:
        stop_session(spark)
        peak_mb = rss.stop() if rss else None
    steal1 = steal_jiffies()
    log(f"host CPU steal {(steal1[0] - steal0[0]) / (steal1[1] - steal0[1]):.1%}"
        " over the run")
    if args.trace:
        # the event log is complete only once the session has stopped
        metrics = traced.metrics(os.path.join(work, "events"))
        metrics["failed_frac"] = {"value": failed / attempted, "unit": "frac"}
        metrics["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
        log(f"in-round call sites: {traced.in_round_callsites}")
        log("spans " + json.dumps(traced.tracer.spans))
    else:
        for c in crawls:
            log(f"crawl {c.crawl_s:.2f}s seed {c.seed_s:.2f}s rounds "
                f"{_r(c.rounds)} jobs {c.jobs} cpu {c.crawl_cpu_s:.2f}s "
                f"round cpu {_r(c.round_cpu)}")
        metrics = e2e_metrics(setup_s, crawls) if crawls else {}
    return {"correct": failed == 0 and bool(metrics), "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="corpus size factor (smoke runs use < 1)")
    args = p.parse_args(argv)

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # library chatter goes to stderr; stdout carries only the result line
    real_stdout, sys.stdout = sys.stdout, sys.stderr
    try:
        result = run(args, work)
    finally:
        sys.stdout = real_stdout
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
