"""N -> 4N scaling evidence: the same job on the same input at N=1 and
4N=4 cores, each leg a separate taskset-pinned process.

Usage:
    python scripts/scaling.py FAMILY [--factor F] [--reps R]

FAMILY is one of the keys of ``FAMILIES``. Its input is the documents
table under ``$SPARK_GRAFT_SF_DIR`` (bench.py's default when unset),
amplified FACTOR times in-plan; the default factor is the one in the
family's committed report. Legs run in R interleaved (4N, N) pairs:
the shared host drifts under sustained load, so consecutive same-leg
runs correlate. Per timed query, speedup = median of the per-pair
ratios and efficiency = speedup / 4. The pure-CPU hardware ceiling of
the same two core counts is reported next to it, so the engine's share
of any loss is attributable.

The report JSON goes to stdout, progress to stderr; no file is written.
Legs inherit the caller's environment. Needs at least 4 CPUs in this
process's affinity set.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from commoncrawl_spark.functions.text import c4_signals  # noqa: E402
from commoncrawl_spark.operators.analytics import (  # noqa: E402
    tfidf_top_terms,
    tokens_col,
)
from commoncrawl_spark.operators.graph import (  # noqa: E402
    connected_components,
    pagerank,
)
from commoncrawl_spark.operators.index import (  # noqa: E402
    bm25_search,
    build_block_max,
    build_doclen,
    build_tf_index,
)
from commoncrawl_spark.operators.lm import bigram_logprob_scores  # noqa: E402
from commoncrawl_spark.operators.sketches import heavy_hitters  # noqa: E402
from commoncrawl_spark.operators.text_dedup import (  # noqa: E402
    drop_near_duplicates,
    duplicate_span_stats,
)

N, N4 = 1, 4
TEXT_REPEAT = 4
DEDUP_REPEAT = 2
GRAPH_ITERS = 8
BODY_REPEAT = 40
BM25_TERMS = ["join", "hash", "scan"]
METHOD = "interleaved pairs, median ratio, taskset-pinned legs"


def _bench():
    """bench.py as a module. Its import points sys.stdout at stderr to
    keep its own JSON line clean; the redirect restores it here."""
    with contextlib.redirect_stdout(sys.stdout):
        import bench
    return bench


# -- inputs ------------------------------------------------------------------

def _docs(spark, factor: int, repeat: int, salt: bool = False, parts: int = 64):
    """Documents replicated ``factor`` times with distinct ids, text
    repeated ``repeat`` times. The small base table is repartitioned
    BEFORE the explode: the documents parquet is one input split, so
    without it the amplify+tokenize scan is a single task at any core
    count. The plan is the same at both legs; cores only control
    concurrency. ``salt`` appends a per-replica word, so replicas of one
    doc are near- (not byte-) duplicates and LSH verification has real
    pairs to check."""
    d = spark.read.parquet(
        f"{_bench().SF_DIR}/documents.parquet").select("doc_id", "text")
    text = F.concat_ws(" ", F.array_repeat(F.col("text"), repeat))
    if salt:
        text = F.concat_ws(
            " ", text, F.concat(F.lit("salt"), F.col("_k").cast("string")))
    return (
        d.repartition(parts, "doc_id")
        .select("doc_id", "text",
                F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_k"))
        .select((F.col("doc_id") * factor + F.col("_k")).alias("doc_id"),
                text.alias("text"))
    )


def _edges(spark, factor: int, parts: int = 64):
    """A skewed host graph: each doc replicated ``factor`` times, two
    non-invertible out-edges per replica over n_docs*factor/10 nodes
    (the host_pagerank construction, so in-degree is skewed and dangling
    mass exists). Checkpointed, so the timed queries exclude generation."""
    d = spark.read.parquet(
        f"{_bench().SF_DIR}/documents.parquet").select("doc_id")
    n_nodes = d.count() * factor // 10
    return (
        d.repartition(parts, "doc_id")
        .select("doc_id",
                F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_k"))
        .select(((F.col("doc_id") * factor + F.col("_k")) % n_nodes)
                .alias("src"))
        .select("src", F.explode(F.array(
            (F.col("src") * F.col("src") + 1) % n_nodes,
            (F.col("src") * 17 + 3) % (n_nodes // 2),
        )).alias("dst"))
        .localCheckpoint(eager=True)
    )


def _pages(spark, factor: int):
    """bench.py's crawl corpus: the pages side, ``factor`` pages per doc."""
    bench = _bench()
    return bench.build_corpus(spark, bench.SF_DIR, factor, BODY_REPEAT)[0]


# -- timed queries -------------------------------------------------------------

def _index_build(df):
    # the deepest index-build plan: Block-Max metadata consumes the tf
    # index AND doclen; with_dl rides the doc length on the postings,
    # dropping the postings-sized id-key exchange a doclen join costs
    return build_block_max(build_tf_index(df, with_dl=True),
                           build_doclen(df), block_span=4096)


def _c4_clean(df):
    sig = c4_signals(F.col("text"))
    return df.select("doc_id", *[sig[k].alias(k) for k in
                                 ("n_kept_lines", "n_sentences", "keep",
                                  "drop_reason")])


# -- legs (each runs inside a taskset-pinned child) ---------------------------

def _task_metric_sums(logdir: str, t0_ms: float, t1_ms: float) -> dict:
    """Sum TaskEnd metrics from an uncompressed event log over tasks
    LAUNCHED inside [t0_ms, t1_ms], so warm-up and the input count stay
    out and busy fraction and CPU totals describe the timed queries."""
    run = cpu = gc = 0.0
    for f in glob.glob(f"{logdir}/**", recursive=True):
        if not os.path.isfile(f):
            continue
        with open(f, errors="ignore") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                if not isinstance(ev, dict) or \
                        ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                info = ev.get("Task Info") or {}
                if not t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                    continue
                m = ev.get("Task Metrics") or {}
                run += m.get("Executor Run Time", 0)
                cpu += m.get("Executor CPU Time", 0) / 1e6
                gc += m.get("JVM GC Time", 0)
    return {"sum_run_s": round(run / 1000, 1),
            "sum_cpu_s": round(cpu / 1000, 1),
            "sum_gc_s": round(gc / 1000, 1)}


def _spark_leg(fam: Family, cores: int, factor: int) -> dict:
    """Time the family's queries on its input in this process."""
    from commoncrawl_spark.session import get_spark

    def run_full(df):
        # noop sink: runs the FULL plan and consumes every column;
        # count() lets Catalyst prune the scoring expressions (measured
        # 20x too fast for lm_bigram), which would time the wrong plan
        df.write.format("noop").mode("overwrite").save()

    with tempfile.TemporaryDirectory(prefix=f"ccs_elog_{cores}_") as logdir:
        # a fixed shuffle partition count at both legs: the plan is
        # identical, the core count only changes task concurrency
        spark = get_spark("scaling", cores=cores, shuffle_partitions=64,
                          extra_conf={"spark.eventLog.enabled": "true",
                                      "spark.eventLog.compress": "false",
                                      "spark.eventLog.dir": logdir})
        warm = fam.build(spark, 2)  # JVM/codegen warm-up on a small slice
        for q in fam.queries.values():
            run_full(q(warm))

        df = fam.build(spark, factor)
        leg = {"cores": cores, fam.size: df.count(), "seconds": {}}
        t0_ms = time.time() * 1000
        for name, q in fam.queries.items():
            t = time.monotonic()
            run_full(q(df))
            leg["seconds"][name] = round(time.monotonic() - t, 3)
        t1_ms = time.time() * 1000
        spark.stop()  # flushes the event log
        time.sleep(1)
        leg.update(_task_metric_sums(logdir, t0_ms, t1_ms))
    return leg


def _bench_leg(fam: Family, cores: int, factor: int) -> dict:
    """The crawl leg: bench.py's crawl_pipeline query, at a fixed page
    count. bench.py runs without an event log, so the leg has no task
    metrics."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
               BENCH_PAGE_FACTOR=str(factor),
               BENCH_BODY_REPEAT=str(BODY_REPEAT),
               BENCH_QUERIES="crawl_only",
               # same physical plan at every core count: a shuffle join,
               # no driver-serial broadcast build
               BENCH_NO_BROADCAST="1")
    out = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")],
                         env=env, stdout=subprocess.PIPE, text=True,
                         check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {"cores": cores, fam.size: res["n_pages"],
            "seconds": {q: res["queries"][q] for q in fam.queries}}


@dataclass(frozen=True)
class Family:
    size: str  # report key of the input's row count
    factor: int  # default --factor: the one in the committed report
    build: Callable  # (spark, factor) -> the timed input frame
    # query name -> (input frame) -> frame to time; None where the
    # leg runs the named query itself
    queries: dict[str, Callable | None]
    constants: dict  # fixed input/query settings, echoed in the report
    leg: Callable = _spark_leg


FAMILIES: dict[str, Family] = {
    "crawl": Family(
        "n_pages", 64, _pages, {"crawl_pipeline": None},
        {"body_repeat": BODY_REPEAT}, leg=_bench_leg),
    "dedup": Family(
        "n_docs", 16, lambda s, f: _docs(s, f, DEDUP_REPEAT, salt=True),
        {"near_dedup": drop_near_duplicates,
         "duplicate_spans": duplicate_span_stats},
        {"repeat": DEDUP_REPEAT}),
    "graph": Family(
        "n_edges", 512, _edges,
        {"pagerank": lambda e: pagerank(e, iters=GRAPH_ITERS),
         "components": lambda e: connected_components(
             e, a_col="src", b_col="dst")},
        {"iters": GRAPH_ITERS}),
    "lm": Family(
        "n_docs", 32, lambda s, f: _docs(s, f, TEXT_REPEAT),
        {"lm_bigram": bigram_logprob_scores,
         "tfidf_terms": lambda df: tfidf_top_terms(df, k=3)},
        {"repeat": TEXT_REPEAT}),
    "retrieval": Family(
        "n_docs", 16, lambda s, f: _docs(s, f, TEXT_REPEAT),
        {"bm25_scan": lambda df: bm25_search(df, BM25_TERMS, top_k=15),
         "index_build": _index_build},
        {"repeat": TEXT_REPEAT}),
    "sketch": Family(
        "n_docs", 16, lambda s, f: _docs(s, f, TEXT_REPEAT),
        {"heavy_hitters": lambda df: heavy_hitters(
            df.select(tokens_col(F.col("text")).alias("tokens")),
            "tokens", k=100),
         "c4_clean": _c4_clean},
        {"repeat": TEXT_REPEAT}),
}


# -- parent side ---------------------------------------------------------------

def run_leg(family: str, cores: int, factor: int, cpus: list[int]) -> dict:
    """One leg in a child pinned to ``cpus``, retried once (legs on a
    shared host fail transiently). taskset pins the whole process tree,
    so JVM task threads AND Python workers share the budget; without it
    local[K] leaks past K cores (K task threads plus K Python workers
    land on 2K cores), which inflates the small leg."""
    cmd = ["taskset", "-c", ",".join(map(str, cpus)), sys.executable,
           os.path.abspath(__file__), family, "--factor", str(factor),
           "--leg", str(cores)]
    for attempt in (0, 1):
        try:
            out = subprocess.run(cmd, capture_output=True, text=True,
                                 timeout=3600)
        except subprocess.TimeoutExpired:
            print(f"leg cores={cores} attempt {attempt} timed out",
                  file=sys.stderr)
            continue
        if out.returncode == 0 and out.stdout.strip():
            return json.loads(out.stdout.strip().splitlines()[-1])
        print(f"leg cores={cores} attempt {attempt} failed "
              f"(rc={out.returncode}); stderr tail:\n"
              + "\n".join(out.stderr.splitlines()[-12:]), file=sys.stderr)
    raise RuntimeError(f"leg cores={cores} failed twice")


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def hardware_ceiling(n_lo: int, n_hi: int, work: int = 40_000_000) -> float:
    """Largest throughput ratio hi/lo the host gives CPU-bound work:
    fixed work per process, so ideally t_lo == t_hi, and the aggregate
    ceiling is (n_hi / n_lo) * (t_lo / t_hi). Forked workers: this
    process runs no JVM or threads, and fork keeps module re-imports out
    of the timed map."""
    def run(procs: int) -> float:
        with mp.get_context("fork").Pool(procs) as p:
            t = time.monotonic()
            p.map(_spin, [work] * procs)
            return time.monotonic() - t

    t_lo, t_hi = run(n_lo), run(n_hi)
    return (n_hi / n_lo) * (t_lo / t_hi)


def build_report(family: str, factor: int, legs: list[dict],
                 ceiling: float, sf_dir: str) -> dict:
    """The report for ``legs`` in run order: the i-th N leg pairs with
    the i-th 4N leg. CPU inflation (4N task CPU / N task CPU, median over
    pairs) is shared-cache contention on one socket, absent on a real
    multi-machine N -> 4N; the contention-corrected efficiency holds
    per-task work constant. Families whose legs carry no task metrics
    report those fields as null."""
    fam = FAMILIES[family]
    lo = [leg for leg in legs if leg["cores"] == N]
    hi = [leg for leg in legs if leg["cores"] == N4]
    pairs = list(zip(lo, hi))
    task_metrics = infl = None
    if all("sum_cpu_s" in leg for leg in legs):
        infl = round(statistics.median(
            h["sum_cpu_s"] / n["sum_cpu_s"] for n, h in pairs), 3)
        busy = {str(c): round(statistics.median(
            leg["sum_run_s"] / (c * sum(leg["seconds"].values()))
            for leg in legs if leg["cores"] == c), 3) for c in (N, N4)}
        task_metrics = {"core_busy_fraction": busy,
                        "cpu_inflation_4N_vs_N": infl}
    queries = {}
    for q in fam.queries:
        ratios = sorted(n["seconds"][q] / h["seconds"][q] for n, h in pairs)
        med = statistics.median(ratios)
        queries[q] = {
            "seconds": {str(N): [leg["seconds"][q] for leg in lo],
                        str(N4): [leg["seconds"][q] for leg in hi]},
            "pair_ratios_N_to_4N": [round(r, 3) for r in ratios],
            "median_speedup": round(med, 3),
            "efficiency": round(med / 4, 3),
            "engine_efficiency_vs_cpu_ceiling": round(med / ceiling, 3),
            "contention_corrected_efficiency":
                None if infl is None else round(med * infl / 4, 3),
        }
    return {
        "family": family, "input": sf_dir, "factor": factor,
        **fam.constants, fam.size: legs[0][fam.size],
        "N": N, "4N": N4, "method": METHOD,
        "cpu_ceiling_speedup_N_to_4N": round(ceiling, 2),
        "task_metrics": task_metrics,
        "queries": queries,
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("family", choices=sorted(FAMILIES))
    ap.add_argument("--factor", type=int,
                    help="input amplification (default: the family's)")
    ap.add_argument("--reps", type=int, default=3,
                    help="interleaved (4N, N) pairs to run")
    # internal: run one leg at this many cores and print its JSON line
    ap.add_argument("--leg", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    fam = FAMILIES[args.family]
    factor = args.factor or fam.factor
    if args.leg:
        print(json.dumps(fam.leg(fam, args.leg, factor)))
        return

    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) < N4:
        sys.exit(f"scaling.py needs {N4} CPUs; this process may use "
                 f"{len(cpus)}")
    legs = []
    for _ in range(args.reps):
        for cores in (N4, N):
            leg = run_leg(args.family, cores, factor, cpus[:cores])
            print(f"leg cores={cores}: {leg['seconds']}", file=sys.stderr)
            legs.append(leg)
    report = build_report(args.family, factor, legs,
                          hardware_ceiling(N, N4), _bench().SF_DIR)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
