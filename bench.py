"""Headline benchmark: runs the engine's flagship operators at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

The headline metric is crawl-pipeline throughput in URLs/sec over a
synthetic pages corpus deterministically derived from the documents
table (scaled up BENCH_PAGE_FACTOR x by replication with distinct URLs,
so the frontier is meaningfully larger than the raw table). Individual
query timings are reported under "queries" (seconds).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.stdout, real_stdout = sys.stderr, sys.stdout  # noqa: keep stdout clean for JSON

from pyspark.sql import functions as F  # noqa: E402

from commoncrawl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PAGE_FACTOR = int(os.environ.get("BENCH_PAGE_FACTOR", "16"))
BODY_REPEAT = int(os.environ.get("BENCH_BODY_REPEAT", "10"))


def build_corpus(spark, sf_dir: str, page_factor: int = PAGE_FACTOR,
                 body_repeat: int = BODY_REPEAT):
    """Deterministic synthetic crawl corpus from the documents table,
    replicated ``page_factor`` x with distinct URLs. Generated DISTRIBUTED —
    pure Catalyst expressions (explode + concat + encode), no driver loop —
    so corpus size is bounded by the cluster, not the driver."""
    from commoncrawl_spark.fixtures import CRAWLS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    rep = docs.select(
        "doc_id", "text", "lang", "source",
        F.explode(F.sequence(F.lit(0), F.lit(page_factor - 1))).alias("_r"),
    ).select(
        (F.col("doc_id") * page_factor + F.col("_r")).alias("id"),
        "text", "lang", "source",
    )
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".news.test/"),
        F.col("lang"), F.lit("/"), F.col("id").cast("string"), F.lit("/story"),
    )
    title = F.concat(F.lit("Doc "), F.col("id").cast("string"), F.lit(" report"))
    html = F.concat(
        F.lit('<!DOCTYPE html><html><body><h1 class="content__headline">'),
        title, F.lit("</h1>"),
        F.lit('<time itemprop="datePublished" datetime="2024-01-01T00:00:00+00:00">'
              "2024-01-01T00:00:00+00:00</time>"),
        F.lit('<a rel="author" href="/p/a">Alice Carter</a>'),
        F.lit('<div itemprop="articleBody"><p>'),
        F.concat_ws("</p><p>", F.array_repeat(F.col("text"), body_repeat)),
        F.lit("</p></div></body></html>"),
    )
    warc = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), url,
        F.lit("\r\n\r\nHTTP/1.1 200 OK\r\nContent-Type: text/html; "
              "charset=utf-8\r\n\r\n"),
        html,
    )
    pages = rep.select(url.alias("url"), F.encode(warc, "utf-8").alias("html"))

    crawl_arr = F.array(*[F.lit(c) for c in CRAWLS])
    cap = rep.select(
        F.col("id"), url.alias("url"),
        F.explode(F.sequence(F.lit(0), F.col("id") % 3)).alias("c"),
    )
    cdx = cap.select(
        "url",
        F.element_at(
            crawl_arr, ((F.col("id") + F.col("c")) % len(CRAWLS) + 1).cast("int")
        ).alias("crawl"),
        (F.col("id") % 10).cast("int").alias("page"),
        (F.col("id") * 3 + F.col("c")).cast("int").alias("line_no"),
        F.when((F.col("id") + F.col("c")) % 11 == 0, F.lit("404"))
        .otherwise(F.lit("200")).alias("status"),
        F.when((F.col("id") + F.col("c")) % 7 == 0, F.lit("application/pdf"))
        .otherwise(F.lit("text/html")).alias("mime_detected"),
        ((F.col("id") * 7919 + F.col("c") * 104729) % 80000 + 2000)
        .cast("string").alias("length"),
        F.concat(F.lit("2024"), F.lpad(((F.col("id") + F.col("c")) % 12 + 1)
                                       .cast("string"), 2, "0"),
                 F.lit("0100000"), (F.col("c") % 10).cast("string"))
        .alias("timestamp"),
    )
    return pages, cdx


N_BUCKETS = int(os.environ.get("BENCH_BUCKETS", "128"))


def materialize_tables(spark, pages, cdx):
    """Store the corpus the way a real deployment stores it: pages as a
    BUCKETED, per-bucket-sorted parquet table on `url` (the Iceberg
    bucket(url) layout), cdx as plain parquet. The fetch join then needs
    no shuffle and no sort on the fat side — only the slim frontier moves
    — and the scan is vectorized columnar, not a JVM-cache decompression
    (which at 32 concurrent tasks spent >60% of task time in GC).

    Bucket count is FIXED (a table property), not scaled with cores: both
    scaling legs read the identical layout, like two cluster sizes reading
    the same table."""
    import shutil

    from commoncrawl_spark.tables import write_bucketed

    pages_b = write_bucketed(pages, "pages_bucketed", N_BUCKETS, "url")
    # documents.parquet is a single row-group, so the derived cdx frame has
    # 2 splits — written as-is, every downstream scan of it would run
    # 2-wide (a ~4 s serial floor on the dedup map side at any core
    # count). Spread it like a real many-file index table.
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS cdx_flat")
    shutil.rmtree(os.path.join(warehouse, "cdx_flat"), ignore_errors=True)
    (cdx.repartition(N_BUCKETS)
     .write.mode("overwrite").format("parquet").saveAsTable("cdx_flat"))
    return pages_b, spark.table("cdx_flat")


def bench_crawl(spark, pages, cdx, reps: int = 2) -> tuple[float, int]:
    """Full pipeline: dedup -> 200 gate -> fetch join -> extract. Returns
    (seconds, urls_extracted).

    Best-of-``reps``: this sandbox is a shared host whose load drifts 3-4x
    under other tenants (measured 9.8 s / 26 s / 41 s for this identical
    leg in one afternoon), and the first rep additionally pays JIT + page
    cache warm-up for the 3.6 GB corpus. The minimum is the engine's
    cost; the drift is the host's."""
    from commoncrawl_spark.operators.dedup import best_capture_per_url
    from commoncrawl_spark.operators.extraction import extract_articles, split_articles

    best_dt, n = float("inf"), 0
    for _ in range(reps):
        t0 = time.monotonic()
        best = best_capture_per_url(cdx, arrival_cols=("crawl", "page", "line_no"))
        fetch = (
            best.filter(F.col("status") == "200")
            .select("url")
            .join(pages.select("url", "html"), "url")
        )
        ok, _ = split_articles(extract_articles(fetch))
        n = ok.count()
        best_dt = min(best_dt, time.monotonic() - t0)
    return best_dt, n


def bench_full_round(spark, pages, cdx) -> tuple[float, int]:
    """One COMPLETE frontier round — the north-star metric's unit of work:
    dedup -> 200 gate -> seen-set anti-join (partitioned-Bloom path, 10%
    of URLs pre-marked crawled) -> salted politeness selection -> fetch
    join -> extract. Returns (seconds, urls_extracted). Best-of-2 for the
    same shared-host-drift reason as bench_crawl."""
    from commoncrawl_spark.operators.dedup import best_capture_per_url
    from commoncrawl_spark.operators.extraction import extract_articles, split_articles
    from commoncrawl_spark.operators.schedule import select_polite_batch, with_host
    from commoncrawl_spark.operators.seen_set import (
        anti_join_seen_scalable,
        with_url_key,
    )

    # deterministic 10%-crawled seen set (url_sha1 keys, like the frontier's)
    seen = (
        with_url_key(pages.select("url"))
        .filter(F.pmod(F.xxhash64("url"), F.lit(10)) == 0)
        .select("url_sha1")
    )

    best_dt, n = float("inf"), 0
    for rep in range(2):
        # each rep is COLD: the seen-set probe frame persisted inside
        # anti_join_seen_scalable would otherwise be rematched by plan
        # in Spark's CacheManager and hand rep 2 a warm bloom for free
        spark.catalog.clearCache()
        t0 = time.monotonic()
        best = best_capture_per_url(cdx, arrival_cols=("crawl", "page", "line_no"))
        frontier = with_url_key(
            best.filter(F.col("status") == "200")
            .select("url", "crawl", "page", "line_no")
        )
        fresh = anti_join_seen_scalable(frontier, seen, n_buckets=32)
        batch = select_polite_batch(
            with_host(fresh), budget_per_host=10**9, salt_buckets=32,
            priority_cols=("crawl", "page", "line_no"),
        ).select("url")
        fetch = batch.join(pages.select("url", "html"), "url")
        ok, _ = split_articles(extract_articles(fetch))
        n = ok.count()
        best_dt = min(best_dt, time.monotonic() - t0)
    spark.catalog.clearCache()
    return best_dt, n


def bench_round_loop(spark, pages, cdx, rounds: int = 3) -> tuple[float, int, int]:
    """The PRODUCTION path under measurement: CrawlJob rounds with real
    snapshot commits (trace, seen-set, frontier overwrite) — i.e.
    frontier throughput
    including all checkpoint/resume bookkeeping, not just the dataflow.
    Returns (seconds, urls_extracted, rounds_run)."""
    import shutil

    from commoncrawl_spark.plans.frontier import CrawlJob

    ckpt = os.environ.get("BENCH_CKPT", "/tmp/ccspark-bench-ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    job = CrawlJob(spark, ckpt, budget_per_host=20_000, salt_buckets=32)
    t0 = time.monotonic()
    job.seed_from_cdx(cdx)
    counters = job.run(pages, max_rounds=rounds)
    dt = time.monotonic() - t0
    return dt, sum(c["extract_ok"] for c in counters), len(counters)


def bench_seen_probe(spark, pages) -> dict[str, float]:
    """Steady-state seen-set shape: a crawl builds the Bloom blob table
    ONCE (BloomSeenSet) and every subsequent round pays only the probe —
    compared against the plain exact anti-join on identical inputs.
    Candidates are discovery-shaped (mostly fresh keys + 10% revisits)."""
    from commoncrawl_spark.operators.seen_set import (
        BloomSeenSet,
        anti_join_seen,
        with_url_key,
    )

    keyed = with_url_key(pages.select("url")).select("url_sha1").persist()
    n = keyed.count()
    seen = keyed.filter(F.pmod(F.xxhash64("url_sha1"), F.lit(10)) != 0).persist()
    seen.count()
    fresh = spark.range(n).select(
        F.sha1(F.concat(F.lit("new-"), F.col("id").cast("string")))
        .alias("url_sha1")
    )
    revisits = keyed.filter(F.pmod(F.xxhash64("url_sha1"), F.lit(10)) == 5)
    cands = fresh.unionByName(revisits).persist()
    cands.count()

    out = {}
    sset = BloomSeenSet(seen, n_buckets=32)  # build amortized across rounds
    for i in range(2):
        t0 = time.monotonic()
        sset.unseen(cands).write.format("noop").mode("overwrite").save()
        out[f"bloom_probe_round{i}"] = round(time.monotonic() - t0, 3)
    t0 = time.monotonic()
    anti_join_seen(cands, seen).write.format("noop").mode("overwrite").save()
    out["exact_anti_join"] = round(time.monotonic() - t0, 3)
    sset.release()
    from commoncrawl_spark.operators.cuckoo import CuckooSeenSet

    cset = CuckooSeenSet(seen, n_buckets=32)
    for i in range(2):
        t0 = time.monotonic()
        cset.unseen(cands).write.format("noop").mode("overwrite").save()
        out[f"cuckoo_probe_round{i}"] = round(time.monotonic() - t0, 3)
    cset.release()
    for df in (keyed, seen, cands):
        df.unpersist()
    return out


GC_EVERY = int(os.environ.get("BENCH_GC_EVERY", "10"))
BEST2_MIN_S = float(os.environ.get("BENCH_BEST2_THRESHOLD", "1.0"))


def _session_hygiene(spark) -> None:
    """Reset the in-session drift sources between query families.

    BENCH_r03 showed 1.4-2.3x inflation on queries with NO code change
    once the loop grew to ~173 queries in one JVM session: accumulated
    cached blocks, leftover memory-sink temp views, and GC pressure
    compound, and a single-run bench cannot distinguish that drift from
    a real regression. clearCache + dropping finished memory-sink views
    + an explicit JVM/Python GC between families keeps each query's
    starting state comparable to a fresh session."""
    import gc

    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.tableType == "TEMPORARY" and t.name.startswith("ccs_"):
            spark.catalog.dropTempView(t.name)
    spark._jvm.System.gc()
    gc.collect()


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    extra = {}
    if os.environ.get("BENCH_NO_BROADCAST"):
        # scaling runs: same physical plan at every core count (shuffle
        # join, no driver-serial broadcast build) so the legs are comparable
        extra["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    extra["spark.sql.warehouse.dir"] = os.environ.get(
        "BENCH_WAREHOUSE", "/tmp/ccspark-warehouse")
    # Batch sizes are BYTE-sized for the fat html column (~40-120 KB/row on
    # the bench corpus): the defaults (4096-row parquet batches, 2048-row
    # Arrow batches) allocate 100-400 MB per concurrent task, which at 32
    # tasks kept the collector permanently busy (measured: >50% of task
    # time in GC; the 32-core leg ran SLOWER than the 8-core leg). At 256
    # rows a batch is ~10-30 MB and GC drops to <3% of task time.
    extra["spark.sql.parquet.columnarReaderBatchSize"] = "256"
    extra["spark.sql.execution.arrow.maxRecordsPerBatch"] = "256"
    spark = get_spark("bench", cores=int(cpus), shuffle_partitions=4 * int(cpus),
                      extra_conf=extra)
    queries: dict[str, float] = {}

    pages, cdx = build_corpus(spark, SF_DIR)
    pages, cdx = materialize_tables(spark, pages, cdx)
    n_pages = pages.count()
    cdx.count()

    crawl_s, n_urls = bench_crawl(spark, pages, cdx)
    queries["crawl_pipeline"] = round(crawl_s, 3)

    if os.environ.get("BENCH_QUERIES") != "crawl_only":
        round_s, n_round = bench_full_round(spark, pages, cdx)
        queries["full_frontier_round"] = round(round_s, 3)
        queries["full_round_urls_per_sec"] = round(n_round / round_s, 1)

        loop_s, n_loop, n_rounds = bench_round_loop(spark, pages, cdx)
        queries["round_loop_seconds"] = round(loop_s, 3)
        queries["round_loop_rounds"] = n_rounds
        queries["round_loop_urls_per_sec"] = round(n_loop / loop_s, 1)
        queries.update(bench_seen_probe(spark, pages))
        os.environ["SPARK_GRAFT_REPARTITION"] = str(4 * int(cpus))
        import __spark_entry__ as e

        qs = e.queries()
        names = [
            "best_capture_dedup", "bloom_anti_join", "politeness_schedule",
            "word_topk", "value_percentiles", "exact_dedup", "minhash_buckets",
            "simhash_neardup", "embedding_topk", "quality_scores",
            "curation_pipeline", "link_discovery",
            # round-2 additions: LM scoring, decontamination, recrawl
            # policy, mirrors, normalization rollups, chunk/export,
            # retrieval, link-text
            "lm_quality", "lm_bigram", "benchmark_contamination",
            "recrawl_priority", "mirror_overlap", "text_normalize",
            "host_stats", "doc_chunks", "tfidf_terms", "anchor_texts",
            "boolean_search", "training_export_pipeline",
            "char_entropy", "corpus_report", "quality_buckets",
            "phrase_search", "language_mix", "bm25_topk",
            # round-3 additions: within-doc line trim, incremental
            # near-dedup against the persisted signature index,
            # merged-index BM25
            "line_dedup", "near_dedup_incremental", "bm25_merged",
            # round-3 additions: backoff LM, DSIR selection, mixing,
            # exact-substring duplication stats
            "stupid_backoff", "dsir_weights", "token_budget_sample",
            "duplicate_spans", "selection_pipeline",
            # round-3 additions: MOSS winnowing match report, NB
            # quality classifier (train + held-out scoring)
            "winnow_pairs", "nb_classifier_scores",
            # late round-3 additions: SemDeDup, Gopher n-gram
            # repetition, BPE vocabulary training, the composed
            # heuristic+model filtering pipeline
            "semdedup", "gopher_repetition", "bpe_merges",
            "filtering_pipeline", "temperature_mix",
            # this-session round-3 additions: spam-demotion TrustRank,
            # training-sequence packing, WAT export, redirect-chain
            # resolution, E-S weighted resampling, in-HTML directives,
            # magic-byte MIME routing
            "trustrank_hosts", "sequence_pack", "wat_export",
            "redirect_resolution", "weighted_sample",
            "page_directives", "mime_sniff",
            # this-session round-3 additions: per-host template strip,
            # perceptual-hash media dedup, mergeable HLL cardinality,
            # WARC revisit classification, Kneser-Ney LM, spam mass
            "host_boilerplate", "media_ahash_neardup",
            "hll_host_cardinality", "warc_revisit", "lm_kneser_ney",
            "spam_mass_hosts", "hard_negatives", "exactsubstr_strip", "domain_webgraph", "diversity_sample",
            "decontaminate_strip", "sitemap_tree", "html_quality",
            "proximity_search", "curation_pipeline_v3",
            # this-session round-3 additions: composed IVF-PQ ANN,
            # triangle counting, binned range join, event analytics,
            # count-min sketch, encoding repair, trained classifiers,
            # index compression, webgraph stats, containment dedup
            "ivf_pq_ann", "triangle_hosts", "ip_asn_lookup",
            "event_funnel", "retention", "cms_word_counts",
            "mojibake_repair", "logreg_quality", "postings_delta",
            "degree_histogram", "reciprocal_links",
            "tokenizer_fertility", "vocab_growth", "url_tree",
            "containment_pairs",
            # fifth-session round-3 additions: OPIC importance, DUST
            # param mining + collapse, shark-search scoring, AIMD
            # politeness, URL word filter, WARC response export,
            # conditional-GET planning, and the composed adaptive
            # admission pipeline
            "opic_importance", "dust_param_rules", "dust_collapse",
            "focused_frontier", "aimd_rates", "url_word_filter",
            "warc_export", "revalidation_bandwidth",
            "adaptive_frontier_pipeline",
            # sixth-wave round-3 additions: seed BFS rings, script
            # histogram, vocabulary coverage estimators, soft dedup,
            # CDC chunk dedup, dispatch timetable, consistent sharding
            "seed_depth_rings", "script_profile", "vocab_coverage",
            "softdedup_weights", "cdc_dedup", "fetch_timetable",
            "host_shard_ring", "embedding_outliers", "retrieval_metrics",
            # corpus-health and search-composition wave: anchor-field
            # BM25, drift monitor, Zipf fit, n-gram diversity
            "anchor_bm25", "snapshot_term_drift", "zipf_slope",
            "ngram_diversity", "explore_exploit", "curation_attribution",
            "lsh_plan", "bloom_fpr_audit",
            # retrieval-completion wave: query-likelihood Dirichlet
            # ranking, RRF hybrid fusion, SymSpell fuzzy matching
            "ql_topk", "hybrid_rrf", "fuzzy_terms",
            "rm_expansion", "kwic_snippets", "bm25f_topk",
            "champion_search", "kcore_hosts", "cocitation_hosts",
            "corrected_search", "champion_recall", "fuzzy_contamination",
            "mmr_diversify", "pii_cards",
            # eighth-session wave: C4 cleaning, MG heavy hitters,
            # article dating, feed parsing + the composed news-crawl
            # pipeline, index storage pricing, epoch waterfilling +
            # materialized training stream, hreflang bitext seeds,
            # T5 span corruption, host reputation priors
            "c4_clean", "heavy_hitters", "publication_dates",
            "feed_entries", "news_pipeline", "epoch_plan",
            "epoch_stream", "hreflang_pairs",
            "span_corruption", "host_quality_prior",
            # eighth-session continued: language QA, pagination
            # stitching, KMV sketches, tombstoned search, merge
            # planning, schema.org census, SQ8 ANN
            "lang_mismatch", "pagination_chains", "kmv_vocab_sample",
            "bm25_tombstoned", "merge_plan", "microdata_stats",
            "sq8_ann", "feed_discovery", "stitched_chains",
            "stream_feed_poll", "partitioned_read", "coverage_gap",
            "stats_pruned_read", "delete_read",
            # ninth-session wave: soft-404 detection (classifier +
            # probe similarity), mergeable quantile-histogram
            # sketches, per-IP politeness, Block-Max pruned retrieval
            "soft404_content", "soft404_probe", "quantile_sketch",
            "ip_politeness", "blockmax_topk", "blockmax_plan",
            "robots_compliance", "size_drift_sketch",
            "unigram_seed", "unigram_vocab", "unigram_tokens",
            "percolate_alerts", "bloom_point_read", "stream_percolate",
            "kmv_set_ops", "schema_evolution_read",
        ]
        for i, name in enumerate(names):
            if i % GC_EVERY == 0:
                _session_hygiene(spark)
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            if dt >= BEST2_MIN_S:
                # best-of-2 for mid-weight queries (the crawl legs'
                # documented policy, extended): the min strips one-off
                # host/GC stalls the single-run number conflated with
                # plan regressions in BENCH_r03
                t0 = time.monotonic()
                qs[name](spark, SF_DIR).write.format("noop") \
                    .mode("overwrite").save()
                dt = min(dt, time.monotonic() - t0)
            queries[name] = round(dt, 3)

    out = {
        "metric": "crawl_pipeline_seconds",
        "value": round(crawl_s, 3),
        "unit": "sec",
        "urls_per_sec": round(n_urls / crawl_s, 1),
        "queries": queries,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        # r04+: query timings are best-of-2 minima (when first run
        # >= BENCH_BEST2_THRESHOLD) with per-10-query cache/GC hygiene;
        # r01-r03 were single-run, so vs_r01/r02/r03 ratios carry a
        # one-time downward level shift on mid-weight queries — judge
        # regressions on ratios >> 1, not on sub-1.0 "speedups"
        "bench_method": "best-of-2-min+hygiene (r04+)",
        "n_pages": n_pages,
        "n_urls_extracted": n_urls,
        "cpus": int(cpus),
    }
    # per-query ratio vs each recorded prior-round baseline (<1.0 =
    # faster now), so "did this round make it faster" is answerable
    # mechanically — but only when the scale factors match (the BENCH_r*
    # files were recorded at sf0.1; comparing an sf0.01 run against them
    # would be apples-to-oranges). Caveat (BASELINE.md): the shared host
    # swings ~2.5x under load; judge deltas on the best-of-2 policy.
    here = os.path.dirname(os.path.abspath(__file__))
    for rnd in ("r01", "r02", "r03"):
        try:
            with open(os.path.join(here, f"BENCH_{rnd}.json")) as fh:
                parsed = json.load(fh).get("parsed", {})
            base = parsed.get("queries", {})
            if str(parsed.get("sf")) == str(out["sf"]):
                out[f"vs_{rnd}"] = {
                    k: round(v / base[k], 2) for k, v in queries.items()
                    if isinstance(base.get(k), (int, float)) and base[k]
                    and not k.endswith(("urls_per_sec", "rounds"))
                }
        except (OSError, ValueError):
            pass
    print(json.dumps(out), file=real_stdout)


if __name__ == "__main__":
    main()
