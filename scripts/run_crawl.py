"""spark-submit entry point for the crawl engine.

Deployment shape per the project brief: ship the package with
``--py-files`` and drive the round loop from this script. From the
repository root:

    python -c "from commoncrawl_spark.session import _package_zip; \
print(_package_zip())"   # build the zip
    spark-submit --py-files .commoncrawl_spark.zip \
        --conf spark.checkpoint.dir=hdfs:///crawl/lineage \
        --conf spark.sql.codegen.cache.maxEntries=1024 \
        scripts/run_crawl.py --pages pages.parquet --cdx cdx.parquet \
        --checkpoint /data/crawl_ckpt --budget 200 --max-rounds 10

On a cluster, add --master / executor confs as usual; the engine only
assumes a SparkSession and table paths. Re-running with the same
--checkpoint resumes from the last committed frontier snapshot.

``spark.checkpoint.dir`` must name a fault-tolerant store (HDFS, S3, a
shared mount). Spark sets the context's checkpoint directory from it at
start-up, so every lineage cut (``commoncrawl_spark.materialize``) is a
reliable ``checkpoint`` that survives executor loss. Without it the
cuts fall back to ``localCheckpoint``, whose blocks live only on the
executors that computed them.

Under spark-submit the script builds on the submitted conf verbatim, so
the settings ``commoncrawl_spark.session.get_spark`` adds do not apply
there. Pass ``spark.sql.codegen.cache.maxEntries=1024``: it is a static
conf, and at Spark's default of 100 entries a crawl round evicts its own
compiled classes before the next round reuses them, so every round
recompiles its whole-stage-codegen sources (and the JIT recompiles the
new classes). ``get_spark``'s driver JVM options
(``session.DRIVER_JAVA_OPTIONS``, a C1-only JIT) are not passed: they
pay off in a short-lived JVM that runs a few rounds, and a driver that
drains a frontier lives for many. Each round's ``jit_s`` (summed in the
printed summary) is the driver's JIT time in that round.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain `python scripts/run_crawl.py` works too: put the repo root on the
# path (spark-submit --py-files makes this a no-op)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="commoncrawl_spark crawl driver")
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--cdx", required=True, help="CDX parquet (or .jsonl) path")
    ap.add_argument("--robots", default=None, help="robots parquet path")
    ap.add_argument("--checkpoint", required=True, help="state directory")
    ap.add_argument("--budget", type=int, default=200, help="per-host per-round cap")
    ap.add_argument("--round-seconds", type=float, default=None,
                    help="derive per-host budgets from robots crawl_delay_s")
    ap.add_argument("--max-rounds", type=int, default=None)
    ap.add_argument("--max-retries", type=int, default=3)
    ap.add_argument("--seed", action="store_true",
                    help="(re)seed the frontier from --cdx before running")
    ap.add_argument("--export-shards", default=None, metavar="DIR",
                    help="after the run, export the articles table as "
                         "size-bounded training shards under DIR")
    ap.add_argument("--export-tars", default=None, metavar="DIR",
                    help="after the run, export the article texts as "
                         "byte-deterministic WebDataset tar shards")
    ap.add_argument("--shard-bytes", type=int, default=256 * 1024 * 1024,
                    help="target bytes per shard for --export-shards")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from commoncrawl_spark.plans.frontier import CrawlJob
    from commoncrawl_spark.sources.cdx import read_cdx_jsonl

    if SparkSession.getActiveSession() is not None:
        spark = SparkSession.getActiveSession()  # driving session provided
    elif os.environ.get("PYSPARK_GATEWAY_PORT"):
        # under spark-submit the JVM is already up with the submitted conf
        # (--master, --py-files, executor settings): build on it verbatim
        # so --py-files is what ships the package to the workers
        spark = SparkSession.builder.getOrCreate()
    else:
        # standalone python invocation: get_spark ships the package to
        # workers (the local equivalent of --py-files)
        from commoncrawl_spark.session import get_spark

        spark = get_spark("commoncrawl-spark-crawl")
    job = CrawlJob(
        spark, args.checkpoint,
        budget_per_host=args.budget,
        max_retries=args.max_retries,
        round_seconds=args.round_seconds,
    )
    if args.seed or not job.frontier.exists():
        cdx = (
            read_cdx_jsonl(spark, args.cdx)
            if args.cdx.endswith((".jsonl", ".json"))
            else spark.read.parquet(args.cdx)
        )
        n = job.seed_from_cdx(cdx)
        print(json.dumps({"seeded": n}), file=sys.stderr)

    pages = spark.read.parquet(args.pages)
    robots = spark.read.parquet(args.robots) if args.robots else None
    rounds = job.run(pages, robots=robots, max_rounds=args.max_rounds)
    job.release()  # the exports below need no seen state
    summary = {
        "rounds": len(rounds),
        "fetched": sum(r["fetched"] for r in rounds),
        "extract_ok": sum(r["extract_ok"] for r in rounds),
        "wall_s": round(sum(r["wall_s"] for r in rounds), 2),
        "jit_s": round(sum(r["jit_s"] for r in rounds), 2),
        "articles_total": job.articles_df().count() if rounds else 0,
    }
    if args.export_shards:
        from commoncrawl_spark.tables import verify_shards, write_shards

        if job.articles.exists():
            manifest = write_shards(
                job.articles_df(), args.export_shards, key="url",
                target_bytes=args.shard_bytes)
            check = verify_shards(spark, args.export_shards)
            summary["export"] = {
                "dir": args.export_shards,
                "n_shards": manifest["n_shards"],
                "rows": manifest["total_rows"],
                "bytes": manifest["total_bytes"],
                "verified": check["ok"],
            }
        else:
            # zero rounds on a fresh checkpoint: nothing to export is a
            # reportable outcome, not a crash
            summary["export"] = {"dir": args.export_shards,
                                 "skipped": "no articles table"}
    if args.export_tars:
        from commoncrawl_spark.tables import (
            verify_tar_shards,
            write_tar_shards,
        )

        if job.articles.exists():
            manifest = write_tar_shards(
                job.articles_df(), args.export_tars, key="url",
                target_bytes=args.shard_bytes)
            check = verify_tar_shards(args.export_tars)
            summary["export_tars"] = {
                "dir": args.export_tars,
                "n_shards": manifest["n_shards"],
                "rows": manifest["total_rows"],
                "verified": check["ok"],
            }
        else:
            summary["export_tars"] = {"dir": args.export_tars,
                                      "skipped": "no articles table"}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
