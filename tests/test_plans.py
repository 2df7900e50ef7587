"""Physical-plan assertions: the operators must not only be correct but
produce the plans a 100 TB deployment needs — predicate pushdown into the
parquet scan, column pruning, broadcast joins where a side is bounded,
map-side partial aggregation, and no Python in JVM-expressible paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.plans.explain import plan_string as plan_of


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.mark.spark
def test_filter_pushdown_reaches_scan(docs):
    plan = plan_of(docs.filter(F.col("n_chars") > 200).select("doc_id"))
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,200)]" in plan


@pytest.mark.spark
def test_column_pruning(docs):
    plan = plan_of(docs.select("doc_id"))
    assert "ReadSchema: struct<doc_id:bigint>" in plan  # text column never read


@pytest.mark.spark
def test_analytics_stay_jvm_side(spark, docs):
    from commoncrawl_spark.operators.analytics import explode_count, tokens_col

    plan = plan_of(explode_count(docs, tokens_col(F.col("text")), top_n=10))
    assert "EvalPython" not in plan  # no Python UDF in the hot path
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


@pytest.mark.spark
def test_dedup_fold_is_single_shuffle_no_python(spark, sf_dir, fixture_dir):
    from commoncrawl_spark.operators.dedup import best_capture_per_url

    cdx = spark.read.parquet(f"{fixture_dir}/cdx.parquet")
    plan = plan_of(best_capture_per_url(cdx), mode="simple")
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # one shuffle, on the key


@pytest.mark.spark
def test_fetch_join_broadcasts_the_batch(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    batch = spark.read.parquet(f"{fixture_dir}/cdx.parquet").limit(100).select("url")
    hits = pages.select("url", "html").join(F.broadcast(batch), "url", "inner")
    plan = plan_of(hits)
    assert "BroadcastHashJoin" in plan  # pages side never shuffles


@pytest.mark.spark
def test_bucketed_join_fat_side_never_shuffles(spark, fixture_dir, tmp_path):
    """The package bucketed layout (tables.write_bucketed) must give the
    fetch join its scale shape: with broadcast off, joining a slim probe
    frame against the bucketed pages table shuffles ONLY the probe side —
    the 100 TB side is read in place, one bucket per task."""
    from commoncrawl_spark.tables import write_bucketed

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    pb = write_bucketed(pages, "t_pages_bucketed_plan", 8, "url")
    batch = spark.createDataFrame(
        [(r["url"],) for r in pages.select("url").limit(40).collect()],
        "url string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = pb.select("url", "html").join(batch, "url")
        simple = plan_of(joined, "simple")
        formatted = plan_of(joined, "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert simple.count("Exchange hashpartitioning") == 1  # probe side only
    assert "SortMergeJoin" in simple
    # the bucketed scan declares its bucketing: no exchange above it
    assert "Bucketed: true" in formatted


@pytest.mark.spark
def test_seen_anti_join_shape(spark, fixture_dir):
    from commoncrawl_spark.operators.seen_set import anti_join_seen, with_url_key

    keyed = with_url_key(spark.read.parquet(f"{fixture_dir}/pages.parquet"))
    seen = keyed.select("url_sha1").limit(50)
    plan = plan_of(anti_join_seen(keyed, seen))
    assert "LeftAnti" in plan


@pytest.mark.spark
def test_simhash_minhash_are_narrow(spark, docs):
    from commoncrawl_spark.operators.text_dedup import minhash_signature, simhash_col

    df = docs.select(
        simhash_col(F.col("text")).alias("s"),
        minhash_signature(F.col("text")).alias("m"),
    )
    plan = plan_of(df)
    assert "Exchange" not in plan  # per-row expressions: zero shuffles
    assert "EvalPython" not in plan


@pytest.mark.spark
def test_extraction_is_arrow_batched(spark, fixture_dir):
    from commoncrawl_spark.operators.extraction import extract_articles

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    plan = plan_of(extract_articles(pages))
    # vectorized Arrow map operator, not row-at-a-time Python; MapInPandas
    # (vs a pandas_udf expression) is also the placement barrier that keeps
    # extraction after the fetch join (see operators/extraction.py)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time would be this


@pytest.mark.spark
def test_extraction_stays_above_fetch_join(spark, fixture_dir):
    """Regression: as a pandas_udf EXPRESSION, extraction (dragged by the
    article.error filter) was pushed below the fetch join by
    PushPredicateThroughJoin — evaluated twice and forcing the join to
    shuffle fat extracted rows. The MapInPandas barrier must keep a single
    extraction above the join: no python eval anywhere in the join subtree."""
    from pyspark.sql import functions as F

    from commoncrawl_spark.operators.extraction import extract_articles, split_articles

    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    frontier = pages.select("url").limit(10)
    fetch = frontier.join(pages.select("url", "html"), "url")
    ok, _failed = split_articles(extract_articles(fetch))
    plan = plan_of(ok, mode="simple")  # tree only: each operator printed once
    assert plan.count("MapInPandas") == 1  # evaluated exactly once
    join_pos = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"),
                   plan.find("ShuffledHashJoin"))
    assert join_pos != -1
    # physical plans print top-down: the single MapInPandas must appear
    # ABOVE (before) the join operator in the tree
    assert plan.find("MapInPandas") < join_pos


@pytest.mark.spark
def test_task_fanout_is_narrow_codegen(spark):
    """S7 fan-out must be a generated column: no shuffle, no Python —
    a 114-crawl x thousands-of-pages expansion stays executor-side."""
    from commoncrawl_spark.sources.tasks import tasks_from_indexes

    idx = spark.createDataFrame(
        [("CC-MAIN-2024-10", 5), ("CC-MAIN-2024-18", 3)], "index string, pages int"
    )
    plan = plan_of(tasks_from_indexes(idx, "example.org/*"))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan  # explode(sequence) is narrow
    assert "Generate" in plan


@pytest.mark.spark
def test_near_dedup_pipeline_never_cross_joins(spark, docs):
    """The composed near-dedup must meet candidates only through the
    (band, bucket) equi-join — an all-pairs plan here would be quadratic
    at corpus scale."""
    from commoncrawl_spark.operators import text_dedup
    from scripts.plan_audit import cut_frames

    # each slim pair stage (candidates, then verified pairs) is cut
    # eagerly, which truncates the returned plan to RDD scans: the
    # frames the stages cut carry the joins this test pins
    with cut_frames() as cuts:
        out = text_dedup.drop_near_duplicates(docs.select("doc_id", "text"))
    assert len(cuts) == 2
    for df in [*cuts, out]:
        plan = plan_of(df, mode="simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
