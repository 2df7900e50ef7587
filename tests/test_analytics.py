"""Analytics operators (A7-A11): the DuckDB oracle covers exact values via
the driver contract; here we pin the scale paths and edge cases."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.operators.analytics import describe_numeric


@pytest.mark.spark
def test_percentile_approx_tracks_exact(spark):
    """The scale path (percentile_approx, bounded memory) must stay within
    sketch tolerance of the exact path on a skewed distribution."""
    df = spark.range(20_000).select(
        (F.col("id") % 100 + F.when(F.col("id") % 17 == 0, 5_000).otherwise(0))
        .cast("double").alias("v")
    )
    exact = describe_numeric(df, "v", exact=True).first().asDict()
    approx = describe_numeric(df, "v", exact=False).first().asDict()
    assert exact["n"] == approx["n"]
    assert exact["min"] == approx["min"] and exact["max"] == approx["max"]
    spread = exact["max"] - exact["min"]
    for k in ("p25", "p50", "p75", "p90", "p95", "p99"):
        assert abs(exact[k] - approx[k]) <= 0.01 * spread + 1e-6, k


@pytest.mark.spark
def test_describe_numeric_ignores_nulls(spark):
    df = spark.createDataFrame(
        [(1.0,), (None,), (3.0,), (None,)], "v double"
    )
    row = describe_numeric(df, "v").first()
    assert row["n"] == 2 and row["min"] == 1.0 and row["max"] == 3.0
    # default is the sketch path, which returns an actual data value
    # (never an interpolation) — either element is a valid median of two
    assert row["p50"] in (1.0, 3.0)
    exact = describe_numeric(df, "v", exact=True).first()
    assert exact["p50"] == 2.0


@pytest.mark.spark
def test_tfidf_top_terms_hand_computed(spark):
    """tf * ln(N/df): corpus-unique terms outrank ubiquitous ones;
    ties break on token; everywhere-terms score exactly 0."""
    from commoncrawl_spark.operators.analytics import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "apple apple shared"), (2, "banana shared"), (3, "shared")],
        "doc_id long, text string")
    rows = tfidf_top_terms(df, k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["token"], r["score"])
           for r in rows}
    # N=3; df: apple=1, banana=1, shared=3 (idf 0)
    assert got[(1, 1)] == ("apple", round(2 * math.log(3.0), 6))
    assert got[(1, 2)] == ("shared", 0.0)
    assert got[(2, 1)] == ("banana", round(math.log(3.0), 6))
    assert got[(3, 1)] == ("shared", 0.0)


@pytest.mark.spark
def test_tfidf_plan_is_jvm_only(spark):
    from commoncrawl_spark.operators.analytics import tfidf_top_terms

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = (tfidf_top_terms(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan and "CartesianProduct" not in plan


@pytest.mark.spark
def test_percentile_buckets_semantics(spark):
    """ntile semantics per group with deterministic ties: 6 rows in 3
    buckets -> 2 per bucket, lowest scores in bucket 1; groups are
    independent."""
    from commoncrawl_spark.operators.analytics import percentile_buckets

    rows = [(i, "en", float(i)) for i in range(6)] + [
        (10, "de", 5.0), (11, "de", 1.0)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, q double")
    got = {r["doc_id"]: r["bucket"] for r in percentile_buckets(
        df, "q", by="lang").collect()}
    assert [got[i] for i in range(6)] == [1, 1, 2, 2, 3, 3]
    assert got[11] < got[10]  # de group bucketed independently


@pytest.mark.spark
def test_percentile_buckets_single_shuffle_plan(spark):
    from commoncrawl_spark.operators.analytics import percentile_buckets

    df = spark.createDataFrame(
        [(1, "en", 0.5)], "doc_id long, lang string, q double")
    plan = (percentile_buckets(df, "q", by="lang")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


@pytest.mark.spark
def test_tfidf_df_join_broadcasts_vocab(spark):
    """The corpus-scale tf stream must never shuffle on the token key:
    the vocab-sized df table broadcasts explicitly (AQE's late SMJ->BHJ
    conversion would still write tf's token-keyed shuffle files)."""
    from commoncrawl_spark.operators.analytics import tfidf_top_terms

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma token{i}") for i in range(30)],
        "doc_id long, text string")
    out = tfidf_top_terms(df, k=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.spark
def test_key_skew_profile_values_and_order(spark):
    from commoncrawl_spark.operators.analytics import key_skew_profile

    df = spark.createDataFrame(
        [(k,) for k in
         ["a"] * 5 + ["b"] * 3 + ["c"] * 3 + ["d"] * 1],
        "k string")
    got = key_skew_profile(df, "k", top_k=3).collect()
    assert [(r["rank"], r["key"], r["cnt"]) for r in got] == [
        (1, "a", 5), (2, "b", 3), (3, "c", 3)]  # tie b<c by key
    assert got[0]["share"] == round(5 / 12, 6)


@pytest.mark.spark
def test_key_skew_profile_plan_bounded_topk(spark):
    from commoncrawl_spark.operators.analytics import key_skew_profile

    df = spark.createDataFrame(
        [(i % 7,) for i in range(400)], "k long")
    out = key_skew_profile(df, "k", top_k=5)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # per-partition partial top-k, never a partition-less window over
    # the full key set; rank comes from the bounded array fold
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


@pytest.mark.spark
def test_sqrt_allocation_quotas(spark):
    from commoncrawl_spark.operators.analytics import sqrt_allocation

    # strata 100 / 25 / 1 rows: sqrt weights 10 / 5 / 1
    df = spark.createDataFrame(
        [("big",)] * 100 + [("mid",)] * 25 + [("tiny",)],
        "host string")
    got = {r["host"]: r for r in
           sqrt_allocation(df, "host", total_n=32).collect()}
    assert got["big"]["stratum_size"] == 100
    assert got["big"]["quota"] == 20      # 32*10/16
    assert got["mid"]["quota"] == 10      # 32*5/16
    assert got["tiny"]["quota"] == 2      # 32*1/16
    # proportional would give big 25.4; equal would give tiny 10.7 —
    # sqrt sits between and still floors to >= 1 for any stratum


@pytest.mark.spark
def test_stratified_sample_deterministic_and_capped(spark):
    import hashlib

    from commoncrawl_spark.operators.analytics import stratified_sample

    rows = [(i, "h%d" % (i % 3)) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    got = stratified_sample(
        df, "host", 4, key_cols=("doc_id",), seed=7).collect()
    by_host = {}
    for r in got:
        by_host.setdefault(r["host"], []).append(r["doc_id"])
    assert all(len(v) == 4 for v in by_host.values())
    # the pick is the hash-smallest ids — pure function of the data
    for h, ids in by_host.items():
        member = [i for i, hh in rows if hh == h]
        key = lambda i: hashlib.md5(("7\x1f%d" % i).encode()).hexdigest()
        assert sorted(ids) == sorted(sorted(member, key=key)[:4])
    # repartitioned input picks the identical sample
    again = stratified_sample(
        df.repartition(13), "host", 4, key_cols=("doc_id",), seed=7
    ).collect()
    assert {(r["doc_id"], r["host"]) for r in again} == \
        {(r["doc_id"], r["host"]) for r in got}


@pytest.mark.spark
def test_stratified_sample_quota_frame_join_broadcasts(spark):
    from commoncrawl_spark.operators.analytics import (
        sqrt_allocation, stratified_sample)

    df = spark.createDataFrame(
        [(i, "h%d" % (i % 5)) for i in range(200)],
        "doc_id long, host string")
    out = stratified_sample(
        df, "host", sqrt_allocation(df, "host", 40),
        key_cols=("doc_id",))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the per-stratum rank partitions by the REAL stratum key (one hash
    # exchange), and the slim quota frame broadcasts onto it
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


@pytest.mark.spark
def test_stratified_sample_rejects_missing_key_cols(spark):
    """Without row-identifying key_cols the hash is constant per
    stratum and the pick would be partition-order-dependent — the
    operator must refuse rather than silently sample nondeterministically."""
    from commoncrawl_spark.operators.analytics import stratified_sample

    df = spark.createDataFrame([(1, "h")], "doc_id long, host string")
    with pytest.raises(ValueError, match="key_cols"):
        stratified_sample(df, "host", 1)


@pytest.mark.spark
def test_pmi_hand_computed(spark):
    """PMI(a, b) over corpus {'a b' x2, 'a c'}: ln(c12*N^2/(M*c1*c2))
    = ln(2*36/(3*3*2)) = ln 4; the min_count=2 gate drops (a, c)."""
    from commoncrawl_spark.operators.analytics import pmi_collocations

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string")
    got = pmi_collocations(df, min_count=2, top_k=10).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["w1"], r["w2"], r["c12"]) == ("a", "b", 2)
    assert r["pmi"] == pytest.approx(math.log(4.0), abs=1e-6)


@pytest.mark.spark
def test_pmi_total_bigram_mass_counts_filtered_pairs(spark):
    """M must count ALL adjacent pairs, not just min_count survivors —
    dropping (a, c) from M would inflate every surviving PMI."""
    from commoncrawl_spark.operators.analytics import pmi_collocations

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "x y z w")],
        "doc_id long, text string")
    # N = 8 tokens, M = 2 + 3 = 5 pairs; c12(a,b)=2, c(a)=c(b)=2
    got = pmi_collocations(df, min_count=2, top_k=10).collect()
    assert len(got) == 1
    want = math.log(2 * 8 * 8 / (5 * 2 * 2))
    assert got[0]["pmi"] == pytest.approx(want, abs=1e-6)


@pytest.mark.spark
def test_pmi_plan_topk_no_window(spark):
    from commoncrawl_spark.operators import analytics
    from scripts.plan_audit import cut_frames

    df = spark.createDataFrame(
        [(1, "a b a b a b a b")], "doc_id long, text string")
    with cut_frames() as cuts:
        analytics.pmi_collocations(df, min_count=1, top_k=5)
    plan = cuts[0]._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # map-side partial top-k
    assert "Window" not in plan
    assert "EvalPython" not in plan


@pytest.mark.spark
def test_funnel_strict_order_and_conversion(spark):
    """User 1 completes view->click->buy in order; user 2 clicks BEFORE
    viewing (click must not count); user 3 only views. Earliest-chain:
    user 2's later click (after the view) still advances them."""
    from commoncrawl_spark.operators.analytics import funnel

    rows = [
        (1, 10, "view"), (1, 20, "click"), (1, 30, "buy"),
        (2, 10, "click"), (2, 20, "view"),
        (3, 10, "view"),
        (2, 30, "click"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {r["step"]: (r["n_users"], r["conversion"])
           for r in funnel(ev, ["view", "click", "buy"]).collect()}
    assert got["view"] == (3, 1.0)
    assert got["click"] == (2, round(2 / 3, 6))
    assert got["buy"] == (1, round(1 / 3, 6))


@pytest.mark.spark
def test_funnel_same_ts_does_not_advance(spark):
    """Steps must be STRICTLY after the previous step's match — a
    simultaneous event is not progress."""
    from commoncrawl_spark.operators.analytics import funnel

    ev = spark.createDataFrame(
        [(1, 10, "view"), (1, 10, "click")],
        "user_id long, ts long, event_type string")
    got = {r["step"]: r["n_users"]
           for r in funnel(ev, ["view", "click"]).collect()}
    assert got == {"view": 1, "click": 0}
    with pytest.raises(ValueError, match="steps"):
        funnel(ev, [])


@pytest.mark.spark
def test_funnel_plan_no_window_no_python(spark):
    from commoncrawl_spark.operators.analytics import funnel

    ev = spark.createDataFrame(
        [(i % 5, i, "view" if i % 2 else "click") for i in range(40)],
        "user_id long, ts long, event_type string")
    out = funnel(ev, ["view", "click"])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.spark
def test_retention_cohorts_weekly(spark):
    """Two users first seen in epoch-week 0 (1970-01-01 start), one
    returns in week 1; one user first seen week 1. Rates are per-cohort."""
    from commoncrawl_spark.operators.analytics import retention_cohorts

    rows = [
        (1, "1970-01-01 10:00:00"), (1, "1970-01-09 10:00:00"),
        (2, "1970-01-02 10:00:00"),
        (3, "1970-01-09 10:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"))
    got = {(r["cohort"], r["periods_since"]): (r["n_users"], r["retention"])
           for r in retention_cohorts(ev).collect()}
    assert got[("1970-01-01", 0)] == (2, 1.0)
    assert got[("1970-01-01", 1)] == (1, 0.5)
    assert got[("1970-01-08", 0)] == (1, 1.0)
    with pytest.raises(ValueError, match="period_days"):
        retention_cohorts(ev, period_days=0)


@pytest.mark.spark
def test_vocabulary_growth_prefix_semantics(spark):
    """4 docs, cutoffs at ids 2 and 4 (n_points=2): vocab counts terms
    FIRST seen at or under the cutoff; repeats add tokens, not vocab."""
    from commoncrawl_spark.operators.analytics import vocabulary_growth

    df = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "a a"), (4, "d")],
        "doc_id long, text string")
    got = {r["point"]: (r["cutoff_id"], r["n_docs"], r["n_tokens"],
                        r["vocab"])
           for r in vocabulary_growth(df, n_points=2).collect()}
    assert got[1] == (2, 2, 4, 3)  # a b c
    assert got[2] == (4, 4, 7, 4)  # + d
    with pytest.raises(ValueError, match="n_points"):
        vocabulary_growth(df, n_points=0)


@pytest.mark.spark
def test_vocab_coverage_stats_exact_spectrum(spark):
    from commoncrawl_spark.operators.analytics import vocab_coverage_stats

    # corpus: a a a b b c d -> N=7, V=4, n1=2 (c,d), n2=1 (b)
    df = spark.createDataFrame([("a a a b b c d",)], "text string")
    r = vocab_coverage_stats(df).collect()[0]
    assert (r["n_tokens"], r["vocab_size"], r["singletons"],
            r["doubletons"]) == (7, 4, 2, 1)
    assert r["unseen_mass"] == round(2 / 7, 6)
    assert r["chao1_vocab"] == 4 + 4 / 2.0


@pytest.mark.spark
def test_vocab_coverage_stats_grouped_and_no_doubletons(spark):
    from commoncrawl_spark.operators.analytics import vocab_coverage_stats

    df = spark.createDataFrame(
        [("en", "x y z"), ("en", "x"), ("de", "nur ein wort")],
        "lang string, text string")
    got = {r["lang"]: r
           for r in vocab_coverage_stats(df, group_col="lang").collect()}
    assert got["en"]["n_tokens"] == 4 and got["en"]["vocab_size"] == 3
    # de: all singletons, no doubletons -> chao1 falls back to V
    assert got["de"]["chao1_vocab"] == 3.0
    assert got["de"]["unseen_mass"] == 1.0


@pytest.mark.spark
def test_term_drift_detects_burst_and_disappearance(spark):
    from commoncrawl_spark.operators.analytics import term_drift

    a = spark.createDataFrame(
        [("common words here",), ("common words vanish vanish",)],
        "text string")
    b = spark.createDataFrame(
        [("common words here",), ("common words burst burst burst",)],
        "text string")
    rows = term_drift(a, b, top_k=3).collect()
    by_term = {r["term"]: r for r in rows}
    assert "burst" in by_term and "vanish" in by_term
    assert by_term["burst"]["delta"] > 0 and by_term["burst"]["n_a"] == 0
    assert by_term["vanish"]["delta"] < 0
    assert by_term["burst"]["log_odds"] > 0


@pytest.mark.spark
def test_term_drift_smoothing_and_determinism(spark):
    from commoncrawl_spark.operators.analytics import term_drift

    a = spark.createDataFrame([("x y z",)], "text string")
    b = spark.createDataFrame([("x y q",)], "text string")
    r1 = [(r["term"], r["delta"]) for r in term_drift(a, b, 4).collect()]
    r2 = [(r["term"], r["delta"])
          for r in term_drift(a.repartition(3), b.repartition(2), 4)
          .collect()]
    assert r1 == r2
    # union vocab = {x,y,z,q}: totals 3 tokens + 4 vocab each side
    by = dict(r1)
    assert by["q"] == round(2 / 7 - 1 / 7, 9)


@pytest.mark.spark
def test_zipf_fit_recovers_planted_slope(spark):
    from commoncrawl_spark.operators.analytics import zipf_fit

    # plant an exact zipf corpus: term k appears floor(1000/k) times
    words = []
    for k in range(1, 51):
        words += [f"w{k:03d}"] * (1000 // k)
    df = spark.createDataFrame([(" ".join(words),)], "text string")
    r = zipf_fit(df, max_rank=50).collect()[0]
    assert r["n_points"] == 50
    assert -1.05 < r["slope"] < -0.95
    assert r["r2"] > 0.99
    # determinism across partitionings (quantized integer sums)
    r2 = zipf_fit(df.repartition(4), max_rank=50).collect()[0]
    assert (r["slope"], r["intercept"], r["r2"]) == \
        (r2["slope"], r2["intercept"], r2["r2"])


@pytest.mark.spark
def test_zipf_fit_flat_spam_flags(spark):
    from commoncrawl_spark.operators.analytics import zipf_fit

    # template spam: 40 terms all with identical frequency -> slope ~ 0
    df = spark.createDataFrame(
        [((" ".join(f"t{k}" for k in range(40)) + " ") * 10,)],
        "text string")
    r = zipf_fit(df, max_rank=40).collect()[0]
    assert abs(r["slope"]) < 0.01


@pytest.mark.spark
def test_ngram_diversity_repetition_vs_prose(spark):
    from commoncrawl_spark.operators.analytics import ngram_diversity

    df = spark.createDataFrame(
        [("loop", "a b a b a b"), ("prose", "x y z w")],
        "kind string, text string")
    got = {r["kind"]: r
           for r in ngram_diversity(df, group_col="kind").collect()}
    assert got["loop"]["distinct_1"] == round(2 / 6, 6)
    assert got["loop"]["distinct_2"] == round(2 / 5, 6)  # 'a b', 'b a'
    assert got["loop"]["distinct_3"] == 0.5
    assert got["prose"]["distinct_3"] == 1.0
    # ungrouped: single summary row via crossJoin composition
    one = ngram_diversity(df).collect()
    assert len(one) == 1 and one[0]["n1_total"] == 10


@pytest.mark.spark
def test_first_match_verdict_precedence_and_funnel(spark):
    from commoncrawl_spark.operators.analytics import (
        attribution_funnel,
        first_match_verdict,
    )

    df = spark.createDataFrame(
        [(1, 10, True), (2, 100, True), (3, 100, False), (4, 5, False)],
        "doc_id long, n_tokens long, is_dup boolean")
    tagged = first_match_verdict(df, [
        ("too_short", F.col("n_tokens") < 30),
        ("duplicate", F.col("is_dup")),
    ])
    got = {r["doc_id"]: r["verdict"] for r in tagged.collect()}
    # doc 1 is short AND dup: the FIRST rule in order claims it
    assert got == {1: "too_short", 2: "duplicate", 3: "kept",
                   4: "too_short"}
    funnel = {r["verdict"]: (r["n_docs"], r["share"])
              for r in attribution_funnel(tagged).collect()}
    assert funnel["too_short"] == (2, 0.5)
    assert funnel["kept"] == (1, 0.25)
