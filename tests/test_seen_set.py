"""Seen-set membership: exact anti-join, Bloom prefilter (zero false
negatives, bounded false positives), composed scalable path exactness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.operators.cuckoo import CuckooSeenSet
from commoncrawl_spark.operators.seen_set import (
    BloomSeenSet,
    anti_join_seen,
    anti_join_seen_scalable,
    bloom_prefilter,
    build_bloom_table,
    build_table,
    prefilter,
    with_url_key,
)

# the generational state tests run over both filter kernels
STATES = pytest.mark.parametrize(
    "state", [BloomSeenSet, CuckooSeenSet], ids=["bloom", "cuckoo"])


@pytest.fixture(scope="module")
def keyed(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").select("url")
    return with_url_key(pages).cache()


@pytest.mark.spark
def test_anti_join_exact(spark, keyed):
    seen = keyed.filter(F.crc32(F.col("url")) % 3 == 0).select("url_sha1")
    out = anti_join_seen(keyed, seen)
    seen_keys = {r[0] for r in seen.collect()}
    got = {r["url_sha1"] for r in out.select("url_sha1").collect()}
    all_keys = {r["url_sha1"] for r in keyed.collect()}
    assert got == all_keys - seen_keys


@pytest.mark.spark
def test_bloom_zero_false_negatives(spark, keyed):
    seen = keyed.select("url_sha1").distinct()
    blooms = build_bloom_table(seen, n_buckets=16, fp_rate=0.01)
    flagged = bloom_prefilter(seen, blooms, n_buckets=16)
    n_seen = seen.count()
    n_hit = flagged.filter(F.col("_maybe_seen")).count()
    assert n_hit == n_seen  # every member must be flagged


@pytest.mark.spark
def test_bloom_fp_rate_bounded(spark, keyed):
    seen = keyed.select("url_sha1").distinct()
    # disjoint probe set: sha1 of different strings
    probe = (
        spark.range(5000)
        .select(F.sha1(F.concat(F.lit("unseen-"), F.col("id"))).alias("url_sha1"))
    )
    blooms = build_bloom_table(seen, n_buckets=16, fp_rate=0.01)
    flagged = bloom_prefilter(probe, blooms, n_buckets=16)
    fp = flagged.filter(F.col("_maybe_seen")).count()
    assert fp / 5000 < 0.05  # target 1%, generous bound for small buckets


@pytest.mark.spark
def test_bloom_no_driver_collect(spark, keyed, monkeypatch):
    """Scale-path invariant: the blob table must stay distributed — no
    DataFrame.collect() (and no sc.broadcast of blobs) anywhere in the
    build/probe/anti-join composition (VERDICT r01 'What's wrong' #3)."""
    from pyspark.sql import DataFrame

    def _no_collect(self, *a, **k):
        raise AssertionError("driver-side collect() in the bloom path")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    monkeypatch.setattr(
        spark.sparkContext, "broadcast",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("driver-side broadcast in the bloom path")),
    )
    seen = keyed.filter(F.crc32(F.col("url")) % 4 == 0).select("url_sha1")
    out = anti_join_seen_scalable(keyed, seen, n_buckets=8)
    assert out.count() > 0  # runs end-to-end without touching the driver


@pytest.mark.spark
def test_bloom_probe_is_cogrouped(spark, keyed):
    """The probe plan is a FlatMapCoGroupsInPandas over (candidates x
    blobs) — each task holds one bucket's blob; no broadcast exchange."""
    seen = keyed.select("url_sha1").distinct()
    blooms = build_bloom_table(seen, n_buckets=8)
    from commoncrawl_spark.plans.explain import plan_string

    plan = plan_string(bloom_prefilter(keyed, blooms, n_buckets=8), "simple")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan


@pytest.mark.spark
def test_scalable_anti_join_equals_exact(spark, keyed):
    seen = keyed.filter(F.crc32(F.col("url")) % 4 == 0).select("url_sha1")
    exact = {r["url_sha1"] for r in anti_join_seen(keyed, seen).collect()}
    scalable = {
        r["url_sha1"]
        for r in anti_join_seen_scalable(keyed, seen, n_buckets=8).collect()
    }
    assert scalable == exact


def _blob_rows(blobs, buckets=None):
    """(bucket, size, n_keys, content) per blob. Bloom bits are a pure
    function of a bucket's keys; a cuckoo table's slot layout depends on
    insert order, so its content is the multiset of fingerprints it
    stores (table slots and spill)."""
    out = []
    for r in blobs.collect():
        if buckets is not None and r["bucket"] not in buckets:
            continue
        d = r.asDict()
        if "bloom" in d:
            out.append((d["bucket"], d["m_bits"], d["n_keys"],
                        (d["k_hashes"], bytes(d["bloom"]))))
        else:
            table = np.frombuffer(d["table"], np.uint16)
            spill = np.frombuffer(d["spill"], np.uint64) & 0xFFFF
            fps = sorted(table[table != 0].tolist() + spill.tolist())
            out.append((d["bucket"], d["n_slots"], d["n_keys"], fps))
    return sorted(out)


def _sha_keys(spark, prefix, n):
    return spark.range(n).select(
        F.sha1(F.concat(F.lit(prefix), F.col("id").cast("string")))
        .alias("url_sha1"))


@pytest.mark.spark
@STATES
def test_seen_set_adds_stay_exact_and_within_fpr(spark, state):
    """After several delta-sized adds (keys folded into blobs sized with
    headroom; the first delta fits every bucket, the later ones push
    some past capacity), ``unseen`` over every key still equals the
    exact anti-join — no false negatives — and the measured FPR on fresh
    probes stays within test_bloom_fpr_within_budget's budget."""
    parts = [_sha_keys(spark, f"p{i}-", n)
             for i, n in enumerate((3000, 500, 1500, 3000))]
    s = state(parts[0], n_buckets=16)
    size = s.kernel.size_col
    sizes = {r["bucket"]: r[size] for r in s.blobs.collect()}
    s.add(parts[1])
    # a delta within every bucket's headroom is folded, never rebuilt
    assert {r["bucket"]: r[size] for r in s.blobs.collect()} == sizes
    for p in parts[2:]:
        s.add(p)
    assert len(s._gens) == 4
    rows = s.blobs.collect()
    assert sum(r["n_keys"] for r in rows) == 8000
    assert any(r[size] != sizes[r["bucket"]] for r in rows)

    everything = parts[0]
    for p in parts[1:]:
        everything = everything.unionByName(p)
    fresh = _sha_keys(spark, "f-", 5000)
    probe = everything.unionByName(fresh)
    got = {r["url_sha1"] for r in s.unseen(probe).collect()}
    want = {r["url_sha1"] for r in anti_join_seen(probe, everything).collect()}
    assert got == want
    fp = (prefilter(fresh, s.blobs, s.kernel, 16)
          .filter(F.col("_maybe_seen")).count())
    assert fp / 5000 < 0.02
    s.release()


@pytest.mark.spark
@STATES
def test_seen_set_capacity_rebuild_and_compaction_equal_fresh_build(
        spark, state):
    """The two points where the state rebuilds blobs from key history
    give a fresh build of the same keys (blobs are functions of a
    bucket's keys and the headroom): a delta that pushes buckets past
    capacity rebuilds those buckets, and a compaction rebuilds every
    blob."""
    a, b = _sha_keys(spark, "a-", 1000), _sha_keys(spark, "b-", 4000)
    s = state(a, n_buckets=8, max_generations=3)
    size = s.kernel.size_col
    before = {r["bucket"]: r[size] for r in s.blobs.collect()}
    s.add(b)  # 5x the keys: past every bucket's headroom
    rows = s.blobs.collect()
    rebuilt = {r["bucket"] for r in rows if r[size] != before[r["bucket"]]}
    assert rebuilt == set(before)
    fresh = build_table(a.unionByName(b), s.kernel, n_buckets=8)
    assert _blob_rows(s.blobs, rebuilt) == _blob_rows(fresh, rebuilt)

    c, d = _sha_keys(spark, "c-", 100), _sha_keys(spark, "d-", 100)
    s.add(c)
    s.add(d)  # 4 generations > 3: compacted
    assert len(s._gens) == 1
    fresh = build_table(
        a.unionByName(b).unionByName(c).unionByName(d), s.kernel,
        n_buckets=8)
    assert _blob_rows(s.blobs) == _blob_rows(fresh)
    s.release()


@pytest.mark.spark
@STATES
def test_seen_set_add_from_committed_files(spark, tmp_path, state):
    """A delta read back from a snapshot commit's own files (stable
    storage) joins the state with no lineage cut, and an empty one is a
    no-op."""
    from commoncrawl_spark.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "seen"))
    t.append(_sha_keys(spark, "a-", 800))
    s = state(t.read(spark), n_buckets=8)
    t.append(_sha_keys(spark, "b-", 300))
    assert t.snapshot()["added_count"] == 300
    s.add(t.read_added(spark), n_new=t.snapshot()["added_count"])
    s.add(spark.createDataFrame([], "url_sha1 string"), n_new=0)
    assert len(s._gens) == 2
    # the new generation scans the commit's files, not a checkpoint
    plan = s._gens[1]._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" not in plan and "parquet" in plan.lower()
    probe = t.read(spark).unionByName(_sha_keys(spark, "f-", 500))
    got = {r["url_sha1"] for r in s.unseen(probe).collect()}
    assert got == {r["url_sha1"] for r in
                   _sha_keys(spark, "f-", 500).collect()}
    s.release()


def _pinned_rdds(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keySet())


@pytest.mark.spark
@STATES
def test_seen_set_adds_keep_pinned_rdds_bounded(spark, tmp_path, state):
    """Every frame an add drops — the previous blob table (a cut), a
    folded table whose buckets were then rebuilt, the generations a
    compaction merges — is released, not merely unpersisted (which frees
    nothing on a cut): after any number of adds the state pins at most
    one RDD per generation, one for a compacted generation's cut and one
    for the blobs; release() frees them all."""
    from commoncrawl_spark.tables import SnapshotTable

    sc = spark.sparkContext
    t = SnapshotTable(str(tmp_path / "seen"))
    t.append(_sha_keys(spark, "a-", 400))
    before = _pinned_rdds(sc)
    s = state(t.read(spark), n_buckets=8, max_generations=3)
    for i in range(8):
        # growing deltas: some adds outgrow bucket capacity and rebuild
        t.append(_sha_keys(spark, f"k{i}-", 100 * (i + 1)))
        s.add(t.read_added(spark), n_new=t.snapshot()["added_count"])
        assert len(_pinned_rdds(sc) - before) <= s.max_generations + 2, i
    s.release()
    assert _pinned_rdds(sc) - before == set()


@pytest.mark.spark
def test_bloom_seen_set_unseen_is_exact(spark, keyed):
    seen = keyed.filter(F.crc32("url") % 3 == 0).select("url_sha1")
    s = BloomSeenSet(seen, n_buckets=8)
    got = {r["url_sha1"] for r in s.unseen(keyed).collect()}
    want = {r["url_sha1"] for r in anti_join_seen(keyed, seen).collect()}
    assert got == want
    s.release()


@pytest.mark.spark
@STATES
def test_seen_set_verify_never_reshuffles_seen(spark, keyed, state):
    """The steady-state scale property: generations are persisted
    hash-partitioned on the key, so the verify fold adds ZERO exchanges
    per generation — the plan's exchange count is identical with 1 and
    with 4 generations (only the survivors and the bucket cogroup
    shuffle), and the cached generations feed the joins directly."""
    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # exclude exchanges stored INSIDE cached relations (executed once
        # at generation materialization, not per probe)
        outside, depth_in_cache = 0, None
        for line in plan.splitlines():
            indent = len(line) - len(line.lstrip(" :+-"))
            if depth_in_cache is not None and indent > depth_in_cache:
                continue
            depth_in_cache = None
            if "InMemoryRelation" in line:
                depth_in_cache = indent
            elif "Exchange hashpartitioning" in line:
                outside += 1
        return outside

    quarters = [keyed.filter(F.crc32("url") % 4 == i).select("url_sha1")
                for i in range(4)]
    s1 = state(quarters[0], n_buckets=8)
    one_gen = exchanges(s1.unseen(keyed))
    s4 = state(quarters[0], n_buckets=8, max_generations=10)
    for q in quarters[1:]:
        s4.add(q)
    assert len(s4._gens) == 4
    four_gen = exchanges(s4.unseen(keyed))
    assert four_gen == one_gen, (one_gen, four_gen)
    # and the result is still exact
    got = {r["url_sha1"] for r in s4.unseen(keyed).collect()}
    want = {r["url_sha1"] for r in anti_join_seen(
        keyed, quarters[0].unionByName(quarters[1])
        .unionByName(quarters[2]).unionByName(quarters[3])).collect()}
    assert got == want
    s1.release()
    s4.release()


@pytest.mark.spark
@STATES
def test_seen_set_compaction_preserves_membership(spark, keyed, state):
    """Adds past max_generations trigger compaction; membership answers
    are unchanged before/after and generation count collapses to one."""
    parts = [keyed.filter(F.crc32("url") % 3 == i).select("url_sha1")
             for i in range(3)]
    s = state(parts[0], n_buckets=8, max_generations=2)
    s.add(parts[1])
    s.add(parts[2])  # 3 gens > 2 -> compacted
    assert len(s._gens) == 1
    got = {r["url_sha1"] for r in s.unseen(keyed).collect()}
    assert got == set()  # every key was added
    s.release()


@pytest.mark.spark
def test_bloom_fpr_within_budget(spark):
    """Measured FPR on guaranteed-fresh probes stays within ~2x the
    configured budget (the sizing formula's slack), and NO true
    positive is ever missed (zero false negatives — the Bloom
    guarantee the anti-join's correctness rests on)."""
    from pyspark.sql import functions as F

    from commoncrawl_spark.operators.seen_set import (
        bloom_prefilter,
        build_bloom_table,
    )

    seen = spark.range(5000).select(
        F.sha1(F.concat(F.lit("s-"), F.col("id").cast("string")))
        .alias("url_sha1"))
    fresh = spark.range(5000).select(
        F.sha1(F.concat(F.lit("f-"), F.col("id").cast("string")))
        .alias("url_sha1"))
    blooms = build_bloom_table(seen, n_buckets=16, fp_rate=0.01)
    fp = (bloom_prefilter(fresh, blooms, 16)
          .filter(F.col("_maybe_seen")).count())
    assert fp / 5000 < 0.02
    # zero false negatives: every seen key must flag maybe-seen
    misses = (bloom_prefilter(seen, blooms, 16)
              .filter(~F.col("_maybe_seen")).count())
    assert misses == 0
