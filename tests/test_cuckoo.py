"""Cuckoo-filter seen set: zero false negatives, exact composed
anti-join, in-place deletion (recrawl eviction), in-place delta insert,
kick/spill overflow, and the no-driver-collect scale invariant."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.operators.cuckoo import (
    _ASSOC,
    _fp_index,
    _insert,
    _probe,
    _remove,
    CuckooSeenSet,
    anti_join_seen_cuckoo,
    build_cuckoo_table,
    cuckoo_prefilter,
)
from commoncrawl_spark.operators.seen_set import anti_join_seen, with_url_key


@pytest.fixture(scope="module")
def keyed(spark, fixture_dir):
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet").select("url")
    return with_url_key(pages).cache()


# ---------------------------------------------------------------------------
# numpy core: exhaustive small-scale invariants, no Spark
# ---------------------------------------------------------------------------

def _fake_keys(n, seed=0):
    """Deterministic 40-char fake sha1 hexes."""
    import hashlib

    return pd.Series(
        [hashlib.sha1(f"{seed}-{i}".encode()).hexdigest() for i in range(n)])


def test_insert_probe_no_false_negatives_dense():
    """Every inserted key probes present, even at load pushing into the
    kick chain and the spill list (tiny table forces both)."""
    keys = _fake_keys(200)
    n_slots = 32  # capacity 128 < 200 keys -> heavy kicks + guaranteed spill
    table = np.zeros(n_slots * _ASSOC, dtype=np.uint16)
    fp, i1 = _fp_index(keys, n_slots)
    spill = np.asarray(_insert(table, fp, i1, n_slots), dtype=np.uint64)
    assert spill.size > 0  # the overflow path really ran
    assert _probe(table, n_slots, spill, keys).all()


def test_remove_clears_exactly_one_occurrence():
    """Multiset deletion safety: two distinct keys sharing (fp, bucket
    orbit) occupy two slots; removing one leaves the other present."""
    # craft two "hex keys" identical in the first 12 chars (same fp, i1)
    a = "00ab12cd34ef" + "0" * 28
    b = "00ab12cd34ef" + "f" * 28
    keys = pd.Series([a, b])
    n_slots = 16
    table = np.zeros(n_slots * _ASSOC, dtype=np.uint16)
    fp, i1 = _fp_index(keys, n_slots)
    assert fp[0] == fp[1] and i1[0] == i1[1]
    spill = np.asarray(_insert(table, fp, i1, n_slots), dtype=np.uint64)
    assert (table != 0).sum() == 2  # duplicate fp stored twice
    spill = _remove(table, n_slots, spill, pd.Series([a]))
    assert (table != 0).sum() == 1
    assert _probe(table, n_slots, spill, pd.Series([b])).all()


def test_remove_absent_key_is_noop():
    keys = _fake_keys(50, seed=1)
    n_slots = 64
    table = np.zeros(n_slots * _ASSOC, dtype=np.uint16)
    fp, i1 = _fp_index(keys, n_slots)
    spill = np.asarray(_insert(table, fp, i1, n_slots), dtype=np.uint64)
    before = table.copy()
    spill2 = _remove(table, n_slots, spill, _fake_keys(20, seed=2))
    # absent keys may share a fingerprint+bucket only by 2^-16 chance at
    # this size; with these seeds nothing collides, so nothing changes
    assert np.array_equal(table, before) and np.array_equal(spill, spill2)


def test_insert_reuses_deletion_holes():
    """The vectorized insert locates free slots by scan, so slots freed
    by deletion are re-usable (no contiguous-fill assumption)."""
    keys = _fake_keys(120, seed=3)
    n_slots = 64  # capacity 256
    table = np.zeros(n_slots * _ASSOC, dtype=np.uint16)
    fp, i1 = _fp_index(keys, n_slots)
    spill = np.asarray(_insert(table, fp, i1, n_slots), dtype=np.uint64)
    spill = _remove(table, n_slots, spill, keys[:60])
    extra = _fake_keys(60, seed=4)
    fp2, i12 = _fp_index(extra, n_slots)
    spill2 = _insert(table, fp2, i12, n_slots)
    if spill2:
        spill = np.concatenate(
            [spill, np.asarray(spill2, dtype=np.uint64)])
    assert _probe(table, n_slots, spill, extra).all()
    assert _probe(table, n_slots, spill, keys[60:]).all()


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

@pytest.mark.spark
def test_cuckoo_zero_false_negatives(spark, keyed):
    seen = keyed.select("url_sha1").distinct()
    table = build_cuckoo_table(seen, n_buckets=16)
    flagged = cuckoo_prefilter(seen, table, n_buckets=16)
    assert flagged.filter(F.col("_maybe_seen")).count() == seen.count()


@pytest.mark.spark
def test_cuckoo_fp_rate_tiny(spark, keyed):
    """16-bit fingerprints: false positives should be far below Bloom's
    1% — generous 0.2% bound at this scale."""
    seen = keyed.select("url_sha1").distinct()
    probe = (
        spark.range(5000)
        .select(F.sha1(F.concat(F.lit("unseen-"), F.col("id"))).alias("url_sha1"))
    )
    table = build_cuckoo_table(seen, n_buckets=16)
    flagged = cuckoo_prefilter(probe, table, n_buckets=16)
    assert flagged.filter(F.col("_maybe_seen")).count() / 5000 < 0.002


@pytest.mark.spark
def test_cuckoo_anti_join_equals_exact(spark, keyed):
    seen = keyed.filter(F.crc32(F.col("url")) % 4 == 0).select("url_sha1")
    exact = {r["url_sha1"] for r in anti_join_seen(keyed, seen).collect()}
    got = {
        r["url_sha1"]
        for r in anti_join_seen_cuckoo(keyed, seen, n_buckets=8).collect()
    }
    assert got == exact


@pytest.mark.spark
def test_cuckoo_no_driver_collect(spark, keyed, monkeypatch):
    """Scale invariant shared with the Bloom path: blobs are built,
    edited, and probed executor-side — no collect(), no broadcast."""
    from pyspark.sql import DataFrame

    def _no_collect(self, *a, **k):
        raise AssertionError("driver-side collect() in the cuckoo path")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    monkeypatch.setattr(
        spark.sparkContext, "broadcast",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("driver-side broadcast in the cuckoo path")),
    )
    seen = keyed.filter(F.crc32(F.col("url")) % 4 == 0).select("url_sha1")
    out = anti_join_seen_cuckoo(keyed, seen, n_buckets=8)
    assert out.count() > 0


@pytest.mark.spark
def test_cuckoo_probe_is_cogrouped(spark, keyed):
    seen = keyed.select("url_sha1").distinct()
    table = build_cuckoo_table(seen, n_buckets=8)
    from commoncrawl_spark.plans.explain import plan_string

    plan = plan_string(cuckoo_prefilter(keyed, table, n_buckets=8), "simple")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan


@pytest.mark.spark
def test_cuckoo_seen_set_add_then_membership_exact(spark, keyed):
    """In-place delta insert: membership after add() equals the exact
    anti-join over the union — and only the delta was folded (the blob
    edit is a cogroup of delta keys with existing blobs)."""
    a = keyed.filter(F.crc32("url") % 2 == 0).select("url_sha1")
    b = keyed.filter(F.crc32("url") % 2 == 1).select("url_sha1")
    s = CuckooSeenSet(a, n_buckets=8)
    s.add(b)
    got = {r["url_sha1"] for r in s.unseen(keyed).collect()}
    assert got == set()  # every key is in a or b
    s.release()


@pytest.mark.spark
def test_cuckoo_seen_set_remove_makes_crawlable_again(spark, keyed):
    """Recrawl eviction end to end: removed keys come back from
    unseen(); untouched keys stay filtered; repeat-remove is a no-op."""
    seen = keyed.filter(F.crc32("url") % 3 == 0).select("url_sha1")
    evict = seen.filter(F.crc32(F.col("url_sha1")) % 2 == 0)
    s = CuckooSeenSet(seen, n_buckets=8)
    s.remove(evict)
    got = {r["url_sha1"] for r in s.unseen(keyed).collect()}
    want = {
        r["url_sha1"]
        for r in anti_join_seen(
            keyed, seen.join(evict, "url_sha1", "left_anti")).collect()
    }
    assert got == want
    # idempotent: evicting the same keys again changes nothing
    s.remove(evict)
    got2 = {r["url_sha1"] for r in s.unseen(keyed).collect()}
    assert got2 == want
    s.release()


@pytest.mark.spark
def test_cuckoo_seen_set_readd_after_remove(spark, keyed):
    """Full eviction lifecycle: remove -> crawl -> add marks seen again."""
    seen = keyed.filter(F.crc32("url") % 3 == 0).select("url_sha1")
    evict = seen.filter(F.crc32(F.col("url_sha1")) % 2 == 0)
    s = CuckooSeenSet(seen, n_buckets=8)
    s.remove(evict)
    s.add(evict)
    got = {r["url_sha1"] for r in s.unseen(keyed).collect()}
    want = {r["url_sha1"] for r in anti_join_seen(keyed, seen).collect()}
    assert got == want
    s.release()


@pytest.mark.spark
def test_cuckoo_seen_set_auto_rebuild_on_load(spark, keyed):
    """A bucket pushed past ~85% load by add() is rebuilt resized
    instead of spilling — the blob table's summed capacity grows and
    membership stays exact."""
    def capacity(s):
        return sum(r["n_slots"] for r in s.blobs.collect()) * _ASSOC

    half = keyed.filter(F.crc32("url") % 10 < 1).select("url_sha1")
    rest = keyed.filter(F.crc32("url") % 10 >= 1).select("url_sha1")
    s = CuckooSeenSet(half, n_buckets=4, headroom=1.1)
    cap0 = capacity(s)
    s.add(rest)  # 10x the keys: must trip the rebuild
    assert capacity(s) > cap0
    assert {r["url_sha1"] for r in s.unseen(keyed).collect()} == set()
    s.release()


@pytest.mark.spark
def test_cuckoo_seen_set_construction_runs_no_job(spark, keyed):
    """The state is lazy: the base generation and the blobs are built by
    the first probe that reads them, not by the constructor."""
    seen = keyed.select("url_sha1")
    sc = spark.sparkContext
    sc.setJobGroup("cuckoo-init", "cuckoo-init")
    try:
        s = CuckooSeenSet(seen, n_buckets=8)
        assert list(sc.statusTracker().getJobIdsForGroup("cuckoo-init")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert s.unseen(keyed).count() == 0
    s.release()


# ---------------------------------------------------------------------------
# property: random insert/remove workloads stay membership-exact
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    st.integers(0, 2**31 - 1),      # key-universe seed
    st.integers(1, 300),            # n inserted
    st.data(),
)
def test_cuckoo_core_membership_exact_under_workload(seed, n, data):
    """For ANY insert set and ANY removal subset (at a table size small
    enough to force kicks and spill): every still-present key probes
    positive (no false negatives, the exactness invariant), and removed
    keys only probe positive via genuine fingerprint collisions with
    still-present keys (false positives allowed, bounded by design)."""
    import hashlib

    keys = pd.Series(
        [hashlib.sha1(f"{seed}:{i}".encode()).hexdigest() for i in range(n)])
    n_slots = 16  # tiny: collisions, kicks, and spill all exercised
    table = np.zeros(n_slots * _ASSOC, dtype=np.uint16)
    fp, i1 = _fp_index(keys, n_slots)
    spill = np.asarray(_insert(table, fp, i1, n_slots), dtype=np.uint64)
    assert _probe(table, n_slots, spill, keys).all()

    k_remove = data.draw(st.integers(0, n))
    removed, kept = keys[:k_remove], keys[k_remove:]
    spill = _remove(table, n_slots, spill, removed)
    if len(kept):
        assert _probe(table, n_slots, spill, kept).all()
    # slot accounting: occupied slots + spill entries == kept keys
    assert (table != 0).sum() + spill.size == len(kept)
