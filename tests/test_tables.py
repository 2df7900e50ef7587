"""Snapshot table layer: atomic commits, time travel, crash-safety."""

from __future__ import annotations

import os

import pytest

from commoncrawl_spark.tables import SnapshotTable


@pytest.mark.spark
def test_append_read_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert not t.exists()
    s0 = t.append(spark.range(5).toDF("id"))
    s1 = t.append(spark.range(5, 8).toDF("id"), metadata={"round": 1})
    assert (s0, s1) == (0, 1)
    assert t.read(spark).count() == 8
    assert t.read(spark, snapshot_id=0).count() == 5
    assert t.snapshot()["metadata"] == {"round": 1}
    assert [s["id"] for s in t.snapshots()] == [0, 1]


@pytest.mark.spark
def test_overwrite_and_compact(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(10).toDF("id"))
    t.overwrite(spark.range(3).toDF("id"))
    assert t.read(spark).count() == 3
    t.append(spark.range(100, 104).toDF("id"))
    t.compact(spark, target_partitions=1)
    assert t.read(spark).count() == 7
    assert t.read(spark, snapshot_id=1).count() == 3  # history intact


@pytest.mark.spark
def test_orphan_data_ignored(spark, tmp_path):
    """A crash after data write but before manifest commit leaves an orphan
    dir that readers never see (write-then-swap protocol)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(4).toDF("id"))
    orphan = os.path.join(str(tmp_path / "t"), "data", "c99-deadbeef")
    spark.range(1000).toDF("id").write.parquet(orphan)
    assert t.read(spark).count() == 4


@pytest.mark.spark
def test_expire_and_vacuum(spark, tmp_path):
    """Maintenance cycle: expire old manifests, then vacuum drops exactly
    the data dirs no surviving manifest references (shared append files
    referenced by the survivors stay)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(4).toDF("id"))          # s0
    t.overwrite(spark.range(6).toDF("id"))       # s1 — s0's dir now unshared
    t.append(spark.range(6, 9).toDF("id"))       # s2 — shares s1's dir

    expired = t.expire_snapshots(keep_last=2)
    assert expired == [0]
    # reads unaffected; history truncated at the expiration boundary
    assert t.read(spark).count() == 9
    assert [s["id"] for s in t.snapshots()] == [1, 2]
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=0)

    # crash leftover: data written, no manifest
    orphan = os.path.join(str(tmp_path / "t"), "data", "c99-deadbeef")
    spark.range(10).toDF("id").write.parquet(orphan)

    removed = t.vacuum()
    # s0's dir (expired, unshared) + the orphan go; s1/s2 dirs survive
    assert len(removed) == 2 and any(d.startswith("c0-") for d in removed)
    assert "c99-deadbeef" in removed
    assert t.read(spark).count() == 9
    assert t.read(spark, snapshot_id=1).count() == 6


@pytest.mark.spark
def test_vacuum_keeps_shared_append_files(spark, tmp_path):
    """An appended snapshot's manifest references its ancestors' data dirs,
    so expiring the ancestors must not let vacuum delete shared files."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(5).toDF("id"))       # s0
    t.append(spark.range(5, 8).toDF("id"))    # s1 references s0's dir too
    t.expire_snapshots(keep_last=1)
    assert t.vacuum() == []  # everything still referenced by s1
    assert t.read(spark).count() == 8


@pytest.mark.spark
def test_read_or_empty(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "missing"))
    df = t.read_or_empty(spark, "id long")
    assert df.count() == 0 and df.columns == ["id"]


def test_expire_snapshots_never_expires_the_live_manifest(spark, tmp_path):
    from commoncrawl_spark.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(1,)], "x long")
    t.append(df)
    t.append(df)
    # keep_last=0 floors to 1: the current manifest must survive
    expired = t.expire_snapshots(keep_last=0)
    assert t.current_snapshot_id() not in expired
    assert t.read(spark).count() == 2  # read() still works


def test_retag_bumps_metadata_without_rewriting_data(spark, tmp_path):
    import os

    from commoncrawl_spark.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1,), (2,)], "x long"),
                {"round": 3})
    files_before = set(os.listdir(os.path.join(str(tmp_path / "t"), "data")))
    sid = t.retag({"round": 9})
    assert t.snapshot()["metadata"]["round"] == 9
    assert t.snapshot()["files"] == t.snapshot(sid - 1)["files"]
    # no new data directory was written
    assert set(os.listdir(os.path.join(str(tmp_path / "t"), "data"))) \
        == files_before
    assert {r["x"] for r in t.read(spark).collect()} == {1, 2}


def test_tar_reexport_sweeps_stale_shards(spark, tmp_path):
    import glob
    import os

    from commoncrawl_spark.tables import verify_tar_shards, write_tar_shards

    big = spark.createDataFrame(
        [(i, "x" * 400) for i in range(200)], "k long, text string")
    small = spark.createDataFrame(
        [(i, "x" * 400) for i in range(20)], "k long, text string")
    out = str(tmp_path / "tars")
    m1 = write_tar_shards(big, out, key="k", target_bytes=8_000)
    m2 = write_tar_shards(small, out, key="k", target_bytes=8_000)
    assert m2["n_shards"] < m1["n_shards"]
    on_disk = glob.glob(os.path.join(out, "tars", "shard-*.tar"))
    # no stale shards from the larger first export survive
    assert len(on_disk) == m2["n_shards"]
    assert verify_tar_shards(out)["ok"]


# ---------------------------------------------------------------------------
# tiered merge planning
# ---------------------------------------------------------------------------

@pytest.mark.spark
def test_tiered_merge_groups_and_boundaries(spark):
    from commoncrawl_spark.tables import plan_tiered_merges

    MB = 1 << 20
    rows = [
        # tier 0 [1MB, 2MB): five segments -> one full group of 4 + 1 waits
        ("a", MB), ("b", MB + 5), ("c", 2 * MB - 1), ("d", MB + 1),
        ("e", MB + 2),
        # exact boundary: 2MB lands in tier 1, not tier 0
        ("f", 2 * MB), ("g", 3 * MB),
        # tier 3 [8MB, 16MB): lone segment waits
        ("h", 9 * MB),
    ]
    df = spark.createDataFrame(rows, "segment_id string, bytes long")
    got = {r["segment_id"]: (r["tier"], r["merge_group"])
           for r in plan_tiered_merges(df).collect()}
    assert got["f"][0] == 1 and got["g"][0] == 1   # boundary exact
    assert got["h"] == (3, None)                   # partial group waits
    t0 = {k: v for k, v in got.items() if v[0] == 0}
    assert len(t0) == 5
    merged = [k for k, v in t0.items() if v[1] == 0]
    waiting = [k for k, v in t0.items() if v[1] is None]
    # smallest four merge (a,b,d,e); the largest (c) waits
    assert sorted(merged) == ["a", "b", "d", "e"] and waiting == ["c"]
    # tier 1 has only 2 segments < merge_factor: both wait
    assert got["f"][1] is None and got["g"][1] is None
    with pytest.raises(ValueError):
        plan_tiered_merges(df, merge_factor=1)


@pytest.mark.spark
def test_tiered_merge_plan_windows_partitioned(spark):
    from commoncrawl_spark.plans.explain import plan_string
    from commoncrawl_spark.tables import plan_tiered_merges
    from scripts.plan_audit import partitionless_windows

    df = spark.createDataFrame([("a", 1 << 20)],
                               "segment_id string, bytes long")
    p = plan_string(plan_tiered_merges(df))
    assert partitionless_windows(p) == []
    assert "EvalPython" not in p


# ---------------------------------------------------------------------------
# partitioned snapshot tables: spec + pruning
# ---------------------------------------------------------------------------

@pytest.mark.spark
def test_partitioned_snapshot_prunes_and_time_travels(spark, tmp_path):
    from pyspark.sql import functions as F

    from commoncrawl_spark.plans.explain import plan_string
    from commoncrawl_spark.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "pt"), partition_by=("lang",))
    a = spark.createDataFrame(
        [(1, "en", "x"), (2, "de", "y")], "id long, lang string, v string")
    b = spark.createDataFrame(
        [(3, "en", "z"), (4, "fr", "w")], "id long, lang string, v string")
    s0 = t.append(a)
    s1 = t.append(b)
    # full read spans commits; partition column survives the layout
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2, 3, 4}
    assert {r["id"] for r in t.read(spark, s0).collect()} == {1, 2}
    # a partition-column filter prunes directories at planning time
    q = t.read(spark).filter(F.col("lang") == "en")
    assert {r["id"] for r in q.collect()} == {1, 3}
    pf = plan_string(q, "formatted")
    assert "PartitionFilters" in pf and "lang" in pf.split(
        "PartitionFilters")[1][:120]
    # retag keeps the spec; append after retag still validates
    t.retag({"note": "tag"})
    t.append(spark.createDataFrame([(5, "en", "q")],
                                   "id long, lang string, v string"))
    assert t.read(spark).count() == 5
    # changing the spec on an existing table refuses
    t2 = SnapshotTable(str(tmp_path / "pt"))
    with pytest.raises(ValueError, match="partition spec"):
        t2.append(a)


# ---------------------------------------------------------------------------
# z-order clustering: measured file skipping
# ---------------------------------------------------------------------------

@pytest.mark.spark
def test_zorder_key_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from commoncrawl_spark.tables import zorder_key

    df = spark.createDataFrame([(0b101, 0b011)], "a long, b long")
    [r] = df.select(zorder_key(F.col("a"), F.col("b"), bits=3)
                    .alias("z")).collect()
    # a bits at even positions (0,2,4), b bits at odd (1,3,5):
    # a=101 -> 1<<0 | 0<<2 | 1<<4 = 17; b=011 -> 1<<1 | 1<<3 | 0<<5 = 10
    assert r["z"] == 27


@pytest.mark.spark
def test_zorder_plus_manifest_stats_skip_files_on_both_dims(spark, tmp_path):
    """The lakehouse data-skipping stack end-to-end: z-order clustering
    makes per-file (a, b) intervals TIGHT on both dimensions, manifest
    min/max stats make the skipping decision without opening a file —
    a 2-D box read touches a handful of files where the single-column
    layout prunes on one dimension only."""
    from pyspark.sql import functions as F

    from commoncrawl_spark.tables import SnapshotTable, zorder_key

    n = 1 << 14
    df = spark.range(n).select(
        ((F.xxhash64("id") % 256) + 256) % 256,
        ((F.xxhash64("id", F.lit(1)) % 256) + 256) % 256,
        F.col("id"),
    ).toDF("a", "b", "id")

    z = SnapshotTable(str(tmp_path / "z"), stats_by=("a", "b"))
    z.overwrite(df.withColumn("_z", zorder_key(F.col("a"), F.col("b"),
                                               bits=8))
                .repartitionByRange(64, F.col("_z"))
                .sortWithinPartitions("_z").drop("_z"))
    lin = SnapshotTable(str(tmp_path / "lin"), stats_by=("a", "b"))
    lin.overwrite(df.repartitionByRange(64, F.col("a"))
                  .sortWithinPartitions("a"))

    box = {"a": (32, 63), "b": (32, 63)}
    nz = len(z.matching_files(box))
    nl = len(lin.matching_files(box))
    # single-column layout: ~1/8 of files survive the a-bound but every
    # one of them spans all of b; the z-layout prunes on BOTH
    assert nz < nl, (nz, nl)
    assert nz <= 8
    # pruned read == full filtered read, row for row
    pred = ((F.col("a") >= 32) & (F.col("a") <= 63)
            & (F.col("b") >= 32) & (F.col("b") <= 63))
    got = {r["id"] for r in z.read_pruned(spark, box)
           .filter(pred).collect()}
    want = {r["id"] for r in z.read(spark).filter(pred).collect()}
    assert got == want and got
    # a box outside the domain prunes everything, schema intact
    empty = z.read_pruned(spark, {"a": (1000, 2000)})
    assert empty.count() == 0 and set(empty.columns) == {"a", "b", "id"}


@pytest.mark.spark
def test_stats_append_accumulates_and_guards(spark, tmp_path):
    from commoncrawl_spark.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "s"), stats_by=("v",))
    a = spark.createDataFrame([(i,) for i in range(100)], "v long")
    b = spark.createDataFrame([(i,) for i in range(1000, 1100)], "v long")
    t.append(a.coalesce(1))
    t.append(b.coalesce(1))
    # stats accumulate across commits; a disjoint bound keeps one file
    assert len(t.matching_files({"v": (1000, 1050)})) == 1
    assert len(t.matching_files({"v": (0, 2000)})) == 2
    assert {r["v"] for r in
            t.read_pruned(spark, {"v": (1000, 1050)}).collect()}         == set(range(1000, 1100))
    with pytest.raises(ValueError, match="unpartitioned"):
        SnapshotTable(str(tmp_path / "x"), partition_by=("p",),
                      stats_by=("v",))


@pytest.mark.spark
def test_stats_pruned_read_respects_equality_deletes(spark, tmp_path):
    """A pruned read is the full read with files skipped: rows that a
    delete_where removed stay removed (merge-on-read), as in read()."""
    t = SnapshotTable(str(tmp_path / "s"), stats_by=("v",))
    t.append(spark.range(0, 100).toDF("v").coalesce(1))
    t.append(spark.range(1000, 1100).toDF("v").coalesce(1))
    t.delete_where(spark.createDataFrame([(1000,), (1001,)], "v long"), "v")
    band = "v BETWEEN 1000 AND 1050"
    want = {r["v"] for r in t.read(spark).filter(band).collect()}
    got = {r["v"] for r in
           t.read_pruned(spark, {"v": (1000, 1050)}).filter(band).collect()}
    assert want == set(range(1002, 1051))
    assert got == want


# ---------------------------------------------------------------------------
# equality-delete files (merge-on-read)
# ---------------------------------------------------------------------------

@pytest.mark.spark
def test_delete_where_merge_on_read_cycle(spark, tmp_path):
    from pyspark.sql import functions as F

    from commoncrawl_spark.tables import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, v string"))
    s_del = t.delete_where(
        spark.createDataFrame([(2,), (5,), (99,)], "id long"), "id")
    # merge-on-read: data files untouched, rows gone; absent key no-op
    assert {r["id"] for r in t.read(spark).collect()} \
        == set(range(10)) - {2, 5}
    # time travel BEFORE the delete still sees the rows
    assert t.read(spark, s_del - 1).count() == 10
    # appends after a delete keep it applying to ancestor files
    t.append(spark.createDataFrame([(2, "again"), (20, "new")],
                                   "id long, v string"))
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    # NOTE: equality deletes are by KEY — the re-appended id=2 is also
    # suppressed until compaction clears the delete (Iceberg sequencing
    # would scope it; the simple table documents key-scoped semantics)
    assert 20 in got and 5 not in got
    # a second delete accumulates
    t.delete_where(spark.createDataFrame([(7,)], "id long"), "id")
    assert 7 not in {r["id"] for r in t.read(spark).collect()}
    # key-column change refuses
    with pytest.raises(ValueError, match="delete key"):
        t.delete_where(spark.createDataFrame([("x",)], "v string"), "v")
    # compact materializes: delete files cleared, results unchanged
    before = {tuple(r) for r in t.read(spark).collect()}
    t.compact(spark, target_partitions=1)
    assert t.snapshot().get("delete_files") == []
    assert {tuple(r) for r in t.read(spark).collect()} == before
    # vacuum never removes a referenced delete file pre-compaction,
    # and sweeps them once expired
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum()
    assert any(d.startswith("d") for d in removed)
    assert {tuple(r) for r in t.read(spark).collect()} == before


# ---------------------------------------------------------------------------
# manifest Bloom filters: equality point-lookup file skipping
# ---------------------------------------------------------------------------

def _bloom_table(spark, tmp_path, n=400, commits=2):
    from pyspark.sql import functions as F

    from commoncrawl_spark.tables import SnapshotTable
    t = SnapshotTable(str(tmp_path / "bt"), bloom_by=("url",))
    per = n // commits
    for c in range(commits):
        df = spark.range(c * per, (c + 1) * per).select(
            F.concat(F.lit("https://h"), (F.col("id") % 7).cast("string"),
                     F.lit(".bl.test/p/"), F.col("id").cast("string"))
            .alias("url"),
            F.col("id").alias("v")).repartition(4)
        t.append(df)
    return t


def test_bloom_point_read_exact_and_skips_files(spark, tmp_path):
    t = _bloom_table(spark, tmp_path)
    target = "https://h3.bl.test/p/17"
    got = t.read_point(spark, "url", target).collect()
    assert [r["v"] for r in got] == [17]
    # superset guarantee holds AND skipping actually happens: the
    # admitted file set is far smaller than the full table (8 files)
    snap = t.snapshot()
    n_files = len(snap["file_blooms"])
    admitted = t.bloom_matching_files("url", target)
    assert n_files == 8
    assert 1 <= len(admitted) < n_files
    # absent key: usually zero files admit it (fp rate 1%); the read
    # must return zero rows regardless
    assert t.read_point(spark, "url", "https://nope.test/x").count() == 0


def test_bloom_no_false_negatives_all_keys(spark, tmp_path):
    t = _bloom_table(spark, tmp_path, n=200)
    rows = t.read(spark).collect()
    import os
    for r in rows[:50]:
        admitted = t.bloom_matching_files("url", r["url"])
        assert admitted, r["url"]
    # and every admitted path is a live data file
    live = {os.path.basename(p) for p in admitted}
    assert live


def test_bloom_probe_matches_build_for_non_string_types(spark, tmp_path):
    """Build hashes Spark's cast-to-string rendering; the probe must
    hash the SAME rendering for every supported type or a containing
    file is silently skipped (false negative breaking read_point's
    superset guarantee). Covers the divergence cases: booleans
    ('true' vs Python 'True'), doubles ('1.0E7' vs '10000000.0'),
    timestamps (trailing-zero trim), plus ints/dates; bytes fall back
    to keep-all (rendering not replicable driver-side)."""
    import datetime

    from pyspark.sql import functions as F

    from commoncrawl_spark.tables import SnapshotTable, _spark_cast_string

    ts1 = datetime.datetime(2023, 1, 1, 12, 0, 0)
    ts2 = datetime.datetime(2023, 1, 1, 12, 0, 0, 500000)
    rows = [(True, 1.0e7, ts1, 5, datetime.date(2023, 5, 6), b"k1"),
            (False, 1e-8, ts2, -3, datetime.date(2024, 1, 2), b"k2"),
            (True, 123.5, ts1, 7, datetime.date(2023, 5, 7), b"k3")]
    df = spark.createDataFrame(
        rows, "b boolean, d double, t timestamp, i long, dt date, "
              "raw binary")
    t = SnapshotTable(
        str(tmp_path / "nb"), bloom_by=("b", "d", "t", "i", "dt"))
    t.append(df.repartition(3))
    probes = [("b", True, 2), ("b", False, 1),
              ("d", 1.0e7, 1), ("d", 1e-8, 1), ("d", 123.5, 1),
              ("t", ts1, 2), ("t", ts2, 1),
              ("i", 5, 1), ("i", -3, 1),
              ("dt", datetime.date(2023, 5, 6), 1)]
    for col, val, n in probes:
        assert t.bloom_matching_files(col, val), (col, val)
        got = t.read_point(spark, col, val)
        assert got.count() == n, (col, val)
    # renderer parity with the JVM, pinned value-for-value
    jvm = df.select(
        F.col("b").cast("string"), F.col("d").cast("string"),
        F.col("t").cast("string"), F.col("i").cast("string"),
        F.col("dt").cast("string")).collect()
    for r, (b, d, ts, i, dt, _) in zip(jvm, rows):
        assert list(r) == [_spark_cast_string(v)
                           for v in (b, d, ts, i, dt)]
    # non-replicable type: conservative keep-all, superset holds
    t2 = SnapshotTable(str(tmp_path / "nb2"), bloom_by=("raw",))
    t2.append(df.repartition(3))
    all_files = t2.bloom_matching_files("raw", b"k1")
    import glob as _glob
    live = _glob.glob(str(tmp_path / "nb2" / "data" / "**" / "*.parquet"),
                      recursive=True)
    assert sorted(all_files) == sorted(live) and live
    assert _spark_cast_string(b"k1") is None


def test_java_double_rendering_edges():
    from commoncrawl_spark.tables import _spark_cast_string

    cases = [(1.0e7, "1.0E7"), (9999999.0, "9999999.0"),
             (123.0, "123.0"), (0.5, "0.5"), (1e-8, "1.0E-8"),
             (0.001, "0.001"), (-0.0, "-0.0"), (0.0, "0.0"),
             (-123.25, "-123.25"), (float("nan"), "NaN"),
             (float("inf"), "Infinity"), (float("-inf"), "-Infinity"),
             (8.9e15, "8.9E15"), (3.14159, "3.14159")]
    for v, want in cases:
        assert _spark_cast_string(v) == want, v
    # outside the range where JDK 17's legacy Double.toString is
    # verifiably shortest-digits (|v| >= ~2^53, subnormals), the
    # renderer must refuse (keep-all fallback), not guess: Spark on
    # this JVM renders e.g. 1.373428634809579e18 with a legacy extra
    # digit ('...57901E18') that no shortest-repr replica produces
    for v in (1.373428634809579e18, 9.1e15, -2e16, 5e-324, 1e-300):
        assert _spark_cast_string(v) is None, v
    # tz-aware datetimes render in the SESSION timezone JVM-side —
    # refuse rather than hash the wrong wall-clock
    import datetime
    aware = datetime.datetime(2023, 1, 1, 12, 0,
                              tzinfo=datetime.timezone.utc)
    assert _spark_cast_string(aware) is None
    assert _spark_cast_string(datetime.datetime(2023, 1, 1, 12, 0)) \
        == "2023-01-01 12:00:00"


def test_bloom_append_accumulates_and_travel(spark, tmp_path):
    t = _bloom_table(spark, tmp_path, n=100, commits=2)
    s0 = t.snapshot(0)["file_blooms"]
    s1 = t.snapshot(1)["file_blooms"]
    assert set(s0).issubset(set(s1)) and len(s1) > len(s0)
    # a key only in commit 1 is invisible at snapshot 0
    assert t.read_point(spark, "url", "https://h6.bl.test/p/97",
                        snapshot_id=0).count() == 0
    assert t.read_point(spark, "url", "https://h6.bl.test/p/97").count() == 1


def test_bloom_point_respects_equality_deletes(spark, tmp_path):
    t = _bloom_table(spark, tmp_path, n=100)
    target = "https://h2.bl.test/p/23"
    assert t.read_point(spark, "url", target).count() == 1
    t.delete_where(
        spark.createDataFrame([(target,)], "url string"), "url")
    assert t.read_point(spark, "url", target).count() == 0
    # NOT vacuously: the delete manifest must CARRY the blooms, so a
    # live key still resolves after the delete commit (regression:
    # delete_where once dropped file_blooms and every point lookup
    # went empty)
    assert t.read_point(spark, "url",
                        "https://h3.bl.test/p/31").count() == 1
    assert t.snapshot().get("file_blooms")


def test_bloom_conservative_keep_for_uncovered_commits(spark, tmp_path):
    # commit 0 written WITHOUT bloom_by, commit 1 with it: point reads
    # must still find commit-0 rows (files without filters are kept)
    from pyspark.sql import functions as F

    from commoncrawl_spark.tables import SnapshotTable
    root = str(tmp_path / "bc")
    plain = SnapshotTable(root)
    df0 = spark.range(0, 50).select(
        F.concat(F.lit("https://old.bl.test/p/"),
                 F.col("id").cast("string")).alias("url"),
        F.col("id").alias("v"))
    plain.append(df0)
    t = SnapshotTable(root, bloom_by=("url",))
    df1 = spark.range(50, 100).select(
        F.concat(F.lit("https://new.bl.test/p/"),
                 F.col("id").cast("string")).alias("url"),
        F.col("id").alias("v"))
    t.append(df1)
    assert t.read_point(spark, "url",
                        "https://old.bl.test/p/7").count() == 1
    assert t.read_point(spark, "url",
                        "https://new.bl.test/p/77").count() == 1


def test_bloom_requires_unpartitioned(tmp_path):
    from commoncrawl_spark.tables import SnapshotTable
    import pytest as _pytest
    with _pytest.raises(ValueError):
        SnapshotTable(str(tmp_path / "x"), partition_by=("lang",),
                      bloom_by=("url",))


# ---------------------------------------------------------------------------
# schema evolution (Iceberg add-column semantics)
# ---------------------------------------------------------------------------

def _assert_reads_manifest_schema(spark, t, snapshot_id=None):
    """read, read_point, read_pruned (and, at a current append snapshot,
    read_added) of ``t`` launch no Spark job — equality deletes applied
    included — and return the schema a merging parquet read of the
    snapshot's files infers: names, types, order and nullability,
    nested fields included."""
    sc = spark.sparkContext
    sc.setJobGroup("schema-probe", "schema-probe")
    try:
        reads = [t.read(spark, snapshot_id),
                 t.read_point(spark, "url_id", 4, snapshot_id),
                 t.read_pruned(spark, {"url_id": (0, 10)}, snapshot_id)]
        if (snapshot_id is None
                and t.snapshot()["operation"] in ("append", "overwrite")):
            reads.append(t.read_added(spark))
        assert list(sc.statusTracker().getJobIdsForGroup(
            "schema-probe")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    files = [os.path.join(t._data_dir, f)
             for f in t.snapshot(snapshot_id)["files"]]
    want = spark.read.option("mergeSchema", "true").parquet(*files).schema
    for df in reads:
        assert df.schema.jsonValue() == want.jsonValue()


def test_schema_evolution_add_column(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "se"))
    t.append(spark.range(3).select(
        F.col("id").alias("url_id"),
        F.struct(F.col("id").alias("a")).alias("meta")))
    # later commit carries NEW columns, one of them nested in a struct
    t.append(spark.range(3, 6).select(
        F.col("id").alias("url_id"),
        F.lit("en").alias("lang"),
        F.struct(F.col("id").alias("a"), F.lit(0.5).alias("q")).alias("meta"),
        F.array(F.struct(F.lit("x").alias("k"))).alias("tags")))
    _assert_reads_manifest_schema(spark, t)
    cur = t.read(spark)
    assert cur.columns == ["url_id", "meta", "lang", "tags"]
    rows = {r["url_id"]: (r["lang"], r["meta"]["q"]) for r in cur.collect()}
    assert rows[1] == (None, None)  # old rows read null
    assert rows[4] == ("en", 0.5)
    # time travel to the pre-evolution snapshot shows the old schema
    _assert_reads_manifest_schema(spark, t, snapshot_id=0)
    assert t.read(spark, snapshot_id=0).columns == ["url_id", "meta"]
    # a type change is refused at commit, before the manifest is published
    with pytest.raises(ValueError, match="url_id"):
        t.append(spark.range(2).select(
            F.col("id").cast("int").alias("url_id")))
    assert t.current_snapshot_id() == 1
    # an equality delete keyed in another type is written in the table's
    # key type, so reads take the delete files' schema from the manifest
    t.delete_where(spark.range(4, 6).select(
        F.col("id").cast("int").alias("url_id")), "url_id")
    _assert_reads_manifest_schema(spark, t)
    assert sorted(r["url_id"] for r in t.read(spark).collect()) == \
        [0, 1, 2, 3]
    assert t.read_point(spark, "url_id", 4).count() == 0


def test_schema_evolution_partitioned_branch(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "sep"), partition_by=("lang",))
    t.append(spark.range(4).select(
        F.col("id").alias("url_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang")))
    t.append(spark.range(4, 8).select(
        F.col("id").alias("url_id"),
        F.lit("fr").alias("lang"),
        F.lit(0.5).alias("quality")))
    cur = t.read(spark)
    assert "quality" in cur.columns
    got = {r["url_id"]: r["quality"] for r in cur.collect()}
    assert got[0] is None and got[5] == 0.5
    # partition pruning still works across the evolved union
    assert cur.filter(F.col("lang") == "fr").count() == 4


def test_stats_conservative_keep_for_uncovered_commits(spark, tmp_path):
    # commit 0 written WITHOUT stats_by, commit 1 with it: pruned
    # reads must still return commit-0 rows in range (files without
    # stats stay candidates — same rule as the Bloom path)
    from pyspark.sql import functions as F

    root = str(tmp_path / "sc")
    plain = SnapshotTable(root)
    plain.append(spark.range(0, 50).select(F.col("id").alias("v")))
    t = SnapshotTable(root, stats_by=("v",))
    t.append(spark.range(50, 100).select(F.col("id").alias("v")))
    got = {r["v"] for r in
           t.read_pruned(spark, {"v": (40, 60)}).filter(
               "v BETWEEN 40 AND 60").collect()}
    assert got == set(range(40, 61))


@pytest.mark.spark
def test_manifest_counts_and_bounds_from_footers(spark, tmp_path):
    """Each manifest records the rows its commit wrote, the snapshot's
    row count and its bounds_by columns' [min, max], read from the
    Parquet footers at commit: count() and column_max() then need no
    Spark job. A delete makes them unknown (Spark fallback), and so
    does a manifest written before these fields existed. The stats_by
    columns' per-file [min, max] come from the same footers and equal a
    Spark min/max per input file."""
    import json
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    def rows(lo, hi, v="cast(id * 2 as int)"):
        return spark.range(lo, hi).selectExpr(
            "id", f"{v} as v", "concat('k', id) as s")

    def spark_file_stats():
        aggs = [f(c) for c in ("id", "v", "s") for f in (F.min, F.max)]
        out = t.read(spark).groupBy(F.input_file_name()).agg(*aggs).collect()
        return {os.path.relpath(urlparse(r[0]).path, t._data_dir):
                {"id": [r[1], r[2]], "v": [r[3], r[4]], "s": [r[5], r[6]]}
                for r in out}

    t = SnapshotTable(str(tmp_path / "t"), bounds_by=("v",),
                      stats_by=("id", "v", "s"))
    assert t.count(spark) == 0
    t.append(rows(0, 10))
    t.append(rows(10, 15))
    snap = t.snapshot()
    assert (snap["added_count"], snap["record_count"]) == (5, 15)
    assert snap["column_bounds"] == {"v": [0, 28]}
    assert snap["file_stats"] == spark_file_stats()
    assert len(snap["file_stats"]) > 2
    assert snap["metadata"] == {}
    sc = spark.sparkContext
    sc.setJobGroup("manifest-probe", "manifest-probe")
    try:
        assert t.count(spark) == 15 and t.column_max(spark, "v") == 28
        assert list(sc.statusTracker().getJobIdsForGroup(
            "manifest-probe")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {r["id"] for r in t.read_added(spark).collect()} == \
        set(range(10, 15))

    t.overwrite(rows(0, 3, v="cast(null as int)"))
    assert t.count(spark) == 3 and t.column_max(spark, "v") is None
    assert t.snapshot()["file_stats"] == spark_file_stats()
    t.retag({"round": 1})
    assert t.snapshot()["added_count"] == 0 and t.count(spark) == 3
    with pytest.raises(ValueError):
        t.read_added(spark)  # a retag writes no data files
    t.delete_where(spark.range(1).toDF("id"), "id")
    assert t.snapshot()["record_count"] is None and t.count(spark) == 2

    t.overwrite(rows(0, 4))
    path = os.path.join(str(tmp_path / "t"), "_snapshots",
                        f"v{t.current_snapshot_id()}.json")
    with open(path) as fh:
        old = json.load(fh)
    for field in ("added_count", "record_count", "column_bounds", "schema"):
        del old[field]
    with open(path, "w") as fh:
        json.dump(old, fh)
    assert t.count(spark) == 4 and t.column_max(spark, "v") == 6
    assert t.read(spark).columns == ["id", "v", "s"]  # schema inferred
    t.append(rows(4, 6))  # an append onto it stays unknown
    assert t.snapshot()["record_count"] is None and t.count(spark) == 6
    assert t.snapshot()["schema"] is None
    assert {r["id"] for r in t.read_added(spark).collect()} == {4, 5}
