"""The reliable-materialization seam (materialize.py): identical
results with and without a checkpoint dir, and the cluster mode really
uses reliable checkpoints (files appear under the configured dir).

Why this exists: ``localCheckpoint`` stores blocks only on executors —
executor loss on a real cluster makes the truncated lineage
unrecoverable and fails the job. Every iterative loop in the package
routes through ``materialize``, which switches to reliable
``DataFrame.checkpoint`` whenever ``sc.setCheckpointDir`` was called
(the normal cluster setup)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.materialize import (
    checkpoint_dir_configured,
    materialize,
    release,
)


def _df(spark):
    return (spark.range(0, 1000)
            .withColumn("k", F.col("id") % 7)
            .withColumn("v", F.sha2(F.col("id").cast("string"), 256)))


def test_sandbox_mode_is_local_checkpoint(spark):
    df = _df(spark)
    assert not checkpoint_dir_configured(df)
    out = materialize(df)
    assert out.count() == 1000
    # local checkpoint: truncated lineage, nothing written to any dir
    assert out.rdd.getNumPartitions() >= 1


def test_cluster_mode_writes_reliable_checkpoint(spark, ckpt_dir):
    df = _df(spark)
    assert checkpoint_dir_configured(df)
    out = materialize(df)
    assert out.count() == 1000
    walked = [f for _, _, fs in os.walk(ckpt_dir) for f in fs]
    assert walked, "reliable checkpoint left no files under the dir"


def test_both_modes_identical_rows(spark, tmp_path):
    df = _df(spark)
    local = sorted(materialize(df).collect())
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt2"))
    try:
        reliable = sorted(materialize(_df(spark)).collect())
        lazy = sorted(
            materialize(_df(spark), eager=False).collect())
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert local == reliable == lazy


def test_operator_results_identical_across_modes(spark, tmp_path):
    """An iterative operator built on the seam (connected components)
    produces the same labels in sandbox and cluster mode."""
    from commoncrawl_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(f"h{i}", f"h{(i * 3) % 50}") for i in range(120)],
        ["a", "b"])
    local = sorted(connected_components(edges).collect())
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt3"))
    try:
        reliable = sorted(connected_components(edges).collect())
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert local == reliable


@pytest.mark.parametrize("eager", [True, False])
def test_reliable_cut_computes_subtree_once(spark, ckpt_dir, eager):
    """Reliable mode persists the frame before checkpointing it, so the
    checkpoint's file-writing job reads cached blocks instead of
    recomputing the plan: each row of the cut's subtree is computed
    ONCE, eager or lazy — which is also what makes a nondeterministic
    frame's checkpoint hold the rows its first consumer saw."""
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    df = spark.range(0, 200, numPartitions=4).select(
        F.udf(tick, "long")("id").alias("id"))
    out = materialize(df, eager=eager)
    assert out.count() == 200
    assert out.agg(F.sum("id")).first()[0] == sum(range(200))
    assert acc.value == 200
    release(out)


@pytest.mark.parametrize("reliable", [False, True])
def test_release_frees_a_lazy_cut(spark, request, reliable):
    """unpersist() on a cut frees nothing: its blocks belong to the RDD
    behind the cut (and, in reliable mode, to the source it persisted).
    release() frees both."""
    if reliable:
        request.getfixturevalue("ckpt_dir")
    sc = spark.sparkContext

    def pinned():
        return set(sc._jsc.getPersistentRDDs().keySet()) - before

    before = set(sc._jsc.getPersistentRDDs().keySet())
    # a plan no other test caches: persisting an already-cached plan
    # pins nothing new
    out = materialize(_df(spark).withColumn(
        "tag", F.lit(f"release-{reliable}")), eager=False)
    assert out.count() == 1000
    out.unpersist()
    assert pinned()
    release(out)
    assert pinned() == set()
