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

import ast
import gc
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


def _graph(spark):
    """Two 12-node chains, the first running into a 6-clique: long
    enough that every loop cuts more than once, with a k-core."""
    chains = [(b + i, b + i + 1) for b in (0, 100) for i in range(11)]
    clique = [(200 + i, 200 + j) for i in range(6) for j in range(i + 1, 6)]
    return spark.createDataFrame(chains + clique + [(11, 200)],
                                 "src long, dst long")


def _seeds(spark):
    return spark.createDataFrame([(0,), (100,)], "node long")


def _vectors(spark):
    x = F.col("id").cast("double")
    return spark.range(0, 60).select(
        F.col("id").alias("vec_id"),
        F.array(F.sin(x), F.cos(x), F.sin(x / 2), F.lit(1.0))
        .alias("embedding"))


def _redirects(spark):
    chain = [(f"u{i}", f"u{i + 1}") for i in range(6)]
    return spark.createDataFrame(chain + [("a", "b"), ("b", "a")],
                                 "url string, location string")


def _words(spark):
    return spark.createDataFrame(
        [("lower lowest newer newest wider",), ("low lower newer new",)],
        "text string")


def _operator_cases():
    from commoncrawl_spark.operators import graph as g
    from commoncrawl_spark.operators.bpe import bpe_train
    from commoncrawl_spark.operators.links import resolve_redirects
    from commoncrawl_spark.operators.similarity import kmeans_centroids

    return {
        "connected_components": lambda s: g.connected_components(
            _graph(s), "src", "dst"),
        "pagerank": lambda s: g.pagerank(_graph(s), iters=4),
        "pagerank_iters0": lambda s: g.pagerank(_graph(s), iters=0),
        "trustrank": lambda s: g.trustrank(_graph(s), _seeds(s), iters=4),
        "opic": lambda s: g.opic(_graph(s), iters=4),
        "opic_iters0": lambda s: g.opic(_graph(s), iters=0),
        "hits": lambda s: g.hits(_graph(s), iters=2),
        "hits_iters0": lambda s: g.hits(_graph(s), iters=0),
        "seed_distances": lambda s: g.seed_distances(
            _graph(s), _seeds(s), max_depth=4),
        "seed_distances_depth0": lambda s: g.seed_distances(
            _graph(s), _seeds(s), max_depth=0),
        "harmonic_centrality": lambda s: g.harmonic_centrality(
            _graph(s), radius=4),
        "harmonic_centrality_radius0": lambda s: g.harmonic_centrality(
            _graph(s), radius=0),
        "label_propagation": lambda s: g.label_propagation(
            _graph(s), iters=4),
        "label_propagation_iters0": lambda s: g.label_propagation(
            _graph(s), iters=0),
        "kcore": lambda s: g.kcore(_graph(s), k=2, max_rounds=5),
        "kmeans_centroids": lambda s: kmeans_centroids(
            _vectors(s), k=4, n_iters=3),
        "resolve_redirects": lambda s: resolve_redirects(
            _redirects(s), max_hops=4),
        "bpe_train": lambda s: bpe_train(_words(s), n_merges=6),
    }


@pytest.mark.parametrize("case", sorted(_operator_cases()))
def test_operator_results_identical_across_modes(spark, request, case):
    """Every iterative operator built on the seam returns the same rows
    in sandbox and cluster mode, and its loop releases every cut it
    replaces: a call leaves at most one new pinned RDD, the one behind
    its result (none for ``bpe_train``, which returns a list). Each
    result is read twice with ``gc.collect()`` in between, so a released
    cut the result still reads fails loudly."""
    run = _operator_cases()[case]
    sc = spark.sparkContext

    def rows(out):
        if isinstance(out, list):
            return out
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else str(v)
                  for v in r)
            for r in out.collect())

    def call():
        before = set(sc._jsc.getPersistentRDDs().keySet())
        out = run(spark)
        first = rows(out)
        pinned = set(sc._jsc.getPersistentRDDs().keySet()) - before
        assert len(pinned) <= (0 if isinstance(out, list) else 1), pinned
        gc.collect()
        assert rows(out) == first
        if not isinstance(out, list):
            release(out)
        return first

    local = call()
    request.getfixturevalue("ckpt_dir")
    assert call() == local


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


def test_cut_frames_records_every_seam_cut(spark):
    """``scripts/plan_audit.cut_frames`` records the cuts a loop makes
    through ``iterate`` besides the ones a module makes through its own
    alias, and puts every binding back on exit — also a binding made
    inside the block, and also when the block raises. (The crawl
    round's cuts are recorded in ``tests/test_frontier.py``'s
    ``test_round_commits_plan_over_cuts``.)"""
    import sys
    import types

    from commoncrawl_spark import materialize as seam
    from commoncrawl_spark.operators import graph
    from commoncrawl_spark.plans import frontier
    from commoncrawl_spark.plans.explain import plan_string
    from scripts.plan_audit import cut_frames

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)],
                                  "src long, dst long")
    with cut_frames() as cuts:
        graph.pagerank(edges, iters=1)
    # the pre-loop node cut, then the step iterate cut
    assert [c.columns for c in cuts] == [["node", "bias"], ["node", "rank"]]
    step = plan_string(cuts[1], "simple")
    assert "partial_sum" in step and "Join" in step

    late = types.ModuleType("commoncrawl_spark._late_import")
    with pytest.raises(RuntimeError):
        with cut_frames():
            recorder = seam.materialize
            late.materialize = seam.materialize  # imported in the block
            sys.modules[late.__name__] = late
            raise RuntimeError
    del sys.modules[late.__name__]
    assert recorder is not materialize
    assert (seam.materialize is graph._materialize is frontier.materialize
            is late.materialize is materialize)
    assert not [f"{name}.{attr}" for name, mod in list(sys.modules.items())
                if name.startswith("commoncrawl_spark")
                for attr, val in vars(mod).items() if val is recorder]


def _is_cut(node) -> bool:
    """``materialize(...)``, ``_materialize(...)`` or
    ``<frame>.transform(_materialize, ...)``."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    if isinstance(f, ast.Name):
        return f.id in ("materialize", "_materialize")
    return (isinstance(f, ast.Attribute) and f.attr == "transform"
            and bool(node.args) and isinstance(node.args[0], ast.Name)
            and node.args[0].id in ("materialize", "_materialize"))


def test_no_cut_is_freed_by_unpersist():
    """``unpersist()`` on a cut frees nothing (the blocks belong to the
    RDD behind it), so a loop that frees its superseded cuts that way
    leaks one per step. No function in the package may call it on a
    name bound to a cut, directly or through another name; it must
    call ``release``."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "commoncrawl_spark")
    offenders = []
    for root, _, files in os.walk(pkg):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef,
                                       ast.AsyncFunctionDef)):
                    continue
                cuts: set[str] = set()
                grew = True
                while grew:  # aliases of a cut are cuts: prev = words
                    grew = False
                    for a in ast.walk(fn):
                        if not isinstance(a, ast.Assign) or not (
                                _is_cut(a.value)
                                or (isinstance(a.value, ast.Name)
                                    and a.value.id in cuts)):
                            continue
                        for t in a.targets:
                            if isinstance(t, ast.Name) and t.id not in cuts:
                                cuts.add(t.id)
                                grew = True
                for c in ast.walk(fn):
                    if (isinstance(c, ast.Call)
                            and isinstance(c.func, ast.Attribute)
                            and c.func.attr == "unpersist"
                            and isinstance(c.func.value, ast.Name)
                            and c.func.value.id in cuts):
                        offenders.append(
                            f"{os.path.relpath(path, pkg)}:{c.lineno}")
    assert not offenders, offenders
