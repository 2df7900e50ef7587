"""Reliable materialization seam.

Every iterative operator and model-table materialization in this
package needs to cut lineage and pin a small intermediate result:
the fixpoint loops (:func:`iterate`, below), the LM broadcast-gate
model tables (:mod:`operators.lm`), SemDeDup's slim assignment
(:mod:`operators.similarity`), the Block-Max posting slice
(:mod:`operators.index`), the seen-set blob edits and generations
(:mod:`operators.seen_set`), the slim outputs of the self-joining
operators (:mod:`operators.text_dedup`, which the aHash media near-dup
shares, ``graph.triangle_counts`` and ``analytics.pmi_collocations``),
and the crawl round's multi-consumer frames (:mod:`plans.frontier`:
the polite batch, the outcome, the discovered links), which every
later commit then plans over as one ``Scan ExistingRDD`` leaf instead
of re-planning (and re-scanning) a cached deep plan.

``DataFrame.localCheckpoint`` is the cheap way to do that — but it
stores blocks ONLY on executors with no lineage left to recompute
them, so on a real cluster the loss of a single executor mid-job makes
the truncated RDD unrecoverable and fails the job (Spark's documented
behavior for local checkpoints). At this engine's design point — a
10^10-edge PageRank on 1000 executors running for an hour — executor
loss is near-certain, so local checkpoints are only acceptable in
single-JVM sandboxes.

:func:`materialize` is the one seam all call sites route through:

- when the SparkContext has a **checkpoint directory** configured
  (``sc.setCheckpointDir("hdfs://...")`` — the normal cluster setup),
  it uses reliable ``DataFrame.checkpoint``: blocks are written to the
  fault-tolerant store and survive executor loss. Pair it with
  ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
  reference-collected checkpoints are deleted from the store. A reliable
  checkpoint writes its files in a job of its own, which recomputes the
  plan from lineage; so the frame is persisted first, and that job reads
  the cached blocks — every cut computes its subtree ONCE, and a
  nondeterministic frame's checkpoint holds the same rows its first
  consumer saw.
- otherwise (the sandbox / ``local[*]`` case) it falls back to
  ``localCheckpoint`` — same semantics, no extra I/O, acceptable
  because a single-JVM "cluster" cannot lose an executor without
  losing the job anyway.

Both modes return a DataFrame with identical rows and schema; the only
difference is where the blocks live (``tests/test_materialize.py``
pins result-identity across modes). Call sites keep the chained style
via ``df.transform(materialize)`` /
``df.transform(materialize, eager=False)``.

Lifecycle note (applies to both modes): ``unpersist()`` on a cut frees
nothing — the blocks belong to the RDD behind the cut's ``LogicalRDD``
leaf, not to the cache manager, so they stay pinned until the JVM
garbage-collects that RDD (and, in reliable mode, the persisted source
stays cached until the session ends). :func:`release` frees a cut
deterministically, once the cut's last consumer has run. Long-lived
sessions that build many scorers should drop references to released
models; see ``operators/lm.py``'s retention note.

Fixpoint loops cut through :func:`iterate`, which owns the one rule
for when an iteration's state is cut and when the cut it replaces is
freed: it cuts every ``cut_every`` steps and after the last step, and
releases the previous cut (the initial state included) as soon as the
new one holds its rows. A loop's result is therefore its last cut —
one pinned frame — and the caller releases only the frames its steps
read besides the state (a persisted edge table, a node table). The
loops on it: ``graph.pagerank``/``trustrank`` (one biased walk),
``opic``, ``hits``, ``seed_distances``, ``harmonic_centrality``,
``label_propagation``, ``connected_components`` and ``kcore``;
``bpe.bpe_train``, ``similarity.kmeans_centroids`` and
``links.resolve_redirects``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_dir_configured(df: DataFrame) -> bool:
    """True when the owning SparkContext has a reliable checkpoint
    directory set (``sc.setCheckpointDir``)."""
    sc = df.sparkSession.sparkContext
    try:
        return sc.getCheckpointDir() is not None
    except Exception:  # pragma: no cover - very old JVM bridge shapes
        return False


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage and pin ``df``, surviving executor loss on clusters.

    Uses reliable ``checkpoint`` when a checkpoint dir is configured,
    else ``localCheckpoint``. ``eager=True`` (default, matching
    ``localCheckpoint``'s default) triggers the job immediately;
    ``eager=False`` defers materialization to the first action.

    In reliable mode ``df`` is persisted before the checkpoint, so the
    file-writing job reads cached blocks instead of recomputing. An
    eager cut unpersists once the files are written; a lazy cut cannot
    know when that happens, so its cached blocks stay until
    :func:`release` frees the cut (or the session ends).
    """
    if checkpoint_dir_configured(df):
        df.persist()
        out = df.checkpoint(eager=eager)
        if eager:
            df.unpersist()
        else:
            out._pins = df  # freed by release(out)
        return out
    return df.localCheckpoint(eager=eager)


def release(df: DataFrame) -> None:
    """Free the blocks that pin ``df``: its cache entry; when it is a cut
    (a ``LogicalRDD`` leaf), the blocks of the RDD behind the cut; and
    the frame pinned on its behalf (``_pins``: the source a lazy reliable
    cut persisted, or a cut a persisted frame was built from), released
    the same way. A released cut must not be read again — in local mode
    its blocks ARE its rows. Safe on any frame, and idempotent."""
    df.unpersist()
    plan = df._jdf.logicalPlan()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    pinned = getattr(df, "_pins", None)
    if pinned is not None:
        release(pinned)


def iterate(state: DataFrame, step, n: int, cut_every: int,
            until=None) -> DataFrame:
    """Run ``state = step(state, i)`` for ``i`` in ``range(n)`` and
    return the final state, cutting it every ``cut_every`` steps and
    after the last one. Each cut releases the one before it — the
    initial ``state`` too, so it must not be a frame the steps read on
    their own — once the new cut holds its rows; ``n = 0`` returns
    ``state`` untouched.

    ``until(state) -> bool`` is asked at every cut but the last and
    stops the loop when true. Those cuts are lazy, so the action
    ``until`` runs stores the cut's blocks in the same job: a
    convergence test costs one job per cut, not two."""
    cut = state
    for i in range(n):
        state = step(state, i)
        last = i == n - 1
        if (i + 1) % cut_every and not last:
            continue
        ask = until is not None and not last
        state = materialize(state, eager=not ask)
        done = ask and until(state)
        release(cut)
        cut = state
        if done:
            break
    return state
