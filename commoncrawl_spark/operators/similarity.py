"""Similarity search over embedding columns (array<float>).

Two paths:
- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Query set is broadcast; the corpus is scanned once, never shuffled by
  the join; per-query top-k is a window over (query, score).
- ``lsh_topk``: the scale path — random-hyperplane LSH bit signatures
  bucket the corpus so each query only scores its own bucket (and
  optionally Hamming-adjacent probes). The hyperplanes are derived from
  md5, so signatures are deterministic and reproducible in SQL/other
  engines (no RNG state, no model file).

All arithmetic is double-precision with a sequential left-fold (zip_with
+ aggregate), making scores bit-reproducible against an oracle that
folds in the same order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..materialize import iterate
from ..materialize import materialize as _materialize


def _as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot_col(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic double arithmetic)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return F.round(dot_col(a, b) / (norm_col(a) * norm_col(b)), 6)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (self-matches excluded).

    ``broadcast(queries)`` keeps the corpus un-shuffled: the cross join is
    a map-side nested loop over each corpus partition. O(|Q| * |corpus|)
    compute — the baseline to beat, correct at any scale where |Q| is
    bounded.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        c.join(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_col(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplane(dim: int, plane_idx: int, seed: str = "hp") -> list[float]:
    """Deterministic pseudo-random hyperplane component j in [-1, 1):
    md5('{seed}-{plane_idx}-{j}') first 8 hex chars scaled. Reproducible
    in any engine with md5 — no RNG, no stored model."""
    import hashlib

    out = []
    for j in range(dim):
        h = hashlib.md5(f"{seed}-{plane_idx}-{j}".encode()).hexdigest()[:8]
        out.append((int(h, 16) / 2**32) * 2.0 - 1.0)
    return out


def lsh_signature_col(vec: Column, dim: int, n_planes: int = 8,
                      seed: str = "hp") -> Column:
    """Bit-signature: bit i = sign(dot(vec, plane_i)). Planes are literal
    arrays folded into the plan (broadcast-free constants)."""
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        plane = F.array(*[F.lit(v) for v in hyperplane(dim, i, seed)])
        sig = sig + F.when(dot_col(vec, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's LSH
    bucket. Recall rises with fewer planes (bigger buckets) or multi-probe;
    cost ~ |corpus| / 2^n_planes per query. The join key is the bucket —
    a shuffle of (id, bucket, vec) once, then equi-join instead of the
    brute-force cross product."""
    scored = _lsh_scored(corpus, queries, dim, n_planes, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _lsh_scored(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_planes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Bucket-join scoring shared by :func:`lsh_topk` and
    :func:`hard_negative_pairs`: one (id, bucket, vec) projection per
    side, broadcast queries, equi-join on the bucket, rounded cosine."""
    sig = lambda df, idn, vn: df.select(  # noqa: E731
        F.col(id_col).alias(idn),
        F.col(vec_col).alias(vn),
        lsh_signature_col(F.col(vec_col), dim, n_planes).alias("bucket"),
    )
    c = sig(corpus, "neighbor_id", "_cv")
    q = F.broadcast(sig(queries, "query_id", "_qv"))
    return (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_col(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )


def hard_negative_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    lo: float = 0.3,
    hi: float = 0.9,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    anchor, the ``k`` most-similar neighbors inside the cosine band
    ``lo <= cos < hi`` — similar enough to be informative negatives,
    below the near-duplicate band that would make them false negatives
    (the standard recipe for dense-retriever and CLIP-style training
    sets). Ranked hardest-first. Returns
    ``(query_id, neighbor_id, cosine, rank)``.

    Scale shape: identical to :func:`lsh_topk` — candidates come from
    the LSH bucket equi-join (never all-pairs; the band filter runs on
    bucket candidates only), and the per-anchor rank window is
    PARTITIONED by the anchor key, so no task ever sorts more than one
    anchor's candidate list. Band edges compare against the 6dp-rounded
    cosine, so the cut is bit-stable cross-engine."""
    if not lo < hi:
        raise ValueError(f"need lo < hi, got [{lo}, {hi})")
    scored = _lsh_scored(corpus, queries, dim, n_planes, id_col, vec_col)
    band = scored.filter(
        (F.col("cosine") >= F.lit(lo)) & (F.col("cosine") < F.lit(hi)))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        band.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               with_score: bool = False) -> DataFrame:
    """IVF cell assignment: each vector joins its max-cosine centroid
    (ties -> smallest centroid id). The centroid table is tiny and
    broadcast; assignment is a map-side cross product — linear in
    |corpus| x K, no shuffle of the corpus. ``with_score`` also
    returns the winning cosine as ``cent_cos`` (NULL for zero-norm
    vectors) — it already rides the argmax struct, so consumers like
    semantic_dedup never recompute it."""
    cents = F.broadcast(
        centroids.select(
            F.col(id_col).alias("cell"), F.col(vec_col).alias("_cv")
        )
    )
    scored = vectors.join(cents).select(
        id_col, vec_col, "cell",
        cosine_col(F.col(vec_col), F.col("_cv")).alias("_cos"),
    )
    # argmax via max_by, NOT a window: a window over (id) would shuffle
    # |corpus| x K scored rows and sort them; max_by partial-aggregates
    # map-side (all K copies of a vector sit in the same input partition,
    # straight off the broadcast join), so the exchange carries only
    # |corpus| pre-reduced rows. Order key (cos, -cell) = max cosine,
    # ties to the smallest cell id; null cosines (zero-norm vectors)
    # coalesce below any real score, matching the window's NULLS LAST.
    best = F.max_by(
        F.struct(F.col(vec_col).alias("v"), F.col("cell").alias("c"),
                 F.col("_cos").alias("s")),
        F.struct(F.coalesce(F.col("_cos"), F.lit(float("-inf"))).alias("s"),
                 (-F.col("cell")).alias("t")),
    ).alias("_best")
    out_cols = [id_col, F.col("_best.v").alias(vec_col),
                F.col("_best.c").alias("cell")]
    if with_score:
        out_cols.append(F.col("_best.s").alias("cent_cos"))
    return scored.groupBy(id_col).agg(best).select(*out_cols)


def kmeans_centroids(
    vectors: DataFrame,
    k: int = 16,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means (cosine assignment, mean update) for
    IVF centroid training — entirely DataFrame ops, no driver data.

    Per iteration: assignment is ``ivf_assign`` (broadcast centroids,
    map-side ``max_by`` argmax — the corpus never shuffles whole);
    the update posexplodes to slim ``(cell, pos, val)`` rows so the mean
    partial-aggregates map-side and the exchange carries K x dim rows,
    never vectors. Cells that lose all members keep their previous
    centroid (standard empty-cluster handling, keeps K stable).

    Init is the K corpus vectors with smallest ``md5(id)`` — a
    deterministic pseudo-random sample independent of partitioning.

    DETERMINISTIC BY CONSTRUCTION (bit-stable across partitionings and
    engines, so the DuckDB oracle can replay the training): the update
    quantizes each component to 1e-6 (``round(val * 1e6)`` as a long),
    sums the INTEGERS — integer addition is associative, so the
    partition-dependent order float SUM/AVG would leak through is
    irrelevant — and divides back in double, rounded to the contract's
    6-decimal grain. Assignment already orders by the 6dp-rounded
    cosine with cell-id tie-break. The 1e-6 quantization error is far
    below cluster-geometry scale (quality pinned in tests). Returns
    ``(id_col: cell 0..K-1, vec_col)`` — feed straight into
    ``ivf_topk(centroids=...)``."""
    # init selection is sort+limit, NOT a global window: orderBy().limit(k)
    # compiles to TakeOrderedAndProject (partial top-k map-side, only K
    # rows cross the exchange), where a no-partition row_number window
    # would funnel the whole corpus through one task. Cell ids 0..K-1
    # come from folding the K survivors into ONE bounded array and
    # posexploding — no window anywhere (plan-audit invariant).
    topk = (
        vectors.select(id_col, vec_col)
        .withColumn("_o", F.md5(F.col(id_col).cast("string")))
        .orderBy("_o", id_col)
        .limit(k)
    )
    cents = (
        topk.select(F.struct(
            F.col("_o"), F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v")).alias("_r"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("_r")).alias("_rs"))
        .select(F.posexplode("_rs").alias("_pos", "_r"))
        .select(F.col("_pos").alias(id_col), F.col("_r._v").alias(vec_col))
        .transform(_materialize)
    )
    sval = F.round(F.col("val").cast("double") * 1000000.0).cast("long")

    def lloyd(cents: DataFrame, _: int) -> DataFrame:
        assigned = ivf_assign(vectors, cents, id_col, vec_col)
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cell", "pos").agg(
                F.sum(sval).alias("_s"),
                F.count(F.lit(1)).alias("_c"),
            )
            .select(
                "cell", "pos",
                F.round(
                    F.col("_s").cast("double") / F.col("_c").cast("double")
                    / 1000000.0, 6).alias("m"),
            )
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("a"))
            .select(F.col("cell").alias(id_col),
                    F.transform("a", lambda s: s["m"]).alias(vec_col))
        )
        survivors = cents.join(means.select(id_col), id_col, "left_anti")
        return means.unionByName(survivors)

    # each iteration is cut (K rows), so the final plan is not n_iters
    # joins deep
    return iterate(cents, lloyd, n_iters, 1)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are bucketed into inverted
    lists by nearest centroid; each query scores only the lists of its
    ``n_probe`` nearest centroids — cost ~ n_probe/K of brute force.

    Default centroids are the first ``n_centroids`` corpus vectors
    (deterministic, training-free — what the cross-engine oracle mirrors);
    pass ``centroids=kmeans_centroids(corpus, ...)`` for trained lists —
    the partitioning/probing mechanics are identical."""
    if centroids is None:
        centroids = corpus.filter(F.col(id_col) < n_centroids)
    cells = ivf_assign(corpus, centroids, id_col, vec_col)

    cents = F.broadcast(
        centroids.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("_cv"))
    )
    q_scored = queries.join(cents).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), "cell",
        cosine_col(F.col(vec_col), F.col("_cv")).alias("_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("cell"))
    probes = (
        q_scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "_qv", "cell")
    )

    cands = probes.join(
        cells.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("_nv"), "cell"),
        "cell",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    # each corpus vector lives in exactly one cell, so (query, neighbor)
    # pairs are already unique — no distinct(), no extra shuffle
    scored = cands.select(
        "query_id", "neighbor_id",
        cosine_col(F.col("_qv"), F.col("_nv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def near_duplicate_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    max_unblocked_rows: int = 100_000,
    max_block_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cosine >= threshold).
    ``block_col`` (e.g. a cluster label or an ``lsh_signature_col`` bucket)
    bounds the self-join. Without a block the join is ALL-PAIRS — O(n^2)
    — so the unblocked path is guarded: it refuses inputs above
    ``max_unblocked_rows`` (one cheap count) instead of silently
    launching a 10^20-pair crossJoin on a 100 TB table. Scale users pass
    a block; the guard exists so nobody discovers the quadratic path in
    production.

    The BLOCKED path is a quadratic subproblem PER BLOCK — an equi
    self-join keeps each block's pairs in one join-key group, so a
    single fat block (16 default centroids over 10^9 vectors, a
    degenerate LSH bucket) is a straggler task computing (n_block)^2/2
    cosines. ``max_block_rows`` opts into a guard for that case: one
    slim ``groupBy(block).count()`` probe refuses when any block
    exceeds it (20k rows = 2·10^8 pairs in one task — already minutes
    of work). The default is ``None`` — no probe, no extra input pass —
    so existing blocked callers whose block sizes are bounded by
    construction (e.g. LSH bands over content hashes) keep their exact
    pre-r4 behavior; composite operators whose blocks come from DATA
    (``semantic_dedup``'s k-means cells) pass ``max_block_rows=20_000``
    explicitly, which is where the r3 straggler finding lived.
    """
    if block_col is None:
        n = df.count()
        if n > max_unblocked_rows:
            raise ValueError(
                f"near_duplicate_pairs without block_col is all-pairs: "
                f"{n} rows > max_unblocked_rows={max_unblocked_rows}. "
                "Pass block_col (e.g. an LSH bucket from "
                "lsh_signature_col) or raise max_unblocked_rows "
                "explicitly if the quadratic cost is intended."
            )
    elif max_block_rows is not None:
        # NULL block keys never equi-join (zero pairs), so they must
        # not count as a block — a large unassigned group would
        # spuriously abort a linear job
        top = (
            df.where(F.col(block_col).isNotNull())
            .groupBy(block_col).count()
            .agg(F.max("count").alias("m")).first()
        )
        biggest = top["m"] or 0
        if biggest > max_block_rows:
            raise ValueError(
                f"near_duplicate_pairs: largest {block_col!r} block has "
                f"{biggest} rows > max_block_rows={max_block_rows} — a "
                f"~{biggest}^2/2-pair straggler task. Use finer blocks "
                "(e.g. kmeans_centroids with k ~ sqrt(n) for SemDeDup "
                "cells), or raise max_block_rows / pass None if the "
                "quadratic block is intended."
            )
    a = df.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("_va"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    b = df.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    joined = a.join(b, [block_col] if block_col else []) if block_col else a.crossJoin(b)
    return (
        joined.filter(F.col("a") < F.col("b"))
        .select(
            *( [block_col] if block_col else [] ),
            "a", "b",
            cosine_col(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame | None = None,
    n_centroids: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_default_centroid_rows: int = 100_000,
    max_block_rows: int | None = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): embedding-space near-dedup
    scoped to k-means cells. Documents whose embeddings are cosine-close
    are semantic duplicates even when no n-gram matches (translations,
    templated rewrites, syndicated paraphrases) — the gap MinHash/SimHash
    cannot see. The paper's recipe: cluster the corpus, compare pairs only
    WITHIN a cluster, and from each connected duplicate group keep the
    member with the LOWEST cosine to its cluster centroid (the least
    prototypical example carries the most marginal information; dropping
    prototypical copies is what made their web-scale runs data-efficient).

    Returns one verdict row per vector: ``(id_col, cell, cent_cos,
    sem_cluster, keep)`` — ``sem_cluster`` is the duplicate group's
    min-id label (NULL when the vector has no near-duplicate), ``keep``
    marks the elected representative (and every un-duplicated vector).
    Ties on ``cent_cos`` elect the smallest id.

    Scale shape: centroid assignment is the broadcast ``ivf_assign``
    (the corpus never shuffles whole); candidate pairs come from
    ``near_duplicate_pairs(block_col="cell")`` — an equi self-join on the
    cell key, never all-pairs; duplicate groups are the pointer-doubling
    ``connected_components`` over slim (a, b) id pairs; election is
    ``cluster_representatives``'s map-side ``max_by`` (no window). The
    verdict restore is two slim id joins. Default centroids are the
    first ``n_centroids`` vectors (deterministic, what the cross-engine
    oracle replays); pass ``centroids=kmeans_centroids(vectors, ...)``
    for trained cells — mechanics identical.

    Guards (r4): the default-centroid path makes cells of ~n/k rows —
    quadratic PER CELL — so it refuses corpora above
    ``max_default_centroid_rows`` (one cheap count; the paper uses
    ~sqrt(n) clusters, so above the bound you must pass trained
    ``centroids`` with a sane k). Independently, the cell self-join
    inherits :func:`near_duplicate_pairs`' ``max_block_rows`` probe, so
    even trained-but-skewed cells refuse loudly instead of launching a
    quadratic straggler task.
    """
    from commoncrawl_spark.operators.graph import (
        cluster_representatives,
        connected_components,
    )

    if centroids is None:
        n = vectors.count()
        if n > max_default_centroid_rows:
            raise ValueError(
                f"semantic_dedup default centroids (first {n_centroids} "
                f"vectors) over {n} rows make cells of ~n/{n_centroids} "
                "rows — a quadratic join per cell. Pass "
                "centroids=kmeans_centroids(vectors, k ~ sqrt(n)) for "
                "trained cells, or raise max_default_centroid_rows if "
                "the cost is intended."
            )
        if max_block_rows is not None and n <= max_block_rows:
            # the guard count already bounds EVERY cell (a cell can at
            # most hold all n vectors), so the per-block probe would
            # re-run centroid assignment to learn nothing
            max_block_rows = None
        centroids = vectors.filter(F.col(id_col) < n_centroids)
    # the winning cosine rides ivf_assign's argmax struct — no second
    # centroid join, no recomputed dot products
    with_cos = ivf_assign(
        vectors, centroids, id_col, vec_col, with_score=True
    ).select(
        id_col, vec_col, "cell",
        F.round(F.col("cent_cos"), 6).alias("cent_cos"),
    )
    # the assignment subtree is referenced FOUR times below (both pair
    # sides, rep election, verdict restore) and Spark evaluates each
    # broadcast/join child independently (zero ReusedExchange —
    # measured 4 scans of the vectors with 4 argmax passes). The
    # vector-free projection is ~20 B/row, so checkpoint IT once and
    # feed the two slim consumers from the blocks; only the pair join
    # (which genuinely needs the vectors) recomputes the assignment —
    # scan-local columnar work that beats shuffling full embedding
    # vectors to reunite them with a slim table. 4 corpus argmax
    # passes -> 3 (2 at the default-centroid sandbox shape, where the
    # block probe is already skipped).
    slim = with_cos.select(id_col, "cell", "cent_cos") \
        .transform(_materialize)
    pairs = near_duplicate_pairs(
        with_cos, threshold=threshold, id_col=id_col, vec_col=vec_col,
        block_col="cell", max_block_rows=max_block_rows,
    )
    cc = connected_components(pairs.select("a", "b")).withColumnRenamed(
        "id", id_col).withColumnRenamed("cluster", "sem_cluster")
    reps = cluster_representatives(
        cc,
        slim.select(id_col, (-F.col("cent_cos")).alias("score")),
        id_col=id_col, cluster_col="sem_cluster", score_col="score",
    ).select(F.col("sem_cluster"), F.col(f"rep_{id_col}").alias("_rep"))
    return (
        slim
        .join(cc, id_col, "left")
        .join(reps, "sem_cluster", "left")
        .select(
            id_col, "cell", "cent_cos", "sem_cluster",
            (F.col("sem_cluster").isNull()
             | (F.col("_rep") == F.col(id_col))).alias("keep"),
        )
    )


def bitext_margin_pairs(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    CCMatrix/LASER method): align documents across two embedding sets
    (source vs target language) by the RATIO margin
    ``cos(x,y) / (mean_k-NN-cos(x)/2 + mean_k-NN-cos(y)/2)``, which
    cancels the hubness that raw cosine suffers in cross-lingual
    spaces (a generic "hub" sentence is near everything; dividing by
    each side's neighborhood density demotes it). For each source doc
    keep its best-margin target if the margin clears ``threshold``
    (the paper's *forward* strategy; intersect with the reverse
    direction for the *intersection* strategy).

    Determinism: cosines are the repo's 6dp-rounded fold; k-NN means
    are integer-quantized sums of those roundings (exact, order-free —
    never a float ``avg``); margins round at 6dp with neighbor-id
    tiebreaks — the DuckDB oracle replays every step bit-for-bit.

    Scale shape: the scoring pass broadcasts the SMALLER side (the
    ``cosine_topk`` baseline contract — correct whenever one language
    slice is bounded, e.g. mining against a curated target corpus);
    at two-unbounded-sides scale, pre-bucket both sides with
    :func:`ivf_assign` and run per-cell (the documented IVF
    composition). Past the pass: per-query k-NN means are windows
    PARTITIONED by the query id, and the final argmax is a map-side
    ``min_by`` fold (the ``cluster_representatives`` pattern), never
    a partition-less window.

    Returns ``(src_id, tgt_id, cosine, margin)``, at most one row per
    source doc.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    s = src.select(F.col(id_col).alias("src_id"),
                   F.col(vec_col).alias("_sv"))
    t = F.broadcast(tgt.select(F.col(id_col).alias("tgt_id"),
                               F.col(vec_col).alias("_tv")))
    # deliberately NOT persisted/checkpointed: scored is the widest
    # possible intermediate (|S| x |T|) but also the CHEAPEST to
    # recompute — a scan-stage broadcast nested loop with no shuffle —
    # so the three consumers (two k-NN means + the margin join) each
    # re-derive it for free, where materializing ~|S|*|T| rows to
    # executor storage would fill local disks at the operator's own
    # documented regime (10^9 src x bounded tgt)
    scored = s.join(t).select(
        "src_id", "tgt_id",
        cosine_col(F.col("_sv"), F.col("_tv")).alias("cosine"))
    ws = Window.partitionBy("src_id").orderBy(
        F.desc("cosine"), F.asc("tgt_id"))
    wt = Window.partitionBy("tgt_id").orderBy(
        F.desc("cosine"), F.asc("src_id"))
    # neighborhood means via integer-quantized sums (the repo's
    # quantized-fold discipline): the cosines are already 6dp-rounded,
    # so summing their 1e6-scalings as longs is exact and
    # partition-order-free — a plain double avg() can flip the 6th
    # decimal depending on accumulation order (measured: one margin in
    # 124 differed by 2e-6 between engines before this)
    c_int = F.round(F.col("cosine") * 1e6).cast("long")
    mean_s = (
        scored.withColumn("_r", F.row_number().over(ws))
        .filter(F.col("_r") <= k)
        .groupBy("src_id")
        .agg((F.sum(c_int).cast("double")
              / (F.count(F.lit(1)) * 1e6)).alias("_ms"))
    )
    mean_t = (
        scored.withColumn("_r", F.row_number().over(wt))
        .filter(F.col("_r") <= k)
        .groupBy("tgt_id")
        .agg((F.sum(c_int).cast("double")
              / (F.count(F.lit(1)) * 1e6)).alias("_mt"))
    )
    margins = (
        scored.join(mean_s, "src_id")
        .join(F.broadcast(mean_t), "tgt_id")
        .select(
            "src_id", "tgt_id", "cosine",
            F.round(
                F.col("cosine")
                / (F.col("_ms") / 2 + F.col("_mt") / 2), 6
            ).alias("margin"),
        )
    )
    best = (
        margins.groupBy("src_id")
        .agg(F.min_by(
            F.struct("tgt_id", "cosine", "margin"),
            F.struct((-F.col("margin")).alias("_m"),
                     F.col("tgt_id").alias("_t"))).alias("_b"))
        .select("src_id", "_b.tgt_id", "_b.cosine", "_b.margin")
    )
    return best.filter(F.col("margin") >= threshold)


def diversity_sample(
    vectors: DataFrame,
    centroids: DataFrame,
    total_n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Cluster-balanced diversity sampling (the DataComp/DCLM-style
    selection shape): assign every vector to its nearest centroid
    (:func:`ivf_assign`), size per-cell quotas by square-root
    allocation (hot semantic clusters don't crowd out the long tail,
    tiny clusters aren't over-represented), and pick deterministically
    inside each cell by md5 rank — a pure function of the data, same
    sample across reruns and cluster sizes. Returns the sampled
    ``(id_col, cell)`` rows.

    Pure composition: the broadcast argmax assignment, the sqrt quota
    table, and the stratified md5-rank pick are the already-audited
    ``ivf_assign`` / ``sqrt_allocation`` / ``stratified_sample``
    operators — one corpus-size exchange (the per-cell rank), quota
    frames broadcast."""
    from commoncrawl_spark.operators.analytics import (
        sqrt_allocation,
        stratified_sample,
    )

    assign = ivf_assign(vectors, centroids, id_col, vec_col).select(
        id_col, "cell")
    quota = sqrt_allocation(assign, "cell", total_n)
    return stratified_sample(
        assign, "cell", quota, key_cols=(id_col,), seed=seed)


def _l2sq_col(a: Column, b: Column) -> Column:
    """Sequential left-fold squared L2 distance (deterministic)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_subvectors(df: DataFrame, m: int, id_col: str, vec_col: str,
                   out_id: str) -> DataFrame:
    """(out_id, sub, sv): each vector sliced into ``m`` contiguous
    subvectors — one explode, slice bounds derived from the vector
    length so the same plan serves any dimension divisible by m."""
    d_sub = (F.size("_v") / F.lit(m)).cast("int")
    return (
        df.select(F.col(id_col).alias(out_id),
                  _as_double(F.col(vec_col)).alias("_v"))
        .select(out_id,
                F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
                F.col("_v"))
        .select(out_id, "sub",
                F.slice("_v", F.col("sub") * d_sub + 1, d_sub).alias("sv"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k (Jégou, Douze & Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011) —
    the MEMORY scale path for similarity search: each corpus vector is
    replaced by ``m`` one-byte codes (here 64 floats = 256 bytes ->
    8 bytes, 32x), and queries score candidates through asymmetric
    distance computation (ADC): per query, one small distance table
    ``dt[sub][cell] = ||q_sub - c_{sub,cell}||^2``, then a candidate's
    approximate distance is just the SUM of ``m`` table lookups —
    no float vector is ever touched at scoring time.

    Codebook: per subspace, the subvectors of the first ``n_codewords``
    corpus vectors (deterministic, training-free — the cross-engine
    oracle replays it exactly; pass ``codebook=(cell, sub, cv)`` rows
    from a trained k-means for production recall, mechanics identical —
    the kmeans_centroids trick of integer-quantized means applies
    per subspace).

    Determinism contract: per-subspace distances fold sequentially
    (deterministic double arithmetic), code assignment breaks ties on
    the 6dp-rounded distance then cell id, and the cross-subspace ADC
    sum is quantized to 1e-6 LONGS before the groupBy — integer
    addition is associative, so partition order cannot perturb the
    ranking (the kmeans_centroids convention).

    Scale shape (10^10 corpus vectors, 1000 executors):
    - encoding touches each vector once: explode to ``m`` slim subvector
      rows, probe the BROADCAST codebook (m * n_codewords rows), argmax
      via ``min_by`` — an aggregate, never a rank window;
    - the distance-table frame is |Q| * m * n_codewords rows —
      broadcast; scoring joins it to the (id, sub, code) frame map-side
      and partial-aggregates the per-pair sum, so the only exchange
      carries (query, candidate) partials — bounded-|Q| contract, same
      as cosine_topk (compose with IVF lists to prune candidates);
    - per-query rank windows partition on query_id (keyed, never
      global).

    Returns ``(query_id, neighbor_id, adist, rank)``, adist ascending
    (squared L2 in the quantized space), rank <= k.
    """
    if m < 1 or n_codewords < 1 or k < 1:
        raise ValueError(
            f"m, n_codewords, k must be >= 1, got {m}, {n_codewords}, {k}")
    if codebook is None:
        codebook = _pq_subvectors(
            corpus.filter(F.col(id_col) < n_codewords), m, id_col, vec_col,
            "cell").withColumnRenamed("sv", "cv")
    cb = F.broadcast(codebook.select("cell", "sub", "cv"))

    d2q = F.round(_l2sq_col(F.col("sv"), F.col("cv"))
                  * F.lit(1000000.0)).cast("long")
    codes = (
        _pq_subvectors(corpus, m, id_col, vec_col, "neighbor_id")
        .join(cb, "sub")
        .groupBy("neighbor_id", "sub")
        .agg(F.min_by(
            "cell",
            F.struct(F.round(_l2sq_col(F.col("sv"), F.col("cv")), 6)
                     .alias("d"), F.col("cell").alias("c"))).alias("code"))
    )
    dt = (
        _pq_subvectors(queries, m, id_col, vec_col, "query_id")
        .join(cb, "sub")
        .select("query_id", "sub", F.col("cell").alias("code"),
                d2q.alias("d2q"))
    )
    adc = (
        codes.join(F.broadcast(dt), ["sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2q") / F.lit(1000000.0), 6).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codewords: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed index shape production
    ANN systems deploy (FAISS ``IVFx,PQy`` with ``by_residual=false``):
    IVF inverted lists prune WHICH candidates a query touches
    (~n_probe/K of the corpus), PQ byte codes shrink WHAT each touch
    costs (m table lookups on m bytes instead of an O(D) float dot) —
    compute and memory attacked at once, which is why this pair is the
    10^10-vector default.

    Everything is L2 end-to-end (coarse assignment, probing, ADC), all
    distances 6dp-rounded with id tie-breaks, ADC sums on
    1e-6-quantized longs — deterministic by the kmeans_centroids
    convention, so the DuckDB oracle replays the full composition.
    Training-free coarse centroids and codebook (first ``n_centroids``
    / ``n_codewords`` vectors); trained drop-ins use the same column
    contracts.

    Scale shape: coarse assignment probes the BROADCAST centroid frame
    with a ``min_by`` aggregate (corpus never shuffles whole, no rank
    window); the probe list is |Q| x n_probe rows; candidates come from
    the probe-to-cell EQUI-join; ADC joins the slim candidate frame to
    byte codes on the id key and to the BROADCAST distance table on
    (sub, code); the per-pair sum partial-aggregates map-side. Rank
    windows are query-partitioned only.
    """
    if n_probe < 1 or n_probe > n_centroids:
        raise ValueError(
            f"n_probe must be in [1, n_centroids], got {n_probe}")
    cents = F.broadcast(
        corpus.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("cell"),
                _as_double(F.col(vec_col)).alias("_cv")))

    # coarse assignment: argmin L2 over the broadcast centroids
    cells = (
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(F.col(vec_col)).alias("_v"))
        .join(cents)
        .groupBy("neighbor_id")
        .agg(F.min_by(
            "cell",
            F.struct(F.round(_l2sq_col(F.col("_v"), F.col("_cv")), 6)
                     .alias("d"), F.col("cell").alias("c"))).alias("cell"))
    )
    # probe list: each query's n_probe nearest cells (keyed window)
    qs = queries.select(F.col(id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("_qv"))
    wq = Window.partitionBy("query_id").orderBy(
        F.asc("_cd"), F.asc("cell"))
    probes = (
        qs.join(cents)
        .select("query_id", "cell",
                F.round(_l2sq_col(F.col("_qv"), F.col("_cv")), 6)
                .alias("_cd"))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "cell")
    )
    cands = (
        probes.join(cells, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )

    codebook = _pq_subvectors(
        corpus.filter(F.col(id_col) < n_codewords), m, id_col, vec_col,
        "cell").withColumnRenamed("sv", "cv")
    cb = F.broadcast(codebook.select("cell", "sub", "cv"))
    codes = (
        _pq_subvectors(corpus, m, id_col, vec_col, "neighbor_id")
        .join(cb, "sub")
        .groupBy("neighbor_id", "sub")
        .agg(F.min_by(
            "cell",
            F.struct(F.round(_l2sq_col(F.col("sv"), F.col("cv")), 6)
                     .alias("d"), F.col("cell").alias("c"))).alias("code"))
    )
    dt = F.broadcast(
        _pq_subvectors(queries, m, id_col, vec_col, "query_id")
        .join(cb, "sub")
        .select("query_id", "sub", F.col("cell").alias("code"),
                F.round(_l2sq_col(F.col("sv"), F.col("cv"))
                        * F.lit(1000000.0)).cast("long").alias("d2q")))
    adc = (
        cands.join(codes, "neighbor_id")
        .join(dt, ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2q") / F.lit(1000000.0), 6).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_outliers(
    vectors: DataFrame,
    top_k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid-distance outlier detection over an embedding column —
    the prototypicality prune curation pipelines run next to SemDeDup:
    points FARTHEST from the corpus centroid are OCR noise, wrong-
    language spillover, or adversarial junk that embedding-space dedup
    never catches (it looks for near-neighbors; these have none).
    Returns the ``top_k`` farthest vectors for audit/removal.

    DETERMINISTIC BY CONSTRUCTION (the kmeans_centroids discipline,
    hardened): components quantize via floor(val * 2^20) — the
    power-of-two multiply is EXACT on the float-promoted double and
    floor has no tie semantics (round() hits real .5 ties on float32
    data; measured on this corpus); the centroid is floor of the
    per-position INTEGER sum / n; each vector's squared distance is an
    exact int64 fold over the quantized diffs (dim 64, diffs ~2e6 ->
    sums far below 2^63) — so ranking and values are bit-stable across
    partitionings and engines, and the DuckDB oracle replays them
    hash-exact.

    Scale shape: ONE posexplode exchange of slim (pos, val) rows for
    the centroid (map-side partial integer sums; dim x 1 rows out),
    centroid rides back as a broadcast array; distances are a
    scan-stage zip_with fold; the global ranking is orderBy().limit()
    = TakeOrderedAndProject (map-side partial top-k, only top_k rows
    cross — never a partition-less window).
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    q = F.floor(F.col("val").cast("double") * 1048576.0).cast("long")
    centroid = (
        vectors.select(F.posexplode(vec_col).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum(q).alias("_s"), F.count(F.lit(1)).alias("_n"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("pos"), F.floor(F.col("_s") / F.col("_n"))
            .cast("long").alias("c")))).alias("_cs"))
        .select(F.transform("_cs", lambda r: r["c"]).alias("_centroid"))
    )
    qvec = F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") * 1048576.0).cast("long"))
    d2 = F.aggregate(
        F.zip_with(qvec, F.col("_centroid"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        vectors.crossJoin(F.broadcast(centroid))
        .select(
            id_col,
            d2.alias("_d2"),
        )
        .orderBy(F.desc("_d2"), F.asc(id_col))
        .limit(top_k)
        # d2 is the exact integer invariant; dist_micros = floor(sqrt)
        # stays integer too (ROUND(double, 6) is the one step Spark's
        # BigDecimal and other engines disagree on at the last digit)
        .select(
            id_col,
            F.col("_d2").alias("d2"),
            F.floor(F.sqrt(F.col("_d2"))).cast("long")
            .alias("dist_micros"))
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
    max_candidates: int = 4096,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    SIGIR'98) — result diversification: greedily pick, ``k`` times, the
    candidate maximizing ``lam * rel - (1-lam) * max_sim_to_selected``
    (cosine; the first pick sees similarity 0). Ten near-identical top
    hits waste a result page — and a few-shot retrieval context — so
    every search stack runs some form of this between ranking and
    display; on the curation side it is the per-query twin of the
    corpus-level diversity sampler.

    Returns ``(id_col, mmr_score, rank)`` with ``mmr_score`` the
    6dp-rounded marginal value AT SELECTION TIME (monotonically
    non-increasing is NOT guaranteed for lam < 1; ties break on the
    id). If fewer than ``k`` candidates exist, all are ranked.

    Determinism: candidates enter in id order (one array_sort), every
    cosine and every marginal score is 6dp-rounded before the argmax,
    and the argmax itself is a struct sort on ``(-score, id)`` — the
    greedy trace replays bit-for-bit in any engine.

    Scale shape: MMR is inherently sequential in ``k``, so it is NOT a
    corpus operator — it re-ranks the BOUNDED output of a retrieval
    stage (top-n from bm25/QL/ANN; n is tens-to-hundreds). The operator
    REFUSES more than ``max_candidates`` rows rather than silently
    folding a corpus into one task (the embedding_neardup guard). The
    greedy loop is ONE ``F.aggregate`` over ``sequence(1, k)`` — a
    constant-size expression tree evaluated iteratively at runtime,
    never k nested copies of itself — over a single collected row;
    cost O(k * n * k) similarity evaluations, independent of corpus
    size."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    n = candidates.count()
    if n > max_candidates:
        raise ValueError(
            f"mmr_rerank: {n} candidates exceed max_candidates="
            f"{max_candidates} — MMR re-ranks a bounded retrieval "
            f"output, not a corpus; cut top-n first or raise the guard")
    cand = F.struct(
        F.col(id_col).alias("id"),
        F.col(rel_col).cast("double").alias("rel"),
        _as_double(F.col(vec_col)).alias("vec"),
    )
    packed = candidates.select(cand.alias("_c")).groupBy().agg(
        F.array_sort(F.collect_list("_c")).alias("_cands"))
    cands = F.col("_cands")
    empty_sel = F.transform(
        F.slice(cands, 1, 0),
        lambda c: F.struct(
            c["id"].alias("id"), F.lit(0.0).alias("score"),
            c["vec"].alias("vec")),
    )

    def step(sel, _i):
        remaining = F.filter(
            cands,
            lambda c: ~F.exists(sel, lambda s: s["id"] == c["id"]))

        def neg_mmr(c):
            max_sim = F.coalesce(
                F.array_max(F.transform(
                    sel, lambda s: cosine_col(c["vec"], s["vec"]))),
                F.lit(0.0))
            m = F.round(
                F.lit(float(lam)) * c["rel"]
                - F.lit(float(1.0 - lam)) * max_sim, 6)
            # + 0.0 folds IEEE -0.0 to +0.0 so a zero marginal sorts
            # identically in every engine
            return -m + F.lit(0.0)

        scored = F.transform(
            remaining,
            lambda c: F.struct(neg_mmr(c).alias("nm"),
                               c["id"].alias("id")))
        best = F.element_at(F.array_sort(scored), 1)
        entry = F.struct(
            best["id"].alias("id"),
            (-best["nm"] + F.lit(0.0)).alias("score"),
            F.element_at(
                F.filter(cands, lambda c: c["id"] == best["id"]), 1
            )["vec"].alias("vec"),
        )
        return F.when(F.size(remaining) == 0, sel).otherwise(
            F.concat(sel, F.array(entry)))

    selected = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(k))), empty_sel, step)
    return (
        packed.select(F.posexplode(selected).alias("_pos", "_s"))
        .select(
            F.col("_s.id").alias(id_col),
            F.col("_s.score").alias("mmr_score"),
            (F.col("_pos") + 1).alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (FAISS SQ8: int8 codes, asymmetric search)
# ---------------------------------------------------------------------------


def sq8_bounds(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension quantization bounds as ONE row ``(los, his)``
    (arrays in dim order) — the trained "codebook" of scalar
    quantization: one posexplode + a dim-keyed map-side-partial
    min/max, then a dim-count-sized collect into arrays. The corpus
    is read once; the result is a broadcastable constant."""
    ex = corpus.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
    per = ex.groupBy("dim").agg(
        F.min(F.col("x").cast("double")).alias("lo"),
        F.max(F.col("x").cast("double")).alias("hi"))
    return per.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("dim", "lo", "hi")))
        .alias("_b"),
    ).select(
        F.transform(F.col("_b"), lambda b: b["lo"]).alias("los"),
        F.transform(F.col("_b"), lambda b: b["hi"]).alias("his"),
    )


def sq8_encode(
    corpus: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize float vectors to uint8 codes: ``code_i = min(255,
    floor(256 * (x - lo_i) / (hi_i - lo_i)))`` (clamped at 0;
    degenerate dims encode 0). FLOOR, not round — round's half-way
    ties resolve differently across engines (banker's vs away), floor
    is exact. 4x memory cut per vector: the difference between a
    10^10-embedding index fitting executor memory or not, at a recall
    cost the sq8 pytest measures. Bounds ride a 1-row broadcast; the
    encode is a per-row indexed transform, zero extra exchanges."""
    j = corpus.crossJoin(F.broadcast(bounds))

    def code(x, i):
        lo = F.element_at(F.col("los"), i + 1)
        hi = F.element_at(F.col("his"), i + 1)
        scale = hi - lo
        raw = F.floor(F.lit(256.0) * (x.cast("double") - lo) / scale)
        return F.when(scale > 0,
                      F.greatest(F.lit(0), F.least(F.lit(255),
                                                   raw.cast("int")))
                      ).otherwise(F.lit(0))

    return j.select(
        F.col(id_col),
        F.transform(F.col(vec_col), code).alias("codes"),
    )


def sq8_topk(
    codes: DataFrame,
    bounds: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric SQ8 search (the FAISS convention: the query stays
    float, corpus codes dequantize to their cell midpoints ``lo_i +
    (code_i + 0.5) * (hi_i - lo_i) / 256``): inner-product top-k per
    query with the usual (score desc, id asc) determinism. Queries
    and bounds broadcast; the codes table is scanned once un-shuffled
    and only (query, neighbor, score) survivors reach the per-query
    rank window — cosine_topk's shape at a quarter the bytes."""
    q = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")))
    j = codes.crossJoin(F.broadcast(bounds)).join(q)

    def dq(c, i):
        lo = F.element_at(F.col("los"), i + 1)
        hi = F.element_at(F.col("his"), i + 1)
        return lo + (c.cast("double") + 0.5) * (hi - lo) / F.lit(256.0)

    score = F.round(dot_col(F.col("_qv"),
                            F.transform(F.col("codes"), dq)), 6)
    scored = (
        j.filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"),
                score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
