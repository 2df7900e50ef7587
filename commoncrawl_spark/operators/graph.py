"""Link-graph operators over a slim ``(src, dst)`` edge table: the
frontier's priority signals (PageRank, TrustRank, spam mass, OPIC,
HITS, harmonic centrality, seed-distance rings), its community and
duplicate structure (label propagation, connected components, k-core,
triangles) and webgraph statistics.

Scale shape of every fixpoint loop here (10^10 edges, 1000 executors):
- the edge list is normalized once (:func:`_edge_list`: non-null,
  distinct, symmetrized or loop-free where the operator is
  undirected) and, where every step joins on it, hash-partitioned by
  ``src`` once and persisted (:func:`_by_src`), so a step moves only
  the slim state — one row per node of ids and a few scores or a
  sketch, never text or vectors;
- one step is equi-joins of the state onto the edge list plus
  map-side-partial aggregates on the node key: no windows, no
  driver-side data (totals ride 1-row broadcasts via crossJoin);
- the steps run through ``materialize.iterate``. The fixed-count
  walks cut every ``CUT_EVERY`` steps and after the last: a per-step
  eager cut is a driver barrier (~1 s of serial latency per round on
  the scaling rig) that only a convergence test needs. The
  convergence loops (connected components, k-core) test at each cut,
  and the test's count stores the cut in the same job. Every cut frees
  the one it replaces, so a result pins one frame.

Reference parity: the reference has no graph stage (its dedup is exact
by canonical URL, download_and_merge.py:198-209); these operators are
part of the LLM-training-data and frontier-priority families the
engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..materialize import iterate, release
from ..materialize import materialize as _materialize

CUT_EVERY = 3        # steps between the fixed-count walks' cuts
KCORE_CUT_EVERY = 4  # peel rounds between k-core's convergence tests


def _edge_list(edges: DataFrame, src_col: str, dst_col: str,
               undirected: bool = False,
               drop_loops: bool = False) -> DataFrame:
    """``edges`` as distinct non-null ``(src, dst)`` pairs, without
    self-loops and/or with both directions when asked."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    if drop_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    if undirected:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return e.distinct()


def _by_src(e: DataFrame) -> DataFrame:
    """``e`` hash-partitioned by ``src`` once and persisted: every
    step's join reuses that exchange and only the state side moves.
    The caller releases it after the loop."""
    return e.repartition("src").persist()


def _nodes(e: DataFrame, *more: DataFrame) -> DataFrame:
    """The distinct ``node`` ids of ``src ∪ dst`` (∪ ``more``)."""
    out = e.select(F.col("src").alias("node")).unionByName(
        e.select(F.col("dst").alias("node")))
    for m in more:
        out = out.unionByName(m)
    return out.distinct()


def _out_degree(e: DataFrame) -> DataFrame:
    return e.groupBy("src").agg(F.count("*").alias("deg"))


def _propagate(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One label-propagation round: neighbor-min, then pointer doubling.

    Each node's INCOMING label rides through the round as ``_prev``
    (every node contributes exactly one own-label row, so a ``max``
    aggregate recovers it beside the min-label fold). The loop's
    convergence check is then a filter over the round's own cut output
    instead of a node-scale shuffle join of new labels against old —
    one fewer exchange per iteration.
    """
    own = labels.select("id", "cluster")
    ctype = dict(own.dtypes)["cluster"]
    nbr_labels = (
        sym.join(own.withColumnRenamed("id", "src"), "src")
        .select(F.col("dst").alias("id"), "cluster",
                F.lit(None).cast(ctype).alias("_prev"))
    )
    stepped = (
        own.withColumn("_prev", F.col("cluster"))
        .unionByName(nbr_labels)
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"),
             F.max("_prev").alias("_prev"))
    )
    # pointer doubling: follow the label chain one extra hop. Every
    # label IS a node id, and labels only decrease, so the jump is
    # always valid and monotone: cluster' = label(label(id)).
    return (
        stepped.join(
            stepped.select(F.col("id").alias("cluster"),
                           F.col("cluster").alias("_c2")),
            "cluster",
        )
        .select("id", F.col("_c2").alias("cluster"), "_prev")
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iters: int = 20,
) -> DataFrame:
    """Label every node in ``edges`` with its component's minimum id —
    the transitive closure of near-duplicate pairs (MinHash-LSH
    verified Jaccard, simhash pigeonhole, embedding near-dup): A~B and
    B~C make {A,B,C} one duplicate cluster even when A and C never
    collide in any band, which the single-pass greedy min-id keep rule
    (``text_dedup.drop_near_duplicates``) cannot see.

    Returns ``(id, cluster)`` with one row per distinct node; ``cluster``
    is the component-minimum node id (deterministic representative).
    Ids may be any orderable type (long doc ids, sha1 hex strings).

    Min-label propagation with pointer doubling: every node adopts the
    smallest label among itself and its neighbors, then jumps to its
    label's label (labels only shrink, so the jump is monotone). A
    fixpoint is exactly the component-minimum labeling; the doubling
    step makes the iteration count logarithmic in component diameter
    (a 10^6-long chain closes in ~20 iterations, the shallow clusters
    near-dup graphs produce in 2-3; ``max_iters`` is a safety guard far
    above that). Every round is cut, and the count of changed labels
    that stops the loop at 0 stores the cut in the same job — one job
    and one driver barrier per round.
    """
    sym = _edge_list(edges, a_col, b_col, undirected=True).transform(
        _materialize)
    labels = (
        sym.select(F.col("src").alias("id")).distinct()
        .withColumn("cluster", F.col("id"))
        .transform(_materialize)
    )
    labels = iterate(
        labels, lambda labels, _: _propagate(sym, labels), max_iters, 1,
        until=lambda labels: labels.filter(
            F.col("cluster") != F.col("_prev")).count() == 0)
    release(sym)
    return labels.select("id", "cluster")


def _rank_walk(e: DataFrame, nodes: DataFrame, iters: int,
               damping: float, col: str) -> DataFrame:
    """Biased PageRank over the normalized edge list ``e``: ``nodes``
    is the cut ``(node, bias)`` table, ``col`` starts at ``bias`` and
    each iteration sets ``col' = (1-d)*bias + d*Σ_{incoming}
    col/out_degree``. The out-degree travels with the edge list, so
    the loop never re-joins it. Returns ``(node, col)``."""
    ann = _by_src(e.join(_out_degree(e), "src"))

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contribs = (
            ann.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col(col) / F.col("deg")).alias("mass"))
        )
        return nodes.join(contribs, "node", "left").select(
            "node",
            (F.lit(1.0 - damping) * F.col("bias")
             + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
             ).alias(col),
        )

    ranks = iterate(nodes.select("node", F.col("bias").alias(col)),
                    step, iters, CUT_EVERY)
    release(ann)
    if iters:  # else the returned starting vector still reads nodes
        release(nodes)
    return ranks


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a slim ``(src, dst)`` edge table —
    the crawl-frontier priority signal: hosts (or URLs) that the link
    graph points at hardest get fetched first (feed the result into
    ``schedule.select_polite_batch``'s priority ordering).

    Semantics (GraphX-style, so a SQL oracle can reproduce it exactly):
    ``rank0 = 1.0`` for every node in ``src ∪ dst``; each iteration
    ``rank' = (1 - d) + d * Σ_{incoming} rank/out_degree``. Dangling
    nodes contribute nothing (mass leaks, as in GraphX's default) —
    deterministic and CTE-expressible, unlike redistribution schemes.
    Fixed ``iters`` rather than a convergence test keeps the result
    bit-stable across runs and oracle-checkable. It is
    :func:`trustrank`'s walk with a bias of 1.0 on every node:
    ``(1-d)*1.0`` is exactly ``1-d``.

    Returns ``(node, rank)``, one row per distinct node.
    """
    e = _edge_list(edges, src_col, dst_col)
    nodes = _nodes(e).withColumn("bias", F.lit(1.0)).transform(_materialize)
    return _rank_walk(e, nodes, iters, damping, "rank")


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) over a slim ``(src, dst)``
    edge table — the second classic crawl-priority signal next to
    :func:`pagerank`: ``auth`` ranks pages the graph points AT (fetch
    these), ``hub`` ranks pages that point at good pages (expand links
    FROM these first). A frontier that orders link expansion by hub
    score discovers high-authority pages sooner than BFS.

    Semantics (chosen so a SQL oracle can unroll the exact recurrence):
    ``hub0 = auth0 = 1.0`` for every node in ``src ∪ dst``; each
    iteration updates ``auth'(n) = Σ_{(s,n)∈E} hub(s)`` then
    ``hub'(n) = Σ_{(n,d)∈E} auth'(d)`` (the classic in-place order:
    hubs see the NEW authorities), each followed by **L1
    normalization** (divide by the score sum). Classic HITS normalizes
    in L2; L1 is used here because it preserves the ranking and the
    fixpoint direction while keeping every intermediate a plain
    sum-and-divide a DuckDB CTE chain reproduces bit-for-bit at 6dp.
    Fixed ``iters`` (no convergence test) keeps the result stable
    across runs and oracle-checkable.

    Scale shape: the module's, with two persisted layouts of the cut
    edge list (by ``src`` for the auth update, by ``dst`` for the hub
    update). Each update is one step of the loop and is cut: its L1
    total and the next update both read it, so an uncut chain would
    recompute every earlier update twice per step — which is why hits
    cuts per update where :func:`pagerank` cuts every ``CUT_EVERY``.

    Returns ``(node, hub, auth)``, one row per distinct node.
    """
    # cut the deduped edge list FIRST: the two join layouts and the
    # node derivation would otherwise each recompute the corpus-scale
    # distinct() shuffle
    e = _edge_list(edges, src_col, dst_col).transform(_materialize)
    by_src = _by_src(e)
    by_dst = e.repartition("dst").persist()
    scores = _nodes(e).select(
        "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
    ).transform(_materialize)

    def update(scores: DataFrame, i: int) -> DataFrame:
        # even steps: auth from the hubs over in-edges; odd steps: hub
        # from the new auths over out-edges
        layout, key, to, frm, score = (
            (by_src, "src", "dst", "hub", "auth") if i % 2 == 0
            else (by_dst, "dst", "src", "auth", "hub"))
        mass = (
            layout.join(scores.select(F.col("node").alias(key), frm), key)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum(frm).alias("_m"))
        )
        upd = scores.join(mass, "node", "left").withColumn(
            score, F.coalesce("_m", F.lit(0.0)))
        # every mass row's node is in the state, so the L1 total is the
        # mass's own sum: planned from `mass`, it reads the same
        # exchanges as the update instead of re-planning `upd`
        total = mass.agg(F.sum("_m").alias("_tot"))
        return (
            upd.crossJoin(F.broadcast(total))
            .withColumn(score, F.col(score) / F.col("_tot"))
            .select("node", "hub", "auth")
        )

    scores = iterate(scores, update, 2 * iters, 1)
    for f in (e, by_src, by_dst):
        release(f)
    return scores


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB 2004) — PageRank with the teleport restricted to a vetted seed
    set, the classic spam-demotion signal for a crawl frontier: hosts
    reachable from trusted seeds in few hops keep their score; link
    farms that only cite each other get (1-d) of NOTHING and decay
    toward zero, however dense their internal linkage. Feed the result
    into ``schedule.select_polite_batch``'s ``priority_cols`` next to
    :func:`pagerank` (or threshold their ratio as a spam-mass gate).

    Semantics (CTE-expressible, like :func:`pagerank`):
    ``t0 = bias``, each iteration ``t' = (1-d)*bias + d*Σ_{incoming}
    t/out_degree`` with ``bias = 1/|S|`` for seed nodes and 0
    otherwise. Dangling mass leaks (GraphX default). Fixed ``iters``
    keeps the result bit-stable and oracle-checkable. Seeds not present
    in the edge graph still receive their bias (they are real trusted
    hosts even when nothing links them yet).

    Scale shape: :func:`pagerank`'s walk; the seed count is a 1-row
    aggregate broadcast via crossJoin, never a collect. The seed table
    is corpus-tiny by construction (hand-vetted lists are thousands of
    hosts) and joins broadcast.

    Returns ``(node, trust)``, one row per node in ``edges ∪ seeds``.
    """
    e = _edge_list(edges, src_col, dst_col)
    s = (
        seeds.select(F.col(seed_col).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .transform(_materialize)
    )
    n_seeds = s.agg(F.count("*").alias("_ns"))
    nodes = (
        _nodes(e, s)
        .crossJoin(F.broadcast(n_seeds))
        .join(F.broadcast(s.withColumn("_seed", F.lit(1))), "node", "left")
        .select(
            "node",
            (F.when(F.col("_seed").isNotNull(), 1.0 / F.col("_ns"))
             .otherwise(F.lit(0.0))).alias("bias"),
        )
        .transform(_materialize)
    )
    release(s)
    return _rank_walk(e, nodes, iters, damping, "trust")


def opic(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """OPIC — batch-synchronous Online Page Importance Computation
    (Abiteboul, Preda & Cobéna, "Adaptive On-Line Page Importance
    Computation", WWW 2003) — the importance signal real crawlers
    (e.g. Nutch/StormCrawler lineages) use INSTEAD of PageRank,
    because it needs no convergence loop over the whole web: each
    page holds *cash*; fetching/processing a page distributes its
    cash equally to its out-links and banks the spent amount in the
    page's *history*. Importance ∝ history — pages that keep
    receiving cash from important pages accumulate history fastest,
    and the estimate is usable after ANY number of rounds (online),
    unlike PageRank's fixed-point. This batch variant processes every
    page once per round (the paper's "Greedy = all" schedule).

    Semantics (deterministic, CTE-expressible so a SQL oracle can
    unroll the exact recurrence):
    ``cash0 = 1/n`` per node (n = |src ∪ dst|), ``history0 = 0``; per
    round::

        received(v) = Σ_{(u,v) ∈ E} cash(u) / out_degree(u)
        dangling    = Σ_{u : out_degree(u)=0} cash(u) / n
        cash'       = received + dangling      # uniform virtual page
        history'    = history + cash

    Dangling cash is redistributed uniformly (the paper's *virtual
    page* that every node links to and from), so total cash stays
    exactly 1 every round and total history after T rounds is exactly
    T. The normalized estimate ``importance = (history + cash) /
    (T + 1)`` therefore sums to 1 — comparable across graphs and
    round counts. Fixed ``iters`` keeps the result bit-stable.

    Scale shape: :func:`pagerank`'s join per round plus a 1-row
    dangling-mass aggregate that rides back in via
    ``crossJoin(broadcast(...))`` — never a collect (n itself is a
    1-row count aggregate, also broadcast).

    Returns ``(node, cash, history, importance)``, one row per node.
    """
    e = _edge_list(edges, src_col, dst_col)
    out_deg = _out_degree(e)
    ann = _by_src(e.join(out_deg, "src"))
    nodes = _nodes(e)
    n_nodes = nodes.agg(F.count("*").alias("_n"))
    # nodes annotated once with n (1-row broadcast) and a dangling
    # marker (left-anti-shaped via the degree table), so the loop body
    # is pure column arithmetic over slim state
    state = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .join(out_deg.select(F.col("src").alias("node"),
                             F.lit(1).alias("_has_out")),
              "node", "left")
        .select("node", "_n",
                F.coalesce("_has_out", F.lit(0)).alias("_has_out"),
                (F.lit(1.0) / F.col("_n")).alias("cash"),
                F.lit(0.0).alias("history"))
        .transform(_materialize)
    )

    def step(state: DataFrame, _: int) -> DataFrame:
        received = (
            ann.join(state.select(F.col("node").alias("src"), "cash"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("cash") / F.col("deg")).alias("received"))
        )
        dangling = state.filter(F.col("_has_out") == 0).agg(
            F.coalesce(F.sum("cash"), F.lit(0.0)).alias("_dangling"))
        return (
            state.join(received, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node", "_n", "_has_out",
                (F.coalesce("received", F.lit(0.0))
                 + F.col("_dangling") / F.col("_n")).alias("cash"),
                (F.col("history") + F.col("cash")).alias("history"),
            )
        )

    state = iterate(state, step, iters, CUT_EVERY)
    release(ann)
    return state.select(
        "node", "cash", "history",
        ((F.col("history") + F.col("cash")) / F.lit(float(iters + 1))
         ).alias("importance"),
    )

def dedup_clusters(
    pairs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Cluster assignment for a whole corpus from verified duplicate pairs.

    Every corpus document gets a ``cluster`` label: members of a
    duplicate component share the component-minimum ``id_col``;
    singletons (documents in no pair) are their own cluster. The keep
    set of a transitive dedup is then ``cluster == id_col`` — one
    representative per component, which unlike the greedy single-pass
    rule cannot keep a chain's tail alive through a dropped middle.
    """
    comp = connected_components(pairs, a_col, b_col)
    return (
        corpus.select(id_col)
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster", F.col(id_col)).alias("cluster"),
        )
    )

def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    score_col: str = "score",
) -> DataFrame:
    """Representative election per duplicate cluster: keep the member
    with the HIGHEST score (ties broken by smallest id). The min-id
    keep rule (``cluster == id``) discards quality information; real
    curation pipelines keep the best member — FineWeb keeps the
    longest document, CCNet the best-perplexity one — so this takes an
    arbitrary per-document score table and elects ``argmax(score,
    -id)`` per cluster. Output one row per cluster: ``(cluster_col,
    rep_<id_col>, n_members, rep_score)``; the keep set is the
    ``rep_<id_col>`` column, and ``n_members`` sizes each collapsed
    group for shrinkage accounting.

    Scale shape: one slim equi-join on the unique doc id (clusters x
    scores both carry two narrow columns) and ONE map-side-partial
    aggregate on the cluster key — ``max_by`` over a (score, -id)
    struct folds per partition before the exchange, so a pathological
    million-member boilerplate cluster contributes one partial row per
    map partition, where a row_number window would funnel every member
    through a single task.
    """
    joined = clusters.join(scores, id_col)
    # argmax(score) with ties to the SMALLEST id via min_by over
    # (-score, id): the id is never negated, so string ids (URLs, sha1
    # hex — the normal web-corpus case) order lexicographically instead
    # of crashing in an implicit numeric cast; only the score (numeric
    # by contract) is inverted
    order_key = F.struct(
        (-F.col(score_col)).alias("_s"), F.col(id_col).alias("_t"))
    return (
        joined.groupBy(cluster_col)
        .agg(
            F.min_by(F.col(id_col), order_key).alias(f"rep_{id_col}"),
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.col(score_col)).alias("rep_score"),
        )
    )


def spam_mass(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iters: int = 3,
    damping: float = 0.85,
    threshold: float = 0.5,
) -> DataFrame:
    """Relative spam mass (Gyöngyi, Berkhin, Garcia-Molina & Pedersen,
    "Link Spam Detection Based on Mass Estimation", VLDB 2006): the
    fraction of a node's PageRank that does NOT flow from trusted
    seeds. With ``pn = pr / Σpr`` (uniform-teleport PageRank,
    normalized) and ``tn = tr / Σtr`` (TrustRank, normalized),

        spam_mass = (pn - tn) / pn

    — near 1 for hosts whose whole rank comes from untrusted linkage
    (link farms: high pr, zero trust), near 0 (or negative) for hosts
    the seed neighborhood endorses more than the raw graph does.
    Returns ``(node, pr, trust, spam_mass, is_candidate)`` where
    ``is_candidate = round(spam_mass, 6) >= threshold`` — thresholding
    the ROUNDED value so the boolean is bit-stable cross-engine. Only
    nodes ranked by both walks are returned (inner join on the node
    key; seeds outside the edge graph have no pr to decompose).

    Scale shape: two fixed-iteration walks over the same slim edge
    table (each iteration one exchange on the node key, map-side
    partial), two 1-row broadcast totals, one node-key join — nothing
    wider than the rank vectors themselves. Composition only: all the
    iteration machinery is :func:`pagerank` / :func:`trustrank`."""
    pr = pagerank(edges, src_col, dst_col, iters, damping)
    tr = trustrank(edges, seeds, src_col, dst_col, seed_col,
                   iters, damping)
    pr_sum = pr.agg(F.sum("rank").alias("_ps"))
    tr_sum = tr.agg(F.sum("trust").alias("_ts"))
    pn = F.col("rank") / F.col("_ps")
    tn = F.col("trust") / F.col("_ts")
    sm = F.round((pn - tn) / pn, 6)
    return (
        pr.join(tr, "node")
        .crossJoin(F.broadcast(pr_sum))
        .crossJoin(F.broadcast(tr_sum))
        .select(
            "node",
            F.round("rank", 6).alias("pr"),
            F.round("trust", 6).alias("trust"),
            sm.alias("spam_mass"),
            (sm >= F.lit(threshold)).alias("is_candidate"),
        )
    )


def seed_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_depth: int = 6,
) -> DataFrame:
    """Breadth-first link distance from a seed set — the classic
    depth-limited crawl policy (``maxdepth`` in Heritrix/Nutch scopes):
    a URL/host is admitted only while its shortest link path from a
    vetted seed is within budget, and frontier rings (``depth = 1, 2,
    ...``) are exactly the order a BFS crawl visits them. Also the
    standard diagnostic for seed-list coverage: mass at ``depth > k``
    means the seeds under-cover that region of the graph.

    Semantics (deterministic, CTE-expressible): ``depth(v) = 0`` for
    seeds; each round relaxes one hop, ``depth'(v) = min(depth(v),
    1 + min over incoming edges of depth(u))``; after ``max_depth``
    rounds every node within ``max_depth`` hops carries its exact
    shortest distance (unreached nodes are absent from the output —
    at web scale materializing the unreachable complement is the
    mistake).

    Scale shape: the module's, with ``(node, depth)`` state; one
    round = one equi-join of the CURRENT reached set onto the edge
    list + one min-aggregation (the reached set starts seed-sized and
    grows one ring per round, so early rounds join a tiny side).

    Returns ``(node, depth)`` for every node within ``max_depth``.
    """
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    e = _by_src(_edge_list(edges, src_col, dst_col))
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .withColumn("depth", F.lit(0))
        .transform(_materialize)
    )

    def relax(dist: DataFrame, _: int) -> DataFrame:
        hop = (
            e.join(dist.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"),
                    (F.col("depth") + 1).alias("depth"))
        )
        return (
            dist.unionByName(hop)
            .groupBy("node")
            .agg(F.min("depth").alias("depth"))
        )

    dist = iterate(dist, relax, max_depth, CUT_EVERY)
    release(e)
    return dist


def harmonic_centrality(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    radius: int = 6,
    lgk: int = 12,
) -> DataFrame:
    """HyperBall harmonic centrality (Boldi & Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall", ICDM 2013
    workshops) — the metric the Common Crawl webgraph releases rank
    hosts by. ``H(v) = sum over u != v of 1 / d(u, v)``: hosts that
    MANY hosts reach over SHORT link paths score high, and unlike
    PageRank the score cannot be farmed by a single dense in-link
    cluster (each new reachable source adds at most ``1/d``).

    Exact all-pairs distances are O(V*E) — hopeless at 10^8 hosts. The
    HyperBall trick: represent each node's in-ball
    ``B(v, t) = {u : d(u, v) <= t}`` as a mergeable HLL sketch, and
    grow every ball one hop per round via the recurrence
    ``B(v, t) = {v} UNION B(u, t-1) for each edge u -> v`` — set union
    becomes HLL register-max, so one round is ONE equi-join of the
    (node, sketch) state onto the edge list plus ONE
    ``hll_union_agg`` exchange on the destination key. The harmonic sum
    folds incrementally from the ball-size deltas:
    ``H(v) += (|B(v,t)| - |B(v,t-1)|) / t``.

    Accuracy contract, same as ``operators/sketches.py``: DataSketches
    HLL is EXACT while a ball fits the sketch's sparse/coupon mode
    (thousands of nodes at ``lgk=12``), then ~1.6% RSE — the driver
    query's DuckDB oracle (an exact recursive BFS) leans on the exact
    regime at test scale; at web scale the estimate degrades gracefully
    and the RANKING it induces is what ships.

    Scale shape: the module's, with one ``(node, 2^lgk-byte sketch,
    long, double)`` state row per node — fixed size, never proportional
    to ball size (the whole point vs. exact BFS frontier sets, which
    explode to V*E pairs). ``hll_union_agg`` is a declarative
    aggregate: partial unions build map-side, so a host with 10^6
    in-links folds to one sketch per map partition before the exchange
    (in-degree skew bounded). ``radius`` is fixed, and past the
    graph's effective diameter the deltas are zero.

    Returns ``(node, ball, harmonic)``: the in-ball size at ``radius``
    (reachable-source count, itself the "how discoverable" metric) and
    the harmonic centrality sum (at ``radius = 0``: 1 and 0).
    """
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    e = _by_src(_edge_list(edges, src_col, dst_col, drop_loops=True))
    state = (
        _nodes(e).groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(lgk)).alias("sk"))
        .withColumn("cnt", F.lit(1).cast("long"))
        .withColumn("harm", F.lit(0.0))
        .transform(_materialize)
    )

    def grow(state: DataFrame, i: int) -> DataFrame:
        t = i + 1
        contrib = (
            e.join(state.select(F.col("node").alias("src"), "sk"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.hll_union_agg("sk", F.lit(False)).alias("csk"))
        )
        # sinks (no in-edges this round) keep their ball: left join +
        # conditional union. hll_union is register-max, so re-merging
        # the node's own sketch every round is idempotent.
        grown = state.join(contrib, "node", "left").select(
            "node",
            F.when(F.col("csk").isNull(), F.col("sk"))
            .otherwise(F.hll_union("sk", "csk")).alias("sk"),
            "cnt", "harm",
        )
        return grown.select(
            "node", "sk",
            F.hll_sketch_estimate("sk").alias("cnt"),
            (F.col("harm")
             + (F.hll_sketch_estimate("sk") - F.col("cnt"))
             / F.lit(float(t))).alias("harm"),
        )

    state = iterate(state, grow, radius, CUT_EVERY)
    release(e)
    return state.select(
        "node",
        F.col("cnt").alias("ball"),
        F.col("harm").alias("harmonic"),
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara, "Near linear time algorithm to detect community
    structures in large-scale networks", Phys. Rev. E 2007) — the
    near-linear community primitive for host graphs: mirror clusters,
    link rings, and topical neighborhoods surface as labels without any
    objective function to optimize or parameter to tune.

    Made DETERMINISTIC (the paper's async random-order variant is not):
    synchronous rounds over the SYMMETRIZED edge list, each node
    adopting the argmax neighbor label with ties broken by (count desc,
    label asc) — expressed as ``min_by(label, struct(-count, label))``,
    never a negated id (labels here are numeric node ids; the struct
    keeps the tie-break total). Self-loops are dropped: a node must not
    vote for itself or singleton labels never merge.

    Scale shape: the module's, with ``(node, label)`` state; one round
    is one equi-join of state onto the edge list + TWO map-side-partial
    aggregates — (dst, label) vote counts (collapses a 10^6-in-degree
    host's messages per map partition), then the per-dst argmax over
    the already-tiny vote rows (an aggregate, not a window rank).

    Returns ``(node, community)`` after ``iters`` rounds; community ids
    are node ids (the label each community converged onto; at
    ``iters = 0`` every node is its own community).
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    e = _by_src(_edge_list(edges, src_col, dst_col, undirected=True,
                           drop_loops=True))
    state = (
        e.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .transform(_materialize)
    )

    def vote(state: DataFrame, _: int) -> DataFrame:
        votes = (
            e.join(state.select(F.col("node").alias("src"), "label"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        return votes.groupBy("node").agg(
            F.min_by(
                "label",
                F.struct((-F.col("cnt")).alias("nc"),
                         F.col("label").alias("l")),
            ).alias("label"))

    state = iterate(state, vote, iters, CUT_EVERY)
    release(e)
    return state.select("node", F.col("label").alias("community"))


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over the
    UNDIRECTED simple graph induced by ``edges`` (direction, self-loops
    and multi-edges dropped) — the spam/mirror-farm structural signal:
    link farms are near-cliques (clustering ~1), organic hubs are
    star-like (clustering ~0).

    Algorithm: node-iterator with DEGREE ORIENTATION (Cohen, "Graph
    twiddling in a MapReduce world", CiSE 2009; Suri & Vassilvitskii
    WWW'11). Every undirected edge is oriented from its lower
    (degree, id) endpoint to the higher; each triangle then has exactly
    ONE wedge node whose two oriented out-edges span it, so wedges are
    generated once and closed by a single equi-join against the
    oriented edge list. Orientation is the skew defeat: a 10^7-degree
    hub re-orients almost all its edges INWARD, bounding every node's
    out-degree by O(sqrt(m)) and the wedge count by O(m^1.5) — the
    naive src-grouped wedge join on the same hub would generate 10^14
    pairs.

    Scale shape (10^9 edges, 1000 executors):
    - three slim all-long frames: canonical edges, degrees, oriented
      edges; text never enters;
    - wedge generation and closure are hash equi-joins on node keys;
      the (deg, id) orientation rank rides each edge as a struct
      column, compared per-row — no global rank window;
    - per-node counts partial-aggregate map-side; degree-only nodes
      come back via one left join, not a second scan.

    Returns ``(node, degree, n_triangles, clustering)`` with
    ``clustering = 2T / (deg * (deg - 1))`` rounded 6dp (0.0 when
    degree < 2). The slim result is cut eagerly through ``materialize``
    and the persisted degree/oriented frames unpersisted before
    returning (repo persist-lifecycle convention); plan tests and
    SCALE.md inspect the frame it cuts, as
    ``scripts/plan_audit.cut_frames()`` records it.
    """
    und = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .filter(F.col("s") != F.col("d"))
        .select(F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count("*").alias("degree"))
        .persist()
    )
    # orient a<->b by (degree, id); carry the dst rank for the wedge
    # ordering below so no second degree join is needed
    ranked = (
        und.join(deg.select(F.col("node").alias("a"),
                            F.col("degree").alias("_da")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("degree").alias("_db")), "b")
        .select(
            F.when(
                F.struct(F.col("_da").alias("d"), F.col("a").alias("i"))
                < F.struct(F.col("_db").alias("d"), F.col("b").alias("i")),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v"),
                         F.col("_db").alias("dv")))
            .otherwise(
                F.struct(F.col("b").alias("u"), F.col("a").alias("v"),
                         F.col("_da").alias("dv"))).alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"),
                F.col("e.dv").alias("dv"))
        .persist()
    )
    # wedges at u: ordered pairs of out-neighbors (v before w by the
    # same (deg, id) rank) -> closed iff oriented edge v->w exists
    lo = ranked.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    hi = ranked.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = (
        lo.join(hi, "u")
        .filter(F.struct(F.col("dx").alias("d"), F.col("x").alias("i"))
                < F.struct(F.col("dy").alias("d"), F.col("y").alias("i")))
        .select("u", "x", "y")
    )
    tris = wedges.join(
        ranked.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
    )
    per_node = (
        tris.select(F.col("u").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
        .groupBy("node").agg(F.count("*").alias("n_triangles"))
    )
    out = (
        deg.join(per_node, "node", "left")
        .select(
            "node", "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") > 1,
                F.round(2.0 * F.coalesce("n_triangles", F.lit(0))
                        / (F.col("degree") * (F.col("degree") - 1)), 6))
            .otherwise(F.lit(0.0)).alias("clustering"))
    )
    ck = out.transform(_materialize)
    ranked.unpersist()
    deg.unpersist()
    return ck


def degree_distribution(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Log-binned in/out-degree histogram — the power-law summary every
    webgraph release publishes (Common Crawl's own graph stats): bucket
    k holds nodes with degree in [2^k, 2^(k+1)), so a 10-order-of-
    magnitude degree range compresses to ~35 rows per direction.

    The bin index is ``length(bin(degree)) - 1`` — the bit width minus
    one, an EXACT integer floor(log2): float ``log2`` at power-of-two
    boundaries is an engine-parity bet (same reason the varint coster
    avoids it).

    Scale shape: two map-side-partial count aggregates (per-node out /
    in degree over the distinct edge list) and one tiny re-aggregate
    onto the ~35x2 bucket rows; no joins, no windows.

    Returns ``(direction, bucket, n_nodes, min_degree, max_degree)``.
    """
    e = _edge_list(edges, src_col, dst_col)
    out = []
    for direction, key in (("out", "src"), ("in", "dst")):
        deg = e.groupBy(F.col(key).alias("node")).agg(
            F.count("*").alias("degree"))
        out.append(
            deg.select(
                F.lit(direction).alias("direction"),
                (F.length(F.bin("degree")) - 1).cast("long").alias("bucket"),
                F.col("degree"))
            .groupBy("direction", "bucket")
            .agg(F.count("*").alias("n_nodes"),
                 F.min("degree").alias("min_degree"),
                 F.max("degree").alias("max_degree")))
    return out[0].unionByName(out[1])


def reciprocal_link_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-source reciprocity: of a host's distinct out-links, how many
    point back — link exchanges and mirror rings sit near ratio 1,
    organic citation graphs near 0 (the classic spam-vs-organic
    structural signal alongside :func:`triangle_counts`).

    One left-semi equi-join of the edge list against its own swap marks
    reciprocated edges; counts partial-aggregate map-side on the src
    key. Self-loops are dropped (trivially reciprocal).

    Returns ``(node, n_out, n_reciprocal, reciprocity)`` (ratio 6dp).
    """
    e = _edge_list(edges, src_col, dst_col, drop_loops=True)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    marked = e.join(rev, ["src", "dst"], "left_semi").select(
        "src", F.lit(1).alias("_r"))
    per_src = e.groupBy("src").agg(F.count("*").alias("n_out"))
    rec = marked.groupBy("src").agg(F.count("*").alias("n_reciprocal"))
    return (
        per_src.join(rec, "src", "left")
        .select(
            F.col("src").alias("node"), "n_out",
            F.coalesce("n_reciprocal", F.lit(0)).alias("n_reciprocal"),
            F.round(F.coalesce("n_reciprocal", F.lit(0))
                    / F.col("n_out"), 6).alias("reciprocity"))
    )


def kcore(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 16,
) -> DataFrame:
    """k-core decomposition membership (Seidman, Social Networks 1983):
    the maximal subgraph in which every node has degree >= ``k``, found
    by iterative peeling — repeatedly delete every node whose CURRENT
    degree is below ``k`` (deleting a weak node lowers its neighbors'
    degrees, which may push them under next round). The web-graph use:
    the k-core of the host graph is the densely interlinked center
    (directories, hubs, link farms all surface here), while low-core
    hosts are the crawl periphery — a cheap, parameter-light density
    signal beside PageRank for crawl-budget tiers and link-spam triage.

    Semantics: the input digraph is SYMMETRIZED (degree = distinct
    undirected neighbors; self-loops dropped), then peeled for at most
    ``max_rounds`` rounds, with an early exit at the first cut (every
    ``KCORE_CUT_EVERY`` rounds) where no node is below ``k``. Returns
    ``(node, deg)`` for the surviving nodes with their within-core
    degree. Peeling is confluent — any deletion order reaches the same
    fixed point — so the result is deterministic, and a bounded-round
    replay is EXACTLY reproducible by an external engine unrolling the
    same recurrence (rounds past the fixed point are no-ops, so where
    the loop exits cannot desynchronize the oracle). If the peel has
    not converged after ``max_rounds`` the result is the
    round-``max_rounds`` state — the same state the oracle computes —
    with any not-yet-peeled node still subject to the final
    ``deg >= k`` cut.

    Scale shape: the module's, with the surviving edge list as the
    state; one round = one map-side-partial count + two semi-joins on
    the slim survivor set, and the convergence test is a scalar count.
    Real web graphs peel in a handful of rounds (peeling depth, not
    diameter); ``max_rounds`` caps the adversarial chain-graph case
    where one node falls per round."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    sym = _edge_list(edges, src_col, dst_col, undirected=True,
                     drop_loops=True).transform(_materialize)

    def degrees(sym: DataFrame) -> DataFrame:
        return sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    def peel(sym: DataFrame, _: int) -> DataFrame:
        alive = degrees(sym).filter(F.col("deg") >= k).select("src")
        return (
            sym.join(alive, "src", "semi")
            .join(alive.withColumnRenamed("src", "dst"), "dst", "semi")
        )

    sym = iterate(
        sym, peel, max_rounds, KCORE_CUT_EVERY,
        until=lambda sym: degrees(sym).filter(F.col("deg") < k).count() == 0)
    return (
        degrees(sym).filter(F.col("deg") >= k)
        .select(F.col("src").alias("node"), "deg")
    )
