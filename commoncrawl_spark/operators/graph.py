"""Distributed connected components over a pair/edge table.

Near-duplicate pairs (MinHash-LSH verified Jaccard, simhash pigeonhole,
embedding near-dup) form a GRAPH: A~B and B~C means {A,B,C} is one
duplicate cluster even when A and C never collide in any band. The
greedy min-id keep rule (``text_dedup.drop_near_duplicates``) is
single-pass but not transitive; this module gives the transitive
closure — each node labeled with the minimum id of its component — as
iterative min-label propagation, entirely DataFrame ops.

Scale shape (10^10 nodes, 1000 executors):
- state per iteration is one slim ``(id, label)`` frame — two columns,
  never text or vectors;
- one iteration = one equi-join (labels onto the symmetric edge list)
  plus one min-aggregation, both partial-aggregating map-side; no
  windows, no driver data;
- each iteration is a neighbor-min step PLUS a pointer-doubling step
  (every node jumps to its label's label), so convergence is
  O(log diameter) — a 10^6-long chain closes in ~20 iterations, and
  the shallow clusters near-dup graphs actually produce close in 2-3;
  ``max_iters`` is a safety guard far above that;
- per-iteration ``localCheckpoint`` truncates the lineage so the plan
  does not deepen with iterations (same discipline as
  ``similarity.kmeans_centroids``), and the convergence check is the
  driver-side count of changed labels — one long, not data.

Reference parity: the reference has no graph stage (its dedup is exact
by canonical URL, download_and_merge.py:198-209); this operator is part
of the LLM-training-data family the engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..materialize import materialize as _materialize


def _propagate(sym: DataFrame, labels: DataFrame,
               carry_prev: bool = False) -> DataFrame:
    """One label-propagation round: neighbor-min, then pointer doubling.

    Split out (un-checkpointed) so plan tests and the SCALE.md audit can
    inspect the per-iteration physical plan — the loop checkpoints each
    round, which would otherwise hide it behind an RDD scan.

    ``carry_prev`` threads each node's INCOMING label through the round
    as ``_prev`` (every node contributes exactly one own-label row, so
    a ``max`` aggregate recovers it beside the min-label fold). The
    loop's convergence check then becomes a filter over the round's own
    checkpointed output instead of a node-scale shuffle join of new
    labels against old — one fewer exchange per iteration (r4; the
    check was measurably driver/shuffle-bound at sandbox round sizes).
    """
    own = labels.select("id", "cluster")
    nbr_labels = (
        sym.join(own.withColumnRenamed("id", "nb"), "nb")
        .select("id", "cluster")
    )
    if carry_prev:
        ctype = dict(own.dtypes)["cluster"]
        own = own.withColumn("_prev", F.col("cluster"))
        nbr_labels = nbr_labels.withColumn(
            "_prev", F.lit(None).cast(ctype))
        aggs = [F.min("cluster").alias("cluster"),
                F.max("_prev").alias("_prev")]
        carry = [F.col("_prev")]
    else:
        aggs = [F.min("cluster").alias("cluster")]
        carry = []
    stepped = own.unionByName(nbr_labels).groupBy("id").agg(*aggs)
    # pointer doubling: follow the label chain one extra hop. Every
    # label IS a node id, and labels only decrease, so the jump is
    # always valid and monotone: cluster' = label(label(id)).
    return (
        stepped.join(
            stepped.select(F.col("id").alias("cluster"),
                           F.col("cluster").alias("_c2")),
            "cluster",
        )
        .select("id", F.col("_c2").alias("cluster"), *carry)
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iters: int = 20,
) -> DataFrame:
    """Label every node in ``edges`` with its component's minimum id.

    Returns ``(id, cluster)`` with one row per distinct node; ``cluster``
    is the component-minimum node id (deterministic representative).
    Ids may be any orderable type (long doc ids, sha1 hex strings).

    Min-label propagation with pointer doubling: every node adopts the
    smallest label among itself and its neighbors, then jumps to its
    label's label (labels only shrink, so the jump is monotone). A
    fixpoint is exactly the component-minimum labeling; the doubling
    step makes the iteration count logarithmic in component diameter
    instead of linear. Convergence is checked by counting changed
    labels per iteration (0 = done).
    """
    sym = (
        edges.select(F.col(a_col).alias("id"), F.col(b_col).alias("nb"))
        .unionByName(
            edges.select(F.col(b_col).alias("id"), F.col(a_col).alias("nb")))
        .filter(F.col("id").isNotNull() & F.col("nb").isNotNull())
        .distinct()
        .transform(_materialize)
    )
    labels = (
        sym.select("id").distinct()
        .withColumn("cluster", F.col("id"))
        .transform(_materialize)
    )
    for _ in range(max_iters):
        # LAZY materialize + count in ONE job (r5): an eager checkpoint
        # here launches a materialization job and the convergence count
        # launches a second — two driver barriers per round, and the
        # 16x-edges scaling leg showed the fixed per-round barrier cost
        # is exactly what holds CC's N->4N efficiency under pagerank's.
        # Marked lazy, the blocks are stored DURING the count's job, so
        # each round costs one job; later rounds read the stored blocks
        # (plan depth stays constant — the count runs immediately, so
        # no deep lazy chain ever builds up).
        new_labels = _propagate(
            sym, labels, carry_prev=True).transform(
                _materialize, eager=False)
        changed = (
            new_labels.filter(F.col("cluster") != F.col("_prev")).count()
        )
        old = labels
        labels = new_labels
        old.unpersist()
        if changed == 0:
            break
    return labels.select("id", "cluster")


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
    checkpoint_interval: int = 3,
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
    bit-stable across runs and oracle-checkable.

    Scale shape (10^10 edges, 1000 executors):
    - the per-iteration state is ``(node, rank)`` — two slim columns;
    - one iteration = one equi-join of ranks onto the out-degree-
      annotated edge list plus one sum-aggregation, both map-side
      partial; no windows, no driver data, no collect;
    - the edge list is hash-partitioned by ``src`` ONCE and persisted —
      every iteration's join reuses that exchange (the rank side, the
      small one, moves);
    - ``localCheckpoint`` every ``checkpoint_interval`` iterations (and
      on the last) truncates lineage so the plan never nests more than
      ``checkpoint_interval`` joins deep. Per-ITERATION checkpointing
      (the r3-early discipline) made every round a full job with a
      driver barrier — measured ~1 s of serial latency per round on the
      scaling rig, the dominant cost at sandbox scale and pure overhead
      at any scale, since unlike connected_components there is no
      per-round convergence test needing an action.

    Returns ``(node, rank)``, one row per distinct node.
    """
    if checkpoint_interval < 1:
        raise ValueError(
            f"checkpoint_interval must be >= 1, got {checkpoint_interval}")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # degree travels WITH the edge list so the loop never re-joins it
    ann = (
        e.join(out_deg, "src")
        .repartition("src")
        .persist()
    )
    ann.count()  # materialize once, before the loop
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(_materialize)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(iters):
        contribs = (
            ann.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("mass"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (F.lit(1.0 - damping)
             + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
             ).alias("rank"),
        )
        if (i + 1) % checkpoint_interval == 0 or i == iters - 1:
            ranks = ranks.transform(_materialize)
    ann.unpersist()
    return ranks


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

    Scale shape (10^10 edges, 1000 executors):
    - per-iteration state is ``(node, hub, auth)`` — three slim columns,
      never page content;
    - one iteration = two equi-joins of scores onto the edge list plus
      two sum-aggregations, all map-side partial; no windows, no
      driver-side data;
    - the edge list is hash-partitioned ONCE per join side (by ``src``
      for the auth step, by ``dst`` for the hub step) and persisted, so
      every iteration moves only the slim score frame;
    - the L1 totals are 1-row aggregates broadcast back via crossJoin
      (the ``lm.py`` totals pattern) — never ``collect``;
    - ``localCheckpoint`` per iteration truncates lineage (same
      discipline as :func:`pagerank`).

    Returns ``(node, hub, auth)``, one row per distinct node.
    """
    # checkpoint the deduped edge list FIRST: the two join layouts, the
    # two materializing counts, and the node derivation below would
    # otherwise each recompute the corpus-scale distinct() shuffle
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .transform(_materialize)
    )
    by_src = e.repartition("src").persist()
    by_dst = e.repartition("dst").persist()
    by_src.count()  # materialize both layouts once, before the loop
    by_dst.count()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(_materialize)
    )
    scores = nodes.select(
        "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))

    def _l1(df: DataFrame, col: str) -> DataFrame:
        total = df.agg(F.sum(col).alias("_tot"))
        return (
            df.crossJoin(F.broadcast(total))
            .withColumn(col, F.col(col) / F.col("_tot"))
            .drop("_tot")
        )

    for _ in range(iters):
        # auth'(n) = sum of hub over in-edges, then L1-normalize
        auth_mass = (
            by_src.join(
                scores.select(F.col("node").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth = _l1(
            nodes.join(auth_mass, "node", "left")
            .select("node", F.coalesce("auth", F.lit(0.0)).alias("auth")),
            "auth",
        ).transform(_materialize)
        # hub'(n) = sum of the NEW auth over out-edges, then normalize
        hub_mass = (
            by_dst.join(
                auth.select(F.col("node").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
        hub = _l1(
            nodes.join(hub_mass, "node", "left")
            .select("node", F.coalesce("hub", F.lit(0.0)).alias("hub")),
            "hub",
        )
        scores = (
            hub.join(auth, "node")
            .select("node", "hub", "auth")
            .transform(_materialize)
        )
    by_src.unpersist()
    by_dst.unpersist()
    return scores


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    iters: int = 3,
    damping: float = 0.85,
    checkpoint_interval: int = 3,
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

    Scale shape (10^10 edges, 1000 executors): identical to
    :func:`pagerank` — slim ``(node, trust)`` state, one equi-join +
    one map-side-partial sum per iteration, the degree-annotated edge
    list hash-partitioned once and persisted; the seed count is a
    1-row aggregate broadcast via crossJoin (the ``hits`` L1-totals
    pattern), never a collect; ``localCheckpoint`` per iteration
    truncates lineage. The seed table is corpus-tiny by construction
    (hand-vetted lists are thousands of hosts) and joins broadcast.

    Returns ``(node, trust)``, one row per node in ``edges ∪ seeds``.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ann = (
        e.join(out_deg, "src")
        .repartition("src")
        .persist()
    )
    ann.count()  # materialize once, before the loop
    s = (
        seeds.select(F.col(seed_col).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .transform(_materialize)
    )
    n_seeds = s.agg(F.count("*").alias("_ns"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(s)
        .distinct()
        .crossJoin(F.broadcast(n_seeds))
        .join(F.broadcast(s.withColumn("_seed", F.lit(1))), "node", "left")
        .select(
            "node",
            (F.when(F.col("_seed").isNotNull(), 1.0 / F.col("_ns"))
             .otherwise(F.lit(0.0))).alias("bias"),
        )
        .transform(_materialize)
    )
    ranks = nodes.select("node", F.col("bias").alias("trust"))
    for i in range(iters):
        contribs = (
            ann.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("trust") / F.col("deg")).alias("mass"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (F.lit(1.0 - damping) * F.col("bias")
             + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
             ).alias("trust"),
        )
        # interval checkpointing, same rationale as pagerank: no
        # per-round convergence action, so per-round barriers are pure
        # serial overhead; lineage stays <= checkpoint_interval deep
        if (i + 1) % checkpoint_interval == 0 or i == iters - 1:
            ranks = ranks.transform(_materialize)
    ann.unpersist()
    return ranks


def opic(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    checkpoint_interval: int = 3,
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

    Scale shape (10^10 edges, 1000 executors):
    - per-round state is ``(node, cash, history)`` — three slim
      columns; no windows, no driver data;
    - one round = one equi-join of cash onto the degree-annotated
      edge list + one map-side-partial sum (identical shape to
      :func:`pagerank`) plus a 1-row dangling-mass aggregate that
      rides back in via ``crossJoin(broadcast(...))`` — never a
      collect (n itself is a 1-row count aggregate, also broadcast);
    - the edge list is hash-partitioned by ``src`` once and
      persisted; every round's join reuses that exchange;
    - ``localCheckpoint`` every ``checkpoint_interval`` rounds
      truncates lineage (interval, not per-round: no convergence
      action exists, so per-round barriers are pure serial overhead).

    Returns ``(node, cash, history, importance)``, one row per node.
    """
    if checkpoint_interval < 1:
        raise ValueError(
            f"checkpoint_interval must be >= 1, got {checkpoint_interval}")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ann = (
        e.join(out_deg, "src")
        .repartition("src")
        .persist()
    )
    ann.count()  # materialize once, before the loop
    n_nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .agg(F.count("*").alias("_n"))
    )
    # nodes annotated once with n (1-row broadcast) and a dangling
    # marker (left-anti-shaped via the degree table), so the loop body
    # is pure column arithmetic over slim state
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .crossJoin(F.broadcast(n_nodes))
        .join(out_deg.select(F.col("src").alias("node"),
                             F.lit(1).alias("_has_out")),
              "node", "left")
        .select("node", "_n",
                F.coalesce("_has_out", F.lit(0)).alias("_has_out"))
        .transform(_materialize)
    )
    state = nodes.select(
        "node", "_n", "_has_out",
        (F.lit(1.0) / F.col("_n")).alias("cash"),
        F.lit(0.0).alias("history"),
    )
    for i in range(iters):
        received = (
            ann.join(state.select(F.col("node").alias("src"), "cash"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("cash") / F.col("deg")).alias("received"))
        )
        dangling = state.filter(F.col("_has_out") == 0).agg(
            F.coalesce(F.sum("cash"), F.lit(0.0)).alias("_dangling"))
        state = (
            state.join(received, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node", "_n", "_has_out",
                (F.coalesce("received", F.lit(0.0))
                 + F.col("_dangling") / F.col("_n")).alias("cash"),
                (F.col("history") + F.col("cash")).alias("history"),
            )
        )
        if (i + 1) % checkpoint_interval == 0 or i == iters - 1:
            state = state.transform(_materialize)
    ann.unpersist()
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
    checkpoint_interval: int = 3,
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

    Scale shape (10^10 edges, 1000 executors):
    - per-round state is ``(node, depth)`` — two slim columns; one
      round = one equi-join of the CURRENT reached set onto the edge
      list + one min-aggregation, both map-side partial; no windows,
      no driver data (the reached set starts seed-sized and grows one
      ring per round, so early rounds join a tiny side);
    - the edge list is hash-partitioned by ``src`` once and persisted,
      every round's join reuses that exchange;
    - ``localCheckpoint`` every ``checkpoint_interval`` rounds bounds
      lineage, same discipline as :func:`pagerank`.

    Returns ``(node, depth)`` for every node within ``max_depth``.
    """
    if max_depth < 0:
        raise ValueError(f"max_depth must be >= 0, got {max_depth}")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .repartition("src")
        .persist()
    )
    e.count()  # materialize once, before the loop
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .withColumn("depth", F.lit(0))
        .transform(_materialize)
    )
    for i in range(max_depth):
        hop = (
            e.join(dist.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"),
                    (F.col("depth") + 1).alias("depth"))
        )
        dist = (
            dist.unionByName(hop)
            .groupBy("node")
            .agg(F.min("depth").alias("depth"))
        )
        if (i + 1) % checkpoint_interval == 0 or i == max_depth - 1:
            dist = dist.transform(_materialize)
    e.unpersist()
    return dist


def harmonic_centrality(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    radius: int = 6,
    lgk: int = 12,
    checkpoint_interval: int = 3,
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

    Scale shape (10^8 hosts, 1000 executors):
    - state is one ``(node, 2^lgk-byte sketch, long, double)`` row per
      node — fixed size, never proportional to ball size (the whole
      point vs. exact BFS frontier sets, which explode to V*E pairs);
    - the edge list is hash-partitioned by ``src`` once and persisted;
      every round's join reuses that exchange, only sketches move;
    - ``hll_union_agg`` is a declarative aggregate: partial unions
      build map-side, so a host with 10^6 in-links folds to one sketch
      per map partition before the exchange (in-degree skew bounded);
    - interval ``localCheckpoint`` (same discipline and rationale as
      :func:`pagerank`): lineage stays <= ``checkpoint_interval``
      rounds deep with no per-round driver barrier; there is no
      convergence action — ``radius`` is fixed, and past the graph's
      effective diameter the deltas are zero.

    Returns ``(node, ball, harmonic)``: the in-ball size at ``radius``
    (reachable-source count, itself the "how discoverable" metric) and
    the harmonic centrality sum.
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    if checkpoint_interval < 1:
        raise ValueError(
            f"checkpoint_interval must be >= 1, got {checkpoint_interval}")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition("src")
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    state = (
        nodes.groupBy("node")
        .agg(F.hll_sketch_agg("node", F.lit(lgk)).alias("sk"))
        .withColumn("cnt", F.lit(1).cast("long"))
        .withColumn("harm", F.lit(0.0))
        .transform(_materialize)
    )
    for t in range(1, radius + 1):
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
        state = grown.select(
            "node", "sk",
            F.hll_sketch_estimate("sk").alias("cnt"),
            (F.col("harm")
             + (F.hll_sketch_estimate("sk") - F.col("cnt"))
             / F.lit(float(t))).alias("harm"),
        )
        if t % checkpoint_interval == 0 or t == radius:
            state = state.transform(_materialize)
    e.unpersist()
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
    checkpoint_interval: int = 3,
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

    Scale shape (10^8 hosts, 1000 executors):
    - state is one slim ``(node, label)`` row per node; one round is
      one equi-join of state onto the hash-partitioned persisted edge
      list + TWO map-side-partial aggregates — (dst, label) vote counts
      (collapses a 10^6-in-degree host's messages per map partition),
      then the per-dst argmax over the already-tiny vote rows;
    - no windows anywhere (the argmax is an aggregate, not a rank);
    - interval ``localCheckpoint`` as in :func:`pagerank`: fixed round
      count, lineage constant-depth, no per-round driver action.

    Returns ``(node, community)`` after ``iters`` rounds; community ids
    are node ids (the label each community converged onto).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if checkpoint_interval < 1:
        raise ValueError(
            f"checkpoint_interval must be >= 1, got {checkpoint_interval}")
    directed = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
    )
    e = (
        directed.unionByName(
            directed.select(F.col("dst").alias("src"),
                            F.col("src").alias("dst")))
        .distinct()
        .repartition("src")
        .persist()
    )
    state = (
        e.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .transform(_materialize)
    )
    for it in range(1, iters + 1):
        votes = (
            e.join(state.select(F.col("node").alias("src"), "label"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        winner = votes.groupBy("node").agg(
            F.min_by(
                "label",
                F.struct((-F.col("cnt")).alias("nc"),
                         F.col("label").alias("l")),
            ).alias("label"))
        state = winner
        if it % checkpoint_interval == 0 or it == iters:
            state = state.transform(_materialize)
    e.unpersist()
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
    SCALE.md inspect the frame it cuts
    (``scripts/plan_audit.cut_frames``).
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
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
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
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
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
    checkpoint_interval: int = 4,
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
    ``max_rounds`` rounds with an early exit once a round deletes
    nothing. Returns ``(node, deg)`` for the surviving nodes with their
    within-core degree. Peeling is confluent — any deletion order
    reaches the same fixed point — so the result is deterministic, and
    a bounded-round replay is EXACTLY reproducible by an external
    engine unrolling the same recurrence (extra rounds after
    convergence are no-ops, so early exit cannot desynchronize the
    oracle). If the peel has not converged after ``max_rounds`` the
    result is the round-``max_rounds`` state — the same state the
    oracle computes — with any not-yet-peeled node still subject to the
    final ``deg >= k`` cut.

    Scale shape (10^10 edges): per-round state is the surviving edge
    list plus a ``(node, deg)`` aggregate — no fat columns; one round =
    one map-side-partial count + two semi-joins on the slim survivor
    set; no windows, no collect (the convergence test is a scalar
    count). ``localCheckpoint`` every ``checkpoint_interval`` rounds
    truncates lineage. Real web graphs peel in a handful of rounds
    (peeling depth, not diameter); ``max_rounds`` caps the adversarial
    chain-graph case where one node falls per round."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
    )
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(_materialize)
    )
    prev_alive = sym.select("a").distinct().count()
    for i in range(max_rounds):
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.filter(F.col("deg") >= k).select("a")
        n_alive = alive.count()
        if n_alive == prev_alive:
            break
        prev_alive = n_alive
        sym = (
            sym.join(alive, "a", "semi")
            .join(alive.withColumnRenamed("a", "b"), "b", "semi")
        )
        if (i + 1) % checkpoint_interval == 0:
            # lazy: the NEXT round's alive-count (or the final degree
            # aggregate) materializes the blocks inside its own job —
            # no separate checkpoint job per interval (same one-job
            # pattern as connected_components' convergence count)
            sym = sym.transform(_materialize, eager=False)
    return (
        sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= k)
        .select(F.col("a").alias("node"), "deg")
    )
