"""Physical-plan audit: regenerates SCALE.md from live explain() output.

Every 100 TB-readiness claim in this repo reduces to a plan property —
a filter reaching the parquet scan, a join NOT broadcasting the fat
side, a probe co-grouping instead of collecting, an aggregate keeping
its map-side partial. This script renders those properties from the
actual optimizer output so the claims cannot drift from the code:
rerun after engine changes (`python scripts/plan_audit.py`) and diff.

The hard assertions live in tests/test_plans.py and friends; this
report is the human-readable companion with the evidence inline. A cut
truncates a frame's plan to an RDD scan, so sections on frames the
engine cuts read them through :func:`cut_frames` — a loop section runs
its operator for one step — never a hand-built copy of the step.
"""

from __future__ import annotations

import ast
import contextlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from commoncrawl_spark.plans.explain import plan_string  # noqa: E402
from commoncrawl_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "SCALE.md")


_AUDITED: list[tuple[str, str]] = []  # (label, plan) for the final sweep


def plan_of(df, mode: str = "simple", label: str = "") -> str:
    p = plan_string(df, mode)
    _AUDITED.append((label or f"plan-{len(_AUDITED) + 1}", p))
    return p


def planned_once(plan: str) -> str:
    """``plan`` as the planner chose it before adaptive re-planning at
    audit scale (an executed frame's ``Initial Plan``; an unexecuted
    one prints only that), without the subtrees of the cached frames it
    reads: a loop step's persisted edge table is planned once, before
    the loop, not in every step."""
    lines = plan.splitlines()
    if "+- == Initial Plan ==" in lines:
        lines = lines[lines.index("+- == Initial Plan ==") + 1:]
    out, cached = [], None
    for line in lines:
        depth = len(line) - len(line.lstrip(" :+-"))
        if cached is not None and depth > cached:
            continue
        cached = depth if "InMemoryRelation" in line else None
        out.append(line)
    return "\n".join(out)


def _window_groups(line: str) -> list[str]:
    """Top-level [...] groups on a simple-mode Window line. The full
    taxonomy (verified against live plans):
    3 groups = [functions], [partition], [order]      -> partitioned;
    2 groups, second contains ASC/DESC = [fn], [order] -> NO partition;
    2 groups, second without ASC/DESC = [fn], [part]   -> partitioned
      but unordered (e.g. max() OVER (PARTITION BY k)) — fine;
    1 group = [functions] only                         -> global window."""
    s = line[line.index("Window ") + len("Window "):]
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(buf))
        elif depth > 0:
            buf.append(ch)
    return groups


def _is_partitionless(line: str) -> bool:
    g = _window_groups(line)
    if len(g) >= 3:
        return False
    if len(g) == 2:
        return " ASC" in g[1] or " DESC" in g[1]
    return True


def partitionless_windows(plan: str) -> list[str]:
    """Window operator lines with no partitionBy — the class of
    scale-killer VERDICT r02 found in bm25_search: every input row
    funnels through ONE task for the sort. Expect none anywhere."""
    bad = []
    for ln in plan.splitlines():
        if re.search(r"\bWindow \[", ln) and _is_partitionless(ln):
            bad.append(ln.strip()[:110])
    return bad


def _rebind_seam(old, new) -> None:
    """Point every package-module binding of ``old`` at ``new``: the
    seam module's own ``materialize`` (which ``iterate`` looks up) and
    each alias a module imported (``_materialize``, ``materialize``)."""
    for name, mod in list(sys.modules.items()):
        if name.split(".", 1)[0] != "commoncrawl_spark":
            continue
        for attr, val in list(vars(mod).items()):
            if val is old:
                setattr(mod, attr, new)


@contextlib.contextmanager
def cut_frames():
    """Record every frame cut through ``materialize.materialize`` while
    the block runs — under any alias, and the cuts ``materialize.iterate``
    makes — and still cut it. Yields the recorded frames in call order:
    the plans the engine ships, before the cut truncates them to a
    ``Scan ExistingRDD`` leaf. Every binding is restored on exit, also
    when the block raises."""
    from commoncrawl_spark import materialize as seam

    cut = seam.materialize
    frames = []

    def recording(df, *args, **kwargs):
        frames.append(df)
        return cut(df, *args, **kwargs)

    _rebind_seam(cut, recording)
    try:
        yield frames
    finally:
        # a module imported inside the block bound the recorder
        _rebind_seam(recording, cut)


def seam_call_sites() -> dict[str, int]:
    """Calls of the seam per package module: calls of a name a module
    bound to ``materialize.materialize`` or ``materialize.iterate``
    (under any alias), and ``.transform(<that name>, ...)``."""
    pkg = os.path.join(os.path.dirname(OUT), "commoncrawl_spark")
    sites = {}
    for root, _, files in os.walk(pkg):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            bound = {a.asname or a.name
                     for node in ast.walk(tree)
                     if isinstance(node, ast.ImportFrom)
                     and (node.module or "").split(".")[-1] == "materialize"
                     for a in node.names
                     if a.name in ("materialize", "iterate")}
            n = 0
            for c in ast.walk(tree):
                if not isinstance(c, ast.Call):
                    continue
                fn = c.func
                if isinstance(fn, ast.Attribute) and fn.attr == "transform":
                    fn = c.args[0] if c.args else None
                n += isinstance(fn, ast.Name) and fn.id in bound
            if n:
                sites[os.path.relpath(path, pkg)] = n
    return dict(sorted(sites.items()))


def grab(plan: str, *patterns: str, context: int = 0) -> list[str]:
    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if any(re.search(p, line) for p in patterns):
            out.extend(x.strip()[:110] for x in lines[i:i + 1 + context])
    return out


def main() -> None:
    spark = get_spark("plan-audit", cores=8, shuffle_partitions=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    sections: list[tuple[str, str, list[str]]] = []

    # 1. scan pushdown + pruning
    p = plan_of(docs.filter(F.col("n_chars") > 200).select("doc_id"),
                "formatted")
    sections.append((
        "Scan: predicate pushdown + column pruning",
        "A 2-column projection with a filter must reach the parquet reader "
        "as PushedFilters + a pruned ReadSchema — at 100 TB this is the "
        "difference between reading 2 columns and reading the html blobs.",
        grab(p, "PushedFilters", "ReadSchema"),
    ))

    # 2. dedup fold: one shuffle, no Python
    from commoncrawl_spark.operators.dedup import best_capture_per_url
    from commoncrawl_spark.fixtures import write_fixtures
    import tempfile

    fx = tempfile.mkdtemp()
    write_fixtures(fx, n_pages=200)
    cdx = spark.read.parquet(f"{fx}/cdx.parquet")
    pages = spark.read.parquet(f"{fx}/pages.parquet")
    p = plan_of(best_capture_per_url(cdx))
    sections.append((
        "choose_better_record fold (A2): one hash shuffle, zero Python",
        "The arrival-order fold is JVM array expressions after a single "
        "exchange on the canonical key; no window sort, no UDF. Shuffle "
        "payload = one struct per capture, never re-joined.",
        [f"Exchange count: {p.count('Exchange hashpartitioning')} (expect 1)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"]
        + grab(p, "Exchange hashpartitioning")[:1],
    ))

    # 3. size-aware fetch join
    from commoncrawl_spark.sources.transport import LookupJoinTransport

    batch = pages.select("url").limit(50)
    small = plan_of(LookupJoinTransport(pages).fetch(batch, n_rows_hint=50))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    big = plan_of(LookupJoinTransport(pages, broadcast_limit=0)
                  .fetch(batch, n_rows_hint=50))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    sections.append((
        "Fetch join (J2/S6): batch broadcast only while provably small",
        "Under broadcast_batch_limit the slim batch broadcasts (fat pages "
        "side never moves); above it the hint is withheld so AQE and the "
        "bucketed pages layout decide — no driver-memory cliff at "
        "hosts x budget batch sizes.",
        [f"small batch -> BroadcastHashJoin present: "
         f"{'BroadcastHashJoin' in small}",
         f"large batch (hint withheld, auto-broadcast off) -> "
         f"SortMergeJoin: {'SortMergeJoin' in big}, "
         f"BroadcastExchange: {'BroadcastExchange' in big}"],
    ))

    # 4. Bloom probe: cogrouped, no driver collect
    from commoncrawl_spark.operators.seen_set import (
        build_bloom_table,
        bloom_prefilter,
        with_url_key,
    )

    keyed = with_url_key(pages.select("url"))
    blooms = build_bloom_table(keyed.select("url_sha1"), n_buckets=8)
    p = plan_of(bloom_prefilter(keyed, blooms, n_buckets=8))
    sections.append((
        "Seen-set Bloom probe (A5): bucket-cogroup, blobs stay distributed",
        "Candidates and the one-row-per-bucket blob table co-group on the "
        "bucket key: each task holds exactly one blob; a 16 GB blob table "
        "never touches the driver (no collect, no broadcast).",
        [f"FlatMapCoGroupsInPandas present: "
         f"{'FlatMapCoGroupsInPandas' in p}",
         f"BroadcastExchange present: {'BroadcastExchange' in p} (expect False)"],
    ))

    # 4a2. Cuckoo probe + in-place eviction: same cogroup shape, plus
    # delta-sized blob edits (no history rescan) for add/remove
    from commoncrawl_spark.operators.cuckoo import (
        CuckooSeenSet,
        build_cuckoo_table,
        cuckoo_prefilter,
    )

    ctab = build_cuckoo_table(keyed.select("url_sha1"), n_buckets=8)
    p = plan_of(cuckoo_prefilter(keyed, ctab, n_buckets=8))
    cs = CuckooSeenSet(keyed.select("url_sha1"), n_buckets=8)
    delta = keyed.select("url_sha1").limit(20)
    edit_plan = plan_of(cs._edit(delta, cs.kernel.remove))
    cs.release()
    sections.append((
        "Seen-set cuckoo filter (A5): deletion without history rescan",
        "The cuckoo twin probes through the identical bucket-cogroup (one "
        "blob per task, nothing on the driver) and — unlike Bloom — edits "
        "blobs IN PLACE: add/remove cogroup only the DELTA keys with the "
        "blob table, so recrawl eviction at 10^10 keys moves delta-sized "
        "data instead of refolding touched buckets' full key history.",
        [f"probe FlatMapCoGroupsInPandas present: "
         f"{'FlatMapCoGroupsInPandas' in p}",
         f"probe BroadcastExchange present: {'BroadcastExchange' in p} "
         f"(expect False)",
         f"blob edit co-groups delta x blobs: "
         f"{'FlatMapCoGroupsInPandas' in edit_plan}",
         f"blob edit key side is the 20-row delta (GlobalLimit in plan): "
         f"{'GlobalLimit' in edit_plan}",
         f"blob side reads from cache, not a key rescan (InMemoryRelation): "
         f"{'InMemoryTableScan' in edit_plan}"],
    ))

    # 4b. Generational seen-set: verify fold never reshuffles history
    from commoncrawl_spark.operators.seen_set import BloomSeenSet

    def outside_exchanges(plan: str) -> int:
        return planned_once(plan).count("Exchange hashpartitioning")

    quarters = [keyed.filter(F.crc32("url") % 4 == i).select("url_sha1")
                for i in range(4)]
    s1 = BloomSeenSet(quarters[0], n_buckets=8)
    e1 = outside_exchanges(plan_of(s1.unseen(keyed)))
    s4 = BloomSeenSet(quarters[0], n_buckets=8, max_generations=10)
    for q in quarters[1:]:
        s4.add(q)
    e4 = outside_exchanges(plan_of(s4.unseen(keyed)))
    s1.release()
    s4.release()
    sections.append((
        "Generational seen-set (A5/J1): probe rounds never reshuffle history",
        "Seen keys persist as hash-partitioned generations (LSM shape): "
        "the verify fold's seen side satisfies the join distribution from "
        "cache, so a probe exchanges only the bloom survivors. At 10^10 "
        "keys that is the difference between moving ~640 GB per round and "
        "moving only the round's candidates; add() shuffles just the delta.",
        [f"exchanges outside cached relations, 1 generation: {e1}",
         f"exchanges outside cached relations, 4 generations: {e4} "
         f"(expect equal — zero marginal exchanges per generation)"],
    ))

    # 5. salted politeness
    from commoncrawl_spark.operators.schedule import select_polite_batch, with_host
    fr = with_host(with_url_key(pages.select("url")))
    p = plan_of(select_polite_batch(fr, 10, salt_buckets=8,
                                    priority_cols=("url",)))
    n_win = len(re.findall(r"\bWindow \[", p))
    n_wgl = len(re.findall(r"WindowGroupLimit", p))
    sections.append((
        "Politeness top-k (W5): salted two-stage window",
        "Stage 1 ranks within (host, salt) so a single-host 10^10-URL "
        "frontier never lands in one partition; stage 2 ranks only the "
        "<= salt_buckets x budget survivors. Two Window operators, both "
        "JVM; Spark additionally inserts partial+final WindowGroupLimit "
        "(rank-limit pushdown), so rows beyond the budget are pruned "
        "BEFORE each window's sort. Exactness argued in "
        "operators/schedule.py.",
        [f"Window operators: {n_win} (expect 2)",
         f"WindowGroupLimit operators: {n_wgl} "
         f"(expect 4: partial+final per stage)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # 6. the production round: extraction above the fetch join, read
    # off the outcome frame one tiny CrawlJob round cuts
    from commoncrawl_spark.plans.frontier import CrawlJob

    job = CrawlJob(spark, tempfile.mkdtemp(), budget_per_host=2)
    job.seed_from_cdx(cdx)
    with cut_frames() as cuts:
        job.run_round(pages)
    outcome = next(c for c in cuts if "_fetch_error" in c.columns)
    p = planned_once(plan_of(outcome, label="crawl round outcome"))
    join_pos = max(p.find("SortMergeJoin"), p.find("BroadcastHashJoin"),
                   p.find("ShuffledHashJoin"))
    sections.append((
        "Crawl round (C6/UDF1): MapInPandas barrier above the fetch join",
        "A pandas_udf EXPRESSION got pushed below the join by Catalyst "
        "(ran twice, shuffled fat article rows — round-1 pathology #1). "
        "MapInPandas is a plan-node barrier: exactly one, after the join, "
        "and the fat html column dies at the barrier. Read off the "
        "outcome frame CrawlJob.run_round cuts, whose commits all read "
        "that cut; the pages scans and batch leaves are observed, not "
        "yet bounded (the lookup join reads pages for its hits and again "
        "for the hit urls its misses anti-join against).",
        [f"MapInPandas count: {p.count('MapInPandas')} (expect 1)",
         f"MapInPandas above join: {-1 < p.find('MapInPandas') < join_pos}",
         f"pages scans: {len(grab(p, 'FileScan parquet'))}",
         f"batch Scan ExistingRDD leaves: {p.count('Scan ExistingRDD')}"],
    ))

    # 7. aggregation partials
    from commoncrawl_spark.operators.analytics import explode_count, tokens_col
    p = plan_of(explode_count(docs, tokens_col(F.col("text")), top_n=10))
    sections.append((
        "Analytics (A7-A10): map-side partial aggregation",
        "explode + count carries one row per distinct token through the "
        "exchange, not one per element.",
        [f"HashAggregate operators: {p.count('HashAggregate')} "
         f"(expect >= 2: partial + final)"],
    ))

    # 8. anti-join membership
    from commoncrawl_spark.operators.seen_set import anti_join_seen
    p = plan_of(anti_join_seen(orders.select(F.col('o_orderkey').alias('k')),
                               lineitem.select(F.col('l_orderkey').alias('k')),
                               key='k'))
    sections.append((
        "Resume membership (J1/A5): LEFT ANTI join",
        "Exact path below the bloom_threshold crossover; AQE may turn it "
        "into a broadcast anti-join when the seen side is small.",
        grab(p, "LeftAnti")[:2],
    ))

    # the fixpoint loops below: each section runs the operator for one
    # step and reads the step frame materialize.iterate cuts (the cut
    # truncates the returned plan to an RDD scan)
    from commoncrawl_spark.operators.graph import (
        CUT_EVERY,
        connected_components,
        harmonic_centrality,
        hits,
        label_propagation,
        pagerank,
        trustrank,
    )

    def one_step(run, label):
        """Call ``run``: the plan of each frame it cuts, in cut order
        (:func:`planned_once`), and the plan of the frame it returns."""
        with cut_frames() as cuts:
            out = run()
        return ([planned_once(plan_of(c, label=f"{label} cut {i}"))
                 for i, c in enumerate(cuts)], plan_of(out, label=label))

    # 9. connected components: slim state, equi-joins only
    edges = (
        docs.select((F.col("doc_id") % 50).alias("a"),
                    (F.col("doc_id") % 97).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    cuts, _ = one_step(lambda: connected_components(edges, max_iters=1),
                       "connected components")
    p = cuts[-1]
    sections.append((
        "Dedup clusters (connected components): slim labels, no cartesian",
        "Each pointer-doubled label-propagation round is two equi-joins + "
        "one min-aggregate over (id, label) pairs — two columns through "
        "every exchange, never text/vectors; materialize.iterate cuts "
        "every round (the changed-label count that ends the loop stores "
        "the cut in the same job), so the plan does not deepen with "
        "iterations.",
        [f"CartesianProduct present: {'CartesianProduct' in p} (expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"HashAggregate operators: {p.count('HashAggregate')} "
         f"(expect >= 2: partial + final min)"],
    ))

    # 10. pagerank: one iteration = one equi-join + one sum-aggregate
    # over (node, rank); the degree-annotated edge list is partitioned
    # once outside the loop (the loop body never re-aggregates degrees)
    pr_edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 1) % 97).alias("dst"),
    )
    cuts, full = one_step(lambda: pagerank(pr_edges, iters=1), "pagerank")
    p = cuts[-1]
    sections.append((
        "Frontier PageRank: slim rank state, degree join hoisted",
        "Each iteration moves only (node, rank) pairs through one "
        "equi-join and one map-side-partial sum; the edge list carries "
        "its out-degree from a single pre-loop join, and "
        "materialize.iterate's interval cut (every "
        f"CUT_EVERY={CUT_EVERY} rounds + the last) keeps lineage "
        f"bounded at <={CUT_EVERY} joins deep WITHOUT a "
        "driver barrier per round — per-iteration eager checkpoints "
        "cost ~1 s of serial latency each on the scaling rig and, "
        "unlike connected_components, pagerank has no per-round "
        "convergence action to need one. The final plan is an RDD "
        "scan over the last checkpoint, not an iters-deep join tree.",
        [f"single-iteration CartesianProduct: {'CartesianProduct' in p} "
         f"(expect False)",
         f"single-iteration Python operators: {p.count('EvalPython')} "
         f"(expect 0)",
         f"single-iteration HashAggregate: {p.count('HashAggregate')} "
         f"(expect 2: partial + final sum)",
         f"post-loop plan collapsed to checkpoint scan: "
         f"{'Scan ExistingRDD' in full}"],
    ))

    # HITS: one iteration = two equi-joins + two sum-aggregates over
    # (node, score); L1 totals ride 1-row broadcasts, never a collect
    cuts, full = one_step(lambda: hits(pr_edges, iters=1), "hits")
    p = cuts[-2]  # the auth update; the hub update is cut after it
    sections.append((
        "HITS hubs/authorities: slim score state, broadcast L1 totals",
        "Each half-iteration moves only the slim (node, hub, auth) state "
        "through one "
        "equi-join and one map-side-partial sum; the L1 normalizer is a "
        "1-row aggregate broadcast back via nested-loop join (the lm.py "
        "totals pattern), never a driver collect; materialize.iterate "
        "cuts every half-step (its total and the next half both read "
        "it), keeping the plan constant-depth.",
        [f"auth-step CartesianProduct: {'CartesianProduct' in p} "
         f"(expect False — the total rides a BroadcastNestedLoopJoin)",
         f"auth-step BroadcastNestedLoopJoin present: "
         f"{'BroadcastNestedLoopJoin' in p} (expect True)",
         f"auth-step Python operators: {p.count('EvalPython')} (expect 0)",
         f"auth-step HashAggregate: {p.count('HashAggregate')} "
         f"(expect >= 2: partial + final sum)",
         f"post-loop plan collapsed to checkpoint scan: "
         f"{'Scan ExistingRDD' in full}"],
    ))

    # TrustRank: the pagerank loop with a seed-biased teleport — the
    # bias column rides the cut node frame, the seed count is a 1-row
    # broadcast, and each iteration is the same slim join+sum
    tr_seeds = docs.select((F.col("doc_id") % 97).alias("node")).filter(
        F.col("node") % 10 == 0)
    cuts, tr_full = one_step(lambda: trustrank(pr_edges, tr_seeds, iters=1),
                             "trustrank")
    tr_bias = cuts[1]  # after the seed cut, before the walk's step
    sections.append((
        "TrustRank: seed-biased teleport, broadcast seed set",
        "The spam-demotion twin of the PageRank section: identical "
        "per-iteration shape (slim (node, trust) state, one equi-join, "
        "one map-side-partial sum, constant-depth via the same interval "
        "cut — pagerank IS this walk with bias 1.0); "
        "the only additions are a 1-row seed-count broadcast and a "
        "broadcast left join stamping the bias column onto the node "
        "frame ONCE before the loop — hand-vetted seed lists are "
        "corpus-tiny by contract.",
        [f"bias derivation BroadcastHashJoin: "
         f"{'BroadcastHashJoin' in tr_bias} (expect True — seed stamp)",
         f"bias derivation CartesianProduct: "
         f"{'CartesianProduct' in tr_bias} (expect False — the count "
         f"rides a BroadcastNestedLoopJoin)",
         f"bias derivation Python operators: "
         f"{tr_bias.count('EvalPython')} (expect 0)",
         f"post-loop plan collapsed to checkpoint scan: "
         f"{'Scan ExistingRDD' in tr_full}"],
    ))

    # HyperBall harmonic centrality: one round = one equi-join of the
    # (node, sketch) state onto the persisted edge list + ONE
    # hll_union_agg exchange; sketches are object-typed aggregates, so
    # the partial/final split shows as ObjectHashAggregate pairs (the
    # map-side partial union is what bounds in-degree skew: a host with
    # 10^6 in-links folds to one sketch per map partition pre-shuffle)
    cuts, hb_full = one_step(
        lambda: harmonic_centrality(pr_edges, radius=1), "hyperball")
    hb_round = cuts[-1]
    sections.append((
        "HyperBall harmonic centrality: ball growth as sketch union",
        "Exact all-pairs distances are O(V*E) — hopeless at 10^8 hosts. "
        "Each node's in-ball rides ONE fixed-size HLL sketch; growing "
        "every ball a hop is one equi-join on the persisted edge list "
        "plus one hll_union_agg exchange on the destination key, and "
        "the harmonic sum folds from ball-size deltas per round. State "
        "is O(V), never proportional to ball size; materialize.iterate's "
        "interval cut keeps lineage constant-depth across the "
        "fixed-radius loop.",
        [f"round ObjectHashAggregate (sketch partial+final): "
         f"{hb_round.count('ObjectHashAggregate')} (expect >= 2 — "
         f"map-side partial union bounds in-degree skew)",
         f"round hash exchanges: "
         f"{hb_round.count('Exchange hashpartitioning')} "
         f"(expect <= 2: state co-location + the union agg)",
         f"round Python operators: {hb_round.count('EvalPython')} "
         f"(expect 0)",
         f"round CartesianProduct: {'CartesianProduct' in hb_round} "
         f"(expect False)",
         f"post-loop plan collapsed to checkpoint scan: "
         f"{'Scan ExistingRDD' in hb_full}"],
    ))

    # label propagation: the per-round argmax is an AGGREGATE
    # (min_by over struct(-count, label)), never a rank window — votes
    # collapse map-side on (dst, label) before the winner agg
    cuts, lpa_full = one_step(
        lambda: label_propagation(pr_edges, iters=1), "label propagation")
    lpa_round = cuts[-1]
    sections.append((
        "Label propagation: argmax as aggregate, never a rank window",
        "One round is one equi-join of slim (node, label) state onto "
        "the symmetrized edge list plus two map-side-partial "
        "aggregates: (dst, label) vote counts (a 10^6-in-degree host's "
        "messages fold per map partition before any exchange) then the "
        "per-node argmax via min_by over struct(-count, label) — an "
        "aggregate with a total deterministic tie-break, not a "
        "row_number window; materialize.iterate's interval cut keeps "
        "the fixed-round loop constant-depth.",
        [f"round partial_min_by in aggregate: "
         f"{'partial_min_by' in lpa_round} (expect True)",
         f"round Window operators: {lpa_round.count('Window')} "
         f"(expect 0)",
         f"round Python operators: {lpa_round.count('EvalPython')} "
         f"(expect 0)",
         f"round CartesianProduct: {'CartesianProduct' in lpa_round} "
         f"(expect False)",
         f"post-loop plan collapsed to checkpoint scan: "
         f"{'Scan ExistingRDD' in lpa_full}"],
    ))

    # triangle counting: degree-oriented wedges, struct-compare ranks
    from commoncrawl_spark.operators import graph as graph_ops

    with cut_frames() as cuts:
        graph_ops.triangle_counts(pr_edges)
    p = plan_of(cuts[0], label="triangle counts")
    sections.append((
        "Triangle counting: degree orientation bounds the wedge blowup",
        "Every undirected edge orients from its lower (degree, id) "
        "endpoint to the higher, so each triangle closes from exactly "
        "ONE wedge node and a hub's edges point INWARD — out-degree is "
        "bounded by O(sqrt m) and the wedge join generates O(m^1.5) "
        "rows instead of the naive hub-degree-squared. The orientation "
        "rank is a struct column compared per-row (never a global rank "
        "window); wedge generation and closure are hash equi-joins on "
        "slim all-long frames; per-node counts partial-aggregate "
        "map-side.",
        [f"Window operators: {p.count('Window')} (expect 0 — rank is "
         f"a struct compare)",
         f"all-pairs joins: "
         f"{p.count('CartesianProduct') + p.count('BroadcastNestedLoopJoin')}"
         f" (expect 0 — wedge + closure are equi-joins)",
         f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # binned range join: containment as a bin equi-join
    from commoncrawl_spark.operators.ranges import range_lookup_join

    rj_pts = docs.select(
        F.col("doc_id").alias("id"), (F.col("doc_id") * 7 % 997).alias("v"))
    rj_rng = docs.select(
        (F.col("doc_id") % 50 * 20).alias("lo"),
        (F.col("doc_id") % 50 * 20 + 15).alias("hi"),
        F.col("doc_id").alias("tag")).distinct()
    p = plan_of(range_lookup_join(rj_pts, rj_rng, "v"),
                label="range lookup join")
    sections.append((
        "Range join: the BETWEEN theta-join rewritten as a bin equi-join",
        "Spark plans a raw `p BETWEEN lo AND hi` join as "
        "BroadcastNestedLoopJoin — |P| x |R| row touches, dead at "
        "10^10 points. Binning explodes each range into the ~2 bins it "
        "overlaps (bin width defaults to the mean range width, one "
        "scalar aggregate), bins each point once, hash-EQUI-joins on "
        "the bin key and filters the handful of co-binned survivors on "
        "true containment; overlap resolution is a min_by aggregate on "
        "the point id (narrowest interval, then lowest lo), never a "
        "rank window.",
        [f"BroadcastNestedLoopJoin: {'BroadcastNestedLoopJoin' in p} "
         f"(expect False — the rewrite's whole point)",
         f"CartesianProduct: {'CartesianProduct' in p} (expect False)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # ordered funnel: chained slim joins, never a per-user event fold
    from commoncrawl_spark.operators.analytics import funnel

    fun_ev = docs.select(
        (F.col("doc_id") % 50).alias("user_id"),
        F.col("doc_id").alias("ts"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("buy")),
            (F.col("doc_id") % 3 + 1).cast("int")).alias("event_type"))
    p = plan_of(funnel(fun_ev, ["view", "click", "buy"]),
                label="event funnel")
    sections.append((
        "Funnel: k-1 chained slim joins, no per-user array fold",
        "Each step's frame is one (user, t) row per surviving user — "
        "built by filtering the event scan to that step's type (pushed "
        "down), joining the previous frame on the user key, and "
        "min-after-t aggregating map-side. A collect_list-per-user fold "
        "would put a whale user's 10^8 events in one task; here no "
        "operator holds more than one row per user, and the summary is "
        "k tiny aggregates crossed with a 1-row broadcast base.",
        [f"Window operators: {p.count('Window')} (expect 0)",
         f"CartesianProduct: {'CartesianProduct' in p} (expect False — "
         f"the only cross is the 1-row base count broadcast)",
         f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # count-min sketch: fixed-size mergeable matrix, broadcast probes
    from commoncrawl_spark.operators.sketches import cms_build, cms_estimate

    cms_words = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word")
    ).filter(F.col("word") != "")
    cms_sk = cms_build(cms_words, "word", depth=4, width=256)
    p = plan_of(
        cms_estimate(cms_sk, cms_words.distinct(), "word", 4, 256),
        label="count-min sketch")
    sections.append((
        "Count-min sketch: corpus-size-independent frequency summary",
        "The token stream folds into a 4x256 counter matrix — counters "
        "are plain sums, so each map partition's keys collapse before "
        "the one (d, bucket) exchange; the matrix is depth x width rows "
        "no matter the corpus, so estimation joins it as a BROADCAST "
        "side and snapshot merges are sum-groupBys over tiny frames. "
        "The min-over-rows estimate is an aggregate on the key, never "
        "a rank window.",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p} "
         f"(expect True — the matrix side)",
         f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # KMV bottom-k sketch: salted keyed windows, bounded collect
    from commoncrawl_spark.operators.sketches import kmv_build

    kmv_in = docs.select(
        "source",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("tok")
    ).filter(F.col("tok") != "")
    p = plan_of(kmv_build(kmv_in, ["source"], "tok", k=16),
                label="kmv sketch")
    sections.append((
        "KMV sketch: hot keys split across salt buckets, collect <= k",
        "The bottom-k hashes per key use the champion-list salted "
        "two-stage pattern — stage 1 ranks within (key, salt) so a "
        "hot key's corpus-sized value stream never sorts in one task; "
        "stage 2 sees <= salt_buckets*k survivors. The collect_list "
        "is bounded by construction (<= k rows per key reach it), so "
        "the blob is fixed-size and union-mergeable like HLL/CMS.",
        [f"partition-less windows: {len(partitionless_windows(p))} "
         f"(expect 0)",
         f"Window operators present: {'Window' in p} (expect True — "
         f"both keyed)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # Misra-Gries heavy hitters: candidate-sized shuffle at any vocab
    from commoncrawl_spark.operators.sketches import heavy_hitters

    hh_toks = docs.select(
        F.filter(F.split(F.lower("text"), "[^a-z0-9]+"),
                 lambda t: t != "").alias("tokens"))
    p = plan_of(heavy_hitters(hh_toks, "tokens", k=100),
                label="heavy hitters")
    sections.append((
        "Heavy hitters: MG candidates bound the shuffle, not the vocab",
        "Plain explode+groupBy shuffles one row per DISTINCT key — "
        "corpus-scale for URLs or n-grams. The Misra-Gries pass holds "
        "O(k) counters per task (the one MapInPandas site — a "
        "decrement-all fold has no Catalyst expression; per-batch "
        "C-speed Counter histograms feed the weighted fold) and emits "
        "at most k candidates per partition; the exact recount probes that "
        "P*k-row set as a BROADCAST left-semi before counting, so the "
        "exchange carries at most the candidate cardinality. The n/k "
        "gate is integer arithmetic — output is exact and partition-"
        "independent (superset guarantee by the averaging argument in "
        "the operator docstring).",
        [f"MapInPandas sites: {p.count('MapInPandas')} (expect 1 — "
         f"the MG fold)",
         f"BroadcastHashJoin LeftSemi present: "
         f"{'BroadcastHashJoin' in p and 'LeftSemi' in p} (expect True)",
         f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"row-at-a-time Python: {p.count('EvalPython')} (expect 0)"],
    ))

    # change-rate recrawl stats: window + aggregate share one exchange
    from commoncrawl_spark.operators.temporal import capture_change_stats

    caps = docs.select(
        F.col("doc_id").cast("string").alias("url"),
        (F.col("doc_id") % 7).alias("ts"),
        F.col("source").alias("digest"))
    p = plan_of(capture_change_stats(caps, key_col="url", ts_col="ts"))
    sections.append((
        "Recrawl change stats: lag window + aggregate, one exchange",
        "The per-URL digest-flip count needs a lag (window) AND a groupBy "
        "on the same key; Spark must satisfy the aggregate from the "
        "window's hash partitioning, so a 10^10-row capture log is "
        "shuffled once, not twice.",
        [f"Exchange count: {p.count('Exchange hashpartitioning')} "
         f"(expect 1)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # LM scoring: token-key joins, totals without a driver collect
    from commoncrawl_spark.operators.lm import unigram_logprob_scores

    p = plan_of(unigram_logprob_scores(docs))
    sections.append((
        "Unigram-LM scoring: vocab joins, no Python, no cartesian",
        "Training and scoring shuffle (token, count) pairs — never text; "
        "corpus totals ride a 1-row broadcast nested-loop join instead "
        "of a driver collect, keeping the plan lazy end to end.",
        [f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False — totals join is BroadcastNestedLoopJoin)",
         f"BroadcastNestedLoopJoin present: "
         f"{'BroadcastNestedLoopJoin' in p} (expect True)",
         f"vocab join is an explicit BroadcastHashJoin (the per-doc tf "
         f"stream never shuffles on the token — AQE's late SMJ->BHJ "
         f"conversion would still write the fat side's shuffle files): "
         f"{'BroadcastHashJoin' in p} (expect True)",
         f"SortMergeJoin present: {'SortMergeJoin' in p} (expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # Stupid Backoff: three broadcast model tables, no pair-key shuffle
    from commoncrawl_spark.operators.lm import stupid_backoff_scores

    p = plan_of(stupid_backoff_scores(docs))
    sections.append((
        "Stupid Backoff scoring: three broadcast model tables, no "
        "pair-key shuffle",
        "Backoff adds a unigram table and a corpus-total to the bigram "
        "scorer's joins — all three model tables broadcast, so the "
        "corpus-scale per-(doc, pair) stream still shuffles only on "
        "its own aggregation keys, never on token/pair keys where "
        "common-pair skew lives.\n\nRound-4 correction: only the "
        "UNIGRAM table is genuinely Heaps-bounded (token types, ~10^7 "
        "at any corpus size); bigram types at the 10^13-token design "
        "point are ~10^10 rows — past Spark's broadcast ceiling, so "
        "the r3 default (`broadcast_counts=True` unconditionally) "
        "would have died, not degraded, at 100x. The three bigram "
        "scorers now default to a size-gated auto mode: a near-free "
        "byte-length bound (self-trained) or a count() probe "
        "(external) plants the hint only at or below "
        "`broadcast_row_limit` (16M rows), otherwise the joins fall "
        "back to AQE; the unigram table keeps its hint only when "
        "self-trained. The plan below is the small-model "
        "(hint-planted) shape; above the bound the same joins appear "
        "as SortMergeJoins by design, pinned in "
        "`test_lm_mirrors.py::test_lm_broadcast_size_gate`.",
        [f"explicit BroadcastHashJoins: {p.count('BroadcastHashJoin')} "
         f"(expect >= 3: bigram, context, unigram tables)",
         f"SortMergeJoin present: {'SortMergeJoin' in p} (expect False)",
         f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False — the total rides a BroadcastNestedLoopJoin)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # DSIR importance weights: vocab merge broadcast onto one token pass
    from commoncrawl_spark.operators.selection import (
        dsir_logratio_scores,
        sample_token_budget,
    )

    p = plan_of(dsir_logratio_scores(docs, docs.where(F.col("lang") == "de")))
    sections.append((
        "DSIR importance weights: vocab-sized merge broadcast onto one "
        "token pass",
        "Both unigram LMs are vocabularies (token TYPES, Heaps-law "
        "bounded) merged with one full-outer join and broadcast onto "
        "the pool's single tokenize + per-(doc, token) aggregate; the "
        "per-doc mean weights by tf instead of re-exploding an "
        "occurrence stream, so the pool's text is read once and never "
        "shuffled.",
        [f"vocab join onto the pool stream is an explicit "
         f"BroadcastHashJoin: {'BroadcastHashJoin' in p} (expect True)",
         f"SortMergeJoin count: {p.count('SortMergeJoin')} (expect 2: "
         f"both are the vocab-vs-vocab FULL-OUTER merge — full outer "
         f"cannot broadcast-hash, both sides are vocab-sized so the "
         f"exchange moves token types not the corpus, and the merge "
         f"evaluates as two subtrees: the broadcast model table and "
         f"its 1-row totals aggregate)",
         f"every SortMergeJoin is the FullOuter merge: "
         f"{p.count('FullOuter') == p.count('SortMergeJoin')} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # token-budget mixture sampling: broadcast fractions, scan-stage keep
    budgets = spark.createDataFrame(
        [("en", 2000), ("de", 100000)], "lang string, budget_tokens long")
    p = plan_of(sample_token_budget(docs, budgets))
    sections.append((
        "Token-budget mixture sampling: broadcast fractions, per-row "
        "hash keep",
        "Per-group token totals are one map-side-partial aggregate over "
        "group cardinality ~ tens; keep fractions broadcast back onto "
        "the scan and membership is a pure md5-of-id predicate — the "
        "text column never shuffles, and the sample is identical across "
        "re-runs, partitionings, and engines.",
        [f"fraction join is a BroadcastHashJoin: "
         f"{'BroadcastHashJoin' in p} (expect True)",
         f"SortMergeJoin present: {'SortMergeJoin' in p} (expect False)",
         f"Exchange count: {p.count('Exchange hashpartitioning')} "
         f"(expect 1: the tiny per-group total agg)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # exact-substring duplication: partial-agg count, skew-safe join
    from commoncrawl_spark.operators.text_dedup import duplicate_span_stats

    p = plan_of(duplicate_span_stats(docs, k=20))
    sections.append((
        "Exact-substring duplication stats: map-side-partial gram "
        "count, no window count",
        "The Lee et al. ExactSubstr signal shuffles (id, pos, 32-byte "
        "md5) window fingerprints — never text. The corpus count is a "
        "groupBy whose map-side partial collapses a boilerplate window "
        "repeated 10^8 times to one row per map partition BEFORE the "
        "exchange; the join back is an equi-join AQE can broadcast or "
        "skew-split. A count().over(partitionBy(gram)) would instead "
        "funnel every copy of a hot gram through one task — that shape "
        "is pinned absent.",
        [f"partial_count present (map-side partial kept): "
         f"{'partial_count' in p} (expect True)",
         f"Window nodes: {p.count('Window [')} (expect 0 — no "
         f"window-function count)",
         f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # winnowing: per-row fingerprinting, capped pair join
    from commoncrawl_spark.operators.text_dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    p = plan_of(winnow_fingerprints(docs))
    p2 = plan_of(winnow_overlap_pairs(docs))
    sections.append((
        "Winnowing fingerprints: zero-shuffle derivation, capped "
        "match join",
        "MOSS local fingerprinting (window-min k-gram hashes) is pure "
        "per-row array arithmetic over bound columns — the corpus text "
        "never shuffles; only the slim (id, 8-byte fp) stream leaves "
        "the scan stage. The match report reuses the mirror-detection "
        "join: rare-fingerprint equi self-join with the ubiquity cap "
        "bounding per-key fan-out (a boilerplate nav-bar fingerprint "
        "on 10^6 docs is excluded from `shared`, not exploded into "
        "10^12 pairs).",
        [f"fingerprint derivation Exchange count: "
         f"{p.count('Exchange')} (expect 0 — per-row only)",
         f"fingerprint derivation Python operators: "
         f"{p.count('EvalPython')} (expect 0)",
         f"pair join CartesianProduct present: "
         f"{'CartesianProduct' in p2} (expect False)",
         f"pair join Python operators: {p2.count('EvalPython')} "
         f"(expect 0)"],
    ))

    # NB classifier: broadcast model onto one corpus tf pass
    from commoncrawl_spark.operators.classify import nb_classify, nb_train

    lab = docs.select(
        "doc_id", "text", (F.col("lang") == "de").alias("label"))
    model_t, priors_t = nb_train(lab)
    p = plan_of(nb_classify(docs, model_t, priors_t))
    sections.append((
        "NB quality classifier: vocab-sized model broadcast, corpus "
        "never shuffles on the token key",
        "Training aggregates token TYPES (Heaps-law bounded) and merges "
        "the two class vocabularies with one full-outer join — the only "
        "sanctioned token-key SortMergeJoin, because full outer cannot "
        "broadcast-hash and both sides are vocab-sized. Scoring streams "
        "the corpus through ONE tokenize + per-(doc, token) aggregate; "
        "the model joins via explicit F.broadcast so the tf stream "
        "never shuffles on the token key (where stopword skew lives); "
        "the per-doc fold is a map-side-partial sum on the unique doc "
        "id. OOV tokens are dropped scan-side (fit-vocabulary "
        "semantics) — no second corpus pass.",
        [f"model join is an explicit BroadcastHashJoin: "
         f"{'BroadcastHashJoin' in p} (expect True)",
         f"every SortMergeJoin is the vocab FullOuter merge: "
         f"{p.count('FullOuter') == p.count('SortMergeJoin')} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window nodes: {p.count('Window [')} (expect 0)"],
    ))

    # cluster representative election: map-side-partial min_by, no window
    from commoncrawl_spark.operators.graph import cluster_representatives

    clusters_in = docs.select(
        "doc_id", (F.col("doc_id") % 50).alias("cluster"))
    scores_in = docs.select(
        "doc_id", F.col("n_chars").cast("double").alias("score"))
    p = plan_of(cluster_representatives(clusters_in, scores_in))
    sections.append((
        "Cluster representative election: partial min_by fold, no window",
        "The keep-best-member rule (FineWeb keeps longest, CCNet best "
        "perplexity) is argmax(score, -id) per duplicate cluster — ONE "
        "map-side-partial min_by over (-score, id) on the cluster key\n        "
        "(argmax score, ties to smallest id, string-id safe), so a pathological "
        "million-member boilerplate cluster contributes one partial row "
        "per map partition before the exchange. A row_number window on "
        "the cluster key would instead sort every member of the hot "
        "cluster in one task; that shape is pinned absent.",
        [f"partial_min_by present (map-side fold kept): "
         f"{'partial_min_by' in p} (expect True)",
         f"Window nodes: {p.count('Window [')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)"],
    ))

    # composed selection pipeline: diamond subtrees dedup at runtime
    import __spark_entry__ as _entry

    sel = _entry.queries()["selection_pipeline"](spark, SF)
    p = plan_of(sel, label="selection_pipeline (static)")
    sel.collect()
    pf = sel._jdf.queryExecution().executedPlan().toString()
    sections.append((
        "Composed selection pipeline: exchange reuse dedups the "
        "diamond, no Python, no window",
        "The curation composition (DSIR gate -> ExactSubstr gate -> "
        "token-budget sampling) references each stage's survivors from "
        "several downstream branches, so the STATIC plan textually "
        "duplicates the DSIR/gram subtrees. That duplication is "
        "compile-time only: Spark's exchange reuse collapses "
        "canonically-identical shuffle subtrees at runtime, so each "
        "model aggregate and gram count materializes ONCE (evidence "
        "below is the executed AQE-final plan at sf0.01 — reused stage "
        "count > 0, and unique materialized shuffle stages stay near "
        "the sum of the standalone operators' stages). The alternative "
        "— persisting the corpus-scale gated text between stages — "
        "would push documents into executor storage; only slim "
        "id/model exchanges are ever re-read.",
        [f"executed ReusedExchange nodes: {pf.count('ReusedExchange')} "
         f"(expect > 0 — the diamond dedups at runtime)",
         f"materialized shuffle stages: "
         f"{pf.count('ShuffleQueryStage')}",
         f"Python operators (executed plan): "
         f"{pf.count('EvalPython')} (expect 0)",
         f"CartesianProduct present: {'CartesianProduct' in pf} "
         f"(expect False)"],
    ))

    # mirror detection: capped fingerprint self-join
    from commoncrawl_spark.operators.mirrors import host_content_overlap

    hf = docs.select(
        F.col("source").alias("host"),
        F.md5(F.substring("text", 1, 16)).alias("fingerprint"))
    p = plan_of(host_content_overlap(hf))
    sections.append((
        "Host mirror detection: equi-join on fingerprint, fan-out capped",
        "The host-pair overlap is an equi self-join on the 32-byte "
        "fingerprint (never all host pairs); the ubiquity pre-filter "
        "bounds per-key fan-out to max_hosts_per_fp^2, which is what "
        "makes the join safe when boilerplate fingerprints land on "
        "millions of hosts.",
        [f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # tf-idf: one persisted token pass, window only at the end
    from commoncrawl_spark.operators.analytics import tfidf_top_terms

    p = plan_of(tfidf_top_terms(docs, k=3))
    sections.append((
        "tf-idf top terms: stateless, df FROM tf, no corpus cache",
        "Document frequency derives from the tf table (one row per "
        "(doc, token) — counting tf rows per token IS the distinct-doc "
        "count), so the plan is fully stateless: no persisted token "
        "frame for callers to clearCache (the r02 footgun). The trade "
        "is a second scan+tokenize pass for the df branch — scan-stage "
        "CPU that parallelizes perfectly, preferred at 100 TB over "
        "caching a corpus-token-scale frame into LRU churn. N rides a "
        "1-row broadcast; only the final top-k windows over the doc "
        "key.",
        [f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"df join is an explicit BroadcastHashJoin (tf never shuffles "
         f"on the token key, where stopword skew lives): "
         f"{'BroadcastHashJoin' in p} (expect True)",
         f"SortMergeJoin present: {'SortMergeJoin' in p} (expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window nodes: {p.count('Window [')} (expect 1: the top-k)",
         f"InMemoryTableScan (persisted frame) present: "
         f"{'InMemoryTableScan' in p} (expect False — stateless)",
         f"tokenize passes: {p.count('Generate explode')} (expect 2: "
         f"tf + df branches — documented stateless trade-off)"],
    ))

    # inverted index: token-pruned conjunctive retrieval
    from commoncrawl_spark.operators.index import (
        build_postings,
        conjunctive_search,
        search_postings,
    )

    p = plan_of(search_postings(build_postings(docs),
                                ["join", "hash", "scan"]))
    scan = plan_of(conjunctive_search(docs, ["join"]))
    sections.append((
        "Inverted index: pruned posting scan; index-free path shuffles "
        "nothing",
        "search_postings filters to the query terms BEFORE exploding "
        "posting lists, so only len(terms) rows fan out; "
        "conjunctive_search is a single codegen scan.",
        [f"indexed path Python operators: {p.count('EvalPython')} "
         f"(expect 0)",
         f"indexed path CartesianProduct: {'CartesianProduct' in p} "
         f"(expect False)",
         f"scan path Exchange count: {scan.count('Exchange')} (expect 0)"],
    ))

    # BM25: df derives from tf, not a second corpus-token distinct
    from commoncrawl_spark.operators.index import bm25_search

    p = plan_of(bm25_search(docs, ["join", "hash", "scan"], top_k=10))
    sections.append((
        "BM25 ranking: one token pass, df from tf, no corpus distinct",
        "Document lengths and query-term tf read the one persisted "
        "token explode; per-term df re-aggregates tf's (doc, term) "
        "rows, so no distinct ever runs over the corpus token stream; "
        "N/avgdl ride a 1-row broadcast incl. zero-token docs.",
        [f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"HashAggregate w/ distinct keys over tokens: "
         f"{'distinct' in p.lower()} (expect False — no corpus-stream "
         f"distinct)",
         f"Window nodes: {p.count('Window [')} (expect 0 — top-k is "
         f"orderBy+limit, ranks from a bounded array fold; the r02 "
         f"partition-less row_number is gone)",
         f"TakeOrderedAndProject present: "
         f"{'TakeOrderedAndProject' in p} (expect True)"],
    ))

    # BM25 over the persisted index: no corpus re-scan per query
    from commoncrawl_spark.operators.index import (
        bm25_search_indexed,
        build_doclen,
        build_tf_index,
    )

    idx_dir = tempfile.mkdtemp()
    build_tf_index(docs).write.parquet(f"{idx_dir}/tf")
    build_doclen(docs).write.parquet(f"{idx_dir}/dl")
    pi = bm25_search_indexed(
        spark.read.parquet(f"{idx_dir}/tf"),
        spark.read.parquet(f"{idx_dir}/dl"),
        ["join", "hash", "scan"], top_k=10)
    pi.collect()
    p = plan_of(pi)
    pf = plan_of(pi, "formatted")
    sections.append((
        "BM25 over the persisted index: token-pruned scan, no re-tokenize",
        "Index-once/search-many: the query plan consumes only the "
        "prebuilt (token, doc, tf) + doclen parquet tables — the token "
        "IN predicate pushes into the index scan, so a 3-term query "
        "reads 3 tokens' postings, never the corpus, and no tokenizer "
        "runs at query time.",
        [f"token IN (...) pushed to parquet: "
         f"{'In(token' in pf} (expect True)",
         f"tokenizer in the query plan: "
         f"{'split' in p.lower()} (expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window nodes: {p.count('Window [')} (expect 0)"],
    ))

    # quality buckets: one window exchange on the group key
    from commoncrawl_spark.operators.analytics import percentile_buckets

    p = plan_of(percentile_buckets(
        docs.select("doc_id", "lang", F.col("n_chars").alias("q")),
        "q", by="lang"))
    sections.append((
        "Quality buckets (CCNet head/middle/tail): one group exchange",
        "ntile within each language is a single window — one hash "
        "exchange on the group key plus a per-partition sort; the "
        "group key must be a real partition (language/host), never a "
        "constant, or the sort serializes.",
        [f"Exchange count: {p.count('Exchange hashpartitioning')} "
         f"(expect 1)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window nodes: {p.count('Window [')} (expect 1)"],
    ))

    # crawl budget: one host aggregate, broadcast robots + 1-row total
    from commoncrawl_spark.operators.schedule import crawl_budget

    cb_frontier = docs.select(
        F.concat(F.col("source"), F.lit(".test")).alias("host"),
        ((F.col("doc_id") % 11) / F.lit(10.0)).alias("p_changed"),
        ((F.col("doc_id") % 7) / F.lit(7.0)).alias("q"))
    cb_robots = docs.select(
        F.concat(F.col("source"), F.lit(".test")).alias("host"),
        (F.regexp_extract("source", r"(\d+)", 1).cast("int")
         % 4 * 15).cast("double").alias("crawl_delay_s")).distinct()
    p = plan_of(crawl_budget(cb_frontier, 300, robots=cb_robots,
                             quality_col="q"))
    sections.append((
        "Crawl budget: one host aggregate, broadcast clamps",
        "The only corpus-scale pass is ONE map-side-partial aggregate "
        "on the host key (10^9 pending URLs fold to 10^7 host rows "
        "before any join); the robots delay frame joins broadcast and "
        "the value-weight total rides a 1-row broadcast nested-loop "
        "join — no window, no Python, no driver collect.",
        [f"Window nodes: {p.count('Window [')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"SortMergeJoin present: {'SortMergeJoin' in p} (expect False)",
         f"robots join broadcasts: {'BroadcastHashJoin' in p} "
         f"(expect True)",
         f"weight total is a BroadcastNestedLoopJoin: "
         f"{'BroadcastNestedLoopJoin' in p} (expect True)",
         f"HashAggregate operators: {p.count('HashAggregate')} "
         f"(expect >= 2: partial + final host agg)"],
    ))

    # zipnum cluster idx: global rank without any window
    from commoncrawl_spark.tables import zipnum_cluster_idx

    zcdx = docs.select(
        F.concat(F.lit("org,"), F.col("source"), F.lit(")/p"),
                 F.col("doc_id").cast("string")).alias("surt"),
        (F.lit(20200000000000) + F.col("doc_id"))
        .cast("string").alias("cdx_ts"))
    zdf = zipnum_cluster_idx(zcdx, lines_per_block=16, blocks_per_shard=4)
    zdf.collect()  # localCheckpoint inside needs an action for the
    # executed plan to show the final (post-checkpoint) shape
    p = zdf._jdf.queryExecution().executedPlan().toString()
    _AUDITED.append(("zipnum cluster idx (executed)", p))
    # the checkpoint truncates lineage, so the range exchange that
    # establishes global order is audited on the pre-checkpoint stage
    pre = plan_of(
        zcdx.repartitionByRange(F.col("surt"), F.col("cdx_ts"))
        .sortWithinPartitions("surt", "cdx_ts")
        .withColumn("_mid", F.monotonically_increasing_id()),
        label="zipnum rank stage (pre-checkpoint)")
    sections.append((
        "ZipNum cluster idx: global rank with no window at all",
        "The cc-index secondary index needs a GLOBAL sorted rank — the "
        "one thing a partition-less window would serialize. Instead: "
        "repartitionByRange puts partitions in globally consistent key "
        "order, monotonically_increasing_id yields (partition, local "
        "row) as pure columns after the per-partition sort, and a "
        "broadcast theta-join over the tiny per-partition counts frame "
        "turns local offsets into global ranks; blocks aggregate "
        "map-side-partial on the block key.",
        [f"Window nodes: {p.count('Window [')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"offset fix-up joins broadcast: {'BroadcastHashJoin' in p} "
         f"(expect True)",
         f"rank stage range exchange present: "
         f"{'rangepartitioning' in pre} "
         f"(expect True — the global-order contract; hidden from the "
         f"executed plan by the checkpoint's RDD scan)"],
    ))

    # stratified sample: quota frame broadcast onto a stratum-keyed rank
    from commoncrawl_spark.operators.analytics import (
        sqrt_allocation, stratified_sample)

    strat = docs.select("doc_id", "lang")
    p = plan_of(stratified_sample(
        strat, "lang", sqrt_allocation(strat, "lang", 100),
        key_cols=("doc_id",)))
    sections.append((
        "Stratified sample (sqrt allocation): stratum-keyed rank, "
        "broadcast quotas",
        "The per-stratum hash rank is a window partitioned by the REAL "
        "stratum key (host/language) — one hash exchange plus "
        "per-partition sort, the canonical per-group top-k; the quota "
        "frame (one slim row per stratum, built from a map-side-partial "
        "count and a 1-row broadcast sqrt total) broadcasts onto the "
        "ranked stream so no second corpus shuffle happens.",
        [f"quota join is a BroadcastHashJoin: "
         f"{'BroadcastHashJoin' in p} (expect True)",
         f"Exchange hashpartitioning count: "
         f"{p.count('Exchange hashpartitioning')} "
         f"(expect 3 pre-AQE: stratum rank + the stratum-sizes subtree "
         f"printed twice — crossJoin left and the sqrt-total input are "
         f"the same aggregate, deduped at runtime by exchange reuse)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window nodes: {p.count('Window [')} (expect 1, partitioned)"],
    ))

    # anchor extraction: scan-stage regex, aggregation on slim pairs
    from commoncrawl_spark.operators.links import anchor_text_summary

    anch_pages = docs.select(
        F.concat(F.lit("https://h.test/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.encode(F.concat(F.lit('<a href="/x">'), F.col("source"),
                          F.lit("</a>")), "utf-8").alias("html"))
    p = plan_of(anchor_text_summary(anch_pages))
    # simple-mode Exchange lines show only partitioning expressions, so
    # column claims need formatted mode: each (N) Exchange block lists
    # its Input [..] schema — that is where a leaked html column shows
    pf = plan_of(anchor_text_summary(anch_pages), "formatted")
    exch_blocks = [
        b for b in pf.split("\n\n") if b.lstrip().startswith("(")
        and "Exchange" in b.splitlines()[0]
    ]
    html_in_exchange = any("html" in b for b in exch_blocks)
    sections.append((
        "Anchor-text aggregation: page bytes never shuffle",
        "Extraction is codegen regex in the scan stage; the exchanges "
        "carry (url, short anchor) pairs and their counts — the html "
        "column is dropped before the first shuffle (checked against "
        "the formatted plan's per-Exchange Input schemas; the simple "
        "plan never prints carried columns).",
        [f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"Exchange blocks inspected: {len(exch_blocks)} (expect >= 1)",
         f"'html' in any Exchange input schema: {html_in_exchange} "
         f"(expect False)"],
    ))

    # text normalization: scan-stage expression chain
    from commoncrawl_spark.functions.text import normalize_text_col

    p = plan_of(docs.select(
        "doc_id", normalize_text_col(F.col("text")).alias("norm")))
    sections.append((
        "Text normalization: zero-exchange scan-stage expression",
        "The regexp_replace chain is a single projected expression — it "
        "runs inside whole-stage codegen in the scan stage, so corpus "
        "cleanup is free of shuffles and Python at any scale.",
        [f"Exchange count: {p.count('Exchange')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"whole-stage-codegen span ('*(1)' marker) present: "
         f"{'*(1)' in p} (expect True)"],
    ))

    # C4 line/page cleaning: scan-stage array lambdas
    from commoncrawl_spark.functions.text import c4_signals

    c4 = c4_signals(F.col("text"))
    p = plan_of(docs.select(
        "doc_id", c4["n_kept_lines"].alias("n_kept_lines"),
        c4["clean_text"].alias("clean_text"),
        c4["keep"].alias("keep"),
        c4["drop_reason"].alias("drop_reason")))
    sections.append((
        "C4 cleaning: line + page gates ride the scan",
        "Every C4 rule (terminal punctuation, min words, javascript "
        "line drop; bad-word / lorem-ipsum / curly-brace / sentence-"
        "count page gates) is a per-row array-lambda expression — the "
        "whole Raffel-et-al pass fuses into the read projection, so a "
        "10^10-page corpus is cleaned in the stage that scans it, with "
        "no exchange and no Python anywhere.",
        [f"Exchange count: {p.count('Exchange')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # pagination chains: ring-sized joins, bounded depth
    from commoncrawl_spark.operators.links import pagination_chains

    pg_edges = docs.select(
        F.concat(F.lit("https://h.test/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.concat(F.lit("https://h.test/"),
                 (F.col("doc_id") + 1).cast("string")).alias("next_url"))
    p = plan_of(pagination_chains(pg_edges, max_pages=5))
    sections.append((
        "Pagination chains: ring joins like seed-BFS, cycles starve",
        "Each round is one hash equi-join of the slim (head, url) ring "
        "against the edge table — seed_depth_rings' shape; position "
        "strictly increases and the depth bound cuts adversarial "
        "rel=next loops, while pure cycles have no head and never "
        "enter the walk at all.",
        [f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # chain stitching: slim join, bounded per-head aggregate
    from commoncrawl_spark.operators.links import stitch_chains

    st_chains = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string"))
        .alias("head_url"),
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") % 4).cast("int").alias("position"))
    st_pages = docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.col("text"))
    p = plan_of(stitch_chains(st_chains, st_pages))
    sections.append((
        "Chain stitching: per-head state bounded by the depth cap",
        "Fragment texts join the slim chain table on the URL key and "
        "aggregate per head; the position sort happens inside a "
        "<= max_pages array (the walk's depth bound), never in a "
        "window — so reassembling 10^8 multi-page articles is one "
        "join plus a map-side-partial collect of tiny arrays.",
        [f"Window operators: {p.count('Window')} (expect 0)",
         f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # epoch materialization: broadcast plan, guarded sequence explode
    from commoncrawl_spark.operators.selection import materialize_epochs

    ep_plan = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).select(
        "source", (F.lit(1.0) + (F.length("source") % 3))
        .cast("double").alias("epochs"))
    p = plan_of(materialize_epochs(
        docs.select("doc_id", "source"), ep_plan))
    sections.append((
        "Epoch materialization: the plan broadcasts, the corpus streams",
        "The group-cardinality epoch plan joins as a BROADCAST side; "
        "copy counts and the partial-epoch draw are scan-stage md5 "
        "arithmetic; the per-copy explode is bounded by ceil(epochs). "
        "Per-epoch shuffle keys are md5(seed|epoch|id) — no "
        "materialized permutation, no RNG state, so a 10^10-doc "
        "training stream resumes at any offset.",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p} "
         f"(expect True)",
         f"SortMergeJoin present: {'SortMergeJoin' in p} (expect False)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # host reputation prior: host aggregate + 1-row global broadcast
    from commoncrawl_spark.operators.classify import host_quality_prior

    hq = docs.select(
        F.col("source").alias("host"),
        (F.length("text") > 500).alias("keep"))
    p = plan_of(host_quality_prior(hq))
    sections.append((
        "Host reputation prior: docs collapse to hosts before anything",
        "The per-host keep counts are one map-side-partial aggregate "
        "(10^10 docs -> host cardinality in the map stage); the corpus "
        "rate is a 1-row broadcast and the shrinkage is per-row "
        "mul-add-divide — no second corpus pass, no window, no Python.",
        [f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # T5 span corruption: the training objective rides the scan
    from commoncrawl_spark.operators.chunking import span_corruption

    p = plan_of(span_corruption(docs.select("doc_id", "text")))
    sections.append((
        "T5 span corruption: objective materializes in the scan stage",
        "Fixed 20-token blocks make span non-overlap true by "
        "construction (T5's i.i.d. sampling would force a sequential "
        "scan); each block's offset is md5 arithmetic and the "
        "input/target rebuild is slice+flatten lambdas — zero "
        "exchanges, zero Python, so the pre-training objective is "
        "generated in the same pass that reads the corpus.",
        [f"Exchange count: {p.count('Exchange')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # hreflang reciprocity: equi self-join on URL key pairs
    from commoncrawl_spark.operators.links import (
        confirmed_hreflang_pairs,
        extract_hreflang,
    )

    hl_pages = docs.select(
        F.concat(F.lit("https://h.test/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.concat(
            F.lit('<link rel="alternate" hreflang="de" href="https://'),
            F.col("source"), F.lit('.org/de"/>')).alias("html"))
    p = plan_of(confirmed_hreflang_pairs(extract_hreflang(hl_pages)))
    sections.append((
        "hreflang reciprocity: URL-key equi-join, never a cartesian",
        "Tag extraction is scan-stage regex + explode; the mutual-"
        "declaration check is one hash equi-join of the declaration "
        "table against itself on the (url, alt_url) KEY PAIR — a hub "
        "page declaring 50 languages contributes 50 join rows, not "
        "50^2, and unreciprocated spam declarations die in the join.",
        [f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # epoch waterfilling: bounded source table, candidate aggregates
    from commoncrawl_spark.operators.selection import epoch_plan

    st = docs.groupBy("source").agg(
        F.sum(F.length("text")).cast("long").alias("n_tokens")
    ).withColumn(
        "max_epochs",
        F.when(F.col("source").endswith("0"), F.lit(1.0))
        .otherwise(F.lit(4.0)))
    p = plan_of(epoch_plan(st, 60000.0))
    sections.append((
        "Epoch waterfilling: candidate aggregates, never a global sort",
        "The corpus collapses to one per-source row (map-side-partial "
        "aggregate); the min(e,cap) breakpoint is found by one "
        "conditional aggregate per distinct cap over that bounded "
        "table and the 1-row level broadcasts back — windows and "
        "corpus rescans never appear, so the plan costs the same at "
        "10^10 docs as at 10^3.",
        [f"Window operators: {p.count('Window')} (expect 0)",
         f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # SQ8 quantization: bounds broadcast, codes never shuffle
    from commoncrawl_spark.operators.similarity import (
        sq8_bounds,
        sq8_encode,
        sq8_topk,
    )

    sq_corpus = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.array(*[(F.col("doc_id") % (i + 3)).cast("float")
                  for i in range(8)]).alias("embedding"))
    sq_b = sq8_bounds(sq_corpus)
    p = plan_of(sq8_topk(sq8_encode(sq_corpus, sq_b), sq_b,
                         sq_corpus.filter(F.col("vec_id") < 3), k=5))
    sections.append((
        "SQ8 search: codes scan un-shuffled, bounds+queries broadcast",
        "The uint8 codes table (4x smaller than the float vectors — "
        "the fits-in-memory lever at 10^10 embeddings) is scanned "
        "once with the 1-row bounds and the bounded query set as "
        "BROADCAST sides; dequantization and the asymmetric dot are "
        "per-row folds, and only (query, neighbor, score) survivors "
        "reach the per-query rank window.",
        [f"BroadcastNestedLoopJoin/BroadcastHashJoin present: "
         f"{'Broadcast' in p} (expect True)",
         f"partition-less windows: {len(partitionless_windows(p))} "
         f"(expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # tiered merge planning: per-tier windows, integer ladder
    from commoncrawl_spark.tables import plan_tiered_merges

    tm_segs = docs.select(
        F.concat(F.lit("s"), F.col("doc_id").cast("string"))
        .alias("segment_id"),
        ((F.col("doc_id") % 20 + 1) * (1 << 20)).cast("long")
        .alias("bytes"))
    p = plan_of(plan_tiered_merges(tm_segs))
    sections.append((
        "Tiered merge planning: sorts per tier, never globally",
        "The compaction scheduler buckets segments into size-doubling "
        "tiers with an INTEGER threshold ladder (float log2 flips at "
        "power-of-two boundaries) and ranks within each tier — a "
        "10^6-segment ledger sorts per tier partition, and group "
        "assignment is integer arithmetic on the rank. This is the "
        "O(log n) write-amplification policy every LSM store ships.",
        [f"partition-less windows: {len(partitionless_windows(p))} "
         f"(expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # partitioned snapshot reads: directory pruning at planning time
    import tempfile as _tf

    from commoncrawl_spark.tables import SnapshotTable as _ST

    _pt = _ST(_tf.mkdtemp(prefix="ccs_audit_part_"),
              partition_by=("lang",))
    _pt.append(docs.filter(F.col("doc_id") % 2 == 0)
               .select("doc_id", "lang", "n_chars"))
    _pt.append(docs.filter(F.col("doc_id") % 2 == 1)
               .select("doc_id", "lang", "n_chars"))
    ptq = _pt.read(spark).filter(F.col("lang") == "en")
    p = plan_of(ptq, "formatted")
    pruned = ("PartitionFilters" in p
              and "lang" in p.split("PartitionFilters")[1][:120])
    sections.append((
        "Partitioned snapshots: the filter prunes directories, not rows",
        "The table's partition spec lays commits out hive-style, so a "
        "lang/crawl-partition filter lands in the scan's "
        "PartitionFilters — whole directories are skipped at PLANNING "
        "time in every commit branch, the property that lets a "
        "per-language question touch 1/Nth of a 100 TB table.",
        [f"PartitionFilters carries the lang predicate: {pruned} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # manifest stats: file skipping decided without opening files
    _st = _ST(_tf.mkdtemp(prefix="ccs_audit_stats_"),
              stats_by=("n_chars",))
    _st.overwrite(docs.select("doc_id", "lang", "n_chars")
                  .repartitionByRange(16, F.col("n_chars"))
                  .sortWithinPartitions("n_chars"))
    _all = len(_st.matching_files({"n_chars": (-10**9, 10**9)}))
    _band = len(_st.matching_files({"n_chars": (400, 600)}))
    sections.append((
        "Manifest stats: the band read never opens non-matching files",
        "Each commit records per-file min/max for the stats columns in "
        "the manifest (one grouped aggregate at write time — the "
        "Iceberg manifest-stats analog); a banded read consults the "
        "manifest alone and opens only intersecting files. Range-"
        "clustering the write makes the intervals tight, so the band "
        "touches a fraction of the table at ANY size; z-ordering "
        "(tables.zorder_key) extends the same mechanism to 2-D boxes "
        "(measured in test_tables.py).",
        [f"files in table: {_all}",
         f"files opened for the n_chars 400-600 band: {_band} "
         f"(expect < {_all})",
         f"band read is a strict subset: {_band < _all} (expect True)"],
    ))

    # tombstone-aware search: deletes as slim anti-joins, no rewrite
    from commoncrawl_spark.operators.index import (
        bm25_search_tombstoned,
        build_doclen,
        build_tf_index,
    )

    tomb_dead = docs.filter(F.col("doc_id") % 9 == 0).select("doc_id")
    p = plan_of(bm25_search_tombstoned(
        build_tf_index(docs), build_doclen(docs), tomb_dead,
        ["the", "and"], top_k=10))
    sections.append((
        "Index deletes: tombstone anti-joins, posting lists untouched",
        "Takedowns and post-hoc dedup remove docs from a 10^10-doc "
        "index constantly; rewriting posting lists per delete is "
        "unaffordable, so deleted ids are a slim table excluded at "
        "query time by LEFT ANTI joins on streams ALREADY term-"
        "filtered — exact live-corpus stats, scores equal to a "
        "from-scratch index of the survivors (the oracle's check).",
        [f"LeftAnti joins present: {'LeftAnti' in p} (expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # RSS/Atom feed parsing: explode is the only non-projection op
    from commoncrawl_spark.operators.links import extract_feed_entries

    feeds = docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".org/feed")).alias("feed_url"),
        F.concat(F.lit("<rss><channel><item><title>t</title><link>"),
                 F.lit("https://x.test/"), F.col("doc_id").cast("string"),
                 F.lit("</link></item></channel></rss>")).alias("xml"))
    p = plan_of(extract_feed_entries(feeds))
    sections.append((
        "Feed parsing: entry blocks explode in the scan stage",
        "Kind sniff, block split, and every child field are regex "
        "expressions over the feed bytes; the explode multiplies rows "
        "WITHIN the scan stage and nothing shuffles — 10^8 polled "
        "feeds parse in their read pass, like the sitemap extractor.",
        [f"Exchange count: {p.count('Exchange')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # news pipeline: feeds -> anti-join -> salted politeness batch
    from commoncrawl_spark.operators.schedule import select_polite_batch
    from commoncrawl_spark.operators.seen_set import (
        anti_join_seen,
        with_url_key,
    )

    np_ent = extract_feed_entries(feeds)   # feeds built above
    np_cand = with_url_key(np_ent.select(
        F.col("link").alias("url"), "published"))
    np_seen = with_url_key(docs.limit(50).select(
        F.concat(F.lit("https://x.test/"), F.col("doc_id").cast("string"))
        .alias("url")))
    np_fresh = (
        anti_join_seen(np_cand, np_seen)
        .withColumn("host",
                    F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1))
        .withColumn("staleness", F.lit(1)))
    p = plan_of(select_polite_batch(
        np_fresh, budget_per_host=10,
        priority_cols=("staleness", "url"), key_col="url_sha1"))
    sections.append((
        "News pipeline: feed scan -> LEFT ANTI -> salted host windows",
        "Feed parsing stays in the scan stage, the seen-set check is "
        "one LEFT ANTI hash join on the sha1 key, and the freshness "
        "batch reuses the politeness top-k (salt-bucket window, then "
        "host window — both PARTITIONED, so no task ever sorts more "
        "than one host's candidates).",
        [f"LeftAnti join present: {'LeftAnti' in p} (expect True)",
         f"partition-less windows: {len(partitionless_windows(p))} "
         f"(expect 0)",
         f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # publication-date chain: scan-stage regex cascade
    from commoncrawl_spark.functions.extract import publication_date_cols

    pd_cols = publication_date_cols(
        F.col("text"), F.concat(F.lit("https://h.test/"), F.col("source")))
    p = plan_of(docs.select(
        "doc_id", pd_cols["pub_date"].alias("pub_date"),
        pd_cols["date_source"].alias("date_source")))
    sections.append((
        "Publication dating: six-source cascade rides the scan",
        "Every candidate source (OpenGraph, meta-date, time tag, "
        "JSON-LD, URL path, bare ISO text) is one regexp_extract and "
        "the first-valid-wins cascade is a when-chain — the whole "
        "dating pass is a projected expression with no exchange and "
        "no Python, so 10^10 pages date in their read stage.",
        [f"Exchange count: {p.count('Exchange')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # incremental near-dedup: the persisted index is never shuffled
    from commoncrawl_spark.operators.text_dedup import (
        build_minhash_index,
        near_duplicates_against_index,
    )

    mh_dir = tempfile.mkdtemp()
    build_minhash_index(docs.limit(400)).write.parquet(f"{mh_dir}/sig")
    seg = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text")
    with cut_frames() as cuts:
        near_duplicates_against_index(
            seg, spark.read.parquet(f"{mh_dir}/sig"), threshold=0.5)
    nd = cuts[0]
    p = plan_of(nd)
    pf = plan_of(nd, "formatted")
    idx_exchanged = any(
        "sig" in b
        for b in pf.split("\n\n")
        if b.lstrip().startswith("(") and "Exchange" in b.splitlines()[0]
        and "BroadcastExchange" not in b.splitlines()[0]
    )
    sections.append((
        "Incremental near-dedup: history index probes map-side",
        "The new segment's band buckets broadcast (an increment is "
        "orders of magnitude smaller than history), so the 10^10-doc "
        "signature index streams through its scan, derives buckets per "
        "row, and probes the broadcast — no shuffle of the index, ever; "
        "the Jaccard estimate is computed and thresholded before the "
        "only exchange (the slim match-row distinct).",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p} "
         f"(expect True)",
         f"SortMergeJoin present: {'SortMergeJoin' in p} (expect False)",
         f"signature column in any shuffle Exchange input: "
         f"{idx_exchanged} (expect False — only slim match rows cross)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # exact set-similarity join: the lossless guarantee without the
    # all-pairs plan — candidates must come from an EQUI-join on the
    # rare-first prefix shingle key, never a cartesian/theta join, and
    # the shingle df table aggregates map-side-partial
    from commoncrawl_spark.operators.text_dedup import set_similarity_join

    with cut_frames() as cuts:
        set_similarity_join(docs.limit(400), threshold=0.8)
    p = plan_of(cuts[0], label="set-similarity join")
    sections.append((
        "Exact set-similarity join: prefix filter, equi-join candidates",
        "Prefix filtering (Vernica et al. SIGMOD'10) makes the EXACT "
        "threshold-Jaccard join scale: only each doc's ~(1-t)*|set| "
        "rarest shingles are exploded, candidates are an equi-join on "
        "that prefix key (rare-first ordering keeps the join buckets "
        "small — the df=10^6 stopword shingle sorts LAST and never "
        "enters a prefix), a size filter prunes inside the join "
        "condition, and only survivors get the exact intersection "
        "arithmetic. The guarantee LSH cannot give, without the O(n^2) "
        "plan a naive exact join needs.",
        [f"CartesianProduct: {'CartesianProduct' in p} (expect False)",
         f"BroadcastNestedLoopJoin: {'BroadcastNestedLoopJoin' in p} "
         f"(expect False — size filter rides the equi-join, not a "
         f"theta join)",
         f"partial aggregates (df count + dedup): "
         f"{p.count('HashAggregate')} HashAggregate nodes (expect >= 4: "
         f"partial+final for shingle df and candidate distinct)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # PMI collocations: token-key count joins + 1-row broadcast totals,
    # top-k as TakeOrderedAndProject — never a global rank window
    from commoncrawl_spark.operators import analytics

    with cut_frames() as cuts:
        analytics.pmi_collocations(docs.limit(300), min_count=2, top_k=50)
    p = plan_of(cuts[0], label="pmi collocations")
    sections.append((
        "PMI collocations: sum-of-logs scoring, partial top-k",
        "Both tallies aggregate map-side-partial off ONE persisted "
        "token pass (shuffle rows = vocab, not corpus); min_count "
        "prunes the bigram frame before the two unigram-count joins; "
        "corpus totals ride 1-row broadcasts; the top-k compiles to "
        "TakeOrderedAndProject (map-side partial top-k, only k rows "
        "cross the exchange). Scoring is a SUM of logs because "
        "N^2 overflows int64 at a 10^13-token corpus.",
        [f"TakeOrderedAndProject present: "
         f"{'TakeOrderedAndProject' in p} (expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"CartesianProduct: {'CartesianProduct' in p} (expect False — "
         f"totals ride BroadcastNestedLoopJoin 1-row crosses)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"partial aggregates: {p.count('HashAggregate')} "
         f"HashAggregate nodes (expect >= 4)"],
    ))

    # readability: scan-stage only — the whole signal pair must fuse
    # into the parquet scan projection, zero exchanges
    from commoncrawl_spark.functions.text import readability_signals

    rsig = readability_signals(F.col("text"))
    rd = docs.select("doc_id", *[rsig[k].alias(k) for k in rsig])
    p = plan_of(rd, label="readability signals")
    sections.append((
        "Readability signals: zero-shuffle scan-stage expressions",
        "Flesch ease/grade from vowel-run syllables and sentence "
        "splits as pure Catalyst array lambdas: per-row arithmetic "
        "fuses into the scan projection — a 10^10-doc corpus is scored "
        "in its read pass, no exchange, no Python.",
        [f"Exchange count: {p.count('Exchange')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # incremental index merge: old index filtered map-side, never shuffled
    from commoncrawl_spark.operators.index import merge_tf_index

    build_tf_index(seg).write.parquet(f"{mh_dir}/seg_tf")
    mg = merge_tf_index(spark.read.parquet(f"{idx_dir}/tf"),
                        spark.read.parquet(f"{mh_dir}/seg_tf"))
    # no collect: the executed AdaptiveSparkPlan prints Final + Initial
    # sections and would double-count the one exchange
    p = plan_of(mg)
    sections.append((
        "Incremental index merge: new-wins anti-join broadcasts the "
        "slim segment ids",
        "merge_tf_index folds a persisted segment index into the "
        "persisted historical index by dropping re-crawled documents' "
        "old rows through a broadcast anti-join on the segment's id "
        "set — the historical index is filtered in its scan stage, "
        "keeps its storage partitioning, and the corpus is never "
        "re-tokenized (both inputs are parquet index tables, the "
        "deployment shape).",
        [f"BroadcastHashJoin LeftAnti present: "
         f"{'BroadcastHashJoin' in p and 'LeftAnti' in p} (expect True)",
         f"SortMergeJoin present: {'SortMergeJoin' in p} (expect False)",
         f"hash exchanges: {p.count('Exchange hashpartitioning')} "
         f"(expect 1 — the segment-id distinct under the broadcast "
         f"build; the old-index side has none)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # BPE: histogram-sized training, scan-stage encoding
    from commoncrawl_spark.operators.bpe import (
        _char_symbols,
        bpe_encode_col,
        pair_count_top,
        word_histogram,
    )
    from pyspark.sql import functions as _F

    wh = word_histogram(docs).select(
        "word", "freq", _char_symbols(_F.col("word")).alias("syms"))
    p = plan_of(pair_count_top(wh), label="bpe-train-iteration")
    enc_plan = plan_of(
        docs.select("doc_id", bpe_encode_col(
            _F.col("text"),
            [("e", "r", 1), ("t", "h", 1), ("th", "e", 1)]).alias("t")),
        label="bpe-encode")
    sections.append((
        "BPE training iteration + encode: histogram-sized work, "
        "scan-stage application",
        "The corpus is tokenized ONCE into a (word, freq) histogram; "
        "every merge iteration is a map-side-partial pair count over "
        "that vocab-sized table plus a 1-row TakeOrderedAndProject "
        "argmax — the only driver data is the winning pair. Encoding "
        "with a small merge table is a pure Catalyst fold chain: zero "
        "exchanges, zero Python (production vocab sizes switch to the "
        "Arrow-batched bpe_encode_udf).",
        [f"train argmax TakeOrderedAndProject present: "
         f"{'TakeOrderedAndProject' in p} (expect True)",
         f"train iteration Window operators: {p.count('Window')} "
         f"(expect 0)",
         f"encode exchanges: {enc_plan.count('Exchange')} (expect 0)",
         f"encode Python operators: {enc_plan.count('EvalPython')} "
         f"(expect 0)"],
    ))

    # Gopher n-gram repetition: tagged stream, partial aggs, no Window
    from commoncrawl_spark.operators.text_dedup import gopher_ngram_stats

    p = plan_of(gopher_ngram_stats(docs))
    sections.append((
        "Gopher n-gram repetition: one tagged explode, partial "
        "aggregates, no Window",
        "All nine n values ride ONE exploded (id, n, pos, md5, chars) "
        "stream — slim rows, never text; per-(doc, n, gram) counting "
        "and the per-(doc, n) argmax/union reduction are map-side "
        "partial aggregates (a boilerplate gram collapses per "
        "partition before the exchange); the wide row is a "
        "conditional-aggregate pivot on the unique doc id. No Window, "
        "no Python.",
        [f"hash exchanges: {p.count('Exchange hashpartitioning')} "
         f"(expect 3 — gram count, per-n reduction, doc pivot; the "
         f"restore join rides the pivot's partitioning)",
         f"map-side partial aggregate functions: "
         f"{len(re.findall(r'partial_', p))} (expect > 0 — a final-only "
         f"aggregate would ship every gram row through the exchange)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # SemDeDup: cell-blocked pair join, no cartesian, map-side election
    from commoncrawl_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sd = semantic_dedup(emb, n_centroids=16, threshold=0.3)
    p = plan_of(sd)
    # the candidate-pair subplan (assignment + cell self-join) — the
    # final verdict plan reads the slim assignment from its r4
    # localCheckpoint blocks, so the centroid BNLJ and the cell
    # equi-join live HERE, not in the output plan
    from commoncrawl_spark.operators.similarity import (
        ivf_assign,
        near_duplicate_pairs,
    )
    _asg = ivf_assign(emb, emb.filter(F.col("vec_id") < 16),
                      "vec_id", "embedding", with_score=True)
    _pp = plan_of(near_duplicate_pairs(
        _asg, threshold=0.3, block_col="cell", max_block_rows=None))
    sections.append((
        "SemDeDup: within-cell pairs only, never all-pairs",
        "semantic_dedup compares embeddings only inside a k-means cell: "
        "the candidate join is an equi self-join on the cell key (AQE "
        "can skew-split a hot cell), centroid assignment is a broadcast "
        "nested-loop against the tiny centroid table (the deliberate "
        "K-way cross — the corpus never shuffles whole), duplicate-group "
        "election is the map-side min_by from cluster_representatives. "
        "A CartesianProduct anywhere would be the quadratic path the "
        "paper's clustering exists to avoid.\n\nRound-4 guards close "
        "the r3 verdict's 'unguarded quadratic cell' finding: the "
        "blocked self-join probes `groupBy(cell).count()` (NULL cells "
        "excluded — they never equi-join) and refuses when any cell "
        "exceeds `max_block_rows` (default 20k rows — a 2*10^8-pair "
        "straggler task is the ceiling we tolerate), and the "
        "default-centroid path (first k vectors — fine for the "
        "oracle-replayable sandbox corpus, quadratic at 10^9 vectors) "
        "refuses corpora above `max_default_centroid_rows` (100k) "
        "without explicit trained `kmeans_centroids` at k ~ sqrt(n), "
        "the paper's setting. Both guards are loud refusals, not "
        "silent degradations (pinned in `test_text_ops.py`). Probe "
        "cost is one cheap count on the default-centroid path (whose "
        "n already bounds every cell, so the per-cell probe is "
        "skipped as provably redundant); only the trained-centroid "
        "path — where cell sizes genuinely depend on the training — "
        "pays the one extra cell-assignment pass, the price of being "
        "safe to point at a corpus whose skew you did not check "
        "first.",
        [f"CartesianProduct in verdict plan: {'CartesianProduct' in p} "
         f"(expect False)",
         f"CartesianProduct in pair subplan: "
         f"{'CartesianProduct' in _pp} (expect False)",
         f"BroadcastNestedLoopJoin in pair subplan: "
         f"{'BroadcastNestedLoopJoin' in _pp} (expect True — the tiny "
         f"broadcast centroid cross; since r4 the slim assignment is "
         f"checkpointed once, so it no longer appears in the verdict "
         f"plan)",
         f"Python operators: {p.count('EvalPython') + _pp.count('EvalPython')} (expect 0)"],
    ))

    # host boilerplate: slim-key frequency agg, broadcast anti-join
    from commoncrawl_spark.operators.text_dedup import (
        strip_host_boilerplate,
    )

    hb = strip_host_boilerplate(
        docs.select("doc_id", "source", "text"), host_col="source",
        seg_words=2, min_docs=3, min_frac=0.1)
    p = plan_of(hb, label="host-boilerplate")
    sections.append((
        "Host boilerplate strip: template lines leave via broadcast anti-join",
        "Per-host template detection aggregates (host, md5, id) triples "
        "— segment text rides a min() slot, never the frequency "
        "exchange; the per-host doc totals broadcast; and the removal "
        "is a broadcast LEFT ANTI on the boilerplate fingerprints (a "
        "host's chrome is bounded no matter how many pages it has, so "
        "the anti side stays broadcast-sized at 10^10 pages). Rebuild "
        "is one exchange on the doc id.",
        [f"boilerplate anti-join broadcast: "
         f"{'BroadcastHashJoin' in p and 'LeftAnti' in p} (expect True)",
         f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # media aHash near-dup: signature-only shuffle, pigeonhole join
    from commoncrawl_spark.operators.multimodal import media_near_duplicates

    with cut_frames() as cuts:  # the shared pigeonhole join
        media_near_duplicates(
            docs.select("doc_id", F.encode("text", "utf-8").alias("media")),
            max_hamming=3, bits=32, blocks=4)
    p = plan_of(cuts[0], label="media-ahash-neardup")
    sections.append((
        "Media aHash near-dup: payload bytes stay in the scan stage",
        "aHash is one hex() plus array expressions per row; only "
        "(id, int64) signatures reach the pigeonhole (block, chunk) "
        "self-join shared with simhash, so candidate volume is bounded "
        "by chunk collisions, never all-pairs, and the fat binary "
        "column never shuffles.",
        [f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"all-pairs joins: "
         f"{p.count('CartesianProduct') + p.count('BroadcastNestedLoopJoin')}"
         f" (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # HLL sketches: history-free distinct counts, blob-only merge shuffle
    from commoncrawl_spark.operators.sketches import (
        build_sketches, estimate_cardinality, merge_sketches,
    )

    ka = build_sketches(
        docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source"),
        ["source"], "doc_id")
    kb = build_sketches(
        docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source"),
        ["source"], "doc_id")
    hc = estimate_cardinality(
        merge_sketches(ka, kb, key_cols=["source"]), ["source"])
    p = plan_of(hc, label="hll-cardinality")
    sections.append((
        "HLL cardinality sketches: distinct counts without rescanning history",
        "Each snapshot sketches map-side (partial_hll_sketch_agg) and "
        "ships only (key, ~4 KiB blob) rows through its exchange; the "
        "cross-snapshot merge shuffles blobs, never raw values — the "
        "10^10-URL distinct-count question costs O(hosts), not "
        "O(corpus), once snapshots persist their sketch tables.",
        [f"map-side partial sketching: {'partial_hll_sketch_agg' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # WARC revisit: digest-keyed fold + joins, payloads never move
    from commoncrawl_spark.operators.temporal import revisit_records

    rv_cdx = docs.select(
        F.col("doc_id").alias("event_id"),
        F.col("source").alias("url"),
        F.md5(F.col("text")).alias("digest"),
        F.col("doc_id").cast("string").alias("timestamp"))
    rv = revisit_records(
        rv_cdx.filter(F.col("doc_id") % 2 == 0),
        rv_cdx.filter(F.col("doc_id") % 2 == 1)
        .groupBy("url", "digest").agg(F.min("timestamp").alias("timestamp")))
    p = plan_of(rv, label="warc-revisit")
    sections.append((
        "WARC revisit classification: pointers instead of stored bytes",
        "Every operation keys on (url, digest): one map-side-partial "
        "min(struct) fold elects each group's original, then two "
        "equi-joins (batch originals, prior originals) attach the "
        "refers-to pointer. Revisit payloads are never shuffled or "
        "stored — the pointer is a timestamp, which is the whole point "
        "of the record type at archive scale.",
        [f"map-side partial fold: {'partial_min' in p} (expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # Kneser-Ney LM: one token-pair shuffle, broadcast model tables
    from commoncrawl_spark.operators.lm import kneser_ney_scores

    kn = kneser_ney_scores(docs.select("doc_id", "text"))
    p = plan_of(kn, label="kneser-ney")
    sections.append((
        "Kneser-Ney scoring: model tables broadcast, text never shuffles",
        "Identical shape to the other LM scorers: the per-doc pair "
        "frequency table is the only corpus-size exchange (slim token "
        "keys, map-side partial); counts/context/continuation tables "
        "and the 1-row type total are type-bounded broadcasts, so the "
        "KN arithmetic runs inside the scan-side stage and the final "
        "exchange is the per-document re-aggregation.",
        [f"model tables broadcast: {'BroadcastHashJoin' in p} "
         f"(expect True)",
         f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # spam mass: two rank walks + broadcast totals, node-key join
    from commoncrawl_spark.operators.graph import spam_mass

    sm_edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 1) % 97).alias("dst"))
    sm_seeds = docs.select((F.col("doc_id") % 97).alias("node")).filter(
        F.col("node") % 10 == 0)
    sm = spam_mass(sm_edges, sm_seeds)
    p = plan_of(sm, label="spam-mass")
    sections.append((
        "Spam mass: rank vectors only, never the corpus",
        "Pure composition: the PageRank and TrustRank fixed-iteration "
        "walks each exchange only the (node, double) rank vector per "
        "iteration (map-side partial sums over the slim edge table); "
        "normalization totals are 1-row broadcasts and the final join "
        "is on the node key. Nothing scales with document count — only "
        "with the host graph.",
        [f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # hard negatives: bucket-join candidates, anchor-partitioned rank
    from commoncrawl_spark.operators.similarity import hard_negative_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    hn = hard_negative_pairs(
        emb, emb.filter(F.col("vec_id") < 10), dim=64,
        lo=0.1, hi=0.35, k=5, n_planes=6)
    p = plan_of(hn, label="hard-negatives")
    sections.append((
        "Hard-negative mining: banded candidates, per-anchor windows only",
        "Candidates come from the LSH bucket equi-join (the broadcast "
        "query side), the cosine band filters bucket candidates before "
        "ranking, and the rank window is PARTITIONED by the anchor key "
        "— no task sorts more than one anchor's list; the corpus is "
        "never crossed with itself.",
        [f"all-pairs joins: "
         f"{p.count('CartesianProduct') + p.count('BroadcastNestedLoopJoin')}"
         f" (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # product quantization ANN: broadcast codebook + broadcast distance
    # table; code assignment is a min_by aggregate, never a rank window
    from commoncrawl_spark.operators.similarity import pq_topk

    pq = pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, m=8,
                 n_codewords=16)
    p = plan_of(pq, label="pq ann")
    sections.append((
        "PQ ANN: byte codes, broadcast lookups, integer ADC sums",
        "The memory scale path: 10^10 x 64-float vectors become 8-byte "
        "code rows; encoding probes the BROADCAST codebook (m x K rows) "
        "and argmins via min_by — an aggregate; scoring joins the "
        "BROADCAST per-query distance table map-side and sums "
        "1e-6-quantized LONGS (integer addition is associative, so "
        "partition order cannot perturb the ranking); the only rank "
        "window is partitioned by query id.",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p} "
         f"(expect True — codebook + distance table)",
         f"all-pairs joins: "
         f"{p.count('CartesianProduct') + p.count('BroadcastNestedLoopJoin')}"
         f" (expect 0)",
         f"partial_min_by code assignment: {'partial_min_by' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # IVF-PQ composed ANN: coarse pruning + byte-code scoring
    from commoncrawl_spark.operators.similarity import ivf_pq_topk

    ipq = ivf_pq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, m=8,
                      n_codewords=16, n_centroids=16, n_probe=4)
    p = plan_of(ipq, label="ivf-pq ann")
    sections.append((
        "IVF-PQ ANN: inverted-list pruning over byte-code scoring",
        "The composed production index (FAISS IVFx,PQy): coarse "
        "assignment min_by-probes the BROADCAST centroid frame (the "
        "corpus never shuffles whole), candidates come from the "
        "probe-to-cell EQUI-join (~n_probe/K of the corpus per query), "
        "and only those candidates reach the PQ ADC join — compute "
        "pruned by IVF, memory shrunk by PQ. Rank windows are "
        "query-partitioned; ADC sums ride 1e-6-quantized longs.",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p} "
         f"(expect True — codebook + distance table + candidate keys)",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0 — "
         f"the only cross is the K=16-row BROADCAST centroid expansion, "
         f"a BroadcastNestedLoopJoin, deliberate and K-bounded)",
         f"centroid-expansion BroadcastNestedLoopJoin present: "
         f"{'BroadcastNestedLoopJoin' in p} (expect True)",
         f"partial_min_by assignments: {'partial_min_by' in p} "
         f"(expect True — cell + code argmins are aggregates)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # ExactSubstr strip: slim gram streams, per-row coverage expansion
    from commoncrawl_spark.operators.text_dedup import strip_duplicate_spans

    es = strip_duplicate_spans(docs.select("doc_id", "text"), k=20)
    p = plan_of(es, label="exactsubstr-strip")
    sections.append((
        "ExactSubstr removal: the suffix array as two slim shuffles",
        "Same skeleton as the measurement twin: (id, pos, 32-byte md5) "
        "per window position, map-side-partial gram counts (boilerplate "
        "windows collapse before the exchange), duplicated starts "
        "return as ONE array per doc via an id-keyed join, and the "
        "coverage OR + token rebuild are per-row zip-shift array "
        "expressions — no task ever holds more than one document.",
        [f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # domain web graph: scan-stage rollup, one partial-agg count
    from commoncrawl_spark.operators.links import domain_graph

    dg_edges = docs.select(
        F.concat(F.lit("www."), F.col("source"), F.lit(".co.uk"))
        .alias("src_host"),
        F.concat(F.lit("ext-"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".org")).alias("dst_host"))
    dg = domain_graph(dg_edges)
    p = plan_of(dg, label="domain-webgraph")
    sections.append((
        "Domain web graph: rollup in the scan, count collapses map-side",
        "Registered-domain extraction is pure per-row array expressions "
        "(scan stage, zero exchange); the only shuffle is the "
        "(src_domain, dst_domain) count, map-side-partial — a 10^11-edge "
        "host graph collapses toward the domain-pair cardinality before "
        "any bytes move.",
        [f"map-side partial aggregates present: {'partial_count' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # diversity sample: broadcast assignment, one per-cell rank exchange
    from commoncrawl_spark.operators.similarity import diversity_sample

    dvs = diversity_sample(emb, emb.filter(F.col("vec_id") < 16),
                           total_n=100)
    p = plan_of(dvs, label="diversity-sample")
    sections.append((
        "Diversity sampling: assignment map-side, rank keyed by the cell",
        "Nearest-centroid assignment is the broadcast argmax (max_by "
        "partial-aggregates map-side — the corpus never shuffles on the "
        "K-way score fan-out); sqrt quotas are a slim broadcast table; "
        "the only corpus-size exchange is the per-cell md5 rank, "
        "partitioned by a real key.",
        [f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"partition-less Window operators: 0 (cell-keyed only; "
         f"checked globally below) (expect 0)"],
    ))

    # sitemap tree: bounded lookup-join recursion, XML stays in-stage
    from commoncrawl_spark.operators.links import expand_sitemap_tree

    sm_bodies = docs.select(
        F.concat(F.lit("https://s"), F.col("doc_id").cast("string"),
                 F.lit(".test/sitemap.xml")).alias("url"),
        F.lit("<urlset><url><loc>p</loc></url></urlset>").alias("xml"))
    sm_seeds = sm_bodies.select(F.col("url").alias("sitemap_url"))
    smt = expand_sitemap_tree(sm_seeds, sm_bodies, max_depth=2)
    p = plan_of(smt, label="sitemap-tree")
    sections.append((
        "Sitemap-index recursion: per-level slim joins, bounded depth",
        "Each level is one equi-join of the (url, root, depth) frontier "
        "against the bodies table plus scan-stage regex extraction — "
        "the XML column is consumed in the stage the join produces, "
        "never shuffled onward; the depth bound makes reference cycles "
        "terminate like the graph walks' fixed iterations.",
        [f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # surgical decontamination: broadcast gram keys, shared rebuild
    from commoncrawl_spark.operators.text_dedup import (
        strip_contaminated_spans,
    )

    dcs = strip_contaminated_spans(
        docs.select("doc_id", "text"),
        docs.filter(F.col("doc_id") % 37 == 0).select("doc_id", "text"),
        k=3)
    p = plan_of(dcs, label="decontaminate-strip")
    sections.append((
        "Surgical decontamination: eval grams broadcast, spans cut per row",
        "The benchmark gram set is distinct 32-byte md5 keys semi-joined "
        "onto the positioned corpus gram stream (broadcast under AQE — "
        "eval suites are tiny next to the corpus); flagged starts return "
        "as one slim array per doc and the coverage OR + rebuild are the "
        "per-row zip-shift machinery shared with the ExactSubstr pass.",
        [f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # HTML structural quality: zero-exchange scan-stage gates
    from commoncrawl_spark.functions.text import html_quality_cols

    hq_cols = html_quality_cols(F.col("text"))
    hq = docs.select(
        "doc_id", *[v.alias(k) for k, v in hq_cols.items()])
    p = plan_of(hq, label="html-quality")
    sections.append((
        "HTML quality gates: triage markup without building a tree",
        "Tag/link counts, visible length, anchor mass, link density, "
        "and text-to-tag ratio are pure scan-stage regex expressions — "
        "zero exchanges, so 10^10 fetched pages are triaged in the same "
        "stage that reads them; the MiniSoup DOM is reserved for pages "
        "that pass the gate.",
        [f"exchanges: {p.count('Exchange')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # proximity search: pre-shuffle term filter, per-row chain fold
    from commoncrawl_spark.operators.index import proximity_search

    px = proximity_search(docs.select("doc_id", "text"),
                          ["slow", "hash", "batch"], slop=3)
    p = plan_of(px, label="proximity-search")
    sections.append((
        "Proximity search: only queried terms shuffle, chains fold per row",
        "The corpus token stream is filtered to the query terms BEFORE "
        "the slot fan-out and the (id, slot) exchange — the aggregate "
        "sees rows for three tokens, not the corpus; slot arrays "
        "assemble once per doc (explicitly sorted — collect_list order "
        "is not deterministic) and the existential chain fold is "
        "per-row array arithmetic bounded by occurrence counts.",
        [f"map-side partial aggregates present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # URL analytics: scan-stage features, slim-key trap aggregation
    from commoncrawl_spark.functions.urls import url_features
    from commoncrawl_spark.operators.links import host_trap_stats

    uf_url = _F.concat(_F.lit("https://h"), (_F.col("doc_id") % 9)
                       .cast("string"), _F.lit(".test/p/"),
                       _F.col("doc_id").cast("string"))
    urls_df = docs.select(uf_url.alias("url"))
    feats = url_features(_F.col("url"))
    p = plan_of(urls_df.select(
        "url", *[v.alias(k) for k, v in feats.items()]),
        label="url-features")
    p2 = plan_of(host_trap_stats(urls_df), label="host-traps")
    sections.append((
        "URL analytics: features in the scan stage, traps on slim keys",
        "url_features is pure per-row regex/array expressions — zero "
        "exchanges, the frontier can compute it while reading the "
        "candidate table. host_trap_stats never shuffles the URL "
        "string whole: the distinct and both aggregates run on (host, "
        "template, md5) keys, map-side-partial first.",
        [f"url_features exchanges: {p.count('Exchange')} (expect 0)",
         f"url_features Python operators: {p.count('EvalPython')} "
         f"(expect 0)",
         f"host_trap_stats map-side partial aggregate present: "
         f"{'partial_' in p2} (expect True)",
         f"host_trap_stats Window operators: {p2.count('Window')} "
         f"(expect 0)"],
    ))

    # composed filtering pipeline: broadcast model, no cartesian,
    # no Window anywhere in the four chained gates
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location(
        "entry_audit", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py"))
    _entry = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_entry)
    fp = _entry.queries()["filtering_pipeline"](spark, SF)
    p = plan_of(fp)
    sections.append((
        "Composed filtering pipeline: four gates, all Catalyst",
        "Gopher line rules (scan-stage expressions) -> n-gram "
        "repetition gate (the three slim exchanges audited above) -> "
        "NB model gate (the vocab-sized model broadcast onto the "
        "survivors' tf stream) -> exact dedup (min-id fingerprint "
        "anti-join). Chaining must not introduce what no stage has: "
        "a cartesian, a partition-less window, or Python.",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p} "
         f"(expect True — the NB model + keep-set joins)",
         f"CartesianProduct present: {'CartesianProduct' in p} "
         f"(expect False)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # sequence packing: one PARTITIONED window (per-shard running sum)
    # + a per-row explode over the handful of sequences a doc touches
    from commoncrawl_spark.operators.chunking import pack_sequences

    pk = plan_of(
        pack_sequences(
            docs.select("doc_id", "text",
                        (F.col("doc_id") % 8).cast("int").alias("shard")),
            seq_tokens=256),
        label="sequence packing")
    sections.append((
        "Sequence packing: one partitioned window, integer arithmetic",
        "The per-shard running token sum is a Window PARTITIONED by the "
        "shard key (loader-sized groups by the write_shards contract — "
        "parallel across millions of shards, never the banned global "
        "sort); the sequence fan-out is a per-row explode of the 1-3 "
        "sequences a document intersects; offsets use integer div so "
        "packing stays exact past 2^53 stream tokens.",
        [f"Window operators: {pk.count('Window')} (expect 1, partitioned)",
         f"partition-less Windows: {len(partitionless_windows(pk))} "
         f"(expect 0)",
         f"Exchange count: {pk.count('Exchange')} "
         f"(expect 1: the shard hash partition)",
         f"Python operators: {pk.count('EvalPython')} (expect 0)",
         f"Generate (explode) present: {'Generate' in pk} (expect True)"],
    ))

    # redirect resolution: pointer doubling — ceil(log2(max_hops))
    # self-joins of a three-column mapping, never max_hops sequential
    from commoncrawl_spark.operators.links import resolve_redirects

    rr_edges = docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("u"), (F.col("doc_id") % 211).cast("string"))
        .alias("location"))
    # render with broadcast disabled: at audit scale the mapping fits a
    # broadcast, but at 10^9 edges both sides exceed any threshold —
    # the shape that matters is the non-broadcast strategy
    _prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cuts, rr_full = one_step(
        lambda: resolve_redirects(rr_edges, max_hops=2), "redirect resolution")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _prev_bc)
    rr_round = cuts[-1]
    sections.append((
        "Redirect resolution: pointer doubling on the redirect function",
        "Each round composes the hop mapping with itself (M'(u) = "
        "M(M(u)), hop counts adding), so a 16-hop budget costs 4 "
        "equi-joins of a slim (url, cur, hops) frame instead of 16 "
        "sequential joins; terminals simply miss the left join and "
        "carry forward; materialize.iterate cuts every round, keeping "
        "the plan constant-depth. Loops and over-budget chains fall "
        "out of the final resolved clamp — no cycle detection pass is "
        "needed.",
        [f"doubling round CartesianProduct: "
         f"{'CartesianProduct' in rr_round} (expect False)",
         f"doubling round SortMergeJoin/ShuffledHashJoin on the url "
         f"key (rendered with broadcast disabled — the 10^9-edge "
         f"shape): "
         f"{('SortMergeJoin' in rr_round) or ('ShuffledHashJoin' in rr_round)} "
         f"(expect True)",
         f"doubling round Python operators: {rr_round.count('EvalPython')} "
         f"(expect 0)",
         f"final plan Window operators: {rr_full.count('Window')} "
         f"(expect 0)"],
    ))

    # degree histogram + reciprocity: webgraph structural stats
    from commoncrawl_spark.operators.graph import (
        degree_distribution,
        reciprocal_link_stats,
    )

    gd_edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * 17 + 3) % 41).alias("dst"))
    p = plan_of(degree_distribution(gd_edges), label="degree histogram")
    p2 = plan_of(reciprocal_link_stats(gd_edges), label="link reciprocity")
    sections.append((
        "Degree histogram + reciprocity: graph stats without windows",
        "The log-binned degree histogram is two map-side-partial count "
        "aggregates (per-node degree over the distinct edge list) "
        "re-aggregated onto ~35 bucket rows per direction — the bin "
        "index is bit_width(degree)-1, an exact integer floor(log2), "
        "so no float-log boundary bets and no rank window. "
        "Reciprocity marks edges via one LEFT-SEMI equi-join of the "
        "edge list against its own swap; counts partial-aggregate on "
        "the src key. A 10^10-edge graph moves (node, count) pairs, "
        "never adjacency lists.",
        [f"degree histogram map-side partial aggregate: "
         f"{'partial_' in p} (expect True)",
         f"degree histogram joins: "
         f"{p.count('Join')} (expect 0), Windows: {p.count('Window')} "
         f"(expect 0)",
         f"reciprocity LeftSemi equi-join present: "
         f"{'LeftSemi' in p2} (expect True)",
         f"reciprocity CartesianProduct: {'CartesianProduct' in p2} "
         f"(expect False), Windows: {p2.count('Window')} (expect 0)"],
    ))

    # delta-encoded postings: compression cost as array expressions
    from commoncrawl_spark.operators.index import (
        build_postings,
        delta_encode_postings,
    )

    base = plan_of(build_postings(docs), label="postings build")
    p = plan_of(delta_encode_postings(build_postings(docs)),
                label="delta postings")
    sections.append((
        "Delta-encoded postings: varint costing adds zero exchanges",
        "Gap-encoding each posting list and costing it as LEB128 "
        "varints (Lucene/PISA layout) is pure array arithmetic on top "
        "of the postings build — transform + aggregate over the "
        "already-collected id array, integer bit-width instead of "
        "float log. The exchange count must equal the underlying "
        "postings build's: compression measurement rides the index "
        "shuffle for free.",
        [f"exchanges: delta {p.count('Exchange')} == postings build "
         f"{base.count('Exchange')}: "
         f"{p.count('Exchange') == base.count('Exchange')} (expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)"],
    ))

    # GD logistic regression: per-iteration scan + quantized partial sum;
    # scoring is literal arithmetic in the scan stage
    from commoncrawl_spark.operators.classify import (
        logreg_scores,
        logreg_train,
    )

    lr_feats = docs.select(
        "doc_id",
        (F.col("lang") == "de").cast("double").alias("y"),
        F.round(F.col("n_chars") / 1000.0, 6).alias("x1"),
        F.round(F.length("text") / 500.0, 6).alias("x2"))
    xs_audit = [F.lit(1.0), F.col("x1"), F.col("x2")]
    z0 = F.round(sum(F.lit(0.0) * xj for xj in xs_audit), 6)
    p0 = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z0)), 6)
    grad = plan_of(
        lr_feats.agg(*[F.sum(F.round((p0 - F.col("y")) * xj * 1e6)
                             .cast("long")).alias(f"g{j}")
                       for j, xj in enumerate(xs_audit)],
                     F.count(F.lit(1)).alias("n")),
        label="logreg gradient round")
    wts = logreg_train(lr_feats, ["x1", "x2"], iters=1, lr=4.0)
    score = plan_of(logreg_scores(lr_feats, wts, ["x1", "x2"]),
                    label="logreg scoring")
    sections.append((
        "GD logistic regression: gradient folds map-side, model is "
        "literals",
        "One training iteration is one scan of the feature frame plus "
        "a map-side-partial SUM of 1e-6-quantized LONG gradient "
        "contributions (integer addition is associative — partition "
        "order cannot perturb the oracle-replayed total); the only "
        "driver data is D+1 scalar weights per round. Scoring embeds "
        "the weights as literals: a single codegen'd projection with "
        "zero exchanges — Platt calibration (nb_platt_calibration) "
        "chains this onto the NB margin with the same shapes.",
        [f"gradient round map-side partial aggregate: "
         f"{'partial_' in grad} (expect True)",
         f"gradient round exchanges: {grad.count('Exchange')} "
         f"(expect 1: the scalar final-agg gather)",
         f"scoring exchanges: {score.count('Exchange')} (expect 0)",
         f"scoring Python operators: {score.count('EvalPython')} "
         f"(expect 0)"],
    ))

    # mojibake repair: cp1252 scar table as a codegen replace chain
    from commoncrawl_spark.functions.text import (
        fix_mojibake_col,
        mojibake_count_col,
    )

    p = plan_of(
        docs.select(
            "doc_id",
            mojibake_count_col(F.col("text")).alias("n_scars"),
            fix_mojibake_col(F.col("text")).alias("fixed")),
        label="mojibake repair")
    sections.append((
        "Mojibake repair: scar table burned into the scan stage",
        "The UTF-8-as-cp1252 double-encoding scars (â€™ "
        "and friends) repair through a fixed replace chain compiled "
        "into whole-stage codegen — the scar table is ~30 literal "
        "pairs, so detection and repair cost one projection, no "
        "exchange, no Python, no join against a lookup table.",
        [f"exchanges: {p.count('Exchange')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # retention cohorts: user-period pairs bound the state
    from commoncrawl_spark.operators.analytics import (
        retention_cohorts,
        vocabulary_growth,
    )

    ev_audit = docs.select(
        (F.col("doc_id") % 50).alias("user_id"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"))
    p = plan_of(retention_cohorts(ev_audit), label="retention cohorts")
    sections.append((
        "Retention cohorts: bounded by users x periods, not events",
        "Per-user first period and distinct user-periods are two "
        "map-side-partial aggregates joined on the user key; the "
        "cohort matrix is one slim count over (cohort, periods_since). "
        "No step holds more than one row per user-period, so a "
        "10^12-event log collapses at the map side and the shuffled "
        "state is users x periods regardless of event volume; no "
        "windows anywhere.",
        [f"map-side partial aggregate present: {'partial_' in p} "
         f"(expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"CartesianProduct: {'CartesianProduct' in p} (expect False)"],
    ))

    # Heaps-law vocabulary growth: cutoff join instead of a sort
    p = plan_of(vocabulary_growth(docs, n_points=10),
                label="vocabulary growth")
    sections.append((
        "Vocabulary growth: prefix membership by min-id, no global sort",
        "The Heaps curve needs vocabulary size at 10 corpus prefixes — "
        "the naive shape is a global order-by with a running distinct. "
        "Instead a term joins prefix i iff its min-id first occurrence "
        "is under cutoff i: one distinct (doc, term) pass, one per-term "
        "min aggregate (the only term-keyed exchange), then a theta-"
        "join against the BROADCAST 10-row cutoff frame — a bounded "
        "x10 fan-out. The nested-loop join is legal precisely because "
        "one side is n_points rows, never data.",
        [f"broadcast cutoff join present: "
         f"{'BroadcastNestedLoopJoin' in p or 'BroadcastHashJoin' in p} "
         f"(expect True — 10-row side)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Sort without partition keys feeding a running total: "
         f"{'partial_' in p} partial aggregates present (expect True)"],
    ))

    # URL path-prefix tree: constant fan-out, one count exchange
    from commoncrawl_spark.operators.links import url_tree_rollup

    urls_audit = docs.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example/a/b/c/d")).alias("url"))
    p = plan_of(url_tree_rollup(urls_audit, max_depth=3),
                label="url path-prefix tree")
    sections.append((
        "URL path-prefix tree: bounded fan-out, one exchange",
        "Every URL contributes its root plus at most max_depth path "
        "prefixes via a per-row bounded transform (a constant <= "
        "depth+1 explode, not an unbounded per-segment blowup); the "
        "only exchange is the final (host, prefix) count with its "
        "map-side partial. The crawl-budget rollup over 10^10 URLs "
        "therefore shuffles prefix COUNTS, never URL strings.",
        [f"exchanges: {p.count('Exchange')} (expect 1)",
         f"map-side partial aggregate present: {'partial_' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"Generate (bounded explode) present: {'Generate' in p} "
         f"(expect True)"],
    ))

    # exact containment join: prefix-filtered probe, equi-join candidates
    from commoncrawl_spark.operators.text_dedup import containment_join

    with cut_frames() as cuts:
        containment_join(docs.limit(400), threshold=0.8)
    p = plan_of(cuts[0], label="containment join")
    sections.append((
        "Containment join: asymmetric prefix filter, no all-pairs",
        "Quote/excerpt detection needs containment C(a->b) = |Sa n Sb| "
        "/ |Sa| — Jaccard-blind at 50-shingle quotes inside 5000-"
        "shingle articles. The probe side explodes only its rarest "
        "n - ceil(t*n) + 1 shingles (the prefix-filter bound depends "
        "only on the PROBE side for asymmetric containment); "
        "candidates form on a shingle equi-join with the |Sb| >= t*|Sa| "
        "size gate in the condition, then the exact verify rescores "
        "pairs only. No cartesian is reachable; stopword-shingle "
        "buckets are pruned by rare-first ordering.",
        [f"CartesianProduct: {'CartesianProduct' in p} (expect False)",
         f"equi-join candidate generation (SortMergeJoin/ShuffledHash/"
         f"BroadcastHash): "
         f"{('SortMergeJoin' in p) or ('ShuffledHashJoin' in p) or ('BroadcastHashJoin' in p)} "
         f"(expect True)",
         f"partition-less Windows: {len(partitionless_windows(p))} "
         f"(expect 0)"],
    ))

    # stateless streaming enrichment: the binned range join's batch twin
    ev_pts = docs.select(
        F.col("doc_id").alias("event_id"),
        (F.col("doc_id") % 62500).alias("ip"))
    rng_audit = docs.limit(25).select(
        (F.col("doc_id") * 2500).alias("lo"),
        (F.col("doc_id") * 2500 + 1999).alias("hi"),
        F.col("lang").alias("asn"))
    binned_audit = F.broadcast(rng_audit.select(
        "lo", "hi", "asn",
        F.explode(F.sequence(F.floor(F.col("lo") / 2500),
                             F.floor(F.col("hi") / 2500))).alias("_bin")))
    p = plan_of(
        ev_pts.withColumn("_bin", F.floor(F.col("ip") / 2500))
        .join(binned_audit, "_bin", "left")
        .select("event_id", "ip",
                F.when((F.col("ip") >= F.col("lo"))
                       & (F.col("ip") <= F.col("hi")),
                       F.col("asn")).alias("asn")),
        label="stream enrichment join (batch twin)")
    sections.append((
        "Streaming enrichment: broadcast bin join, zero state store",
        "stream_enrich applies the binned range join inside a real "
        "micro-batch stream: the static range side pre-bins and "
        "BROADCASTS, each micro-batch bins its points scan-side and "
        "hash-joins — stateless, so no state store, no watermark, and "
        "per-batch cost independent of stream history (the scale "
        "contrast with stream_dedup's keyed state). This is the "
        "identical plan the stream executes per batch (pytest "
        "runs the real two-batch stream; this renders the batch twin).",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p} "
         f"(expect True)",
         f"Exchange hashpartitioning on the stream side: "
         f"{p.count('Exchange hashpartitioning')} (expect 0 — points "
         f"never shuffle)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # tokenizer fertility: scan-stage counts, one tiny groupBy
    from commoncrawl_spark.functions.text import (
        bpe_token_count_col,
        token_count_col,
    )

    p = plan_of(
        docs.select(
            "lang",
            token_count_col(F.col("text")).alias("_w"),
            bpe_token_count_col(F.col("text")).alias("_b"),
            F.length("text").alias("_c"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("_w").alias("n_words"),
             F.sum("_b").alias("n_pretokens"),
             F.round(F.sum("_b") / F.sum("_w"), 6).alias("fertility")),
        label="tokenizer fertility")
    sections.append((
        "Tokenizer fertility: ratio-of-sums in one language-keyed pass",
        "Pretokens-per-word by language is corpus-level ratio-of-sums: "
        "token counts evaluate as scan-stage expressions (no "
        "tokenize-explode — counting needs no token stream) and the "
        "only exchange is the ~100-row language groupBy with its "
        "map-side partial. 100 TB of text folds to a handful of rows "
        "before anything moves.",
        [f"exchanges: {p.count('Exchange')} (expect 1)",
         f"map-side partial aggregate present: {'partial_' in p} "
         f"(expect True)",
         f"Generate (explode) present: {'Generate' in p} "
         f"(expect False — counts, not token streams)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # OPIC: pagerank's join shape plus a 1-row dangling-mass broadcast
    from commoncrawl_spark.operators.graph import opic

    opic_edges = docs.select(
        (F.col("doc_id") % 89).alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 1) % 97).alias("dst"))
    p = plan_of(opic(opic_edges, iters=2), label="opic importance")
    sections.append((
        "OPIC online importance: slim cash state, broadcast dangling mass",
        "Each round moves only (node, cash, history) through one "
        "equi-join on the degree-annotated edge list plus one map-side-"
        "partial sum; the dangling-cash recycle is a 1-row aggregate "
        "that rides back via crossJoin(broadcast(...)), so the virtual-"
        "page redistribution costs a scalar, not a shuffle. The interval "
        "cut collapses the final plan to a checkpoint scan — identical "
        "discipline to pagerank/trustrank.",
        [f"post-loop plan collapsed to checkpoint scan: "
         f"{'Scan ExistingRDD' in p}",
         f"CartesianProduct: {'CartesianProduct' in p} (expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # DUST param mining: fixed-width witness-hash shuffle, two slim aggs
    from commoncrawl_spark.operators.dust import (
        mine_irrelevant_params,
        strip_irrelevant_params,
    )

    caps = docs.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 13).cast("string"),
                 F.lit(".dust.test/i/"), (F.col("doc_id") % 5).cast("string"),
                 F.lit("?sort="), (F.col("doc_id") % 3).cast("string"),
                 F.lit("&session=s"),
                 (F.col("doc_id") % 7).cast("string")).alias("url"),
        F.md5(F.concat_ws("-", (F.col("doc_id") % 13).cast("string"),
                          (F.col("doc_id") % 3).cast("string")))
        .alias("digest"))
    rules = mine_irrelevant_params(caps)
    p = plan_of(rules, label="dust param mining")
    sections.append((
        "DUST param mining: md5 witness keys, two map-side-partial aggs",
        "The param explode is scan-stage; the shuffled witness key is "
        "md5(base || other-params) — 32 fixed bytes, never the URL tail "
        "— and the rule verdict is a second slim aggregation on "
        "(host, param). No windows, no self-joins: per-key cost is "
        "bounded by captures-per-witness-group, not corpus size.",
        [f"Generate (scan-stage explode) present: {'Generate' in p} "
         f"(expect True)",
         f"Exchange hashpartitioning: {p.count('Exchange hashpartitioning')} "
         f"(expect 3: Catalyst's two-distinct Expand dedup, witness "
         f"groups, host/param verdicts — every key a fixed-width hash)",
         f"SortMergeJoin/CartesianProduct: "
         f"{('SortMergeJoin' in p) or ('CartesianProduct' in p)} "
         f"(expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))
    p = plan_of(strip_irrelevant_params(caps.select("url"), rules),
                label="dust rule application")
    sections.append((
        "DUST rule application: per-host rule arrays broadcast",
        "Mined rules collapse to ONE array row per host (corpus-tiny) "
        "and broadcast onto the frontier; the URL rebuild is a scan-"
        "stage array filter + array_join — the frontier itself never "
        "shuffles to lose its session-id aliases.",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p} "
         f"(expect True)",
         f"Exchange hashpartitioning: {p.count('Exchange hashpartitioning')} "
         f"(expect 4 — ALL on the rules side below the broadcast: the "
         f"miner's 3 plus the per-host collect_set; the frontier side "
         f"never shuffles)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # shark-search focused frontier: literal-array anchor scoring, one
    # parent join, one argmax agg
    from commoncrawl_spark.operators.focused import focused_frontier

    sp_pages = docs.select(
        F.concat(F.lit("https://f"),
                 (F.col("doc_id") % 11).cast("string"),
                 F.lit(".t/p/"), F.col("doc_id").cast("string")).alias("url"),
        (((F.col("doc_id") * 7) % 10) / 10.0).alias("relevance"))
    sp_links = docs.select(
        F.concat(F.lit("https://f"),
                 (F.col("doc_id") % 11).cast("string"),
                 F.lit(".t/p/"), F.col("doc_id").cast("string"))
        .alias("src_url"),
        F.concat(F.lit("https://c.t/"),
                 ((F.col("doc_id") * F.col("doc_id")) % 37).cast("string"))
        .alias("abs_url"),
        F.lit("data pipelines").alias("anchor"))
    p = plan_of(focused_frontier(sp_pages, sp_links, ["data", "pipelines"]),
                label="focused frontier")
    sections.append((
        "Shark-search focused frontier: scan-stage anchors, argmax agg",
        "Anchor relevance is a scan-stage array_intersect against a "
        "literal term array (the query is tiny by definition); parent "
        "relevance arrives through one equi-join on the slim scores "
        "side; the per-child best-parent pick is a single map-side-"
        "partial max/min_by aggregation — no window ranking anywhere.",
        [f"Window operators: {p.count('Window')} (expect 0)",
         f"Exchange hashpartitioning: {p.count('Exchange hashpartitioning')} "
         f"(expect <= 3: join sides + final argmax)",
         f"CartesianProduct: {'CartesianProduct' in p} (expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # WARC response export: one shard exchange, one sanctioned
    # applyInPandas framing site (same shape as WET/WAT/tar)
    from commoncrawl_spark.sources.warc import warc_segments

    wpages = docs.select(
        F.concat(F.lit("https://wr.t/"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        (F.col("doc_id") % 8).cast("int").alias("shard"))
    p = plan_of(warc_segments(wpages), label="warc response export")
    sections.append((
        "WARC response export: one shard exchange into the framing UDF",
        "The archive sink is the WET/WAT/tar shape: ONE hash exchange "
        "on the shard key, then per-group Python frames the HTTP blocks "
        "into gzip members that never visit the driver. Byte "
        "determinism comes from the in-group (url, payload) sort, "
        "pinned by the round-trip pytest.",
        [f"Exchange hashpartitioning: {p.count('Exchange hashpartitioning')} "
         f"(expect 1: the shard key)",
         f"FlatMapGroupsInPandas (sanctioned framing site): "
         f"{'FlatMapGroupsInPandas' in p} (expect True)"],
    ))

    # AIMD controller: one host exchange, scan-stage fold lambda
    from commoncrawl_spark.operators.schedule import aimd_host_rates

    log = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 17).cast("string"))
        .alias("host"),
        F.col("doc_id").alias("ts"),
        (((F.col("doc_id") * F.col("doc_id")) % 5) != 0).alias("ok"))
    p = plan_of(aimd_host_rates(log), label="aimd host rates")
    sections.append((
        "AIMD politeness controller: one host exchange, scan-stage fold",
        "Each host's outcome replay is a collect_list into ONE hash "
        "exchange, then a pure-Catalyst aggregate lambda over the "
        "sorted (and recent_k-sliced) code array — no window, no "
        "Python, no second shuffle; per-host state is bounded at "
        "recent_k slots regardless of how hot the host's log is.",
        [f"Exchange hashpartitioning: {p.count('Exchange hashpartitioning')} "
         f"(expect 1: the host key)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # URL word scoring: literal-map fold, zero shuffle/join/Python
    from commoncrawl_spark.operators.blocklist import url_word_scores

    p = plan_of(
        url_word_scores(
            docs.select(F.concat(F.lit("https://u"),
                                 F.col("doc_id").cast("string"),
                                 F.lit(".t/casino/free")).alias("url")),
            {"casino": 1.0, "free": 0.25}, strict_terms=["xxx"]),
        label="url word scoring")
    sections.append((
        "URL word scoring: literal-map fold, zero shuffle",
        "The weighted word list compiles into a LITERAL Catalyst map "
        "(curation lists are query-sized) and scoring is a scan-stage "
        "array fold over the URL's tokens plus substring predicates — "
        "no join, no exchange, no Python: the filter rides the frontier "
        "scan for free at any corpus size.",
        [f"Join operators: {p.count('Join')} (expect 0)",
         f"Exchange operators: {p.count('Exchange')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # seed-distance BFS: one relax round = join + min-agg on slim state
    from commoncrawl_spark.operators.graph import seed_distances

    sd_edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 1) % 97).alias("dst"))
    sd_seeds = docs.select((F.col("doc_id") % 3 * 10).alias("node")).limit(3)
    p = plan_of(seed_distances(sd_edges, sd_seeds, max_depth=2),
                label="seed distances")
    sections.append((
        "Seed-distance BFS: ring-sized joins, slim (node, depth) state",
        "Each relax round joins the CURRENT reached set (seed-sized at "
        "round 1, one ring bigger per round) onto the src-partitioned "
        "edge list and min-aggregates — map-side partial, no windows, "
        "no driver data; unreachable nodes are never materialized. "
        "The interval cut collapses the final plan to a "
        "checkpoint scan, the pagerank discipline.",
        [f"post-loop plan collapsed to checkpoint scan: "
         f"{'Scan ExistingRDD' in p}",
         f"CartesianProduct: {'CartesianProduct' in p} (expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # script profiling: pure scan-stage regexp counting
    from commoncrawl_spark.functions.text import script_count_cols

    sc_cols = script_count_cols(F.col("text"))
    p = plan_of(
        docs.select("doc_id",
                    *[v.alias(k) for k, v in sc_cols.items()]),
        label="script profile")
    sections.append((
        "Script profiling: class-removal counts ride the scan",
        "Per-script character counts are length-minus-stripped regexp "
        "expressions and the dominant pick is a comparison fold — all "
        "whole-stage codegen on the scan, no explode, no shuffle, no "
        "Python: the writing-system histogram is free at any corpus "
        "size.",
        [f"Exchange operators: {p.count('Exchange')} (expect 0)",
         f"Generate (explode): {'Generate' in p} (expect False)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # CDC chunking: sanctioned mapInPandas, digest-only shuffle
    from commoncrawl_spark.operators.cdc import (
        cdc_chunk_table,
        chunk_dedup_stats,
    )

    cdc_segs = docs.select(
        F.col("doc_id").alias("segment_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"))
    p = plan_of(
        chunk_dedup_stats(cdc_chunk_table(cdc_segs, avg_bits=8,
                                          min_len=32, max_len=2048)),
        label="cdc dedup ledger")
    sections.append((
        "CDC chunk dedup: bytes stay put, digests shuffle",
        "The Gear chunker is a sanctioned Arrow-batched mapInPandas "
        "(byte-level rolling hash has no Catalyst form); payloads move "
        "zero-copy into the worker ONCE and only slim (id, idx, offset, "
        "length, sha1) rows come back. The dedup rollup shuffles "
        "20-byte digests with map-side partial aggregation — chunk "
        "bytes never cross an exchange.",
        [f"MapInPandas (sanctioned chunker): {'MapInPandas' in p} "
         f"(expect True)",
         f"Exchange hashpartitioning: {p.count('Exchange hashpartitioning')} "
         f"(expect 1: the sha1 digest key)",
         f"MapInPandas count: {p.count('MapInPandas')} (expect 1 — one "
         f"Python site, everything downstream pure Catalyst)"],
    ))

    # consistent-hash sharding: broadcast ring, min_by probe
    from commoncrawl_spark.operators.schedule import (
        consistent_host_shards,
        fetch_timetable,
    )

    hosts_df = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"))
        .alias("host"))
    p = plan_of(consistent_host_shards(hosts_df, 8, vnodes=16),
                label="consistent host shards")
    sections.append((
        "Consistent-hash sharding: config-sized ring broadcasts",
        "The ring (shards x vnodes rows) broadcasts; assignment is one "
        "map-side-partial min_by per host over the broadcast — the "
        "host table shuffles only for its own distinct, and resizing "
        "the fetcher pool moves ~1/(n+1) of hosts (pinned in pytest) "
        "instead of pmod's full reshuffle.",
        [f"BroadcastNestedLoopJoin (ring probe): "
         f"{'BroadcastNestedLoopJoin' in p} (expect True — the ring "
         f"side is config-sized by construction)",
         f"Exchange hashpartitioning: {p.count('Exchange hashpartitioning')} "
         f"(expect <= 2: host distinct + final min_by)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # fetch timetable: host-partitioned window (never partition-less)
    tt_batch = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"))
        .alias("host"),
        F.concat(F.lit("https://u/"), F.col("doc_id").cast("string"))
        .alias("url"))
    tt_rates = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"))
        .alias("host"), F.lit(2.0).alias("rate")).distinct()
    p = plan_of(fetch_timetable(tt_batch, tt_rates),
                label="fetch timetable")
    sections.append((
        "Fetch timetable: host-keyed window, broadcast rates",
        "Dispatch times are a row_number window PARTITIONED BY host "
        "(bounded per-host by the upstream politeness budget — never "
        "partition-less) plus a broadcast join of the slim rate table; "
        "the timetable is a pure function of (batch, rates), so "
        "re-planning reproduces identical times (resume safety).",
        [f"partition-less Windows here: "
         f"{len(partitionless_windows(p))} (expect 0)",
         f"BroadcastHashJoin (rates): {'BroadcastHashJoin' in p} "
         f"(expect True)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # embedding outliers: posexplode centroid + TakeOrdered cut
    from commoncrawl_spark.operators.similarity import embedding_outliers

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = plan_of(embedding_outliers(emb, top_k=10),
                label="embedding outliers")
    sections.append((
        "Embedding outliers: integer centroid, bounded global cut",
        "The centroid is one posexplode exchange of slim (pos, val) "
        "integer sums broadcast back as an array; distances are a "
        "scan-stage zip_with fold over exact int64s; the global "
        "farthest-k cut is orderBy+limit = TakeOrderedAndProject — "
        "only top_k rows cross the exchange, never a partition-less "
        "window sort of the corpus.",
        [f"TakeOrderedAndProject: {'TakeOrderedAndProject' in p} "
         f"(expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # corpus-health family: drift / zipf / diversity / coverage — all
    # token-count aggregations with map-side partials; audit the two
    # with global cuts for the no-window invariant
    from commoncrawl_spark.operators.analytics import (
        term_drift,
        vocab_coverage_stats,
        zipf_fit,
    )

    p = plan_of(term_drift(docs.select("text"), docs.select("text"),
                           top_k=10), label="term drift")
    sections.append((
        "Term drift: slim term merge, bounded top-k cut",
        "Two token-count aggregations meet in a full-outer merge on the "
        "slim term key; totals ride 1-row broadcasts; the drifted-term "
        "cut is orderBy+limit (TakeOrderedAndProject). Per-term "
        "arithmetic only — no corpus-level float sums, so values are "
        "engine-reproducible.",
        [f"TakeOrderedAndProject: {'TakeOrderedAndProject' in p} "
         f"(expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))
    p = plan_of(zipf_fit(docs, max_rank=500), label="zipf fit")
    sections.append((
        "Zipf fit: top-k cut then quantized-integer OLS",
        "Term frequencies cut to max_rank via TakeOrderedAndProject; "
        "rank derivation is a one-row array fold over the BOUNDED "
        "survivors (no window); regression sums are exact int64s, so "
        "slope/intercept/r2 are bit-stable at any partitioning.",
        [f"TakeOrderedAndProject: {'TakeOrderedAndProject' in p} "
         f"(expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))
    p = plan_of(vocab_coverage_stats(docs, group_col="lang"),
                label="vocab coverage")
    sections.append((
        "Vocab coverage: one spectrum pass per group",
        "Good-Turing/Chao1 come from a single (group, term) count "
        "aggregation followed by a group-level rollup — two map-side-"
        "partial exchanges on slim keys, no windows, no Python.",
        [f"Exchange hashpartitioning: {p.count('Exchange hashpartitioning')} "
         f"(expect 2: term counts, then group rollup)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    # --- retrieval-completion wave: QL ranking, RRF fusion, fuzzy ---
    from commoncrawl_spark.operators.fuzzy import (
        fuzzy_term_candidates,
        vocab_histogram,
    )
    from commoncrawl_spark.operators.index import (
        bm25_search,
        ql_search,
        rrf_fuse,
    )

    p = plan_of(ql_search(docs, ["join", "hash", "scan"], top_k=15),
                label="ql search")
    sections.append((
        "Query-likelihood (Dirichlet): bm25's shape, one filtered explode",
        "Document length is a scan-stage size(tokens) (no explode); the "
        "only explode is filtered to the query terms BEFORE its shuffle; "
        "cf and |C| are 1-row/|terms|-row broadcast aggregates; top-k is "
        "the parallel partial top-k with the window-free rank fold.",
        [f"TakeOrderedAndProject: {'TakeOrderedAndProject' in p} "
         f"(expect True)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))
    lex = bm25_search(docs, ["join", "hash", "scan"], top_k=20
                      ).select("doc_id", "rank")
    ql = ql_search(docs, ["join", "hash", "scan"], top_k=20
                   ).select("doc_id", "rank")
    p = plan_of(rrf_fuse([lex, ql], top_k=15), label="rrf fuse")
    sections.append((
        "RRF hybrid fusion: bounded by the input top-k lists",
        "Fusion unions the ALREADY-bounded ranker outputs (<= sum(k_i) "
        "rows), folds contributions per doc in source order, and cuts "
        "with orderBy+limit — fusion cost is independent of corpus "
        "size; the corpus-scale work stays inside the upstream rankers.",
        [f"Window operators: {p.count('Window')} (expect 0)",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))
    p = plan_of(
        fuzzy_term_candidates(
            vocab_histogram(docs), ["joind", "hsh"], spark=spark),
        label="fuzzy terms")
    sections.append((
        "SymSpell fuzzy match: delete-key EQUI join, never a distance "
        "cartesian",
        "Levenshtein is not an equi-key, so the naive form is vocab x "
        "query cartesian. Symmetric delete-1 keys restore a broadcast "
        "equi-join (query side is query-sized); levenshtein runs only "
        "on key-collision survivors. Vocab key expansion is scan-stage "
        "array expressions over the token histogram (vocab-sized, not "
        "corpus-sized); per-term ranking is the bounded array fold.",
        [f"BroadcastHashJoin: {'BroadcastHashJoin' in p} (expect True)",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"BroadcastNestedLoopJoin: {p.count('BroadcastNestedLoopJoin')} "
         f"(expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.index import (
        kwic_snippets,
        rm_expansion,
    )

    p = plan_of(rm_expansion(docs, ["join", "hash"], fb_docs=10),
                label="rm expansion")
    sections.append((
        "RM1 expansion: corpus work = one QL ranking, rest is fb_docs-"
        "bounded",
        "The QL top-k materializes ONCE (lazy localCheckpoint — three "
        "consumers, one corpus scan); feedback docs are pulled with a "
        "broadcast semi-join on the id and tokenized alone; weights, Z "
        "and per-term sums are ordered folds over <= fb_docs rows.",
        [f"BroadcastHashJoin/semi present: {'BroadcastHashJoin' in p}",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))
    p = plan_of(kwic_snippets(docs, ["join", "hash"]),
                label="kwic snippets")
    sections.append((
        "KWIC snippets: scan-stage only",
        "First-hit window extraction is per-row array expressions over "
        "an attribute-bound token split (the chunk_documents lesson) — "
        "zero exchanges, zero Python; composes into the scan above any "
        "retrieval join.",
        [f"Exchange operators: {p.count('Exchange')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.index import bm25f_search

    docs_2f = docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(
            F.split(F.lower("text"), "[^a-z0-9]+"), 1, 8)).alias("title"),
        F.col("text").alias("body"))
    p = plan_of(
        bm25f_search(docs_2f, ["join", "hash"],
                     {"title": 3.0, "body": 1.0}),
        label="bm25f field-weighted")
    sections.append((
        "BM25F: field count multiplies scan work, not shuffle keys",
        "Weighted document length is ONE scan-stage expression over all "
        "fields; the per-field token streams are filtered to the query "
        "terms BEFORE the union's shuffle and the field dimension folds "
        "into conditional-count columns inside the SAME (id, token) "
        "aggregate — shuffle keys stay (id, token) however many fields "
        "exist. Top-k via orderBy+limit, rank via the bounded fold.",
        [f"TakeOrderedAndProject present: {'TakeOrderedAndProject' in p}",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.index import (
        bm25_search_champion,
        build_champion_lists,
        build_doclen,
        build_tf_index,
    )

    from commoncrawl_spark.operators.graph import kcore

    cuts, _ = one_step(lambda: kcore(pr_edges, k=9, max_rounds=1), "k-core")
    kc_round = cuts[-1]
    sections.append((
        "k-core peel: slim edge state, semi-join restriction per round",
        "Each peel round is one map-side-partial degree count plus two "
        "SEMI joins on the slim survivor set — no fat columns move, no "
        "window anywhere, the convergence test is a scalar count asked "
        "at each interval cut, whose job stores the cut. Peeling is "
        "confluent so the bounded-round state is engine-replayable.",
        [f"round LeftSemi joins present: {'LeftSemi' in kc_round} "
         f"(expect True)",
         f"round Window operators: {kc_round.count('Window')} "
         f"(expect 0)",
         f"round CartesianProduct: {kc_round.count('CartesianProduct')} "
         f"(expect 0)",
         f"round Python operators: {kc_round.count('EvalPython')} "
         f"(expect 0)"],
    ))

    from commoncrawl_spark.operators.links import cocitation

    cc_links = docs.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * F.col("doc_id") + 1) % 97).alias("dst"))
    p = plan_of(cocitation(cc_links, max_out=8, min_count=2),
                label="co-citation")
    sections.append((
        "Co-citation: pair fan-out bounded by the hub cut",
        "The per-source pair self-join is quadratic in out-degree, so "
        "sources above max_out distinct targets are semi-join-excluded "
        "BEFORE the join — every surviving source contributes <= "
        "C(max_out, 2) pairs and output stays linear in eligible "
        "sources. The self-join is an equi-join on the source key; df "
        "normalization reuses the same eligible edge set.",
        [f"SortMergeJoin/BroadcastHashJoin present: "
         f"{('SortMergeJoin' in p) or ('BroadcastHashJoin' in p)}",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.fuzzy import corrected_bm25_search

    p = plan_of(corrected_bm25_search(docs, ["joind", "hsh"]),
                label="corrected bm25")
    sections.append((
        "Corrected search: corrections stay distributed",
        "The SymSpell rank-1 corrections never touch the driver — they "
        "replace the literal isin filter with a BROADCAST semi-join on "
        "the token, pruning the corpus tf stream pre-shuffle exactly as "
        "the literal would; everything downstream is the audited BM25 "
        "tail (orderBy+limit, bounded rank fold).",
        [f"BroadcastHashJoin semi present: {'BroadcastHashJoin' in p}",
         f"TakeOrderedAndProject present: {'TakeOrderedAndProject' in p}",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.text_dedup import minhash_contamination

    bench_df = docs.filter(F.col("doc_id") % 41 == 0).select(
        "doc_id", F.expr("substring(text, 1, (n_chars * 4) div 5)")
        .alias("text"))
    p = plan_of(minhash_contamination(docs, bench_df, threshold=0.5),
                label="fuzzy contamination")
    sections.append((
        "Fuzzy contamination: eval side broadcasts, corpus never "
        "shuffles for the probe",
        "Both sides are scan-stage signature folds + a bands-wide "
        "posexplode; the benchmark side broadcasts (eval suites are "
        "10^4-10^6 items), candidates come only from band collisions, "
        "and the estimate is computed and thresholded BEFORE the pair "
        "distinct — only survivor rows cross an exchange.",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p}",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.similarity import mmr_rerank

    mmr_cands = docs.limit(40).select(
        F.col("doc_id").alias("vec_id"),
        (F.col("doc_id") % 10 / 10.0).alias("rel"),
        F.array(F.lit(1.0), (F.col("doc_id") % 7).cast("double"))
        .alias("embedding"))
    p = plan_of(mmr_rerank(mmr_cands, k=5), label="mmr rerank")
    sections.append((
        "MMR re-rank: sequential-in-k over a BOUNDED, guarded input",
        "MMR is inherently greedy-sequential, so it re-ranks the "
        "bounded output of a retrieval stage and REFUSES more than "
        "max_candidates rows (the embedding_neardup guard) instead of "
        "silently folding a corpus into one task. The k-step loop is "
        "ONE aggregate over sequence(1, k) — a constant-size expression "
        "tree evaluated iteratively, never k nested copies — above a "
        "single collected row.",
        [f"Window operators: {p.count('Window')} (expect 0)",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.functions.text import card_counts_col

    p = plan_of(
        docs.select("doc_id", card_counts_col(F.col("text")).alias("c")),
        label="card pii")
    sections.append((
        "Luhn card audit: scan-stage regex + integer fold",
        "Candidate extraction is one regexp_extract_all, separator "
        "strip a per-element replace, and the Luhn checksum an integer "
        "fold over character positions — all whole-stage-codegen "
        "expressions in the scan, zero shuffle, zero Python; composes "
        "with the existing email/IPv4/phone passes.",
        [f"Exchange operators: {p.count('Exchange')} (expect 0)",
         f"Window operators: {p.count('Window')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    champ = build_champion_lists(build_tf_index(docs), m=32,
                                 salt_buckets=8)
    p = plan_of(
        bm25_search_champion(champ, build_doclen(docs), ["join", "hash"]),
        label="champion-pruned bm25")
    sections.append((
        "Champion lists: per-term top-m pruning is salted and KEYED",
        "Static index pruning bounds every queried term to m candidate "
        "rows however long its true posting list. The top-m windows are "
        "partitioned — (token, salt) in stage 1 so a stopword's corpus-"
        "sized list splits across salt_buckets tasks, token-only in "
        "stage 2 over <= salt_buckets*m survivors — so no partition-less "
        "Window exists anywhere in the build+search plan; the final "
        "top-k stays orderBy+limit.",
        [f"TakeOrderedAndProject present: {'TakeOrderedAndProject' in p}",
         "partition-less Window: swept globally below (expect 0)",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.soft404 import (
        detect_soft404,
        soft404_by_probe,
    )

    s404_pages = docs.select(
        F.concat(F.col("source"), F.lit(".x")).alias("host"),
        F.col("text"),
        F.lit("t").alias("title"))
    p = plan_of(detect_soft404(s404_pages), label="soft404 classifier")
    p2 = plan_of(
        soft404_by_probe(
            s404_pages,
            docs.select(F.concat(F.col("source"), F.lit(".x"))
                        .alias("host"),
                        F.col("text").alias("probe_text")).limit(5)),
        label="soft404 probe")
    sections.append((
        "Soft-404 detection: scan-stage classifier + broadcast probe join",
        "The content classifier is pure codegen expressions (composes "
        "free with the extraction pass over 10^10 pages); the "
        "Bar-Yossef probe path joins pages to ONE row per host "
        "(broadcast, |hosts|-sized) and emits exactly |pages| rows — "
        "a per-page Jaccard against its single probe, never a pair "
        "blowup.",
        [f"classifier Exchange operators: {p.count('Exchange')} "
         f"(expect 0)",
         f"classifier Python operators: {p.count('EvalPython')} "
         f"(expect 0)",
         f"probe BroadcastHashJoin present: "
         f"{'BroadcastHashJoin' in p2}",
         f"probe SortMergeJoin present: {'SortMergeJoin' in p2} "
         f"(expect False)"],
    ))

    from commoncrawl_spark.operators.sketches import (
        hist_build,
        hist_merge,
        hist_quantiles,
    )

    ev_audit = spark.read.parquet(f"{SF}/events.parquet")
    hsk = hist_merge(
        hist_build(ev_audit.filter(F.col("event_id") % 2 == 0),
                   ["event_type"], "value"),
        hist_build(ev_audit.filter(F.col("event_id") % 2 == 1),
                   ["event_type"], "value"),
        key_cols=["event_type"])
    p = plan_of(hist_quantiles(hsk, ["event_type"], [0.5, 0.99]),
                label="quantile-histogram sketch")
    sections.append((
        "Quantile-histogram sketch: bounded state, keyed windows only",
        "Per-snapshot build is one map-side-partial groupBy to a "
        "BOUNDED bucket set per key (~90/decade + unit buckets — "
        "independent of row count); merge is bucket-count addition; "
        "the quantile walk windows over the KEY across those bounded "
        "buckets, so estimation cost is sketch-sized, not data-sized. "
        "Zero floating-point in the bucket function (decimal leading-"
        "digit buckets), zero Python anywhere.",
        [f"partition-less windows: {len(partitionless_windows(p))} "
         f"(expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"partial_count (map-side combine) present: "
         f"{'partial_count' in p or 'partial_sum' in p}"],
    ))

    from commoncrawl_spark.operators.schedule import (
        resolve_host_ips,
        select_ip_polite_batch,
    )

    ipf = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string"),
                 F.lit(".ip.x")).alias("host"),
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"))
    p = plan_of(
        select_ip_polite_batch(ipf, resolve_host_ips(ipf, n_ips=8),
                               budget_per_ip=6),
        label="per-ip politeness")
    sections.append((
        "Per-IP politeness: broadcast DNS table, salted keyed top-k",
        "Host->IP resolution is a |hosts|-row broadcast join; the "
        "per-server budget uses the exact salted two-stage pattern, so "
        "a shared-hosting IP with 10^5 vhosts splits across salt "
        "buckets before the global per-IP window — every window keyed "
        "((ip,host), (ip,salt), (ip)); never partition-less.",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p}",
         f"partition-less windows: {len(partitionless_windows(p))} "
         f"(expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.index import bm25_search_blockmax

    p = plan_of(
        bm25_search_blockmax(build_tf_index(docs), build_doclen(docs),
                             ["join", "hash"], champion_m=16,
                             block_span=64),
        label="block-max pruned bm25")
    sections.append((
        "Block-Max pruning: metadata-sized plan, lossless skip",
        "Range blocks build with ONE groupBy (no per-term sequential "
        "numbering — that window over a stopword's posting list would "
        "be the banned partition-less shape); the region plan is "
        "idspace/span rows; theta flows as a 1-row broadcast from the "
        "champion pass, itself built over the QUERY terms' postings "
        "only (no driver collect between stages); skippable regions "
        "are excluded via broadcast ANTI-join, so regions with no "
        "metadata row are conservatively kept. Equality to the "
        "full-index ranking is oracle-checked (blockmax_topk).",
        [f"partition-less windows: {len(partitionless_windows(p))} "
         f"(expect 0)",
         f"TakeOrderedAndProject present: {'TakeOrderedAndProject' in p}",
         f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.schedule import (
        parse_robots_txt,
        robots_compliance_audit,
    )

    rc_log = docs.select(
        F.concat(F.col("source"), F.lit(".rc.x")).alias("host"),
        F.concat(F.lit("https://"), F.col("source"), F.lit(".rc.x/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") * 2).cast("double").alias("fetched_at"))
    rc_rules = parse_robots_txt(docs.select(
        F.concat(F.col("source"), F.lit(".rc.x")).alias("host"),
        F.lit("User-agent: *\nDisallow: /q\nCrawl-delay: 1")
        .alias("robots_txt")).distinct())
    p = plan_of(robots_compliance_audit(rc_log, rc_rules),
                label="robots compliance audit")
    sections.append((
        "Robots compliance audit: broadcast rules, host-keyed lag",
        "The post-hoc fetch-log audit reuses apply_robots' broadcast "
        "|hosts|-row rules join (with_robots_verdict kernel); the "
        "Crawl-delay gap check is one lag window PARTITIONED BY host "
        "and one map-side-partial rollup — fetch-log-sized, no "
        "Python.",
        [f"BroadcastHashJoin present: {'BroadcastHashJoin' in p}",
         f"partition-less windows: {len(partitionless_windows(p))} "
         f"(expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.unigram import (
        seed_vocab as uni_seed,
        train_unigram,
        word_histogram,
    )

    uh = word_histogram(docs)
    p = plan_of(uni_seed(uh, max_piece_len=4, seed_size=20),
                label="unigram seed vocab")
    uni_v = train_unigram(uh, uni_seed(uh, 4, 20), n_iter=1,
                          max_piece_len=4)
    sections.append((
        "Unigram tokenizer: histogram-sized training, bounded model",
        "BPE's word-histogram reduction reused: the corpus is "
        "tokenized once; seeding explodes substrings of DISTINCT "
        "words and takes a bounded global top-k "
        "(TakeOrderedAndProject); each hard-EM round runs Arrow-"
        "batched Viterbi over histogram rows with the vocabulary as "
        "broadcast model state, and the M-step recount is an exact "
        "integer partial aggregate — training output is partition-"
        "independent (pytest-pinned).",
        [f"seed TakeOrderedAndProject present: "
         f"{'TakeOrderedAndProject' in p}",
         f"seed partition-less windows: "
         f"{len(partitionless_windows(p))} (expect 0)",
         f"trained vocab rows (bounded by seed_size + alphabet): "
         f"{uni_v.count()}"],
    ))

    p = plan_of(
        hist_quantiles(
            hist_merge(
                hist_build(ev_audit.filter(F.col("event_id") % 2 == 0),
                           ["event_type"], "value"),
                hist_build(ev_audit.filter(F.col("event_id") % 2 == 1),
                           ["event_type"], "value"),
                key_cols=["event_type"]),
            ["event_type"], [0.5, 0.99]),
        label="size drift quantiles")
    sections.append((
        "Snapshot drift from sketches: history never rescanned",
        "The drift monitor consumes only the bounded per-snapshot "
        "bucket tables — old and new quantiles join on (key, q); "
        "corpus cost is one build pass per snapshot at write time, "
        "amortized across every later drift question.",
        [f"partition-less windows: {len(partitionless_windows(p))} "
         f"(expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)"],
    ))

    from commoncrawl_spark.operators.index import percolate

    perc_qs = spark.createDataFrame(
        [("q0", ["join", "hash"]), ("q1", ["scan"])],
        "query_id string, terms array<string>")
    p = plan_of(percolate(docs, perc_qs), label="percolation")
    sections.append((
        "Percolation: inverted standing-query join, no broadcast CNF",
        "Standing alert queries evaluate as an equi-join of distinct "
        "doc tokens against the slim exploded (term, query_id) table "
        "plus a count-vs-size compare — a 10^6-query standing set "
        "never replicates into every task, and a stopword-only query "
        "still equi-joins (no cartesian path exists).",
        [f"CartesianProduct: {p.count('CartesianProduct')} (expect 0)",
         f"Python operators: {p.count('EvalPython')} (expect 0)",
         f"partial_count (map-side combine) present: "
         f"{'partial_count' in p}"],
    ))

    # reliable-materialization seam (round 5): every lineage cut in the
    # package routes through materialize(), which upgrades to reliable
    # checkpoint() whenever a checkpoint dir is configured — the r4
    # verdict's one remaining cluster-fault-tolerance flaw.
    import tempfile

    from commoncrawl_spark.materialize import (
        checkpoint_dir_configured,
        materialize,
    )

    sites = seam_call_sites()
    toy = spark.range(0, 100).withColumn("k", F.col("id") % 3)
    sandbox = not checkpoint_dir_configured(toy)
    ckd = tempfile.mkdtemp(prefix="ckpt_audit_")
    spark.sparkContext.setCheckpointDir(ckd)
    cluster = checkpoint_dir_configured(toy)
    materialize(toy).count()
    ckfiles = sum(len(fs) for _, _, fs in os.walk(ckd))
    getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
        spark.sparkContext._jvm.scala.Option.empty())
    sections.append((
        "Reliable-materialization seam (executor-loss tolerance)",
        "localCheckpoint stores blocks only on executors with no lineage "
        "left to recompute them: on a real cluster, losing ONE executor "
        "mid-job makes the truncated RDD unrecoverable and fails the job "
        "— fatal for an hour-long PageRank on 1000 executors, where "
        "executor loss is near-certain. Every lineage cut in the package "
        "(graph fixpoint loops, LM model tables, SemDeDup assignment, "
        "Block-Max posting slice, BPE merge loop, cuckoo kick rounds, "
        "text-dedup slim outputs, the crawl round's polite batch, "
        "outcome and discovered links) routes through materialize() "
        "(commoncrawl_spark/materialize.py), which uses reliable "
        "DataFrame.checkpoint whenever sc.setCheckpointDir was called — "
        "the normal cluster setup, paired with "
        "spark.cleaner.referenceTracking.cleanCheckpoints=true — and "
        "falls back to localCheckpoint only in single-JVM sandboxes, "
        "where executor loss already implies job loss. Result identity "
        "across modes is pytest-pinned (tests/test_materialize.py).",
        [f"package call sites routed through the seam: "
         f"{sum(sites.values())}",
         "by module: " + ", ".join(f"{m} {n}" for m, n in sites.items()),
         f"no checkpoint dir -> sandbox localCheckpoint mode: {sandbox}",
         f"checkpoint dir set -> reliable checkpoint mode: {cluster}",
         f"reliable checkpoint wrote files under the dir: "
         f"{ckfiles > 0} ({ckfiles} files)"],
    ))

    # partition-less Window sweep over EVERY plan rendered above —
    # the r02 bm25 scale-killer class, asserted globally so no future
    # operator reintroduces it (quality-buckets' rule, SCALE.md r02:179)
    offenders: list[str] = []
    for label, plan in _AUDITED:
        for ln in partitionless_windows(plan):
            offenders.append(f"{label}: {ln}")
    sections.append((
        "Partition-less Window sweep (every audited plan)",
        "A Window with no partitionBy funnels its ENTIRE input through "
        "one task for the sort — corpus-scale for a common key (the "
        "class VERDICT r02 caught in bm25_search). Every plan rendered "
        "for this report is parsed for Window operators whose spec has "
        "no partition expressions; bounded rank derivations use "
        "orderBy+limit plus an array fold instead.",
        [f"plans audited: {len(_AUDITED)}",
         f"partition-less Window operators found: {len(offenders)} "
         f"(expect 0)"] + offenders,
    ))

    with open(OUT, "w") as fh:
        fh.write(
            "# SCALE.md — physical-plan audit (generated by "
            "`scripts/plan_audit.py`)\n\n"
            "Each 100 TB claim, with the optimizer's own output as "
            "evidence. Regenerate after engine changes; the matching hard "
            "assertions live in `tests/test_plans.py` and each operator "
            "family's own test file (`tests/test_transport.py`, "
            "`tests/test_seen_set.py`, ...). Those on frames the engine "
            "cuts read them through `cut_frames()`: the crawl round in "
            "`tests/test_frontier.py`, the loop steps and triangle counts "
            "in `tests/test_graph.py`, pagination in `tests/test_links.py`, "
            "the text-dedup and PMI frames in `tests/test_text_ops.py`, "
            "`tests/test_plans.py` and `tests/test_analytics.py`, the "
            "recorder itself in `tests/test_materialize.py`.\n"
        )
        for title, why, ev in sections:
            fh.write(f"\n## {title}\n\n{why}\n\n```\n")
            for line in ev:
                fh.write(f"{line}\n")
            fh.write("```\n")
        fh.write(
            "\n## Non-plan scale properties (measured, see BASELINE.md)\n\n"
            "- N->4N scaling efficiency 0.92 (round 2; 0.87 round 1), "
            "interleaved-pairs method with taskset pinning.\n"
            "- Hot-host skew defeat: salted top-k 3.4x over the naive "
            "single-task window on a 16M-row single-host frontier "
            "(skew_report.json).\n"
            "- Bloom-vs-exact membership crossover measured and encoded "
            "as CrawlJob's bloom_threshold (BASELINE.md round-2 section).\n"
            "- Arrow/parquet batch sizes are byte-sized for the fat html "
            "column (session.py, bench.py) — row-count defaults are "
            "byte-bombs at ~50-100 KB per value.\n"
            "- Trained tokenizer models (BPE merge tables, unigram "
            "piece log-probs) ship to executors as SparkContext "
            "broadcasts, not closure captures — one send per executor "
            "instead of one pickle per task at 10^5-10^6-piece vocab "
            "sizes (bpe.bpe_encode_udf, unigram.unigram_encode_udf; "
            "pinned in tests/test_review_fixes.py).\n"
            "- Quadratic-block guards are opt-in where block sizes are "
            "bounded by construction (near_duplicate_pairs "
            "max_block_rows=None default — no extra input pass) and ON "
            "where blocks come from data (semantic_dedup passes 20k "
            "explicitly for its k-means cells).\n"
        )
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
