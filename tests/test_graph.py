"""Connected components over duplicate-pair graphs: min-label fixpoint
vs a pure-Python union-find oracle, transitive chains, string ids,
singleton handling in dedup_clusters."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from commoncrawl_spark.operators.graph import connected_components, dedup_clusters


def _union_find_labels(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min member id
    comp = {}
    for node in list(parent):
        comp.setdefault(find(node), []).append(node)
    out = {}
    for members in comp.values():
        lbl = min(members)
        for m in members:
            out[m] = lbl
    return out


@pytest.mark.spark
def test_components_match_union_find(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _union_find_labels(edges)
    got = {
        r["id"]: r["cluster"]
        for r in connected_components(
            spark.createDataFrame(edges, "a long, b long")
        ).collect()
    }
    assert got == want


@pytest.mark.spark
def test_transitive_chain_is_one_cluster(spark):
    """A chain 0-1-2-...-9 has diameter 9: every node must still land in
    cluster 0 (the greedy pairwise rule can't see this; the fixpoint
    must)."""
    edges = [(i, i + 1) for i in range(9)]
    got = connected_components(
        spark.createDataFrame(edges, "a long, b long")
    ).collect()
    assert {r["id"] for r in got} == set(range(10))
    assert {r["cluster"] for r in got} == {0}


@pytest.mark.spark
def test_long_chain_converges_within_guard(spark):
    """Pointer doubling makes iterations logarithmic in diameter: a
    120-node path (worst case for plain neighbor propagation, which
    would need ~119 rounds) must fully converge inside max_iters=20."""
    edges = [(i, i + 1) for i in range(119)]
    got = connected_components(
        spark.createDataFrame(edges, "a long, b long"), max_iters=20
    ).collect()
    assert {r["cluster"] for r in got} == {0}
    assert len(got) == 120


@pytest.mark.spark
def test_components_string_ids(spark):
    """sha1-hex-style string ids: labels are the lexicographic minimum."""
    edges = [("cc", "bb"), ("bb", "aa"), ("ff", "ee")]
    got = {
        r["id"]: r["cluster"]
        for r in connected_components(
            spark.createDataFrame(edges, "a string, b string")
        ).collect()
    }
    assert got == {"aa": "aa", "bb": "aa", "cc": "aa", "ee": "ee", "ff": "ee"}


@pytest.mark.spark
def test_dedup_clusters_covers_singletons(spark):
    corpus = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "a long, b long")
    got = {r["doc_id"]: r["cluster"] for r in dedup_clusters(pairs, corpus).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 6, 7: 7}
    # transitive keep set: one representative per component
    keep = {d for d, c in got.items() if d == c}
    assert keep == {0, 1, 2, 4, 6, 7}


def _pagerank_py(edges, iters=3, d=0.85):
    """Pure-Python oracle: same GraphX-style recurrence as the operator."""
    from collections import defaultdict

    edges = sorted(set(edges))
    out_deg = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    nodes = sorted({n for e in edges for n in e})
    rank = {n: 1.0 for n in nodes}
    for _ in range(iters):
        mass = defaultdict(float)
        for s, t in edges:
            mass[t] += rank[s] / out_deg[s]
        rank = {n: (1 - d) + d * mass[n] for n in nodes}
    return rank


@pytest.mark.spark
def test_pagerank_matches_python_oracle(spark):
    from commoncrawl_spark.operators.graph import pagerank

    rng = random.Random(7)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=4).collect()}
    want = _pagerank_py(edges, iters=4)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, n


@pytest.mark.spark
def test_pagerank_dangling_and_sink(spark):
    """Chain 1->2->3 with 3 dangling: mass leaks from 3 (GraphX
    semantics), the sink outranks the source."""
    from commoncrawl_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    r = {row["node"]: row["rank"] for row in pagerank(df, iters=10).collect()}
    assert r[3] > r[2] > r[1]
    assert abs(r[1] - 0.15) < 1e-12  # no in-edges: floor rank


@pytest.mark.spark
def test_pagerank_feeds_polite_batch_priority(spark):
    """Composition: rank the frontier's hosts, fetch high-rank hosts'
    URLs first within the politeness budget."""
    from commoncrawl_spark.operators.graph import pagerank
    from commoncrawl_spark.operators.schedule import select_polite_batch

    hostgraph = spark.createDataFrame(
        [("a.test", "hub.test"), ("b.test", "hub.test"), ("hub.test", "a.test")],
        "src string, dst string")
    ranks = pagerank(hostgraph, iters=5)
    frontier = spark.createDataFrame(
        [(f"https://{h}/p{i}", h, f"k{h}{i}")
         for h in ("a.test", "b.test", "hub.test") for i in range(3)],
        "url string, host string, url_sha1 string")
    ranked = (frontier.join(ranks.withColumnRenamed("node", "host"), "host")
              .withColumn("neg_rank", -F.col("rank")))
    batch = select_polite_batch(
        ranked, budget_per_host=1, priority_cols=("neg_rank", "url"))
    rows = {r["host"]: r for r in batch.collect()}
    assert len(rows) == 3  # politeness still caps per host
    # hub.test has 2 in-edges -> highest rank; check it survived with
    # its lexicographically-first url (deterministic tiebreak)
    assert rows["hub.test"]["url"] == "https://hub.test/p0"


def _opic_py(edges, iters=3):
    """Pure-Python oracle: the operator's exact batch-OPIC recurrence —
    cash0 = 1/n, received = sum of cash/outdeg over in-edges, dangling
    cash redistributed uniformly, history accumulates spent cash."""
    from collections import defaultdict

    edges = sorted(set(edges))
    out_deg = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    cash = {v: 1.0 / n for v in nodes}
    hist = {v: 0.0 for v in nodes}
    for _ in range(iters):
        recv = defaultdict(float)
        for s, t in edges:
            recv[t] += cash[s] / out_deg[s]
        dang = sum(c for v, c in cash.items() if out_deg[v] == 0)
        new_cash = {v: recv[v] + dang / n for v in nodes}
        hist = {v: hist[v] + cash[v] for v in nodes}
        cash = new_cash
    return {v: (hist[v] + cash[v]) / (iters + 1) for v in nodes}


@pytest.mark.spark
def test_opic_matches_python_oracle(spark):
    from commoncrawl_spark.operators.graph import opic

    rng = random.Random(11)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(90)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["importance"] for r in opic(df, iters=4).collect()}
    want = _opic_py(edges, iters=4)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v


@pytest.mark.spark
def test_opic_conservation_and_dangling(spark):
    """Chain 1->2->3 (3 dangling): total cash stays exactly 1 per round
    (the virtual page recycles dangling cash — nothing leaks, unlike
    pagerank's GraphX semantics), importance sums to 1, and the sink
    that every path feeds outranks the unreferenced source."""
    from commoncrawl_spark.operators.graph import opic

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    rows = {r["node"]: r for r in opic(df, iters=6).collect()}
    assert abs(sum(r["cash"] for r in rows.values()) - 1.0) < 1e-12
    assert abs(sum(r["importance"] for r in rows.values()) - 1.0) < 1e-12
    assert rows[3]["importance"] > rows[1]["importance"]
    # node 1 still receives the dangling redistribution: never starves
    assert rows[1]["cash"] > 0


@pytest.mark.spark
def test_opic_online_property(spark):
    """The OPIC selling point: the estimate is usable at ANY round count
    — relative order of a clear hub vs a leaf is already right after 2
    rounds and stays right at 8 (no convergence loop needed)."""
    from commoncrawl_spark.operators.graph import opic

    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for it in (2, 8):
        imp = {r["node"]: r["importance"] for r in opic(df, iters=it).collect()}
        assert imp[0] == max(imp.values())
        assert imp[0] > imp[2]


def _bfs_py(edges, seeds, max_depth):
    from collections import deque

    adj = {}
    for s, t in set(edges):
        adj.setdefault(s, []).append(t)
    dist = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        u = dq.popleft()
        if dist[u] >= max_depth:
            continue
        for v in adj.get(u, []):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    return dist


@pytest.mark.spark
def test_seed_distances_match_bfs(spark):
    from commoncrawl_spark.operators.graph import seed_distances

    rng = random.Random(19)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(100)]
    seeds = [0, 7]
    got = {r["node"]: r["depth"] for r in seed_distances(
        spark.createDataFrame(edges, "src long, dst long"),
        spark.createDataFrame([(s,) for s in seeds], "node long"),
        max_depth=5).collect()}
    assert got == _bfs_py(edges, seeds, 5)


@pytest.mark.spark
def test_seed_distances_rings_and_cutoff(spark):
    """Chain 0->1->2->3->4 from seed 0 with max_depth=2: exact rings,
    and nodes beyond the depth budget are ABSENT (not infinity rows)."""
    from commoncrawl_spark.operators.graph import seed_distances

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src long, dst long")
    s = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["depth"]
           for r in seed_distances(e, s, max_depth=2).collect()}
    assert got == {0: 0, 1: 1, 2: 2}


@pytest.mark.spark
def test_seed_distances_shorter_path_wins(spark):
    """Diamond with a shortcut: depth is the MIN over paths, and a seed
    that is also reachable keeps depth 0."""
    from commoncrawl_spark.operators.graph import seed_distances

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3), (3, 0)], "src long, dst long")
    s = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["depth"]
           for r in seed_distances(e, s, max_depth=4).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1}


def _hits_py(edges, iters=3):
    """Pure-Python oracle: the operator's exact recurrence — auth' =
    L1-normalized sum of incoming hubs, hub' = L1-normalized sum of the
    NEW outgoing auths."""
    from collections import defaultdict

    edges = sorted(set(edges))
    nodes = sorted({n for e in edges for n in e})
    hub = {n: 1.0 for n in nodes}
    auth = {n: 1.0 for n in nodes}
    for _ in range(iters):
        mass = defaultdict(float)
        for s, t in edges:
            mass[t] += hub[s]
        tot = sum(mass.values())
        auth = {n: mass[n] / tot for n in nodes}
        hmass = defaultdict(float)
        for s, t in edges:
            hmass[s] += auth[t]
        tot = sum(hmass.values())
        hub = {n: hmass[n] / tot for n in nodes}
    return hub, auth


@pytest.mark.spark
def test_hits_matches_python_oracle(spark):
    from commoncrawl_spark.operators.graph import hits

    rng = random.Random(11)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(100)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["hub"], r["auth"])
           for r in hits(df, iters=3).collect()}
    want_hub, want_auth = _hits_py(edges, iters=3)
    assert set(got) == set(want_hub)
    for n in want_hub:
        assert abs(got[n][0] - want_hub[n]) < 1e-9, n
        assert abs(got[n][1] - want_auth[n]) < 1e-9, n


@pytest.mark.spark
def test_hits_hub_vs_authority_separation(spark):
    """A pure hub (points at everything, nothing points at it) must get
    auth 0 and the top hub score; a pure authority the reverse."""
    from commoncrawl_spark.operators.graph import hits

    df = spark.createDataFrame(
        [("hub", "star"), ("hub", "minor"), ("other", "star")],
        "src string, dst string")
    got = {r["node"]: r for r in hits(df, iters=4).collect()}
    assert got["hub"]["auth"] == 0.0
    assert got["star"]["hub"] == 0.0
    assert got["hub"]["hub"] > got["other"]["hub"]
    assert got["star"]["auth"] > got["minor"]["auth"]
    # L1 invariant: each score family sums to 1
    assert abs(sum(r["hub"] for r in got.values()) - 1.0) < 1e-9
    assert abs(sum(r["auth"] for r in got.values()) - 1.0) < 1e-9


@pytest.mark.spark
def test_cluster_representatives_elects_best_scored(spark):
    from commoncrawl_spark.operators.graph import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9), (10, 9)],
        "doc_id long, cluster long")
    scores = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 5), (9, 4), (10, 4)],
        "doc_id long, score long")
    got = {r["cluster"]: r for r in
           cluster_representatives(clusters, scores).collect()}
    assert got[1]["rep_doc_id"] == 2      # top score, tie -> smaller id
    assert got[1]["n_members"] == 3 and got[1]["rep_score"] == 50
    assert got[7]["rep_doc_id"] == 7 and got[7]["n_members"] == 1
    assert got[9]["rep_doc_id"] == 9      # tie -> smaller id


@pytest.mark.spark
def test_cluster_representatives_plan_keeps_partial_agg(spark):
    from commoncrawl_spark.operators.graph import cluster_representatives

    clusters = spark.createDataFrame(
        [(i, i % 5) for i in range(100)], "doc_id long, cluster long")
    scores = spark.createDataFrame(
        [(i, i * 7 % 13) for i in range(100)], "doc_id long, score long")
    out = cluster_representatives(clusters, scores)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the argmax folds map-side (min_by over (-score, id) since the
    # string-id fix) — a million-member boilerplate cluster must not
    # funnel through one task the way a row_number window would
    assert "Window" not in plan
    assert "partial_min_by" in plan or "partial_minby" in plan.lower()
    assert "EvalPython" not in plan


def test_cluster_representatives_string_ids(spark):
    """String doc ids (URLs, sha1 hex — the normal web-corpus key) must
    elect correctly: argmax(score), ties to the lexicographically
    smallest id — no numeric cast of the id anywhere."""
    from commoncrawl_spark.operators.graph import cluster_representatives

    clusters = spark.createDataFrame(
        [("urlA", "c1"), ("urlB", "c1"), ("urlC", "c1"), ("urlZ", "c2")],
        "doc_id string, cluster string")
    scores = spark.createDataFrame(
        [("urlA", 5.0), ("urlB", 5.0), ("urlC", 1.0), ("urlZ", 2.0)],
        "doc_id string, score double")
    got = {r["cluster"]: r.asDict()
           for r in cluster_representatives(clusters, scores).collect()}
    # tie on 5.0 between urlA and urlB -> smallest id wins
    assert got["c1"]["rep_doc_id"] == "urlA"
    assert got["c1"]["n_members"] == 3 and got["c1"]["rep_score"] == 5.0
    assert got["c2"]["rep_doc_id"] == "urlZ"


def _trustrank_py(edges, seeds, iters=3, d=0.85):
    """Pure-Python oracle: seed-biased teleport, dangling mass leaks."""
    from collections import defaultdict

    edges = sorted(set(edges))
    out_deg = defaultdict(int)
    for s, _ in edges:
        out_deg[s] += 1
    seeds = sorted(set(seeds))
    nodes = sorted({n for e in edges for n in e} | set(seeds))
    bias = {n: (1.0 / len(seeds) if n in seeds else 0.0) for n in nodes}
    trust = dict(bias)
    for _ in range(iters):
        mass = defaultdict(float)
        for s, t in edges:
            mass[t] += trust[s] / out_deg[s]
        trust = {n: (1 - d) * bias[n] + d * mass[n] for n in nodes}
    return trust


@pytest.mark.spark
def test_trustrank_matches_python_oracle(spark):
    from commoncrawl_spark.operators.graph import trustrank

    rng = random.Random(11)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(120)]
    seeds = [0, 5, 10]
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["trust"]
           for r in trustrank(df, sdf, iters=4).collect()}
    want = _trustrank_py(edges, seeds, iters=4)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, n


@pytest.mark.spark
def test_trustrank_demotes_unreachable_farm(spark):
    """Two dense 3-cliques; only clique A holds the seed. The B 'link
    farm' cites itself just as hard but is unreachable from trust —
    every B node must score below every A node."""
    from commoncrawl_spark.operators.graph import trustrank

    clique_a = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a != b]
    clique_b = [(a, b) for a in (7, 8, 9) for b in (7, 8, 9) if a != b]
    df = spark.createDataFrame(clique_a + clique_b, "src long, dst long")
    sdf = spark.createDataFrame([(1,)], "node long")
    t = {r["node"]: r["trust"]
         for r in trustrank(df, sdf, iters=6).collect()}
    assert min(t[1], t[2], t[3]) > max(t[7], t[8], t[9])
    assert max(t[7], t[8], t[9]) == 0.0


@pytest.mark.spark
def test_trustrank_offgraph_seed_keeps_bias(spark):
    """A seed host nobody links yet still holds its teleport share."""
    from commoncrawl_spark.operators.graph import trustrank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    sdf = spark.createDataFrame([(99,)], "node long")
    t = {r["node"]: r["trust"]
         for r in trustrank(df, sdf, iters=3).collect()}
    assert t[99] == pytest.approx(0.15)  # (1-d)*bias, no in-edges
    assert set(t) == {1, 2, 99}


@pytest.mark.spark
def test_spam_mass_flags_link_farm(spark):
    from commoncrawl_spark.operators.graph import spam_mass

    # trusted seed 1 -> 2; link farm 10 <-> 11 unreachable from seeds
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (10, 11), (11, 10)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r for r in spam_mass(edges, seeds).collect()}
    # the farm keeps PageRank but gets zero trust: full spam mass
    assert got[10]["spam_mass"] == 1.0 and got[10]["is_candidate"]
    assert got[11]["spam_mass"] == 1.0 and got[11]["is_candidate"]
    # the trusted pair is endorsed at least as hard by the seeded walk
    assert got[1]["spam_mass"] < 0.5 and not got[1]["is_candidate"]
    assert got[2]["spam_mass"] < 0.5 and not got[2]["is_candidate"]


@pytest.mark.spark
def test_spam_mass_plan_no_python_no_window(spark):
    from commoncrawl_spark.operators.graph import spam_mass

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    out = spam_mass(edges, seeds)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "Window" not in plan


def _harmonic_py(edges, radius):
    """Exact oracle: per-target BFS over REVERSED edges gives d(u, v)
    for every source u within the radius; harmonic = sum 1/d, ball =
    1 + reachable sources (HyperBall counts v itself)."""
    from collections import defaultdict, deque

    edges = sorted(set(edges))
    rev = defaultdict(list)
    nodes = set()
    for s, t in edges:
        if s != t:
            rev[t].append(s)
            nodes.update((s, t))
    out = {}
    for v in nodes:
        dist = {v: 0}
        dq = deque([v])
        while dq:
            x = dq.popleft()
            if dist[x] == radius:
                continue
            for u in rev[x]:
                if u not in dist:
                    dist[u] = dist[x] + 1
                    dq.append(u)
        harm = sum(1.0 / d for u, d in dist.items() if u != v)
        out[v] = (len(dist), harm)
    return out


@pytest.mark.spark
def test_harmonic_matches_python_bfs(spark):
    """HLL balls are exact in the sparse regime at this scale, so the
    sketch walk must reproduce the exact BFS to the last ulp."""
    from commoncrawl_spark.operators.graph import harmonic_centrality

    rng = random.Random(7)
    edges = [(rng.randrange(25), rng.randrange(25)) for _ in range(80)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["ball"], r["harmonic"])
           for r in harmonic_centrality(df, radius=4).collect()}
    want = _harmonic_py(edges, radius=4)
    assert set(got) == set(want)
    for n, (ball, harm) in want.items():
        assert got[n][0] == ball, n
        assert got[n][1] == pytest.approx(harm, abs=1e-9), n


@pytest.mark.spark
def test_harmonic_star_and_unreachable(spark):
    """Leaves -> hub star: the hub collects one full unit per leaf
    (all at distance 1) while the leaves, never linked to, stay at
    zero — the 'cannot be farmed by one dense cluster' property."""
    from commoncrawl_spark.operators.graph import harmonic_centrality

    df = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src long, dst long")
    got = {r["node"]: r for r in harmonic_centrality(df, radius=3).collect()}
    assert got[0]["harmonic"] == pytest.approx(5.0)
    assert got[0]["ball"] == 6
    for leaf in range(1, 6):
        assert got[leaf]["harmonic"] == 0.0 and got[leaf]["ball"] == 1


@pytest.mark.spark
def test_harmonic_radius_clips_path(spark):
    """Directed path 0->1->2->3->4: at radius 2 the tail node sees only
    the two nearest ancestors (1 + 1/2), not the full chain."""
    from commoncrawl_spark.operators.graph import harmonic_centrality

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src long, dst long")
    got = {r["node"]: r for r in harmonic_centrality(df, radius=2).collect()}
    assert got[4]["harmonic"] == pytest.approx(1.5)
    assert got[4]["ball"] == 3
    assert got[0]["harmonic"] == 0.0 and got[0]["ball"] == 1


@pytest.mark.spark
def test_harmonic_plan_no_python_no_window(spark):
    from commoncrawl_spark.operators.graph import harmonic_centrality
    from commoncrawl_spark.plans.explain import plan_string
    from scripts.plan_audit import cut_frames

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with cut_frames() as cuts:
        out = harmonic_centrality(df, radius=1)
    step = plan_string(cuts[-1], "simple")  # the one grow step, uncut
    assert "hll_union_agg" in step
    assert "EvalPython" not in step
    assert "Window" not in step
    # the cut after the last round collapses the returned plan to a
    # checkpoint scan
    assert "Scan ExistingRDD" in plan_string(out, "simple")


def _lpa_py(edges, iters):
    """Deterministic synchronous LPA twin: symmetrize, drop self-loops,
    argmax neighbor label by (count desc, label asc)."""
    from collections import Counter, defaultdict

    sym = set()
    for s, t in edges:
        if s != t:
            sym.add((s, t))
            sym.add((t, s))
    nbrs = defaultdict(list)
    for s, t in sym:
        nbrs[t].append(s)
    labels = {n: n for st in sym for n in st}
    for _ in range(iters):
        labels = {
            v: min(Counter(labels[u] for u in nbrs[v]).items(),
                   key=lambda kv: (-kv[1], kv[0]))[0]
            for v in labels
        }
    return labels


@pytest.mark.spark
def test_lpa_matches_python_oracle(spark):
    from commoncrawl_spark.operators.graph import label_propagation

    rng = random.Random(23)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(90)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for iters in (1, 4):
        got = {r["node"]: r["community"]
               for r in label_propagation(df, iters=iters).collect()}
        assert got == _lpa_py(edges, iters), f"iters {iters}"


@pytest.mark.spark
def test_lpa_separates_cliques(spark):
    """Two 4-cliques joined by ONE bridge edge: each clique floods to
    its own minimum id; the single bridge vote never outnumbers the
    three in-clique votes."""
    from commoncrawl_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    df = spark.createDataFrame(c1 + c2 + [(3, 10)], "src long, dst long")
    got = {r["node"]: r["community"]
           for r in label_propagation(df, iters=5).collect()}
    assert {got[n] for n in range(4)} == {0}
    assert {got[n] for n in range(10, 14)} == {10}


@pytest.mark.spark
def test_lpa_plan_no_python_no_window(spark):
    from commoncrawl_spark.operators.graph import label_propagation
    from commoncrawl_spark.plans.explain import plan_string
    from scripts.plan_audit import cut_frames

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with cut_frames() as cuts:
        out = label_propagation(df, iters=1)
    step = plan_string(cuts[-1], "simple")  # the one vote step, uncut
    assert "min_by" in step
    assert "EvalPython" not in step
    assert "Window" not in step  # the argmax is min_by, not a rank
    assert "Scan ExistingRDD" in plan_string(out, "simple")


@pytest.mark.spark
def test_triangle_counts_k4_pendant(spark):
    """K4 has 4 triangles, 3 per node; the pendant edge raises node 0's
    degree to 4 (clustering 6/12 = 0.5); self-loops, duplicates and the
    reversed 5-6/6-5 pair collapse; triangle-free nodes report 0/0.0."""
    from commoncrawl_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
         (4, 0), (5, 6), (6, 5), (3, 3), (0, 1)],
        "src long, dst long")
    got = {r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
           for r in triangle_counts(edges).collect()}
    assert got[0] == (4, 3, 0.5)
    assert got[1] == (3, 3, 1.0)
    assert got[4] == (1, 0, 0.0)
    assert got[5] == (1, 0, 0.0)


@pytest.mark.spark
def test_triangle_counts_hub_star_is_triangle_free(spark):
    """A pure star (hub + leaves, no leaf-leaf edges) has zero
    triangles everywhere — the orientation must not fabricate wedge
    closures from the hub's edges."""
    from commoncrawl_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 20)], "src long, dst long")
    rows = triangle_counts(edges).collect()
    assert all(r["n_triangles"] == 0 for r in rows)
    assert {r["degree"] for r in rows} == {1, 19}


@pytest.mark.spark
def test_triangle_counts_plan_no_window_no_python(spark):
    from commoncrawl_spark.operators import graph
    from scripts.plan_audit import cut_frames

    edges = spark.createDataFrame(
        [(i % 7, (i * i + 1) % 7) for i in range(40)], "src long, dst long")
    with cut_frames() as cuts:
        graph.triangle_counts(edges)
    plan = cuts[0]._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan   # orientation rank is a struct compare
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.spark
def test_degree_distribution_log_bins(spark):
    """Star hub: out-degree 9 -> bucket 3 ([8,16)); leaves in-degree 1
    -> bucket 0. Duplicate edges collapse first."""
    from commoncrawl_spark.operators.graph import degree_distribution

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 10)] + [(0, 5)], "src long, dst long")
    got = {(r["direction"], r["bucket"]):
           (r["n_nodes"], r["min_degree"], r["max_degree"])
           for r in degree_distribution(edges).collect()}
    assert got[("out", 3)] == (1, 9, 9)
    assert got[("in", 0)] == (9, 1, 1)
    assert set(got) == {("out", 3), ("in", 0)}


@pytest.mark.spark
def test_reciprocal_link_stats(spark):
    """1<->2 reciprocated; 1->3 not; self-loop 4->4 dropped entirely."""
    from commoncrawl_spark.operators.graph import reciprocal_link_stats

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (4, 4)], "src long, dst long")
    got = {r["node"]: (r["n_out"], r["n_reciprocal"], r["reciprocity"])
           for r in reciprocal_link_stats(edges).collect()}
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (1, 1, 1.0)
    assert 4 not in got


# ---------------------------------------------------------------------------
# k-core decomposition
# ---------------------------------------------------------------------------


def _kcore_oracle(edges, k):
    """Peel to the fixed point on a symmetrized simple graph."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        weak = [n for n, nb in adj.items() if len(nb) < k]
        changed = bool(weak)
        for n in weak:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(nb) for n, nb in adj.items()}


@pytest.mark.spark
def test_kcore_triangle_with_tail(spark):
    from commoncrawl_spark.operators.graph import kcore

    # triangle 1-2-3 plus a tail 3-4-5: the 2-core is the triangle
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["deg"] for r in kcore(df, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    assert got == _kcore_oracle(edges, 2)


@pytest.mark.spark
def test_kcore_cascade_peel(spark):
    from commoncrawl_spark.operators.graph import kcore

    # chain 1-2-3-4: every node eventually peels at k=2 (cascade:
    # endpoints fall first, then the middle) — needs >1 round
    edges = [(1, 2), (2, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    assert kcore(df, k=2).count() == 0


@pytest.mark.spark
def test_kcore_matches_oracle_on_random_graph(spark):
    from commoncrawl_spark.operators.graph import kcore

    # deterministic pseudo-random graph, same family as the query
    edges = [((i * i + 1) % 37, (i * 17 + 3) % 37) for i in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 3, 4):
        got = {r["node"]: r["deg"] for r in kcore(df, k=k).collect()}
        assert got == _kcore_oracle(edges, k), f"k={k}"


@pytest.mark.spark
def test_kcore_self_loops_and_duplicates_ignored(spark):
    from commoncrawl_spark.operators.graph import kcore

    edges = [(1, 1), (1, 2), (2, 1), (1, 2), (2, 3), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["deg"] for r in kcore(df, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


@pytest.mark.spark
def test_kcore_bounded_rounds_state(spark):
    from commoncrawl_spark.operators.graph import kcore

    # chain of 6 at k=2 with max_rounds=1: one peel round removes the
    # two endpoints, the final deg>=k cut then removes 2 and 5 as well
    # (their degree is 1 AFTER the restriction) — the round-R state an
    # unrolled oracle computes
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["deg"]
           for r in kcore(df, k=2, max_rounds=1).collect()}
    assert got == {3: 2, 4: 2}
