"""Host-rank power iteration: exact agreement with an in-process
integer-arithmetic reference, plus ranking sanity on shaped graphs."""

from __future__ import annotations

import hashlib

from distributed_crawl_spark.functions import graph as G


def _ref_host_rank(edges, iters, d=850):
    """Pure-python twin of the quantized update rule."""
    nodes = sorted({h for e in edges for h in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    pr = {h: G.RANK_UNIT for h in nodes}
    for _ in range(iters):
        s = {h: 0 for h in nodes}
        for a, b in edges:
            s[b] += pr[a] // outdeg[a]
        pr = {h: (1000 - d) * 1000 + d * s[h] // 1000 for h in nodes}
    return pr


def _graph(n_nodes=23, n_edges=300):
    """Deterministic hash-shaped multigraph."""
    edges = []
    for i in range(n_edges):
        h = hashlib.md5(f"e{i}".encode()).hexdigest()
        edges.append((f"h{int(h[:6], 16) % n_nodes}",
                      f"h{int(h[6:12], 16) % n_nodes}"))
    return edges


def test_host_rank_matches_integer_reference(spark):
    edges = _graph()
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r.host: r.pr_x1e6 for r in G.host_rank(df, iters=4).collect()}
    want = _ref_host_rank(edges, iters=4)
    assert got == want


def test_host_rank_star_center_wins(spark):
    # 10 leaves all link to the hub; hub links to one leaf
    edges = [(f"l{i}", "hub") for i in range(10)] + [("hub", "l0")]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    pr = {r.host: r.pr_x1e6 for r in G.host_rank(df, iters=5).collect()}
    assert pr["hub"] == max(pr.values())
    # l0 receives the hub's mass; other leaves only the base
    assert pr["l0"] > pr["l1"] == pr["l9"]


def test_host_rank_layout_invariant(spark):
    edges = _graph(n_nodes=11, n_edges=80)
    a = {r.host: r.pr_x1e6 for r in G.host_rank(
        spark.createDataFrame(edges, "src STRING, dst STRING"), iters=3
    ).collect()}
    b = {r.host: r.pr_x1e6 for r in G.host_rank(
        spark.createDataFrame(edges[::-1], "src STRING, dst STRING")
        .repartition(7), iters=3
    ).collect()}
    assert a == b  # integer quantization: no float-order sensitivity


def test_rank_budgets_proportional_with_floor(spark):
    edges = [(f"l{i}", "hub") for i in range(10)] + [("hub", "l0")]
    ranks = G.host_rank(
        spark.createDataFrame(edges, "src STRING, dst STRING"), iters=5
    )
    budgets = {r.host: r.budget for r in
               G.rank_budgets(ranks, total_budget=1000, min_budget=2).collect()}
    pr = {r.host: r.pr_x1e6 for r in ranks.collect()}
    tot = sum(pr.values())
    for h, b in budgets.items():
        assert b == max(2, 1000 * pr[h] // tot)
    assert budgets["hub"] == max(budgets.values()) > budgets["l1"]
    assert min(budgets.values()) >= 2          # no starvation


def test_rank_budgets_drive_politeness_window(spark):
    """The full priority-queue composition: host_rank -> rank_budgets ->
    rank_frontier(host_budgets=...) gives the high-rank host more
    selected rows in one round, FIFO preserved within each host."""
    from distributed_crawl_spark.operators.politeness import (
        rank_frontier, split_ranked)

    # leaves all cite the hub; the hub's mass fans BACK OUT across all
    # ten leaves, so the hub keeps the dominant rank
    edges = ([(f"l{i}", "big") for i in range(10)]
             + [("big", f"l{i}") for i in range(10)])
    ranks = G.host_rank(
        spark.createDataFrame(edges, "src STRING, dst STRING"), iters=5
    )
    budgets = G.rank_budgets(ranks, total_budget=12, min_budget=1)
    frontier = spark.createDataFrame(
        [(h, f"http://{h}/p{i}", 0, 0, i)
         for h in ("big", "l1") for i in range(20)],
        "host STRING, url STRING, level INT, attempt INT, seq LONG",
    )
    selected, deferred = split_ranked(
        rank_frontier(frontier, host_budget=3, host_budgets=budgets)
    )
    sel = {}
    for r in selected.collect():
        sel.setdefault(r.host, []).append(r.seq)
    assert len(sel["big"]) > len(sel["l1"]) >= 1
    assert sorted(sel["big"]) == sel["big"] == list(range(len(sel["big"])))
    assert selected.count() + deferred.count() == 40


def _ref_hits(edges, iters):
    """Pure-python twin of hits_scores' quantized update."""
    nodes = sorted({h for e in edges for h in e})
    hub = {h: G.RANK_UNIT for h in nodes}
    auth = {h: 0 for h in nodes}

    def renorm(d):
        mx = max(d.values())
        return {h: (v * G.RANK_UNIT) // mx if mx > 0 else 0
                for h, v in d.items()}

    for _ in range(iters):
        auth = {h: 0 for h in nodes}
        for s, t in edges:
            auth[t] += hub[s]
        auth = renorm(auth)
        hub = {h: 0 for h in nodes}
        for s, t in edges:
            hub[s] += auth[t]
        hub = renorm(hub)
    return hub, auth


def test_hits_matches_integer_reference(spark):
    edges = _graph(n_nodes=19, n_edges=240)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.host: (r.hub_x1e6, r.auth_x1e6)
           for r in G.hits_scores(df, iters=3).collect()}
    hub, auth = _ref_hits(edges, 3)
    assert got == {h: (hub[h], auth[h]) for h in hub}


def test_hits_star_roles(spark):
    """A pure out-star: the center is the best hub (max units), the
    leaves share the authority mass, and the center has authority 0."""
    edges = [("hub0", f"leaf{i}") for i in range(6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.host: (r.hub_x1e6, r.auth_x1e6)
           for r in G.hits_scores(df, iters=2).collect()}
    assert got["hub0"][0] == G.RANK_UNIT and got["hub0"][1] == 0
    for i in range(6):
        assert got[f"leaf{i}"][0] == 0
        assert got[f"leaf{i}"][1] == G.RANK_UNIT


def test_hits_layout_invariant(spark):
    edges = _graph(n_nodes=13, n_edges=150)
    df = spark.createDataFrame(edges, ["src", "dst"])
    a = sorted(map(tuple, G.hits_scores(df, iters=2).collect()))
    b = sorted(map(tuple, G.hits_scores(df.repartition(9), iters=2).collect()))
    assert a == b


# ---- focused crawling -------------------------------------------------------


def test_focused_scores_integer_weighting(spark):
    """rel_q = sum(n * distinct-topic-term hits) — exact vs a hand
    computation, repeated tokens in one anchor count once, unmatched
    targets drop out."""
    census = spark.createDataFrame(
        [
            ("https://t/a", "llm training data", 4),   # 2 hits * 4
            ("https://t/a", "cat pictures", 9),        # 0 hits
            ("https://t/b", "data data data", 2),      # 1 hit  * 2
            ("https://t/b", "training", 1),            # 1 hit  * 1
            ("https://t/c", "totally unrelated", 7),   # drops out
        ],
        ["target_url", "anchor", "n"],
    )
    got = {r.target_url: r.rel_q
           for r in G.focused_scores(census, ["training", "data"]).collect()}
    assert got == {"https://t/a": 8, "https://t/b": 3}


def test_focused_frontier_drains_most_relevant_first(spark):
    """Scheduler composition: focused_frontier rows run through the SAME
    politeness window as organic crawling, and within one host's budget
    the highest-relevance targets win the slots."""
    from distributed_crawl_spark.operators.politeness import (
        rank_frontier, split_ranked,
    )

    census = spark.createDataFrame(
        [(f"https://h.test/p{i}", "spark tuning guide"[: 5 + i], i + 1)
         for i in range(5)] + [("https://h.test/p9", "spark", 100)],
        ["target_url", "anchor", "n"],
    )
    scores = G.focused_scores(census, ["spark"])
    frontier = G.focused_frontier(scores)
    rows = {r.url: r for r in frontier.collect()}
    # every emitted row is schema-complete and marked scheduler-injected
    assert all(r.discovered_round == -2 and r.host == "h.test"
               for r in rows.values())
    assert rows["https://h.test/p9"].seq == -100

    selected, deferred = split_ranked(rank_frontier(frontier, host_budget=2))
    picked = {r.url for r in selected.collect()}
    # budget 2 on one host: the two most anchor-endorsed targets win
    # (p9 rel=100, p4 rel=5 — every pI anchor keeps the 'spark' token)
    assert picked == {"https://h.test/p9", "https://h.test/p4"}
    assert deferred.count() == frontier.count() - 2


def _ref_spam_signals(edges, min_inlinks=10, src_bp=8000, anchor_bp=8000):
    """Brute-force python twin of link_spam_signals (floor basis points)."""
    by_src, by_anchor = {}, {}
    for s, d, a in edges:
        by_src.setdefault(d, {}).setdefault(s, 0)
        by_src[d][s] += 1
        by_anchor.setdefault(d, {}).setdefault(a, 0)
        by_anchor[d][a] += 1
    out = {}
    for d, srcs in by_src.items():
        inl = sum(srcs.values())
        ssh = 10000 * max(srcs.values()) // inl
        ash = 10000 * max(by_anchor[d].values()) // inl
        out[d] = (inl, len(srcs), ssh, ash,
                  inl >= min_inlinks and (ssh >= src_bp or ash >= anchor_bp))
    return out


def _spam_graph():
    """Hash-shaped organic edges + one planted farm target."""
    edges = []
    for i in range(400):
        h = hashlib.md5(f"s{i}".encode()).hexdigest()
        edges.append((f"h{int(h[:6], 16) % 29}",
                      f"h{int(h[6:12], 16) % 11}",
                      f"a{int(h[12:18], 16) % 7}"))
    # farm: 2 sources, 1 anchor, 30 in-links -> both shares high
    for i in range(30):
        edges.append((f"farm{i % 2}", "spamtarget", "buy cheap widgets"))
    return edges


def test_link_spam_signals_matches_bruteforce(spark):
    edges = _spam_graph()
    df = spark.createDataFrame(edges, "src STRING, dst STRING, anchor STRING")
    got = {
        r.host: (r.inlinks, r.src_hosts, r.top_src_share_bp,
                 r.top_anchor_share_bp, r.spam_flag)
        for r in G.link_spam_signals(df).collect()
    }
    assert got == _ref_spam_signals(edges)
    assert got["spamtarget"][4] is True
    # organic hosts spread 29 sources x 7 anchors: none flagged
    assert not any(v[4] for h, v in got.items() if h != "spamtarget")


def test_link_spam_signals_min_inlinks_gate(spark):
    # concentrated but tiny: 3 in-links from one source, one anchor
    edges = [("s", "tiny", "x")] * 3
    df = spark.createDataFrame(edges, "src STRING, dst STRING, anchor STRING")
    row = G.link_spam_signals(df, min_inlinks=10).collect()[0]
    assert (row.top_src_share_bp, row.top_anchor_share_bp) == (10000, 10000)
    assert row.spam_flag is False  # under the in-link floor
    row = G.link_spam_signals(df, min_inlinks=3).collect()[0]
    assert row.spam_flag is True


def _ref_trust_rank(edges, seeds, iters, d=850, scale=1):
    """Pure-python twin of the seed-biased quantized update rule
    (scale = the |hosts|//|seeds| teleport factor of scaled_teleport)."""
    nodes = sorted({h for e in edges for h in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    seeds = set(seeds)
    t = {h: (G.RANK_UNIT * scale if h in seeds else 0) for h in nodes}
    for _ in range(iters):
        s = {h: 0 for h in nodes}
        for a, b in edges:
            s[b] += t[a] // outdeg[a]
        t = {h: ((1000 - d) * 1000 * scale if h in seeds else 0)
             + d * s[h] // 1000
             for h in nodes}
    return t


def test_trust_rank_matches_integer_reference(spark):
    edges = _graph()
    seeds = ["h0", "h3", "h7"]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r.host: r.trust_x1e6
           for r in G.trust_rank(df, seeds, iters=4).collect()}
    assert got == _ref_trust_rank(edges, seeds, iters=4)


def test_trust_rank_zero_beyond_seed_reach(spark):
    # chain: seed -> a -> b, plus an island c -> d no seed can reach
    edges = [("seed", "a"), ("a", "b"), ("c", "d")]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    t = {r.host: r.trust_x1e6
         for r in G.trust_rank(df, ["seed"], iters=3).collect()}
    assert t["c"] == 0 and t["d"] == 0      # unreachable from the seed
    assert t["seed"] > t["a"] > t["b"] > 0  # decays with distance


def test_trust_rank_vs_host_rank_spam_shape(spark):
    # a 10-node farm linking to itself + its target outranks an honest
    # host on plain PageRank but takes ZERO trust from the seed side
    edges = [("seed", "honest")]
    farm = [f"f{i}" for i in range(10)]
    for a in farm:
        for b in farm:
            if a != b:
                edges.append((a, b))
        edges.append((a, "spamtarget"))
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    pr = {r.host: r.pr_x1e6 for r in G.host_rank(df, iters=4).collect()}
    t = {r.host: r.trust_x1e6
         for r in G.trust_rank(df, ["seed"], iters=4).collect()}
    assert pr["spamtarget"] > pr["honest"]  # PageRank is fooled
    assert t["spamtarget"] == 0 and t["honest"] > 0  # trust is not


def _ref_spam_mass(edges, seeds, iters, d=850):
    """Composed python twin: host_rank + SCALED trust_rank + clamp
    (Spark's `div` truncates toward zero; clamping first keeps the two
    floor conventions agreeing on negatives)."""
    nodes = {h for e in edges for h in e}
    scale = max(1, len(nodes) // len(set(seeds)))
    pr = _ref_host_rank(edges, iters, d)
    t = {h: v * 1 for h, v in _ref_trust_rank(edges, seeds, iters, d,
                                              scale=scale).items()}
    return {h: (pr[h], t[h],
                max(0, 10000 * (pr[h] - t[h]) // pr[h])
                if pr[h] - t[h] >= 0 else 0)
            for h in pr}


def test_spam_mass_matches_composed_reference(spark):
    edges = _graph()
    seeds = ["h0", "h3"]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r.host: (r.pr_x1e6, r.trust_x1e6, r.spam_mass_bp)
           for r in G.spam_mass(df, seeds, iters=4).collect()}
    assert got == _ref_spam_mass(edges, seeds, iters=4)
    assert all(0 <= m <= 10000 for _, _, m in got.values())


def test_spam_mass_farm_scores_high_honest_low(spark):
    edges = [("seed", "honest"), ("honest", "seed")]
    farm = [f"f{i}" for i in range(10)]
    for a in farm:
        for b in farm:
            if a != b:
                edges.append((a, b))
        edges.append((a, "spamtarget"))
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    m = {r.host: r.spam_mass_bp
         for r in G.spam_mass(df, ["seed"], iters=4).collect()}
    assert m["spamtarget"] == 10000  # zero trust: pure spam mass
    assert all(m[f] == 10000 for f in farm)
    assert m["honest"] == 0          # seed-backed: scaled trust >= pr
    assert m["seed"] == 0


def test_rank_budgets_accepts_trust_column(spark):
    edges = [("seed", "a"), ("a", "b"), ("c", "d")]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    tr = G.trust_rank(df, ["seed"], iters=3)
    b = {r.host: r.budget
         for r in G.rank_budgets(tr, 100, min_budget=1,
                                 rank_col="trust_x1e6").collect()}
    assert b["c"] == 1 and b["d"] == 1   # zero trust -> starved to floor
    assert b["seed"] > b["a"] > b["b"] >= 1


def _ref_reciprocal(edges):
    pairs = {(a, b) for a, b in edges if a != b}
    out = {}
    for a, b in pairs:
        c = out.setdefault(a, [0, 0])
        c[0] += 1
        if (b, a) in pairs:
            c[1] += 1
    return {a: (o, r, 10000 * r // o) for a, (o, r) in out.items()}


def test_reciprocal_link_rate_matches_bruteforce(spark):
    edges = _graph(n_nodes=17, n_edges=200)
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r.host: (r.out_hosts, r.reciprocal_hosts, r.reciprocal_bp)
           for r in G.reciprocal_link_rate(df).collect()}
    assert got == _ref_reciprocal(edges)


def test_reciprocal_link_rate_ring_vs_organic(spark):
    # a 3-host mutual ring + a one-way chain; parallel edges and a
    # self-loop must not inflate anything
    ring = ["r0", "r1", "r2"]
    edges = [(a, b) for a in ring for b in ring if a != b]
    edges += [("o0", "o1"), ("o1", "o2"), ("o0", "o1"), ("o2", "o2")]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r.host: (r.out_hosts, r.reciprocal_bp)
           for r in G.reciprocal_link_rate(df).collect()}
    for h in ring:
        assert got[h] == (2, 10000)     # full exchange ring
    assert got["o0"] == (1, 0) and got["o1"] == (1, 0)
    assert "o2" not in got              # only a self-loop out-edge


# --- label-propagation communities -------------------------------------------

def _ref_lpa(edges, iters):
    """Pure-python twin of the synchronous self-inclusive
    min-tie-break update."""
    from collections import Counter

    und = {(a, b) for a, b in edges if a != b}
    und |= {(b, a) for a, b in und}
    nodes = sorted({h for e in edges for h in e})
    nbrs = {h: sorted({d for s, d in und if s == h}) for h in nodes}
    labels = {h: h for h in nodes}
    for _ in range(iters):
        new = {}
        for h in nodes:
            cnt = Counter(labels[d] for d in nbrs[h])
            cnt[labels[h]] += 1  # the self vote
            new[h] = min(cnt, key=lambda l: (-cnt[l], l))
        labels = new
    return labels


def test_label_communities_matches_reference(spark):
    edges = _graph()
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r.host: r.community
           for r in G.label_communities(df, iters=4).collect()}
    assert got == _ref_lpa(edges, iters=4)


def test_label_communities_splits_bridged_cliques(spark):
    """Two 5-cliques joined by ONE bridge: connected components see one
    blob; the majority vote keeps two communities."""
    a = [f"a{i}" for i in range(5)]
    b = [f"b{i}" for i in range(5)]
    edges = [(x, y) for x in a for y in a if x < y]
    edges += [(x, y) for x in b for y in b if x < y]
    edges.append(("a0", "b0"))  # the bridge
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    got = {r.host: r.community
           for r in G.label_communities(df, iters=4).collect()}
    assert got == _ref_lpa(edges, iters=4)
    assert len({got[h] for h in a} | {got[h] for h in b}) == 2
    assert {got[h] for h in a}.isdisjoint({got[h] for h in b})


def test_label_communities_self_loop_only_keeps_label(spark):
    """The self vote keeps isolated/self-loop hosts labeled, and
    CONVERGES the mutual pair (pure synchronous LPA oscillates x↔y
    forever; the tie self-vs-neighbor breaks to the min label)."""
    df = spark.createDataFrame(
        [("s", "s"), ("x", "y")], "src STRING, dst STRING"
    )
    got = {r.host: r.community
           for r in G.label_communities(df, iters=3).collect()}
    assert got == _ref_lpa([("s", "s"), ("x", "y")], iters=3)
    assert got["s"] == "s"
    assert got["x"] == "x" and got["y"] == "x"  # min label wins the pair


def test_label_communities_layout_invariant(spark):
    edges = _graph(n_nodes=17, n_edges=120)
    df1 = spark.createDataFrame(edges, "src STRING, dst STRING")
    df64 = df1.repartition(64)
    r1 = {r.host: r.community
          for r in G.label_communities(df1, iters=4).collect()}
    r64 = {r.host: r.community
           for r in G.label_communities(df64, iters=4).collect()}
    assert r1 == r64


def _py_degree_census(edges):
    hosts = {}
    for s, d in edges:
        hosts.setdefault(s, [0, set(), 0, set()])
        hosts.setdefault(d, [0, set(), 0, set()])
        hosts[s][0] += 1
        hosts[s][1].add(d)
        hosts[d][2] += 1
        hosts[d][3].add(s)
    return {
        h: (oe, len(oh), ie, len(ih))
        for h, (oe, oh, ie, ih) in hosts.items()
    }


def test_degree_census_matches_python(spark):
    import random

    rng = random.Random(7)
    edges = [(f"h{rng.randrange(20)}", f"h{rng.randrange(20)}")
             for _ in range(400)]
    # a pure sink and a pure source
    edges += [("src_only", "h0"), ("h1", "sink_only")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["host"]: (r["out_edges"], r["out_hosts"],
                       r["in_edges"], r["in_hosts"])
           for r in G.degree_census(df).collect()}
    assert got == _py_degree_census(edges)
    assert got["src_only"][2] == 0 and got["sink_only"][0] == 0


def test_degree_histogram_log2_buckets(spark):
    # degrees 1,2,3,4,8 -> buckets 0,1,1,2,3; a 0-degree host -> -1
    edges = (
        [("a", f"t{i}") for i in range(1)]
        + [("b", f"t{i}") for i in range(2)]
        + [("c", f"t{i}") for i in range(3)]
        + [("d", f"t{i}") for i in range(4)]
        + [("e", f"t{i}") for i in range(8)]
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    hist = {(r["measure"], r["bucket"]): r["n_hosts"]
            for r in G.degree_histogram(G.degree_census(df)).collect()}
    assert hist[("out_edges", 0)] == 1          # a
    assert hist[("out_edges", 1)] == 2          # b, c
    assert hist[("out_edges", 2)] == 1          # d
    assert hist[("out_edges", 3)] == 1          # e
    # the t* targets have out degree 0
    assert hist[("out_edges", -1)] == 8
    # every t* has in_edges in bucket corresponding to its fan-in
    assert hist[("in_edges", -1)] == 5          # a..e never targets


def test_contract_edges_merges_aliases(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "b2"), ("b2", "c"), ("b", "b2"), ("x", "a")],
        "src string, dst string",
    )
    # b2 is an alias of b
    mapping = spark.createDataFrame(
        [("b2", "b")], "src string, final string"
    )
    got = {(r["src"], r["dst"]): r["weight"]
           for r in G.contract_edges(edges, mapping).collect()}
    # a->b and a->b2 merge with weight 2; b->b2 becomes a self-loop and
    # is dropped; b2->c follows the alias
    assert got == {("a", "b"): 2, ("b", "c"): 1, ("x", "a"): 1}
    # keep_self_loops path: the alias ring edge survives as b->b
    kept = {(r["src"], r["dst"]): r["weight"]
            for r in G.contract_edges(edges, mapping,
                                      drop_self_loops=False).collect()}
    assert kept[("b", "b")] == 1


def test_domain_rollup_site_view(spark):
    edges = [
        ("a.spam.test", "victim.test"),
        ("b.spam.test", "victim.test"),
        ("c.spam.test", "victim.test"),
        ("victim.test", "other.test"),
        ("localhost", "victim.test"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["domain"]: r for r in
           G.domain_rollup(G.degree_census(df)).collect()}
    # the three minted subdomains collapse into one site
    spam = got["spam.test"]
    assert spam["n_hosts"] == 3 and spam["out_edges"] == 3
    assert spam["in_edges"] == 0
    v = got["victim.test"]
    assert v["n_hosts"] == 1 and v["in_edges"] == 4
    # in_hosts sums per-host distinct counts (host-level view rolled up)
    assert v["in_hosts"] == 4
    # a label-poor host rolls up under itself
    assert got["localhost"]["out_edges"] == 1


def test_local_fast_path_equals_iterative_path(spark):
    """The round-6 small-graph dispatch: every iterative graph query
    must produce IDENTICAL rows whether it takes the single-task numpy
    replay or the DataFrame loop (local_threshold=0 forces it) —
    including seeded/scaled trust and the self-loop + parallel-edge
    corners the kernels dedup in-task. Bounds n-1 and n (n = edge
    rows, the probed stream) pin both outcomes of the size probe."""
    edges = _graph(n_nodes=29, n_edges=400) + [
        ("h3", "h3"),            # self loop
        ("solo", "solo"),        # self-loop-only host
        ("h1", "h2"), ("h1", "h2"),  # extra parallel edges
    ]
    df = spark.createDataFrame(edges, "src STRING, dst STRING")
    seeds = ["h0", "h5", "h11"]
    n = len(edges)

    def check(query, **kw):
        ref = sorted(map(tuple, query(df, local_threshold=0,
                                      **kw).collect()))
        for bound in (n - 1, n, G.LOCAL_ROWS):
            got = sorted(map(tuple, query(df, local_threshold=bound,
                                          **kw).collect()))
            assert got == ref, (query.__name__, bound)

    check(G.host_rank, iters=4)
    check(G.hits_scores, iters=3)
    for scaled in (False, True):
        check(G.trust_rank, seeds=seeds, iters=4, scaled_teleport=scaled)
    check(G.label_communities, iters=4)
