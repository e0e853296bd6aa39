"""Link-graph analytics (operators/linkgraph.py): degree stats, host
rollup, fixed-point PageRank. PageRank is pinned against an independent
pure-Python rendering of the same integer recurrence (scale, div-floor,
85/100 damping) — bit-exact, not approximate — plus an end-to-end run
over the crawl fixture's real discovered edges."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import functions as F

from barkingowl_spark.operators.linkgraph import (
    DAMP_DEN,
    DAMP_NUM,
    degree_stats,
    edges_from_archive,
    host_graph,
    pagerank_fixed,
)

SCALE = 1_000_000_000_000


def ref_pagerank(edges, n_iter=3, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = Counter(s for s, _ in edges)
    r = {v: scale // n for v in nodes}
    base = (scale * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * n)
    for _ in range(n_iter):
        inflow = defaultdict(int)
        for s, d in edges:
            inflow[d] += (r[s] * DAMP_NUM) // (DAMP_DEN * outdeg[s])
        r = {v: base + inflow.get(v, 0) for v in nodes}
    return r


TINY = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
# d is a source (in_deg 0); no dangling node here — c links back to a


def _edges_df(spark, edges=TINY):
    return spark.createDataFrame(edges, "src string, dst string")


def test_degree_stats_tiny(spark):
    got = {
        r["node"]: (r["out_deg"], r["in_deg"])
        for r in degree_stats(_edges_df(spark)).collect()
    }
    assert got == {"a": (2, 1), "b": (1, 1), "c": (1, 3), "d": (1, 0)}


def test_pagerank_bit_exact_vs_reference(spark):
    for n_iter in (1, 3, 5):
        got = {
            r["node"]: r["rank_fp"]
            for r in pagerank_fixed(_edges_df(spark), n_iter).collect()
        }
        assert got == ref_pagerank(TINY, n_iter), f"n_iter={n_iter}"


def test_pagerank_dangling_mass_evaporates(spark):
    """With a dangling node (x -> y, y has no out-edges), total rank
    strictly decreases but every rank stays >= base — the documented
    no-redistribution semantics."""
    edges = [("x", "y"), ("z", "y"), ("y2", "x"), ("y2", "z")]
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed(_edges_df(spark, edges), 3).collect()
    }
    assert got == ref_pagerank(edges, 3)
    assert sum(got.values()) < SCALE  # y's inflow never re-emitted
    base = (SCALE * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * len(got))
    assert all(v >= base for v in got.values())


def test_host_graph_rollup(spark):
    edges = [
        ("http://a.test/1", "http://b.test/2"),
        ("http://a.test/3", "http://b.test/2"),
        ("http://a.test:8080/1", "http://a.test/9"),  # port = distinct host
        ("http://b.test/1", "http://b.test/5"),       # self-loop kept
    ]
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_graph(_edges_df(spark, edges)).collect()
    }
    assert got == {
        ("a.test", "b.test"): 2,
        ("a.test:8080", "a.test"): 1,
        ("b.test", "b.test"): 1,
    }


def test_pagerank_over_crawl_archive(fixture_crawl):
    """The real pipeline: crawl -> archive edges -> degree + rank, ranks
    bit-exact vs the reference recurrence run on the same edge list."""
    st = fixture_crawl[0]
    edges_df = edges_from_archive(st.frontier()).distinct()
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    assert len(edges) > 50
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed(edges_df, 3).collect()
    }
    assert got == ref_pagerank(edges, 3)
    degs = degree_stats(edges_df)
    assert degs.filter(F.col("in_deg") + F.col("out_deg") == 0).count() == 0


def ref_hits(edges, n_iter=2):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    hub = {v: 1 for v in nodes}
    auth = {v: 1 for v in nodes}
    for _ in range(n_iter):
        new_auth = {v: 0 for v in nodes}
        for s, d in edges:
            new_auth[d] += hub[s]
        auth = new_auth
        new_hub = {v: 0 for v in nodes}
        for s, d in edges:
            new_hub[s] += auth[d]
        hub = new_hub
    return {v: (hub[v], auth[v]) for v in nodes}


def test_hits_bit_exact_vs_reference(spark):
    from barkingowl_spark.operators.linkgraph import hits_fixed

    for n_iter in (1, 2, 3):
        got = {
            r["node"]: (r["hub_fp"], r["auth_fp"])
            for r in hits_fixed(_edges_df(spark), n_iter).collect()
        }
        assert got == ref_hits(TINY, n_iter), n_iter
    # d is a pure hub (no in-links): auth 0 after one update; c is the
    # dominant authority (3 in-links)
    one = ref_hits(TINY, 1)
    assert one["d"][1] == 0
    assert one["c"][1] == max(a for _, a in one.values())


# ---------------------------------------------------------------------------
# trustrank_fixed
# ---------------------------------------------------------------------------

from barkingowl_spark.operators.linkgraph import trustrank_fixed  # noqa: E402


def ref_trustrank(edges, trusted, n_iter=3, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    t = set(trusted)
    nt = len(t)
    outdeg = Counter(s for s, _ in edges)
    r = {v: (scale // nt if v in t else 0) for v in nodes}
    base = (scale * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * nt)
    for _ in range(n_iter):
        inflow = defaultdict(int)
        for s, d in edges:
            inflow[d] += (r[s] * DAMP_NUM) // (DAMP_DEN * outdeg[s])
        r = {v: (base if v in t else 0) + inflow.get(v, 0)
             for v in nodes}
    return r


def _trusted_df(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node string")


def test_trustrank_bit_exact_vs_reference(spark):
    for n_iter in (1, 3):
        got = {
            r["node"]: r["trust_fp"]
            for r in trustrank_fixed(
                _edges_df(spark), _trusted_df(spark, ["a"]), n_iter
            ).collect()
        }
        assert got == ref_trustrank(TINY, ["a"], n_iter), n_iter


def test_trustrank_unreachable_gets_zero(spark):
    # spam island x->y unreachable from trusted 'a'
    edges = TINY + [("x", "y"), ("y", "x")]
    got = {
        r["node"]: r["trust_fp"]
        for r in trustrank_fixed(
            _edges_df(spark, edges), _trusted_df(spark, ["a"]), 3
        ).collect()
    }
    assert got == ref_trustrank(edges, ["a"], 3)
    assert got["x"] == 0 and got["y"] == 0
    assert got["a"] > 0 and got["c"] > 0      # reachable from the seed


def test_trustrank_with_all_nodes_trusted_is_pagerank(spark):
    nodes = ["a", "b", "c", "d"]
    got = {
        r["node"]: r["trust_fp"]
        for r in trustrank_fixed(
            _edges_df(spark), _trusted_df(spark, nodes), 3
        ).collect()
    }
    assert got == ref_pagerank(TINY, 3)


def test_reciprocal_stats(spark):
    """Planted ring (all reciprocal), chain (none), mixed node, dup
    edges and self-loops collapsed/dropped before the ppm."""
    from barkingowl_spark.operators.linkgraph import reciprocal_stats

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 1),           # reciprocal pair
            (1, 3), (3, 1),           # reciprocal pair
            (1, 4),                   # one-way
            (4, 5), (5, 6),           # chain, no reciprocity
            (7, 7),                   # self-loop -> dropped
            (2, 1),                   # duplicate edge -> collapsed
        ],
        "src long, dst long",
    )
    got = {r["node"]: (r["out_deg"], r["recip_deg"], r["recip_ppm"])
           for r in reciprocal_stats(edges).collect()}
    assert got[1] == (3, 2, 2 * 1_000_000 // 3)
    assert got[2] == (1, 1, 1_000_000)
    assert got[3] == (1, 1, 1_000_000)
    assert got[4] == (1, 0, 0)
    assert got[5] == (1, 0, 0)
    assert 7 not in got                  # only the self-loop -> no rows


def ref_opic(edges, n_iter=3, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = Counter(s for s, _ in edges)
    cash = {v: scale // n for v in nodes}
    hist = {v: 0 for v in nodes}
    for _ in range(n_iter):
        inflow = defaultdict(int)
        for s, d in edges:
            inflow[d] += cash[s] // outdeg[s]
        dangle = sum(c for v, c in cash.items() if outdeg[v] == 0)
        hist = {v: hist[v] + cash[v] for v in nodes}
        cash = {v: inflow.get(v, 0) + dangle // n for v in nodes}
    return {v: (cash[v], hist[v]) for v in nodes}


def test_opic_bit_exact_vs_reference(spark):
    from barkingowl_spark.operators.linkgraph import opic_fixed

    # y is dangling: its cash must re-spread, not evaporate
    edges = TINY + [("c", "y")]
    for n_iter in (1, 3):
        got = {
            r["node"]: (r["cash_fp"], r["hist_fp"])
            for r in opic_fixed(_edges_df(spark, edges), n_iter).collect()
        }
        assert got == ref_opic(edges, n_iter), f"n_iter={n_iter}"


def test_opic_cash_conserved_up_to_floor(spark):
    """Total cash never grows, and shrinks only by floor-div remainders
    (< one unit per distributing node per round) — the virtual-root
    re-spread keeps importance comparable across rounds."""
    from barkingowl_spark.operators.linkgraph import opic_fixed

    edges = TINY + [("c", "y")]
    n_nodes = len({s for s, _ in edges} | {d for _, d in edges})
    rounds = 4
    got = opic_fixed(_edges_df(spark, edges), rounds).agg(
        F.sum("cash_fp")).collect()[0][0]
    assert got <= SCALE
    # each round loses < n_nodes units to edge floors + n to the dangle
    assert got > SCALE - rounds * (len(edges) + n_nodes + 1)


def ref_spam_mass(edges, trusted, n_iter=3, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    outdeg = Counter(s for s, _ in edges)
    base = (scale * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * n)
    rank = {v: scale // n for v in nodes}
    white = {v: scale // n if v in trusted else 0 for v in nodes}
    for _ in range(n_iter):
        in_r, in_w = defaultdict(int), defaultdict(int)
        for s, d in edges:
            in_r[d] += (rank[s] * DAMP_NUM) // (DAMP_DEN * outdeg[s])
            in_w[d] += (white[s] * DAMP_NUM) // (DAMP_DEN * outdeg[s])
        rank = {v: base + in_r.get(v, 0) for v in nodes}
        white = {
            v: (base if v in trusted else 0) + in_w.get(v, 0)
            for v in nodes
        }
    out = {}
    for v in nodes:
        mass = rank[v] - white[v]
        rel = (mass * 1_000_000) // rank[v] if rank[v] > 0 else 0
        out[v] = (rank[v], white[v], mass, rel)
    return out


def test_spam_mass_bit_exact_vs_reference(spark):
    from barkingowl_spark.operators.linkgraph import spam_mass_fixed

    trusted = {"a", "d"}
    tdf = _edges_df(spark).sparkSession.createDataFrame(
        [(t,) for t in trusted], "node string")
    got = {
        r["node"]: (r["rank_fp"], r["white_fp"], r["mass_fp"],
                    r["rel_mass_ppm"])
        for r in spam_mass_fixed(_edges_df(spark), tdf, 3).collect()
    }
    assert got == ref_spam_mass(TINY, trusted, 3)


def test_spam_mass_bounds_and_island(spark):
    """white <= rank everywhere (rel_mass in [0, 1e6]); a spam island
    unreachable from the trusted core gets rel_mass -> ~1e6, while
    trusted nodes keep low relative mass."""
    from barkingowl_spark.operators.linkgraph import spam_mass_fixed

    edges = TINY + [("s1", "s2"), ("s2", "s1")]  # island off the core
    tdf = _edges_df(spark).sparkSession.createDataFrame(
        [("a",)], "node string")
    rows = {
        r["node"]: r
        for r in spam_mass_fixed(_edges_df(spark, edges), tdf, 3).collect()
    }
    for r in rows.values():
        assert 0 <= r["white_fp"] <= r["rank_fp"]
        assert 0 <= r["rel_mass_ppm"] <= 1_000_000
    # the island never sees white mass: its rank is 100% unexplained
    assert rows["s1"]["white_fp"] == 0
    assert rows["s1"]["rel_mass_ppm"] == 1_000_000
    assert rows["a"]["rel_mass_ppm"] < 1_000_000


def test_spam_mass_all_trusted_is_zero_mass(spark):
    """With every node trusted, white == rank: relative mass is 0 —
    the white recurrence degenerates to PageRank (same identity
    trustrank satisfies)."""
    from barkingowl_spark.operators.linkgraph import spam_mass_fixed

    tdf = _edges_df(spark).select(F.col("src").alias("node")).union(
        _edges_df(spark).select(F.col("dst").alias("node"))).distinct()
    rows = spam_mass_fixed(_edges_df(spark), tdf, 3).collect()
    assert all(r["mass_fp"] == 0 and r["rel_mass_ppm"] == 0 for r in rows)
    got = {r["node"]: r["rank_fp"] for r in rows}
    assert got == ref_pagerank(TINY, 3)


def ref_entropy(host_edges):
    from collections import Counter

    by_src = defaultdict(Counter)
    for s, d in host_edges:
        by_src[s][d] += 1
    out = {}
    for s, cs in by_src.items():
        t = sum(cs.values())
        h = sum(c * 1000 * ((t // c).bit_length() - 1)
                for c in cs.values()) // t
        out[s] = (t, len(cs), h)
    return out


def test_outlink_entropy_reference_and_landmarks(spark):
    from barkingowl_spark.operators.linkgraph import outlink_entropy

    he = (
        # farm: 6 links, all to one destination -> entropy 0
        [("farm", "x")] * 6
        # hub: 8 links to 8 distinct hosts -> 1000 * log2(8) = 3000
        + [("hub", f"d{i}") for i in range(8)]
        # mixed: 4 to a, 2 to b, 2 to c
        + [("mix", "a")] * 4 + [("mix", "b")] * 2 + [("mix", "c")] * 2
    )
    df = spark.createDataFrame(he, "src_host string, dst_host string")
    got = {
        r["src_host"]: (r["out_links"], r["dst_hosts"],
                        r["entropy_millibits"])
        for r in outlink_entropy(df).collect()
    }
    assert got == ref_entropy(he)
    assert got["farm"][2] == 0
    assert got["hub"][2] == 3000
    # mix: 4*1000*floor(log2(2)) + 2*1000*floor(log2(4)) * 2 = 12000 // 8
    assert got["mix"][2] == (4 * 1000 * 1 + 2 * 1000 * 2 * 2) // 8


def ref_cocitation(host_edges, max_out):
    e = sorted(set(host_edges))
    od = Counter(s for s, _ in e)
    kept = [(s, d) for s, d in e if od[s] <= max_out]
    by_src = defaultdict(list)
    for s, d in kept:
        by_src[s].append(d)
    cocite = Counter()
    for s, ds in by_src.items():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cocite[(ds[i], ds[j])] += 1
    ind = Counter(d for _, d in kept)
    return {
        (a, b): (c, ind[a], ind[b], c * 1_000_000 // min(ind[a], ind[b]))
        for (a, b), c in cocite.items()
    }


def test_cocitation_reference_and_stop_key_cap(spark):
    from barkingowl_spark.operators.linkgraph import cocitation

    he = (
        # s1, s2 both cite (x, y): cocite(x,y)=2
        [("s1", "x"), ("s1", "y"), ("s2", "x"), ("s2", "y"),
         ("s2", "z"),
         # duplicate edge must not double-count
         ("s1", "x")]
        # hub cites 5 hosts -> dropped at max_out=4
        + [("hub", f"d{i}") for i in range(5)]
    )
    df = spark.createDataFrame(he, "src_host string, dst_host string")
    got = {
        (r["host_a"], r["host_b"]):
            (r["cocite"], r["in_a"], r["in_b"], r["sim_ppm"])
        for r in cocitation(df, max_out=4).collect()
    }
    assert got == ref_cocitation(he, 4)
    assert got[("x", "y")][0] == 2
    assert got[("x", "y")][3] == 1_000_000  # full overlap
    assert not any("d0" in p for p in got)  # hub pairs capped away
    # sim_ppm bounded by construction
    assert all(v[3] <= 1_000_000 for v in got.values())


# ---- label propagation communities ---------------------------------------

def _py_lpa(edges, n_iter=4):
    """Independent synchronous LPA: unweighted distinct undirected
    edges, min-label ties, self-loops dropped."""
    und = {}
    nodes = set()
    for s, d in edges:
        nodes |= {s, d}
        if s != d:
            und.setdefault(s, set()).add(d)
            und.setdefault(d, set()).add(s)
    lab = {n: n for n in nodes}
    for _ in range(n_iter):
        nxt = {}
        for n in nodes:
            votes = {}
            for m in und.get(n, ()):
                votes[lab[m]] = votes.get(lab[m], 0) + 1
            if votes:
                best = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))
                nxt[n] = best[0]
            else:
                nxt[n] = n
        lab = nxt
    return lab


def _run_lpa(spark, edges, n_iter=4):
    from barkingowl_spark.operators.linkgraph import label_propagation

    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: (r.community, r.community_size)
            for r in label_propagation(df, n_iter=n_iter).collect()}


def test_lpa_two_disconnected_cliques(spark):
    clique1 = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    clique2 = [("b1", "b2"), ("b2", "b3"), ("b1", "b3")]
    edges = clique1 + clique2
    got = _run_lpa(spark, edges)
    want = _py_lpa(edges)
    assert {n: c for n, (c, _) in got.items()} == want
    # disconnected triangles resolve to two distinct communities of 3
    assert len({got[n][0] for n in ("a1", "a2", "a3")}) == 1
    assert len({got[n][0] for n in ("b1", "b2", "b3")}) == 1
    assert got["a2"][0] != got["b2"][0]
    assert got["a1"][1] == got["b1"][1] == 3


def test_lpa_isolated_and_self_loop(spark):
    edges = [("x", "x"), ("p", "q")]
    got = _run_lpa(spark, edges)
    # self-loop-only node keeps its own label, size 1
    assert got["x"] == ("x", 1)
    # a lone pair oscillates with period 2 under synchronous updates
    # (the docstring's bipartite caveat); after the even default round
    # count each node is back on its own label — and matches Python
    assert got["p"][0] == "p" and got["q"][0] == "q"
    assert {n: c for n, (c, _) in got.items()} == _py_lpa(edges)


def test_lpa_tie_picks_min_label(spark):
    # m has two neighbors with distinct labels -> tie -> min
    edges = [("aaa", "m"), ("zzz", "m")]
    got = _run_lpa(spark, edges, n_iter=1)
    assert got["m"][0] == "aaa"


def test_lpa_parallel_edges_vote_once(spark):
    # duplicated edge must not double the vote: two zzz-edges vs one
    # aaa-edge; dedup makes it a tie -> aaa wins
    edges = [("zzz", "m"), ("zzz", "m"), ("aaa", "m")]
    got = _run_lpa(spark, edges, n_iter=1)
    assert got["m"][0] == "aaa"


def test_lpa_random_crosscheck(spark):
    import random

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(18)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(40)
    ]
    got = _run_lpa(spark, edges, n_iter=3)
    want = _py_lpa(edges, n_iter=3)
    assert {n: c for n, (c, _) in got.items()} == want
    # community_size is the label multiplicity
    from collections import Counter

    sizes = Counter(want.values())
    assert all(sz == sizes[c] for c, sz in got.values())


def test_kcore_peel_and_converged(spark):
    """Triangle {0,1,2} + pendant chain 2-3-4 + square {5,6,7,8}:
    2-core = triangle + square (chain peels off in 2 rounds);
    3-core empty. Pinned against an independent Python peeler."""
    from barkingowl_spark.operators.linkgraph import kcore, kcore_peel

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4),
             (5, 6), (6, 7), (7, 8), (8, 5), (4, 4)]  # self-loop drops
    df = spark.createDataFrame(edges, "src long, dst long")

    def py_peel(k, rounds):
        und = {(a, b) for a, b in edges if a != b}
        und |= {(b, a) for a, b in und}
        for _ in range(rounds):
            deg = {}
            for a, _b in und:
                deg[a] = deg.get(a, 0) + 1
            alive = {n for n, d in deg.items() if d >= k}
            und = {(a, b) for a, b in und
                   if a in alive and b in alive}
        deg = {}
        for a, _b in und:
            deg[a] = deg.get(a, 0) + 1
        return deg

    for k in (1, 2, 3):
        for rounds in (0, 1, 2):
            got = {r["node"]: r["degree"]
                   for r in kcore_peel(df, k=k, n_rounds=rounds).collect()}
            assert got == py_peel(k, rounds), (k, rounds)

    got2 = {r["node"]: r["degree"] for r in kcore(df, k=2).collect()}
    assert got2 == {0: 2, 1: 2, 2: 2, 5: 2, 6: 2, 7: 2, 8: 2}
    assert kcore(df, k=3).count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        kcore_peel(df, k=0)


def test_adamic_adar_matches_python(spark):
    from barkingowl_spark.operators.linkgraph import adamic_adar

    edges = [(0, 2), (1, 2), (0, 3), (1, 3), (2, 3), (4, 0), (4, 1),
             (5, 5), (9, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")

    und = {(a, b) for a, b in edges if a != b}
    und |= {(b, a) for a, b in und}
    deg = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
    want = {}
    for w, d in deg.items():
        if d > 64:
            continue
        wt = 1_000_000 // (1 + (d.bit_length() - 1))
        ns = sorted(nbrs[w])
        for i, u in enumerate(ns):
            for v in ns[i + 1:]:
                c, s = want.get((u, v), (0, 0))
                want[(u, v)] = (c + 1, s + wt)
    got = {(r["node_a"], r["node_b"]): (r["common_neighbors"],
                                        r["aa_micro"])
           for r in adamic_adar(df).collect()}
    assert got == want
    # hand value: 0 and 1 share neighbors {2, 3, 4} with degs 3, 4, 2
    w23 = 1_000_000 // 2
    w4 = 1_000_000 // 2
    assert got[(0, 1)] == (3, w23 * 2 + w4)


def test_adamic_adar_hub_cap(spark):
    from barkingowl_spark.operators.linkgraph import adamic_adar

    # star center 100 with 5 leaves: max_deg=4 drops it as a wedge
    edges = [(100, i) for i in range(5)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["node_a"], r["node_b"])
           for r in adamic_adar(df, max_deg=4).collect()}
    # only wedges through leaves survive: 0 and 1 (deg 2) connect
    # (100, each other's neighbor sets)
    assert all(100 in (a, b) or (a, b) == (0, 1) for a, b in got) \
        or got == set()
    assert not any({a, b} <= set(range(5)) for a, b in got)


def test_triangle_stats_matches_brute(spark):
    from barkingowl_spark.operators.linkgraph import triangle_stats

    # two triangles sharing edge (0,1); a square (no triangle); a
    # pendant; a self-loop and duplicate edges to normalize away
    edges = [(0, 1), (1, 2), (2, 0), (0, 3), (3, 1),
             (4, 5), (5, 6), (6, 7), (7, 4),
             (8, 0), (9, 9), (0, 1), (1, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")

    und = {(a, b) for a, b in edges if a != b}
    und |= {(b, a) for a, b in und}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
    nodes = sorted(nbrs)
    want = {}
    for v in nodes:
        d = len(nbrs[v])
        ns = sorted(nbrs[v])
        t = sum(1 for i, x in enumerate(ns) for y in ns[i + 1:]
                if y in nbrs[x])
        cl = (2 * t * 1_000_000 // (d * (d - 1))) if d >= 2 else 0
        want[v] = (d, t, cl)
    got = {r["node"]: (r["degree"], r["triangles"],
                       r["clustering_ppm"])
           for r in triangle_stats(df).collect()}
    assert got == want
    assert got[0] == (4, 2, 2 * 2 * 1_000_000 // (4 * 3))
    assert got[4][1] == 0  # square has no triangles


def test_salsa_matches_python(spark):
    from barkingowl_spark.operators.linkgraph import salsa_fixed

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 1), (4, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    S = 10_000

    out = {}
    ind = {}
    for a, b in edges:
        out[a] = out.get(a, 0) + 1
        ind[b] = ind.get(b, 0) + 1
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    hub = {v: S for v in nodes}
    auth = {v: S for v in nodes}
    for _ in range(2):
        na = {v: 0 for v in nodes}
        for a, b in edges:
            na[b] += hub[a] // out[a]
        auth = na
        nh = {v: 0 for v in nodes}
        for a, b in edges:
            nh[a] += auth[b] // ind[b]
        hub = nh
    got = {r["node"]: (r["hub_fp"], r["auth_fp"])
           for r in salsa_fixed(df, n_iter=2, scale=S).collect()}
    assert got == {v: (hub[v], auth[v]) for v in nodes}
    # sinks have hub 0, sources auth 0
    assert got[4][1] == 0


def test_degree_assortativity(spark):
    import math

    from barkingowl_spark.operators.linkgraph import degree_assortativity

    # star out of 0 (disassortative) + a reciprocal pair
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 0), (2, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    od, idg = {}, {}
    for u, v in edges:
        od[u] = od.get(u, 0) + 1
        idg[v] = idg.get(v, 0) + 1
    xs = [od[u] for u, v in edges]
    ys = [idg[v] for u, v in edges]
    m = len(edges)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    num = m * sxy - sx * sy
    rx = math.isqrt(m * sxx - sx * sx)
    ry = math.isqrt(m * syy - sy * sy)
    want = (1_000_000 * num // (rx * ry) if num >= 0
            else -(1_000_000 * (-num) // (rx * ry)))
    row = degree_assortativity(df).collect()[0]
    assert row["m"] == m
    assert row["r_ppm"] == want
    assert row["r_ppm"] < 0   # the hub makes it disassortative


def test_degree_assortativity_degenerate(spark):
    from barkingowl_spark.operators.linkgraph import degree_assortativity

    # every edge from distinct src to distinct dst: all degrees 1 ->
    # zero variance -> r = 0 by contract
    df = spark.createDataFrame(
        [(i, 100 + i) for i in range(5)], "src long, dst long")
    row = degree_assortativity(df).collect()[0]
    assert (row["m"], row["r_ppm"]) == (5, 0)


def test_ktruss_peel_bruteforce(spark):
    from barkingowl_spark.operators.linkgraph import ktruss_peel

    # K4 clique (0-3) + a pendant triangle (3,4,5) + a tail edge (5,6)
    und = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
           (3, 4), (3, 5), (4, 5), (5, 6)]
    df = spark.createDataFrame(und, "src long, dst long")

    def brute(edges, k, rounds):
        cur = {tuple(sorted(e)) for e in edges}
        for _ in range(rounds + 1):
            nodes = {}
            adj = {}
            for a, b in cur:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            sup = {e: len(adj[e[0]] & adj[e[1]]) for e in cur}
            nxt = {e for e in cur if sup[e] >= k - 2}
            if _ == rounds:           # final recount, no drop
                return {e: sup[e] for e in cur}
            cur = nxt
        return {}

    for k in (3, 4):
        got = {(r["a"], r["b"]): r["support"]
               for r in ktruss_peel(df, k=k, n_rounds=3).collect()}
        # replicate: 3 peel rounds then one recount
        cur = {tuple(sorted(e)) for e in und}
        for _ in range(3):
            adj = {}
            for a, b in cur:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            cur = {e for e in cur
                   if len(adj[e[0]] & adj[e[1]]) >= k - 2}
        adj = {}
        for a, b in cur:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {e: len(adj[e[0]] & adj[e[1]]) for e in cur}
        assert got == want, k
    # k=4: exactly the K4 survives, every edge support 2
    got4 = {(r["a"], r["b"]): r["support"]
            for r in ktruss_peel(df, k=4, n_rounds=3).collect()}
    assert set(got4) == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}
    assert set(got4.values()) == {2}


def test_ktruss_converged(spark):
    from barkingowl_spark.operators.linkgraph import ktruss

    # chain of triangles sharing single edges: each edge is in exactly
    # 1 triangle until peeling unravels the chain from... nowhere —
    # a pure triangle chain is its own 3-truss fixed point; adding a
    # dangling wedge (no triangle) must be peeled away fully.
    und = [(0, 1), (1, 2), (0, 2),      # triangle A
           (2, 3), (3, 4), (2, 4),      # triangle B
           (4, 5), (5, 6)]              # wedge tail (no triangle)
    df = spark.createDataFrame(und, "src long, dst long")
    got = {(r["a"], r["b"]): r["support"]
           for r in ktruss(df, k=3).collect()}
    assert set(got) == {(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)}
    assert set(got.values()) == {1}
    # k=4 demands 2 triangles per edge: nothing here qualifies
    assert ktruss(df, k=4).count() == 0


def test_densest_peel_finds_the_clique(spark):
    from barkingowl_spark.operators.linkgraph import densest_peel

    # a K5 (density 2.0) with a long pendant path hanging off it:
    # round 0 density is diluted; peeling strips the path (degree <=
    # average-ish) and the best round converges on the clique
    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    path = [(4 + i, 5 + i) for i in range(1, 20)]
    df = spark.createDataFrame(k5 + path, "src long, dst long")
    rows = {r["round"]: r.asDict()
            for r in densest_peel(df, n_rounds=2).collect()}
    assert rows[0]["n_nodes"] == 25 and rows[0]["n_edges"] == 29
    # best round is a later, denser one — and its density is the K5's
    best = [r for r in rows.values() if r["is_best"]]
    assert len(best) == 1
    assert best[0]["round"] > 0
    assert best[0]["density_milli"] == 2000  # 10 edges / 5 nodes
    assert best[0]["n_nodes"] == 5

    # empty graph: all-zero rows, round 0 flagged best, no crash
    empty = spark.createDataFrame([], "src long, dst long")
    rows0 = densest_peel(empty, n_rounds=1).collect()
    assert {r["n_nodes"] for r in rows0} == {0}
    assert sum(1 for r in rows0 if r["is_best"]) == 1


def _ref_community_stats(und_pairs, labels):
    """Exact-integer reference: und_pairs = directed pair set (both
    directions, no self-loops), labels = {node: community}."""
    m2 = len(und_pairs)
    vol, inn = Counter(), Counter()
    for s, d in und_pairs:
        vol[labels[s]] += 1
        if labels[s] == labels[d]:
            inn[labels[s]] += 1
    out = {}
    for c in sorted(set(labels.values())):
        v, i = vol[c], inn[c]
        cut = v - i
        den = min(v, m2 - v)
        cond = 1_000_000 * cut // den if den > 0 else None
        qn = i * m2 - v * v
        if m2 == 0:
            q = None
        elif qn >= 0:
            q = 1_000_000 * qn // (m2 * m2)
        else:
            q = -((1_000_000 * -qn) // (m2 * m2))
        n_nodes = sum(1 for x in labels.values() if x == c)
        out[c] = (n_nodes, v, i, cut, cond, q)
    return out


def test_community_stats_two_triangles(spark):
    from barkingowl_spark.operators.linkgraph import community_stats

    # two triangles + one bridge + a self-loop-only node
    e = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4), (7, 7)]
    labels = {1: 10, 2: 10, 3: 10, 4: 20, 5: 20, 6: 20, 7: 30}
    und = {(a, b) for a, b in e if a != b} | {
        (b, a) for a, b in e if a != b}
    edges = spark.createDataFrame(e, "src long, dst long")
    lab = spark.createDataFrame(
        sorted(labels.items()), "node long, community long")
    got = {
        r["community"]: (r["n_nodes"], r["volume"], r["internal_pairs"],
                         r["cut_pairs"], r["conductance_ppm"], r["q_ppm"])
        for r in community_stats(edges, lab).collect()
    }
    assert got == _ref_community_stats(und, labels)
    # hand values: M2=14, each triangle vol=7 in=6 cut=1
    assert got[10] == (3, 7, 6, 1, 142857, 178571)
    assert got[30] == (1, 0, 0, 0, None, 0)
    # modularity of the 2-triangle split: 2*178571 ppm ~ 0.357 (exact
    # rational 5/14) -- a good partition scores well clear of zero
    assert sum(v[5] for v in got.values()) == 357142


def test_community_stats_negative_q_and_whole_graph(spark):
    from barkingowl_spark.operators.linkgraph import community_stats

    # star: center 0, leaves 1..4. Partition A = {0} (hub only, all
    # cut, qn = 0*8 - 16 < 0 -> negative contribution), B = leaves.
    e = [(0, i) for i in (1, 2, 3, 4)]
    edges = spark.createDataFrame(e, "src long, dst long")
    lab = spark.createDataFrame(
        [(0, 1)] + [(i, 2) for i in (1, 2, 3, 4)],
        "node long, community long")
    got = {
        r["community"]: (r["volume"], r["internal_pairs"],
                         r["conductance_ppm"], r["q_ppm"])
        for r in community_stats(edges, lab).collect()
    }
    # M2=8: hub vol=4 in=0 -> qn=-16, q_ppm=-(16e6//64)=-250000
    assert got[1] == (4, 0, 1_000_000, -250000)
    assert got[2] == (4, 0, 1_000_000, -250000)
    # single community spanning everything: m2 - vol = 0 -> cond NULL
    one = spark.createDataFrame(
        [(i, 9) for i in range(5)], "node long, community long")
    g1 = community_stats(edges, one).collect()
    assert len(g1) == 1 and g1[0]["conductance_ppm"] is None
    assert g1[0]["q_ppm"] == 0    # qn = 8*8 - 64 = 0


def test_aa_link_pred_auc_separates_planted_structure(spark):
    """Two dense cliques plus a sparse bridge: held-out intra-clique
    edges share many train neighbors (high AA), random cross pairs
    share none — AUC should be decisively above chance; and feeding
    the positives as negatives symmetrically flips it below."""
    import itertools

    from barkingowl_spark.operators.linkgraph import aa_link_pred_auc

    clique_a = list(range(8))
    clique_b = list(range(10, 18))
    edges = [(u, v) for u, v in itertools.combinations(clique_a, 2)]
    edges += [(u, v) for u, v in itertools.combinations(clique_b, 2)]
    edges += [(0, 10)]
    # hold out a few intra-clique edges
    held = [(0, 3), (1, 4), (10, 13), (11, 14)]
    train = [e for e in edges if e not in held]
    tdf = spark.createDataFrame(train, "src long, dst long")
    pos = spark.createDataFrame(held, "node_a long, node_b long")
    neg = spark.createDataFrame(
        [(2, 15), (3, 16), (5, 12), (6, 17)],
        "node_a long, node_b long")
    row = aa_link_pred_auc(tdf, pos, neg).collect()[0]
    assert row["n_pos"] == 4 and row["n_neg"] == 4
    assert row["auc_ppm"] == 1_000_000  # perfect separation here
    flipped = aa_link_pred_auc(tdf, neg, pos).collect()[0]
    assert flipped["auc_ppm"] == 0
