"""Priority-scored politeness scheduling
(operators/politeness.py::schedule_scored): score-desc ordering with the
oracle tie-break, budget cap, cold-start fallback to plain
schedule_budget, and the composition the mode exists for — PageRank
scores from the crawl's own edge graph driving the next wave's budget."""

from __future__ import annotations

from pyspark.sql import functions as F

from barkingowl_spark.operators.linkgraph import (
    edges_from_archive,
    pagerank_fixed,
)
from barkingowl_spark.operators.politeness import (
    schedule_budget,
    schedule_scored,
)

DUE = [
    # host, url_hash, discovery_idx, seed_url
    ("h1", 10, 0, "s"),
    ("h1", 11, 1, "s"),
    ("h1", 12, 2, "s"),
    ("h2", 20, 0, "s"),
    ("h2", 21, 1, "s"),
]
SCORES = [(10, 5), (11, 50), (12, 50), (21, 9)]  # 20 unscored; 11==12 tie


def _dfs(spark):
    due = spark.createDataFrame(
        DUE, "host string, url_hash long, discovery_idx long, seed_url string")
    scores = spark.createDataFrame(SCORES, "url_hash long, score_fp long")
    return due, scores


def test_score_order_budget_and_tiebreak(spark):
    due, scores = _dfs(spark)
    got = sorted(
        (r["host"], r["url_hash"])
        for r in schedule_scored(due, 2, scores).collect()
    )
    # h1: 11 and 12 tie at 50 -> both beat 10; h2: scored 21 beats
    # unscored 20 (unscored sorts last)
    assert got == [("h1", 11), ("h1", 12), ("h2", 20), ("h2", 21)]
    got1 = sorted(
        (r["host"], r["url_hash"])
        for r in schedule_scored(due, 1, scores).collect()
    )
    # tie at 50 broken by discovery_idx -> 11; h2's only scored row wins
    assert got1 == [("h1", 11), ("h2", 21)]


def test_cold_start_equals_plain_budget(spark):
    due, _ = _dfs(spark)
    scored = schedule_scored(due, 2, None)
    plain = schedule_budget(due, 2)
    assert sorted(map(tuple, scored.collect())) == \
        sorted(map(tuple, plain.collect()))


def test_rank_driven_schedule_over_crawl_graph(spark, fixture_crawl):
    """The composition: crawl -> edge graph -> PageRank -> scores keyed
    by url_hash -> scored budget. High-rank URLs win their host's slots."""
    st = fixture_crawl[0]
    ranks = pagerank_fixed(edges_from_archive(st.frontier()), 3)
    scores = ranks.select(
        F.xxhash64("node").alias("url_hash"),
        F.col("rank_fp").alias("score_fp"),
    )
    frontier = st.frontier().select(
        "host", F.xxhash64("url").alias("url_hash"),
        "discovery_idx", "seed_url")
    out = schedule_scored(frontier, 2, scores)
    assert out.count() == out.select("host", "url_hash").distinct().count()
    per_host = out.groupBy("host").count().collect()
    assert all(r["count"] <= 2 for r in per_host)
    # the picked rows per host carry the max achievable ranks: verify for
    # one host by recomputing in python
    joined = frontier.join(scores, "url_hash", "left").collect()
    best = {}
    for r in joined:
        best.setdefault(r["host"], []).append(
            (-(r["score_fp"] if r["score_fp"] is not None else -(1 << 62)),
             r["discovery_idx"], r["seed_url"], r["url_hash"]))
    want = set()
    for h, rows in best.items():
        for t in sorted(rows)[:2]:
            want.add((h, t[3]))
    got = {(r["host"], r["url_hash"]) for r in out.collect()}
    assert got == want
