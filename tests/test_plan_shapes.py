"""Physical-plan regression guards (DESIGN.md "Plan review notes").

These assert the plan SHAPES that the scaling work depends on, so a
refactor can't silently reintroduce a driver-side broadcast of a
corpus-sized table, a sort-merge join in the wave loop, or a fat corpus
scan. String-matching executedPlan is crude but catches exactly the
regressions that cost real wall-clock this round.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _seen_df(spark, n=100):
    return spark.createDataFrame(
        pd.DataFrame({
            "seed_url": ["http://s.test/p0"] * n,
            "url_hash": list(range(n)),
        })
    )


def test_seen_anti_join_is_shuffled_hash_not_broadcast(spark):
    """O12: the seen side grows every wave — its hash build must be
    partition-parallel (ShuffledHashJoin), never a driver broadcast and
    never a sort-merge of the big side."""
    from barkingowl_spark.operators.dedup import anti_join_new

    cand = _seen_df(spark, 50).withColumn("depth", F.lit(1))
    seen = _seen_df(spark, 100)
    plan = _plan(anti_join_new(cand, seen, None, 8))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan


def test_wave_dedup_shuffles_candidates_once_no_python(spark):
    """O19 -> O12 as the wave loop runs them: the exact anti-join reuses
    first_discovery_wins' (seed_url, url_hash) partitioning, so the plan
    holds exactly two hash exchanges (candidates once, seen once) and no
    Python stage — a prefilter probe would add an ArrowEvalPython stage
    and re-shuffle the candidates on its tagged key."""
    from barkingowl_spark.operators.dedup import anti_join_new
    from barkingowl_spark.operators.ordering import first_discovery_wins

    cands = spark.createDataFrame(
        pd.DataFrame({
            "seed_url": ["http://s.test/p0"] * 60,
            "url_hash": [i % 40 for i in range(60)],
            "discovery_idx": list(range(60)),
            "depth": [1] * 60,
        })
    )
    seen = _seen_df(spark, 100)
    plan = _plan(anti_join_new(first_discovery_wins(cands), seen))
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_robots_dim_join_is_broadcast(spark):
    """O20 robots: the dim table is tiny and must broadcast (no shuffle
    of the links side for a filter)."""
    from barkingowl_spark.operators.politeness import robots_filter

    links = spark.createDataFrame(
        pd.DataFrame({
            "host": ["a.test"] * 20,
            "url": [f"http://a.test/p{i}" for i in range(20)],
        })
    )
    robots = spark.createDataFrame(
        pd.DataFrame({"host": ["a.test"], "disallow_prefixes": [["/x"]]})
    )
    plan = _plan(robots_filter(links, robots))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_host_budget_join_is_broadcast(spark):
    """O20 crawl-delay budgets: the (host, host_budget) dim must
    broadcast into the scheduling window, never shuffle the due side."""
    from barkingowl_spark.operators.politeness import schedule_budget

    due = spark.createDataFrame(
        pd.DataFrame({
            "host": ["a.test"] * 10,
            "seed_url": ["s"] * 10,
            "discovery_idx": list(range(10)),
        })
    )
    budgets = spark.createDataFrame(
        pd.DataFrame({"host": ["a.test"], "host_budget": [2]})
    )
    plan = _plan(schedule_budget(due, None, budgets))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ingest_scan_is_column_pruned(spark, tmp_path):
    """The ingest pass must read only (url, html, text) from the corpus —
    a scan that also decodes warc_ts/lang for a parse pass is wrong at
    100TB (input_hint column discipline)."""
    from barkingowl_spark.functions.extract import parse_pages_udf
    from barkingowl_spark.schemas import PAGES_SCHEMA

    p = str(tmp_path / "pages")
    spark.createDataFrame(
        [("http://a.test/p0", None, b"<html></html>", "", "en")],
        PAGES_SCHEMA,
    ).write.parquet(p)
    pages = spark.read.parquet(p)
    parsed = pages.select("url", "html", "text").withColumn(
        "q", parse_pages_udf(F.col("url"), F.col("html"))
    ).select("url", F.col("q.links").alias("links"))
    plan = _plan(parsed)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "url" in read_schema and "html" in read_schema
    assert "warc_ts" not in read_schema and "lang" not in read_schema
    # the parse UDF runs as an Arrow eval, not row-at-a-time Python
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_postings_reuses_term_partitioning(spark):
    """invindex.postings: the per-term cap window and the per-term agg
    hash on the same key — exactly ONE shuffle of the (doc_id, term)
    explode output (+ the tiny explode-source exchange), and the
    collect_list is fed by the rn cap, never the raw rows."""
    from barkingowl_spark.operators.invindex import postings

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20),
                      "text": ["a b c"] * 20})
    )
    plan = _plan(postings(docs))
    # window partition (term) then groupBy(term): Catalyst must not add
    # a second hashpartitioning(term) exchange between them
    assert plan.count("hashpartitioning(term") == 1, plan


def test_waterfill_is_all_dataframe_no_cartesian_blowup(spark):
    """waterfill: one global-rank window + one 1-row broadcast of the
    level scalars — no SortMergeJoin, no nested-loop join of the hosts
    table against itself."""
    from barkingowl_spark.operators.politeness import waterfill_budget

    q = spark.createDataFrame(
        pd.DataFrame({"host": [f"h{i}" for i in range(30)],
                      "n_queued": [i % 7 + 1 for i in range(30)]})
    )
    plan = _plan(waterfill_budget(q, 40))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_dupspan_cut_one_gram_shuffle_no_python(spark):
    """Duplicate-substring cut: exactly ONE gram-keyed exchange flags
    windows; the two per-doc windows and the span collect share one
    doc_id exchange; the token rebuild is native (no Python seam)."""
    import pandas as pd

    from barkingowl_spark.operators.dupspans import cut_duplicate_spans

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(20),
        "text": ["a b c d e f"] * 10
                + [f"u{i} v w x y z" for i in range(10)],
    }))
    plan = _plan(cut_duplicate_spans(docs, n=3))
    assert plan.count("Exchange hashpartitioning(_g") == 1
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cdx_sorted_range_partition_not_global_sort(spark):
    """CDX layout: rangepartitioning + per-partition sorts (global flag
    false everywhere) — never a single-task global Sort; the revisit
    window shuffles on the content-derived (surt, digest)."""
    import pandas as pd

    from barkingowl_spark.operators.cdx import cdx_index, cdx_sorted

    caps = spark.createDataFrame(pd.DataFrame({
        "url": [f"http://h{i % 5}.test/p{i}" for i in range(40)],
        "ts": range(40),
        "digest": [f"d{i % 9}" for i in range(40)],
    }))
    plan = _plan(cdx_sorted(cdx_index(caps), 4))
    assert "rangepartitioning(surt" in plan
    assert "Exchange hashpartitioning(surt" in plan
    assert "], true, 0" not in plan   # no global Sort node


def test_kcenter_pick_is_takeordered_no_full_sort(spark):
    """kcenter_select's per-pass argmax must be TakeOrderedAndProject
    (per-partition top-1 + driver merge), never a global Sort, and the
    center distances must be literal expressions (no join at all)."""
    from barkingowl_spark.operators.similarity import (
        _quantized, kcenter_pick)

    emb = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": range(30),
            "embedding": [[(i * 3 + j) % 7 / 6.0 for j in range(4)]
                          for i in range(30)],
        })
    )
    vecs = _quantized(emb).select("vec_id", "v")
    plan = _plan(kcenter_pick(vecs, [(0, [1000] * 4), (5, [0] * 4)]))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan  # no shuffle at all pre-merge


def test_pca_pass_single_dkey_aggregate_no_join(spark):
    """pca_power's C·u pass is one map pass + one d-key hash aggregate:
    exactly one shuffle, partial aggregation before it, no join, no
    Python."""
    from barkingowl_spark.operators.similarity import (
        _quantized, pca_pass)

    emb = spark.createDataFrame(
        pd.DataFrame({
            "vec_id": range(30),
            "embedding": [[(i * 5 + j) % 9 / 8.0 for j in range(4)]
                          for i in range(30)],
        })
    )
    vecs = _quantized(emb).select("vec_id", "v")
    plan = _plan(pca_pass(vecs, [1000] * 4))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_scheduling_tier_has_no_single_partition_window(spark):
    """r02 verdict item: waterfill_budget, ucb_host_ranks and
    mix.neyman_allocation must rank through the scalable primitives
    (ranking.global_dense_rank / global_running_sums), never a
    no-partitionBy Window — pinned two ways: (a) the forbidden
    construct is absent from each function's source, and (b) the
    composed physical plans carry no Window fed by an
    Exchange SinglePartition."""
    import inspect

    from barkingowl_spark.operators import mix, politeness

    for fn in (politeness.waterfill_budget, politeness.ucb_host_ranks,
               mix.neyman_allocation):
        src = inspect.getsource(fn)
        assert "Window.orderBy" not in src, fn.__name__
        assert "Window.partitionBy(F.lit" not in src, fn.__name__

    def no_1p_window(plan: str):
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Window " in ln:
                ctx = "\n".join(lines[i + 1:i + 3])
                assert "Exchange SinglePartition" not in ctx, plan

    q = spark.createDataFrame(
        pd.DataFrame({"host": [f"h{i}" for i in range(40)],
                      "n_queued": [i % 9 + 1 for i in range(40)]}))
    no_1p_window(_plan(politeness.waterfill_budget(q, 60)))

    stats = spark.createDataFrame(
        pd.DataFrame({"host": [f"h{i}" for i in range(20)],
                      "n": [i + 1 for i in range(20)],
                      "reward": [i % 5 for i in range(20)]}))
    no_1p_window(_plan(politeness.ucb_host_ranks(stats, k=7)))

    docs = spark.createDataFrame(
        pd.DataFrame({"source": [f"s{i % 4}" for i in range(40)],
                      "val": [(i * 13) % 21 for i in range(40)]}))
    no_1p_window(_plan(mix.neyman_allocation(docs, budget=25)))
