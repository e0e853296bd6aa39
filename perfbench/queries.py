"""The 16 headline analytic queries, timed and checked.

``run_queries`` runs each query through ``__spark_entry__.queries()``
over the tables in ``DATA`` (the customer, orders, events, documents and
embeddings tables of the sf0.01 testdata in TESTDATA.md, copied here because
a run reads only inside its checkout) and compares the result's value
hash with its ``oracle_sql()`` answer from DuckDB, outside the timed
call.
"""

from __future__ import annotations

import math
import os
import time

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                    "data", "sf0.01")
HEADLINE_QUERIES = (
    "o5_fetch_join", "o12_anti_join_dedup", "o16_wave_counters",
    "o18_bfs_order", "o20_politeness_topk", "events_sessionize",
    "dedup_exact", "dedup_jaccard", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_embed_cosine", "sim_topk_dot", "ann_ivf_topk", "text_token_stats",
    "text_langid", "mm_decode_stub",
)
TABLES = ("customer", "orders", "events", "documents", "embeddings")


def run_queries(spark) -> tuple[dict, int, int]:
    """({query: (seconds, rows)}, attempted, failed). A query fails when
    it raises or its value hash differs from DuckDB's oracle_sql()."""
    import duckdb

    import __spark_entry__ as entry
    from tools.compare_oracle import vhash

    queries, oracle = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{DATA}/{t}.parquet'")
    out, failed = {}, 0
    for name in HEADLINE_QUERIES:
        try:
            t0 = time.perf_counter()
            got = queries[name](spark, DATA).toPandas()
            out[name] = (time.perf_counter() - t0, len(got))
            want = con.sql(oracle[name]).df()
        except Exception as ex:  # noqa: BLE001 - a failed call, reported
            print(f"# query {name} failed: {ex!r}"[:300], flush=True)
            failed += 1
            continue
        if (sorted(got.columns) != sorted(want.columns)
                or vhash(got) != vhash(want)):
            print(f"# query {name}: result differs from oracle_sql()",
                  flush=True)
            failed += 1
    con.close()
    return out, len(HEADLINE_QUERIES), failed


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0
