"""Per-round benchmark (driver contract). Prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "crawl": {...}}

Covers: the crawl wave pipeline (the engine's reason to exist — frontier
expansion throughput on a deterministic synthetic corpus, seed 42, no
external data) and the headline analytic queries from __spark_entry__ at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Query timing uses the noop sink (full materialization, no driver
collect). Scaling evidence across two parallelism levels is produced by
tools/bench_scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Defaults sized so the crawl component is COMPUTE-dominated (the parse
# UDF over ~KB-scale html is the realistic cost of a fetch pipeline), not
# per-wave scheduling overhead: ~100k fetched pages of ~2.5KB html.
BENCH_CORPUS_PAGES = int(os.environ.get("BOW_BENCH_PAGES", "200000"))
BENCH_CORPUS_HOSTS = int(os.environ.get("BOW_BENCH_HOSTS", "200"))
BENCH_SEEDS = int(os.environ.get("BOW_BENCH_SEEDS", "100"))
BENCH_MAX_DEPTH = int(os.environ.get("BOW_BENCH_DEPTH", "5"))
BENCH_PAGE_TOKENS = int(os.environ.get("BOW_BENCH_TOKENS", "400"))
BENCH_LINKS = int(os.environ.get("BOW_BENCH_LINKS", "12"))
CORPUS_DIR = os.environ.get(
    "BOW_BENCH_CORPUS",
    f"/tmp/bow_bench_corpus_p{BENCH_CORPUS_PAGES}_h{BENCH_CORPUS_HOSTS}"
    f"_t{BENCH_PAGE_TOKENS}_l{BENCH_LINKS}",
)

HEADLINE_QUERIES = [
    "o5_fetch_join",
    "o12_anti_join_dedup",
    "o16_wave_counters",
    "o18_bfs_order",
    "o20_politeness_topk",
    "events_sessionize",
    "dedup_exact",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_embed_cosine",
    "sim_topk_dot",
    "ann_ivf_topk",
    "text_token_stats",
    "text_langid",
    "mm_decode_stub",
]

# Historical per-query envelopes at the driver contract point (sf0.1,
# local[32]) spanning BOTH host eras this repo has measured on:
# [0.5 * min(r01, r02), 2.0 * max(r01, r02)] seconds — r01 ran on the
# fast pre-reboot instance, r02 on the ~1.6-2x-slower post-reboot one
# (BENCH/BASELINE.md "Post-reboot drift"), so the band absorbs the
# documented host swing and a breach means a PLAN change, not noise.
QUERY_ENVELOPES_SF01 = {
    "o5_fetch_join": (0.87, 5.54),
    "o12_anti_join_dedup": (0.45, 3.14),
    "o16_wave_counters": (0.41, 2.92),
    "o18_bfs_order": (0.36, 2.30),
    "o20_politeness_topk": (0.27, 1.57),
    "events_sessionize": (0.34, 1.76),
    "dedup_exact": (0.27, 1.62),
    "dedup_jaccard": (2.31, 10.48),
    "dedup_minhash_lsh": (0.96, 5.62),
    "dedup_simhash": (0.68, 3.85),
    "dedup_embed_cosine": (1.58, 8.88),
    "sim_topk_dot": (0.32, 1.86),
    "ann_ivf_topk": (0.54, 4.14),
    "text_token_stats": (0.16, 0.77),
    "text_langid": (0.23, 1.16),
    "mm_decode_stub": (0.17, 0.89),
}


# Phase-conditioned normalized sub-bands (r3 verdict item 6): the
# single 3.8-6.8 envelope spanned both host-throttle phases, wide
# enough (1.8x) to hide a ~1.5x real plan regression. The control's
# own throughput discriminates the phase — measured history at the
# contract point (sf0.1 / local[32], BENCH/BASELINE.md "Normalized
# sub-bands"): throttled instances probe thr_hi ~376-425 and read
# norm 3.82-5.09; recovered/fast instances probe thr_hi ~444-476 and
# read norm 5.43-6.83. Each sub-band is the phase's observed range
# +-~20% margin; a reading inside the old union but outside its
# phase's sub-band is now a regression signal, not host noise.
#
# Third phase (r5 third session, 2026-08-22): the host entered a
# state where the SINGLE-PROCESS probe collapses (thr_hi ~275-313
# over six consecutive probes, ceiling_efficiency 0.67-0.69) while
# the 32-thread JVM runs FASTER than any recorded rep (headline
# 60.8-63.7 s, 3233-3449 urls/s — at/below the historical fast-phase
# raw band, so there is demonstrably no Spark regression; the
# probe's multiprocessing fan-out is what slowed). Observed norms
# 10.33 / 11.11; sub-band = +-~20%. The probe-slow floor 350
# sits in the gap between the new readings (max 313) and the old
# throttled phase's probes (min 376).
NORM_PHASE_THR_HI = 435.0  # tasks/s: fast-phase control floor
NORM_PHASE_PROBE_SLOW = 350.0  # below: probe-collapse phase
NORM_SUBBANDS = {
    "fast": (4.9, 7.5),
    "throttled": (3.4, 5.6),
    "probe-slow": (8.3, 13.3),
}


def norm_subband(control: dict) -> tuple[str, tuple[float, float]]:
    phase = ("fast" if control["thr_hi"] >= NORM_PHASE_THR_HI
             else "throttled"
             if control["thr_hi"] >= NORM_PHASE_PROBE_SLOW
             else "probe-slow")
    return phase, NORM_SUBBANDS[phase]


def control_probe(cpus: int, reps: int = 2) -> dict:
    """No-Spark CPU control (tools/cpu_control.py workload) run INLINE
    before the Spark session exists, so every BENCH_r{N}.json carries
    its own host-speed calibration: thr_hi (tasks/s of a fixed
    perfectly-parallel regex workload at the bench core count) is the
    denominator that makes crawl urls/s comparable across the
    instance reboots documented in BENCH/BASELINE.md, and
    ceiling_efficiency is the host's OWN scaling ceiling (any Spark
    scaling number must be read against it)."""
    import statistics

    from tools.cpu_control import run_level

    hi = max(2, int(cpus))
    lo = max(1, hi // 4)
    tasks = hi * 6
    run_level(lo, lo)  # warm the pool/page code paths
    thr: dict[int, list[float]] = {lo: [], hi: []}
    for _ in range(reps):
        for p in (lo, hi):
            thr[p].append(run_level(p, tasks))
    speedup = statistics.median(
        thr[hi][i] / thr[lo][i] for i in range(reps))
    return {
        "pair": [lo, hi],
        "thr_lo": round(statistics.median(thr[lo]), 1),
        "thr_hi": round(statistics.median(thr[hi]), 1),
        "unit": "tasks/s",
        "ceiling_efficiency": round(speedup / (hi / lo), 3),
    }


def ensure_corpus(spark) -> str:
    marker = os.path.join(CORPUS_DIR, "_BOW_DONE")
    if not os.path.exists(marker):
        from fixtures.gen_pages import write_bench_corpus

        write_bench_corpus(
            spark, CORPUS_DIR, n_pages=BENCH_CORPUS_PAGES,
            n_hosts=BENCH_CORPUS_HOSTS, page_tokens=BENCH_PAGE_TOKENS,
            links_per_page=BENCH_LINKS,
        )
        with open(marker, "w") as f:
            f.write("ok")
    return CORPUS_DIR


def bench_crawl(spark) -> dict:
    from pyspark.sql import functions as F

    from barkingowl_spark.plans.crawl import CrawlConfig, run_crawl
    from barkingowl_spark.schemas import SEED_SCHEMA

    pages = spark.read.parquet(ensure_corpus(spark))
    seeds = spark.createDataFrame(
        [
            (f"http://host{h}.bench/p0", f"host{h}", "bench",
             BENCH_MAX_DEPTH, "application/pdf", 0, h)
            for h in range(BENCH_SEEDS)
        ],
        SEED_SCHEMA,
    )
    ckpt = tempfile.mkdtemp(prefix="bow_bench_ckpt_")
    t0 = time.monotonic()
    state = run_crawl(
        spark, seeds, pages, CrawlConfig(checkpoint_dir=ckpt)
    )
    wall = time.monotonic() - t0
    urls = state.frontier().count()
    fetched = (
        state.metrics.agg(F.sum("pages_fetched")).collect()[0][0] or 0
    )
    docs = state.documents.count()
    return {
        "wall_s": round(wall, 2),
        "frontier_urls": int(urls),
        "pages_fetched": int(fetched),
        "docs_found": int(docs),
        "waves": state.wave,
        "urls_per_sec": round(urls / wall, 1),
    }


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out = {}
    for name in HEADLINE_QUERIES:
        t0 = time.monotonic()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.monotonic() - t0, 3)
    return out


def main() -> None:
    from barkingowl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    control = control_probe(int(cpus))
    spark = get_spark(
        app_name="barkingowl-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # sandbox corpora are a few hundred MB: split small so the
            # scan stage (which hosts the parse UDF) fans out past the
            # core count; a real deployment keeps 128MB+ splits
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/Arrow paths so per-query numbers measure the plan
    spark.read.parquet(f"{sf_dir}/events.parquet").count()

    queries = bench_queries(spark, sf_dir)
    crawl = bench_crawl(spark)
    total = round(sum(queries.values()) + crawl["wall_s"], 2)
    # normalized throughput: crawl urls/s per control tasks/s — the
    # host-speed-independent headline (BENCH/BASELINE.md pins its band)
    crawl["urls_per_control_unit"] = round(
        crawl["urls_per_sec"] / control["thr_hi"], 2)
    outside = {}
    at_contract = (sf_dir.rstrip("/").endswith("sf0.1")
                   and int(cpus) == 32)
    if at_contract:
        outside = {
            n: {"sec": queries[n], "envelope": list(env)}
            for n, env in QUERY_ENVELOPES_SF01.items()
            if n in queries
            and not env[0] <= queries[n] <= env[1]
        }
    # phase/band are calibrated at the contract point (thr_hi scales
    # with the core count) — off-contract they emit null
    if at_contract:
        phase, band = norm_subband(control)
        norm_check = {
            "phase": phase,
            "band": list(band),
            "value": crawl["urls_per_control_unit"],
            "in_band": band[0] <= crawl["urls_per_control_unit"]
            <= band[1],
        }
    else:
        norm_check = {
            "phase": None, "band": None,
            "value": crawl["urls_per_control_unit"], "in_band": None,
        }
    result = {
        "metric": "headline_suite_plus_crawl_wall",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf_dir,
        "crawl": crawl,
        "cpus": int(cpus),
        # self-calibration: absolute totals on this VM drift 1.6-2x
        # across reboots on identical code — read `value` against
        # `control.thr_hi` / the normalized urls_per_control_unit, and
        # treat a non-empty queries_outside_envelope as the plan-change
        # signal (the envelope already spans both host eras)
        "control": control,
        "queries_outside_envelope": outside,
        # r4: phase-conditioned sub-band (fast vs throttled, keyed on
        # control.thr_hi) — the sharp normalized guard; the legacy
        # 3.8-6.8 union remains as commentary in BENCH/BASELINE.md
        "norm_subband": norm_check,
        "baseline_note": "see BENCH/BASELINE.md normalized sub-bands",
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
