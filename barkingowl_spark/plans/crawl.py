"""The crawl wave loop — SURVEY.md section 3.2 (O5/O6/O13/O14/O16/O21/O22, D7/D8).

INGEST (once per run that fetches a wave — DESIGN.md "Parse-on-ingest";
a resume whose checkpoint has no wave left returns the checkpoint
without it): one parse pass over the corpus inside the scan stage
[O7/O8/O27] -> two cached narrow tables,
``ingest_pages(url, content_type, n_links, text_sha256, _txt_bad)``
and ``edges(src_url, pos, child_url, child_host)``. html never enters
the wave loop.

One wave = one DataFrame iteration over narrow rows only:

    due      = queue rows at the lowest incomplete depth          [O10]
    sched    = politeness top-B per host over due                 [O20, robots]
    parsed   = sched(+level ranks) JOIN ingest_pages              [O5/O13]
    links    = sched JOIN edges -> scope filter                   [O9, O11]
    fresh    = first-wins -> exact anti-join seen                 [O19, O12]
    typed    = fresh JOIN pages_ct -> doc | missing | queued | pruned [O15]
    queue'   = (queue - sched) UNION typed[queued]                [O21]
    archive += fetched UNION typed[terminal]                      [O22]
    docs    += typed[doc]                                         [O4]
    metrics += per-(wave, host) counters (one fused shuffle)      [O16, D7]
    checkpoint(queue', archive, docs, metrics, K+1)               [O6]

Scale notes (the 100TB design point, SURVEY.md section 4; full shuffle
inventory in DESIGN.md):
  * State is split into a small rewritten ``queue`` and an append-only
    ``archive`` so a wave never rewrites the 10^10-row frontier; the
    seen-set for the anti-join is the union of their narrow key projections
    (columnar scans prune to 2 columns).
  * The broadcast side of every wave join is the WAVE (politeness-bounded),
    never anything corpus-sized; big waves flip to shuffle-hash. The seen
    anti-join and typecheck are always shuffle-hash (growing/corpus-sized
    build sides must never be driver-broadcast per iteration).
  * The queue write repartitions by (host, salt) — pmod(url_hash, S) — to
    split hot hosts across executors (north_star skew rule); S is sized
    from the queue's row count, which the driver already holds as the
    level-sync scheduler state (no per-host counts ship to the driver).
  * spark.sql.shuffle.partitions is re-sized per wave with the explicit
    ceil(queue_rows / 4M) rule (north_rule) using the previous wave's
    counts; AQE coalesces the sandbox's tiny waves back down.
  * Level-synchronous scheduling (depth d only once d-1 is exhausted) keeps
    discovery_idx parent ranks stable under politeness deferral (O18/O20).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from barkingowl_spark.functions.canon import canonicalize, host_of
from barkingowl_spark.operators.dedup import anti_join_new
from barkingowl_spark.operators.match import matched_by_col
from barkingowl_spark.operators.ordering import (
    child_discovery_idx,
    first_discovery_wins,
    level_ranks,
    with_crawl_order,
)
from barkingowl_spark.operators.politeness import robots_filter, schedule_budget
from barkingowl_spark.session import shuffle_partitions_for
from barkingowl_spark.sources.tableio import ParquetDirsIO

# Plan constants, read by run_crawl at call time (tests monkeypatch them).
# Waves of at most this many queue rows are broadcast into the ingest
# joins (the corpus side never shuffles); bigger waves fall back to
# shuffle hash join + AQE (the 10^10 path, where the wave itself is too
# big to ship).
BROADCAST_WAVE_ROWS = 2_000_000
# Arrow batch rows for the parse UDF: real pages are tens of KB, so the
# session-wide 10k-row default would mean ~0.5GB batches per worker.
ARROW_BATCH_ROWS = 2048
# Hot-host salt for the frontier-queue write (north_star skew rule): S
# adapts per wave from the queue's row count, an upper bound on the
# hottest host's rows that the driver already holds exactly (the
# level-sync state due + children): S = ceil(queue_rows /
# SALT_TARGET_ROWS), clamped to [1, SALT_MAX].
SALT_TARGET_ROWS = 1_000_000
SALT_MAX = 256


def salt_for(queue_rows: int, target_rows: int, cap: int) -> int:
    """Adaptive hot-host salt: one salt bucket per ~target_rows rows of
    the queue, clamped to [1, cap]."""
    return max(1, min(cap, -(-queue_rows // target_rows)))


FRONTIER_COLS = [
    "seed_url", "url", "url_hash", "host", "depth", "discovery_idx",
    "parent_url", "status", "wave", "text_sha256", "matched_by", "doc_type",
]

METRIC_COUNTERS = [
    "pages_fetched", "pages_missing", "links_extracted", "new_urls",
    "new_queued", "docs_found", "text_mismatch",
]


@dataclass
class CrawlConfig:
    checkpoint_dir: str
    host_budget: int | None = None          # O20; None = oracle-match mode
    max_waves: int = 100_000
    # Build the robots dim table FROM THE CORPUS (north_star: "robots.txt
    # caching"): parse http(s)://<host>/robots.txt rows into
    # (host, disallow_prefixes, crawl_delay) once per run
    # (operators/robots.py), cache it, and apply it as the politeness
    # link filter. False = no robots rules.
    robots_from_corpus: bool = False
    # Crawl-delay semantics (batch wave model): one wave stands for a
    # politeness window of this many seconds, so a host with
    # Crawl-delay d gets floor(seconds / d) fetch slots per wave
    # (min 1 — every host progresses). None = ignore Crawl-delay.
    # Deferral preserves discovery keys, so the trace order is invariant
    # (same guarantee as host_budget).
    politeness_wave_seconds: int | None = None
    # checkpoint backend: None -> ParquetDirsIO(checkpoint_dir) (sandbox);
    # a "catalog.ns.run" prefix -> IcebergIO (needs an Iceberg catalog in
    # the session; see sources/tableio.py::IcebergIO)
    iceberg_table_prefix: str | None = None
    # fold archive deltas older than the resume window into one compact
    # dir once more than this many accumulate (ParquetDirsIO; the Iceberg
    # backend gets the same via rewrite_data_files). None = never.
    archive_compact_every: int | None = 16
    # Opt-in URL-level frontier gate applied to candidate links right
    # after the robots filter, BEFORE hashing/dedup/enqueue — the hook
    # for operators/traps.py::trap_filter or a
    # functions/urlfilter.py::url_filter keep-projection. Receives the
    # links frame (has 'url', 'host', 'seed_url', ...) and must return
    # it filtered with columns intact. None = oracle-match mode (the
    # default plan is byte-identical).
    link_filter: object | None = None
    verify_text: bool = True                # input_hint byte-identity counter


@dataclass
class CrawlState:
    queue: DataFrame
    archive: DataFrame
    metrics: DataFrame
    wave: int
    totals: dict = field(default_factory=dict)

    @property
    def documents(self) -> DataFrame:
        """Found-document records (O4) — a VIEW of the archive (doc rows
        carry matched_by/doc_type), so no separate sink write per wave."""
        return self.archive.filter(F.col("status") == "doc").select(
            F.col("url").alias("doc_url"), "doc_type", "matched_by",
            "seed_url", "depth", "wave", "parent_url",
        )

    def frontier(self) -> DataFrame:
        return self.queue.unionByName(self.archive)

    def trace(self) -> DataFrame:
        """Golden-trace view: per-seed crawl_order by (depth, discovery_idx)."""
        return with_crawl_order(self.frontier()).select(
            "seed_url", "crawl_order", "url", "depth", "discovery_idx",
            "status", "text_sha256",
        )


def _seeds_cfg(spark: SparkSession, seeds: DataFrame) -> DataFrame:
    """Canonicalized seed config for the broadcast config join (O14).

    Seeds are tiny (driver-side canonicalization mirrors the oracle's)."""
    rows = seeds.collect()
    out = []
    seen: set[str] = set()
    # insertion-order dedup on the CANONICAL url: two seed rows that
    # canonicalize identically (dup entry, case variant, default port)
    # would otherwise build two identical frontier trees under one
    # seed_url key; first row wins (lowest seed_idx = dispatch order)
    for r in sorted(rows, key=lambda r: int(r["seed_idx"])):
        canon = canonicalize(r["url"], r["url"])
        if canon is None or canon in seen:
            continue
        seen.add(canon)
        out.append(
            (canon, host_of(canon), int(r["max_link_level"]), r["doc_type"],
             int(r["seed_idx"]))
        )
    return spark.createDataFrame(
        out, "seed_url string, seed_host string, max_link_level int, "
             "doc_type string, seed_idx int",
    )


def _typecheck(candidates: DataFrame, pages_ct: DataFrame,
               seeds_cfg: DataFrame) -> DataFrame:
    """Discovery-time typecheck (O15 + O10 boundary): assign status and
    matched_by to candidate rows carrying (seed_url, url, depth, ...).

    Each frontier URL passes through here exactly once (candidates are the
    post-dedup FRESH rows), so the total join volume over a run is the
    frontier size — that is why child content-type is resolved here and
    not precomputed for every edge at ingest. The caller picks the
    pages_ct plan: the wave loop hints shuffle_hash (partition-parallel
    build, no per-wave driver hash build, the only viable shape at
    10^10); the seed wave passes a broadcast-semi-restricted slice.
    Spark cannot broadcast the preserved side of an outer join, so the
    candidate side cannot ship to the corpus scan here."""
    with_cfg = candidates.join(F.broadcast(seeds_cfg), "seed_url")
    c = with_cfg.join(pages_ct, "url", "left")
    mb = matched_by_col(F.col("content_type"), F.col("url"), F.col("doc_type"))
    return (
        c.withColumn("matched_by", mb)
        .withColumn(
            "status",
            F.when(F.col("content_type").isNull(), "missing")
            .when(F.col("matched_by").isNotNull(), "doc")
            .when(F.col("depth") > F.col("max_link_level"), "pruned")
            .otherwise("queued"),
        )
        .withColumn("text_sha256", F.lit(None).cast("string"))
    )


def _seed_frontier_rows(pages_ct: DataFrame, seeds_cfg: DataFrame) -> DataFrame:
    seed_rows = seeds_cfg.select(
        F.col("seed_url"),
        F.col("seed_url").alias("url"),
        F.xxhash64("seed_url").alias("url_hash"),
        F.col("seed_host").alias("host"),
        F.lit(0).alias("depth"),
        F.lit(0).cast("long").alias("discovery_idx"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("wave"),
    )
    # The seed set is tiny but pages_ct is corpus-sized: restrict it to the
    # seed URLs with a broadcast LEFT SEMI first (a scan-side filter — no
    # corpus shuffle), so the wave-0 typecheck join is tiny-vs-tiny. Without
    # this, the left join below shuffles the whole (url, content_type)
    # projection to look up a handful of seeds.
    seed_ct = pages_ct.join(
        F.broadcast(seeds_cfg.select(F.col("seed_url").alias("url"))),
        "url", "left_semi",
    )
    return _typecheck(seed_rows, seed_ct, seeds_cfg)


def run_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    config: CrawlConfig,
    resume: bool = False,
) -> CrawlState:
    if config.iceberg_table_prefix:
        from barkingowl_spark.sources.tableio import IcebergIO

        io = IcebergIO(config.iceberg_table_prefix)
    else:
        io = ParquetDirsIO(
            config.checkpoint_dir,
            compact_every=config.archive_compact_every,
        )

    def _load(wave: int) -> CrawlState:
        return CrawlState(
            queue=io.read_queue(spark, wave),
            archive=io.read_archive(spark, wave),
            metrics=io.read_metrics(spark, wave),
            wave=wave,
        )

    # driver-side level-sync scheduler state (SURVEY.md O18/O20): depth d is
    # fetched until exhausted, children accumulate at d+1. Maintained from
    # the per-wave metrics collect — no extra min/count jobs per wave. A
    # resume reads it from the checkpoint before anything else is built.
    start_wave = io.latest_wave() if resume else None
    if start_wave is not None:
        state = _load(start_wave)
        sched_meta = io.read_meta(start_wave).get("sched")
        if sched_meta is None:  # resumed at wave 0 (only seeds committed)
            d, due_remaining, children = 0, state.queue.count(), 0
        else:
            d, due_remaining, children = (
                sched_meta["d"], sched_meta["due"], sched_meta["children"],
            )
        # the wave loop's own exit test, before any job: a checkpoint with
        # nothing due at d or d+1, or at the wave cap, is the final state —
        # return it before the seeds collect, robots dim and corpus parse,
        # none of which it needs
        if (state.wave >= config.max_waves
                or (due_remaining <= 0 and children <= 0)):
            return state
    seeds_cfg = _seeds_cfg(spark, seeds)
    from pyspark import StorageLevel

    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        str(ARROW_BATCH_ROWS),
    )
    fetch_cols = ["url", "html"] + (["text"] if config.verify_text else [])
    corpus = pages.select(*fetch_cols)
    robots = None
    if config.robots_from_corpus:
        # One narrow corpus scan (url filter pushed to parquet; html read
        # only for the ~one-row-per-host robots subset), parsed with pure
        # relational dataflow and CACHED for the run — the wave loop
        # broadcasts the cached dim, never re-scans the corpus.
        from barkingowl_spark.operators.robots import robots_rules

        robots = robots_rules(pages.select("url", "html")).persist(
            StorageLevel.MEMORY_AND_DISK)
        robots.count()
    host_budgets = None
    if config.politeness_wave_seconds is not None and robots is not None:
        host_budgets = robots.filter(F.col("crawl_delay") > 0).select(
            "host",
            F.greatest(
                F.lit(1),
                (F.lit(config.politeness_wave_seconds)
                 / F.col("crawl_delay")).cast("int"),
            ).alias("host_budget"),
        )
    # Parse-on-ingest (the Common-Crawl WAT pattern): the parse UDF's
    # output per url is wave-independent, so it runs ONCE over the whole
    # corpus, inside the parquet-scan stage — html bytes are read exactly
    # once per run and never leave that stage. This is also the 10^10
    # design point: link extraction is a corpus-ingest job whose output
    # is a materialized Iceberg side table (CC publishes WAT link files
    # for exactly this reason). Output is TWO narrow cached tables — the
    # wave loop never touches html, never re-broadcasts a corpus-sized
    # side, and never runs a UDF again:
    #   ingest_pages(url, content_type, n_links, text_sha256, _txt_bad)
    #   edges(src_url, pos, child_url, child_host)
    # Child content-type is NOT resolved here: joining all ~L*N edges
    # against pages_ct up front costs an L*N-row shuffle, while the
    # per-wave typecheck only ever joins each *fresh* URL once
    # (sum over waves = frontier size << edge count) — see _typecheck.
    from barkingowl_spark.plans.ingest import (
        edges_of,
        ingest_pages_of,
        parsed_corpus,
    )

    # parsedc is cached only while the two derived tables materialize —
    # otherwise the parse pass would run once per derived table
    parsedc = parsed_corpus(corpus, config.verify_text).persist(
        StorageLevel.MEMORY_AND_DISK)
    ingest_pages = ingest_pages_of(parsedc).persist(
        StorageLevel.MEMORY_AND_DISK)
    pages_ct = ingest_pages.select("url", "content_type")
    edges = edges_of(parsedc).persist(StorageLevel.MEMORY_AND_DISK)
    _t_ing = time.monotonic()
    ingest_pages.count()   # parse runs exactly once, here
    edges.count()          # from cached parsedc
    parsedc.unpersist()
    if os.environ.get("BOW_TIMING") == "1":
        print(f"BOW_TIMING ingest={time.monotonic() - _t_ing:.2f}",
              flush=True)

    if start_wave is None:
        _t_seed = time.monotonic()
        typed0 = _seed_frontier_rows(pages_ct, seeds_cfg)
        queue0 = typed0.filter(F.col("status") == "queued").select(
            *FRONTIER_COLS)
        io.write_wave(
            0,
            # repartition(1), NOT coalesce(1): coalesce would collapse the
            # (narrow) broadcast-semi typecheck into one task that scans
            # the corpus-sized pages_ct cache serially — the shuffle
            # boundary keeps the scan parallel and ships only seed rows
            queue0.repartition(1),
            typed0.filter(F.col("status") != "queued")
            .select(*FRONTIER_COLS).repartition(1),
            {"totals": {}, "sched": None},
        )
        state = _load(0)
        d, due_remaining, children = 0, state.queue.count(), 0
        if os.environ.get("BOW_TIMING") == "1":
            print(f"BOW_TIMING seed_wave={time.monotonic() - _t_seed:.2f}",
                  flush=True)

    default_par = spark.sparkContext.defaultParallelism
    while state.wave < config.max_waves:
        t0 = time.monotonic()
        if due_remaining <= 0:
            d, due_remaining, children = d + 1, children, 0
        if due_remaining <= 0:
            break
        queue_rows = due_remaining + children
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions_for(queue_rows, default_par)),
        )
        wave = state.wave + 1

        due = state.queue.filter(F.col("depth") == d)
        sched = schedule_budget(due, config.host_budget, host_budgets)

        # full level membership (queued + already fetched) -> stable ranks
        ranks = level_ranks(state.frontier(), d)

        # the wave probes the two cached NARROW ingest tables — no html,
        # no UDF, and no corpus-sized broadcast build in the loop (the
        # broadcast side is always the wave itself); only the columns the
        # fetched rows carry, so the wave side ships narrow
        small_wave = queue_rows <= BROADCAST_WAVE_ROWS
        sched_r = sched.select(
            "seed_url", "url", "url_hash", "host", "depth", "discovery_idx",
            "parent_url", "wave",
        ).join(ranks, ["seed_url", "url_hash"])
        if small_wave:
            parsed = ingest_pages.join(
                F.broadcast(sched_r), "url", "inner"
            ).persist()
        else:
            parsed = sched_r.join(
                ingest_pages.hint("shuffle_hash"), "url", "inner"
            ).persist()
        wave_parents = parsed.select(
            F.col("url").alias("src_url"), "seed_url", "parent_rank"
        )
        if small_wave:
            raw_links = edges.join(
                F.broadcast(wave_parents), "src_url", "inner"
            )
        else:
            raw_links = wave_parents.join(
                edges.hint("shuffle_hash"), "src_url", "inner"
            )
        links = (
            raw_links.select(
                "seed_url",
                F.col("src_url").alias("parent_url"),
                "parent_rank", "pos",
                F.col("child_url").alias("url"),
                F.col("child_host").alias("host"),
            )
            .join(
                F.broadcast(seeds_cfg.select("seed_url", "seed_host")),
                "seed_url",
            )
            .filter(F.col("host") == F.col("seed_host"))  # O9
            .drop("seed_host")
        )
        links = robots_filter(links, robots)
        if config.link_filter is not None:
            links = config.link_filter(links)
        links = links.select(
            "seed_url", "url",
            F.xxhash64("url").alias("url_hash"),
            "host",
            F.lit(d + 1).alias("depth"),
            child_discovery_idx(F.col("parent_rank"), F.col("pos"))
            .alias("discovery_idx"),
            "parent_url",
            F.lit(wave).alias("wave"),
        )

        # O19 then O12: first-wins collapses same-URL discoveries, then the
        # exact anti-join drops what an earlier wave already holds. The
        # window shuffles candidates on (seed_url, url_hash), the join key,
        # so the anti-join reuses that partitioning: one candidate shuffle.
        deduped = first_discovery_wins(links)
        seen_keys = state.frontier().select("seed_url", "url_hash")
        fresh = anti_join_new(deduped, seen_keys)
        typed = _typecheck(
            # pages_ct is a cached corpus-sized projection that must grow
            # no hash-build on the driver — shuffle-hash keeps the per-wave
            # build partition-parallel (same rationale as the seen
            # anti-join; it is also the only viable plan at 10^10)
            fresh, pages_ct.hint("shuffle_hash"), seeds_cfg,
        ).persist()
        t_typed = time.monotonic()

        fetched_rows = parsed.select(
            "seed_url", "url", "url_hash", "host", "depth", "discovery_idx",
            "parent_url", F.lit("fetched").alias("status"),
            F.lit(wave).alias("wave"), "text_sha256",
            F.lit(None).cast("string").alias("matched_by"),
            F.lit(None).cast("string").alias("doc_type"),
        )

        new_queue_rows = typed.filter(F.col("status") == "queued").select(
            *FRONTIER_COLS
        )
        new_terminal = typed.filter(F.col("status") != "queued").select(
            *FRONTIER_COLS
        )
        if config.host_budget is None and host_budgets is None:
            # no budget of any kind -> sched == due == every depth-d row,
            # so "queue minus scheduled" is a pure depth filter (no
            # anti-join shuffle of the queue per wave)
            queue_rest = state.queue.filter(F.col("depth") != d)
        else:
            sched_keys = sched.select("seed_url", "url_hash")
            queue_rest = state.queue.join(
                sched_keys, ["seed_url", "url_hash"], "left_anti"
            )
        queue2 = queue_rest.unionByName(new_queue_rows)
        archive_delta = fetched_rows.unionByName(new_terminal)

        # D7 metrics: parent-host + child-host counters, merged in
        # one shuffle, not three: parent- and child-side counters union
        # into a single groupBy(host) (each side zero-fills the other's
        # counters) instead of two groupBys + a full_outer join
        _z = F.lit(0).cast("long")
        m_parent = parsed.select(
            "host",
            F.lit(1).cast("long").alias("pages_fetched"),
            F.col("n_links").cast("long").alias("links_extracted"),
            F.col("_txt_bad").cast("long").alias("text_mismatch"),
            _z.alias("pages_missing"), _z.alias("new_urls"),
            _z.alias("new_queued"), _z.alias("docs_found"),
        )
        m_child = typed.select(
            "host",
            _z.alias("pages_fetched"), _z.alias("links_extracted"),
            _z.alias("text_mismatch"),
            (F.col("status") == "missing").cast("long").alias(
                "pages_missing"),
            F.lit(1).cast("long").alias("new_urls"),
            (F.col("status") == "queued").cast("long").alias("new_queued"),
            (F.col("status") == "doc").cast("long").alias("docs_found"),
        )
        m_df = (
            m_parent.unionByName(m_child)
            .groupBy("host")
            .agg(*[F.sum(c).alias(c) for c in METRIC_COUNTERS])
            .select(F.lit(wave).alias("wave"), "host", *METRIC_COUNTERS)
        )
        # Full metrics rows are written DISTRIBUTED (never collected — at
        # 10^10 hosts the per-wave host list must not ship to the driver).
        # The scheduler's two scalar totals ride the SAME write job via
        # Observation: one job per wave for all metrics work, zero persists.
        from pyspark.sql import Observation

        obs_aggs = [
            F.sum("pages_fetched").alias("fetched"),
            F.sum("new_queued").alias("queued"),
        ]
        obs = Observation()
        # metrics rows are ~bytes/host: coalesce the write to the same
        # row-scaled file count as the queue (1 in the sandbox; grows with
        # the wave at 10^10 hosts) so the commit isn't 32 empty tasks
        n_met = max(1, min(default_par, queue_rows // 250_000 + 1))
        io.write_metrics_df(
            wave, m_df.observe(obs, *obs_aggs).coalesce(n_met)
        )
        totals = obs.get
        t_compute = time.monotonic()
        sched_total = int(totals["fetched"] or 0)
        new_queued_total = int(totals["queued"] or 0)
        due_remaining -= sched_total
        children += new_queued_total
        # due + children is exactly queue2's row count
        cur_salt = salt_for(due_remaining + children, SALT_TARGET_ROWS,
                            SALT_MAX)

        n_out = max(1, min(default_par, queue_rows // 250_000 + 1))
        # frontier rows repartition by (host, salted hash) — north_star's
        # skew rule, applied to the narrow queue (hot hosts split over
        # cur_salt buckets; nothing reads the layout back — a budgeted
        # politeness window re-shuffles by host next wave)
        io.write_wave(
            wave,
            queue2.repartition(
                n_out, F.col("host"),
                F.pmod(F.col("url_hash"), F.lit(cur_salt)),
            ),
            archive_delta.repartition(n_out),
            {"totals": {"last_queue_rows": queue_rows,
                        "wall_s": time.monotonic() - t0},
             "sched": {"d": d, "due": due_remaining, "children": children}},
        )
        t_write = time.monotonic()
        parsed.unpersist()
        typed.unpersist()
        state = _load(wave)
        if os.environ.get("BOW_TIMING") == "1":
            print(
                f"BOW_TIMING wave={wave} d={d} sched={sched_total} "
                f"new_q={new_queued_total} "
                f"compute={t_typed - t0:.2f} metrics={t_compute - t_typed:.2f} "
                f"write={t_write - t_compute:.2f} "
                f"load={time.monotonic() - t_write:.2f}",
                flush=True,
            )
    ingest_pages.unpersist()
    edges.unpersist()
    if robots is not None:
        robots.unpersist()
    return state
