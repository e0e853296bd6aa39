"""Crawl benchmark for bowspark: one seeded workload per run.

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run generates (or reuses) the
workload's corpus from --seed, starts one SparkSession at
local[<nproc>], warms it up with a short untimed crawl of the same
corpus, then measures ``run_crawl`` on a fresh checkpoint and
``run_crawl(resume=True)`` on the finished one, repeating while less
than --seconds have passed.
Every crawl and resume is checked against the frozen oracle's answer
outside the timed region. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs one untraced
crawl, one traced crawl (perfbench/trace.py) and the 16 headline
analytic queries (perfbench/queries.py), and reports the per-layer
metrics plus the tracing overhead. Inputs, checkpoints and span files
live under .perfbench_work/ in the checkout. Workload parameters and
the layers each one stresses or skips are recorded in
perfbench/workloads.json; perfbench/README.md describes the metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def info(**kw) -> None:
    print("# " + json.dumps(kw), flush=True)


class PeakRss(threading.Thread):
    """High-water resident memory of this process and all its
    descendants (the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for e in os.listdir("/proc"):
            if not e.isdigit():
                continue
            try:
                with open(f"/proc/{e}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{e}/statm") as f:
                    rss[int(e)] = int(f.read().split()[1]) * self._page
            except (FileNotFoundError, ProcessLookupError, IndexError):
                continue
            parent[int(e)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree = {os.getpid()}
        grew = True
        while grew:
            kids = {p for p, pp in parent.items() if pp in tree} - tree
            tree |= kids
            grew = bool(kids)
        return sum(rss.get(p, 0) for p in tree)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 1e6


def manifest_times(ckpt: str) -> list[float]:
    """Commit time of each wave (its manifest's mtime), in wave order."""
    waves = sorted(
        int(e.split("=", 1)[1]) for e in os.listdir(ckpt)
        if e.startswith("wave=") and not e.endswith(".tmp")
        and os.path.exists(os.path.join(ckpt, e, "manifest.json")))
    return [os.stat(os.path.join(ckpt, f"wave={w}", "manifest.json")).st_mtime
            for w in waves]


def wave_seconds(ckpt: str) -> list[float]:
    t = manifest_times(ckpt)
    return [b - a for a, b in zip(t, t[1:])]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def start_spark(n: int, traced: bool):
    from barkingowl_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the corpora are small; keep the shared host's memory free
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # no hsperfdata files in the host's /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the corpora are tens of MB: split the scan (which hosts the
            # parse UDF) into several partitions per core
            "spark.sql.files.maxPartitionBytes": str(4 << 20),
        } | ({
            # job/stage records and live executor totals the traced run
            # reads back; an untraced run keeps Spark's defaults
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.liveUpdate.period": "0",
        } if traced else {}),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def seeds_frame(spark, seeds: list[dict]):
    from barkingowl_spark.schemas import SEED_SCHEMA

    return spark.createDataFrame(
        [(s["url"], s["title"], s["description"], s["max_link_level"],
          s["doc_type"], s["frequency_min"], s["seed_idx"]) for s in seeds],
        SEED_SCHEMA)


def crawl_config(crawl: dict, ckpt: str):
    from barkingowl_spark.plans.crawl import CrawlConfig

    return CrawlConfig(
        checkpoint_dir=ckpt,
        host_budget=crawl["host_budget"],
        robots_from_corpus=crawl["robots_from_corpus"],
        politeness_wave_seconds=crawl["politeness_wave_seconds"],
        archive_compact_every=crawl["archive_compact_every"],
    )


def warm_up(spark, meta: dict, crawl: dict, ckpt: str) -> None:
    """Untimed crawl of the workload's corpus and configuration, stopped
    after the first wave of the loop (max_waves=1). That compiles every
    plan shape the measured crawl runs, since budget, robots, dedup,
    ordering and checkpoint plans do not change shape with depth or
    deferral; without it the first crawl in a fresh JVM is 15-100%
    slower than the next. The JIT keeps speeding the JVM up for about
    one more crawl's worth of work, so the measured crawl is still
    slower than a second one would be; a full crawl as warm-up would
    close that gap but does not fit the run's time."""
    import dataclasses

    import barkingowl_spark.plans.crawl as crawl_mod

    crawl_mod.run_crawl(
        spark, seeds_frame(spark, meta["seeds"]),
        spark.read.parquet(meta["pages_dir"]),
        dataclasses.replace(crawl_config(crawl, ckpt), max_waves=1))
    # collect the warm-up's garbage now, not during the measured crawl
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def outputs_digest(state) -> tuple[str, int]:
    """(digest of trace + documents, frontier rows), comparable with
    gen.corpus()'s oracle_digest."""
    from perfbench.gen import digest

    trace = [tuple(r) for r in state.trace().select(
        "seed_url", "crawl_order", "url", "depth", "discovery_idx",
        "status", "text_sha256").collect()]
    docs = [tuple(r) for r in state.documents.select(
        "seed_url", "doc_url", "depth", "parent_url", "matched_by").collect()]
    return digest(trace) + digest(docs), len(trace)


def text_mismatches(state) -> int:
    from pyspark.sql import functions as F

    return int(state.metrics.agg(F.sum("text_mismatch")).collect()[0][0] or 0)


class Unit:
    """One measured crawl + resume, with its checks."""

    def __init__(self, spark, meta: dict, crawl: dict, ckpt: str):
        self.spark, self.meta, self.cfg, self.ckpt = spark, meta, crawl, ckpt
        self.attempted = self.failed = 0
        self.state = None
        self.crawl_s = self.resume_s = None
        self.frontier = 0
        self.waves: list[float] = []
        self.ckpt_bytes = 0

    def _call(self, resume: bool):
        import barkingowl_spark.plans.crawl as crawl_mod

        pages = self.spark.read.parquet(self.meta["pages_dir"])
        seeds = seeds_frame(self.spark, self.meta["seeds"])
        cfg = crawl_config(self.cfg, self.ckpt)
        t0 = time.perf_counter()
        state = crawl_mod.run_crawl(self.spark, seeds, pages, cfg,
                                    resume=resume)
        return state, time.perf_counter() - t0

    def crawl(self) -> None:
        self.attempted += 1
        try:
            self.state, self.crawl_s = self._call(resume=False)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return
        self.waves = wave_seconds(self.ckpt)
        self.ckpt_bytes = dir_bytes(self.ckpt)

    def check_crawl(self) -> bool:
        """Oracle digest and text_mismatch checks of the crawl; a failed
        check counts as a failed call."""
        if self.state is None:
            return False
        got, self.frontier = outputs_digest(self.state)
        bad = text_mismatches(self.state)
        if got != self.meta["oracle_digest"] or bad:
            info(check="crawl", oracle_match=got == self.meta["oracle_digest"],
                 text_mismatch=bad)
            self.failed += 1
        return True

    def check_and_resume(self) -> None:
        """Crawl checks, then the timed resume and its checks."""
        if not self.check_crawl():
            return
        self.attempted += 1
        try:
            resumed, self.resume_s = self._call(resume=True)
            got, _ = outputs_digest(resumed)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return
        if (resumed.wave != self.state.wave
                or got != self.meta["oracle_digest"]):
            info(check="resume", waves=[self.state.wave, resumed.wave])
            self.failed += 1


def end_to_end(units: list[Unit], setup_s: float, rss_mb: float) -> dict:
    ok = [u for u in units if u.crawl_s is not None]
    med = statistics.median
    out = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss_mb, "MB")}
    if ok:
        out["crawl_s"] = (med(u.crawl_s for u in ok), "s")
        out["urls_per_s"] = (med(u.frontier / u.crawl_s for u in ok), "URL/s")
        out["wave_p50_s"] = (med(w for u in ok for w in u.waves), "s")
        out["ckpt_bytes_per_url"] = (
            med(u.ckpt_bytes / u.frontier for u in ok), "B/URL")
    resumed = [u.resume_s for u in ok if u.resume_s is not None]
    if resumed:
        out["resume_s"] = (med(resumed), "s")
    return out


def untraced_wave_jobs(spark, group: str, ckpt: str) -> dict:
    """Median Spark jobs, stages and tasks per wave of an untraced crawl
    run under job group ``group``: each job is placed in the wave whose
    manifest-to-manifest interval holds its submission time."""
    jvm_sc = spark.sparkContext._jsc.sc()
    jvm_sc.listenerBus().waitUntilEmpty()
    store = jvm_sc.statusStore()
    edges = [t * 1000.0 for t in manifest_times(ckpt)]
    per = [[0, 0, 0] for _ in edges[1:]]
    for jid in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        sub = jd.submissionTime()
        if not sub.isDefined():
            continue
        t = sub.get().getTime()
        for i in range(len(per)):
            if edges[i] < t <= edges[i + 1]:
                per[i][0] += 1
                per[i][1] += jd.numCompletedStages()
                per[i][2] += jd.numCompletedTasks()
    med = statistics.median
    return {
        "crawl.jobs_per_wave": med(p[0] for p in per) if per else 0,
        "crawl.stages_per_wave": med(p[1] for p in per) if per else 0,
        "crawl.tasks_per_wave": med(p[2] for p in per) if per else 0,
    }


def per_layer(tracer, meta: dict, base: Unit, traced_s: float) -> dict:
    from perfbench.trace import LAYERS, layer_counters, median, self_time

    a, spans = tracer.acc, tracer.spans

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    waves = [s for s in spans if s["name"].startswith("wave")]
    pre = [s for s in spans if s["name"] == "crawl.preloop"]
    pre_s = sum(
        (p["end"] - p["start"]) - sum(
            k["end"] - k["start"] for k in spans
            if k["parent"] == p["id"] and k["layer"] in ("ingest", "robots"))
        for p in pre)
    m = {
        "ingest.parse_s": (a["ingest.parse_s"], "s"),
        "ingest.html_mb_per_s": (
            ratio(meta["html_bytes"] / 1e6, a["ingest.parse_s"]), "MB/s"),
        "ingest.pages": (a["ingest.pages"], "count"),
        "ingest.edges": (a["ingest.edges"], "count"),
        "dedup.anti_join_s": (a["dedup.anti_join_s"], "s"),
        "dedup.bloom_add_s": (a["dedup.bloom_add_s"], "s"),
        "dedup.candidates": (a["dedup.candidates"], "count"),
        "dedup.grows": (a["dedup.grows"], "count"),
        "dedup.fresh_ratio": (
            ratio(a["dedup.fresh"], a["dedup.candidates"]), "ratio"),
        "dedup.prefilter_pass_ratio": (
            ratio(a["dedup.passed"], a["dedup.candidates"]), "ratio"),
        "dedup.prefilter_fp_ratio": (
            ratio(a["dedup.passed_fresh"], a["dedup.fresh"]), "ratio"),
        "dedup.snapshot_bytes": (
            median(tracer.snapshot_bytes), "B"),
        "ordering.level_ranks_s": (a["ordering.level_ranks_s"], "s"),
        "ordering.first_wins_s": (a["ordering.first_wins_s"], "s"),
        "ordering.dup_collapse_ratio": (
            1 - ratio(a["ordering.links_out"], a["ordering.links_in"]),
            "ratio"),
        "politeness.schedule_s": (a["politeness.schedule_s"], "s"),
        "politeness.deferred_ratio": (
            1 - ratio(a["politeness.sched"], a["politeness.due"]), "ratio"),
        "politeness.robots_filter_s": (a["politeness.robots_filter_s"], "s"),
        "politeness.robots_drop_ratio": (
            1 - ratio(a["politeness.links_out"], a["politeness.links_in"]),
            "ratio"),
        "robots.rules_s": (a["robots.rules_s"], "s"),
        "robots.hosts": (a["robots.hosts"], "count"),
        "tableio.write_wave_s": (a["tableio.write_wave_s"], "s"),
        "tableio.write_metrics_s": (a["tableio.write_metrics_s"], "s"),
        "tableio.read_s": (a["tableio.read_s"], "s"),
        "tableio.files_written": (a["tableio.files_written"], "count"),
        "tableio.bytes_written": (a["tableio.bytes_written"], "B"),
        "tableio.compactions": (a["tableio.compactions"], "count"),
        "crawl.wave_self_s": (median(self_time(spans, w) for w in waves), "s"),
        "crawl.preloop_s": (pre_s, "s"),
        "crawl.waves": (len(waves), "count"),
        "trace.overhead_s": (traced_s - base.crawl_s, "s"),
    }
    counters = layer_counters(spans)
    for layer in LAYERS:
        m[f"{layer}.task_s"] = (counters[layer]["task_s"], "s")
        m[f"{layer}.shuffle_mb"] = (counters[layer]["shuffle_mb"], "MB")
    return m


def query_layer(spark) -> tuple[dict, int, int]:
    """The 16 headline analytic queries: per-query wall time and rows,
    their sum and geometric mean."""
    from perfbench.queries import geomean, run_queries

    res, attempted, failed = run_queries(spark)
    m = {}
    for name, (secs, rows) in res.items():
        m[f"q.{name}_s"] = (secs, "s")
        m[f"q.{name}_rows"] = (rows, "count")
    m["q.suite_s"] = (sum(s for s, _ in res.values()), "s")
    m["q.geomean_s"] = (geomean(s for s, _ in res.values()), "s")
    return m, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        specs = json.load(f)
    if args.workload not in specs:
        ap.error(f"unknown workload {args.workload!r}; one of {list(specs)}")
    spec = specs[args.workload]

    # everything a run writes stays in the checkout: Python and JVM temp
    # files, Spark scratch, and the workers' import path
    for d in ("tmp", "spark-local", "corpus", "runs", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None

    # the program: a checkout without it fails here, before any result
    import barkingowl_spark.plans.crawl  # noqa: F401
    from perfbench import gen

    meta = gen.corpus(os.path.join(WORK, "corpus"), args.workload, spec,
                      args.seed)
    n = len(os.sched_getaffinity(0))
    if args.trace:
        from tools.cpu_control import run_level

        info(host_probe_tasks_per_s=run_level(n, 2 * n), cpus=n,
             note="information only")

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    rss = PeakRss()
    rss.start()
    spark = None
    units: list[Unit] = []
    metrics: dict = {}
    q_attempted = q_failed = 0
    try:
        t0 = time.perf_counter()
        spark = start_spark(n, bool(args.trace))
        t_session = time.perf_counter() - t0
        warm_up(spark, meta, spec["crawl"], os.path.join(run_dir, "warm"))
        setup_s = time.perf_counter() - t0
        info(session_s=t_session, warm_up_s=setup_s - t_session)

        t_measure = time.perf_counter()
        sc = spark.sparkContext
        while True:
            unit = Unit(spark, meta, spec["crawl"],
                        os.path.join(run_dir, f"crawl{len(units)}"))
            sc.setJobGroup(f"pb-untraced-{len(units)}", "untraced crawl")
            unit.crawl()
            sc.setLocalProperty("spark.jobGroup.id", None)
            units.append(unit)
            if args.trace:  # the baseline for the tracing overhead
                unit.check_crawl()
                break
            unit.check_and_resume()
            if time.perf_counter() - t_measure >= args.seconds:
                break
        if args.trace:
            from perfbench.trace import traced

            base = units[0]
            unit = Unit(spark, meta, spec["crawl"],
                        os.path.join(run_dir, "traced"))
            with traced(spark, "t") as tracer:
                unit.crawl()
            unit.check_crawl()
            units.append(unit)
            tracer.dump(os.path.join(
                WORK, "traces",
                f"{args.workload}-s{args.seed}-{os.getpid()}.json"))
            if base.crawl_s is not None and unit.crawl_s is not None:
                metrics = per_layer(tracer, meta, base, unit.crawl_s)
                metrics.update({k: (v, "count") for k, v in
                                untraced_wave_jobs(spark, "pb-untraced-0",
                                                   base.ckpt).items()})
            q_metrics, q_attempted, q_failed = query_layer(spark)
            metrics.update(q_metrics)
    finally:
        if spark is not None:
            stop_spark(spark)
        rss_mb = rss.stop()
    if not args.trace:
        metrics = end_to_end(units, setup_s, rss_mb)

    attempted = sum(u.attempted for u in units) + q_attempted
    failed = sum(u.failed for u in units) + q_failed
    info(workload=args.workload, seed=args.seed, units=len(units),
         waves=[len(u.waves) for u in units],
         frontier=[u.frontier for u in units],
         error_rate=failed / attempted,
         oracle_frontier=meta["oracle_frontier"])
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
