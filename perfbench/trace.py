"""Per-layer tracing of one crawl, from outside the program.

``traced(spark, run_id)`` swaps the public names that ``plans.crawl`` and
``plans.ingest`` look up for wrappers that record spans, and restores
them on exit. Nothing in the program changes:

  * a wrapped call that returns a lazy DataFrame has its first
    DataFrame argument persisted and counted BEFORE its span (that
    upstream work belongs to the caller's wave), then its result
    persisted and counted INSIDE the span, so the span covers the
    layer's own work;
  * eager calls (checkpoint writes and reads, Bloom adds) are timed as
    they are, with their DataFrame arguments materialized first;
  * each span runs under its own Spark job group, so jobs, stages, task
    time and shuffle bytes are attributed to the layer afterwards;
  * counts the tracer needs for ratios run under a separate job group
    that no layer is charged for.

Waves are spans too: one opens at each ``schedule_budget`` call (the
first layer call of a wave) and closes at the next one or when
``run_crawl`` returns, so it includes the wave's checkpoint reload and
any Bloom grow. Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LAYERS = ("ingest", "dedup", "ordering", "politeness", "robots", "tableio",
          "crawl")


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with contextlib.suppress(FileNotFoundError):
                out[p] = os.path.getsize(p)
    return out


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.acc: dict[str, float] = defaultdict(float)
        self.snapshot_bytes: list[int] = []
        self.wave_cache: list[DataFrame] = []
        # rows of DataFrames already persisted and counted in this wave,
        # by id (each is held in wave_cache, so its id stays unique)
        self.counted: dict[int, int] = {}
        self.wave: dict | None = None
        self.n_waves = 0

    # -- spans ------------------------------------------------------------

    def _group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    def open(self, name: str, layer: str) -> dict:
        sid = len(self.spans)
        span = {"id": sid, "name": name, "layer": layer, "run": self.run_id,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "group": f"pb-{self.run_id}-{sid}",
                "excl_s": 0.0, "excl_task_s": 0.0, "excl_shuffle_mb": 0.0,
                "x0": self._executor_totals(),
                "start": time.perf_counter(), "end": None}
        self.spans.append(span)
        self.stack.append(span)
        self._group(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["x1"] = self._executor_totals()
        span["jobs"], span["stages"], span["tasks"] = self._job_counts(
            span["group"])
        self.stack.remove(span)
        self._group(self.stack[-1] if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    @contextlib.contextmanager
    def untracked(self):
        """Jobs the tracer itself needs; charged to no layer."""
        self.sc.setJobGroup(f"pb-{self.run_id}-trace", "trace")
        x0 = self._executor_totals()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            x1 = self._executor_totals()
            if self.stack:
                self.stack[-1]["excl_s"] += time.perf_counter() - t0
                self.stack[-1]["excl_task_s"] += x1[0] - x0[0]
                self.stack[-1]["excl_shuffle_mb"] += x1[1] - x0[1]
            self._group(self.stack[-1] if self.stack else None)

    def _materialize(self, df: DataFrame) -> tuple[DataFrame, int]:
        if id(df) not in self.counted:
            df = df.persist()
            self.wave_cache.append(df)
            self.counted[id(df)] = df.count()
        return df, self.counted[id(df)]

    def start_wave(self) -> None:
        self.end_wave()
        if self.stack and self.stack[-1]["name"] == "crawl.preloop":
            self.close(self.stack[-1])
        self.n_waves += 1
        self.wave = self.open(f"wave{self.n_waves}", "crawl")

    def end_wave(self) -> None:
        if self.wave is None:
            return
        self.close(self.wave)
        for df in self.wave_cache:
            df.unpersist()
        self.wave_cache = []
        self.counted = {}
        self.wave = None

    # -- wrappers ---------------------------------------------------------

    def lazy(self, fn, name, layer, prep=True, keep=True, post=None):
        """Wrap a function returning a lazy DataFrame."""
        def wrapper(*args, **kw):
            args = list(args)
            n_in = None
            if prep and args and isinstance(args[0], DataFrame):
                args[0], n_in = self._materialize(args[0])
            with self.span(name, layer) as s:
                out = fn(*args, **kw).persist()
                s["rows"] = out.count()
            if keep:
                self.wave_cache.append(out)
                self.counted[id(out)] = s["rows"]
            self.acc[name + "_s"] += s["end"] - s["start"]
            if post is not None:
                with self.untracked():
                    post(s, args, kw, n_in, out)
            return out
        return wrapper

    def eager(self, fn, name, layer, post=None):
        """Wrap a method or function that does its work when called."""
        def wrapper(*args, **kw):
            args = [self._materialize(a)[0] if isinstance(a, DataFrame)
                    else a for a in args]
            with self.span(name, layer) as s:
                out = fn(*args, **kw)
            self.acc[name + "_s"] += s["end"] - s["start"]
            if post is not None:
                with self.untracked():
                    post(s, args, kw, out)
            return out
        return wrapper

    # -- Spark counters ----------------------------------------------------

    def _executor_totals(self) -> tuple[float, float]:
        """(task seconds, shuffle MB written) so far, summed over
        executors; span deltas of these attribute work to layers. Stage
        records are no use here: a later job that reuses a stage as
        skipped overwrites its metrics in the status store."""
        jvm_sc = self.sc._jsc.sc()
        jvm_sc.listenerBus().waitUntilEmpty()
        execs = jvm_sc.statusStore().executorList(True)
        task_ms = shuffle = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            task_ms += e.totalDuration()
            shuffle += e.totalShuffleWrite()
        return task_ms / 1000.0, shuffle / 1e6

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        store = self.sc._jsc.sc().statusStore()
        jobs = self.sc.statusTracker().getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            jd = store.job(jid)
            stages += jd.numCompletedStages()
            tasks += jd.numCompletedTasks()
        return len(jobs), stages, tasks

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_time(spans: list[dict], span: dict) -> float:
    """Span duration minus the time its direct children and the
    tracer's own work inside it cover."""
    kids = [s for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - span["excl_s"] - sum(
        k["end"] - k["start"] for k in kids)


def layer_counters(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per-layer task seconds and shuffle MB: each span's executor delta
    minus its children's and minus the tracer's own jobs run inside it."""
    out = {k: defaultdict(float) for k in LAYERS}
    for s in spans:
        kids = [k for k in spans if k["parent"] == s["id"]]
        for i, key in enumerate(("task_s", "shuffle_mb")):
            own = s["x1"][i] - s["x0"][i] - s["excl_" + key] - sum(
                k["x1"][i] - k["x0"][i] for k in kids)
            out[s["layer"]][key] += own
    return out


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


@contextlib.contextmanager
def traced(spark, run_id: str):
    """Install the wrappers for one traced ``run_crawl``; yields the
    Tracer. Patches are undone on exit."""
    import barkingowl_spark.operators.robots as robots_mod
    import barkingowl_spark.plans.crawl as crawl_mod
    import barkingowl_spark.plans.ingest as ingest_mod
    from barkingowl_spark.operators.dedup import (
        IncrementalBloom,
        bloom_maybe_seen_udf,
    )
    from barkingowl_spark.sources.tableio import ParquetDirsIO

    t = Tracer(spark, run_id)
    acc = t.acc

    def ingest_post(s, args, kw, n_in, out):
        acc["ingest.pages"] += s["rows"]

    def edges_post(s, args, kw, n_in, out):
        acc["ingest.edges"] += s["rows"]

    def robots_post(s, args, kw, n_in, out):
        acc["robots.hosts"] += s["rows"]

    def schedule_post(s, args, kw, n_in, out):
        acc["politeness.due"] += n_in
        acc["politeness.sched"] += s["rows"]

    def rfilter_post(s, args, kw, n_in, out):
        acc["politeness.links_in"] += n_in
        acc["politeness.links_out"] += s["rows"]

    def first_post(s, args, kw, n_in, out):
        acc["ordering.links_in"] += n_in
        acc["ordering.links_out"] += s["rows"]

    def anti_post(s, args, kw, n_in, out):
        acc["dedup.candidates"] += n_in
        acc["dedup.fresh"] += s["rows"]
        blooms = args[2] if len(args) > 2 else kw.get("blooms")
        if blooms is None:
            acc["dedup.passed"] += n_in
            acc["dedup.passed_fresh"] += s["rows"]
            return
        n_part = args[3] if len(args) > 3 else kw.get("n_partitions", 32)
        probe = bloom_maybe_seen_udf(spark, blooms, n_part)
        hit = probe(F.col("url_hash"))
        acc["dedup.passed"] += args[0].filter(hit).count()
        acc["dedup.passed_fresh"] += out.filter(hit).count()

    def snapshot_post(s, args, kw, out):
        t.snapshot_bytes.append(
            sum(len(bits) for bits, _m in out.values()))

    def grow_post(s, args, kw, out):
        acc["dedup.grows"] += 1

    def io_writer(fn, name):
        """Checkpoint writes also count the files they leave on disk."""
        before: dict[str, int] = {}

        def post(s, args, kw, out):
            new = {p: n for p, n in _tree_files(args[0].root).items()
                   if before.get(p) != n}
            acc["tableio.files_written"] += len(new)
            acc["tableio.bytes_written"] += sum(new.values())
            acc["tableio.compactions"] += any(
                "/compact/upto=" in p for p in new)
        inner = t.eager(fn, name, "tableio", post=post)

        def wrapper(io, *a, **kw):
            before.clear()
            before.update(_tree_files(io.root))
            return inner(io, *a, **kw)
        return wrapper

    real_run = crawl_mod.run_crawl

    def run_wrapper(*args, **kw):
        with t.span("crawl.run", "crawl"):
            t.open("crawl.preloop", "crawl")
            try:
                return real_run(*args, **kw)
            finally:
                t.end_wave()
                while len(t.stack) > 1:
                    t.close(t.stack[-1])

    real_schedule = crawl_mod.schedule_budget
    schedule_wrapped = t.lazy(real_schedule, "politeness.schedule",
                              "politeness", post=schedule_post)

    def schedule_wave(*a, **kw):
        t.start_wave()
        return schedule_wrapped(*a, **kw)

    patches = [
        (crawl_mod, "run_crawl", run_wrapper),
        (crawl_mod, "schedule_budget", schedule_wave),
        (crawl_mod, "robots_filter",
         t.lazy(crawl_mod.robots_filter, "politeness.robots_filter",
                "politeness", post=rfilter_post)),
        (crawl_mod, "level_ranks",
         t.lazy(crawl_mod.level_ranks, "ordering.level_ranks", "ordering",
                prep=False)),
        (crawl_mod, "first_discovery_wins",
         t.lazy(crawl_mod.first_discovery_wins, "ordering.first_wins",
                "ordering", post=first_post)),
        (crawl_mod, "anti_join_new",
         t.lazy(crawl_mod.anti_join_new, "dedup.anti_join", "dedup",
                post=anti_post)),
        (ingest_mod, "parsed_corpus",
         t.lazy(ingest_mod.parsed_corpus, "ingest.parse", "ingest",
                prep=False, keep=False, post=ingest_post)),
        (ingest_mod, "ingest_pages_of",
         t.lazy(ingest_mod.ingest_pages_of, "ingest.pages_of", "ingest",
                prep=False, keep=False)),
        (ingest_mod, "edges_of",
         t.lazy(ingest_mod.edges_of, "ingest.edges_of", "ingest",
                prep=False, keep=False, post=edges_post)),
        (robots_mod, "robots_rules",
         t.lazy(robots_mod.robots_rules, "robots.rules", "robots",
                prep=False, keep=False, post=robots_post)),
        (IncrementalBloom, "add_keys",
         t.eager(IncrementalBloom.add_keys, "dedup.bloom_add", "dedup")),
        (IncrementalBloom, "snapshot",
         t.eager(IncrementalBloom.snapshot, "dedup.snapshot", "dedup",
                 post=snapshot_post)),
        (IncrementalBloom, "grow",
         t.eager(IncrementalBloom.grow, "dedup.grow", "dedup",
                 post=grow_post)),
        (ParquetDirsIO, "write_wave",
         io_writer(ParquetDirsIO.write_wave, "tableio.write_wave")),
        (ParquetDirsIO, "write_metrics_df",
         io_writer(ParquetDirsIO.write_metrics_df, "tableio.write_metrics")),
    ]
    for name in ("read_queue", "read_archive", "read_metrics"):
        patches.append((ParquetDirsIO, name, t.eager(
            getattr(ParquetDirsIO, name), "tableio.read", "tableio")))
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
    try:
        for obj, name, fn in patches:
            setattr(obj, name, fn)
        yield t
    finally:
        for obj, name, fn in saved:
            setattr(obj, name, fn)
