"""TableIO seam — checkpoint/resume storage (SURVEY.md O6, D8, section 7.0).

The reference has NO persistence: a killed scraper loses its crawl (C1).
Here every wave ends with an atomic snapshot so runs resume exactly
(north_rule), written as ONE Spark job per wave:

  <root>/wave=K/data/_t=queue/    full rewrite of the small mutable queue
  <root>/wave=K/data/_t=archive/  append-only delta (fetched + terminal
                                  rows discovered in wave K) — a wave never
                                  rewrites the 10^10-row frontier archive
  <root>/wave=K/manifest.json     written LAST (atomic rename) -> wave K is
                                  complete; also carries the driver-side
                                  scheduler state for exact resume
  <root>/delta/metrics/wave=K/    per-(wave,host) lineage rows, written
                                  distributed (write_metrics_df); the seed
                                  wave writes none

Queue and archive share FRONTIER_SCHEMA, so both land in a single
partitionBy('_t') write. Old waves keep their archive delta + manifest
forever; only their queue snapshots are pruned (last 2 kept).

read(table, K) unions committed dirs with wave <= K; a crashed wave's
stray files are never visible because the manifest gate defines K.

IcebergIO (config-switchable, documented): the same call sites map to
``writeTo(tbl).append()`` + a snapshot tag per wave; resume = time-travel
to the tag; deltas become table appends with automatic compaction.

Reading checkpoints back each wave also truncates the iterative plan's
lineage (the wave loop would otherwise grow an unbounded DAG).
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from barkingowl_spark.schemas import FRONTIER_SCHEMA, METRICS_SCHEMA

_WAVE_DIR_RE = re.compile(r"wave=(\d+)")


class ParquetDirsIO:
    """``compact_every``: once more than this many archive delta dirs
    accumulate behind the resume window, fold them into a single
    ``compact/upto=K`` dir (the Iceberg rewrite_data_files analogue) —
    without it, read_archive unions one more parquet dir per wave and
    wave time grows O(waves). None disables compaction."""

    def __init__(self, root: str, compact_every: int | None = 16):
        self.root = root
        self.compact_every = compact_every
        os.makedirs(root, exist_ok=True)

    def _wave_dir(self, wave: int) -> str:
        return os.path.join(self.root, f"wave={wave}")

    def _metrics_dir(self, wave: int) -> str:
        return os.path.join(self.root, "delta", "metrics", f"wave={wave}")

    # -- write ------------------------------------------------------------

    def write_wave(
        self,
        wave: int,
        queue: DataFrame,
        archive_delta: DataFrame,
        meta: dict,
    ) -> None:
        d = self._wave_dir(wave)
        tmp = d + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        combined = queue.withColumn("_t", F.lit("queue")).unionByName(
            archive_delta.withColumn("_t", F.lit("archive"))
        )
        combined.write.partitionBy("_t").parquet(os.path.join(tmp, "data"))
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"wave": wave, **meta}, f)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.rename(tmp, d)  # manifest presence == wave complete
        # prune old QUEUE snapshots only; archive deltas are folded into
        # compact/ dirs past the resume window (below), never dropped
        for w in self.list_waves()[:-2]:
            shutil.rmtree(
                os.path.join(self._wave_dir(w), "data", "_t=queue"),
                ignore_errors=True,
            )
        if self.compact_every is not None:
            self._maybe_compact(queue.sparkSession, wave)

    # -- archive compaction ----------------------------------------------

    def _compact_uptos(self) -> list[int]:
        base = os.path.join(self.root, "compact")
        if not os.path.isdir(base):
            return []
        return sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(base)
            if e.startswith("upto=") and not e.endswith(".tmp")
        )

    def _compact_path(self, upto: int) -> str:
        return os.path.join(self.root, "compact", f"upto={upto}")

    def _archive_dir(self, wave: int) -> str:
        return os.path.join(self._wave_dir(wave), "data", "_t=archive")

    def _maybe_compact(self, spark: SparkSession, wave: int) -> None:
        """Fold archive deltas older than the 2-wave resume window into
        one compact dir. Atomic: the new compact dir is committed by
        rename BEFORE stale inputs are deleted — a crash in between
        leaves extra dirs that read_archive ignores (it reads the
        latest compact + only the deltas NEWER than it) and that the
        next compaction removes."""
        cutoff = wave - 2
        uptos = self._compact_uptos()
        latest = uptos[-1] if uptos else -1
        pending = [
            w for w in self.list_waves()
            if latest < w <= cutoff and os.path.isdir(self._archive_dir(w))
        ]
        if len(pending) <= self.compact_every:
            return
        paths = ([self._compact_path(latest)] if latest >= 0 else []) + [
            self._archive_dir(w) for w in pending
        ]
        new = self._compact_path(cutoff)
        tmp = new + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        (
            spark.read.schema(FRONTIER_SCHEMA).parquet(*paths)
            # one output file per input dir keeps file count ~flat over
            # many compactions without shuffling the archive
            .coalesce(max(1, len(paths)))
            .write.parquet(tmp)
        )
        os.rename(tmp, new)  # commit point
        for w in pending:
            shutil.rmtree(self._archive_dir(w), ignore_errors=True)
        for u in uptos:
            shutil.rmtree(self._compact_path(u), ignore_errors=True)

    def write_metrics_df(self, wave: int, metrics: DataFrame) -> None:
        """Distributed lineage write — per-(wave,host) rows never ship to
        the driver (the 10^10-host path). Atomic via tmp-dir rename."""
        path = self._metrics_dir(wave)
        # prefix keeps a crash-orphaned tmp invisible to read_metrics'
        # "wave=" listing
        tmp = os.path.join(os.path.dirname(path), f"_tmp-wave={wave}")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        metrics.write.parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)

    # -- read -------------------------------------------------------------

    def list_waves(self) -> list[int]:
        """Committed waves: ``wave=<int>`` dirs holding a manifest. A
        ``wave=K.tmp`` dir left by a crash between the manifest write and
        the commit rename is not a wave, even with its manifest."""
        out = []
        if not os.path.isdir(self.root):
            return out
        for e in os.listdir(self.root):
            m = _WAVE_DIR_RE.fullmatch(e)
            if m and os.path.exists(
                os.path.join(self.root, e, "manifest.json")
            ):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_wave(self) -> int | None:
        waves = self.list_waves()
        return waves[-1] if waves else None

    def _empty_frontier(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], FRONTIER_SCHEMA)

    def read_queue(self, spark: SparkSession, wave: int) -> DataFrame:
        p = os.path.join(self._wave_dir(wave), "data", "_t=queue")
        if not os.path.isdir(p):  # empty queue -> partition dir absent
            return self._empty_frontier(spark)
        return spark.read.schema(FRONTIER_SCHEMA).parquet(p)

    def read_archive(self, spark: SparkSession, wave: int) -> DataFrame:
        cds = [u for u in self._compact_uptos() if u <= wave]
        upto = cds[-1] if cds else -1
        paths = [self._compact_path(upto)] if upto >= 0 else []
        for w in self.list_waves():
            if not (upto < w <= wave):
                continue
            p = self._archive_dir(w)
            if os.path.isdir(p):
                paths.append(p)
        if not paths:
            return self._empty_frontier(spark)
        return spark.read.schema(FRONTIER_SCHEMA).parquet(*paths)

    def read_metrics(self, spark: SparkSession, wave: int) -> DataFrame:
        base = os.path.join(self.root, "delta", "metrics")
        paths = [
            os.path.join(base, e)
            for e in sorted(os.listdir(base))
            if e.startswith("wave=") and int(e.split("=", 1)[1]) <= wave
        ] if os.path.isdir(base) else []
        if not paths:
            return spark.createDataFrame([], METRICS_SCHEMA)
        return spark.read.schema(METRICS_SCHEMA).parquet(*paths)

    def read_meta(self, wave: int) -> dict:
        with open(os.path.join(self._wave_dir(wave), "manifest.json")) as f:
            return json.load(f)


class IcebergIO:
    """Iceberg-backed checkpoint impl of the same seam (SURVEY.md section 7.0).

    Config-switchable: requires a session with an Iceberg catalog
    configured (spark.sql.catalog.<cat> = org.apache.iceberg.spark.
    SparkCatalog + the iceberg-spark-runtime jar). The sandbox ships no
    Iceberg jar and no network, so THIS CLASS IS UNTESTED HERE —
    interface parity with ParquetDirsIO is pinned by
    tests/test_plans.py::test_tableio_interface_parity, and every method
    maps 1:1 onto a ParquetDirsIO call site:

      write_wave        -> queue: overwritePartitions() of the small queue
                           table; archive/metrics: append() deltas; the
                           wave id is committed LAST as a snapshot tag
                           (the atomic-manifest analogue: an untagged
                           snapshot is never resumed into)
      read_queue/.._archive/.._metrics -> time-travel read VERSION AS OF
                           the wave's tagged snapshot
      list_waves/latest_wave -> catalog snapshot-tag listing
      read_meta         -> tag's snapshot summary properties

    At 10^10 rows the archive table is partitioned bucket(N, url_hash)
    and compacted with rewrite_data_files; queue is partitioned
    (host, pmod(url_hash, S)) matching the salted repartition the wave
    loop already performs before writing.
    """

    def __init__(self, table_prefix: str):
        # e.g. "cat.crawl.run42" -> tables run42_queue / run42_archive /
        # run42_metrics under catalog `cat`, namespace `crawl`
        self.prefix = table_prefix

    def _tbl(self, name: str) -> str:
        return f"{self.prefix}_{name}"

    def _tag(self, wave: int) -> str:
        return f"wave-{wave}"

    def write_wave(self, wave, queue, archive_delta, meta) -> None:
        spark = queue.sparkSession
        queue.writeTo(self._tbl("queue")).createOrReplace()
        archive_delta.writeTo(self._tbl("archive")).append()
        for name in ("queue", "archive"):
            spark.sql(
                f"ALTER TABLE {self._tbl(name)} CREATE TAG"
                f" `{self._tag(wave)}`"
            )
        import json as _json

        spark.sql(
            f"ALTER TABLE {self._tbl('queue')} SET TBLPROPERTIES"
            f" ('bowspark.meta.wave{wave}' = '{_json.dumps(meta)}')"
        )

    def write_metrics_df(self, wave, metrics) -> None:
        metrics.writeTo(self._tbl("metrics")).append()

    def list_waves(self) -> list[int]:
        spark = SparkSession.getActiveSession()
        refs = spark.sql(
            f"SELECT name FROM {self._tbl('queue')}.refs"
            " WHERE type = 'TAG'"
        ).collect()
        return sorted(
            int(r["name"].split("-", 1)[1])
            for r in refs
            if r["name"].startswith("wave-")
        )

    def latest_wave(self) -> int | None:
        waves = self.list_waves()
        return waves[-1] if waves else None

    def read_queue(self, spark, wave) -> DataFrame:
        return spark.read.option("tag", self._tag(wave)).table(
            self._tbl("queue"))

    def read_archive(self, spark, wave) -> DataFrame:
        return spark.read.option("tag", self._tag(wave)).table(
            self._tbl("archive"))

    def read_metrics(self, spark, wave) -> DataFrame:
        return spark.table(self._tbl("metrics")).filter(
            F.col("wave") <= wave)

    def read_meta(self, wave) -> dict:
        import json as _json

        spark = SparkSession.getActiveSession()
        props = {
            r["key"]: r["value"]
            for r in spark.sql(
                f"SHOW TBLPROPERTIES {self._tbl('queue')}"
            ).collect()
        }
        return _json.loads(props[f"bowspark.meta.wave{wave}"])
