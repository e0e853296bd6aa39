"""Seen-set dedup: exact anti-join, optional probabilistic prefilter —
SURVEY.md O12/O22.

The reference's seen-set is an O(n) Python list scan per link
([GH] scraper.py processed_links, C1 — its biggest scalability sin). The
crawl wave loop replaces it with ONE exact left_anti join on
(seed_url, url_hash) against the seen table — which guarantees the
exact-seen-set metric (BASELINE.json) — placed after the in-wave
first-wins window so the join reuses that window's hash partitioning.

The partitioned Bloom filter (IncrementalBloom + bloom_maybe_seen_udf)
and the cuckoo filter (operators/cuckoo.py, whose deletion the
o12_cuckoo_evict driver query exercises) remain as operators.
``anti_join_new`` still accepts either one as a prefilter, but in the
executed plan it saves no work: rows tagged
definite-new carry a NULL join key that still goes through the
candidate-side exchange, and the Python probe adds an ArrowEvalPython
stage plus a third exchange. That is why the wave loop does not use it.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

BLOOM_HASHES = 7
BITS_PER_KEY = 12  # ~0.3% FP at k=7


def _positions(vals: np.ndarray, m: int) -> Iterator[np.ndarray]:
    v = vals.astype(np.uint64)
    h1 = v
    h2 = ((v >> np.uint64(31)) | np.uint64(1))
    for i in range(BLOOM_HASHES):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)


def _build_bitset(vals: np.ndarray, m: int) -> np.ndarray:
    bits = np.zeros(m // 8 + 1, dtype=np.uint8)
    for pos in _positions(vals, m):
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bits


def _probe_bitset(vals: np.ndarray, bits: np.ndarray, m: int) -> np.ndarray:
    maybe = np.ones(len(vals), dtype=bool)
    for pos in _positions(vals, m):
        maybe &= (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1 == 1
    return maybe


_POPCOUNT_LUT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1
).sum(axis=1).astype(np.int64)


class IncrementalBloom:
    """Persistent cross-wave Bloom state (O12/O22) with ADAPTIVE sizing.

    Per-partition bitsets so new keys OR in incrementally — one
    distributed build over each wave's FRESH keys instead of a full
    seen-set rebuild per wave. Saturation only raises the FP rate (more
    anti-join probes), never correctness — but a saturated prefilter
    silently degenerates to the bare anti-join at exactly the scale it
    was built for, so the filter GROWS: when the max per-partition fill
    fraction passes ``target_fill`` (FP ~= fill^k: 0.5^7 ~ 0.8%), the
    caller rebuilds via ``grow()`` with m re-targeted from the observed
    key count (BITS_PER_KEY bits/key, next power of two). Doubling
    schedule => O(log n) rebuilds over a run, each one distributed job.
    """

    def __init__(self, n_partitions: int = 32, m_bits: int = 1 << 20,
                 target_fill: float = 0.5):
        self.n_partitions = n_partitions
        self.m = m_bits
        self.target_fill = target_fill
        self.bits: dict[int, np.ndarray] = {}
        self.n_keys = 0  # keys added since construction/last grow()

    def add_keys(self, keys: DataFrame) -> int:
        """OR the url_hash values of ``keys`` into the partition
        bitsets. Returns the number of keys added."""
        m = self.m
        keyed = keys.select(
            F.pmod(F.col("url_hash"), F.lit(self.n_partitions)).cast("int")
            .alias("pid"),
            "url_hash",
        )

        def make(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            vals = pdf["url_hash"].to_numpy(dtype=np.int64)
            return pd.DataFrame(
                {"pid": [int(key[0])],
                 "bits": [_build_bitset(vals, m).tobytes()],
                 "n": [len(vals)]}
            )

        rows = (
            keyed.groupBy("pid")
            .applyInPandas(make, schema="pid int, bits binary, n long")
            .collect()
        )
        added = 0
        for r in rows:
            delta = np.frombuffer(r["bits"], dtype=np.uint8)
            pid = r["pid"]
            self.n_keys += r["n"]
            added += r["n"]
            if pid in self.bits:
                self.bits[pid] = self.bits[pid] | delta
            else:
                self.bits[pid] = delta.copy()
        return added

    def fill_fraction(self) -> float:
        """Max per-partition fraction of set bits (the FP driver)."""
        if not self.bits:
            return 0.0
        return max(
            float(_POPCOUNT_LUT[b].sum()) / self.m
            for b in self.bits.values()
        )

    def needs_grow(self) -> bool:
        return self.fill_fraction() > self.target_fill

    def grow(self, all_keys: DataFrame) -> int:
        """Re-target m from the observed key count and rebuild from the
        authoritative seen-set (one distributed job). Returns new m."""
        per_part = max(1, self.n_keys // self.n_partitions)
        want = per_part * BITS_PER_KEY
        new_m = self.m
        while new_m < want:
            new_m <<= 1
        new_m <<= 1  # headroom: next doubling lands past target_fill/2
        self.m = new_m
        self.bits = {}
        self.n_keys = 0
        self.add_keys(all_keys)
        return new_m

    def snapshot(self) -> dict[int, tuple[bytes, int]]:
        return {pid: (b.tobytes(), self.m) for pid, b in self.bits.items()}


def bloom_maybe_seen_udf(spark, blooms: dict[int, tuple[bytes, int]], n_partitions: int):
    """Vectorized probe: url_hash -> bool (True = possibly seen)."""
    bc = spark.sparkContext.broadcast(blooms)

    @F.pandas_udf(BooleanType())
    def probe(url_hash: pd.Series) -> pd.Series:
        tbl = bc.value
        vals = url_hash.to_numpy(dtype=np.int64)
        pids = np.mod(vals, n_partitions)
        pids = np.where(pids < 0, pids + n_partitions, pids).astype(np.int64)
        out = np.zeros(len(vals), dtype=bool)
        for pid in np.unique(pids):
            entry = tbl.get(int(pid))
            if entry is None:
                continue
            mask = pids == pid
            bits = np.frombuffer(entry[0], dtype=np.uint8)
            out[mask] = _probe_bitset(vals[mask], bits, entry[1])
        return pd.Series(out)

    return probe


def anti_join_new(
    candidates: DataFrame,
    seen: DataFrame,
    blooms: dict[int, tuple[bytes, int]] | None = None,
    n_partitions: int = 32,
    probe=None,
) -> DataFrame:
    """Exactly-new candidates: left_anti on (seed_url, url_hash).

    Without a prefilter this is the plain join. When ``candidates`` is
    already hash-partitioned on (seed_url, url_hash) — the output of
    ``ordering.first_discovery_wins``, as in the crawl wave loop — the
    candidate side is not shuffled again.

    An optional prefilter is either ``blooms`` (an IncrementalBloom
    snapshot) or ``probe`` (any vectorized url_hash->maybe-seen pandas
    UDF, e.g. cuckoo_maybe_seen_udf from operators/cuckoo.py). Rows the
    filter calls definite-new get a NULL join key, which matches nothing,
    so one left_anti pass still confirms possible members exactly (no
    branch/union; upstream lineage evaluated once). Both filters may only
    false-POSITIVE, so the result is exact either way. The NULL keys do
    NOT bypass the exchange: every candidate row is still shuffled on the
    new key, which also breaks reuse of an upstream (seed_url, url_hash)
    partitioning, and the probe adds a Python evaluation stage.

    The seen side is hinted shuffle_hash: the seen-set GROWS every wave,
    and letting Catalyst broadcast it would rebuild a driver-side hash
    table per wave (serial, and impossible at 10^10 rows anyway); the
    shuffled build is partition-parallel and is the at-scale plan."""
    seen_keys = seen.select("seed_url", "url_hash").hint("shuffle_hash")
    if blooms is None and probe is None:
        return candidates.join(seen_keys, ["seed_url", "url_hash"], "left_anti")
    if probe is None:
        spark = candidates.sparkSession
        probe = bloom_maybe_seen_udf(spark, blooms, n_partitions)
    tagged = candidates.withColumn(
        "_jk", F.when(probe(F.col("url_hash")), F.col("url_hash"))
    )
    return (
        tagged.join(
            seen_keys.withColumnRenamed("url_hash", "_jk"),
            ["seed_url", "_jk"],
            "left_anti",
        )
        .drop("_jk")
    )
