"""Partitioned cuckoo-filter seen-set — SURVEY.md O12/O22, second of the
two prefilter families the north_star contract names ("a distributed
URL-seen set built from partitioned Bloom/cuckoo filters keyed by
canonicalized URL hash").

Why a cuckoo filter next to the Bloom (operators/dedup.py): DELETION.
A Bloom bitset can only grow, so when a seed becomes due for re-crawl
(O1/O26, operators/dispatch.py) its URLs cannot be evicted from the
prefilter — the exact seen TABLE can drop them, but every re-crawled URL
then pays the full anti-join shuffle because the stale filter still says
"maybe seen". A cuckoo filter stores displaceable 16-bit fingerprints in
4-slot buckets, so `delete_keys` surgically removes a due seed's URLs
and the re-crawl wave regains the stage-1 shuffle bypass.

Correctness discipline (no false negatives, ever — a false negative
would re-queue a seen URL and break the exact-seen-set metric in
BASELINE.json):

  * every key occurrence is inserted into its own slot (NO
    skip-if-present): two distinct URLs that alias to the same
    (bucket-pair, fingerprint) hold two slots, so deleting one never
    un-members the other;
  * `delete_keys` is only ever called with keys that are provably in
    the filter (rows read back from the authoritative seen table) —
    the standard cuckoo-filter deletion precondition;
  * a partition whose insert exceeds MAX_KICKS is flagged OVERFLOWED
    and its probe degrades to all-True (pure anti-join, correct but
    unaccelerated) until `grow()` rebuilds it larger — mirroring the
    Bloom's saturation→grow discipline.

Transport matches IncrementalBloom: tables are built/updated
distributedly per hash-partition with applyInPandas and the compact
(pid, table bytes) pairs live driver-side in the sandbox; at the 10^10
design point the same pairs are an Iceberg table merged per wave
(DESIGN.md) — only the transport changes, the partition keying is
already in place.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

BUCKET_SLOTS = 4
MAX_KICKS = 500
# odd multiplicative constant spreads the 16-bit fingerprint over the
# bucket index space for the partial-key alt-bucket XOR
_FP_MIX = np.uint64(0x5BD1E995)


def _fingerprints(vals: np.ndarray) -> np.ndarray:
    """Nonzero 16-bit fingerprints from int64 url_hash values. Uses bits
    disjoint from the bucket-index bits (low bits) so fingerprint and
    bucket are ~independent."""
    v = vals.astype(np.uint64)
    f = ((v >> np.uint64(40)) & np.uint64(0xFFFF)).astype(np.uint16)
    return np.where(f == 0, np.uint16(1), f)


def _bucket1(vals: np.ndarray, nb: int) -> np.ndarray:
    return (vals.astype(np.uint64) & np.uint64(nb - 1)).astype(np.int64)


def _alt_bucket(idx: np.ndarray, fps: np.ndarray, nb: int) -> np.ndarray:
    h = (fps.astype(np.uint64) * _FP_MIX) & np.uint64(nb - 1)
    return (idx.astype(np.uint64) ^ h).astype(np.int64)


def _empty_table(nb: int) -> np.ndarray:
    return np.zeros((nb, BUCKET_SLOTS), dtype=np.uint16)


def _insert_one(table: np.ndarray, fp: int, i1: int, nb: int) -> bool:
    """Insert fp (uint16) starting at bucket i1; True on success. The
    eviction victim is chosen deterministically (kick counter mod slots)
    so runs are reproducible without RNG."""
    i2 = int(_alt_bucket(np.array([i1]), np.array([fp], np.uint16), nb)[0])
    for b in (i1, i2):
        row = table[b]
        empt = np.nonzero(row == 0)[0]
        if len(empt):
            row[empt[0]] = fp
            return True
    b, cur = i1, np.uint16(fp)
    for kick in range(MAX_KICKS):
        slot = kick % BUCKET_SLOTS
        cur, table[b, slot] = table[b, slot], cur
        b = int(_alt_bucket(
            np.array([b]), np.array([cur], np.uint16), nb)[0])
        row = table[b]
        empt = np.nonzero(row == 0)[0]
        if len(empt):
            row[empt[0]] = cur
            return True
    return False  # overflow: caller flags the partition degraded


def _insert_many(table: np.ndarray, vals: np.ndarray, nb: int) -> bool:
    """Insert EVERY occurrence (duplicate-safe deletion, see module doc).
    Returns False if any insert overflowed."""
    fps = _fingerprints(vals)
    i1s = _bucket1(vals, nb)
    ok = True
    for fp, i1 in zip(fps.tolist(), i1s.tolist()):
        ok = _insert_one(table, fp, i1, nb) and ok
    return ok


def _delete_many(table: np.ndarray, vals: np.ndarray, nb: int) -> int:
    """Remove ONE slot per key occurrence; returns how many were found.
    Precondition: keys were previously inserted (seen-table rows)."""
    fps = _fingerprints(vals)
    i1s = _bucket1(vals, nb)
    i2s = _alt_bucket(i1s, fps, nb)
    found = 0
    for fp, i1, i2 in zip(fps.tolist(), i1s.tolist(), i2s.tolist()):
        for b in (i1, i2):
            hit = np.nonzero(table[b] == fp)[0]
            if len(hit):
                table[b, hit[0]] = 0
                found += 1
                break
    return found


def _probe_many(table: np.ndarray, vals: np.ndarray, nb: int) -> np.ndarray:
    fps = _fingerprints(vals)
    i1s = _bucket1(vals, nb)
    i2s = _alt_bucket(i1s, fps, nb)
    col = fps[:, None]
    return (table[i1s] == col).any(axis=1) | (table[i2s] == col).any(axis=1)


class IncrementalCuckoo:
    """Persistent cross-wave cuckoo-filter state with deletion + adaptive
    growth. API-compatible with IncrementalBloom (add_keys / needs_grow /
    grow / snapshot) plus ``delete_keys``; ``dedup.anti_join_new``
    accepts either snapshot's probe as its optional prefilter."""

    def __init__(self, n_partitions: int = 32, n_buckets: int = 1 << 15,
                 target_fill: float = 0.85):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be 2^k"
        self.n_partitions = n_partitions
        self.nb = n_buckets
        self.target_fill = target_fill
        self.tables: dict[int, np.ndarray] = {}
        self.overflowed: set[int] = set()
        self.n_keys = 0

    # -- distributed update ------------------------------------------------
    def _apply(self, keys: DataFrame, op: str) -> None:
        """Ship each partition's current table to its executor task,
        insert/delete that partition's keys there, collect the compact
        updated tables back. Work is per-partition parallel; the driver
        only ever holds the filter bytes (never the keys)."""
        spark = keys.sparkSession
        nb, n_part = self.nb, self.n_partitions
        snap = {pid: t.tobytes() for pid, t in self.tables.items()}
        bc = spark.sparkContext.broadcast(snap)
        keyed = keys.select(
            F.pmod(F.col("url_hash"), F.lit(n_part)).cast("int").alias("pid"),
            "url_hash",
        )

        def upd(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(key[0])
            raw = bc.value.get(pid)
            table = (
                np.frombuffer(raw, dtype=np.uint16).reshape(-1, BUCKET_SLOTS)
                .copy() if raw is not None else _empty_table(nb)
            )
            vals = pdf["url_hash"].to_numpy(dtype=np.int64)
            if op == "insert":
                ok = _insert_many(table, vals, nb)
            else:
                _delete_many(table, vals, nb)
                ok = True
            return pd.DataFrame({
                "pid": [pid], "tbl": [table.tobytes()],
                "n": [len(vals)], "ok": [ok],
            })

        rows = (
            keyed.groupBy("pid")
            .applyInPandas(upd, schema="pid int, tbl binary, n long, ok boolean")
            .collect()
        )
        bc.unpersist()
        for r in rows:
            self.tables[r["pid"]] = (
                np.frombuffer(r["tbl"], dtype=np.uint16)
                .reshape(-1, BUCKET_SLOTS).copy()
            )
            if op == "insert":
                self.n_keys += r["n"]
                if not r["ok"]:
                    self.overflowed.add(r["pid"])
            else:
                self.n_keys -= r["n"]

    def add_keys(self, keys: DataFrame) -> None:
        self._apply(keys, "insert")

    def delete_keys(self, keys: DataFrame) -> None:
        """Evict keys (e.g. a re-crawl-due seed's URLs). Only call with
        rows read back from the authoritative seen table."""
        self._apply(keys, "delete")

    # -- sizing ------------------------------------------------------------
    def fill_fraction(self) -> float:
        if not self.tables:
            return 0.0
        return max(
            float(np.count_nonzero(t)) / (self.nb * BUCKET_SLOTS)
            for t in self.tables.values()
        )

    def needs_grow(self) -> bool:
        return bool(self.overflowed) or self.fill_fraction() > self.target_fill

    def grow(self, all_keys: DataFrame) -> int:
        """Double the bucket space until the observed key count fits under
        target_fill, rebuild from the authoritative seen-set (one
        distributed job). Returns the new n_buckets."""
        per_part = max(1, self.n_keys // self.n_partitions)
        want = int(per_part / (BUCKET_SLOTS * self.target_fill * 0.5)) + 1
        nb = self.nb
        while nb < want:
            nb <<= 1
        nb <<= 1
        self.nb = nb
        self.tables = {}
        self.overflowed = set()
        self.n_keys = 0
        self.add_keys(all_keys)
        return nb

    def snapshot(self) -> dict[int, tuple[bytes, int, bool]]:
        return {
            pid: (t.tobytes(), self.nb, pid in self.overflowed)
            for pid, t in self.tables.items()
        }


def cuckoo_maybe_seen_udf(spark, snap: dict[int, tuple[bytes, int, bool]],
                          n_partitions: int):
    """Vectorized probe: url_hash -> bool (True = possibly seen). An
    overflowed partition answers True for everything (degrades to the
    exact anti-join — correct, just unaccelerated)."""
    bc = spark.sparkContext.broadcast(snap)

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
            raw, nb, over = entry
            if over:
                out[mask] = True
                continue
            table = np.frombuffer(raw, dtype=np.uint16).reshape(
                -1, BUCKET_SLOTS)
            out[mask] = _probe_many(table, vals[mask], nb)
        return pd.Series(out)

    return probe
