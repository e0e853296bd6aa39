"""Cuckoo-filter seen-set (operators/cuckoo.py) — the second prefilter
family north_star names ("partitioned Bloom/cuckoo filters"). Contract
under test: zero false negatives ever (a false negative would re-queue a
seen URL and break the exact-seen-set metric), bounded false positives,
working deletion (the capability the Bloom lacks, needed for re-crawl
eviction), alias-duplicate deletion safety, adaptive growth, and an
exact anti-join when the filter is used as its prefilter."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from barkingowl_spark.operators.cuckoo import (
    BUCKET_SLOTS,
    IncrementalCuckoo,
    _delete_many,
    _empty_table,
    _insert_many,
    _probe_many,
    cuckoo_maybe_seen_udf,
)
from barkingowl_spark.operators.dedup import anti_join_new

N_PART = 4


def _keys_df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )


def test_no_false_negatives_and_bounded_fp(spark):
    ck = IncrementalCuckoo(N_PART, n_buckets=1 << 13)  # 32k slots/part
    ck.add_keys(_keys_df(spark, 0, 20_000))
    assert not ck.overflowed
    probe = cuckoo_maybe_seen_udf(spark, ck.snapshot(), N_PART)
    members = _keys_df(spark, 0, 20_000).select(probe("url_hash").alias("p"))
    assert members.filter(~F.col("p")).count() == 0  # zero false negatives
    non = _keys_df(spark, 1_000_000, 1_020_000).select(
        probe("url_hash").alias("p"))
    fp = non.filter(F.col("p")).count() / 20_000
    # 16-bit fingerprints, 2 buckets x 4 slots probed: FP ~ 8/2^16 ~ 0.012%
    assert fp < 0.01, f"FP rate {fp}"


def test_delete_restores_definite_new(spark):
    """After deleting a key subset (re-crawl eviction), the evicted keys
    probe not-seen again (modulo FP) while every REMAINING member still
    probes seen — deletion never creates false negatives for survivors."""
    ck = IncrementalCuckoo(N_PART, n_buckets=1 << 12)
    ck.add_keys(_keys_df(spark, 0, 8_000))
    ck.delete_keys(_keys_df(spark, 0, 2_000))
    probe = cuckoo_maybe_seen_udf(spark, ck.snapshot(), N_PART)
    survivors = _keys_df(spark, 2_000, 8_000).select(
        probe("url_hash").alias("p"))
    assert survivors.filter(~F.col("p")).count() == 0
    evicted = _keys_df(spark, 0, 2_000).select(probe("url_hash").alias("p"))
    still = evicted.filter(F.col("p")).count() / 2_000
    assert still < 0.02, f"evicted keys still probing seen at rate {still}"


def test_alias_duplicate_deletion_is_safe():
    """Two distinct keys sharing (bucket, fingerprint) occupy two slots
    (no skip-if-present), so deleting one never un-members the other.
    v2 = v1 + 2^20 differs only in a bit that is neither a bucket bit
    (low 13 here) nor a fingerprint bit (40..55)."""
    nb = 1 << 13
    t = _empty_table(nb)
    v1 = np.array([0x0123456789AB_CDEF], dtype=np.int64)
    v2 = v1 + (1 << 20)
    both = np.concatenate([v1, v2])
    assert _insert_many(t, both, nb)
    assert _probe_many(t, v1, nb)[0] and _probe_many(t, v2, nb)[0]
    assert _delete_many(t, v1, nb) == 1
    assert _probe_many(t, v2, nb)[0], "alias evicted by sibling delete"


def test_overflow_degrades_then_grow_recovers(spark):
    """Packing far past capacity flags the partition overflowed (probe
    degrades to all-True — correct, unaccelerated); grow() re-targets and
    the FP rate comes back down."""
    ck = IncrementalCuckoo(N_PART, n_buckets=1 << 6)  # 256 slots/part
    ck.add_keys(_keys_df(spark, 0, 5_000))
    assert ck.overflowed and ck.needs_grow()
    probe = cuckoo_maybe_seen_udf(spark, ck.snapshot(), N_PART)
    members = _keys_df(spark, 0, 5_000).select(probe("url_hash").alias("p"))
    assert members.filter(~F.col("p")).count() == 0  # still no false negs
    ck.grow(_keys_df(spark, 0, 5_000))
    assert not ck.overflowed and not ck.needs_grow()
    probe2 = cuckoo_maybe_seen_udf(spark, ck.snapshot(), N_PART)
    members2 = _keys_df(spark, 0, 5_000).select(probe2("url_hash").alias("p"))
    assert members2.filter(~F.col("p")).count() == 0
    non = _keys_df(spark, 1_000_000, 1_010_000).select(
        probe2("url_hash").alias("p"))
    assert non.filter(F.col("p")).count() / 10_000 < 0.01


def test_anti_join_exact_with_cuckoo_prefilter(spark):
    """anti_join_new(probe=cuckoo) returns exactly the plain-anti-join
    rows — the prefilter only prunes shuffle, never changes the result."""
    ck = IncrementalCuckoo(N_PART, n_buckets=1 << 12)
    seen = _keys_df(spark, 0, 3_000).select(
        F.lit("s").alias("seed_url"), "url_hash")
    ck.add_keys(seen.select("url_hash"))
    cands = _keys_df(spark, 1_500, 6_000).select(
        F.lit("s").alias("seed_url"), "url_hash")
    probe = cuckoo_maybe_seen_udf(spark, ck.snapshot(), N_PART)
    got = sorted(
        r["url_hash"]
        for r in anti_join_new(cands, seen, probe=probe).collect()
    )
    want = sorted(
        r["url_hash"] for r in anti_join_new(cands, seen).collect()
    )
    assert got == want and len(got) == 3_000
