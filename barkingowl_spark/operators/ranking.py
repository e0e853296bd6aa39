"""Scalable global dense ranking — contiguous 1-based ranks over the
distinct sort order of arbitrary key columns WITHOUT a single-partition
window.

`Window.orderBy(...)` with no partitionBy is the classic Spark scale
trap: every row funnels through one task. The standard distributed
alternative (what RDD zipWithIndex does internally, expressed here in
DataFrame terms):

  1. distinct keys,
  2. range-repartition by the keys (partition p holds keys strictly
     below partition p+1; equal keys always co-locate),
  3. per-partition local rank — a window PARTITIONED by the partition
     id, so it's parallel,
  4. per-partition distinct-key counts (O(#partitions) rows) to the
     driver, prefix-summed into offsets, broadcast back,
  5. global rank = offset[pid] + local rank.

The result is canonical — determined entirely by the key ordering,
independent of partition boundaries, cluster size, or sampling inside
the range partitioner — which is what lets DuckDB's plain
dense_rank() OVER (ORDER BY key) serve as the value-hash oracle.

The driver-side collect is one row per shuffle partition — never one
row per key (the crawl plan's per-wave metrics keep the same rule: only
two scalar totals reach the driver, see plans/crawl.py).

Primary consumer: operators/suffixes.py prefix doubling, which needs a
fresh global dense rank per round. No reference counterpart
(/root/reference is empty, SURVEY §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assert_max_rows(
    df: DataFrame, max_rows: int, label: str
) -> DataFrame:
    """In-plan bounded-input guard for INTENTIONAL global windows
    (the fusion.rank_by precedent, generalized — r4 verdict item 6).

    A handful of operators legitimately run an unpartitioned window
    over a frame that is bounded by CONTRACT rather than by a plan
    node (a seeds dim table, a distinct-value grid, a diameter-sized
    rollup). This guard makes that contract executable: a count over
    the full frame feeds assert_true, so a caller that pipes an
    unbounded frame in fails loudly at execution instead of silently
    serializing through one task. (The guard cannot make misuse
    cheap — the input still funnels once — it makes it impossible to
    miss.) Every call site is inventoried in PLANS.md "bounded
    global windows" and closed by tests/test_layout_audit.py."""
    # bounded-global-window: the guard itself — the count it takes
    # IS the bound check
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        df.withColumn("_nrows", F.count(F.lit(1)).over(wall))
        .filter(F.coalesce(
            F.expr(
                f"CAST(assert_true(_nrows <= {int(max_rows)},"
                f" '{label}: input exceeds max_rows={int(max_rows)}"
                f" — bounded-global-window contract (PLANS.md);"
                f" use ranking.global_dense_rank for corpus-sized"
                f" input') AS BOOLEAN)"),
            F.lit(True)))
        .drop("_nrows")
    )


def global_dense_rank(
    df: DataFrame,
    key_cols: list[str],
    out_col: str = "rank",
    pin: bool = True,
) -> DataFrame:
    """df + out_col: the 1-based dense rank of each row's key tuple in
    the global ascending distinct-key order. NULL keys sort first
    (Spark NULLS FIRST default; keep keys non-null for engine
    portability — the oracle contract documents this).

    One distinct + one range shuffle + one partitioned window + one
    broadcast-offset equi-join back onto df.

    pin=True localCheckpoints the ranked key table so the range
    partitioner's sampled boundaries are fixed across its two uses
    (the offset collect and the final join) — required for
    correctness; pin=False is for plan audits only (localCheckpoint
    erases lineage from .explain)."""
    keys = df.select(*key_cols).distinct()
    ranked = (
        keys.repartitionByRange(*[F.col(c) for c in key_cols])
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrank",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(
                    *[F.asc(c) for c in key_cols])),
        )
    )
    if pin:
        ranked = ranked.localCheckpoint()
    counts = {
        r["_pid"]: r["n"]
        for r in ranked.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_expr = F.element_at(
        F.create_map(*[
            F.lit(x) for pid in sorted(offsets)
            for x in (pid, offsets[pid])
        ]),
        F.col("_pid"),
    ) if offsets else F.lit(0)
    ranked = ranked.select(
        *key_cols,
        (off_expr + F.col("_lrank")).cast("long").alias(out_col),
    )
    return df.join(ranked, key_cols)


def global_running_sum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    out_col: str = "running",
) -> DataFrame:
    """df + out_col: the INCLUSIVE running sum of value_col in the
    global ascending (key_cols) order — the same
    range-shuffle + pid-partitioned-window + bounded-driver-offsets
    shape as global_dense_rank, for cumulative sums instead of ranks.

    key_cols MUST be unique per row (include a tiebreaker id):
    a running sum at duplicate keys would depend on their arbitrary
    relative order and stop being engine-portable."""
    return global_running_sums(df, key_cols, {out_col: value_col})


def global_running_sums(
    df: DataFrame,
    key_cols: list[str],
    sums: dict[str, str],
) -> DataFrame:
    """global_running_sum for SEVERAL value columns in one pass:
    ``sums`` maps out_col -> value_col; all running sums share the
    single range shuffle, the single pid-partitioned window pass, and
    ONE O(#partitions) totals collect (a consumer needing both a
    global row number — running sum of a 1-literal — and a prefix
    sum, e.g. politeness.waterfill_budget, pays one shuffle instead
    of two). Same uniqueness contract on key_cols."""
    wrun = (
        Window.partitionBy("_pid")
        .orderBy(*[F.asc(c) for c in key_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = df.repartitionByRange(
        *[F.col(c) for c in key_cols]).withColumn(
        "_pid", F.spark_partition_id())
    for out_col, value_col in sums.items():
        ranked = ranked.withColumn(
            f"_lsum_{out_col}", F.sum(F.col(value_col)).over(wrun))
    ranked = ranked.localCheckpoint()
    # per-partition total = sum of the values, NOT max(_lsum): with
    # negative values the running max is not the partition total
    totals = ranked.groupBy("_pid").agg(*[
        F.sum(F.col(v)).alias(f"_t_{o}") for o, v in sums.items()
    ]).collect()
    by_pid = {r["_pid"]: r for r in totals}
    out = ranked
    for out_col in sums:
        offsets, acc = {}, 0
        for pid in sorted(by_pid):
            offsets[pid] = acc
            acc += by_pid[pid][f"_t_{out_col}"]
        off_expr = F.element_at(
            F.create_map(*[
                F.lit(x) for pid in sorted(offsets)
                for x in (pid, offsets[pid])
            ]),
            F.col("_pid"),
        ) if offsets else F.lit(0)
        out = out.withColumn(
            out_col,
            (off_expr + F.col(f"_lsum_{out_col}")).cast("long"))
    return out.select(*df.columns, *sums)


def budget_select(
    items: DataFrame,
    id_col: str,
    value_col: str,
    cost_col: str,
    budget: int,
) -> DataFrame:
    """(id, value, cost, density_milli, cum_cost): the greedy
    fractional-knapsack prefix (Dantzig 1957) — items in descending
    value-per-cost order (integer milli density, ties to smaller id)
    while the running cost fits the budget. The crawl-budget
    allocator: hosts by expected value per fetch until the fetch
    budget is spent. Costs must be positive.

    One global_running_sum over the density order (no single-partition
    sort) + one filter; at 10^10 items this is two narrow shuffles."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    dens = items.select(
        F.col(id_col).alias("id"),
        F.col(value_col).cast("long").alias("value"),
        F.col(cost_col).cast("long").alias("cost"),
    ).withColumn(
        "density_milli",
        F.expr("CASE WHEN cost > 0 THEN (value * 1000L) div cost"
               " ELSE CAST(raise_error("
               "'budget_select: nonpositive cost') AS BIGINT) END"),
    ).withColumn("_negd", -F.col("density_milli"))
    run = global_running_sum(
        dens, ["_negd", "id"], "cost", out_col="cum_cost")
    return (
        run.filter(F.col("cum_cost") <= budget)
        .select("id", "value", "cost", "density_milli", "cum_cost")
    )


def skew_report(
    df: DataFrame, key_cols: list[str]
) -> DataFrame:
    """1 row (n_keys, total_rows, max_share_ppm, gini_ppm): how skewed
    a prospective shuffle key is — the pre-flight check before keying
    a join/agg on it (a max_share near 1e6 means one reducer owns the
    job; gini is the whole-distribution version). Integer Gini over
    per-key counts c_(1) <= ... <= c_(n):

        G_ppm = (2*S - (n+1)*T) * 1e6  div  (n*T),   S = sum i*c_(i)

    one exact division, DECIMAL(38,0)-widened. The order statistics
    come from global_dense_rank over (count, key) — distinct keys
    only, no single-partition sort; everything else is two
    map-side-combined aggregates."""
    counts = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"))
    ranked = global_dense_rank(
        counts, ["_cnt", *key_cols], out_col="_i")
    return (
        ranked.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("_cnt").cast("long").alias("total_rows"),
            F.max("_cnt").cast("long").alias("_max"),
            F.sum(F.col("_i") * F.col("_cnt")).cast("long").alias("_s"),
        )
        .selectExpr(
            "n_keys", "total_rows",
            "CAST((CAST(_max AS DECIMAL(38,0)) * 1000000)"
            " DIV total_rows AS BIGINT) AS max_share_ppm",
            "CAST((CAST(2 AS DECIMAL(38,0)) * _s"
            " - (CAST(n_keys AS DECIMAL(38,0)) + 1) * total_rows)"
            " * 1000000 DIV (CAST(n_keys AS DECIMAL(38,0))"
            " * total_rows) AS BIGINT) AS gini_ppm",
        )
    )


def concentration_report(
    df: DataFrame, key_cols: list[str]
) -> DataFrame:
    """1 row (n_keys, total_rows, hhi_ppm, eff_keys_milli):
    Herfindahl-Hirschman concentration of rows over a key — the
    market-concentration number read next to skew_report's Gini when
    sizing a shuffle or auditing a corpus mix (HHI weights the HEAD:
    one source owning half the corpus dominates it regardless of how
    the tail splits, which max_share sees only if it is the single
    largest and Gini dilutes across the tail):

        HHI_ppm        = sum(c_k^2) * 1e6  div  T^2
        eff_keys_milli = T^2 * 1000  div  sum(c_k^2)   (1/HHI, the
                         "equivalent equal-size sources" count)

    Exact integer floors, DECIMAL(38,0)-widened (sum of squares <=
    T^2 <= 1e20 at 1e10 rows; *1e6 keeps it inside 38 digits), both
    mirrored by HUGEINT `//` in the oracle. Scale shape: ONE
    map-side-combined groupBy over distinct keys + a 1-row aggregate
    — no ranks, no window, no second shuffle."""
    counts = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"))
    return (
        counts.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("_cnt").cast("long").alias("total_rows"),
            F.sum(F.col("_cnt").cast("decimal(38,0)") * F.col("_cnt"))
            .alias("_ss"),
        )
        .selectExpr(
            "n_keys", "total_rows",
            "CAST(_ss * 1000000 DIV (CAST(total_rows AS DECIMAL(38,0))"
            " * total_rows) AS BIGINT) AS hhi_ppm",
            "CAST(CAST(total_rows AS DECIMAL(38,0)) * total_rows"
            " * 1000 DIV _ss AS BIGINT) AS eff_keys_milli",
        )
    )


def cache_hit_curve(
    requests: DataFrame,
    key_col: str = "key",
    max_size_log2: int = 9,
) -> DataFrame:
    """(cache_size, hit_ppm): request coverage of a STATIC cache
    holding the top-C most frequent keys, for C = 1, 2, 4, ...,
    2^max_size_log2 — the capacity-planning curve for a fetch cache /
    robots cache / DNS cache in front of the crawl tier (static
    most-frequent is the stationary-optimum admission policy; a real
    LFU converges to it, so this is the honest upper bound to size
    against).

        hit_ppm(C) = 1e6 * (requests to top-C keys) DIV total

    Deterministic tie: count desc, key asc. Scale shape: one map-side-
    combined key count, then TakeOrderedAndProject(2^max) — only the
    top 2^max rows ever leave the aggregate — and the curve joins the
    size grid against the broadcast ranked rows; the request stream
    is read once."""
    n = int(max_size_log2)
    counts = requests.select(F.col(key_col).alias("k")) \
        .groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.agg(F.sum("c").alias("total"))
    top = counts.orderBy(F.col("c").desc(), F.col("k").asc()) \
        .limit(1 << n)
    # bounded-global-window: input is .limit(1 << max_size_log2)
    # in-plan
    w = Window.orderBy(F.col("c").desc(), F.col("k").asc())
    ranked = (
        top.withColumn("r", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("c").over(w.rowsBetween(Window.unboundedPreceding,
                                          0)))
    )
    spark = requests.sparkSession
    sizes = spark.range(n + 1).select(
        F.expr("CAST(power(2, id) AS BIGINT)").alias("cache_size"))
    return (
        # the <=2^max ranked rows are the broadcastable side (a LEFT
        # join can only build its right side)
        sizes.join(F.broadcast(ranked),
                   F.col("r") <= F.col("cache_size"), "left")
        .groupBy("cache_size")
        .agg(F.max(F.coalesce("cum", F.lit(0))).alias("_hits"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cache_size",
            F.expr("CAST(1000000 * _hits DIV total AS BIGINT)")
            .alias("hit_ppm"),
        )
    )


# Exact integer sqrt of a DECIMAL(38,0) variance: float sqrt seed,
# then a +/-1 correction whose comparisons run in DECIMAL — the seed
# _s{n} reaches ~1e15 inside the documented envelopes, so squaring it
# in BIGINT would overflow (and the variance itself may exceed int64,
# the r3-advice NULL-silently bug this replaces).
_ISQ_DEC = (
    "CASE WHEN ({v}) = 0 THEN CAST(0 AS BIGINT) ELSE "
    "(CASE WHEN CAST(_s{n} + 1 AS DECIMAL(38,0)) * (_s{n} + 1)"
    " <= ({v})"
    " THEN _s{n} + 1"
    " WHEN CAST(_s{n} AS DECIMAL(38,0)) * _s{n} > ({v})"
    " THEN _s{n} - 1"
    " ELSE _s{n} END) END")


def metric_correlation(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """1 row (n, r_ppm): exact integer Pearson correlation between two
    long metric columns — the generic form of degree_assortativity's
    1-row Pearson (same DECIMAL(38,0) power sums, same exact-isqrt
    with +/-1 correction, same sign-split floor), for questions like
    "does quality decay with crawl depth?" where the ANSWER drives a
    budget knob and a float corr() would not value-hash across
    engines. Degenerate inputs (either variance 0) report r_ppm = 0; the ratio\n    is clamped to [-1e6, 1e6] (floor-isqrt denominators can\n    undershoot by 1 ulp on perfect relations, pushing the raw ratio\n    just past the bound).

    Scale shape: one map-side-combined 1-row aggregation — five power
    sums — then pure projections. Envelope: |x|,|y| <= ~1e9 at
    n <= 1e10 rows inside DECIMAL(38,0)."""
    s = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    isq = _ISQ_DEC
    return (
        s.withColumn("vx", F.expr("n * sxx - sx * sx"))
        .withColumn("vy", F.expr("n * syy - sy * sy"))
        .withColumn("num", F.expr("n * sxy - sx * sy"))
        .withColumn("_s0", F.expr(
            "CAST(floor(sqrt(CAST(vx AS DOUBLE))) AS BIGINT)"))
        .withColumn("_s1", F.expr(
            "CAST(floor(sqrt(CAST(vy AS DOUBLE))) AS BIGINT)"))
        .withColumn("rx", F.expr(isq.format(v="vx", n=0)))
        .withColumn("ry", F.expr(isq.format(v="vy", n=1)))
        .select(
            "n",
            F.expr(
                "CASE WHEN rx = 0 OR ry = 0 THEN CAST(0 AS BIGINT)"
                " WHEN num >= 0 THEN"
                " least(CAST((1000000 * num)"
                " DIV (CAST(rx AS DECIMAL(38,0)) * ry)"
                " AS BIGINT), 1000000)"
                " ELSE greatest(-CAST((1000000 * (-num))"
                " DIV (CAST(rx AS DECIMAL(38,0)) * ry)"
                " AS BIGINT), -1000000) END").alias("r_ppm"),
        )
    )


def ols_fit(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """1 row (n, slope_ppm, intercept_milli, r_ppm, r2_ppm): exact
    integer simple least squares y = a + b*x — metric_correlation's
    sibling for when the NUMBER you need is the trend itself (is
    crawl traffic growing? how fast does quality decay per depth
    level?), not just its strength:

        b (slope_ppm)        = 1e6 * (n*Sxy - Sx*Sy)
                               DIV (n*Sxx - Sx^2)
        a (intercept_milli)  = (1e9*Sy - 1000*slope_ppm*Sx)
                               DIV (1e6 * n)
                               -- i.e. exact in the REPORTED ppm slope,
                               so both engines agree bit-for-bit
        r_ppm                = metric_correlation's exact-isqrt Pearson
        r2_ppm               = r_ppm^2 DIV 1e6

    All divisions sign-split (truncate toward zero on both engines);
    slope/intercept NULL when x is constant (vx = 0). Envelope:
    |x|, |y| <= ~1e6 at n <= 1e9 keeps every product inside
    DECIMAL(38,0)/HUGEINT.

    Scale shape: ONE map-side-combined 1-row aggregation (the same
    five power sums as metric_correlation), then pure projections —
    nothing here grows with the input."""
    s = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("sum(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
        F.expr("sum(CAST(y AS DECIMAL(38,0)) * y)").alias("syy"),
    )
    isq = _ISQ_DEC
    return (
        s.withColumn("vx", F.expr("n * sxx - sx * sx"))
        .withColumn("vy", F.expr("n * syy - sy * sy"))
        .withColumn("num", F.expr("n * sxy - sx * sy"))
        .withColumn(
            "slope_ppm",
            F.expr(
                "CASE WHEN vx = 0 THEN CAST(NULL AS BIGINT)"
                " WHEN num >= 0 THEN"
                " CAST((1000000 * num) DIV vx AS BIGINT)"
                " ELSE -CAST((1000000 * (-num)) DIV vx AS BIGINT)"
                " END"))
        .withColumn(
            "intercept_milli",
            F.expr(
                "CASE WHEN vx = 0 THEN CAST(NULL AS BIGINT)"
                " WHEN 1000000000 * sy - 1000 * slope_ppm * sx >= 0"
                " THEN CAST((1000000000 * sy - 1000 * slope_ppm * sx)"
                " DIV (1000000 * n) AS BIGINT)"
                " ELSE -CAST(-(1000000000 * sy - 1000 * slope_ppm * sx)"
                " DIV (1000000 * n) AS BIGINT) END"))
        .withColumn("_s0", F.expr(
            "CAST(floor(sqrt(CAST(vx AS DOUBLE))) AS BIGINT)"))
        .withColumn("_s1", F.expr(
            "CAST(floor(sqrt(CAST(vy AS DOUBLE))) AS BIGINT)"))
        .withColumn("rx", F.expr(isq.format(v="vx", n=0)))
        .withColumn("ry", F.expr(isq.format(v="vy", n=1)))
        .withColumn(
            "r_ppm",
            F.expr(
                "CASE WHEN rx = 0 OR ry = 0 THEN CAST(0 AS BIGINT)"
                " WHEN num >= 0 THEN"
                " least(CAST((1000000 * num)"
                " DIV (CAST(rx AS DECIMAL(38,0)) * ry)"
                " AS BIGINT), 1000000)"
                " ELSE greatest(-CAST((1000000 * (-num))"
                " DIV (CAST(rx AS DECIMAL(38,0)) * ry)"
                " AS BIGINT), -1000000) END"))
        .select(
            "n", "slope_ppm", "intercept_milli", "r_ppm",
            F.expr("CAST((r_ppm * r_ppm) DIV 1000000 AS BIGINT)")
            .alias("r2_ppm"),
        )
    )


def gini_concentration(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """1 row (n_keys, total, gini_ppm): exact Gini coefficient of a
    non-negative per-key load column — the crawl-ops inequality audit
    (is the fetch budget spread across hosts or captured by a handful?)
    that complements source_hhi: HHI weighs the head, Gini reads the
    whole Lorenz curve.

        G = (2 * sum_i i*x_(i) - (n+1) * sum x) / (n * sum x)

    with i the 1-based rank in global ascending (value, key) order —
    keys break value ties, so the rank (and the statistic) is
    engine-portable. Integer ppm on DECIMAL/HUGEINT products; the
    numerator is non-negative by construction (ascending ranks), so
    floor-vs-truncate parity is free. Degenerate inputs (no rows or
    zero total) report 0.

    Scale shape: the global rank is global_running_sum's
    range-shuffle + per-partition window + bounded driver offsets —
    NEVER a single-partition global sort — followed by one
    map-side-combined 1-row aggregation."""
    x = df.select(
        F.col(key_col).alias("_k"),
        F.col(value_col).cast("long").alias("_v"),
        F.lit(1).cast("long").alias("_one"))
    r = global_running_sum(x, ["_v", "_k"], "_one", out_col="_rank")
    return (
        r.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("_v").cast("long").alias("total"),
            F.sum(F.expr("CAST(_rank AS DECIMAL(38,0)) * _v"))
            .alias("_srx"))
        .select(
            "n_keys", "total",
            F.expr(
                "CASE WHEN n_keys = 0 OR total = 0"
                " THEN CAST(0 AS BIGINT)"
                " ELSE CAST((2 * _srx"
                " - (CAST(n_keys AS DECIMAL(38,0)) + 1) * total)"
                " * 1000000 DIV (CAST(n_keys AS DECIMAL(38,0))"
                " * total) AS BIGINT) END").alias("gini_ppm"))
    )
