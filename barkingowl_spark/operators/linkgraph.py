"""Link-graph analytics over the crawl's discovered edges — the analysis
layer a frontier crawler feeds (prioritization, seed scoring, spam-farm
spotting). SURVEY.md §2 extension rows; no reference counterpart exists
(the reference's dispatcher never looked at the graph it was building —
/root/reference is empty, see SURVEY §0), so semantics here are defined
by this module + the DuckDB oracles in __spark_entry__.py.

Everything is integer-exact so the driver's value-hash oracle holds:

  * degrees/host rollups are plain counts;
  * PageRank runs in FIXED POINT — ranks are bigints scaled by
    ``scale``, every division is integer `div` (Spark) == `//` (DuckDB,
    positive operands), so a 3-iteration rank is bit-identical across
    engines and across cluster sizes (no float summation-order drift,
    the same trick sim_topk_cosine uses).

Scale shapes (10^10-edge design point):

  * edges_from_archive: one narrow projection of the archive — no html.
  * degree_stats: two map-side-combined counts + one full outer join on
    node; the union trick (tag + single groupBy) would be one shuffle
    fewer but double-scans, a wash at this width.
  * host_graph: groupBy (src_host, dst_host) — host-skew (everyone
    links to twitter.com) is absorbed by map-side partial counts.
  * pagerank_fixed: per iteration, one shuffle-join ranks⋈edges on src
    (both sides hash-partitioned on the same key, so AQE reuses the
    exchange) + one groupBy dst with map-side partial sums (hub pages
    combine before the shuffle — the skew answer). localCheckpoint per
    iteration truncates lineage exactly like operators/components.py;
    dangling mass is dropped, documented, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMP_NUM = 85   # damping = 85/100, kept as an integer ratio
DAMP_DEN = 100


def edges_from_archive(archive: DataFrame) -> DataFrame:
    """(src, dst) string edges from the crawl archive's parent links —
    the seed rows (parent_url NULL) contribute nothing."""
    return (
        archive.filter(F.col("parent_url").isNotNull())
        .select(F.col("parent_url").alias("src"), F.col("url").alias("dst"))
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """(node, out_deg, in_deg) for every node on either edge side."""
    out_d = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg"))
    in_d = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg"))
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def reciprocal_stats(edges: DataFrame) -> DataFrame:
    """(node, out_deg, recip_deg, recip_ppm): per source node, how many
    of its distinct out-edges have the reverse edge present — the
    'nepotistic link' share (Davison, 2000; a core feature of the
    link-spam detectors in Becchetti et al. 2008). Organic link
    neighborhoods are mostly asymmetric; link farms and exchange rings
    approach recip_ppm = 1e6.

    Self-loops are dropped and edges de-duplicated first, so the ppm is
    over distinct directed pairs. Shape: one distinct shuffle on (src,
    dst), one LEFT SEMI self-join against the reversed key (same
    partitioning, content-derived keys), one src rollup — no node ever
    sees more than its own adjacency."""
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (
        e.join(rev, ["src", "dst"], "left_semi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("recip_deg"))
    )
    out_d = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    return (
        out_d.join(recip, "src", "left")
        .select(
            F.col("src").alias("node"),
            "out_deg",
            F.coalesce("recip_deg", F.lit(0)).alias("recip_deg"),
            F.expr(
                "CAST((coalesce(recip_deg, 0) * 1000000) DIV out_deg"
                " AS BIGINT)"
            ).alias("recip_ppm"),
        )
    )


def host_graph(edges: DataFrame, host_expr=None) -> DataFrame:
    """Host-level rollup (src_host, dst_host, n_links) of a URL edge
    list. ``host_expr``: column-fn url -> host; defaults to the crawl
    canon host. Self-loops (intra-host links) are kept — they are the
    politeness scheduler's per-host load signal."""
    if host_expr is None:
        # same netloc regex the ingest edges use (plans/ingest.py HOST_RE):
        # relational, whole-stage-codegen — no UDF
        host_expr = lambda c: F.regexp_extract(  # noqa: E731
            c, r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)
    return (
        edges.select(
            host_expr(F.col("src")).alias("src_host"),
            host_expr(F.col("dst")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def pagerank_fixed(
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """(node, rank_fp): ``n_iter`` synchronous PageRank iterations in
    fixed point. rank_fp is the rank scaled by ``scale``, floor at every
    division, damping DAMP_NUM/DAMP_DEN:

        base      = (scale * (DAMP_DEN - DAMP_NUM)) div (DAMP_DEN * N)
        contrib_u = (rank_u * DAMP_NUM) div (DAMP_DEN * outdeg_u)
        rank'_v   = base + sum(contrib_u for u -> v)

    Dangling-node mass evaporates (no redistribution) — deterministic
    and engine-portable; ranks are a priority signal, not a probability
    distribution. All arithmetic stays in int64: scale=1e12 and
    DAMP_NUM=85 keep the max intermediate under 9e13 << 2^63."""
    e = edges.select("src", "dst").localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg"))
    base = (scale * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * n)
    ranks = nodes.withColumn("rank_fp", F.lit(scale // n).cast("long"))
    for _ in range(n_iter):
        # alias the edge columns: nodes/ranks derive from e, so an
        # unaliased join is an ambiguous self-join
        ee = e.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
        contribs = (
            ranks.join(outdeg, "node")
            .join(ee, F.col("node") == F.col("e_src"))
            .select(
                F.col("e_dst").alias("node"),
                F.expr(
                    f"(rank_fp * {DAMP_NUM}) div ({DAMP_DEN}L * outdeg)"
                ).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce("inflow", F.lit(0)))
                .cast("long").alias("rank_fp"),
            )
            .localCheckpoint()
        )
    return ranks


def hits_fixed(edges: DataFrame, n_iter: int = 2) -> DataFrame:
    """(node, hub_fp, auth_fp): ``n_iter`` HITS iterations (Kleinberg's
    hubs & authorities), UNNORMALIZED integer recurrence — exact bigint
    sums instead of the usual L2 normalization, so scores are
    bit-identical across engines and cluster sizes (the float norm is
    where classic HITS loses portability):

        auth'(v) = sum(hub(u)   for u -> v)     then
        hub'(v)  = sum(auth'(w) for v -> w)     (auth updates first)

    starting from hub = auth = 1. Magnitudes grow like (max_deg^2)^iter
    — with n_iter=2 the bound is deg^4, safe in int64 for any real host
    graph (deg <= ~10^4); at corpus scale rescale between rounds with a
    global `div max(1, max_hub >> 20)` — same floor-div portability.
    Relative order (the crawl-priority signal) is what the recurrence
    preserves.

    Scale shape: per half-step one shuffle-join scores⋈edges + one
    map-side-combined groupBy — identical to pagerank_fixed's round;
    localCheckpoint truncates lineage per iteration.
    """
    e = edges.select("src", "dst").localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    scores = nodes.select(
        "node",
        F.lit(1).cast("long").alias("hub_fp"),
        F.lit(1).cast("long").alias("auth_fp"),
    )
    for _ in range(n_iter):
        ee = e.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
        auth = (
            scores.join(ee, F.col("node") == F.col("e_src"))
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.sum("hub_fp").alias("auth_new"))
        )
        with_auth = (
            scores.join(auth, "node", "left")
            .select(
                "node", "hub_fp",
                F.coalesce("auth_new", F.lit(0).cast("long"))
                .alias("auth_fp"),
            )
        )
        hub = (
            with_auth.join(ee, F.col("node") == F.col("e_dst"))
            .groupBy(F.col("e_src").alias("node"))
            .agg(F.sum("auth_fp").alias("hub_new"))
        )
        scores = (
            with_auth.select("node", "auth_fp")
            .join(hub, "node", "left")
            .select(
                "node",
                F.coalesce("hub_new", F.lit(0).cast("long"))
                .alias("hub_fp"),
                "auth_fp",
            )
            .localCheckpoint()
        )
    return scores.select("node", "hub_fp", "auth_fp")


def trustrank_fixed(
    edges: DataFrame,
    trusted: DataFrame,
    n_iter: int = 3,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """(node, trust_fp): TrustRank (Gyongyi, Garcia-Molina & Pedersen,
    "Combating Web Spam with TrustRank", VLDB 2004) — PageRank with the
    teleport restricted to a trusted seed set T:

        base_v   = (scale * (DAMP_DEN - DAMP_NUM)) div (DAMP_DEN * |T|)
                   for v in T, else 0
        trust0_v = scale div |T| for v in T, else 0
        contrib and iteration exactly as pagerank_fixed.

    Trust flows OUT of the seeds along links, attenuating with
    distance; pages unreachable from any seed converge to 0 — the
    rank-vs-trust gap is the spam-demotion signal. Same int64 fixed
    point, floor-div everywhere, bit-identical across engines and
    cluster sizes; same per-iteration shape as pagerank_fixed (one
    shuffle join + one map-side-combined agg), lineage truncated per
    round. trusted: one (node) column; deduplicated here, |T| is its
    distinct count."""
    e = edges.select("src", "dst").localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    t = trusted.select("node").distinct().localCheckpoint()
    nt = t.count()
    if nt == 0:
        return nodes.select(
            "node", F.lit(0).cast("long").alias("trust_fp"))
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg"))
    base = (scale * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * nt)
    tflag = t.withColumn("_t", F.lit(1))
    ranks = (
        nodes.join(tflag, "node", "left")
        .select(
            "node",
            F.when(F.col("_t") == 1, F.lit(scale // nt))
            .otherwise(F.lit(0)).cast("long").alias("trust_fp"),
        )
        .localCheckpoint()
    )
    for _ in range(n_iter):
        ee = e.select(F.col("src").alias("e_src"),
                      F.col("dst").alias("e_dst"))
        contribs = (
            ranks.join(outdeg, "node")
            .join(ee, F.col("node") == F.col("e_src"))
            .select(
                F.col("e_dst").alias("node"),
                F.expr(
                    f"(trust_fp * {DAMP_NUM}) div ({DAMP_DEN}L * outdeg)"
                ).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = (
            nodes.join(tflag, "node", "left")
            .join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.when(F.col("_t") == 1, F.lit(base))
                    .otherwise(F.lit(0))
                    + F.coalesce("inflow", F.lit(0))
                ).cast("long").alias("trust_fp"),
            )
            .localCheckpoint()
        )
    return ranks


def opic_fixed(
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """(node, cash_fp, hist_fp): ``n_iter`` synchronous rounds of OPIC
    (Abiteboul, Preda & Cobena, "Adaptive On-Line Page Importance
    Computation", WWW 2003) in the same int64 fixed point as
    pagerank_fixed. OPIC is the crawl-frontier prioritization signal the
    paper designed for exactly this setting: unlike PageRank it needs no
    convergence before being useful — ``hist_fp + cash_fp`` is an
    anytime importance estimate, so a frontier can rank URLs after every
    wave.

    Batch recurrence (cash starts uniform, history at 0):

        hist'_v = hist_v + cash_v
        cash'_v = sum(cash_u div outdeg_u  for each edge u -> v)
                  + dangle div N
        dangle  = sum(cash_u for u with outdeg_u = 0)

    The dangle term is the paper's virtual-root page (every dangling
    page links to it, it links to everyone) folded into one scalar:
    dangling cash is re-spread uniformly next round instead of
    evaporating, so total cash is conserved up to floor-div remainders
    — importance stays comparable across rounds. All floor divisions,
    bit-identical across engines and cluster sizes.

    Scale shape: per round, one shuffle-join cash⋈edges on src + one
    map-side-combined groupBy dst (identical to pagerank_fixed's round)
    plus ONE 1-row aggregate for the dangle scalar (a broadcast, never
    a driver collect of per-node state); lineage truncated per round.
    """
    e = edges.select("src", "dst").localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg"))
    state = nodes.select(
        "node",
        F.lit(scale // n).cast("long").alias("cash_fp"),
        F.lit(0).cast("long").alias("hist_fp"),
    )
    for _ in range(n_iter):
        ee = e.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
        with_deg = state.join(outdeg, "node", "left")
        inflow = (
            with_deg.filter(F.col("outdeg").isNotNull())
            .join(ee, F.col("node") == F.col("e_src"))
            .select(
                F.col("e_dst").alias("node"),
                F.expr("cash_fp div outdeg").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("inflow"))
        )
        dangle = (
            with_deg.filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("cash_fp"), F.lit(0)).alias("dangle"))
        )
        state = (
            state.join(inflow, "node", "left")
            .crossJoin(F.broadcast(dangle))
            .select(
                "node",
                (
                    F.coalesce("inflow", F.lit(0))
                    + F.expr(f"dangle div {n}L")
                ).cast("long").alias("cash_fp"),
                (F.col("hist_fp") + F.col("cash_fp"))
                .cast("long").alias("hist_fp"),
            )
            .localCheckpoint()
        )
    return state.select("node", "cash_fp", "hist_fp")


def spam_mass_fixed(
    edges: DataFrame,
    trusted: DataFrame,
    n_iter: int = 3,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """(node, rank_fp, white_fp, mass_fp, rel_mass_ppm): spam-mass
    estimation (Gyongyi, Berkhin, Garcia-Molina & Pedersen, "Link Spam
    Detection Based on Mass Estimation", VLDB 2006). Two PageRank
    recurrences over the SAME edges in one pass:

      * rank_fp  — ordinary PageRank (uniform teleport, = pagerank_fixed)
      * white_fp — PageRank with the teleport restricted to the trusted
        core T but NOT re-normalized: teleport weight stays 1/N per
        trusted node (the paper's non-normalized jump vector), so
        white_fp measures the rank attributable to good-core reachability
        on the same absolute scale as rank_fp.

    Then mass_fp = rank_fp - white_fp (the rank NOT explainable by the
    good core) and rel_mass_ppm = mass_fp * 1e6 div rank_fp — the
    paper's relative mass, the spam-demotion threshold signal. Floor
    division is monotone, white's start/base are per-node dominated by
    rank's, so 0 <= white_fp <= rank_fp and rel_mass_ppm is always in
    [0, 1e6] (0 when rank_fp = 0). Max intermediate rank_fp*1e6 <=
    scale*1e6 = 1e18 < 2^63.

    Both recurrences share the edges⋈state join and the groupBy — the
    per-iteration cost is pagerank_fixed's, not 2x (one wide row instead
    of two jobs). Same scale shape: one shuffle join + one map-side
    combined agg per round, lineage truncated per round."""
    e = edges.select("src", "dst").localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg"))
    base = (scale * (DAMP_DEN - DAMP_NUM)) // (DAMP_DEN * n)
    tflag = trusted.select("node").distinct().withColumn("_t", F.lit(1))
    state = (
        nodes.join(tflag, "node", "left")
        .select(
            "node",
            F.lit(scale // n).cast("long").alias("rank_fp"),
            F.when(F.col("_t") == 1, F.lit(scale // n))
            .otherwise(F.lit(0)).cast("long").alias("white_fp"),
            F.coalesce(F.col("_t"), F.lit(0)).alias("_t"),
        )
        .localCheckpoint()
    )
    for _ in range(n_iter):
        ee = e.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
        contribs = (
            state.join(outdeg, "node")
            .join(ee, F.col("node") == F.col("e_src"))
            .groupBy(F.col("e_dst").alias("node"))
            .agg(
                F.sum(F.expr(
                    f"(rank_fp * {DAMP_NUM}) div ({DAMP_DEN}L * outdeg)"
                )).alias("in_rank"),
                F.sum(F.expr(
                    f"(white_fp * {DAMP_NUM}) div ({DAMP_DEN}L * outdeg)"
                )).alias("in_white"),
            )
        )
        state = (
            state.select("node", "_t")
            .join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce("in_rank", F.lit(0)))
                .cast("long").alias("rank_fp"),
                (
                    F.when(F.col("_t") == 1, F.lit(base)).otherwise(F.lit(0))
                    + F.coalesce("in_white", F.lit(0))
                ).cast("long").alias("white_fp"),
                "_t",
            )
            .localCheckpoint()
        )
    return state.select(
        "node", "rank_fp", "white_fp",
        (F.col("rank_fp") - F.col("white_fp")).alias("mass_fp"),
        F.when(
            F.col("rank_fp") > 0,
            F.expr("((rank_fp - white_fp) * 1000000L) div rank_fp"),
        ).otherwise(F.lit(0)).cast("long").alias("rel_mass_ppm"),
    )


def outlink_entropy(edges: DataFrame) -> DataFrame:
    """(src_host, out_links, dst_hosts, entropy_millibits): per-host
    outlink diversity — the link-farm signal (a host whose links all
    point at one or two destinations has near-zero outlink entropy; a
    nepotistic spam ring shows low entropy AND high reciprocal share,
    see reciprocal_stats). Entropy is the floor-log2 INTEGER surrogate

        H = sum_d c_d * 1000 * floor(log2(t div c_d)) div t  millibits

    over destination-host counts c_d (t = total outlinks) —
    floor(log2(x)) == length(bin(x)) - 1, the repo-wide integer-log2
    identity (functions/lmscore.py), so the score is bit-identical
    across engines. It preserves the ordering signal (0 for a
    single-destination host, ~log2(k) for k uniform destinations);
    absolute calibration is not the contract.

    Scale shape: one groupBy (src_host, dst_host) with map-side
    combine (hot hosts pre-aggregate), a window sum over src_host for
    the total (same partitioning — AQE reuses the exchange), then one
    map-side-combined groupBy src_host. Never a per-host array: a hub
    linking to 10^5 hosts stays row-distributed."""
    pairs = (
        edges.select("src_host", "dst_host")
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src_host")
    terms = pairs.withColumn("t", F.sum("c").over(w)).withColumn(
        "term",
        F.expr("c * 1000L * (length(bin(t div c)) - 1)"),
    )
    return (
        terms.groupBy("src_host")
        .agg(
            F.max("t").alias("out_links"),
            F.count(F.lit(1)).cast("long").alias("dst_hosts"),
            F.sum("term").alias("_s"),
        )
        .select(
            "src_host", "out_links", "dst_hosts",
            F.expr("_s div out_links").alias("entropy_millibits"),
        )
    )


def cocitation(edges: DataFrame, max_out: int = 64) -> DataFrame:
    """(host_a, host_b, cocite, in_a, in_b, sim_ppm): co-citation
    similarity between destination hosts (Small 1973) — two hosts are
    related when many of the same source hosts link to BOTH. The
    related-host discovery signal, and (with reciprocal_stats /
    outlink_entropy) a spam-ring detector: a farm's satellites are
    co-cited by the same few hubs.

    Counted over the DISTINCT (src_host, dst_host) edge set; sim_ppm =
    cocite * 1e6 div min(in_a, in_b) (overlap coefficient — 1e6 when
    the smaller host's citers are a subset of the larger's).

    Scale shape: the pair generator is a self-join on src_host, which
    explodes quadratically on mega-hubs — so sources with out-degree >
    ``max_out`` are DROPPED first (the same stop-key cap as
    operators/mirrors.py: a hub citing everyone carries no pairwise
    signal, exactly like a stop word; the cap bounds the join fan-out
    at max_out^2 per source and is the documented precision/recall
    knob). In-degrees for the normalization are counted over the SAME
    capped edge set, keeping sim_ppm <= 1e6 an invariant."""
    e = edges.select("src_host", "dst_host").distinct()
    deg = e.groupBy("src_host").agg(F.count(F.lit(1)).alias("od"))
    kept = e.join(
        deg.filter(F.col("od") <= max_out).select("src_host"),
        "src_host")
    a = kept.select("src_host", F.col("dst_host").alias("host_a"))
    b = kept.select("src_host", F.col("dst_host").alias("host_b"))
    pairs = (
        a.join(b, "src_host")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("long").alias("cocite"))
    )
    indeg = kept.groupBy(F.col("dst_host").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("ind"))
    return (
        pairs
        .join(indeg.select(F.col("h").alias("host_a"),
                           F.col("ind").alias("in_a")), "host_a")
        .join(indeg.select(F.col("h").alias("host_b"),
                           F.col("ind").alias("in_b")), "host_b")
        .select(
            "host_a", "host_b", "cocite", "in_a", "in_b",
            F.expr("(cocite * 1000000L) div least(in_a, in_b)")
            .alias("sim_ppm"),
        )
    )


def label_propagation(edges: DataFrame, n_iter: int = 4) -> DataFrame:
    """(node, community, community_size): synchronous label propagation
    (Raghavan, Albert & Kumara 2007) over the UNDIRECTED, deduplicated
    edge set — the near-linear community detector (host clusters: link
    farms, mirror constellations, topical neighborhoods).

    Determinism (the published algorithm is randomized; this variant is
    not): updates are synchronous (round i reads only round i-1), every
    node votes once per distinct undirected neighbor (unweighted), and
    a count tie picks the SMALLEST label — encoded as
    min(struct(-cnt, label)), so Spark and any SQL engine agree
    bit-for-bit. Self-loops are dropped; a node with no non-self
    neighbors keeps its own label. Labels start as the node id.

    Scale shape per round: one shuffle join (labels x edges on src) +
    one map-side-combined (node, label) count + one node argmin — the
    same two-shuffle-per-round class as pagerank_fixed;
    localCheckpoint truncates lineage. n_iter is a cap, not a
    convergence test (LPA oscillates on bipartite structures;
    synchronous + fixed rounds keeps it a pure dataflow)."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    und = (
        e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(n_iter):
        uu = und.select(
            F.col("src").alias("e_src"), F.col("dst").alias("e_dst")
        )
        pick = (
            labels.join(uu, F.col("node") == F.col("e_src"))
            .groupBy(F.col("e_dst"), F.col("label"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .groupBy("e_dst")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
                ).alias("_m")
            )
            .select(
                F.col("e_dst").alias("node"),
                F.col("_m.label").alias("new_label"),
            )
        )
        labels = (
            nodes.join(pick, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", F.col("node")).alias("label"),
            )
            .localCheckpoint()
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(sizes, "label").select(
        "node", F.col("label").alias("community"), "community_size"
    )


def _undirected_simple(edges: DataFrame) -> DataFrame:
    """Deduplicated undirected edge set, self-loops dropped (the
    label_propagation normalization, shared)."""
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    return (
        e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )


def kcore_peel(
    edges: DataFrame, k: int = 3, n_rounds: int = 3
) -> DataFrame:
    """(node, degree): survivors of `n_rounds` of SYNCHRONOUS k-core
    peeling (Seidman, "Network structure and minimum degree", Social
    Networks 1983) on the undirected simple graph, with their degree
    in the final surviving subgraph.

    Peeling round: compute every surviving node's degree among
    surviving edges, then drop ALL nodes with degree < k at once
    (synchronous — round i reads only round i-1, so the result is a
    pure dataflow, bit-identical across engines and cluster sizes).
    The fixed-round form is the oracle-checkable prefix of the
    converged k-core; `kcore` below iterates to the fixed point. The
    k-core is the crawler's dense-subgraph screen — link farms and
    mirror constellations live in high cores, genuine editorial pages
    rarely exceed small k (TrustRank/spam-mass's structural
    complement).

    Scale shape per round: one map-side-combined degree count + two
    semi-joins (src-alive, dst-alive) — the peel never materializes
    anything bigger than the surviving edge set; lineage truncated per
    round like pagerank_fixed."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if n_rounds < 0:
        raise ValueError("n_rounds must be >= 0")
    und = _undirected_simple(edges)
    sub = und
    for _ in range(n_rounds):
        deg = sub.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("degree"))
        alive = deg.filter(F.col("degree") >= k).select("node")
        sub = (
            sub.join(alive.withColumnRenamed("node", "src"), "src",
                     "left_semi")
            .join(alive.withColumnRenamed("node", "dst"), "dst",
                  "left_semi")
            .localCheckpoint()
        )
    return sub.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"))


def kcore(edges: DataFrame, k: int = 3, max_rounds: int = 100) -> DataFrame:
    """(node, degree): the converged k-core — kcore_peel iterated until
    the surviving edge count is stable (one driver-side count probe
    per round, the components.py convergence discipline). Every
    remaining node has degree >= k in the returned subgraph."""
    if k < 1:
        raise ValueError("k must be >= 1")
    und = _undirected_simple(edges)
    sub = und
    prev = sub.count()
    for _ in range(max_rounds):
        deg = sub.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("degree"))
        alive = deg.filter(F.col("degree") >= k).select("node")
        sub = (
            sub.join(alive.withColumnRenamed("node", "src"), "src",
                     "left_semi")
            .join(alive.withColumnRenamed("node", "dst"), "dst",
                  "left_semi")
            .localCheckpoint()
        )
        cur = sub.count()
        if cur == prev:
            break
        prev = cur
    return sub.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree"))


def adamic_adar(edges: DataFrame, max_deg: int = 64) -> DataFrame:
    """(node_a, node_b, common_neighbors, aa_micro): Adamic-Adar
    link-prediction scores (Adamic & Adar, "Friends and neighbors on
    the Web", Social Networks 2003; the strongest simple predictor in
    Liben-Nowell & Kleinberg CIKM'03) over the undirected simple
    graph: pairs sharing neighbors, each common neighbor w weighted
    inversely by how promiscuous it is —

        aa_micro(u,v) = sum_w 1e6 div (1 + floor(log2(deg(w))))

    the repo's integer floor-log2 surrogate of 1/log deg (same
    bin-length identity as outlink_entropy; 1+ keeps degree-1 bridges
    finite at weight 1e6). High AA between unlinked hosts = related
    content / candidate seeds; combined with reciprocal_stats it
    separates organic neighborhoods from nepotistic rings.

    Scale shape: the wedge self-join on the shared neighbor w is the
    quadratic hazard — a 10^6-degree hub alone yields 10^12 pairs —
    so hubs above max_deg are EXCLUDED as wedge centers (the
    mirrors.py/cocitation stop-key discipline; dropped volume is
    countable by comparing degree tables). One degree agg + one
    self-equi-join + one map-side-combined pair agg."""
    und = _undirected_simple(edges)
    deg = und.groupBy(F.col("src").alias("w")).agg(
        F.count(F.lit(1)).alias("deg"))
    centers = deg.filter(F.col("deg") <= max_deg).withColumn(
        "wt",
        F.expr("1000000L div (1 + (length(bin(deg)) - 1))"),
    )
    wedge = und.select(F.col("src").alias("w"), F.col("dst").alias("n"))
    a = wedge.select("w", F.col("n").alias("node_a"))
    b = wedge.select("w", F.col("n").alias("node_b"))
    return (
        a.join(b, "w")
        .filter(F.col("node_a") < F.col("node_b"))
        .join(centers.select("w", "wt"), "w")
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum("wt").cast("long").alias("aa_micro"),
        )
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """(node, degree, triangles, clustering_ppm): exact per-node
    triangle counts and local clustering coefficient over the
    undirected simple graph — the link-farm density microscope (spam
    rings are triangle-dense; editorial link neighborhoods are
    sparse), next to kcore/adamic_adar in the structural toolkit.

    Algorithm: degree-ordered orientation (Cohen's MapReduce triangle
    scheme / Chiba-Nishizeki): orient every undirected edge from the
    (degree, node)-smaller endpoint to the larger, so each node's
    out-degree is bounded by ~sqrt(m) on any graph (arboricity bound)
    — the wedge self-join that explodes quadratically on hubs in the
    naive scheme is provably bounded here, no stop-key cap needed.
    Each triangle is generated exactly once (its orientation is a
    total order), then credited to all three corners.

    Plan: one degree agg, one orientation filter-join, ONE wedge
    self-equi-join on the wedge center + ONE (b, c) equi-join closing
    the triangle, one explode+count. clustering_ppm =
    2*T*1e6 div (deg*(deg-1)), DECIMAL-widened."""
    und = _undirected_simple(edges)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    o = (
        und.join(deg.withColumnRenamed("node", "src")
                 .withColumnRenamed("deg", "deg_s"), "src")
        .join(deg.withColumnRenamed("node", "dst")
              .withColumnRenamed("deg", "deg_d"), "dst")
        .filter((F.col("deg_s") < F.col("deg_d"))
                | ((F.col("deg_s") == F.col("deg_d"))
                   & (F.col("src") < F.col("dst"))))
        .select("src", "dst", "deg_d")
        .localCheckpoint()
    )
    w1 = o.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                  F.col("deg_d").alias("deg_b"))
    w2 = o.select(F.col("src").alias("a"), F.col("dst").alias("c"),
                  F.col("deg_d").alias("deg_c"))
    wedges = (
        w1.join(w2, "a")
        .filter((F.col("deg_b") < F.col("deg_c"))
                | ((F.col("deg_b") == F.col("deg_c"))
                   & (F.col("b") < F.col("c"))))
        .select("a", "b", "c")
    )
    closing = o.select(F.col("src").alias("b"),
                       F.col("dst").alias("c"))
    tris = wedges.join(closing, ["b", "c"])
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("degree"),
            F.coalesce("triangles", F.lit(0).cast("long"))
            .alias("triangles"),
        )
        .withColumn(
            "clustering_ppm",
            F.expr(
                "CASE WHEN degree >= 2 THEN"
                " CAST((CAST(2 AS DECIMAL(38,0)) * triangles"
                " * 1000000) DIV (CAST(degree AS DECIMAL(38,0))"
                " * (degree - 1)) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )


def salsa_fixed(
    edges: DataFrame, n_iter: int = 2,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """(node, hub_fp, auth_fp): SALSA (Lempel & Moran, "The Stochastic
    Approach for Link-Structure Analysis", WWW 2000 / TOIS 2001 — the
    ranking behind Twitter's Who-To-Follow): HITS with random-walk
    normalization, which kills HITS's TKC (tightly-knit community)
    capture — a small dense ring can't hoard all the score because
    every node redistributes only probability mass:

        auth'(v) = sum( hub(u)  div outdeg(u)  for u -> v )
        hub'(v)  = sum( auth'(w) div indeg(w)  for v -> w )

    in `scale` fixed point, per-edge floor division (the
    pagerank_fixed portability discipline; mass leaks by at most 1
    unit per edge per step — deterministic, engine-portable). Start
    hub = auth = scale. Same two-shuffles-per-half-step plan as
    hits_fixed, localCheckpoint per round."""
    e = edges.select("src", "dst").localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg"))
    indeg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("indeg"))
    scores = nodes.select(
        "node",
        F.lit(scale).cast("long").alias("hub_fp"),
        F.lit(scale).cast("long").alias("auth_fp"),
    )
    for _ in range(n_iter):
        ee = e.select(F.col("src").alias("e_src"),
                      F.col("dst").alias("e_dst"))
        auth = (
            scores.join(outdeg, "node")
            .join(ee, F.col("node") == F.col("e_src"))
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.sum(F.expr("hub_fp div outdeg")).alias("auth_new"))
        )
        with_auth = (
            scores.join(auth, "node", "left")
            .select(
                "node", "hub_fp",
                F.coalesce("auth_new", F.lit(0).cast("long"))
                .alias("auth_fp"),
            )
        )
        hub = (
            with_auth.join(indeg, "node")
            .join(ee, F.col("node") == F.col("e_dst"))
            .groupBy(F.col("e_src").alias("node"))
            .agg(F.sum(F.expr("auth_fp div indeg")).alias("hub_new"))
        )
        scores = (
            with_auth.select("node", "auth_fp")
            .join(hub, "node", "left")
            .select(
                "node",
                F.coalesce("hub_new", F.lit(0).cast("long"))
                .alias("hub_fp"),
                "auth_fp",
            )
            .localCheckpoint()
        )
    return scores.select("node", "hub_fp", "auth_fp")


def ppr_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 3,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """(seed, node, ppr_fp): multi-source PERSONALIZED PageRank — one
    rank vector per seed, all seeds propagated in a single batched
    iteration (Page et al. 1999 §6; the focused-crawl relevance /
    seed-attribution primitive trustrank_fixed's single merged vector
    cannot give, because it collapses WHICH seed the mass came from):

        r_s^0(v)     = scale                       iff v = s
        r_s^{i+1}(v) = base * [v = s]
                       + sum over in-edges (u,v) of
                           (r_s^i(u) * DAMP_NUM) div (DAMP_DEN * out(u))
        base         = scale * (DAMP_DEN - DAMP_NUM) div DAMP_DEN

    Dangling mass is dropped (not redistributed) — the conservative
    choice for seed attribution, stated so the oracle matches exactly.
    Same int64 floor-div fixed point as pagerank_fixed.

    REPRESENTATION IS SPARSE: rank rows exist only for (seed, node)
    pairs already reached, so memory is sum over seeds of |ball(s,
    n_iter)|, not |S| x |V| — with frontier-sized seed sets this is
    the only shape that survives the 10^10-node design point. Each
    round is ONE shuffle join on the edge key plus one map-side-
    combined agg keyed (seed, node); the base term re-enters via
    unionByName + re-agg, never a per-round driver collect. Lineage
    and carried size stats truncated per round (util.iter_checkpoint
    — see its docstring for the originStats-squaring pathology)."""
    from barkingowl_spark.operators.util import iter_checkpoint

    e = edges.select("src", "dst").localCheckpoint()
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg"))
    s = seeds.select("node").distinct().localCheckpoint()
    base = (scale * (DAMP_DEN - DAMP_NUM)) // DAMP_DEN
    base_rows = s.select(
        F.col("node").alias("seed"),
        F.col("node").alias("node"),
        F.lit(base).cast("long").alias("ppr_fp"),
    )
    ranks = s.select(
        F.col("node").alias("seed"),
        F.col("node").alias("node"),
        F.lit(scale).cast("long").alias("ppr_fp"),
    )
    ee = e.select(F.col("src").alias("e_src"),
                  F.col("dst").alias("e_dst"))
    for _ in range(n_iter):
        contribs = (
            ranks.join(outdeg, "node")
            .join(ee, F.col("node") == F.col("e_src"))
            .select(
                "seed",
                F.col("e_dst").alias("node"),
                F.expr(
                    f"(ppr_fp * {DAMP_NUM}) div ({DAMP_DEN}L * outdeg)"
                ).alias("ppr_fp"),
            )
        )
        ranks = iter_checkpoint(
            contribs.unionByName(base_rows)
            .groupBy("seed", "node")
            .agg(F.sum("ppr_fp").cast("long").alias("ppr_fp"))
        )
    return ranks


def bounded_bfs(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 3,
) -> DataFrame:
    """(seed, node, dist): DIRECTED bounded multi-source BFS — exact
    hop distance from every seed to every node reachable within
    `max_depth` (the landmark side of a distance oracle; run it on
    reversed edges for distances TO the seeds).

    Sparse like ppr_fixed: rows exist only for reached (seed, node)
    pairs. Each round is one shuffle join + one min-agg; the frame is
    iter_checkpoint()ed so the growing distance side neither carries
    lineage nor poisoned size stats. Relaxation is monotone (min), so
    round i holds exact distances <= i."""
    from barkingowl_spark.operators.util import iter_checkpoint

    e = edges.select(F.col("src").alias("e_src"),
                     F.col("dst").alias("e_dst")).localCheckpoint()
    dist = iter_checkpoint(
        sources.select(F.col("node").alias("seed")).distinct().select(
            "seed", F.col("seed").alias("node"),
            F.lit(0).cast("long").alias("dist"))
    )
    for _ in range(max_depth):
        nxt = (
            dist.join(e, F.col("node") == F.col("e_src"))
            .select("seed", F.col("e_dst").alias("node"),
                    (F.col("dist") + 1).alias("dist"))
        )
        dist = iter_checkpoint(
            dist.unionByName(nxt)
            .groupBy("seed", "node")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
    return dist


def landmark_estimates(
    bfs_fwd: DataFrame,
    bfs_rev: DataFrame,
    srcs: DataFrame,
    dsts: DataFrame,
) -> DataFrame:
    """(src_probe, dst_probe, est_dist): landmark distance-oracle
    upper bounds (Potamias et al., CIKM 2009):

        est(a, b) = min over landmarks L of d(a -> L) + d(L -> b)

    with d(a -> L) from `bfs_rev` (bounded_bfs on REVERSED edges) and
    d(L -> b) from `bfs_fwd`. An upper bound by the triangle
    inequality; exact whenever some shortest path passes a landmark.
    Pairs with no landmark on any <= 2*max_depth path are absent
    (unknown, not infinite).

    Shape: both probe dims are semi-join filters into the sketch
    tables, the only join is an equi-join on the landmark key, and the
    min-agg is keyed by the probe pair — never touches the full
    |V|^2 matrix."""
    d_in = (
        bfs_rev.join(
            srcs.select(F.col("node").alias("a")).distinct(),
            bfs_rev["node"] == F.col("a"))
        .select(F.col("seed"), "a", F.col("dist").alias("da"))
    )
    d_out = (
        bfs_fwd.join(
            dsts.select(F.col("node").alias("b")).distinct(),
            bfs_fwd["node"] == F.col("b"))
        .select(F.col("seed"), "b", F.col("dist").alias("db"))
    )
    return (
        d_in.join(d_out, "seed")
        .groupBy(F.col("a").alias("src_probe"),
                 F.col("b").alias("dst_probe"))
        .agg(F.min(F.col("da") + F.col("db")).cast("long")
             .alias("est_dist"))
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """1 row (m, r_ppm): directed degree assortativity — the Pearson
    correlation, over edges (u, v), between out-degree(u) and
    in-degree(v) (Newman PRL 2002/2003, the out-in face). The web
    graph is famously DISassortative (hubs point at low-in-degree
    pages); a crawled subgraph that comes out strongly assortative is
    a sampling artifact worth investigating before graph features are
    trained on.

    Integer form with the repo's exact-isqrt idiom and a documented
    floor convention for the denominator:

        num  = m*Sxy - Sx*Sy                    (sign-split division)
        r_ppm = sign(num) * 1e6 * |num|
                DIV (isqrt(m*Sxx - Sx^2) * isqrt(m*Syy - Sy^2))

    (denominator = product of integer square roots, NOT isqrt of the
    product — deterministic, engine-portable, < 1 half-ulp from the
    real Pearson at any realistic m). Degenerate variance -> r = 0.
    Multi-edges count per occurrence; envelope: the variance terms
    must fit int64 (m * Sxx < 2^63 — beyond that, pre-aggregate per
    degree value first).

    Scale shape: two degree groupBys + two equi-joins back onto the
    edge list (content-derived uniform keys), then ONE 1-row
    aggregate; no windows, no driver loops."""
    e = edges.select("src", "dst")
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    j = e.join(outd, "src").join(ind, "dst")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.expr("sum(CAST(od AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(idg AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(od AS DECIMAL(38,0)) * idg)").alias("sxy"),
        F.expr("sum(CAST(od AS DECIMAL(38,0)) * od)").alias("sxx"),
        F.expr("sum(CAST(idg AS DECIMAL(38,0)) * idg)").alias("syy"),
    )
    isq = ("CASE WHEN ({v}) = 0 THEN CAST(0 AS BIGINT) ELSE "
           "(CASE WHEN (_s{n} + 1) * (_s{n} + 1) <= ({v})"
           " THEN _s{n} + 1"
           " WHEN _s{n} * _s{n} > ({v}) THEN _s{n} - 1"
           " ELSE _s{n} END) END")
    return (
        s.withColumn("vx", F.expr("CAST(m * sxx - sx * sx AS BIGINT)"))
        .withColumn("vy", F.expr("CAST(m * syy - sy * sy AS BIGINT)"))
        .withColumn("num", F.expr("m * sxy - sx * sy"))
        .withColumn("_s0", F.expr(
            "CAST(floor(sqrt(CAST(vx AS DOUBLE))) AS BIGINT)"))
        .withColumn("_s1", F.expr(
            "CAST(floor(sqrt(CAST(vy AS DOUBLE))) AS BIGINT)"))
        .withColumn("rx", F.expr(isq.format(v="vx", n=0)))
        .withColumn("ry", F.expr(isq.format(v="vy", n=1)))
        .select(
            "m",
            F.expr(
                "CASE WHEN rx * ry = 0 THEN CAST(0 AS BIGINT)"
                " WHEN num >= 0 THEN"
                " CAST((1000000 * num) DIV (rx * ry) AS BIGINT)"
                " ELSE -CAST((1000000 * (-num)) DIV (rx * ry)"
                " AS BIGINT) END").alias("r_ppm"),
        )
    )


def ktruss_peel(
    edges: DataFrame, k: int = 4, n_rounds: int = 3
) -> DataFrame:
    """(a, b, support): survivors of `n_rounds` of SYNCHRONOUS k-truss
    peeling (Cohen, "Trusses: cohesive subgraphs for social network
    analysis", NSA TR 2008) on the undirected simple graph, with each
    surviving edge's triangle support recounted in the final subgraph.

    Round: count every surviving edge's support (triangles it closes
    within the surviving subgraph), then drop ALL edges with support
    < k-2 at once — synchronous like kcore_peel, so the result is a
    pure dataflow, bit-identical across engines and cluster sizes;
    the fixed-round form is the oracle-checkable prefix of the
    converged truss. Trusses are a sharper link-farm screen than
    cores: a k-core can be a sparse bipartite wash, a k-truss demands
    actual triangle density (reciprocal-cluster spam).

    Scale shape per round: triangles are enumerated ONCE on the
    canonical (a<b) orientation (same wedge-bounding as
    triangle_stats), each triangle credits its 3 edges via one
    union+groupBy — no per-edge neighborhood intersection; lineage +
    carried stats truncated per round (util.iter_checkpoint)."""
    from barkingowl_spark.operators.util import iter_checkpoint

    if k < 3:
        raise ValueError("k must be >= 3")
    if n_rounds < 0:
        raise ValueError("n_rounds must be >= 0")
    # canonical a<b orientation in one pass (not via
    # _undirected_simple: that doubles the edge set only to halve it)
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )

    for _ in range(n_rounds):
        cur = iter_checkpoint(
            _truss_support(cur).filter(F.col("support") >= k - 2)
            .select("a", "b"))
    return _truss_support(cur).select("a", "b", "support")


def _truss_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support within the (a<b)-oriented edge set
    `e`: triangles enumerated once, each crediting its 3 edges."""
    ab = e.alias("ab")
    ac = e.alias("ac")
    bc = e.alias("bc")
    tri = (
        ab.join(ac, (F.col("ab.a") == F.col("ac.a"))
                & (F.col("ac.b") > F.col("ab.b")))
        .select(F.col("ab.a").alias("x"),
                F.col("ab.b").alias("y"),
                F.col("ac.b").alias("z"))
        .join(bc, (F.col("y") == F.col("bc.a"))
              & (F.col("z") == F.col("bc.b")), "left_semi")
    )
    roles = (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionAll(tri.select(F.col("x").alias("a"),
                             F.col("z").alias("b")))
        .unionAll(tri.select(F.col("y").alias("a"),
                             F.col("z").alias("b")))
    )
    sup = roles.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("support"))
    return (
        e.join(sup, ["a", "b"], "left")
        .withColumn("support",
                    F.coalesce("support", F.lit(0)).cast("long"))
    )


def ktruss(
    edges: DataFrame, k: int = 4, max_rounds: int = 100
) -> DataFrame:
    """(a, b, support): the CONVERGED k-truss — ktruss_peel iterated
    until the surviving edge count is stable (one driver-side count
    probe per round, the kcore/components convergence discipline).
    Every remaining edge closes >= k-2 triangles within the returned
    subgraph."""
    from barkingowl_spark.operators.util import iter_checkpoint

    if k < 3:
        raise ValueError("k must be >= 3")
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    prev = cur.count()
    for _ in range(max_rounds):
        cur = iter_checkpoint(
            _truss_support(cur).filter(F.col("support") >= k - 2)
            .select("a", "b"))
        n = cur.count()
        if n == prev:
            break
        prev = n
    return _truss_support(cur).select("a", "b", "support")


def densest_peel(
    edges: DataFrame,
    n_rounds: int = 2,
    eps_num: int = 9,
    eps_den: int = 8,
) -> DataFrame:
    """(round, n_nodes, n_edges, density_milli, is_best): parallel
    densest-subgraph peeling (Bahmani, Kumar & Vattani, VLDB 2012 —
    the MapReduce 2(1+eps)-approximation of Charikar's greedy): each
    round removes EVERY node whose degree is at most (1+eps) times
    the current average degree, recording the subgraph density
    rho = |E|/|V| in milli; the best round (max density, earliest
    round on ties) is the approximate densest subgraph. Converges in
    O(log_{1+eps} n) rounds vs Charikar's inherently sequential
    n-round peel — the whole reason this variant exists at crawl
    scale, where the densest subgraph IS the link-farm core (denser
    than any k-core screen alone; kcore_peel prunes by absolute
    degree, this prunes by degree RELATIVE to the surviving
    subgraph).

    Integer-exact threshold: remove node iff
    eps_den * deg * n <= eps_num * e2 (e2 = sum of degrees = 2|E|,
    eps_num/eps_den = 1+eps), products DECIMAL(38,0)-widened because
    deg * n overflows int64 already at ~10^10 nodes. Round stats ride
    a 1-row broadcast crossJoin into the alive filter — no driver
    collect inside the loop; density_milli = 500 * e2 DIV n.

    Scale shape per round: one map-side-combined degree agg, one
    1-row stats agg, two semi-joins — identical shuffle classes to
    kcore_peel, lineage truncated per round."""
    from pyspark.sql.functions import broadcast

    if n_rounds < 0:
        raise ValueError("n_rounds must be >= 0")
    if eps_num <= eps_den or eps_den < 1:
        raise ValueError("need eps_num/eps_den > 1")
    und = _undirected_simple(edges)
    sub = und
    rounds = []
    for r in range(n_rounds + 1):
        deg = sub.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg"))
        stats = deg.agg(
            F.coalesce(F.sum("deg"), F.lit(0)).cast("long")
            .alias("e2"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        rounds.append(stats.select(
            F.lit(r).cast("long").alias("round"),
            F.col("n").alias("n_nodes"),
            F.expr("CAST(e2 DIV 2 AS BIGINT)").alias("n_edges"),
            F.expr("CASE WHEN n > 0 THEN CAST(500 * e2 DIV n"
                   " AS BIGINT) ELSE CAST(0 AS BIGINT) END")
            .alias("density_milli"),
        ))
        if r == n_rounds:
            break
        alive = (
            deg.crossJoin(broadcast(stats))
            .filter(F.expr(
                f"CAST({int(eps_den)} AS DECIMAL(38,0)) * deg * n"
                f" > CAST({int(eps_num)} AS DECIMAL(38,0)) * e2"))
            .select("node")
        )
        sub = (
            sub.join(alive.withColumnRenamed("node", "src"), "src",
                     "left_semi")
            .join(alive.withColumnRenamed("node", "dst"), "dst",
                  "left_semi")
            .localCheckpoint()
        )
    u = rounds[0]
    for fr in rounds[1:]:
        u = u.unionByName(fr)
    mx = u.agg(F.max("density_milli").alias("_m"))
    br = (
        u.crossJoin(broadcast(mx))
        .filter(F.col("density_milli") == F.col("_m"))
        .agg(F.min("round").alias("_br"))
    )
    return (
        u.crossJoin(broadcast(br))
        .select(
            "round", "n_nodes", "n_edges", "density_milli",
            (F.col("round") == F.col("_br")).alias("is_best"),
        )
    )


def community_stats(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """(community, n_nodes, volume, internal_pairs, cut_pairs,
    conductance_ppm, q_ppm): partition-quality audit of a community
    assignment over the undirected simple graph — Newman-Girvan
    modularity (PNAS 2004) decomposed per community, plus each
    community's conductance. The is-this-partition-real check behind
    label_propagation: a link-farm "community" shows near-zero
    conductance and an outsized q_ppm; a noise label shows
    conductance near 1e6 and q_ppm <= 0.

    With directed-pair counts (und holds both directions; M2 = 2|E|,
    vol_c = sum of member degrees, in_c = 2 x internal edges):

        Q = sum_c (in_c * M2 - vol_c^2) / M2^2
        phi(c) = cut_c / min(vol_c, M2 - vol_c),  cut_c = vol_c - in_c

    q_ppm is each community's floored ppm contribution (sign-split:
    Spark DIV truncates, DuckDB // floors — they agree only on
    non-negatives; q_num < 0 happens whenever a community's degree
    mass exceeds its internal density). Global modularity =
    sum(q_ppm) up to one ppm floor error per community — deterministic
    and engine-portable, which exact rationals are not. conductance is
    non-negative so a single DIV suffices; NULL when the community has
    no edge mass (isolated or self-loop-only nodes) or spans the whole
    graph (M2 - vol = 0). Products are DECIMAL(38,0)-widened:
    in_c * M2 overflows int64 at ~10^9.5 directed pairs, and 1e6 x
    M2^2 stays inside DECIMAL(38) to M2 ~ 1e15.

    Scale shape: two label-broadcast-or-shuffle hash joins tag the
    endpoint communities (one shuffle each on src/dst), then ONE
    map-side-combined groupBy(community); the grand total rides a
    1-row broadcast crossJoin (densest_peel's idiom) — no driver
    collect, no per-community loop."""
    from pyspark.sql.functions import broadcast

    und = _undirected_simple(edges)
    lab = labels.select("node", "community")
    tagged = (
        und.join(
            lab.select(F.col("node").alias("src"),
                       F.col("community").alias("_c_src")), "src")
        .join(
            lab.select(F.col("node").alias("dst"),
                       F.col("community").alias("_c_dst")), "dst")
    )
    per = tagged.groupBy(F.col("_c_src").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("volume"),
        F.sum((F.col("_c_src") == F.col("_c_dst")).cast("long"))
        .cast("long").alias("internal_pairs"),
    )
    sizes = lab.groupBy("community").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"))
    tot = per.agg(
        F.coalesce(F.sum("volume"), F.lit(0)).cast("long").alias("m2"))
    j = (
        sizes.join(per, "community", "left")
        .select(
            "community", "n_nodes",
            F.coalesce("volume", F.lit(0)).cast("long").alias("volume"),
            F.coalesce("internal_pairs", F.lit(0)).cast("long")
            .alias("internal_pairs"),
        )
        .crossJoin(broadcast(tot))
        .withColumn(
            "cut_pairs",
            (F.col("volume") - F.col("internal_pairs")).cast("long"))
        .withColumn(
            "_qn",
            F.expr("CAST(internal_pairs AS DECIMAL(38,0)) * m2"
                   " - CAST(volume AS DECIMAL(38,0)) * volume"))
    )
    return j.select(
        "community", "n_nodes", "volume", "internal_pairs", "cut_pairs",
        F.when(
            F.least(F.col("volume"), F.col("m2") - F.col("volume")) > 0,
            F.expr("1000000 * cut_pairs"
                   " DIV least(volume, m2 - volume)"),
        ).cast("long").alias("conductance_ppm"),
        F.when(F.col("m2") == 0, F.lit(None))
        .when(
            F.col("_qn") >= 0,
            F.expr("(CAST(1000000 AS DECIMAL(38,0)) * _qn)"
                   " DIV (CAST(m2 AS DECIMAL(38,0)) * m2)"))
        .otherwise(
            F.expr("-((CAST(1000000 AS DECIMAL(38,0)) * (-_qn))"
                   " DIV (CAST(m2 AS DECIMAL(38,0)) * m2))"))
        .cast("long").alias("q_ppm"),
    )


def aa_link_pred_auc(
    train_edges: DataFrame,
    pos_pairs: DataFrame,
    neg_pairs: DataFrame,
    max_deg: int = 64,
) -> DataFrame:
    """1 row (n, n_pos, n_neg, n_score_groups, auc_ppm): is the
    link-prediction signal REAL on this graph? Adamic-Adar scores
    computed on the TRAIN edges only, evaluated as a ranker of
    held-out true pairs (pos) against non-edges (neg) by the exact
    tie-corrected ROC-AUC — Liben-Nowell & Kleinberg's (CIKM'03)
    evaluation protocol as a composition of two already-exact
    operators (adamic_adar x ireval.roc_auc). Pairs absent from the
    AA table score 0 (no common neighbors), which is exactly the
    information the predictor has.

    pos_pairs/neg_pairs: canonical (node_a < node_b) pair tables,
    disjoint from the train edge set — the CALLER owns the split
    discipline; this operator only scores and ranks.

    Scale shape: adamic_adar's capped wedge join + one left equi-join
    of the labeled pairs + roc_auc's distinct-score rollup."""
    from barkingowl_spark.operators.ireval import roc_auc

    aa = adamic_adar(train_edges, max_deg=max_deg)
    labeled = (
        pos_pairs.select("node_a", "node_b")
        .withColumn("label", F.lit(True))
        .unionByName(
            neg_pairs.select("node_a", "node_b")
            .withColumn("label", F.lit(False)))
    )
    scored = (
        labeled.join(
            aa.select("node_a", "node_b", "aa_micro"),
            ["node_a", "node_b"], "left")
        .select(
            F.coalesce("aa_micro", F.lit(0)).cast("long")
            .alias("score"),
            "label")
    )
    return roc_auc(scored, score_col="score", label_col="label")
