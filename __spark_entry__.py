"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship crawl-analogue composite on sf0.001.
``queries()`` — one entry per SQL-expressible operator from SURVEY.md
section 2 (crawl-operator analogues over the driver testdata, per
FIXTURES.md F5) plus the training-data pipeline ops (dedup, similarity,
text analysis, multimodal plumbing) over documents/embeddings.
``oracle_sql()`` — DuckDB-equivalent SQL per query.

Portability rules used throughout (so value-hashes match exactly):
  * every computed column is aliased identically on both sides;
  * hashes are md5 hex strings (identical in Spark and DuckDB);
  * ratios are integer ppm with explicit floor (Spark long-cast truncates,
    DuckDB CAST rounds — so the SQL says floor());
  * money sums are integer cents, never raw double sums;
  * cosine similarity scores in fixed point (integer milli-quantized dot
    + IEEE sqrt/floor) so even `sim_topk_cosine` value-hash-matches;
  * non-SQL-expressible ops (the crawl wave loop itself, the pandas-UDF
    parse pass) are covered by the pytest oracle suite
    (tests/test_crawl_oracle.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from barkingowl_spark.functions.extract import parse_pages_udf
from barkingowl_spark.functions.textstats import (
    BPE_PATTERN,
    LANG_MARKERS,
    SCRIPT_RANGES,
    STOPWORDS,
    bpe_token_stats,
    fingerprint,
    lang_id,
    quality_score,
    token_stats,
    winnow_fingerprints,
)
from barkingowl_spark.operators.components import near_dup_components
from barkingowl_spark.operators.corpus_dedup import (
    exact_dup_groups,
    jaccard_pairs,
    minhash_band_pairs,
    minhash_signatures,
    simhash16,
    simhash64,
    simhash64_near_pairs,
    simhash_near_pairs,
)
from barkingowl_spark.operators.multimodal import (
    attach_binary,
    decode_features,
    resize_images,
    sample_frames,
)
from barkingowl_spark.operators.politeness import robots_filter
from barkingowl_spark.operators.similarity import (
    cosine_topk,
    dot_topk,
    embed_near_dup_pairs,
    hyperplanes,
    ivf_assign,
    ivf_topk,
    lsh_assign,
    lsh_topk,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# crawl-operator analogues on the testdata star schema (FIXTURES.md F5)
# ---------------------------------------------------------------------------

def q_o5_fetch_join(spark, sf):
    """O5/O13 frontier-pages equi-join analogue: orders JOIN customer;
    the dim side is broadcast (seeds/config join O14 uses the same shape)."""
    orders = _t(spark, sf, "orders")
    customer = _t(spark, sf, "customer")
    return (
        orders.join(F.broadcast(customer),
                    orders.o_custkey == customer.c_custkey)
        .select(
            "o_orderkey", "c_name", "c_mktsegment",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("price_cents"),
        )
    )


def _synth_pages(spark, sf):
    """Common-Crawl-shaped pages (url, html BINARY) synthesized
    deterministically from the documents table. The html embeds the doc
    text plus four anchor traps (absolute fast-path, relative, junk
    mailto:, uppercase-host+default-port+fragment) so the REAL parse UDF
    (functions/extract.py::parse_pages_udf — O7/O8/O11/O27) is exercised
    end-to-end while the oracle can regenerate the expected output from
    the same fields without parsing."""
    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".test/dir/page"), sid
    )
    html = F.concat(
        F.lit("<html><head><title>t</title><style>p {margin:0}</style>"
              "</head><body><h1>doc "), sid,
        F.lit("</h1><p>"), F.col("text"),
        F.lit('</p><a href="http://'), F.col("source"),
        F.lit(".test/doc"), sid, F.lit('">a</a><a href="rel'), sid,
        F.lit('">b</a><a href="mailto:clerk@'), F.col("source"),
        F.lit('.test">c</a><a href="HTTP://'), F.upper("source"),
        F.lit(".TEST:80/doc"), sid,
        F.lit('#frag">d</a><script>var x=1;</script></body></html>'),
    )
    return d.select(
        "doc_id", url.alias("url"), F.encode(html, "UTF-8").alias("html")
    )


def q_o7_link_extract(spark, sf):
    """O7/O8/O11 via the real Arrow pandas UDF: canonical hrefs in
    document order (posexplode keeps raw positions; junk schemes are NULL
    entries filtered after the explode, so pos matches the oracle's
    anchor positions — the mailto at pos 2 is absent from the output)."""
    parsed = _synth_pages(spark, sf).select(
        "doc_id", parse_pages_udf("url", "html").alias("parsed")
    )
    return (
        parsed.select(
            "doc_id", F.posexplode("parsed.links").alias("pos", "link")
        )
        .filter(F.col("link").isNotNull())
        .select("doc_id", "pos", "link")
    )


def q_o27_text_extract(spark, sf):
    """O27 byte-identical text extraction (the input_hint invariant) via
    the real parse UDF: script/style dropped, tags stripped, whitespace
    collapsed — the oracle rebuilds the expected string from doc fields."""
    parsed = _synth_pages(spark, sf).select(
        "doc_id", parse_pages_udf("url", "html").alias("parsed")
    )
    return parsed.select("doc_id", F.col("parsed.text").alias("text"))


def q_o14_config_join(spark, sf):
    """O14 seeds-config broadcast join analogue: every fact row picks up
    its dim chain's config columns via two broadcast equi-joins (the
    exact shape that annotates frontier rows with max_link_level and
    doc_type from the tiny seeds table)."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )


def q_o9_scope_filter(spark, sf):
    """O9/O10/O11 predicate stack analogue: pure Catalyst filters."""
    e = _t(spark, sf, "events")
    return e.filter(
        F.col("event_type").isin("click", "view") & (F.col("value") < 50)
    ).select("event_id", "user_id", "event_type")


def q_o12_anti_join_dedup(spark, sf):
    """O12 seen-set anti-join analogue: candidates minus seen keys."""
    e = _t(spark, sf, "events")
    seen = (
        e.filter((F.col("event_type") == "error") & (F.col("value") > 95))
        .select("user_id").distinct()
    )
    return e.join(seen, "user_id", "left_anti").select(
        "event_id", "user_id", "event_type"
    )


def q_o15_doc_type_match(spark, sf):
    """O15 matcher analogue: content-type-equality OR extension branch,
    with matched_by recorded — same CASE shape as the crawl matcher."""
    d = _t(spark, sf, "documents")
    matched = F.when(F.col("lang") == "en", F.lit("content_type")).otherwise(
        F.when(F.col("n_chars") % 10 == 7, F.lit("extension"))
    )
    return (
        d.withColumn("matched_by", matched)
        .filter(F.col("matched_by").isNotNull())
        .select("doc_id", "source", "matched_by")
    )


def q_o16_wave_counters(spark, sf):
    """O16 per-wave/per-host counters analogue (map-side partial aggs)."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        F.countDistinct("user_id").alias("users"),
    )


def q_o17_cardinality(spark, sf):
    """O17 URL-cardinality analogue (exact variant for the oracle; the
    crawl loop itself uses approx_count_distinct/HLL for monitoring)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("distinct_users"))
    )


def q_o16_metrics_rollup(spark, sf):
    """O16 metrics reporting via ROLLUP (SURVEY §2.4 grouping-sets row):
    per-(event_type, user_shard) counters with subtotal + grand-total
    rows — the wave/host/overall lineage report shape. Hash-agg with
    partial (map-side) combine at every grouping level; no extra shuffle
    beyond the one the finest level already needs."""
    e = _t(spark, sf, "events")
    return (
        e.withColumn("user_shard", F.pmod(F.col("user_id"), F.lit(8)).cast("long"))
        .rollup("event_type", "user_shard")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("user_shard"), F.lit(-1)).cast("long").alias("user_shard"),
            "n",
            "value_cents",
        )
    )


def q_o12_semi_probe(spark, sf):
    """O12 complement: left_semi probe of the seen set (SURVEY §2.3
    join-shapes row). The anti-join keeps the *unseen* URLs; the semi
    join is the 'already seen' side used for lineage/metrics (how many
    candidates were dropped by dedup, per partition). Small seen dim →
    broadcast, zero shuffle on the probe side."""
    orders = _t(spark, sf, "orders")
    seen = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return orders.join(
        F.broadcast(seen), orders.o_custkey == seen.c_custkey, "left_semi"
    ).select("o_orderkey", "o_custkey")


def q_o21_queue_intersect(spark, sf):
    """§2.6 set-ops row (intersect): URLs present in two frontier
    snapshots — here, users who appear under both event types. Spark
    INTERSECT is distinct-set semantics (same as SQL); physically a
    partial-agg'd hash semi on the shared key, one shuffle."""
    e = _t(spark, sf, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id")
    b = e.filter(F.col("event_type") == "signup").select("user_id")
    return a.intersect(b)


def q_o18_bfs_order(spark, sf):
    """O18 BFS ordering analogue: row_number over (partition, order keys) —
    the exact window shape that assigns crawl_order."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id", F.row_number().over(w).alias("crawl_order")
    )


def q_o19_first_discovery(spark, sf):
    """O19 first-discovery-wins analogue: keep rank-1 row per key."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def q_o20_politeness_topk(spark, sf):
    """O20 per-host budget analogue: top-3 per user by time."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", F.col("rn").alias("fetch_slot"))
    )


def q_o20_host_budget(spark, sf):
    """O20 per-host budget OVERRIDE — the REAL operator
    (operators/politeness.py::schedule_budget with a broadcast
    (host, host_budget) dim, the Crawl-delay path): events mapped onto
    the frontier schema, per-user budget 1 + user_id % 4; users ending
    in 0 have no dim row and fall back to the global budget 2."""
    from barkingowl_spark.operators.politeness import schedule_budget

    e = _t(spark, sf, "events")
    due = e.select(
        F.col("user_id").cast("string").alias("host"),
        F.col("event_id").cast("long").alias("discovery_idx"),
        F.lit("s").alias("seed_url"),
        "user_id", "event_id",
    )
    budgets = (
        e.select("user_id").distinct()
        .filter(F.col("user_id") % 10 != 0)
        .select(
            F.col("user_id").cast("string").alias("host"),
            (F.lit(1) + F.col("user_id") % 4).cast("int")
            .alias("host_budget"),
        )
    )
    return schedule_budget(due, 2, budgets).select("user_id", "event_id")


def q_o20_robots_filter(spark, sf):
    """O20 robots.txt disallow filter — the REAL operator
    (operators/politeness.py::robots_filter, a broadcast dim join + native
    array-EXISTS prefix test, no UDF) over links synthesized
    deterministically from the documents table: host = source, path =
    /<lang>/doc<id>; even-numbered hosts disallow the '/en' prefix."""
    d = _t(spark, sf, "documents")
    links = d.select(
        "doc_id",
        F.col("source").alias("host"),
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".test/"),
            F.col("lang"), F.lit("/doc"), F.col("doc_id"),
        ).alias("url"),
    )
    robots = (
        d.select("source").distinct()
        .filter(
            F.regexp_extract("source", r"src(\d+)", 1).cast("int") % 2 == 0
        )
        .select(
            F.col("source").alias("host"),
            F.array(F.lit("/en")).alias("disallow_prefixes"),
        )
    )
    return robots_filter(links, robots).select("doc_id", "host", "url")


def q_robots_wildcard(spark, sf):
    """Wildcard robots decision (operators/robots.py::
    robots_wildcard_match, Google robots.txt spec): '*' runs,
    terminal-'$' anchor, longest-pattern-wins with allow breaking
    ties — one relationally-built regex rlike over a broadcast rule
    dim + an integer argmax, no UDF."""
    from barkingowl_spark.operators.robots import robots_wildcard_match

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
        .alias("host"))
    m6 = F.col("doc_id") % 6
    rules = (
        d.select(
            "host",
            F.when(m6 == 0, F.lit("/private/*"))
            .when(m6 == 1, F.lit("/private/*/pub"))
            .when(m6 == 2, F.lit("/tmp"))
            .when(m6 == 3, F.lit("/*.json$"))
            .when(m6 == 4, F.lit("/tmp/keep")).alias("pattern"),
            m6.isin(1, 4).alias("allow"),
        )
        .filter(F.col("pattern").isNotNull())
        .distinct()
    )
    m8 = F.col("doc_id") % 8
    urls = d.select(
        "host",
        F.when(m8 == 0, F.concat(F.lit("/private/x"),
                                 (F.col("doc_id") % 4).cast("string")))
        .when(m8 == 1, F.concat(F.lit("/private/"),
                                (F.col("doc_id") % 3).cast("string"),
                                F.lit("/pub")))
        .when(m8 == 2, F.lit("/tmp"))
        .when(m8 == 3, F.concat(F.lit("/data/"),
                                (F.col("doc_id") % 5).cast("string"),
                                F.lit(".json")))
        .when(m8 == 4, F.concat(F.lit("/data/"),
                                (F.col("doc_id") % 5).cast("string"),
                                F.lit(".json.bak")))
        .when(m8 == 5, F.concat(F.lit("/public/page"),
                                (F.col("doc_id") % 10).cast("string")))
        .when(m8 == 6, F.lit("/tmp/keep"))
        .otherwise(F.lit("/tmpX")).alias("path"),
    ).distinct()
    return robots_wildcard_match(urls, rules)


def q_robots_parse(spark, sf):
    """robots.txt corpus acquisition — the REAL parser
    (operators/robots.py::robots_rules: pure relational
    split/window/groupBy RFC-9309-subset state machine, no UDF) over
    robots bodies synthesized deterministically from the documents
    table: 7 hosts, one directive line per doc (UA-star / hashed
    Disallow / non-star UA group / Disallow in whatever group precedes /
    comment, keyed by doc_id % 5), joined in doc_id order."""
    d = _t(spark, sf, "documents")
    m5 = F.col("doc_id") % 5
    line = (
        F.when(m5 == 0, F.lit("User-agent: *"))
        .when(m5 == 1, F.concat(
            F.lit("Disallow: /"),
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4),
        ))
        .when(m5 == 2, F.lit("User-agent: crawler9"))
        .when(m5 == 3, F.concat(
            F.lit("Disallow: /blk"), (F.col("doc_id") % 10).cast("string")))
        .otherwise(F.concat(F.lit("# c"), F.col("doc_id").cast("string")))
    )
    src = d.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
        .alias("host"),
        line.alias("line"),
    )
    pages = src.groupBy("host").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("doc_id", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("body")
    ).select(
        F.concat(F.lit("http://"), F.col("host"), F.lit("/robots.txt"))
        .alias("url"),
        "body",
    )
    from barkingowl_spark.operators.robots import robots_prefix_rows

    return robots_prefix_rows(pages, body_col="body")


def q_robots_delay(spark, sf):
    """Crawl-delay extraction through the same RFC-9309-subset parser:
    star-group max delay, non-integer values (every 8th doc synthesizes
    'junk') try_cast to NULL and drop out; non-star groups ignored."""
    d = _t(spark, sf, "documents")
    m5 = F.col("doc_id") % 5
    line = (
        F.when(m5 == 0, F.lit("User-agent: *"))
        .when(m5 == 1, F.concat(
            F.lit("Crawl-delay: "),
            F.when(F.col("doc_id") % 8 == 1, F.lit("junk"))
            .otherwise((F.col("doc_id") % 30).cast("string")),
        ))
        .when(m5 == 2, F.lit("User-agent: bot2"))
        .when(m5 == 3, F.concat(
            F.lit("Disallow: /x"), (F.col("doc_id") % 10).cast("string")))
        .otherwise(F.concat(F.lit("# n"), F.col("doc_id").cast("string")))
    )
    src = d.select(
        "doc_id",
        F.concat(F.lit("d"), (F.col("doc_id") % 6).cast("string"))
        .alias("host"),
        line.alias("line"),
    )
    pages = src.groupBy("host").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("doc_id", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("body")
    ).select(
        F.concat(F.lit("http://"), F.col("host"), F.lit("/robots.txt"))
        .alias("url"),
        "body",
    )
    from barkingowl_spark.operators.robots import robots_rules

    return (
        robots_rules(pages, body_col="body")
        .filter(F.col("crawl_delay").isNotNull())
        .select("host", "crawl_delay")
    )


def q_o21_union_dedup(spark, sf):
    """O21 frontier-union analogue: union two streams, dedup by key."""
    e = _t(spark, sf, "events")
    a = e.filter(F.col("event_type") == "click")
    b = e.filter(F.col("value") > 90)
    return (
        a.unionByName(b)
        .select("event_id", "user_id")
        .distinct()
    )


def q_o8_canonicalize(spark, sf):
    """O8 canonicalization analogue on synthesized URLs: lowercase
    scheme/host, strip default port, strip fragment (native exprs)."""
    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTP://"), F.upper("source"), F.lit(".TEST:80/docs/"),
        F.col("doc_id").cast("string"), F.lit("#frag"),
    )
    canon = F.regexp_replace(url, "#.*$", "")
    canon = F.lower(canon)
    canon = F.regexp_replace(canon, ":80/", "/")
    return d.select("doc_id", canon.alias("canon_url"))


def q_o26_time_rollup(spark, sf):
    """O26 date/time analogue: hourly rollup with portable string keys."""
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def q_o1_recrawl_due(spark, sf):
    """O1/O26 dispatcher analogue (operators/dispatch.py semantics): a
    'seed' (user) is due for re-dispatch iff its latest event is at least
    its frequency (minutes, derived deterministically from user_id) before
    the injected run_ts; output ordered by insertion order (user_id)."""
    e = _t(spark, sf, "events")
    run_ts = F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    last = e.groupBy("user_id").agg(F.max("ts").alias("finished_ts"))
    freq = (F.col("user_id") % 10000).cast("int")
    due = last.filter(
        F.col("finished_ts") + F.make_interval(mins=freq) <= run_ts
    )
    # bounded-global-window: due 'seeds' are a config-sized set
    # (dispatch.py's contract) — runtime-asserted
    from barkingowl_spark.operators.ranking import assert_max_rows

    w = Window.orderBy("user_id")
    return assert_max_rows(due, 1_000_000, "o1.due_users").select(
        "user_id",
        F.date_format("finished_ts", "yyyy-MM-dd HH:mm:ss")
        .alias("finished_s"),
        F.row_number().over(w).alias("due_rank"),
    )


def q_events_sessionize(spark, sf):
    """Gap-based sessionization (30-min): the batch expression of the
    per-host fetch-session semantics (SURVEY.md section 2.8)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flag = F.when(gap > 1800, 1).otherwise(0)
    return e.select(
        "user_id", "event_id",
        F.sum(flag).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long").alias("session_id"),
    )


# ---------------------------------------------------------------------------
# training-data pipeline ops (documents / embeddings)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    return exact_dup_groups(_t(spark, sf, "documents"))


def q_dedup_jaccard(spark, sf):
    return jaccard_pairs(_t(spark, sf, "documents"))


def q_dedup_setjoin(spark, sf):
    """EXACT all-pairs Jaccard join via prefix filtering (operators/
    setjoin.py — SSJoin/All-Pairs): the oracle is a global brute force,
    so the hash match IS the prefix-filter exactness proof; no LSH
    recall parameter, candidates pruned by theorem."""
    from barkingowl_spark.operators.setjoin import prefix_filter_pairs

    return prefix_filter_pairs(_t(spark, sf, "documents"))


def q_simjoin_cosine(spark, sf):
    """EXACT weighted-cosine all-pairs join via L2 prefix filtering
    (operators/simjoin.py — Bayardo WWW'07 / L2AP): tf vectors,
    cos >= 0.95, all-integer accept test and squared-cosine ppm score.
    The oracle is a DuckDB HUGEINT brute force over all pairs, so the
    hash match IS the norm-bound prefix-filter exactness proof."""
    from barkingowl_spark.operators.simjoin import cosine_pairs

    return cosine_pairs(_t(spark, sf, "documents"), 950_000)


def q_dedup_minhash_sigs(spark, sf):
    return minhash_signatures(_t(spark, sf, "documents"))


def q_dedup_bbit(spark, sf):
    """b-bit minwise audit (operators/corpus_dedup.py::
    bbit_minwise_audit, Li & Koenig 2010): keep only the low 4 bits
    (last md5 hex nibble) of each of the 8 MinHash signatures — a
    32x smaller sketch — and compare the debiased Jaccard estimate
    against the exact value on the LSH candidate pairs; the error
    table that sizes b before shrinking the sketch store."""
    from barkingowl_spark.operators.corpus_dedup import (
        bbit_minwise_audit,
    )

    return bbit_minwise_audit(_t(spark, sf, "documents"))


def q_dedup_minhash_lsh(spark, sf):
    return minhash_band_pairs(_t(spark, sf, "documents"))


def q_dedup_containment(spark, sf):
    """One-sided containment over the LSH candidates (Broder 1997):
    catches excerpt/sub-document duplication symmetric Jaccard dilutes;
    verify join touches candidates only."""
    from barkingowl_spark.operators.corpus_dedup import containment_pairs

    return containment_pairs(_t(spark, sf, "documents"))


def q_dedup_simhash(spark, sf):
    return simhash16(_t(spark, sf, "documents"))


def q_dedup_simhash_near(spark, sf):
    # hamming-<=3 pairs via banded simhash equi-join (pigeonhole), exact
    # bit_count(xor) verification on candidates only
    return simhash_near_pairs(_t(spark, sf, "documents"))


def q_dedup_simhash64(spark, sf):
    # 64-bit fingerprints — the corpus-scale variant (2^-16 band space)
    return simhash64(_t(spark, sf, "documents"))


def q_dedup_simhash64_near(spark, sf):
    # four 16-bit bands over the 64-bit simhash; same pigeonhole join
    return simhash64_near_pairs(_t(spark, sf, "documents"))


def q_ann_lsh_assign(spark, sf):
    return lsh_assign(_t(spark, sf, "embeddings")).select("vec_id", "bucket")


def q_ann_lsh_topk(spark, sf):
    return lsh_topk(_t(spark, sf, "embeddings"))


def q_dedup_components(spark, sf):
    # transitive near-dup clusters: LSH candidates -> Jaccard verify ->
    # iterative min-label CC; oracle = DuckDB recursive-CTE closure
    return near_dup_components(_t(spark, sf, "documents"))


def q_ann_lsh_multi(spark, sf):
    """Multi-table multi-probe LSH ANN (the corpus-scale recall path):
    3 independent hyperplane tables OR'd, candidates deduped on
    (q_id, vec_id), one global rank."""
    from barkingowl_spark.operators.similarity import lsh_topk_multi

    return lsh_topk_multi(
        _t(spark, sf, "embeddings"), n_queries=10, k=3, n_tables=3)


def q_ann_ivf_nprobe(spark, sf):
    """IVF with nprobe=2: each query scans its two best centroid cells
    (first-n centroids — the deterministic oracle path)."""
    return ivf_topk(_t(spark, sf, "embeddings"), n_queries=10, k=3,
                    nprobe=2)


def q_sim_topk_dot(spark, sf):
    return dot_topk(_t(spark, sf, "embeddings"))


def q_sim_topk_cosine(spark, sf):
    # fixed-point cosine (integer dot + IEEE sqrt/floor): bit-portable,
    # value-hash-checked against DuckDB like every other query
    return cosine_topk(_t(spark, sf, "embeddings"))


def q_sim_margin_pairs(spark, sf):
    """Margin-based k-NN pair scoring (operators/similarity.py::
    margin_knn_pairs, Artetxe & Schwenk ACL 2019 ratio margin — the
    CCMatrix/LASER bitext-mining primitive): pairs ranked by cosine
    RELATIVE to each endpoint's neighborhood average, which suppresses
    hub vectors a raw-cosine threshold keeps."""
    from barkingowl_spark.operators.similarity import margin_knn_pairs

    return margin_knn_pairs(_t(spark, sf, "embeddings"))


def q_events_trend(spark, sf):
    """Exact integer trend fit (operators/ranking.py::ols_fit): daily
    event counts regressed on the day index — slope_ppm is the
    events/day drift a capacity planner reads, with the reported-ppm-
    slope intercept convention and exact-isqrt Pearson r/r2 making
    every number bit-portable to the DuckDB oracle."""
    from barkingowl_spark.operators.ranking import ols_fit

    daily = (
        _t(spark, sf, "events")
        .groupBy(F.expr("unix_micros(CAST(ts AS TIMESTAMP))"
                        " DIV 86400000000").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return ols_fit(daily, "day", "cnt")


def q_dedup_embed_cosine(spark, sf):
    # embedding-cosine near-dup PAIRS, IVF-cell-blocked; exact quantized
    # cosine^2 accept test -> bit-portable to the DuckDB oracle
    return embed_near_dup_pairs(_t(spark, sf, "embeddings"), threshold=0.45)


def q_dedup_semantic(spark, sf):
    """SemDeDup (operators/similarity.py::semantic_dedup, Abbas et al.
    2023): IVF-cell-blocked cosine pairs -> connected components ->
    max-norm keeper per semantic group; is_keeper=false is the drop
    list. Composition of three independently-oracled primitives."""
    from barkingowl_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_t(spark, sf, "embeddings"), threshold=0.45)


def q_ann_ivf_assign(spark, sf):
    return ivf_assign(_t(spark, sf, "embeddings"))


def q_ann_ivf_topk(spark, sf):
    return ivf_topk(_t(spark, sf, "embeddings"))


def q_text_token_stats(spark, sf):
    return token_stats(_t(spark, sf, "documents"))


def q_text_quality(spark, sf):
    return quality_score(_t(spark, sf, "documents"))


def q_text_langid(spark, sf):
    return lang_id(_t(spark, sf, "documents"))


def q_doc_fingerprint(spark, sf):
    return fingerprint(_t(spark, sf, "documents"))


def q_text_bpe_tokens(spark, sf):
    return bpe_token_stats(_t(spark, sf, "documents"))


def q_doc_winnow_fp(spark, sf):
    return winnow_fingerprints(_t(spark, sf, "documents"))


def q_mm_decode_stub(spark, sf):
    return decode_features(attach_binary(_t(spark, sf, "documents")))


def q_mm_resize_stub(spark, sf):
    # aspect-preserving bound to max_side=32 over the stub dims;
    # integer floor math keeps the oracle bit-portable
    return resize_images(attach_binary(_t(spark, sf, "documents")))


def q_mm_frame_sample(spark, sf):
    # one-to-many mapInPandas fan-out (video keyframe analogue)
    return sample_frames(attach_binary(_t(spark, sf, "documents")))


def _png_docs(spark, sf, n=48):
    """Deterministic PNG payload table (multimodal.png_table) over the
    first n doc_ids — REAL image bytes: grayscale PNGs whose pixels
    are (3x + 5y + d) % 256 at w = 16 + d%9, h = 16 + 3d%11, written
    with all five RFC 2083 row filters cycling. Spark decodes the
    BYTES (functions/pngcodec.py: IHDR, IDAT inflate, unfilter, CRC);
    the oracle recomputes from the formula — agreement pins the whole
    codec chain."""
    from barkingowl_spark.operators.multimodal import png_table

    return png_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(n))


def q_mm_png_decode(spark, sf):
    """REAL PNG decode dims (de-stubbed r02 verdict item 3): the
    decode_features mapInPandas path over actual PNG payloads —
    width/height come out of the IHDR+unfilter pipeline, not a byte
    stub."""
    return decode_features(_png_docs(spark, sf)).select(
        "doc_id", "width", "height", "is_valid")


def q_mm_png_ahash(spark, sf):
    """REAL-pixel perceptual aHash: decode the PNG, 8x8 block-mean
    downsample ((8y) DIV h blocks), floor-mean threshold — the oracle
    rebuilds the identical integer hash from the pixel formula, so a
    single flipped bit anywhere in inflate/unfilter/luma would
    hash-mismatch."""
    from barkingowl_spark.operators.multimodal import perceptual_hash

    return perceptual_hash(_png_docs(spark, sf))


def q_mm_png_resize(spark, sf):
    """REAL-pixel resize audit: decode, nearest-neighbor resample the
    longer side to 12, SUM the resized pixels (the SQL-computable
    stand-in for a re-encoded byte count — deflate lengths have no
    closed form)."""
    from barkingowl_spark.operators.multimodal import (
        resize_pixel_audit,
    )

    return resize_pixel_audit(_png_docs(spark, sf), max_side=12)


def _jpeg_docs(spark, sf, n=48):
    """Deterministic baseline-JPEG payload table
    (multimodal.jpeg_table) over the first n doc_ids — REAL lossy
    image bytes whose decode is nevertheless bit-pinned: luma is
    block-constant with even values (w = 8*(2 + d%4),
    h = 8*(2 + 3d%5), pixel = 2*((7*(x DIV 8) + 11*(y DIV 8) + 13d)
    % 100) + 28) so the flat-16 quant round-trips the DC exactly and
    the integer IDCT reproduces every pixel; the encode variant
    cycles gray / 4:2:0 / 4:2:2+RST / gray+RST / progressive-SOF2 /
    SOF1+16-bit-DQT / 12-bit-SOF1 / lossless-SOF3 on d % 8. Spark
    decodes the BYTES (functions/jpegcodec.py: marker parse, huffman,
    dequant, IDCT); the oracle recomputes from the formula —
    agreement pins the whole baseline-JPEG chain."""
    from barkingowl_spark.operators.multimodal import jpeg_table

    return jpeg_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(n))


def q_mm_jpeg_decode(spark, sf):
    """REAL JPEG decode dims (de-stubbed r03 verdict item 1): the
    decode_features mapInPandas path over actual baseline-JPEG
    payloads — width/height come out of the SOF0+huffman+IDCT
    pipeline, not a byte stub."""
    return decode_features(_jpeg_docs(spark, sf)).select(
        "doc_id", "width", "height", "is_valid")


def q_mm_jpeg_ahash(spark, sf):
    """REAL-pixel perceptual aHash over decoded JPEG luma: 8x8
    block-mean downsample, floor-mean threshold — the oracle rebuilds
    the identical integer hash from the block-constant pixel formula,
    so a single flipped bit anywhere in huffman/dequant/IDCT/MCU
    placement would hash-mismatch (including across the 4:2:0 /
    4:2:2 / restart-interval encode variants)."""
    from barkingowl_spark.operators.multimodal import perceptual_hash

    return perceptual_hash(_jpeg_docs(spark, sf))


def q_mm_jpeg_resize(spark, sf):
    """REAL-pixel resize audit over decoded JPEG luma: decode,
    nearest-neighbor resample the longer side to 12, SUM the resized
    pixels (the SQL-computable stand-in for a re-encoded byte
    count)."""
    from barkingowl_spark.operators.multimodal import (
        resize_pixel_audit,
    )

    return resize_pixel_audit(_jpeg_docs(spark, sf), max_side=12)


def _gif_docs(spark, sf, n=48):
    """Deterministic GIF payload table (multimodal.gif_table) over the
    first n doc_ids — REAL lossless image bytes: identity-grayscale-
    palette GIFs whose decoded pixels equal (5x + 7y + d) % 256 at
    w = 17 + d%8, h = 15 + 5d%12, with the encode variant cycling
    plain / interlaced / 87a+local-table / 89a+GCE on d % 4. Spark
    decodes the BYTES (functions/gifcodec.py: LZW, deinterlace,
    palette luma); the oracle recomputes from the formula — agreement
    pins the whole GIF chain."""
    from barkingowl_spark.operators.multimodal import gif_table

    return gif_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(n))


def q_mm_gif_decode(spark, sf):
    """REAL GIF decode dims (de-stubbed r03 verdict item 2): the
    decode_features mapInPandas path over actual GIF payloads —
    width/height come out of the LSD+LZW pipeline, not a byte stub."""
    return decode_features(_gif_docs(spark, sf)).select(
        "doc_id", "width", "height", "is_valid")


def q_mm_gif_ahash(spark, sf):
    """REAL-pixel perceptual aHash over decoded GIF pixels: 8x8
    block-mean downsample, floor-mean threshold — the oracle rebuilds
    the identical integer hash from the index formula, so a single
    flipped bit anywhere in LZW/deinterlace/palette would
    hash-mismatch (across all four encode variants)."""
    from barkingowl_spark.operators.multimodal import perceptual_hash

    return perceptual_hash(_gif_docs(spark, sf))


def q_mm_gif_resize(spark, sf):
    """REAL-pixel resize audit over decoded GIF pixels: decode,
    nearest-neighbor resample the longer side to 12, SUM the resized
    pixels."""
    from barkingowl_spark.operators.multimodal import (
        resize_pixel_audit,
    )

    return resize_pixel_audit(_gif_docs(spark, sf), max_side=12)


def q_mm_cross_format_pairs(spark, sf):
    """CROSS-FORMAT image near-dup (r4; WebP/TIFF/BMP added r5, ICO
    late r5): the same block-constant pixels encoded as PNG, GIF,
    baseline JPEG, lossless WebP, TIFF, BMP-RLE8 and an
    ICO-wrapped BMP DIB (multimodal.mixed_format_table, img_id
    7d..7d+6, logo group g = d % 12) must collide at hamming 0
    through the SEVEN real decode paths — only possible because
    perceptual_hash runs on decoded pixels, not payload bytes. Pairs
    via the shared pigeonhole banded join; the oracle recomputes the
    hash per group from the pixel formula and takes exact all-pairs
    bit_count at this scale."""
    from barkingowl_spark.operators.multimodal import (
        mixed_format_table,
        perceptual_hash,
        phash_near_pairs,
    )

    docs = (_t(spark, sf, "documents").select("doc_id")
            .orderBy("doc_id").limit(24))
    return phash_near_pairs(
        perceptual_hash(mixed_format_table(docs)))


def q_mm_gif_frames(spark, sf):
    """REAL animated-GIF frame hashes (r4): gif_anim_table writes
    4-frame animations (identity palette, full-canvas frames,
    pixel = ((5 + 13f)x + 7y + g + 31f) % 256, logo group g = d % 6);
    gif_frame_hashes composites every frame through
    decode_gif_frames and aHashes the canvas — the oracle rebuilds
    each per-frame hash from the formula, so one wrong LZW code,
    composite step or hash bit in ANY frame value-hash-mismatches."""
    from barkingowl_spark.operators.multimodal import (
        gif_anim_table,
        gif_frame_hashes,
    )

    docs = (_t(spark, sf, "documents").select("doc_id")
            .orderBy("doc_id").limit(24))
    return gif_frame_hashes(gif_anim_table(docs), max_frames=8)


def q_mm_gif_video_pairs(spark, sf):
    """Video near-dup over REAL decoded animation frames (r4): docs
    sharing the logo group g share all 4 frame hashes, so
    video_near_pairs (frame-hash equi-join, stop-frame cap,
    containment overlap) finds every same-clip pair at
    overlap_ppm = 1e6 — the re-posted-clip dedup story running on
    actual decoded frames instead of byte chunks."""
    from barkingowl_spark.operators.multimodal import (
        gif_anim_table,
        gif_frame_hashes,
        video_near_pairs,
    )

    docs = (_t(spark, sf, "documents").select("doc_id")
            .orderBy("doc_id").limit(24))
    return video_near_pairs(
        gif_frame_hashes(gif_anim_table(docs), max_frames=8),
        min_shared=2)


def q_mm_bmp_decode(spark, sf):
    """REAL BMP decode dims (r4, rounding out the lossless family):
    decode_features over actual BMP payloads across the d % 8
    encode variants (late r5: 1/4/16-bpp, BI_RLE4 and BI_BITFIELDS
    join 8/24-bpp, top-down and BI_RLE8)."""
    from barkingowl_spark.operators.multimodal import bmp_table

    return decode_features(bmp_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48))).select(
        "doc_id", "width", "height", "is_valid")


def q_mm_bmp_ahash(spark, sf):
    """REAL-pixel aHash over decoded BMP pixels — the oracle rebuilds
    the hash from bmp_table's variant-matched d % 8 formulas,
    pinning palettes at four sizes, BGR luma, row order, bit/stride
    packing, both RLE grammars and 555 channel scaling in one value
    hash."""
    from barkingowl_spark.operators.multimodal import (
        bmp_table,
        perceptual_hash,
    )

    return perceptual_hash(bmp_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_mm_bmp_resize(spark, sf):
    """REAL-pixel resize audit over decoded BMP pixels (late r5: the
    d % 8 variant cycle spans 1/4/8/16/24-bpp, both RLE grammars and
    bitfields): decode, nearest-neighbor resample the longer side to
    12, SUM the resized pixels."""
    from barkingowl_spark.operators.multimodal import (
        bmp_table,
        resize_pixel_audit,
    )

    return resize_pixel_audit(
        bmp_table(_t(spark, sf, "documents").select("doc_id")
                  .orderBy("doc_id").limit(48)), max_side=12)


def _webp_docs(spark, sf, n=48):
    """Deterministic lossless-WebP payload table
    (multimodal.webp_table) over the first n doc_ids — REAL VP8L
    bytes: w = 17 + d%9, h = 14 + 5d%11, encode variant cycling on
    d % 6 (plain / subtract-green / color-cache / palette-bundled /
    predictor / lz77 row copies), pixel formula variant-matched
    (palette: ((x + 2y + d)%16)*17; lz77: (5x + 7(y%2) + d)%256;
    else (5x + 7y + d)%256). Spark decodes the BYTES
    (functions/webpcodec.py: RIFF walk, canonical prefix codes,
    LZ77, inverse transforms); the oracle recomputes from the
    formula — agreement pins the whole VP8L chain."""
    from barkingowl_spark.operators.multimodal import webp_table

    return webp_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(n))


def q_mm_webp_decode(spark, sf):
    """REAL WebP-lossless decode dims (r5 de-stub, r4 verdict item
    1): decode_features over actual VP8L payloads across all six
    encode variants."""
    return decode_features(_webp_docs(spark, sf)).select(
        "doc_id", "width", "height", "is_valid")


def q_mm_webp_ahash(spark, sf):
    """REAL-pixel aHash over decoded VP8L pixels — one wrong prefix
    code, transform inverse, cache slot or LZ77 copy anywhere
    hash-mismatches (across all six encode variants)."""
    from barkingowl_spark.operators.multimodal import perceptual_hash

    return perceptual_hash(_webp_docs(spark, sf))


def q_mm_webp_resize(spark, sf):
    """REAL-pixel resize audit over decoded VP8L pixels: decode,
    nearest-neighbor resample the longer side to 12, SUM the resized
    pixels."""
    from barkingowl_spark.operators.multimodal import (
        resize_pixel_audit,
    )

    return resize_pixel_audit(_webp_docs(spark, sf), max_side=12)


def _tiff_docs(spark, sf, n=48):
    """Deterministic TIFF payload table (multimodal.tiff_table) over
    the first n doc_ids — REAL TIFF bytes across photometric
    (inverted-gray/gray/RGB/palette) x compression (none/PackBits)
    x byte order x strip layout, all decoding to the one formula
    pixel(x, y) = (3x + 11y + d) % 256 at w = 16 + d%10,
    h = 12 + 7d%11. Spark decodes the BYTES (functions/tiffcodec.py:
    IFD walk, strips, PackBits, ColorMap); the oracle recomputes the
    formula — agreement pins the whole TIFF chain."""
    from barkingowl_spark.operators.multimodal import tiff_table

    return tiff_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(n))


def q_mm_tiff_decode(spark, sf):
    """REAL TIFF decode dims (r5 de-stub, r4 verdict item 2):
    decode_features over actual TIFF payloads across all 8 encode
    variants in both byte orders."""
    return decode_features(_tiff_docs(spark, sf)).select(
        "doc_id", "width", "height", "is_valid")


def q_mm_tiff_ahash(spark, sf):
    """REAL-pixel aHash over decoded TIFF pixels — one wrong strip
    offset, PackBits run, ColorMap collapse or byte-order swap
    anywhere hash-mismatches."""
    from barkingowl_spark.operators.multimodal import perceptual_hash

    return perceptual_hash(_tiff_docs(spark, sf))


def q_mm_tiff_resize(spark, sf):
    """REAL-pixel resize audit over decoded TIFF pixels (r5: the
    variant cycle now spans none/PackBits/LZW/Deflate x predictor):
    decode, nearest-neighbor resample the longer side to 12, SUM
    the resized pixels."""
    from barkingowl_spark.operators.multimodal import (
        resize_pixel_audit,
    )

    return resize_pixel_audit(_tiff_docs(spark, sf), max_side=12)


def _tiffjpeg_docs(spark, sf, n=48):
    """Deterministic JPEG-in-TIFF payload table
    (multimodal.tiffjpeg_table) over the first n doc_ids — REAL
    compression-7 TIFFs whose strips/tiles are complete JPEG
    streams: w = 8*(2 + d%3), h = 8*(2 + d%5), block-constant even
    pixels (jpeg_table's formula with 13d), organization cycling
    single-strip / 8-row strips / 16x16 tiles / OLD-STYLE
    compression-6 JPEGInterchangeFormat on d % 4, byte order on
    d % 2. The LOSSY embed round-trips bit-exactly under the
    jpegcodec fixed-point contract, so the SQL oracle recomputes
    the formula."""
    from barkingowl_spark.operators.multimodal import tiffjpeg_table

    return tiffjpeg_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(n))


def _bmp_embed_docs(spark, sf, n=48):
    """Deterministic BI_PNG/BI_JPEG BMP payload table
    (multimodal.bmp_embed_table) over the first n doc_ids — the BMP
    'pixel data' is a complete sibling-codec stream (PNG on even d,
    JPEG on odd d): w = 8*(2 + d%3), h = 8*(2 + d%5),
    block-constant even pixels (the tiffjpeg formula with 17d), so
    the lossy member round-trips bit-exactly and the SQL oracle
    recomputes the formula."""
    from barkingowl_spark.operators.multimodal import bmp_embed_table

    return bmp_embed_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(n))


def q_mm_bmp_embed_decode(spark, sf):
    """BI_PNG/BI_JPEG decode dims (r5 third session): decode_features
    over BMP containers whose pixel data is an embedded sibling-codec
    stream — the container's dims cross-check against the stream's
    own header is load-bearing (a lying header invalidates the
    row)."""
    return decode_features(_bmp_embed_docs(spark, sf)).select(
        "doc_id", "width", "height", "is_valid")


def q_mm_bmp_embed_ahash(spark, sf):
    """REAL-pixel aHash over BI_PNG/BI_JPEG BMP payloads — the
    oracle rebuilds the hash from the block-constant formula,
    pinning both embedded decode paths (PNG inflate/unfilter and
    JPEG huffman/IDCT) behind the BMP container walk in one value
    hash."""
    from barkingowl_spark.operators.multimodal import perceptual_hash

    return perceptual_hash(_bmp_embed_docs(spark, sf))


def q_mm_tiffjpeg_decode(spark, sf):
    """JPEG-in-TIFF decode dims (late r5): decode_features over
    compression-7 TIFF containers whose chunks are embedded JPEG
    interchange streams — the container-in-container chain
    (tiffcodec IFD/strip/tile walk -> jpegcodec huffman/IDCT) in one
    dims check."""
    return decode_features(_tiffjpeg_docs(spark, sf)).select(
        "doc_id", "width", "height", "is_valid")


def q_mm_tiffjpeg_ahash(spark, sf):
    """REAL-pixel aHash over JPEG-in-TIFF payloads — the oracle
    rebuilds the hash from the block-constant formula, pinning the
    embedded-JPEG decode, strip/tile assembly (incl. edge-pad crop)
    and both byte orders in one value hash."""
    from barkingowl_spark.operators.multimodal import perceptual_hash

    return perceptual_hash(_tiffjpeg_docs(spark, sf))


def q_mm_ico_decode(spark, sf):
    """ICO (favicon) decode dims (late r5): decode_features over
    real ICO containers whose members are PNG streams or headerless
    doubled-height BMP DIBs — the largest-member selection, DIB
    height halving and both member decode paths in one dims check."""
    from barkingowl_spark.operators.multimodal import ico_table

    return decode_features(ico_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48))).select(
        "doc_id", "width", "height", "is_valid")


def q_mm_ico_ahash(spark, sf):
    """REAL-pixel aHash over decoded ICO members — the oracle
    rebuilds the hash from ico_table's formula, pinning PNG-member
    and BMP-DIB-member decode plus the largest-member rule (the
    d % 4 == 3 variant carries a constant decoy the hash would
    expose) in one value hash."""
    from barkingowl_spark.operators.multimodal import (
        ico_table,
        perceptual_hash,
    )

    return perceptual_hash(ico_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_zip_members(spark, sf):
    """ZIP archive introspection (functions/zipwalk.py, late r5):
    EOCD scan -> central directory walk -> per-member local-header
    walk + decompress + CRC-32 verify, over deterministic containers
    the stdlib zipfile module also accepts (independent ground
    truth, pinned in tests). The oracle recomputes the expected
    member table from the fixture formula; crc_ok TRUE is the
    load-bearing column — a decompress or CRC bug cannot hide."""
    from barkingowl_spark.operators.multimodal import (
        zip_members,
        zip_table,
    )

    return zip_members(zip_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_pdf_texts(spark, sf):
    """REAL PDF text extraction (functions/pdftext.py, late r5):
    xref walk -> page tree -> content streams (plain + Flate) ->
    BT/ET text operators, over deterministic classic PDFs; the
    oracle rebuilds the exact page-and-line text from the fixture
    formula, so one value hash pins the whole document chain —
    the payoff stage after O15 finds the PDFs."""
    from barkingowl_spark.operators.multimodal import (
        pdf_text_table,
        pdf_texts,
    )

    return pdf_texts(pdf_text_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_pdf_texts_xs(spark, sf):
    """PDF **1.5** text extraction (functions/pdftext.py, r5 third
    session): xref STREAMS (/W widths, /Index subsections, Flate +
    PNG Up predictor), OBJECT streams (slot-checked /N pairs), and
    hybrid /XRefStm files — four container layouts cycling on
    doc_id % 4, all carrying the same fixture text formula, so the
    pdf_texts oracle applies verbatim and one value hash pins every
    modern parse path next to the classic one."""
    from barkingowl_spark.operators.multimodal import (
        pdf_text_table_xs,
        pdf_texts,
    )

    return pdf_texts(pdf_text_table_xs(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_svg_dims(spark, sf):
    """SVG intrinsic dims (functions/svgmeta.py, r5 third session):
    the text image format stays in the relational subset — first
    <svg> tag, px-stripped width/height (percentages correctly
    NULL: intrinsically unsized per the spec), viewBox 3rd/4th
    numbers; a stroke-width decoy pins the leading-space attribute
    anchor. Variants by doc_id % 4: px units + viewBox /
    unitless + stroke-width decoy / percentage (NULLs) + viewBox /
    no svg at all. Oracle = intent re-derivation."""
    from barkingowl_spark.functions.svgmeta import svg_dims

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    w = (F.col("doc_id") % 100 + 10).cast("string")
    h = (F.col("doc_id") % 50 + 5).cast("string")
    px = F.concat(
        F.lit('<svg width="'), w, F.lit('px" height="'), h,
        F.lit('px" viewBox="0 0 '), w, F.lit(" "), h,
        F.lit('"><rect/></svg>'))
    plain = F.concat(
        F.lit('<svg stroke-width="9" WIDTH="'), w,
        F.lit('" Height="'), h, F.lit('"><circle/></svg>'))
    pct = F.concat(
        F.lit('<svg width="100%" height="50%" viewBox="0 0 '), w,
        F.lit(" "), h, F.lit('"/>'))
    html = (
        F.when(F.col("doc_id") % 4 == 0, px)
        .when(F.col("doc_id") % 4 == 1, plain)
        .when(F.col("doc_id") % 4 == 2, pct)
        .otherwise(F.concat(F.lit("<p>no vector here "), sid,
                            F.lit("</p>"))))
    return svg_dims(d.select("doc_id", html.alias("body")))


def q_meta_opengraph(spark, sf):
    """OpenGraph/description metadata (functions/opengraph.py, r5
    third session): first-tag-wins social-card extraction in the
    no-regex relational subset (one lower() for matching, values
    sliced from the ORIGINAL so their case survives). Variants by
    doc_id % 5: full tag set with a MiXeD-case property attr /
    title+description only / no tags (all NULL) / single-quoted
    content (the documented limit: NULL) / duplicate og:title
    (first wins). The oracle re-derives the synthesis intent — the
    metarobots convention."""
    from barkingowl_spark.functions.opengraph import og_metadata

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    title = F.concat(F.lit("Doc "), sid, F.lit(" Title"))
    desc = F.concat(F.lit("Summary "), sid)
    url = F.concat(F.lit("http://site.test/d"), sid)
    full = F.concat(
        F.lit('<head><meta PROPERTY="og:title" content="'), title,
        F.lit('"/><meta property="og:type" content="article"/>'
              '<meta property="og:url" content="'), url,
        F.lit('"/><meta property="og:image" content="'), url,
        F.lit('.png"/><meta name="Description" content="'), desc,
        F.lit('"/></head>'))
    partial = F.concat(
        F.lit('<meta property="og:title" content=" '), title,
        F.lit(' "/><meta name="description" content="'), desc,
        F.lit('"/>'))
    single_q = F.concat(
        F.lit("<meta property=\"og:title\" content='"), title,
        F.lit("'/>"))
    dup = F.concat(
        F.lit('<meta property="og:title" content="'), title,
        F.lit('"/><meta property="og:title" content="LOSER"/>'))
    html = (
        F.when(F.col("doc_id") % 5 == 0, full)
        .when(F.col("doc_id") % 5 == 1, partial)
        .when(F.col("doc_id") % 5 == 2,
              F.lit("<head><title>plain</title></head>"))
        .when(F.col("doc_id") % 5 == 3, single_q)
        .otherwise(dup))
    return og_metadata(
        d.select("doc_id", html.alias("body")), html_col="body")


def q_epub_texts(spark, sf):
    """EPUB text extraction (functions/officetext.py, r5 third
    session): the OCF chain — container.xml rootfile -> OPF
    manifest + spine -> per-chapter XHTML body strip — over real
    mimetype-first containers (stdlib zipfile reads them). The
    oracle recomputes chapters (heading token included, pinning
    the tag-strip) from the fixture formula."""
    from barkingowl_spark.operators.multimodal import (
        epub_table,
        epub_texts,
    )

    return epub_texts(epub_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_mbox_texts(spark, sf):
    """mbox archive explode + email extraction (r5 third session):
    'From ' postmark splitting with mboxo >-unescaping (a body line
    starting 'From ' is planted in every message so the escape
    round-trip is load-bearing), then the full RFC 5322/2047/MIME
    chain per message — how pipermail actually publishes the
    archives a crawler fetches. The oracle recomputes every
    message's fields from the fixture formula."""
    from barkingowl_spark.operators.multimodal import (
        mbox_table,
        mbox_texts,
    )

    return mbox_texts(mbox_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_eml_texts(spark, sf):
    """Email text extraction (functions/emltext.py, r5 third
    session): RFC 5322 header unfolding, RFC 2047 encoded-word
    subjects, MIME multipart walk behind a binary decoy, and
    quoted-printable / base64 transfer decoding — crawled
    mailing-list archives are .eml all the way down, and the stdlib
    email package pins the walk both directions at unit level
    (independent ground truth). The oracle recomputes
    subject/sender/body from the fixture formula."""
    from barkingowl_spark.operators.multimodal import (
        eml_table,
        eml_texts,
    )

    return eml_texts(eml_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_rtf_texts(spark, sf):
    """RTF text extraction (functions/rtftext.py, r5 third session):
    group walk with per-group \\uc state, control words, \\'hh
    cp1252 hex escapes, brace/backslash literals, destination-group
    skipping — the .doc era's exchange format. Even docs carry
    braces, a backslash and an accented hex byte so the escape
    grammar is load-bearing; the oracle recomputes paragraphs from
    the fixture formula."""
    from barkingowl_spark.operators.multimodal import (
        rtf_table,
        rtf_texts,
    )

    return rtf_texts(rtf_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_xlsx_cells(spark, sf):
    """Spreadsheet cell extraction (functions/officetext.py, r5
    third session): xl/worksheets cells resolved through the
    sharedStrings table (rich-text runs concatenated) next to
    inline numerics — the .xlsx sibling of office_texts, over the
    same CRC-verified zipwalk member reads. The oracle recomputes
    refs, kinds and values from the fixture formula."""
    from barkingowl_spark.operators.multimodal import (
        xlsx_cells,
        xlsx_table,
    )

    return xlsx_cells(xlsx_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_document_texts(spark, sf):
    """THE unified document-text dispatcher (r5 third session —
    the tier's composition): magic-sniff mixed payloads (ZIP
    families disambiguated by their spec-pinned members, CFB
    families by stream names) and route each to its extractor —
    pdf / docx / odt / epub / doc / ppt / rtf / eml in one
    mapInPandas pass, the call a corpus pipeline makes after O15
    finds a document. The oracle is one CASE over the eight
    fixture formulas."""
    from barkingowl_spark.operators.multimodal import (
        doc_payload_table,
        document_texts,
    )

    return document_texts(doc_payload_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_ppt_texts(spark, sf):
    """Legacy .ppt text extraction (functions/xlsbiff.py, r5 third
    session): CFB stream -> atom-tree scan (containers recursed,
    recVer 0xF) -> TextCharsAtom/TextBytesAtom leaves in document
    order — the third leg of the legacy office trio. The oracle
    recomputes runs + the \\r -> \\n paragraph mapping from the
    fixture formula."""
    from barkingowl_spark.operators.multimodal import (
        ppt_table,
        ppt_texts,
    )

    return ppt_texts(ppt_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_xls_cells(spark, sf):
    """Legacy .xls cell extraction (functions/xlsbiff.py, r5 third
    session): CFB stream -> BIFF8 record walk -> SST (compressed +
    UTF-16 + rich-run entries) -> LABELSST/RK cells — the
    spreadsheet half of the legacy office pair. Same fixture
    formula and output shape as xlsx_cells, so one oracle CTE shape
    pins both spreadsheet generations."""
    from barkingowl_spark.operators.multimodal import (
        xls_cells,
        xls_table,
    )

    return xls_cells(xls_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_cfb_members(spark, sf):
    """OLE2/CFB container walk (functions/cfbwalk.py, r5 third
    session): header/DIFAT/FAT parse, directory flatten, and BOTH
    stream layouts — miniFAT 64-byte sectors under the 4096 cutoff,
    FAT-chained sectors above it — over deterministic containers;
    read_ok TRUE is the load-bearing column (the full chain walk
    must deliver the declared bytes). The container under .doc,
    .xls, .ppt and .msi."""
    from barkingowl_spark.operators.multimodal import (
        cfb_members,
        cfb_table,
    )

    return cfb_members(cfb_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_doc_texts(spark, sf):
    """Legacy Word .doc text extraction (functions/doctext.py, r5
    third session): CFB walk -> FIB -> Clx piece table -> mixed
    CP1252/UTF-16LE text pieces — THE doc-type BarkingOwl was named
    for. The oracle recomputes the piece text from the fixture
    formula."""
    from barkingowl_spark.operators.multimodal import (
        doc_table,
        doc_texts,
    )

    return doc_texts(doc_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_office_texts(spark, sf):
    """Office-document text extraction (functions/officetext.py, r5
    third session): .docx (OOXML <w:p>/<w:t> runs) and .odt
    (mimetype-first ODF, <text:p> blocks) — both ZIP containers
    walked by functions/zipwalk.py with CRC-verified member reads —
    the payoff stage for the office doc-types the O15 matcher
    routes. The oracle recomputes the paragraph text from the
    fixture formula; the format column pins the container sniff."""
    from barkingowl_spark.operators.multimodal import (
        office_text_table,
        office_texts,
    )

    return office_texts(office_text_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_audio_g711(spark, sf):
    """G.711 mu/A-law WAV decode (operators/audiofp.py, r5 third
    session): the ITU closed-form expansions (invert / 0x55,
    mantissa + bias, segment shift) over companded-byte fixtures —
    the oracle recomputes the expansion formula in SQL, and the
    stdlib audioop module pins all 256 codes of both laws at unit
    level, so this de-stub has the independent ground truth the
    QM-coder genuinely lacks."""
    from barkingowl_spark.operators.audiofp import (
        g711_stats,
        g711_table,
    )

    return g711_stats(g711_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def q_tar_members(spark, sf):
    """TAR archive introspection (functions/tarwalk.py, r5 third
    session): USTAR header walk with checksum re-verification under
    every compressed wrapper a mirror actually publishes — .tar /
    .tar.gz (the RFC-1952 walk, CRC-32/ISIZE from the bytes) /
    .tar.bz2 / .tar.xz (stdlib bz2/lzma, whose integrity checks are
    the independent ground truth), auto-sniffed — over deterministic
    archives the stdlib modules also read. The oracle recomputes the
    member table from the fixture formula; cksum_ok TRUE is the
    load-bearing column."""
    from barkingowl_spark.operators.multimodal import (
        tar_members,
        tar_table,
    )

    return tar_members(tar_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(48)))


def _mm_logo_table(spark, sf):
    """Synthetic image table for the perceptual-hash queries: docs of
    one (source, doc_id%7) cell share a 64-char md5-derived payload
    (same 'logo' -> hamming 0), and doc_id%9==0 docs carry a one-pixel
    'z' perturbation (hamming <= 1 inside the cell; hex pixels are
    bimodal digit/letter so the mean shift flips nothing else).
    Distinct cells land ~32 bits apart — real clusters, no smear. The
    bytes are a string expression both engines rebuild (ascii-only, so
    DuckDB char offsets == byte offsets)."""
    base = (
        "repeat(md5(cast(concat(source, '#',"
        " CAST(doc_id % 7 AS STRING)) AS BINARY)), 2)"
    )
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.encode(
            F.expr(
                f"concat(substr({base}, 1, 63),"
                f" CASE WHEN doc_id % 9 = 0 THEN 'z'"
                f" ELSE substr({base}, 64, 1) END)"
            ),
            "utf-8",
        ).alias("payload"),
    )


def q_mm_phash(spark, sf):
    """64-bit perceptual hash (operators/multimodal.py::
    perceptual_hash): aHash over the binary payload via the same
    Arrow-batched mapInPandas plumbing as the decode stub — payloads
    read once, dedup runs on the 8-byte column."""
    from barkingowl_spark.operators.multimodal import perceptual_hash

    return perceptual_hash(_mm_logo_table(spark, sf))


def q_mm_phash_pairs(spark, sf):
    """Image near-dup pairs within hamming<=3 (multimodal.py::
    phash_near_pairs): the shared pigeonhole banded equi-join
    (corpus_dedup.hamming_band_pairs) on the phash column; the oracle
    is the brute-force O(n^2) hamming join — equal by the pigeonhole
    guarantee."""
    from barkingowl_spark.operators.multimodal import (
        perceptual_hash,
        phash_near_pairs,
    )

    return phash_near_pairs(perceptual_hash(_mm_logo_table(spark, sf)))


def _mm_video_table(spark, sf):
    """Synthetic 3-frame video table: frames keyed by (source,
    doc_id%7, frame) so same-cell videos share footage; doc_id%3==0
    videos swap frame 3 for unique content (partial overlap). Each
    frame is 64 ascii chars (two md5 hexes), payload = concat — the
    frame_phash stride recovers them exactly."""
    def frame(j):
        shared = (
            f"repeat(md5(cast(concat('vid#', source, '#',"
            f" CAST(doc_id % 7 AS STRING), '#', '{j}')"
            f" AS BINARY)), 2)")
        if j == 3:
            uniq = ("repeat(md5(cast(concat('uniq#',"
                    " CAST(doc_id AS STRING)) AS BINARY)), 2)")
            return f"CASE WHEN doc_id % 3 = 0 THEN {uniq} ELSE {shared} END"
        return shared

    return _t(spark, sf, "documents").select(
        "doc_id",
        F.encode(
            F.expr(f"concat({frame(1)}, {frame(2)}, {frame(3)})"),
            "utf-8",
        ).alias("payload"),
    )


def q_mm_video_frames(spark, sf):
    """Per-frame perceptual hashes (operators/multimodal.py::
    frame_phash): sample_frames' one-to-many Arrow fan-out fused with
    the per-chunk aHash — payloads read once, the video signature is
    3 longs/video."""
    from barkingowl_spark.operators.multimodal import frame_phash

    return frame_phash(_mm_video_table(spark, sf))


def q_mm_video_pairs(spark, sf):
    """Video near-dup pairs (operators/multimodal.py::
    video_near_pairs): equi-join on frame hash (matching frames
    co-locate, no all-pairs), stop-frame frequency cap, containment
    overlap_ppm vs the shorter video."""
    from barkingowl_spark.operators.multimodal import (
        frame_phash, video_near_pairs)

    return video_near_pairs(
        frame_phash(_mm_video_table(spark, sf)), min_shared=2)


def _audio_tracks(spark, sf):
    """Synthetic audio table: 128 ascii 'sample' bytes per doc (four
    chained md5 hexes), BINARY payload — the stand-in waveform the
    stub constellation reads (operators/audiofp.py)."""
    s = " || ".join(
        f"md5(cast(concat('trk#', CAST(doc_id AS STRING), '#{j}')"
        f" AS BINARY))" for j in range(4)
    )
    return _t(spark, sf, "documents").select(
        F.col("doc_id").alias("track_id"),
        F.encode(F.expr(s), "utf-8").alias("payload"),
    )


def q_audio_wav_peaks(spark, sf):
    """REAL audio decode (operators/audiofp.py, r03 de-stub): PCM-16
    WAV payloads built from a per-track sample formula round-trip
    through the RIFF parser and the exact-integer Walsh-Hadamard
    constellation — the oracle recomputes every sequency energy from
    the formula via bit_count parity, so one wrong sample or butterfly
    step value-hash-mismatches."""
    from barkingowl_spark.operators.audiofp import (
        extract_peaks,
        wav_table,
    )

    return extract_peaks(wav_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(16)))


def q_audio_flac_peaks(spark, sf):
    """REAL compressed-audio decode (functions/flaccodec.py, r5
    de-stub): FLAC payloads carrying the SAME sample formula as
    wav_table — rice residuals, fixed predictors, stereo
    decorrelation and 24-bit rescale all round-trip to identical
    samples, so the Walsh-Hadamard constellation oracle is shared
    verbatim with audio_wav_peaks; one wrong rice quotient or
    predictor step anywhere value-hash-mismatches."""
    from barkingowl_spark.operators.audiofp import (
        extract_peaks,
        flac_table,
    )

    return extract_peaks(flac_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(16)))


def q_audio_aiff_peaks(spark, sf):
    """REAL AIFF decode (operators/audiofp.py decode_aiff_pcm, late
    r5): FORM/AIFF payloads carrying the SAME sample formula as
    wav_table — big-endian samples, the 80-bit extended rate field,
    SSND offsets, 24-bit rescale and stereo downmix all round-trip
    to identical samples, so the Walsh-Hadamard constellation oracle
    is shared verbatim with audio_wav_peaks; one wrong byte order or
    skipped-offset bug anywhere value-hash-mismatches."""
    from barkingowl_spark.operators.audiofp import (
        aiff_table,
        extract_peaks,
    )

    return extract_peaks(aiff_table(
        _t(spark, sf, "documents").select("doc_id")
        .orderBy("doc_id").limit(16)))


def q_audio_landmarks(spark, sf):
    """Shazam constellation landmarks (operators/audiofp.py, Wang
    ISMIR'03): stub peaks over the binary payload via mapInPandas,
    then the (f1,f2,dt) combinatorial hash — target-zone self-join +
    WindowGroupLimit fan-out cap."""
    from barkingowl_spark.operators.audiofp import (
        extract_peaks,
        landmark_hashes,
    )

    return landmark_hashes(extract_peaks(_audio_tracks(spark, sf)))


def q_audio_match(spark, sf):
    """Snippet-to-track matching: 64-byte clips cut at byte 17 of
    every 5th track, matched by the vote-histogram offset alignment
    (match_fingerprints + best_matches) — each clip should win its
    own track at offset 17."""
    from barkingowl_spark.operators.audiofp import (
        best_matches,
        extract_peaks,
        landmark_hashes,
        match_fingerprints,
    )

    tracks = _audio_tracks(spark, sf)
    idx = landmark_hashes(extract_peaks(tracks))
    clips = tracks.filter(F.col("track_id") % 5 == 0).select(
        (F.col("track_id") + 1_000_000).alias("query_id"),
        F.expr("substring(payload, 18, 64)").alias("payload"),
    )
    qlm = landmark_hashes(
        extract_peaks(clips, id_col="query_id"), id_col="query_id")
    return best_matches(match_fingerprints(idx, qlm))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: frontier-expansion simulation — first-discovery
    dedup (O19) + per-type counters (O16) in one plan."""
    sf = "/root/testdata/sf0.001"
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return first.groupBy("event_type").agg(
        F.count("*").alias("first_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def q_o12_cuckoo_evict(spark, sf):
    """O12/O22/O1 via the REAL cuckoo-filter seen-set
    (operators/cuckoo.py): build the filter over a seen subset of
    documents, evict a re-crawl-due sub-subset (delete_keys — the
    operation the Bloom family cannot do), then anti_join_new with the
    cuckoo probe. The prefilter never changes the result: it is the
    exact set difference, so the oracle is plain relational SQL."""
    from barkingowl_spark.operators.cuckoo import (
        IncrementalCuckoo,
        cuckoo_maybe_seen_udf,
    )
    from barkingowl_spark.operators.dedup import anti_join_new

    d = _t(spark, sf, "documents")
    url = F.concat(F.lit("http://"), F.col("source"), F.lit(".test/dir/page"),
                   F.col("doc_id").cast("string"))
    rows = d.select(
        "doc_id", url.alias("url"),
        F.lit("s").alias("seed_url"), F.xxhash64(url).alias("url_hash"),
    )
    seen = rows.filter(F.col("doc_id") % 3 == 0)
    due = seen.filter(F.col("doc_id") % 9 == 0)  # re-crawl-due eviction
    ck = IncrementalCuckoo(n_partitions=4, n_buckets=1 << 12)
    ck.add_keys(seen.select("url_hash"))
    ck.delete_keys(due.select("url_hash"))
    seen_after = seen.join(due.select("url_hash"), "url_hash", "left_anti")
    probe = cuckoo_maybe_seen_udf(spark, ck.snapshot(), 4)
    return anti_join_new(rows, seen_after, probe=probe).select(
        "doc_id", "url")


# ---------------------------------------------------------------------------
# link-graph analytics (operators/linkgraph.py) — deterministic synthetic
# edge set over documents: src=doc_id, dst=(src*src + 13k) % n for
# k in {1,2,3}. Quadratic residues collide mod n, so in-degrees (and
# hence PageRank) are non-uniform — the queries discriminate.
# ---------------------------------------------------------------------------

def _synth_edges(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id")
    n = d.count()
    return d.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
    ).select(
        "src",
        ((F.col("src") * F.col("src") + 13 * F.col("k")) % n).alias("dst"),
    ), n


_EDGES_SQL = """
        nd AS (SELECT count(*) AS n FROM documents),
        edges AS (
            SELECT d.doc_id AS src,
                   (d.doc_id * d.doc_id + 13 * k.k) % nd.n AS dst
            FROM documents d CROSS JOIN nd, (VALUES (1), (2), (3)) k(k)
        )
"""


def _dd_h60(s: str) -> str:
    """DuckDB mirror of the repo-wide md5 h60 draw."""
    return f"CAST(('0x' || substring(md5({s}), 1, 15)) AS BIGINT)"


def _dd_fdiv(a: str, b: int) -> str:
    """FLOOR division in DuckDB (whose // truncates toward zero;
    Python's // floors — the SGNS fixed-point contract is floor)."""
    return (f"CASE WHEN ({a}) >= 0 THEN ({a}) // {b} "
            f"ELSE -(((-({a})) + {b} - 1) // {b}) END")


def _sgns_walk_step(prev: str, t: int) -> str:
    h = _dd_h60(f"'walk#' || CAST(s.walk_id AS VARCHAR) || '#{t}'")
    return f"""
            s{t} AS (SELECT s.walk_id, nbr.dst AS node
                   FROM s{t - 1} s
                   JOIN dg ON dg.src = s.node
                   JOIN nbr ON nbr.src = s.node
                    AND nbr.rn = 1 + {h} % dg.deg)"""


# emb_sgns_round: the full SGNS trajectory replayed in SQL — walks,
# window-1 pairs, md5 negatives, seeded init, ONE synchronous batch
# round at scale 4096 / lr 1/8 with explicit floor divisions.
_SGNS_NEG_H = _dd_h60(
    "'sgnsneg#' || CAST(pr.center AS VARCHAR) || '#' || "
    "CAST(pr.context AS VARCHAR) || '#' || CAST(j.j AS VARCHAR)")
_SGNS_SQL = f"""
            WITH {_EDGES_SQL},
            e0 AS (SELECT DISTINCT src, dst FROM edges),
            nbr AS (SELECT src, dst, row_number() OVER (
                        PARTITION BY src ORDER BY dst) AS rn
                    FROM e0),
            dg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
            n0 AS (SELECT src AS node FROM e0
                   UNION SELECT dst FROM e0),
            s0 AS (SELECT node AS walk_id, node FROM n0),
            {_sgns_walk_step('s0', 1)},
            {_sgns_walk_step('s1', 2)},
            {_sgns_walk_step('s2', 3)},
            walks AS (
              SELECT walk_id, 0 AS step, node FROM s0
              UNION ALL SELECT walk_id, 1, node FROM s1
              UNION ALL SELECT walk_id, 2, node FROM s2
              UNION ALL SELECT walk_id, 3, node FROM s3),
            adjp AS (SELECT a.node AS c1, b.node AS c2
                     FROM walks a JOIN walks b
                       ON a.walk_id = b.walk_id
                      AND b.step = a.step + 1),
            pr AS (SELECT c1 AS center, c2 AS context FROM adjp
                   UNION ALL SELECT c2, c1 FROM adjp),
            vocab AS (SELECT row_number() OVER (ORDER BY node) AS vid,
                             node
                      FROM (SELECT DISTINCT node FROM walks)),
            nv AS (SELECT count(*) AS n FROM vocab),
            neg AS (SELECT pr.center, v.node AS other, 0 AS label
                    FROM pr CROSS JOIN nv
                    CROSS JOIN (VALUES (1), (2)) j(j)
                    JOIN vocab v
                      ON v.vid = 1 + {_SGNS_NEG_H} % nv.n),
            pos AS (SELECT center, context AS other, 1 AS label
                    FROM pr),
            ex AS (SELECT center, other, label, count(*) AS m
                   FROM (SELECT * FROM pos
                         UNION ALL SELECT * FROM neg)
                   GROUP BY 1, 2, 3),
            dims AS (SELECT * FROM (VALUES (0), (1), (2), (3)) dd(d)),
            iemb AS (SELECT node, d,
                            {_dd_h60("'sgnsin#' || CAST(node AS VARCHAR)"
                                     " || '#' || CAST(d AS VARCHAR)")}
                            % 2049 - 1024 AS val
                     FROM vocab CROSS JOIN dims),
            oemb AS (SELECT node, d,
                            {_dd_h60("'sgnsout#' || CAST(node AS VARCHAR)"
                                     " || '#' || CAST(d AS VARCHAR)")}
                            % 2049 - 1024 AS val
                     FROM vocab CROSS JOIN dims),
            dots AS (SELECT e.center, e.other, e.label, e.m,
                            sum(i.val * o.val) AS dot
                     FROM ex e
                     JOIN iemb i ON i.node = e.center
                     JOIN oemb o ON o.node = e.other AND o.d = i.d
                     GROUP BY 1, 2, 3, 4),
            gx AS (SELECT center, other, m,
                          {_dd_fdiv(
                              'label * 4096 - greatest(0, least(4096, '
                              + _dd_fdiv('dot', 16384)
                              + ' + 2048))', 8)} AS g
                   FROM dots),
            din AS (SELECT gx.center AS node, o.d,
                           sum(m * {_dd_fdiv('gx.g * o.val', 4096)})
                               AS delta
                    FROM gx JOIN oemb o ON o.node = gx.other
                    GROUP BY 1, 2),
            dout AS (SELECT gx.other AS node, i.d,
                            sum(m * {_dd_fdiv('gx.g * i.val', 4096)})
                                AS delta
                     FROM gx JOIN iemb i ON i.node = gx.center
                     GROUP BY 1, 2)
            SELECT 'in' AS side, i.node, CAST(i.d AS INT) AS d,
                   CAST(i.val + coalesce(din.delta, 0) AS BIGINT)
                       AS val
            FROM iemb i LEFT JOIN din
              ON din.node = i.node AND din.d = i.d
            UNION ALL
            SELECT 'out', o.node, CAST(o.d AS INT),
                   CAST(o.val + coalesce(dout.delta, 0) AS BIGINT)
            FROM oemb o LEFT JOIN dout
              ON dout.node = o.node AND dout.d = o.d
"""


def q_graph_degree(spark, sf):
    """In/out degree per node of the synthetic link graph — the crawl
    prioritization signal (operators/linkgraph.py::degree_stats)."""
    from barkingowl_spark.operators.linkgraph import degree_stats

    edges, _ = _synth_edges(spark, sf)
    return degree_stats(edges)


def q_graph_pagerank(spark, sf):
    """3-iteration fixed-point PageRank (integer div throughout, so the
    bigint ranks value-hash-match DuckDB's // arithmetic exactly)."""
    from barkingowl_spark.operators.linkgraph import pagerank_fixed

    edges, _ = _synth_edges(spark, sf)
    return pagerank_fixed(edges, n_iter=3)


def q_graph_wcc(spark, sf):
    """Weakly connected components + sizes (operators/components.py::
    connected_components — the same min-label propagation + pointer
    jumping that clusters near-dups, here on a sparsified slice of
    the synthetic link graph): the mirror-farm / island detector next
    to graph_scc's directed cores. Oracle: DuckDB recursive
    transitive closure — different algorithm, same labels."""
    from barkingowl_spark.operators.components import (
        connected_components,
    )

    edges, _ = _synth_edges(spark, sf)
    sparse = edges.filter(
        ((F.col("src") + F.col("dst")) % 11 == 0)
        & (F.col("src") != F.col("dst")))
    comp = connected_components(sparse, src="src", dst="dst")
    w = Window.partitionBy("component_id")
    return comp.select(
        F.col("id").alias("node"), "component_id",
        F.count(F.lit(1)).over(w).cast("long").alias("csize"))


def q_graph_pagerank_delta(spark, sf):
    """PageRank convergence audit: exact L1/max movement between
    iteration 2 and iteration 3 of the fixed-point recurrence
    (operators/linkgraph.py::pagerank_fixed at n_iter 2 vs 3) —
    the "did we iterate enough?" number that decides whether the
    next crawl-prioritization run buys another round; l1_delta_ppm
    reads the moved mass against the 1e12 total."""
    from barkingowl_spark.operators.linkgraph import pagerank_fixed

    edges, _ = _synth_edges(spark, sf)
    r2 = pagerank_fixed(edges, n_iter=2).select(
        "node", F.col("rank_fp").alias("r2"))
    r3 = pagerank_fixed(edges, n_iter=3).select(
        "node", F.col("rank_fp").alias("r3"))
    return (
        r2.join(r3, "node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.expr("abs(r3 - r2)")).cast("long")
            .alias("l1_delta_fp"),
            F.max(F.expr("abs(r3 - r2)")).cast("long")
            .alias("max_delta_fp"))
        .withColumn(
            "l1_delta_ppm",
            F.expr("CAST(l1_delta_fp DIV 1000000 AS BIGINT)"))
    )


def q_frontier_coverage(spark, sf):
    """Per-host frontier-coverage estimate (operators/coverage.py::
    species_richness): bias-corrected Chao1 URL-richness lower bound +
    Good-Turing unseen-link mass from the discovery log (every link
    edge = one observation of its target URL, keyed by the target's
    host) — the "is this site mined out?" stop/budget signal. Two
    map-side-combined shuffles, integer-exact, no sketch."""
    from barkingowl_spark.operators.coverage import species_richness

    edges, _ = _synth_edges(spark, sf)
    d = _t(spark, sf, "documents").select("doc_id", "source")
    obs = edges.join(d, edges.dst == d.doc_id).select(
        F.col("source").alias("host"), F.col("dst").alias("item"))
    return species_richness(
        obs, key_col="host", item_col="item"
    ).withColumnRenamed("key", "host")


def q_graph_host_agg(spark, sf):
    """Host-level link-graph rollup: URL edges built from the documents'
    source field, hosts re-extracted by the crawl netloc regex
    (operators/linkgraph.py::host_graph)."""
    from barkingowl_spark.operators.linkgraph import host_graph

    d = _t(spark, sf, "documents").select("doc_id", "source")
    edges, _ = _synth_edges(spark, sf)
    src_d = d.select(F.col("doc_id").alias("src"),
                     F.col("source").alias("src_source"))
    dst_d = d.select(F.col("doc_id").alias("dst"),
                     F.col("source").alias("dst_source"))
    urls = (
        edges.join(src_d, "src").join(dst_d, "dst")
        .select(
            F.concat(F.lit("http://"), "src_source", F.lit(".test/p"),
                     F.col("src").cast("string")).alias("src"),
            F.concat(F.lit("http://"), "dst_source", F.lit(".test/p"),
                     F.col("dst").cast("string")).alias("dst"),
        )
    )
    return host_graph(urls)


def q_graph_hits(spark, sf):
    """2-iteration unnormalized integer HITS (hubs & authorities) —
    bit-exact bigint sums, no float norm (operators/linkgraph.py)."""
    from barkingowl_spark.operators.linkgraph import hits_fixed

    edges, _ = _synth_edges(spark, sf)
    return hits_fixed(edges, n_iter=2)


def q_graph_adamic(spark, sf):
    """Adamic-Adar link prediction (operators/linkgraph.py::
    adamic_adar, Social Networks 2003): common-neighbor pairs weighted
    by 1e6 div (1+floor log2 deg) with the hub wedge-center cap."""
    from barkingowl_spark.operators.linkgraph import adamic_adar

    edges, _ = _synth_edges(spark, sf)
    return adamic_adar(edges, max_deg=64)


def q_graph_walks(spark, sf):
    """Deterministic DeepWalk corpus (operators/walks.py): one
    3-step md5-driven walk per node over the synthetic graph — the
    graph-embedding training stream, bit-identical across engines."""
    from barkingowl_spark.operators.walks import random_walks

    edges, _ = _synth_edges(spark, sf)
    return random_walks(edges, walk_len=3)


def q_graph_triangles(spark, sf):
    """Exact triangle counts + local clustering (operators/
    linkgraph.py::triangle_stats, degree-ordered orientation — wedge
    work bounded by arboricity, no hub cap needed); oracle is the
    canonical a<b<c brute-force 3-join."""
    from barkingowl_spark.operators.linkgraph import triangle_stats

    edges, _ = _synth_edges(spark, sf)
    return triangle_stats(edges)


def q_graph_indegree_skew(spark, sf):
    """Shuffle-key pre-flight (operators/ranking.py::skew_report):
    in-degree skew of the synthetic graph — integer Gini + max key
    share, order statistics via the scalable global dense rank."""
    from barkingowl_spark.operators.ranking import skew_report

    edges, _ = _synth_edges(spark, sf)
    return skew_report(edges, ["dst"]).selectExpr(
        "n_keys", "total_rows", "max_share_ppm", "gini_ppm")


def q_source_hhi(spark, sf):
    """Corpus-mix concentration pre-flight (operators/ranking.py::
    concentration_report): Herfindahl-Hirschman index of documents
    over their source column, exact integer ppm + the 1/HHI
    effective-source count in milli — the head-weighted companion to
    graph_indegree_skew's Gini."""
    from barkingowl_spark.operators.ranking import concentration_report

    return concentration_report(_t(spark, sf, "documents"), ["source"])


def q_graph_salsa(spark, sf):
    """SALSA hubs/authorities (operators/linkgraph.py::salsa_fixed,
    Lempel & Moran WWW'00): HITS with random-walk normalization in
    1e12 fixed point — per-edge floor division, oracle unrolls the
    same 2 rounds."""
    from barkingowl_spark.operators.linkgraph import salsa_fixed

    edges, _ = _synth_edges(spark, sf)
    return salsa_fixed(edges, n_iter=2)


def q_cdc_near_dup(spark, sf):
    """Chunk-level verbatim-reuse pairs (operators/cdc.py::
    cdc_near_pairs): docs sharing >=20% of their content-defined
    chunks — the CDC containment screen (hot boilerplate chunks
    capped out as pair generators)."""
    from barkingowl_spark.operators.cdc import (
        cdc_chunks,
        cdc_near_pairs,
    )

    ch = cdc_chunks(_t(spark, sf, "documents"), w=4, mask_bits=3)
    return cdc_near_pairs(ch, threshold_ppm=200_000, max_fp_docs=64)


def q_graph_kcore(spark, sf):
    """Two synchronous rounds of 4-core peeling on the undirected
    simple graph (operators/linkgraph.py::kcore_peel, Seidman 1983) —
    the dense-subgraph / link-farm screen; oracle unrolls the same
    rounds."""
    from barkingowl_spark.operators.linkgraph import kcore_peel

    edges, _ = _synth_edges(spark, sf)
    return kcore_peel(edges, k=4, n_rounds=2)


def q_graph_densest(spark, sf):
    """Parallel densest-subgraph peeling (operators/linkgraph.py::
    densest_peel, Bahmani-Kumar-Vattani VLDB'12): two rounds of
    remove-below-(1+eps)-average-degree with per-round density in
    milli and the best round flagged — the link-farm core finder;
    thresholds DECIMAL-widened, stats ride a 1-row broadcast, oracle
    unrolls the same rounds."""
    from barkingowl_spark.operators.linkgraph import densest_peel

    edges, _ = _synth_edges(spark, sf)
    return densest_peel(edges, n_rounds=2)


def q_emb_sq8(spark, sf):
    """int8 scalar-quantization audit (operators/similarity.py::
    sq8_audit): per-vector L1/max reconstruction error of SQ8 coding
    against corpus per-dim ranges on the shared milli grid — the
    go/no-go before demoting a vector index from float to 8-bit;
    exact integers, one explode + 64-row broadcast codebook + one
    per-vec agg."""
    from barkingowl_spark.operators.similarity import sq8_audit

    return sq8_audit(_t(spark, sf, "embeddings"))


def q_emb_matryoshka(spark, sf):
    """Matryoshka prefix-dimension retrieval audit (operators/
    similarity.py::matryoshka_recall, Kusupati et al. 2022): top-5
    recall of 8/16/32-dim prefixes of the integer-quantized
    embeddings against the full-width dot-product truth — the
    is-prefix-routing-safe number."""
    from barkingowl_spark.operators.similarity import matryoshka_recall

    return matryoshka_recall(
        _t(spark, sf, "embeddings"), dims=(8, 16, 32),
        n_queries=10, k=5)


def q_graph_hyperball(spark, sf):
    """HyperBall ball-size table (node, t, ball_est) for t=0..2 —
    per-node HLL registers grown one hop per round, HLL++ linear-
    counting small-range correction as a frozen integer table
    (operators/hyperball.py; Boldi & Vigna WWW'14). The oracle
    recomputes exact reach sets then applies the identical integer
    register/estimate math."""
    from barkingowl_spark.operators.hyperball import hyperball_sizes

    edges, _ = _synth_edges(spark, sf)
    return hyperball_sizes(edges, n_iter=2)


def q_graph_diameter(spark, sf):
    """Effective diameter d50/d90 off the HyperBall ball-size table
    (operators/hyperball.py::effective_diameter, ANF/Palmer KDD'02):
    smallest t whose pair coverage clears the quantile + micro-unit
    linear interpolation inside the last shell. Everything after the
    per-t rollup runs on diameter+1 rows."""
    from barkingowl_spark.operators.hyperball import (
        effective_diameter, hyperball_sizes)

    edges, _ = _synth_edges(spark, sf)
    return effective_diameter(hyperball_sizes(edges, n_iter=2))


def q_graph_harmonic(spark, sf):
    """Harmonic/closeness centrality from HyperBall shells on the
    reversed graph (who reaches me), per-term floor-div fixed point
    with the standard nonnegative-shell clamp."""
    from barkingowl_spark.operators.hyperball import hyperball_centrality

    edges, _ = _synth_edges(spark, sf)
    return hyperball_centrality(edges, n_iter=2)


def _host_shingles(spark, sf):
    """(source, shingle): each host's distinct word-3-gram vocabulary
    — the key set the KMV host-overlap sketches summarize."""
    d = (
        _t(spark, sf, "documents")
        .select("source", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
    )
    return d.select(
        "source",
        F.explode(F.expr(
            "array_distinct(transform(sequence(0, size(w) - 3),"
            " i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
        )).alias("shingle"),
    )


def q_kmv_host_distinct(spark, sf):
    """Per-host distinct-shingle estimate from a KMV (theta) sketch —
    k smallest md5 draws per host, (k-1)*2^60 div h_(k), exact below k
    (operators/kmv.py; Beyer et al. SIGMOD'07)."""
    from barkingowl_spark.operators.kmv import kmv_estimate, kmv_sketch

    sk = kmv_sketch(_host_shingles(spark, sf),
                    group_col="source", key_col="shingle", k=32)
    return kmv_estimate(sk, k=32).select(
        F.col("grp").alias("host"), "sketch_size", "distinct_est")


def q_kmv_host_overlap(spark, sf):
    """Host-pair shared-vocabulary estimation from KMV sketches alone
    (jaccard/intersection via the k-smallest-of-union rule) — the
    sketch-cost mirror screen; all pair math runs on hosts*k rows."""
    from barkingowl_spark.operators.kmv import (
        kmv_overlap_pairs,
        kmv_sketch,
    )

    sk = kmv_sketch(_host_shingles(spark, sf),
                    group_col="source", key_col="shingle", k=32)
    return kmv_overlap_pairs(sk, k=32).select(
        F.col("grp_a").alias("host_a"), F.col("grp_b").alias("host_b"),
        "matches", "union_k", "jaccard_est_ppm", "union_est",
        "inter_est")


def _synth_sitemaps(spark, sf):
    """One sitemap.xml page per documents source-host: <url> blocks in
    doc_id order (lastmod only on even ids — exercises the NULL path,
    whitespace inside <loc> exercises trimming), one foreign-host entry
    (exercises the seed scope filter) and one <sitemap> index block."""
    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    day = F.lpad((F.col("doc_id") % 27 + 1).cast("string"), 2, "0")
    frag = F.concat(
        F.lit("<url><loc> http://"), F.col("source"), F.lit(".test/p"), sid,
        F.lit(" </loc>"),
        F.coalesce(
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit("<lastmod>2026-01-"), day,
                            F.lit("</lastmod>"))),
            F.lit("")),
        F.lit("</url>"),
    )
    return (
        d.select("source", F.struct("doc_id", frag.alias("frag")).alias("sf"))
        .groupBy("source")
        .agg(F.array_sort(F.collect_list("sf")).alias("s"))
        .select(
            F.concat(F.lit("http://"), "source",
                     F.lit(".test/sitemap.xml")).alias("url"),
            F.concat(
                F.lit("<urlset>"),
                F.array_join(F.transform("s", lambda x: x["frag"]), ""),
                F.lit('<url><loc>http://evil.test/x</loc></url>'
                      "<sitemap><loc>http://"), F.col("source"),
                F.lit(".test/sitemap2.xml</loc></sitemap></urlset>"),
            ).alias("body"),
        )
    )


def q_sitemap_parse(spark, sf):
    """Sitemap acquisition (operators/sitemap.py): every <url>/<sitemap>
    block of the synthesized sitemap pages, in document order."""
    from barkingowl_spark.operators.sitemap import sitemap_entries

    return sitemap_entries(_synth_sitemaps(spark, sf), body_col="body")


def q_sitemap_gz(spark, sf):
    """Gzipped sitemap acquisition (r5 third session): the same
    synthesized sitemap bodies wrapped in real RFC-1952 members with
    ``.xml.gz`` urls, decoded through gunzip_sitemap_pages (CRC
    verified, url suffix stripped) and parsed by the SAME
    sitemap_entries grammar — so sitemap_parse's oracle applies
    verbatim and one value hash pins the whole gz front-end."""
    import pandas as pd

    from barkingowl_spark.functions.tarwalk import build_gzip
    from barkingowl_spark.operators.sitemap import (
        gunzip_sitemap_pages,
        sitemap_entries,
    )

    def wrap(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "url": [u + ".gz" for u in pdf["url"]],
                "payload": [build_gzip("sitemap.xml", b.encode())
                            for b in pdf["body"]],
            })

    gz = _synth_sitemaps(spark, sf).mapInPandas(
        wrap, "url string, payload binary")
    return sitemap_entries(
        gunzip_sitemap_pages(gz, payload_col="payload"),
        body_col="body")


def q_sitemap_seeds(spark, sf):
    """Frontier seed candidates from urlset entries — same-host scope
    drops the planted foreign-host loc (O9 applied at acquisition)."""
    from barkingowl_spark.operators.sitemap import sitemap_seed_urls

    return sitemap_seed_urls(_synth_sitemaps(spark, sf), body_col="body")


def q_sitemap_coverage(spark, sf):
    """Sitemap-vs-crawl coverage audit (operators/sitemap.py::
    sitemap_coverage): listed_ppm = how much of the fetched corpus the
    site's sitemap had already listed (discovery fetches a
    sitemap-first strategy saves); backlog = listed-but-unfetched.
    Crawled set = every third doc withheld, so both numbers are
    exercised. Full-outer equi-join + per-host rollup."""
    from barkingowl_spark.operators.sitemap import (
        sitemap_coverage, sitemap_seed_urls)

    d = _t(spark, sf, "documents")
    crawled = d.filter(F.col("doc_id") % 3 != 2).select(
        F.concat(F.lit("http://"), F.col("source"), F.lit(".test/p"),
                 F.col("doc_id").cast("string")).alias("url"))
    listed = sitemap_seed_urls(_synth_sitemaps(spark, sf),
                               body_col="body")
    return sitemap_coverage(crawled, listed)


def q_trap_signals(spark, sf):
    """Crawler-trap heuristics (operators/traps.py) over four synthetic
    URL shapes per doc_id%4: clean path / path loop / numeric lattice /
    param explosion. The REAL column expressions compute the signals;
    the oracle regenerates them per shape."""
    from barkingowl_spark.operators.traps import url_trap_signals

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 4
    path = (
        F.when(m == 0, F.concat(F.lit("/a"), sid, F.lit("/b/c")))
        .when(m == 1, F.lit("/loop/x/loop/x/loop"))
        .when(m == 2, F.concat(F.lit("/"), (F.col("doc_id") % 9)
                               .cast("string"), F.lit("/12/13/14/15")))
        .otherwise(F.concat(F.lit("/p"), sid,
                            F.lit("?a=1&b=2&c=3&d=4&e=5&f=6&g=7")))
    )
    urls = d.select(
        "doc_id",
        F.concat(F.lit("http://"), F.col("source"), F.lit(".test"), path)
        .alias("url"),
    )
    return url_trap_signals(urls)


def _dust_captures(spark, sf):
    """Synthetic capture log for the DUST queries: two captures per
    doc; `page` is content-bearing (digest depends on it), `sessionid`
    rotates mod 7 (content-irrelevant, shared across docs so groups
    form), `ref` appears only on pass 1 of doc_id%3==0. The oracle
    regenerates the identical log."""
    d = _t(spark, sf, "documents")
    sid = F.col("doc_id")
    cap = d.select(
        "doc_id", "source",
        F.explode(F.expr("sequence(0, 1)")).alias("p"))
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".test/p"),
        (sid % 12).cast("string"),
        F.lit("?page="), (sid % 5).cast("string"),
        F.when((sid % 3 == 0) & (F.col("p") == 1), F.lit("&ref=r"))
        .otherwise(F.lit("")),
        F.lit("&sessionid=s"), ((sid * 2 + F.col("p")) % 7)
        .cast("string"),
    )
    digest = F.md5(F.concat(
        F.col("source"), F.lit("|"), (sid % 12).cast("string"),
        F.lit("|"), (sid % 5).cast("string")))
    return cap.select(url.alias("url"), digest.alias("digest")).distinct()


# Shared DuckDB fragment for the DUST oracles: the identical synthetic
# capture log, the URL-split convention from operators/dust.py, and the
# per-(host, param) informative groups.
_DUST_SQL = """
        WITH caps AS (
            SELECT DISTINCT
                'http://' || source || '.test/p' || (doc_id % 12)
                  || '?page=' || (doc_id % 5)
                  || (CASE WHEN doc_id % 3 = 0 AND t.p = 1
                           THEN '&ref=r' ELSE '' END)
                  || '&sessionid=s' || ((doc_id * 2 + t.p) % 7) AS url,
                md5(source || '|' || (doc_id % 12) || '|'
                    || (doc_id % 5)) AS digest
            FROM documents, (VALUES (0), (1)) t(p)),
        parsed AS (
            SELECT url, digest,
                   split_part(split_part(url, '://', 2), '/', 1)
                     AS host,
                   substr(split_part(url, '://', 2),
                          strlen(split_part(split_part(url, '://', 2),
                                            '/', 1)) + 1) AS pathq
            FROM caps),
        p2 AS (
            SELECT url, digest, host,
                   split_part(pathq, '?', 1) AS path,
                   CASE WHEN strpos(pathq, '?') > 0
                        THEN substr(pathq, strpos(pathq, '?') + 1)
                        ELSE '' END AS query
            FROM parsed),
        kv AS (SELECT url, unnest(string_split(query, '&')) AS item
               FROM p2 WHERE query <> ''),
        vocab AS (SELECT DISTINCT p2.host,
                         split_part(k.item, '=', 1) AS param
                  FROM kv k JOIN p2 USING (url)),
        restv AS (
            SELECT c.url, c.host, v.param, c.path, c.digest,
                   coalesce(string_agg(k.item, '&' ORDER BY k.item)
                            FILTER (WHERE split_part(k.item, '=', 1)
                                          <> v.param), '') AS rest,
                   coalesce(string_agg(k.item, '&' ORDER BY k.item)
                            FILTER (WHERE split_part(k.item, '=', 1)
                                          = v.param), '<absent>')
                     AS variant
            FROM p2 c
            JOIN vocab v ON v.host = c.host
            LEFT JOIN kv k ON k.url = c.url
            GROUP BY ALL),
        grp AS (
            SELECT host, param, path, rest,
                   count(DISTINCT variant) AS nv,
                   count(DISTINCT digest) AS nd
            FROM restv GROUP BY ALL
            HAVING count(DISTINCT variant) >= 2)
"""


def q_dust_rules(spark, sf):
    """DUST content-irrelevant URL-param mining (operators/dust.py,
    Bar-Yossef WWW'07): params whose removal provably preserves the
    content digest — support = informative groups with one digest,
    refuted must be 0. sessionid qualifies, page is refuted, ref needs
    enough scale for its groups to form."""
    from barkingowl_spark.operators.dust import param_rules

    return param_rules(_dust_captures(spark, sf), 2)


def q_dust_canon(spark, sf):
    """Learned-rule URL canonicalizer (operators/dust.py::apply_rules):
    strip mined-safe params + canonical param order — the frontier
    dedup key a DUST-aware crawler uses instead of the raw URL."""
    from barkingowl_spark.operators.dust import apply_rules, param_rules

    caps = _dust_captures(spark, sf)
    return apply_rules(caps, param_rules(caps, 2))


def q_o20_scored_topk(spark, sf):
    """Priority-scored politeness budget (operators/politeness.py::
    schedule_scored): per-host top-3 by a fixed-point rank signal, the
    rank-aware frontier scheduling mode. Scores are deterministic
    ((doc_id*37)%1000) so the oracle reproduces the ordering."""
    from barkingowl_spark.operators.politeness import schedule_scored

    d = _t(spark, sf, "documents")
    due = d.select(
        F.col("source").alias("host"),
        F.col("doc_id").alias("url_hash"),
        F.col("doc_id").alias("discovery_idx"),
        F.lit("s").alias("seed_url"),
    )
    scores = d.select(
        F.col("doc_id").alias("url_hash"),
        ((F.col("doc_id") * 37) % 1000).alias("score_fp"),
    )
    return schedule_scored(due, 3, scores).select(
        "host", "url_hash", "discovery_idx")


def q_text_boilerplate(spark, sf):
    """Per-host boilerplate stripping (operators/boilerplate.py) over
    multi-line docs synthesized from documents: a nav header and a
    copyright footer shared by every doc of a host (stripped) around the
    doc's own text line (kept unless the host repeats it past the
    threshold — the oracle runs the SAME relational rule, so exact-dup
    fixture texts resolve identically)."""
    from barkingowl_spark.operators.boilerplate import strip_boilerplate

    d = _t(spark, sf, "documents").select(
        "doc_id", "source",
        F.concat(F.lit("nav "), F.col("source"), F.lit("\n"),
                 F.col("text"), F.lit("\ncopyright "), F.col("source"))
        .alias("text"),
    )
    return strip_boilerplate(d)


def q_text_decontam(spark, sf):
    """n-gram test-set decontamination (operators/decontam.py): the eval
    set is synthesized deterministically from the corpus itself — every
    doc_id % 37 == 5 document contributes a 9-token snippet (tokens
    2..10), so those docs and their exact-dup siblings carry overlapping
    5-grams while most of the corpus stays clean. Eval side is
    distinct-reduced then broadcast; the corpus shingle explosion never
    shuffles for the probe."""
    from barkingowl_spark.operators.decontam import ngram_decontaminate

    d = _t(spark, sf, "documents").select("doc_id", "text")
    toks = "filter(split(translate(text, '\\n', ' '), ' '), x -> x <> '')"
    ev = (
        d.filter(F.col("doc_id") % 37 == 5)
        .select(F.expr(f"concat_ws(' ', slice({toks}, 2, 9))")
                .alias("text"))
    )
    return ngram_decontaminate(d, ev, n=5)


def q_text_paradedup(spark, sf):
    """Corpus-global paragraph dedup (operators/paradedup.py): every
    doc gets a 'shared intro <doc_id%7>' first line, so each of the 7
    intro variants survives only in its lowest-doc_id carrier; the
    fixture's exact-dup document texts likewise resolve to the first
    (doc_id, pos) copy. One paragraph-partitioned window shuffle."""
    from barkingowl_spark.operators.paradedup import paragraph_dedup

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.lit("shared intro "),
                 (F.col("doc_id") % 7).cast("string"),
                 F.lit("\n"), F.col("text")).alias("text"),
    )
    return paragraph_dedup(d)


def _mix_quotas(d):
    """Deterministic per-host quota dim for the mix driver queries:
    keep_ppm = 125000 * (1 + len(host) % 7), mirrored in the oracle."""
    return d.select("source").distinct().select(
        "source",
        (F.lit(125_000) * (F.lit(1) + F.length("source") % 7))
        .cast("long").alias("keep_ppm"),
    )


def q_mix_sample(spark, sf):
    """Deterministic domain-mix sampling (operators/mix.py): per-host
    keep quotas applied via a portable md5 draw — no RNG, oracle runs
    the same draw. Broadcast quota dim; sampling is map-side only."""
    from barkingowl_spark.operators.mix import mix_sample

    d = _t(spark, sf, "documents")
    return mix_sample(d, _mix_quotas(d))


def q_mix_report(spark, sf):
    """Achieved-mix rollup (operators/mix.py mix_report): per-host
    total/kept/kept_ppm over the deterministic sample."""
    from barkingowl_spark.operators.mix import mix_report, mix_sample

    d = _t(spark, sf, "documents")
    return mix_report(mix_sample(d, _mix_quotas(d)))


def q_text_entropy(spark, sf):
    """Half-bit token entropy (functions/textstats.py::token_entropy):
    per-doc Shannon entropy of the token distribution via the squared-
    DECIMAL bitlen identity — the interleaved-repetition signal
    duplicate-line ratios miss; two shuffles corpus-wide."""
    from barkingowl_spark.functions.textstats import token_entropy

    return token_entropy(_t(spark, sf, "documents"))


def q_text_repetition(spark, sf):
    """Gopher-style duplicate-line share (functions/repetition.py):
    docs synthesized two-line — every doc_id % 3 == 0 doc repeats its
    own text line (a planted within-doc dup), the rest get a unique
    second line. Oracle runs the same per-(doc, line) counting."""
    from barkingowl_spark.functions.repetition import line_repetition

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"),
            F.when(F.col("doc_id") % 3 == 0, F.col("text"))
            .otherwise(F.concat(F.lit("unique "),
                                F.col("doc_id").cast("string"))),
        ).alias("text"),
    )
    return line_repetition(d)


def q_text_top_bigram(spark, sf):
    """Top word-bigram share (functions/repetition.py) over the raw
    documents text — natural token repeats make the signal vary."""
    from barkingowl_spark.functions.repetition import top_bigram_share

    return top_bigram_share(_t(spark, sf, "documents"))


def _pii_docs(spark, sf):
    """Spark twin of _pii_doc_sql(): every doc_id % 5 == 0 doc gets an
    email token appended, % 5 == 1 a phone token, the rest 'clean'."""
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("user"), F.col("doc_id").cast("string"),
                         F.lit("@mail.test")),
            ).when(
                F.col("doc_id") % 5 == 1,
                F.concat(F.lit("+1-555"),
                         (F.lit(1_000_000) + F.col("doc_id"))
                         .cast("string")),
            ).otherwise(F.lit("clean")),
        ).alias("text"),
    )


def q_pii_scan(spark, sf):
    """Per-doc PII token counts (functions/pii.py) over a planted-PII
    corpus — primitive-only predicates, no regex dialect risk."""
    from barkingowl_spark.functions.pii import pii_scan

    return pii_scan(_pii_docs(spark, sf))


def q_pii_redact(spark, sf):
    """Byte-exact PII masking (functions/pii.py redact): emails ->
    <EMAIL>, phones -> <PHONE>, all other bytes identical."""
    from barkingowl_spark.functions.pii import redact

    return redact(_pii_docs(spark, sf))


def q_shard_assign(spark, sf):
    """Deterministic training-shard assignment (operators/shards.py):
    pure map-side md5 draw, no shuffle; oracle runs the same draw."""
    from barkingowl_spark.operators.shards import assign_shards

    return assign_shards(
        _t(spark, sf, "documents").select("doc_id"), 16)


def q_shard_manifest(spark, sf):
    """Per-shard audit manifest (operators/shards.py): doc/token counts
    plus an order-independent bit_xor content fingerprint."""
    from barkingowl_spark.operators.shards import (
        assign_shards,
        shard_manifest,
    )

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return shard_manifest(assign_shards(d, 16))


def _synth_redirects(spark, sf):
    """Deterministic redirect map over a single host: doc i redirects to
    doc i-1 unless i is a multiple of 8 (chain terminals), giving chains
    of length 0..7 — resolved in ceil(log2(7)) = 3 doubling rounds."""
    d = _t(spark, sf, "documents").select("doc_id")
    i = F.col("doc_id")
    return d.filter(i % 8 != 0).select(
        F.concat(F.lit("http://r.test/p"), i.cast("string")).alias("src"),
        F.concat(F.lit("http://r.test/p"), (i - 1).cast("string")).alias("dst"),
    )


def q_redirect_resolve(spark, sf):
    """Pointer-jumping redirect-chain resolution (operators/redirects.py):
    every chain collapses to its terminal target with the hop count;
    oracle = DuckDB recursive-CTE walk to the same terminals."""
    from barkingowl_spark.operators.redirects import resolve_redirects

    return resolve_redirects(_synth_redirects(spark, sf), max_chain=8)


def q_anchor_rollup(spark, sf):
    """Per-target anchor-text rollup (functions/anchors.py): the synth
    pages' four anchors collapse to two canonical targets per doc — the
    uppercase-host+port+fragment anchor 'd' merges with the absolute
    anchor 'a' (canonicalization fold), the mailto anchor is dropped."""
    from barkingowl_spark.functions.anchors import anchor_rollup

    return anchor_rollup(_synth_pages(spark, sf))


def q_idx_postings(spark, sf):
    """Inverted-index build (operators/invindex.py::postings): per-term
    doc_freq / total_tf plus a window-capped exemplar postings list."""
    from barkingowl_spark.operators.invindex import postings

    return postings(_t(spark, sf, "documents"))


def q_idx_positions(spark, sf):
    """Positional index (operators/invindex.py::positional_postings):
    (term, doc_id, pos) over the filtered token sequence — one
    map-side posexplode, the layout phrase search intersects."""
    from barkingowl_spark.operators.invindex import positional_postings

    return positional_postings(_t(spark, sf, "documents"))


def q_search_phrase(spark, sf):
    """Exact-phrase retrieval by positional-list intersection
    (operators/invindex.py::phrase_match, 'value table'): per phrase
    term one pushed-down index slice, k-1 (doc_id, pos) equi-joins —
    the corpus text is never rescanned."""
    from barkingowl_spark.operators.invindex import (
        phrase_match,
        positional_postings,
    )

    return phrase_match(
        positional_postings(_t(spark, sf, "documents")), "value table"
    )


def _idx_delta(spark, sf):
    """Re-crawl delta: every doc_id%9==0 page re-parsed with fresh
    text (old terms vanish, new ones appear) — same expression in the
    oracle's merged corpus."""
    return _t(spark, sf, "documents").filter("doc_id % 9 = 0").select(
        "doc_id",
        F.concat(F.lit("fresh update from "), F.col("source"))
        .alias("text"),
    )


def q_idx_merge_tf(spark, sf):
    """Index upsert after a re-crawl batch (operators/invindex.py::
    upsert_term_freqs): delta docs replace their base rows
    (last-write-wins); one doc-keyed anti-join + union."""
    from barkingowl_spark.operators.invindex import (
        term_freqs,
        upsert_term_freqs,
    )

    base = term_freqs(_t(spark, sf, "documents"))
    return upsert_term_freqs(base, term_freqs(_idx_delta(spark, sf)))


def q_idx_merge_df(spark, sf):
    """Incremental doc-frequency maintenance (invindex.py::
    merge_doc_freqs): df' = df + added - removed, touching only the
    re-crawled docs; the oracle recomputes from scratch on the merged
    corpus, so the hash match IS the incremental==recompute proof."""
    from barkingowl_spark.operators.invindex import (
        merge_doc_freqs,
        term_freqs,
    )

    docs = _t(spark, sf, "documents")
    base_tf = term_freqs(docs)
    base_df = base_tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("doc_freq"))
    return merge_doc_freqs(
        base_df, base_tf, term_freqs(_idx_delta(spark, sf)))


def q_idx_topk_terms(spark, sf):
    """Per-doc salient terms (operators/invindex.py::topk_terms): integer
    tf/df fixed-point score, top-5 per doc, term-ascending tie-break."""
    from barkingowl_spark.operators.invindex import topk_terms

    return topk_terms(_t(spark, sf, "documents"))


def q_text_len_pctl(spark, sf):
    """Per-source exact discrete token-length percentiles
    (functions/textstats.py::length_percentiles) — integer ceil-index
    formulas, bit-portable (no approx sketch, no float interpolation)."""
    from barkingowl_spark.functions.textstats import length_percentiles

    return length_percentiles(_t(spark, sf, "documents"))


def q_pack_chunks(spark, sf):
    """Concat-and-cut sequence packing per shard (operators/shards.py::
    pack_chunks): md5-sharded docs laid end-to-end, cut every 256
    tokens; each doc's span + the chunk indexes it straddles."""
    from barkingowl_spark.operators.shards import assign_shards, pack_chunks

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return pack_chunks(assign_shards(d, 16), 256)


def q_o20_waterfill(spark, sf):
    """Global-budget waterfilling (operators/politeness.py::
    waterfill_budget): max-min-fair per-host caps under one global wave
    budget; synthetic skewed demands = per-source sum(doc_id % 7)."""
    from barkingowl_spark.operators.politeness import waterfill_budget

    q = (
        _t(spark, sf, "documents")
        .groupBy(F.col("source").alias("host"))
        .agg(F.sum(F.col("doc_id") % 7).alias("n_queued"))
    )
    return waterfill_budget(q, budget=1400)


def q_crawl_diff(spark, sf):
    """Re-crawl snapshot diff (operators/snapshots.py): previous pass
    synthesized from documents (every 11th doc absent = added now, every
    7th carries a ' v1' text suffix = changed, every 13th contributes a
    vanished key = removed), fingerprints md5 over coalesce(text,'')."""
    from barkingowl_spark.operators.snapshots import snapshot_diff

    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    txt = F.coalesce(F.col("text"), F.lit(""))
    cur = d.select(i.alias("doc_id"), F.md5(txt).alias("fp"))
    prev_kept = d.filter(i % 11 != 0).select(
        i.alias("doc_id"),
        F.md5(
            F.when(i % 7 == 0, F.concat(txt, F.lit(" v1"))).otherwise(txt)
        ).alias("fp"),
    )
    prev_gone = d.filter(i % 13 == 0).select(
        (i + 1_000_000).alias("doc_id"),
        F.md5(F.concat(F.lit("gone"), i.cast("string"))).alias("fp"),
    )
    return snapshot_diff(
        prev_kept.unionByName(prev_gone), cur, key="doc_id", fp="fp"
    )


def q_dupspan_spans(spark, sf):
    """Exact duplicate-substring spans (operators/dupspans.py — the
    ExactSubstr operator of Lee et al. 2022): 5-token windows occurring
    at >=2 positions corpus-wide, merged into maximal per-doc spans.
    ONE gram-keyed shuffle flags windows; islands merge per doc."""
    from barkingowl_spark.operators.dupspans import duplicate_spans

    d = _t(spark, sf, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    s = duplicate_spans(d, n=5)
    return s.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


def q_dupspan_cut(spark, sf):
    """Duplicate-substring cut (operators/dupspans.py::
    cut_duplicate_spans): every doc with its corpus-duplicated 5-token
    spans removed — the reference implementation's all-copies rule."""
    from barkingowl_spark.operators.dupspans import cut_duplicate_spans

    d = _t(spark, sf, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    return cut_duplicate_spans(d, n=5)


def _recrawl_history(spark, sf):
    """Synthetic 4-pass crawl history: fp changes whenever the integer
    version floor((doc_id%5)*pass/4) steps — doc_id%5==0 never changes,
    %5==4 changes every pass; every 11th doc misses pass 2 (sparse
    observation coverage)."""
    d = _t(spark, sf, "documents")
    return (
        d.select(
            "doc_id",
            F.explode(F.expr("sequence(0, 3)")).alias("pass_idx"),
            F.coalesce("text", F.lit("")).alias("t"),
        )
        .filter(~((F.col("doc_id") % 11 == 0) & (F.col("pass_idx") == 2)))
        .select(
            "doc_id",
            "pass_idx",
            F.md5(
                F.concat(
                    F.col("t"),
                    F.lit("#"),
                    F.expr(
                        "CAST(((doc_id % 5) * pass_idx) DIV 4 AS STRING)"
                    ),
                )
            ).alias("fp"),
            # body size per fetch for the revalidation accounting
            (F.octet_length("t") + F.lit(64)).cast("long").alias("bytes"),
        )
    )


def q_recrawl_rates(spark, sf):
    """Per-page change-rate estimation (operators/snapshots.py::
    change_rates — Cho & Garcia-Molina ratio estimator in ppm) over a
    synthetic 4-pass history; one doc_id-keyed shuffle covers the lag
    window and the rollup."""
    from barkingowl_spark.operators.snapshots import change_rates

    return change_rates(_recrawl_history(spark, sf), key="doc_id")


def q_recrawl_schedule(spark, sf):
    """Recrawl top-k (operators/snapshots.py::recrawl_schedule): the 50
    pages most worth refetching by change_ppm x (staleness+1), compiled
    to TakeOrderedAndProject (never a global sort)."""
    from barkingowl_spark.operators.snapshots import (
        change_rates,
        recrawl_schedule,
    )

    rates = change_rates(_recrawl_history(spark, sf), key="doc_id")
    return recrawl_schedule(rates, budget=50, key="doc_id")


def q_fetch_revalidate(spark, sf):
    """Conditional-GET what-if per fetch (operators/snapshots.py::
    revalidation_audit): 'first'/'not_modified'/'modified' per
    observation of the synthetic 4-pass history — the RFC 9110 §13
    validator simulation."""
    from barkingowl_spark.operators.snapshots import revalidation_audit

    return revalidation_audit(_recrawl_history(spark, sf), key="doc_id")


def q_fetch_reval_savings(spark, sf):
    """Per-host avoidable-transfer rollup (revalidation_savings): how
    many bytes If-None-Match would have saved each source host."""
    from barkingowl_spark.operators.snapshots import (
        revalidation_audit,
        revalidation_savings,
    )

    audit = revalidation_audit(_recrawl_history(spark, sf), key="doc_id")
    docs = _t(spark, sf, "documents").select("doc_id", "source")
    return revalidation_savings(audit.join(docs, "doc_id"), "source")


def q_suffix_ranks(spark, sf):
    """Prefix-doubled suffix ranks (operators/suffixes.py, Manber &
    Myers via 3 doubling rounds = dense rank of each suffix's 8-token
    sentinel-padded prefix): every round is one equi-join + one
    scalable global dense rank (operators/ranking.py — range shuffle +
    partitioned window + bounded driver offsets, never a
    single-partition window). Oracle recomputes the invariant directly
    from padded rank lists."""
    from barkingowl_spark.operators.suffixes import (
        corpus_stream,
        suffix_ranks,
    )

    return suffix_ranks(corpus_stream(_t(spark, sf, "documents")), 3)


def q_suffix_dup8(spark, sf):
    """Repeated-phrase mining from the suffix ranks: 8-token prefixes
    occurring at more than one corpus position (rank, n_positions) —
    the every-length generalization dupspans fixes n for."""
    from barkingowl_spark.operators.suffixes import (
        corpus_stream,
        suffix_ranks,
    )

    r = suffix_ranks(corpus_stream(_t(spark, sf, "documents")), 3)
    return (
        r.groupBy("rank")
        .agg(F.count(F.lit(1)).cast("long").alias("n_positions"))
        .filter(F.col("n_positions") > 1)
    )


def q_suffix_lcp8(spark, sf):
    """Capped LCP array (operators/suffixes.py::lcp_capped, Flick &
    Aluru SC'15 binary descent over the doubling rank tables): lcp of
    each suffix vs its predecessor in the 8-token-prefix order, capped
    at 7; sa_pos from the scalable global dense rank."""
    from barkingowl_spark.operators.suffixes import (
        corpus_stream,
        lcp_capped,
    )

    return lcp_capped(corpus_stream(_t(spark, sf, "documents")), 3)


def q_events_asof(spark, sf):
    """As-of join (operators/temporal.py::asof_join — the kdb aj /
    merge_asof shape as ONE key-partitioned window, no range join):
    each event matched to the latest purchase at or before it by the
    same user, ties to the larger event_id."""
    from barkingowl_spark.operators.temporal import asof_join

    e = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    pur = (
        _t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
    )
    return asof_join(e, pur, key="user_id", ts="ts",
                     right_cols=["event_id"], tie="event_id")


def q_events_burstiness(spark, sf):
    """Per-user inter-arrival burstiness (operators/temporal.py::
    burstiness, Goh & Barabási 2008): B = (sigma-mu)/(sigma+mu) of
    the gap distribution in exact integer milli via the shared
    +/-1-corrected isqrt — clockwork users read -1000, bursty ones
    positive; the revisit-scheduler's regularity signal."""
    from barkingowl_spark.operators.temporal import burstiness

    return burstiness(_t(spark, sf, "events"))


def q_events_periodicity(spark, sf):
    """Per-user event-rate autocorrelation at fixed hour-bucket lags
    (operators/temporal.py::periodicity): r(lag) in sign-split floored
    milli over the densified per-bucket count series — the CYCLE face
    of the revisit-scheduler signal pair (burstiness reads gap shape;
    a high r at lag 24 on hour buckets means a daily rhythm worth
    phase-aligning revisits to)."""
    from barkingowl_spark.operators.temporal import periodicity

    return periodicity(_t(spark, sf, "events"), lags=(1, 2, 3, 6, 12, 24))


def q_events_anomaly(spark, sf):
    """Hampel/MAD anomalous hours per user (operators/temporal.py::
    mad_anomalies, Davies & Gather 1993): buckets of the densified
    per-hour count series where 1000*|x - low-median| > 4450 * MAD —
    the robust telemetry gate whose threshold one spike cannot drag
    the way it drags mean/stddev; MAD == 0 degenerates to
    any-deviation-flags (a dead-flat host suddenly bursting IS the
    signal)."""
    from barkingowl_spark.operators.temporal import mad_anomalies

    return mad_anomalies(_t(spark, sf, "events"))


def q_events_ewma(spark, sf):
    """EWMA rate baseline + doubling alerts (operators/temporal.py::
    ewma_baseline): alpha=1/2 truncated-horizon exponentially
    weighted mean of the densified per-hour count series per
    event_type — the adaptive level mad/cusum lack; integer
    power-of-two weights with ONE floor division (no per-step
    flooring), frame-ordered window array + JVM power sum, dev/spike
    read against the previous bucket's baseline."""
    from barkingowl_spark.operators.temporal import ewma_baseline

    return ewma_baseline(
        _t(spark, sf, "events"), key_col="event_type")


def q_events_cusum(spark, sf):
    """Page's one-sided upper CUSUM change-point alarms per user
    (operators/temporal.py::cusum_alarms, Page 1954): buckets of the
    densified per-hour count series where the running
    max(0, S + x - med - k) statistic exceeds h — the sequential
    detector for sustained rate SHIFTS that per-bucket gates
    (events_anomaly) never accumulate; closed-form as prefix-sum
    minus running-min, two stacked windows, no recursion. Keyed by
    event_type (hourly per-type counts run med≈3 on this table, so
    the allowance k=1 / decision interval h=6 pair detects sustained
    +2/hour shifts; per-user series are too sparse for CUSUM —
    med=0 makes every count a no-op or an instant alarm)."""
    from barkingowl_spark.operators.temporal import cusum_alarms

    return cusum_alarms(_t(spark, sf, "events"), key_col="event_type")


def q_emb_pca_power(spark, sf):
    """Dominant principal direction of the embedding corpus by integer
    power iteration (operators/similarity.py::pca_power): 3 snapshots
    of C u = V^T (V u) computed in one fused projection+posexplode
    pass + 64-key rollup per iteration, renormalized to milli on the
    driver (d longs of coordinator state) — the spectral-methods
    analogue of graph_pagerank's fixed-point loop, over vectors
    instead of edges."""
    from barkingowl_spark.operators.similarity import pca_power

    return pca_power(_t(spark, sf, "embeddings"), iters=3)


def q_emb_kcenter(spark, sf):
    """Greedy farthest-point k-center coreset (operators/similarity.py
    ::kcenter_select): 4 maximally-spread exemplars from the embedding
    corpus plus the squared coverage-radius curve — the
    diversity-selection primitive for training-data curation. Each
    step is one map-only integer-distance pass against the <=k chosen
    centers (broadcast literals) ending in a TakeOrdered(1); exact
    milli-grid L2, ties -> lowest vec_id, so DuckDB reproduces it
    bit-for-bit."""
    from barkingowl_spark.operators.similarity import kcenter_select

    return kcenter_select(_t(spark, sf, "embeddings"), k=4)


def q_emb_sgns_round(spark, sf):
    """SGNS/word2vec embedding training in integer fixed point
    (operators/sgns.py, r5 flagship relational-training op): one
    synchronous batch round over the DeepWalk corpus of the synthetic
    graph — md5-seeded init, window-1 skip-gram pairs, 2 md5-drawn
    negatives per pair, hard-sigmoid gradient at scale 4096 with
    explicit floor divisions. The oracle replays the ENTIRE
    trajectory (walks -> pairs -> negatives -> init -> round) in SQL,
    so one wrong dot product, sigmoid clamp, floor division or
    multiplicity anywhere in training value-hash-mismatches."""
    from barkingowl_spark.operators.sgns import sgns_train

    edges, _ = _synth_edges(spark, sf)
    return sgns_train(edges, dim=4, rounds=1)


def q_html_outline(spark, sf):
    """Document outline extraction (operators/multimodal.py::
    html_outline): <title> + h1/h2 headings in document order, tags
    stripped, whitespace collapsed — the BM25F field source and the
    heading-boundary signal for context packing. RE2-safe patterns
    (per-level literals — RE2 has no backrefs) shared with the
    oracle; map-only."""
    from barkingowl_spark.operators.multimodal import html_outline

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<title>Doc "), sid, F.lit(" <i>of</i> "),
        F.col("source"), F.lit("</title><h1>Sec "), sid,
        F.lit("</h1>"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("<h2>Sub "), sid,
                        F.lit("</h2><h2>  </h2>")))
        .otherwise(F.lit("")))
    pages = d.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit(".test/p"),
                 sid).alias("url"),
        html.alias("html"))
    return html_outline(pages)


def q_mm_captions(spark, sf):
    """Image-caption pair mining (operators/multimodal.py::
    img_caption_pairs): (src, alt) from every <img> tag in document
    order — the raw material of CLIP-style multimodal corpora, with
    has_alt as the caption-coverage denominator. RE2-safe inline-(?i)
    regexps shared verbatim with the oracle; both quote styles
    exercised; map-only."""
    from barkingowl_spark.operators.multimodal import img_caption_pairs

    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    m4 = F.col("doc_id") % 4
    html = (
        F.when(m4 == 0, F.concat(
            F.lit('<p>t</p><img src="http://'), F.col("source"),
            F.lit(".test/i"), sid, F.lit('.png" alt="cap '), sid,
            F.lit('">')))
        .when(m4 == 1, F.concat(
            F.lit("<IMG\tsrc='/rel"), sid, F.lit(".jpg'>")))
        .when(m4 == 2, F.concat(
            F.lit('<img alt="orphan"><img src="x'), sid,
            F.lit('.gif" alt="">')))
        .otherwise(F.concat(F.lit("no images "), sid))
    )
    pages = d.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit(".test/p"),
                 sid).alias("url"),
        html.alias("html"))
    return img_caption_pairs(pages)


def q_events_affinity(spark, sf):
    """Session-basket affinity (operators/cohorts.py::
    session_affinity): event-type pairs co-occurring in the same
    30-min-gap session far beyond what their session frequencies
    predict — collocations' no-log integer lift on the session axis;
    the order-free companion to events_markov. Pair join bounded
    within (user, session)."""
    from barkingowl_spark.operators.cohorts import session_affinity

    return session_affinity(_t(spark, sf, "events"), min_count=3)


def q_events_markov(spark, sf):
    """First-order event-type Markov transitions (operators/cohorts.py
    ::transition_matrix): per-user (ts, event_id)-ordered sequences,
    row-normalized ppm probabilities, modal next action at rk=1 — the
    behavioral model behind funnel design. One key window + one pair
    count + broadcast row totals."""
    from barkingowl_spark.operators.cohorts import transition_matrix

    return transition_matrix(
        _t(spark, sf, "events"), tie_col="event_id")


def q_events_srm(spark, sf):
    """Sample-ratio-mismatch check per event_type (operators/
    cohorts.py::srm_check, Fabijan et al. KDD'19): units hash-split
    50/50 by the portable md5-bit draw; the chi-square against E=n/2
    collapses to the exact integer (arm0-arm1)^2/n in milli, flagged
    against the 0.05 critical value. One projection + one groupBy."""
    from barkingowl_spark.operators.cohorts import srm_check

    return srm_check(_t(spark, sf, "events"))


def q_events_persistence(spark, sf):
    """Persistence vs frequency per user (operators/temporal.py::
    persistence): window-presence ratio across the corpus's live
    hourly span — the bot separator frequency alone misses (organic
    = bursty, automation = metronomic); burst_ratio is the
    per-key concentration dial. One (key, t) rollup + per-key agg +
    1-row broadcast span."""
    from barkingowl_spark.operators.temporal import persistence

    return persistence(_t(spark, sf, "events"))


def q_events_forecast_skill(spark, sf):
    """Seasonal-naive vs naive-1 forecast skill (operators/temporal.py
    ::forecast_skill, MASE after Hyndman & Koehler 2006) per
    event_type on hourly buckets, season 24 — the DECISION face of
    events_periodicity's lag-24 autocorrelation: mase_milli < 1000
    says season-aware thresholds/revisit phases will beat the plain
    rate model for this key. Shared densify, both lags on one window
    sort, one floor."""
    from barkingowl_spark.operators.temporal import forecast_skill

    return forecast_skill(
        _t(spark, sf, "events"), key_col="event_type", season=24)


def q_events_funnel(spark, sf):
    """Per-user ordered funnel first-touch times (operators/cohorts.py
    ::funnel_times): view -> click -> purchase, each stage at-or-after
    the previous and inside a 7-day horizon anchored at the first
    view — stage-wise min-agg (K-1 equi-joins on user_id), never a
    per-user sequence window."""
    from barkingowl_spark.operators.cohorts import funnel_times

    return funnel_times(_t(spark, sf, "events"))


def q_events_funnel_report(spark, sf):
    """Funnel step-conversion rollup (operators/cohorts.py::
    funnel_report): users reaching each stage + integer-ppm conversion
    vs the previous stage, unpivoted one-row agg."""
    from barkingowl_spark.operators.cohorts import funnel_report

    return funnel_report(_t(spark, sf, "events"))


def q_events_actives(spark, sf):
    """Rolling active users (operators/cohorts.py::active_users):
    DAU + trailing 7/28-day WAU/MAU + DAU/MAU stickiness per day —
    the engagement dashboard next to retention; exact distincts via
    one (user, day) rollup range-joined against a broadcast
    span-capped day grid."""
    from barkingowl_spark.operators.cohorts import active_users

    return active_users(_t(spark, sf, "events"))


def q_events_retention(spark, sf):
    """Daily cohort retention triangle (operators/cohorts.py::
    retention_matrix): users cohorted by first-event day, counted at
    each day offset they were active — two rollups on derived keys."""
    from barkingowl_spark.operators.cohorts import retention_matrix

    return retention_matrix(_t(spark, sf, "events"), bucket_s=86400)


def q_events_change_audit(spark, sf):
    """Horizon-bounded pair audit (streaming/joins.py::
    pairs_within_horizon — the BATCH face of the watermarked
    stream-stream interval join, same definition both ways): purchases
    within 5 minutes AFTER a click by the same user. The time-range
    condition is what bounds streaming state; here it is the exact
    non-equi filter over the user-keyed equi-join."""
    from barkingowl_spark.streaming.joins import pairs_within_horizon

    ev = _t(spark, sf, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
    fetches = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts")
    changes = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "ts")
    return pairs_within_horizon(
        fetches, changes, key="user_id", horizon="5 minutes")


def q_events_change_sla(spark, sf):
    """SLA-breach face of the watermarked stream-stream join
    (streaming/joins.py::pairs_within_horizon how='leftOuter', the
    BATCH face — in streaming the NULL-extended row emits exactly when
    the watermark proves no match can still arrive): clicks with NO
    purchase by the same user within 5 minutes."""
    from barkingowl_spark.streaming.joins import pairs_within_horizon

    ev = _t(spark, sf, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
    fetches = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts")
    changes = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "ts")
    return (
        pairs_within_horizon(
            fetches, changes, key="user_id", horizon="5 minutes",
            how="leftOuter")
        .filter(F.col("fetch_ts").isNull())
        .select("user_id", "change_ts")
    )


def q_events_interval(spark, sf):
    """Bucketed range join (operators/temporal.py::interval_join):
    events inside synthetic 2-day-per-week maintenance windows per
    user — (user_id, bucket) equi-join candidates, exact containment
    filter, 1-day buckets; never a per-key cartesian."""
    from barkingowl_spark.operators.temporal import interval_join

    day_us = 86_400_000_000
    epoch0 = 1_704_067_200_000_000  # 2024-01-01 UTC in micros
    pts = _t(spark, sf, "events").select(
        "event_id", "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("t"))
    ivs = (
        _t(spark, sf, "events").select("user_id").distinct()
        .select("user_id",
                F.explode(F.expr("sequence(0, 3)")).alias("k"))
        .select(
            "user_id",
            (F.col("user_id") * 10 + F.col("k")).alias("iid"),
            (F.lit(epoch0) + F.col("k") * 7 * day_us).alias("lo"),
            (F.lit(epoch0) + F.col("k") * 7 * day_us
             + 2 * day_us).alias("hi"),
        )
    )
    return interval_join(pts, ivs, key="user_id", t="t",
                         lo="lo", hi="hi", bucket_width=day_us)


def q_hdr_len_quantiles(spark, sf):
    """Mergeable HDR-histogram percentiles (functions/hdrhist.py):
    per-host p50/p90/p99 of document byte length from the log-bucket
    sketch — <=2^-5 relative error, no global sort (the scale
    alternative to textstats.length_percentiles)."""
    from barkingowl_spark.functions.hdrhist import (
        hdr_quantiles,
        hdr_sketch,
    )

    v = _t(spark, sf, "documents").select(
        "source",
        F.octet_length(F.coalesce("text", F.lit(""))).cast("long")
        .alias("blen"),
    )
    return hdr_quantiles(hdr_sketch(v, "blen", "source"),
                         [50, 90, 99])


def q_url_path_tree(spark, sf):
    """Site-structure map (operators/urltree.py::path_tree): captured-
    URL counts per (host, depth, path prefix) over synthetic 3-level
    paths — the generated-URL-space / subtree-budget signal."""
    from barkingowl_spark.operators.urltree import path_tree

    urls = _t(spark, sf, "documents").select(
        F.concat(
            F.lit("http://"), "source", F.lit(".test/a"),
            (F.col("doc_id") % 3).cast("string"), F.lit("/b"),
            (F.col("doc_id") % 7).cast("string"), F.lit("/p"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return path_tree(urls)


def q_meta_robots(spark, sf):
    """Page-level robots directives (functions/metarobots.py): the
    REP indexing half — first-tag-wins, case-insensitive, trimmed,
    'none' alias. Html synthesized per doc_id%5 (uppercase / padded /
    alias / absent variants); the oracle re-derives the INTENT of the
    synthesis rule (an independent path for the same spec — the
    generic parser itself is pinned by tests/test_metarobots.py)."""
    from barkingowl_spark.functions.metarobots import robots_directives

    tag = (
        "CASE doc_id % 5"
        " WHEN 1 THEN '<META NAME=\"ROBOTS\" CONTENT=\"NOINDEX\">'"
        " WHEN 2 THEN '<meta name=\"robots\" content=\" nofollow \">'"
        " WHEN 3 THEN '<meta name=\"robots\" content=\"none\">'"
        " WHEN 4 THEN ''"
        " ELSE '<meta name=\"robots\" content=\"index, follow\">'"
        " END"
    )
    pages = _t(spark, sf, "documents").select(
        "doc_id",
        F.expr(
            f"concat('<html><head>', {tag}, '</head><body>',"
            f" coalesce(text, ''), '</body></html>')"
        ).alias("html"),
    )
    return robots_directives(pages)


def _synth_feeds(spark, sf):
    """One RSS body per source host: <item> blocks in doc_id order
    (pubDate only on even ids — exercises the NULL path; padded
    whitespace inside <link> exercises trimming)."""
    d = _t(spark, sf, "documents")
    sid = F.col("doc_id").cast("string")
    frag = F.concat(
        F.lit("<item><link> http://"), F.col("source"),
        F.lit(".test/p"), sid, F.lit(" </link><title>Doc "), sid,
        F.lit("</title>"),
        F.coalesce(
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit("<pubDate>D"), sid,
                            F.lit("</pubDate>"))),
            F.lit("")),
        F.lit("</item>"),
    )
    return (
        d.select("source",
                 F.struct("doc_id", frag.alias("frag")).alias("sf"))
        .groupBy("source")
        .agg(F.array_sort(F.collect_list("sf")).alias("s"))
        .select(
            F.concat(F.lit("http://"), "source",
                     F.lit(".test/feed.xml")).alias("url"),
            F.concat(
                F.lit("<rss><channel>"),
                F.array_join(F.transform("s", lambda x: x["frag"]), ""),
                F.lit("</channel></rss>"),
            ).alias("body"),
        )
    )


def q_feed_parse(spark, sf):
    """RSS item parsing (operators/feeds.py::feed_items) over the
    synthesized per-host feeds; oracle re-derives the synthesis
    intent (item_idx = doc_id rank within host)."""
    from barkingowl_spark.operators.feeds import feed_items

    return feed_items(_synth_feeds(spark, sf))


def q_feed_discover(spark, sf):
    """Feed discovery (operators/feeds.py::feed_discover): pages of
    doc_id%4==0 advertise their host feed via the alternate-link
    tag."""
    from barkingowl_spark.operators.feeds import feed_discover

    d = _t(spark, sf, "documents")
    pages = d.select(
        F.concat(F.lit("http://"), "source", F.lit(".test/p"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.expr(
            "concat('<html><head>',"
            " CASE WHEN doc_id % 4 = 0 THEN"
            " concat('<link rel=\"alternate\""
            " type=\"application/rss+xml\" href=\"http://',"
            " source, '.test/feed.xml\">') ELSE '' END,"
            " '</head><body>', coalesce(text, ''), '</body></html>')"
        ).alias("html"),
    )
    return feed_discover(pages)


def _synth_hreflang_pages(spark, sf):
    d = _t(spark, sf, "documents")
    base = ("'http://' || source || '.test/p' ||"
            " CAST(doc_id AS STRING)")
    return d.select(
        F.expr(base).alias("url"),
        F.expr(
            f"concat('<html><head>', CASE WHEN doc_id % 3 = 0 THEN"
            f" concat('<link rel=\"alternate\" hreflang=\"de\""
            f" href=\"', {base}, '-de\">',"
            f" '<link rel=\"alternate\" hreflang=\"fr\""
            f" href=\"', {base}, '-fr\">')"
            f" ELSE '' END, '</head>')"
        ).alias("html"),
    )


def q_hreflang_parse(spark, sf):
    """hreflang alternate-link extraction (operators/feeds.py::
    hreflang_links): every doc_id%3==0 page declares de/fr variants."""
    from barkingowl_spark.operators.feeds import hreflang_links

    return hreflang_links(_synth_hreflang_pages(spark, sf))


def q_hreflang_clusters(spark, sf):
    """Language-variant clusters (feeds.py::hreflang_clusters):
    connected components over the declaration edges, min-URL labels
    (reuses operators/components.py pointer jumping)."""
    from barkingowl_spark.operators.feeds import (
        hreflang_clusters,
        hreflang_links,
    )

    return hreflang_clusters(
        hreflang_links(_synth_hreflang_pages(spark, sf)))


def q_host_budget_select(spark, sf):
    """Greedy crawl-budget allocation (operators/ranking.py::
    budget_select, Dantzig knapsack prefix): hosts by bytes-per-fetch
    density until a 300-fetch budget is spent — cum cost via the
    scalable global running sum (no single-partition sort)."""
    from barkingowl_spark.operators.ranking import budget_select

    items = _t(spark, sf, "documents").groupBy("source").agg(
        F.sum(F.octet_length(F.coalesce("text", F.lit(""))))
        .cast("long").alias("value"),
        F.count(F.lit(1)).cast("long").alias("cost"),
    )
    return budget_select(items, "source", "value", "cost", budget=300)


def q_search_snippet(spark, sf):
    """Snippet selection on the positional index (operators/
    invindex.py::best_snippet): densest 8-token window of
    'value'/'table'/'data' hits per doc, ties earliest — one
    RANGE-frame window + the packed argmax; text never rescanned."""
    from barkingowl_spark.operators.invindex import (
        best_snippet,
        positional_postings,
    )

    return best_snippet(
        positional_postings(_t(spark, sf, "documents")),
        ["value", "table", "data"], window=8)


def q_text_collocations(spark, sf):
    """Top-50 collocations by integer lift = exp(PMI) in ppm
    (functions/lmscore.py::collocations, Church & Hanks 1990),
    min_count 3 — TakeOrderedAndProject cut, DECIMAL-exact ranking."""
    from barkingowl_spark.functions.lmscore import collocations

    return collocations(_t(spark, sf, "documents"), min_count=3, k=50)


def q_search_grep(spark, sf):
    """Code-Search trigram index (operators/invindex.py::
    trigram_postings/trigram_candidates, Cox 2012): literal-substring
    query 'table scan' planned as its 8 rarest trigrams, candidates =
    docs hitting ALL of them, exact contains() verified on candidates
    only — grep over the corpus without scanning it; the
    candidates-vs-verified gap is the index's pruning number."""
    from barkingowl_spark.operators.invindex import (
        trigram_candidates, trigram_postings)

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return trigram_candidates(
        trigram_postings(d), d, "table scan", max_tris=8)


def q_text_vocab_coverage(spark, sf):
    """Vocabulary coverage curve (functions/textstats.py::
    vocab_coverage): cumulative token mass of the top-k types at a
    power-of-two k grid — the vocab-sizing dial next to
    text_vocab_growth (Heaps) and text_zipf (slope). Both the
    cumulative and the rank ride the range-shuffle running-sum
    primitive over distinct types."""
    from barkingowl_spark.functions.textstats import vocab_coverage

    return vocab_coverage(_t(spark, sf, "documents"))


def q_text_keyness(spark, sf):
    """Per-source distinctive terms (functions/textstats.py::
    source_keyness): smoothed relative-risk lift in ppm — monotone in
    pointwise MI without a log, the collocations trick applied to the
    source axis. One tokenize pass, corpus-minus-in for the
    complement counts, broadcast source totals, WindowGroupLimit
    k-cut."""
    from barkingowl_spark.functions.textstats import source_keyness

    return source_keyness(_t(spark, sf, "documents"), k=10,
                          min_count=3)


def q_text_textrank(spark, sf):
    """TextRank keywords (operators/textrank.py::textrank_keywords,
    Mihalcea & Tarau EMNLP 2004): every document's word co-occurrence
    graph ranked SIMULTANEOUSLY — node key (doc_id, word), 2 weighted
    fixed-point PageRank rounds as global equi-join + agg passes, k=5
    WindowGroupLimit cut. The query-independent salience signal next
    to idx_topk_terms' tf/df one."""
    from barkingowl_spark.operators.textrank import textrank_keywords

    return textrank_keywords(_t(spark, sf, "documents"), n_iter=2, k=5)


def q_events_cms_windows(spark, sf):
    """Per-window Count-Min sketch cells (streaming/heavyhitters.py
    batch body — the identical expression the watermarked sketch
    stream runs): event-type keys, 1-hour tumbling windows, one
    (window, row, col)-keyed map-side-combined shuffle; state/output
    bounded by depth*width regardless of key cardinality."""
    from barkingowl_spark.streaming.heavyhitters import windowed_cms

    ev = _t(spark, sf, "events").select(
        F.col("event_type").alias("key"), "ts")
    return windowed_cms(
        ev, window="1 hour", depth=4, width=64
    ).select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "row", "col", "cnt",
    )


def q_cdc_chunks(spark, sf):
    """Content-defined chunking (operators/cdc.py, Manber'94 / LBFS
    anchors): ~8-token chunks cut where the 4-token window hash hits
    the mask — entirely map-side; the oracle re-chunks with identical
    list math."""
    from barkingowl_spark.operators.cdc import cdc_chunks

    return cdc_chunks(_t(spark, sf, "documents"), w=4, mask_bits=3)


def q_cdc_dedup(spark, sf):
    """Chunk-store dedup accounting (cdc.py::cdc_dedup_stats): what a
    content-addressed store saves on the corpus, in ppm."""
    from barkingowl_spark.operators.cdc import (
        cdc_chunks,
        cdc_dedup_stats,
    )

    return cdc_dedup_stats(
        cdc_chunks(_t(spark, sf, "documents"), w=4, mask_bits=3))


def q_events_zorder(spark, sf):
    """Morton layout keys (functions/zorder.py, Delta OPTIMIZE
    ZORDER's technique): 16-bit (user, time) interleave per event —
    range-writing on zkey gives per-file min/max pruning on BOTH
    dimensions."""
    from barkingowl_spark.functions.zorder import with_zkey

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.expr("user_id % 65536").alias("ub"),
        F.expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 1000000"
               " % 65536 AS BIGINT)").alias("tb"),
    )
    return with_zkey(ev, ["ub", "tb"], bits=16).select(
        "event_id", "zkey")


def q_events_hilbert(spark, sf):
    """Hilbert layout keys (functions/zorder.py::hilbert_expr): the
    same 16-bit (user, time) box as events_zorder but walked by the
    Hilbert curve — consecutive keys are always grid-adjacent, so
    range-written files cover tighter boxes than Morton's quadrant
    jumps. Loop-carried (x,y,d) state folds in one Catalyst
    aggregate(); the oracle replays it as a recursive CTE."""
    from barkingowl_spark.functions.zorder import with_hilbert_key

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.expr("user_id % 65536").alias("ub"),
        F.expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 1000000"
               " % 65536 AS BIGINT)").alias("tb"),
    )
    return with_hilbert_key(ev, "ub", "tb", bits=16).select(
        "event_id", "hkey")


def q_events_layout_audit(spark, sf):
    """File-skipping layout audit (functions/zorder.py::
    layout_skip_audit): the SAME events laid out time-linear vs
    Morton vs Hilbert, zone-mapped into 1024-row files, pruned by an
    (user, time) box exactly as a parquet reader prunes row groups —
    the measured evidence behind the zorder/hilbert key queries, per
    layout one scalable global rank (no single-partition window)."""
    from barkingowl_spark.functions.zorder import (
        hilbert_expr, layout_skip_audit, zvalue_expr)

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.expr("user_id % 65536").alias("ub"),
        F.expr("CAST(unix_micros(CAST(ts AS TIMESTAMP)) div 1000000"
               " % 65536 AS BIGINT)").alias("tb"),
    )
    ev = ev.withColumn("zkey", F.expr(zvalue_expr(["ub", "tb"], 16)))
    ev = ev.withColumn("hkey", F.expr(hilbert_expr("ub", "tb", 16)))
    return layout_skip_audit(
        ev, {"linear_ts": "tb", "zorder": "zkey", "hilbert": "hkey"},
        "event_id", "ub", "tb", (0, 8191, 0, 8191),
        rows_per_file=1024)


def q_mix_epoch_plan(spark, sf):
    """Token-budget epoch planning (operators/mix.py::epoch_plan):
    per-source token counts, md5-derived target weights, 20k-token
    budget under a 3-epoch repetition cap — capped domains' shortfall
    redistributed once to domains with headroom; DECIMAL(38,0) * DIV
    math, bit-identical to DuckDB HUGEINT."""
    from barkingowl_spark.operators.mix import epoch_plan

    d = _t(spark, sf, "documents")
    toks = "filter(split(translate(text, '\\n', ' '), ' '), x -> x <> '')"
    counts = d.groupBy(F.col("source").alias("domain")).agg(
        F.sum(F.expr(f"size({toks})")).cast("long").alias("tokens")
    )
    weights = counts.select(
        "domain",
        (
            F.conv(
                F.substring(F.md5(F.col("domain").cast("binary")), 1, 15),
                16, 10,
            ).cast("long") % 400_000 + 100_000
        ).alias("weight_ppm"),
    )
    return epoch_plan(
        counts, weights, budget_tokens=20_000, max_epochs_ppm=3_000_000
    )


def q_dedup_keep_best(spark, sf):
    """Keep-best canonical selection over transitive near-dup clusters
    (operators/components.py::cluster_representatives): same LSH->verify
    ->connected-components chain as dedup_components, keeper = highest
    distinct-token count (ties: lowest doc_id) via a map-side-combined
    groupBy argmax — never a whole-cluster sort."""
    from barkingowl_spark.operators.components import (
        cluster_representatives,
        connected_components,
    )
    from barkingowl_spark.operators.corpus_dedup import (
        verified_near_dup_pairs,
    )

    d = _t(spark, sf, "documents")
    comp = connected_components(
        verified_near_dup_pairs(d, 600_000)
    ).withColumnRenamed("id", "doc_id")
    qual = d.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).cast("long")
        .alias("quality"),
    )
    return cluster_representatives(comp, qual, quality_col="quality")


def q_cdx_index(spark, sf):
    """SURT-keyed CDX capture index (operators/cdx.py): synthetic
    two-pass capture log over documents (urls rebuilt from source +
    doc_id, digest steps for doc_id%5==4 on pass 1), revisit = same
    (surt, digest) seen at an earlier (ts, url)."""
    from barkingowl_spark.operators.cdx import cdx_index

    d = _t(spark, sf, "documents")
    cap = d.select(
        F.explode(F.expr("sequence(0, 1)")).alias("p"),
        "doc_id",
        F.coalesce("text", F.lit("")).alias("t"),
        "source",
    ).select(
        F.concat(
            F.lit("http://"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("www."))
            .otherwise(F.lit("")),
            F.col("source"),
            F.lit(".test/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("?a=1"))
            .otherwise(F.lit("")),
        ).alias("url"),
        (F.lit(20260801000000) + F.col("p") + F.col("doc_id") * 10)
        .cast("long").alias("ts"),
        F.md5(
            F.concat(
                F.col("t"),
                F.lit("#"),
                F.expr("CAST(((doc_id % 5) * p) DIV 4 AS STRING)"),
            )
        ).alias("digest"),
    )
    return cdx_index(cap)


def q_politeness_timeline(spark, sf):
    """Per-host fetch calendar (operators/politeness.py::
    fetch_timeline): slot k fetches at wave_start + (k-1)*delay; delays
    are an md5-derived per-host dim with ~1/3 of hosts absent
    (default-delay path); one host-keyed window shuffle, broadcast dim."""
    from barkingowl_spark.operators.politeness import fetch_timeline

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("url_id"),
        F.col("source").alias("host"),
        F.col("doc_id").alias("discovery_idx"),
    )
    h = F.conv(
        F.substring(F.md5(F.col("host").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    delays = (
        d.select("host").distinct()
        .select("host", h.alias("_h"))
        .filter(F.col("_h") % 3 != 0)
        .select("host", (F.lit(200) + F.col("_h") % 2000)
                .cast("long").alias("delay_ms"))
    )
    return fetch_timeline(
        d, delays, id_col="url_id", wave_start_ms=1000
    )


def q_graph_ppr(spark, sf):
    """Multi-source personalized PageRank (operators/linkgraph.py::
    ppr_fixed): one SPARSE rank vector per node%17==0 seed, all seeds
    batched through one shuffle-join recurrence per round — the
    focused-crawl seed-attribution primitive (which seed's
    neighborhood is this page in, and how strongly)."""
    from barkingowl_spark.operators.linkgraph import ppr_fixed

    edges, _ = _synth_edges(spark, sf)
    seeds = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node") % 17 == 0)
    )
    return ppr_fixed(edges, seeds, n_iter=3)


def _graph_nodes(edges):
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def q_graph_landmark_bfs(spark, sf):
    """Bounded multi-source BFS (operators/linkgraph.py::bounded_bfs):
    exact <=3-hop distances from the node%23==0 landmarks, sparse
    (seed, node) rows, one min-relax shuffle round per hop with
    iter_checkpoint lineage+stats truncation."""
    from barkingowl_spark.operators.linkgraph import bounded_bfs

    edges, _ = _synth_edges(spark, sf)
    lm = _graph_nodes(edges).filter(F.col("node") % 23 == 0)
    return bounded_bfs(edges, lm, max_depth=3)


def q_graph_dist_est(spark, sf):
    """Landmark distance-oracle estimates (operators/linkgraph.py::
    landmark_estimates, Potamias et al. CIKM'09): est(a,b) =
    min_L d(a->L) + d(L->b) from the forward + reversed BFS sketches —
    triangle-inequality upper bounds, equi-joined on the landmark key,
    never the |V|^2 matrix."""
    from barkingowl_spark.operators.linkgraph import (
        bounded_bfs, landmark_estimates)

    edges, _ = _synth_edges(spark, sf)
    nodes = _graph_nodes(edges)
    lm = nodes.filter(F.col("node") % 23 == 0)
    rev = edges.select(F.col("dst").alias("src"),
                       F.col("src").alias("dst"))
    return landmark_estimates(
        bounded_bfs(edges, lm, max_depth=3),
        bounded_bfs(rev, lm, max_depth=3),
        nodes.filter(F.col("node") % 53 == 0),
        nodes.filter(F.col("node") % 59 == 0),
    )


def q_fetch_backoff(spark, sf):
    """Exponential-backoff retry plan (operators/dispatch.py::
    backoff_schedule): trailing failure streak per host computed
    relationally (one host window, two expressions on one Exchange),
    next attempt at last_ts + base * 2^min(streak, cap) via bit shift
    — the flapping-host scheduler policy. Outcome log synthesized by
    doc_id residue."""
    from barkingowl_spark.operators.dispatch import backoff_schedule

    att = _t(spark, sf, "documents").select(
        F.col("source").alias("host"),
        ((F.col("doc_id") * 61) % 40000).cast("long").alias("ts_ms"),
        (F.col("doc_id") % 4 != 0).alias("ok"),
    )
    return backoff_schedule(att, base_ms=1000, cap=5)


def q_depth_quality_corr(spark, sf):
    """Does quality decay with crawl depth? (operators/ranking.py::
    metric_correlation — the generic 1-row exact integer Pearson,
    degree_assortativity's math freed from the graph): x = synthesized
    URL path depth, y = the REAL gopher quality score's word count.
    The number that justifies a depth budget; one 1-row power-sum
    agg, exact isqrt, sign-split floor."""
    from barkingowl_spark.operators.ranking import metric_correlation

    d = _t(spark, sf, "documents").select(
        (F.col("doc_id") % 7).cast("long").alias("depth"),
        F.size(F.filter(
            F.split(F.coalesce("text", F.lit("")), " "),
            lambda x: x != "")).cast("long").alias("n_words"),
    )
    return metric_correlation(d, "depth", "n_words")


def q_url_dates(spark, sf):
    """Publication dates from slash-delimited URL paths (operators/
    urltree.py::url_dates) — the cheapest freshness prior (a dated
    URL's change rate collapses once its date passes). RE2-safe
    regex shared verbatim with the oracle; out-of-range dates flagged
    valid=false, never dropped. Map-only."""
    from barkingowl_spark.operators.urltree import url_dates

    d = _t(spark, sf, "documents")
    m5 = F.col("doc_id") % 5
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".test"),
        F.when(m5 == 0, F.concat(
            F.lit("/"), (2000 + F.col("doc_id") % 30).cast("string"),
            F.lit("/"), (F.col("doc_id") % 15).cast("string"),
            F.lit("/"), (F.col("doc_id") % 35).cast("string"),
            F.lit("/x")))
        .when(m5 == 1, F.concat(
            F.lit("/blog/p"), F.col("doc_id").cast("string")))
        .otherwise(F.concat(
            F.lit("/d/"), F.col("doc_id").cast("string"))))
    return url_dates(d.select(url.alias("url")))


def q_url_pagination(spark, sf):
    """Pagination-chain mining (operators/urltree.py::
    pagination_chains): ?page=N and /page/N/ urls collapsed to their
    chain base with distinct-page span stats and a contiguity flag —
    the budget unit a frontier walks head-first (gappy monster chains
    are trap signals). One base-keyed map-side-combined agg."""
    from barkingowl_spark.operators.urltree import pagination_chains

    d = _t(spark, sf, "documents")
    m3 = F.col("doc_id") % 3
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".test"),
        F.when(m3 == 0, F.concat(
            F.lit("/list"), (F.col("doc_id") % 4).cast("string"),
            F.lit("?page="), (F.col("doc_id") % 7).cast("string")))
        .when(m3 == 1, F.concat(
            F.lit("/arch/page/"),
            (F.col("doc_id") % 5).cast("string"), F.lit("/")))
        .otherwise(F.concat(
            F.lit("/p"), F.col("doc_id").cast("string"))))
    return pagination_chains(d.select(url.alias("url")))


def q_sample_neyman(spark, sf):
    """Neyman-optimal labeling-budget allocation across sources
    (operators/mix.py::neyman_allocation): 10k seats split
    proportionally to N_h * sigma_h of document length — exact isqrt
    radicand, floored shares + largest-remainder top-up so the seats
    sum to the budget exactly. One groupBy; the remainder window runs
    on the one-row-per-stratum table only."""
    from barkingowl_spark.operators.mix import neyman_allocation

    d = _t(spark, sf, "documents").select(
        "source",
        F.length(F.coalesce("text", F.lit(""))).cast("long")
        .alias("val"))
    return neyman_allocation(d, 10_000, group_col="source")


def q_idx_tiers(spark, sf):
    """Greedy hot/warm/cold index placement (operators/invindex.py::
    tier_assign): docs ranked by a static score (text length here as
    the stand-in for OPIC/pagerank), tier budgets filled in cost
    order via global_running_sum's range-shuffle cumulative — never a
    single-partition window. An item whose inclusive cumulative cost
    crosses a boundary falls to the next tier, so budgets never
    overrun."""
    from barkingowl_spark.operators.invindex import tier_assign

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.length(F.coalesce("text", F.lit(""))).cast("long")
        .alias("score"),
        (F.length(F.coalesce("text", F.lit(""))) + 100).cast("long")
        .alias("cost"),
    )
    return tier_assign(d, budgets=(100_000, 1_000_000))


def q_dedup_lsh_plan(spark, sf):
    """MinHash-LSH banding design table (operators/corpus_dedup.py::
    lsh_plan): the collision S-curve p = 1 - (1 - s^r)^b for every
    (b, r) factorization of a 16-perm signature, on a 50k-ppm Jaccard
    grid, crossover points flagged — the read-before-you-shuffle
    planner for dedup_minhash_lsh (bands multiply the shuffle, rows
    sharpen the curve). Iterated fixed-point powers, no float pow."""
    from barkingowl_spark.operators.corpus_dedup import lsh_plan

    return lsh_plan(spark, n_perms=16, grid_step_ppm=50_000)


def q_politeness_audit(spark, sf):
    """Politeness-compliance scoreboard (operators/politeness.py::
    politeness_audit): per-host disallow hits + crawl-delay gap
    violations over a synthesized fetch log — the after-the-fact twin
    of fetch_timeline/robots_filter, sharing robots_filter's EXISTS
    prefix test verbatim. Two broadcast dims, one host window, one
    agg."""
    from barkingowl_spark.operators.politeness import politeness_audit

    d = _t(spark, sf, "documents")
    fetches = d.select(
        F.col("source").alias("host"),
        ((F.col("doc_id") * 137) % 50000).cast("long").alias("ts_ms"),
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".test/p"),
            (F.col("doc_id") % 20).cast("string")).alias("url"),
    )
    robots = d.select(F.col("source").alias("host")).distinct().select(
        "host", F.array(F.lit("/p1"), F.lit("/q"))
        .alias("disallow_prefixes"))
    delays = d.select(F.col("source").alias("host")).distinct().select(
        "host",
        (F.lit(200) + (F.ascii(F.substring(F.col("host"), 1, 1)) % 5)
         * F.lit(250)).cast("long").alias("delay_ms"))
    return politeness_audit(fetches, robots, delays)


def q_graph_linkpred(spark, sf):
    """Link-prediction protocol (operators/linkgraph.py::
    aa_link_pred_auc, Liben-Nowell & Kleinberg CIKM'03): hold out
    every (3*src+dst)%5==0 edge, score Adamic-Adar on the REMAINING
    graph, and ask the exact tie-corrected ROC-AUC whether held-out
    true pairs outrank deterministic non-edges — the is-the-signal-
    real gate before spending crawl budget on predicted links."""
    from barkingowl_spark.operators.linkgraph import aa_link_pred_auc

    edges, n = _synth_edges(spark, sf)
    e = edges.filter(F.col("src") != F.col("dst"))
    is_hold = (F.col("src") * 3 + F.col("dst")) % 5 == 0
    train = e.filter(~is_hold)

    def canon(df):
        return df.select(
            F.least("src", "dst").alias("node_a"),
            F.greatest("src", "dst").alias("node_b")).distinct()

    can_all = canon(e)
    can_train = canon(train)
    pos = canon(e.filter(is_hold)).join(
        can_train, ["node_a", "node_b"], "left_anti")
    neg = (
        e.select(
            "src",
            ((F.col("src") * 5 + F.col("dst") * 7 + 3) % n)
            .alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("node_a"),
                F.greatest("src", "dst").alias("node_b"))
        .distinct()
        .join(can_all, ["node_a", "node_b"], "left_anti")
    )
    return aa_link_pred_auc(train, pos, neg)


def q_graph_trustrank(spark, sf):
    """3-iteration fixed-point TrustRank (operators/linkgraph.py::
    trustrank_fixed — Gyongyi et al. VLDB'04): teleport restricted to
    the node%17==0 trusted seeds; unreachable (spam-island) nodes
    converge to 0. Same bigint floor-div recurrence as PageRank."""
    from barkingowl_spark.operators.linkgraph import trustrank_fixed

    edges, _ = _synth_edges(spark, sf)
    trusted = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node") % 17 == 0)
    )
    return trustrank_fixed(edges, trusted, n_iter=3)


def q_graph_opic(spark, sf):
    """3-round OPIC crawl prioritization (operators/linkgraph.py::
    opic_fixed — Abiteboul et al. WWW'03): cash/history recurrence in
    int64 fixed point, dangling cash re-spread uniformly (the virtual
    root page); hist+cash is the anytime frontier-priority signal."""
    from barkingowl_spark.operators.linkgraph import opic_fixed

    edges, _ = _synth_edges(spark, sf)
    return opic_fixed(edges, n_iter=3)


def q_graph_spam_mass(spark, sf):
    """Spam-mass estimation (operators/linkgraph.py::spam_mass_fixed —
    Gyongyi et al. VLDB'06): ordinary PageRank and good-core-teleport
    PageRank in one fused recurrence; rel_mass_ppm = rank share NOT
    attributable to the node%13==0 trusted core."""
    from barkingowl_spark.operators.linkgraph import spam_mass_fixed

    edges, _ = _synth_edges(spark, sf)
    trusted = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node") % 13 == 0)
    )
    return spam_mass_fixed(edges, trusted, n_iter=3)


def q_graph_entropy(spark, sf):
    """Per-host outlink-diversity entropy in integer millibits
    (operators/linkgraph.py::outlink_entropy) — floor-log2 surrogate,
    the link-farm complement to graph_spam_mass; host edges derived by
    joining the synthetic edge endpoints to their documents' source."""
    from barkingowl_spark.operators.linkgraph import outlink_entropy

    d = _t(spark, sf, "documents").select("doc_id", "source")
    edges, _ = _synth_edges(spark, sf)
    he = (
        edges
        .join(d.select(F.col("doc_id").alias("src"),
                       F.col("source").alias("src_host")), "src")
        .join(d.select(F.col("doc_id").alias("dst"),
                       F.col("source").alias("dst_host")), "dst")
        .select("src_host", "dst_host")
    )
    return outlink_entropy(he)


def q_graph_cocite(spark, sf):
    """Co-citation host similarity (operators/linkgraph.py::cocitation,
    Small 1973): destination hosts sharing citers, overlap-coefficient
    sim_ppm, mega-hub sources dropped by the stop-key cap (max_out=8
    here so the cap actually fires on the synthetic graph)."""
    from barkingowl_spark.operators.linkgraph import cocitation

    d = _t(spark, sf, "documents").select("doc_id", "source")
    edges, _ = _synth_edges(spark, sf)
    he = (
        edges
        .join(d.select(F.col("doc_id").alias("src"),
                       F.col("source").alias("src_host")), "src")
        .join(d.select(F.col("doc_id").alias("dst"),
                       F.col("source").alias("dst_host")), "dst")
        .select("src_host", "dst_host")
    )
    return cocitation(he, max_out=8)


_SCC_CAP = 200  # SCC/bow-tie are outer-iterative (peel rounds × pointer
# jumping); the cap keeps the sf0.01 sweep fast while the mod-cap
# quadratic graph keeps a giant SCC + singleton IN/OUT sea — the Broder
# shape the operator exists for.


def _synth_edges_capped(spark, sf):
    """The synthetic quadratic graph truncated to min(n, _SCC_CAP)
    nodes (dst re-modded so edges stay inside the truncation)."""
    d = _t(spark, sf, "documents").select("doc_id")
    n = min(d.count(), _SCC_CAP)
    return (
        d.filter(F.col("doc_id") < n)
        .select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
        )
        .select(
            "src",
            ((F.col("src") * F.col("src") + 13 * F.col("k")) % n).alias(
                "dst"
            ),
        )
    )


def q_graph_scc(spark, sf):
    """Strongly connected components + SCC sizes (operators/scc.py,
    Orzan coloring + pointer jumping) of the capped synthetic graph.
    Oracle: DuckDB recursive transitive closure — scc_id = min mutual-
    reachability peer; two completely different algorithms, same
    labels."""
    from barkingowl_spark.operators.scc import scc_with_sizes

    return scc_with_sizes(_synth_edges_capped(spark, sf))


def q_graph_bowtie(spark, sf):
    """Broder bow-tie decomposition (operators/scc.py::bowtie) against
    the largest SCC: CORE / IN / OUT / TUBE / TENDRIL / DISCONNECTED
    per node, each reachability flag one supernode min-reach probe.
    Oracle: the same segments off the DuckDB closure CTE."""
    from barkingowl_spark.operators.scc import bowtie

    return bowtie(_synth_edges_capped(spark, sf))


# Shared DuckDB fragment for the SCC/bow-tie oracles: capped edges, the
# recursive transitive closure, and min-mutual-peer SCC labels. Must be
# opened with `WITH RECURSIVE`.
_SCC_SQL = f"""
        nd AS (SELECT least(count(*), {_SCC_CAP}) AS n FROM documents),
        edges AS (
            SELECT d.doc_id AS src,
                   (d.doc_id * d.doc_id + 13 * k.k) % nd.n AS dst
            FROM documents d CROSS JOIN nd, (VALUES (1), (2), (3)) k(k)
            WHERE d.doc_id < nd.n
        ),
        e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
        -- DuckDB trap: inside WITH RECURSIVE, ANY cte whose body is a
        -- top-level setop gets the recursive-iteration treatment even
        -- if it never references itself (measured: a UNION one returned
        -- 14673 rows for a <=200-node set; chained ones hang).  Only
        -- the genuinely self-referencing reach/ureach may use UNION at
        -- top level; everything else is SELECT DISTINCT over UNION ALL.
        nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        reach(src, dst) AS (
            SELECT src, dst FROM e
            UNION
            SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst
        ),
        mutual AS (SELECT DISTINCT node, peer FROM (
            SELECT node, node AS peer FROM nodes
            UNION ALL
            SELECT a.src AS node, a.dst AS peer
            FROM reach a JOIN reach b ON b.src = a.dst AND b.dst = a.src)),
        scc AS (SELECT node, min(peer) AS scc_id
                FROM mutual GROUP BY node),
        sizes AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size
                  FROM scc GROUP BY scc_id)
"""


def q_trap_templates(spark, sf):
    """URL template mining (operators/traps.py::url_templates): digit
    runs in path+query collapse to '#'; a template dominating its host
    at volume is a generated URL space (calendar/faceted-search trap).
    Count-table rollup + host-window share, never the frontier twice."""
    from barkingowl_spark.operators.traps import url_templates

    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".test"),
        F.when(
            i % 4 == 0,
            F.concat(F.lit("/cal/"), (i % 12).cast("string"),
                     F.lit("/"), (i % 28).cast("string")),
        ).otherwise(F.concat(F.lit("/page/"), i.cast("string"))),
        F.when(i % 3 == 0, F.concat(F.lit("?s="), i.cast("string")))
        .otherwise(F.lit("")),
    )
    u = d.select(url.alias("url"),
                 F.concat(F.col("source"), F.lit(".test")).alias("host"))
    return url_templates(u, explosive_min_urls=10)


def _mirror_caps(spark, sf):
    """Synthetic capture log with planted mirrors: every doc is a page
    on its source host; docs with doc_id%3==0 are replicated byte-
    identical on 'm-<source>' (a mirror), and docs with doc_id%5==0
    give the mirror host an own-content page too (so most mirror
    scores are < 1.0 — normalized by the smaller host)."""
    d = _t(spark, sf, "documents")
    txt = F.coalesce("text", F.lit(""))
    path = F.concat(F.lit(".test/p/"), F.col("doc_id").cast("string"))
    base = d.select(
        F.concat(F.lit("http://"), F.col("source"), path).alias("url"),
        F.md5(txt).alias("digest"),
    )
    mirr = d.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("http://m-"), F.col("source"), path).alias("url"),
        F.md5(txt).alias("digest"),
    )
    own = d.filter(F.col("doc_id") % 5 == 0).select(
        F.concat(F.lit("http://m-"), F.col("source"),
                 F.lit(".test/own/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.md5(F.concat(txt, F.lit("x"))).alias("digest"),
    )
    return base.unionByName(mirr).unionByName(own)


def q_mirror_pairs(spark, sf):
    """Mirror-host detection (operators/mirrors.py, Bharat & Broder
    WWW8 1999): host pairs sharing (path, digest) resources, scored by
    containment of the smaller host. Stop-key cap bounds the self-join
    fan-out; sizes table broadcast."""
    from barkingowl_spark.operators.mirrors import mirror_pairs

    return mirror_pairs(_mirror_caps(spark, sf))


def q_mirror_replicas(spark, sf):
    """Replica demotion list: for each is_mirror pair keep the lexmin
    host as canonical — the host-level complement of document dedup
    (the frontier skips replicas BEFORE fetching)."""
    from barkingowl_spark.operators.mirrors import (
        mirror_pairs,
        mirror_replicas,
    )

    return mirror_replicas(mirror_pairs(_mirror_caps(spark, sf)))


def _c4_docs(spark, sf):
    """Synthetic multi-line corpus for the C4 rules: the frequent token
    'a' becomes a sentence break ('.\\n'), turning the single-line word
    salad into pages with a realistic mix of terminated / unterminated
    lines. Same replace() runs in the DuckDB oracle."""
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" a "), F.lit(".\n")).alias("text"),
    )


_C4_KW = dict(min_words=4, min_lines=1, blocklist=("big table",),
              line_drop_word="spark")


def q_c4_clean(spark, sf):
    """C4 line-level cleaning (functions/c4rules.py, Raffel et al.
    2020): per-doc decision + rebuilt text. Map-only — the stage that
    shrinks every later hygiene shuffle at 100 TB."""
    from barkingowl_spark.functions.c4rules import c4_clean

    return c4_clean(_c4_docs(spark, sf), **_C4_KW)


def q_c4_stats(spark, sf):
    """Corpus rollup of the C4 decisions (one map-side-combined shuffle
    on a 4-value key) — the hygiene run's monitoring table."""
    from barkingowl_spark.functions.c4rules import c4_stats

    return c4_stats(_c4_docs(spark, sf), **_C4_KW)


def q_lm_surprisal(spark, sf):
    """Unigram-LM surprisal in integer log2 (functions/lmscore.py,
    CCNet / Wenzek et al. 2020): self-trained model, one token shuffle
    + broadcast-join scoring; floor(log2) == bin-length both engines."""
    from barkingowl_spark.functions.lmscore import surprisal_scores

    return surprisal_scores(_t(spark, sf, "documents"))


def q_lm_buckets(spark, sf):
    """CCNet head/middle/tail perplexity tiers WITHOUT a global sort:
    rank thresholds over the tiny score-value distribution, broadcast
    back; ties share a bucket."""
    from barkingowl_spark.functions.lmscore import perplexity_buckets

    return perplexity_buckets(_t(spark, sf, "documents"), n_buckets=3)


def q_lm_bigram_model(spark, sf):
    """Bigram-LM TRAINING in-engine (functions/lmscore.py::bigram_lm):
    pairs derived map-side from the token array (no window), one
    map-side-combined shuffle on the pair key, Zipf-pruned to
    cnt >= 2 (the broadcastable model CCNet-style scoring consumes)."""
    from barkingowl_spark.functions.lmscore import bigram_lm

    return bigram_lm(_t(spark, sf, "documents"), min_count=2)


def q_lm_bigram_surprisal(spark, sf):
    """Add-one-smoothed bigram surprisal in integer log2
    (functions/lmscore.py::bigram_surprisal): floor(log2((ctx+V) DIV
    (cnt+1))) via the bin-length identity; model + context rollup are
    broadcast sides, the pair stream is scored map-side."""
    from barkingowl_spark.functions.lmscore import bigram_surprisal

    return bigram_surprisal(_t(spark, sf, "documents"))


def _bm25_docs(spark, sf):
    """Marker-token corpus for BM25: rare 'needle'/'haystack' terms
    planted by doc_id residue (the 31-word salad vocabulary appears in
    every doc, so unplanted terms all have idf 0 — which the query also
    demonstrates via 'scan')."""
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.coalesce("text", F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.expr("repeat(' needle', CAST(1 + doc_id % 3 AS INT))"),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" haystack"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )


def q_search_nqc(spark, sf):
    """Post-retrieval QPP: Normalized Query Commitment (operators/
    ireval.py::qpp_nqc, Shtok et al. 2009) over the BM25 runs — score
    dispersion of each top-10 list as the confidence signal routing
    queries to feedback/rerank passes; exact integer variance on the
    floored mean, +/-1-corrected floor-isqrt, milli output."""
    from barkingowl_spark.operators.ireval import bm25_runs, qpp_nqc

    return qpp_nqc(
        bm25_runs(_bm25_docs(spark, sf), _eval_queries(spark), k=10),
        k=10)


def q_search_rbo(spark, sf):
    """Rank-Biased Overlap between the BM25 run and its RM3 feedback
    rerun (operators/ireval.py::rbo_overlap, Webber et al. 2010):
    top-weighted per-query ranking agreement — how much did feedback
    actually move the lists? Exact truncated p=1/2 spec: geometric
    2^(k-d) weights, agreement floored per depth, 1e6 for identical
    lists; O(k^2) per query over lists that are already top-k."""
    from barkingowl_spark.operators.ireval import (
        bm25_runs,
        rbo_overlap,
        rm3_runs,
    )

    docs = _bm25_docs(spark, sf)
    qdim = _eval_queries(spark)
    return rbo_overlap(
        bm25_runs(docs, qdim, k=10), rm3_runs(docs, qdim, k=10),
        k=10)


def q_search_mmr(spark, sf):
    """MMR diversification (operators/fusion.py::mmr_rerank,
    Carbonell & Goldstein 1998): greedy 3-pick rerank of the BM25
    top-10 per query trading normalized relevance against max
    token-Jaccard redundancy to the already-picked set — the SERP
    dedup for near-identical crawl captures; statically unrolled
    rounds, all ppm integers, ties -> lowest doc_id."""
    from barkingowl_spark.operators.fusion import mmr_rerank
    from barkingowl_spark.operators.ireval import bm25_runs

    docs = _bm25_docs(spark, sf)
    return mmr_rerank(
        bm25_runs(docs, _eval_queries(spark), k=10), docs, k=3)


def q_search_bm25(spark, sf):
    """Integer fixed-point BM25 top-k (operators/invindex.py::
    bm25_topk, Robertson & Zaragoza 2009): half-bit idf via squared
    DECIMAL(38,0) ratios, ppm tf-saturation, TakeOrderedAndProject
    cut — the ranked-retrieval face of the inverted index."""
    from barkingowl_spark.operators.invindex import bm25_topk

    return bm25_topk(
        _bm25_docs(spark, sf), ["needle", "haystack", "scan"], k=25
    )


_HOST_CASE = """CASE doc_id % 10
 WHEN 0 THEN concat('www.d', CAST(doc_id % 50 AS STRING), '.com')
 WHEN 1 THEN concat('a.b.d', CAST(doc_id % 50 AS STRING), '.co.uk')
 WHEN 2 THEN concat('u', CAST(doc_id % 13 AS STRING), '.github.io')
 WHEN 3 THEN concat('foo.bar', CAST(doc_id % 5 AS STRING), '.ck')
 WHEN 4 THEN 'www.ck'
 WHEN 5 THEN 'ck'
 WHEN 6 THEN concat('blog', CAST(doc_id % 7 AS STRING),
                    '.blogspot.com')
 WHEN 7 THEN concat('internal', CAST(doc_id % 3 AS STRING))
 WHEN 8 THEN 'cdn.s3.amazonaws.com'
 ELSE 'x.y.city.kawasaki.jp' END"""


def _psl_hosts(spark, sf):
    """Synthetic host mix covering every PSL rule shape: exact,
    multi-level, private-section platform suffixes, wildcard *.ck,
    the !www.ck exception, suffix-only and unknown-TLD hosts."""
    return _t(spark, sf, "documents").select(
        F.expr(_HOST_CASE).alias("host")).distinct()


def q_url_site(spark, sf):
    """Registrable-domain (eTLD+1) extraction (functions/psl.py::
    site_split, the publicsuffix.org algorithm): candidate suffixes
    via one bounded posexplode, rule match via a broadcast equi-join
    (exact + wildcardized forms), prevailing rule by integer argmax —
    NO UDF; the host->site key under per-site budgets and politeness."""
    from barkingowl_spark.functions.psl import site_split

    return site_split(_psl_hosts(spark, sf))


def q_url_site_rollup(spark, sf):
    """Hosts-per-site rollup (functions/psl.py::site_rollup): group
    the host table by registrable domain; suffix-only hosts excluded
    (infrastructure, not sites)."""
    from barkingowl_spark.functions.psl import site_rollup, site_split

    return site_rollup(site_split(_psl_hosts(spark, sf)))


def q_search_qld(spark, sf):
    """Dirichlet query-likelihood top-k (operators/invindex.py::
    qld_topk, Zhai & Lafferty TOIS'04): half-bit integer log2 term
    weights vs the collection model, per-doc length normalizer,
    cf=0 terms excluded, TakeOrderedAndProject cut — the language-
    modeling third of the ranking triad (BM25 / BM25F / QLD) over the
    same planted-marker corpus."""
    from barkingowl_spark.operators.invindex import qld_topk

    return qld_topk(
        _bm25_docs(spark, sf), ["needle", "haystack", "scan"], k=25
    )


_EVAL_QUERY_BATCH = [
    (1, "needle"),
    (2, "haystack"),
    (3, "needle"),
    (3, "haystack"),
    (3, "scan"),
]


def _eval_queries(spark):
    return spark.createDataFrame(
        _EVAL_QUERY_BATCH, "query_id long, term string")


def _eval_qrels(docs, qdim):
    """Conjunctive-containment judgments: doc relevant to a query iff
    it contains EVERY term of the query (deterministic, engine-neutral
    — the oracle derives the same table from the same corpus)."""
    from barkingowl_spark.operators.invindex import term_freqs

    qd = qdim.distinct()
    qn = qd.groupBy("query_id").agg(F.count(F.lit(1)).alias("q_n"))
    return (
        term_freqs(docs).select("doc_id", "term")
        .join(F.broadcast(qd), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .join(F.broadcast(qn), "query_id")
        .filter(F.col("n_matched") == F.col("q_n"))
        .select("query_id", "doc_id")
    )


def _eval_qrels_graded(docs, qdim):
    """Graded judgments: grade = number of DISTINCT query terms the doc
    contains (1..|q|) — the partial-containment generalization of
    _eval_qrels' conjunctive rule, derived identically by the oracle
    (the `matched` CTE)."""
    from barkingowl_spark.operators.invindex import term_freqs

    qd = qdim.distinct()
    return (
        term_freqs(docs).select("doc_id", "term")
        .join(F.broadcast(qd), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("grade"))
    )


def q_search_bpref(spark, sf):
    """bpref@10 (operators/ireval.py::bpref, Buckley & Voorhees
    SIGIR'04): the incomplete-judgment metric — unjudged retrieved
    docs are invisible, so the score survives judgment-pool growth.
    Judged pool = partial-containment docs (relevant = all query
    terms, judged-nonrelevant = some but not all) — the principled
    reading of the existing conjunctive qrels derivation."""
    from barkingowl_spark.operators.ireval import bm25_runs, bpref

    docs = _bm25_docs(spark, sf)
    qdim = _eval_queries(spark)
    graded = _eval_qrels_graded(docs, qdim)
    qn = qdim.distinct().groupBy("query_id").agg(
        F.count(F.lit(1)).alias("q_n"))
    rel = (graded.join(F.broadcast(qn), "query_id")
           .filter(F.col("grade") == F.col("q_n"))
           .select("query_id", "doc_id"))
    nonrel = (graded.join(F.broadcast(qn), "query_id")
              .filter(F.col("grade") < F.col("q_n"))
              .select("query_id", "doc_id"))
    return bpref(bm25_runs(docs, qdim, k=10), rel, nonrel, k=10)


def q_search_ndcg(spark, sf):
    """Exact fixed-point nDCG@10 with graded relevance (operators/
    ireval.py::ndcg_at_k, Järvelin & Kekäläinen 2002): gains 2^g - 1
    by bit shift, discounts from a driver-built literal table shared
    verbatim with the oracle SQL — no float/log in either engine's
    dataflow. Grades = distinct-query-terms-contained; the rank-
    position-weighted completion of search_eval's set metrics."""
    from barkingowl_spark.operators.ireval import bm25_runs, ndcg_at_k

    docs = _bm25_docs(spark, sf)
    qdim = _eval_queries(spark)
    return ndcg_at_k(
        bm25_runs(docs, qdim, k=10),
        _eval_qrels_graded(docs, qdim), k=10)


def q_search_runs(spark, sf):
    """Multi-query batch BM25 (operators/ireval.py::bm25_runs): the
    whole query batch scored in ONE tokenize+explode pass — query dim
    broadcast into the posting slice, per-query rank cut via a
    query-partitioned window (never a global sort)."""
    from barkingowl_spark.operators.ireval import bm25_runs

    return bm25_runs(
        _bm25_docs(spark, sf), _eval_queries(spark), k=10)


def q_search_eval(spark, sf):
    """TREC-style ranking evaluation (operators/ireval.py::
    rank_metrics): per-query hits@k / P@k / recall / RR / AP in ppm
    floor-division fixed point against conjunctive-containment qrels
    derived from the corpus itself."""
    from barkingowl_spark.operators.ireval import bm25_runs, rank_metrics

    docs = _bm25_docs(spark, sf)
    qdim = _eval_queries(spark)
    return rank_metrics(
        bm25_runs(docs, qdim, k=10), _eval_qrels(docs, qdim), k=10)


def q_search_eval_macro(spark, sf):
    """Macro-averaged MRR/MAP/recall/P@k (operators/ireval.py::
    eval_macro): the 1-row scoreboard over the per-query metrics."""
    from barkingowl_spark.operators.ireval import (
        bm25_runs, eval_macro, rank_metrics)

    docs = _bm25_docs(spark, sf)
    qdim = _eval_queries(spark)
    return eval_macro(rank_metrics(
        bm25_runs(docs, qdim, k=10), _eval_qrels(docs, qdim), k=10))


def q_search_rm3_terms(spark, sf):
    """RM3 pseudo-relevance-feedback expansion (operators/ireval.py::
    rm3_expand): relevance-model term weights from the top-3 feedback
    docs of a first-pass BM25 run, top-5 terms kept, interpolated 0.6/
    0.4 with the original query — all ppm floor math."""
    from barkingowl_spark.operators.ireval import bm25_runs, rm3_expand

    docs = _bm25_docs(spark, sf)
    qdim = _eval_queries(spark)
    return rm3_expand(docs, bm25_runs(docs, qdim, k=3), qdim,
                      fb_docs=3, fb_terms=5)


def q_search_rm3(spark, sf):
    """Two-pass RM3 retrieval (operators/ireval.py::rm3_runs): BM25
    pass 1 -> feedback expansion -> weighted BM25 re-score, per-term
    floor products, per-query rank-cut window."""
    from barkingowl_spark.operators.ireval import rm3_runs

    return rm3_runs(_bm25_docs(spark, sf), _eval_queries(spark), k=10,
                    fb_docs=3, fb_terms=5)


def q_idx_compress(spark, sf):
    """Posting-list codec audit (operators/invindex.py::
    posting_compression): Elias-Fano vs VByte vs bitmap bit costs per
    term over the id universe, winner by the deterministic cutover
    rule — the layout table an index build consults per list."""
    from barkingowl_spark.operators.invindex import posting_compression

    return posting_compression(_t(spark, sf, "documents"))


def q_idx_compress_rollup(spark, sf):
    """Whole-index codec totals + the pick-per-list mixed layout
    (operators/invindex.py::compression_rollup)."""
    from barkingowl_spark.operators.invindex import (
        compression_rollup, posting_compression)

    return compression_rollup(
        posting_compression(_t(spark, sf, "documents")))


def q_text_novelty(spark, sf):
    """Per-doc shingle novelty vs all lower-doc_id docs (operators/
    corpus_dedup.py::shingle_novelty): the corpus-growth curve — two
    shingle-key shuffles, no all-pairs."""
    from barkingowl_spark.operators.corpus_dedup import shingle_novelty

    return shingle_novelty(_t(spark, sf, "documents"))


def q_search_qpp(spark, sf):
    """Pre-retrieval query-performance prediction (operators/
    ireval.py::qpp_features): avICTF / IDF stats / SCQ in half-bit
    integer logs, incl. an OOV probe term — route hard queries deeper
    before reading a single posting."""
    from barkingowl_spark.operators.ireval import qpp_features

    qs = spark.createDataFrame(
        _EVAL_QUERY_BATCH + [(4, "zz_oov"), (4, "needle")],
        "query_id long, term string")
    return qpp_features(_bm25_docs(spark, sf), qs)


def q_dedup_triplets(spark, sf):
    """Contrastive (anchor, positive, hard-negative) triplets
    (operators/corpus_dedup.py::contrastive_triplets): positives from
    the verified LSH band [0.3, 0.9], negatives = next same-source
    doc_id via one lead window — label-free embedding supervision."""
    from barkingowl_spark.operators.corpus_dedup import (
        contrastive_triplets)

    return contrastive_triplets(_t(spark, sf, "documents"))


def q_dedup_threshold_curve(spark, sf):
    """Near-dup threshold calibration curve (operators/
    corpus_dedup.py::near_dup_threshold_curve): surviving verified
    pairs per candidate threshold — one bucketed count, reverse
    cumulative over 10 rows."""
    from barkingowl_spark.operators.corpus_dedup import (
        near_dup_threshold_curve)

    return near_dup_threshold_curve(_t(spark, sf, "documents"))


def q_search_mincover(spark, sf):
    """Minimal covering span proximity (operators/invindex.py::
    min_cover_span, Tao & Zhai CIKM'07 MinCover): shortest window
    containing BOTH rare terms per doc — one doc-partitioned window
    sweep, no pairwise joins."""
    from barkingowl_spark.operators.invindex import min_cover_span

    return min_cover_span(_bm25_docs(spark, sf),
                          ["needle", "haystack"])


def q_idx_champions(spark, sf):
    """Champion lists / high-impact tier (operators/invindex.py::
    champion_lists): top-4 tf docs per term via WindowGroupLimit on
    the index's own term partitioning."""
    from barkingowl_spark.operators.invindex import champion_lists

    return champion_lists(_t(spark, sf, "documents"), m=4)


def q_text_vocab_growth(spark, sf):
    """Heaps'-law vocabulary growth at 10 doc_id checkpoints
    (functions/textstats.py::vocab_growth): the corpus-level novelty
    curve."""
    from barkingowl_spark.functions.textstats import vocab_growth

    return vocab_growth(_t(spark, sf, "documents"), n_checkpoints=10)


def q_graph_assortativity(spark, sf):
    """Directed out-in degree assortativity (operators/linkgraph.py::
    degree_assortativity, Newman 2002): 1-row Pearson in sign-split
    ppm with the exact-isqrt denominator convention."""
    from barkingowl_spark.operators.linkgraph import (
        degree_assortativity)

    edges, _ = _synth_edges(spark, sf)
    return degree_assortativity(edges)


def q_text_oov_rate(spark, sf):
    """Per-source OOV rate vs the corpus top-16 vocabulary
    (functions/textstats.py::oov_rate): tokenizer-coverage audit —
    TakeOrdered vocab, broadcast probe, one groupBy."""
    from barkingowl_spark.functions.textstats import oov_rate

    return oov_rate(_t(spark, sf, "documents"), vocab_size=16)


def q_graph_ktruss(spark, sf):
    """Fixed-round k-truss peel (operators/linkgraph.py::ktruss_peel,
    Cohen 2008): 3 synchronous support-peel rounds at k=3 + final
    recount — the triangle-density link-farm screen."""
    from barkingowl_spark.operators.linkgraph import ktruss_peel

    edges, _ = _synth_edges(spark, sf)
    return ktruss_peel(edges, k=3, n_rounds=3)


def q_text_zipf(spark, sf):
    """Zipf exponent check (functions/textstats.py::zipf_slope):
    half-bit log-log regression over the top-64 terms — natural
    language sits near -1e6 ppm."""
    from barkingowl_spark.functions.textstats import zipf_slope

    return zipf_slope(_t(spark, sf, "documents"), top_n=64)


def q_text_term_burst(spark, sf):
    """Church-Gale term burstiness (functions/textstats.py::
    term_burstiness): collection-vs-document frequency of the top-64
    terms — function words spread, content words clump; the signal
    behind stopword derivation and boilerplate detection. One
    tokenize pass, two map-side-combined shuffles, TakeOrdered."""
    from barkingowl_spark.functions.textstats import term_burstiness

    return term_burstiness(_t(spark, sf, "documents"), top_n=64)


def q_text_lexdiv(spark, sf):
    """Per-source lexical diversity (functions/textstats.py::
    lexical_diversity): type-token ratio + Yule's K repeat-rate over
    the frequency spectrum — the pair that separates templated/spammy
    sources from merely large ones (TTR is length-biased, K is not);
    integer milli/ppm on DECIMAL/HUGEINT spectrum sums."""
    from barkingowl_spark.functions.textstats import lexical_diversity

    return lexical_diversity(_t(spark, sf, "documents"))


def q_text_scripts(spark, sf):
    """Writing-script composition (functions/textstats.py::
    script_mix): per-doc Latin/Cyrillic/CJK/digit character shares in
    ppm + first-argmax main_script — the lang-id prior and the
    mixed-script spam signal; codepoint-range classes shared verbatim
    with the oracle, map-only. Non-Latin spans are planted
    deterministically from doc_id (the sf corpus is ASCII)."""
    from barkingowl_spark.functions.textstats import script_mix

    d = _t(spark, sf, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.coalesce("text", F.lit("")),
            F.expr("repeat('я', CAST(doc_id % 5 AS INT))"),
            F.expr("repeat('中', CAST(doc_id % 7 AS INT))"),
            F.expr("repeat('7', CAST(doc_id % 3 AS INT))"),
        ).alias("text"))
    return script_mix(planted)


def q_emb_health(spark, sf):
    """Embedding-table health audit (operators/similarity.py::
    embedding_health): dims/zeros/norm range on the quantized grid,
    one map-side pass."""
    from barkingowl_spark.operators.similarity import embedding_health

    return embedding_health(_t(spark, sf, "embeddings"))


def q_cache_hit_curve(spark, sf):
    """Static-cache capacity curve (operators/ranking.py::
    cache_hit_curve): request coverage of top-C hosts for C = 1..512
    over the event stream — fetch/robots/DNS cache sizing."""
    from barkingowl_spark.operators.ranking import cache_hit_curve

    return cache_hit_curve(
        _t(spark, sf, "events").select(
            F.col("user_id").cast("string").alias("key")),
        max_size_log2=9)


def q_events_gini(spark, sf):
    """Fetch-budget inequality (operators/ranking.py::
    gini_concentration): exact Gini over per-key event counts — the
    whole-Lorenz-curve complement to source_hhi's head-weighted
    concentration; global rank via the range-shuffle running-sum
    machinery (never a single-partition sort), 1-row ppm answer."""
    from barkingowl_spark.operators.ranking import gini_concentration

    counts = (
        _t(spark, sf, "events")
        .groupBy(F.col("user_id").alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events")))
    return gini_concentration(counts, "key", "n_events")


def q_host_health(spark, sf):
    """Per-host error rate with Wilson lower bound at z=2
    (operators/politeness.py::host_health): the small-sample-safe
    backoff gate, exact-isqrt integer form."""
    from barkingowl_spark.operators.politeness import host_health

    return host_health(
        _t(spark, sf, "events").select(
            F.col("user_id").cast("string").alias("host"),
            (F.col("event_type") == "error").alias("is_error")))


def q_lang_confusion(spark, sf):
    """Language-ID confusion matrix vs the declared lang column
    (functions/textstats.py::lang_confusion): row-normalized misroute
    rates per declared language."""
    from barkingowl_spark.functions.textstats import lang_confusion

    return lang_confusion(_t(spark, sf, "documents"))


def q_search_rm3_eval(spark, sf):
    """Macro-averaged effectiveness of the RM3 rerun vs the same
    conjunctive qrels as search_eval_macro — the measured answer to
    'did feedback help?' (operators/ireval.py composition)."""
    from barkingowl_spark.operators.ireval import (
        eval_macro, rank_metrics, rm3_runs)

    docs = _bm25_docs(spark, sf)
    qdim = _eval_queries(spark)
    return eval_macro(rank_metrics(
        rm3_runs(docs, qdim, k=10, fb_docs=3, fb_terms=5),
        _eval_qrels(docs, qdim), k=10))


def q_events_health_windows(spark, sf):
    """Windowed per-host Wilson health (streaming/telemetry.py::
    host_health_windows batch body — the stream runs the identical
    expression): (window, host)-keyed shuffle + post-agg isqrt math."""
    from barkingowl_spark.streaming.telemetry import host_health_windows

    return host_health_windows(
        _t(spark, sf, "events").select(
            F.col("user_id").cast("string").alias("host"), "ts",
            (F.col("event_type") == "error").alias("is_error")),
        window="5 minutes",
    ).select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "host", "n", "errors", "err_ppm", "wilson_lb_ppm")


def q_mm_sniff_mime(spark, sf):
    """Magic-byte MIME sniff vs declared Content-Type (operators/
    multimodal.py::sniff_mime): planted magics by doc_id residue,
    declared types on a different residue so the audit sees lies —
    8-byte prefix reads, pure codegen."""
    from barkingowl_spark.operators.multimodal import sniff_mime

    d = _t(spark, sf, "documents")
    payload = F.concat(
        F.unhex(
            F.when(F.col("doc_id") % 5 == 0, F.lit("25504446"))
            .when(F.col("doc_id") % 5 == 1, F.lit("89504E47"))
            .when(F.col("doc_id") % 5 == 2, F.lit("3C68746D"))
            .when(F.col("doc_id") % 5 == 3, F.lit("504B0304"))
            .otherwise(F.lit("FFD8FF"))),
        F.encode(F.coalesce("text", F.lit("")), "utf-8"))
    declared = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("application/pdf"))
        .when(F.col("doc_id") % 3 == 1, F.lit("text/html"))
        .otherwise(F.lit("image/png")))
    return sniff_mime(d.select(
        "doc_id", payload.alias("payload"), declared.alias("mime")))


def q_trap_soft404(spark, sf):
    """Soft-404 detection (operators/traps.py::soft404_scores):
    planted error-page phrasing by doc_id residue; marker-substring +
    shortness heuristic, pure codegen."""
    from barkingowl_spark.operators.traps import soft404_scores

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("404 page not found - it does not exist"),
        ).when(
            F.col("doc_id") % 11 == 1,
            F.concat(F.lit("this page has been removed 404 "),
                     F.coalesce("text", F.lit(""))),
        ).otherwise(F.col("text")).alias("text"))
    return soft404_scores(d).select(
        "doc_id", "marker_hits", "n_tokens", "soft404")


def q_sched_ucb(spark, sf):
    """UCB1 explore/exploit host scheduling (operators/politeness.py::
    ucb_host_ranks): top-10 hosts by observed doc yield + base-2
    exploration bonus (exact integer isqrt, half-bit log2)."""
    from barkingowl_spark.operators.politeness import ucb_host_ranks

    stats = (
        _t(spark, sf, "events")
        .groupBy(F.col("user_id").cast("string").alias("host"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1"
                         " ELSE 0 END")).cast("long").alias("reward"),
        )
    )
    return ucb_host_ranks(stats, k=10)


def q_dedup_lsh_recall(spark, sf):
    """Measured LSH operating point (operators/corpus_dedup.py::
    lsh_recall_audit): banding candidates vs EXACT all-pairs shingle-
    Jaccard truth (prefix-filter join) — recall/precision in ppm, the
    'measure, don't guess' number for the dedup tier."""
    from barkingowl_spark.operators.corpus_dedup import lsh_recall_audit

    return lsh_recall_audit(_t(spark, sf, "documents"))


def q_shard_cori(spark, sf):
    """CORI shard selection (operators/shards.py::cori_shard_ranks):
    rank the 8 md5-sharded index partitions per query by summed term
    beliefs (Callan et al. SIGIR'95, ppm floor form) — the broker's
    query-routing table."""
    from barkingowl_spark.operators.shards import cori_shard_ranks

    return cori_shard_ranks(
        _bm25_docs(spark, sf), _eval_queries(spark), n_shards=8)


def _weighted_docs(spark, sf):
    """(doc_id, source, w): token-count weights for the priority
    sampler (>= 1 by the split-of-empty-string convention, identical
    in both engines)."""
    return _t(spark, sf, "documents").select(
        "doc_id", "source",
        F.size(F.split(F.coalesce("text", F.lit("")), " "))
        .cast("long").alias("w"),
    )


def q_sample_priority(spark, sf):
    """Priority sampling (operators/mix.py::priority_sample, Duffield
    Lund & Thorup JACM'07): ONE weight-proportional top-k-by-priority
    sample whose max(w, tau) estimator answers every subset-sum query
    unbiased — TakeOrderedAndProject(k+1) is the only cut, no corpus
    shuffle."""
    from barkingowl_spark.operators.mix import priority_sample

    return priority_sample(_weighted_docs(spark, sf), k=50)


def q_sample_priority_est(spark, sf):
    """Priority-sample subset-sum audit (operators/mix.py::
    priority_estimate): estimated vs exact total token weight and the
    realized err_ppm — the small-scale qualification a pipeline runs
    before trusting the sampler's telemetry at 100TB."""
    from barkingowl_spark.operators.mix import (
        priority_estimate, priority_sample)

    wd = _weighted_docs(spark, sf)
    return priority_estimate(
        priority_sample(wd, k=50), wd.select("doc_id", "w"))


def q_idx_blockmax(spark, sf):
    """Block-max postings metadata (operators/invindex.py::
    block_max_postings, Ding & Suel SIGIR'11): per (term, 64-doc
    block) the BM25 upper bound ub_fp any member can contribute —
    the skip table an index shard persists next to its postings; the
    only ordering is a term-PARTITIONED window, no global sort."""
    from barkingowl_spark.operators.invindex import block_max_postings

    return block_max_postings(
        _bm25_docs(spark, sf), ["needle", "haystack", "scan"], block=64)


def q_idx_blockmax_prune(spark, sf):
    """MaxScore/BMW pruning audit (operators/invindex.py::
    blockmax_prune_stats): with theta = the 25th first-pass BM25
    score, count the posting blocks provably skippable per term —
    the posting-I/O savings number a 100TB index capacity plan is
    built on."""
    from barkingowl_spark.operators.invindex import (
        blockmax_prune_stats, block_max_postings, bm25_topk)

    docs = _bm25_docs(spark, sf)
    terms = ["needle", "haystack", "scan"]
    theta = bm25_topk(docs, terms, k=25).agg(
        F.min("score_fp").alias("theta_fp"))
    return blockmax_prune_stats(
        block_max_postings(docs, terms, block=64), theta)


_SHARD_W4 = ["crawler-a", "crawler-b", "crawler-c", "crawler-d"]
_SHARD_W5 = _SHARD_W4 + ["crawler-e"]


def q_search_bm25f(spark, sf):
    """Fielded BM25F top-25 (operators/invindex.py::bm25f_topk,
    Robertson CIKM'04): body = raw text (w=1, b=0.75), anchor =
    planted synthetic anchor text (w=3, b=0.5), title = planted
    two-word titles (w=2, b=0 — short fields get no length norm).
    Field-weighted pseudo-frequencies saturate ONCE; all integer
    fixed point, oracle replays the algebra in HUGEINT."""
    from barkingowl_spark.operators.invindex import bm25f_topk, term_freqs

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    body = d.select("doc_id", "text")
    anchor = d.select(
        "doc_id",
        F.concat(
            F.when(did % 7 == 0, F.lit("needle needle link"))
            .otherwise(F.lit("home page")),
            F.when(did % 13 == 0, F.lit(" haystack"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    title = d.select(
        "doc_id",
        F.when(did % 11 == 0, F.lit("scan guide"))
        .otherwise(F.lit("web page")).alias("text"),
    )
    field_tf = (
        term_freqs(body).withColumn("field", F.lit("body"))
        .unionByName(
            term_freqs(anchor).withColumn("field", F.lit("anchor")))
        .unionByName(
            term_freqs(title).withColumn("field", F.lit("title")))
    )
    return bm25f_topk(
        field_tf,
        {"body": (1, 750_000), "anchor": (3, 500_000), "title": (2, 0)},
        ["needle", "haystack", "scan"],
        k=25,
    )


def q_ring_assign(spark, sf):
    """Consistent-hash host->worker assignment (operators/
    frontier_shard.py, UbiCrawler): the ring is a config-sized literal
    array, the lookup a pure map — zero shuffle, zero join."""
    from barkingowl_spark.operators.frontier_shard import assign_hosts

    return assign_hosts(_hosts_distinct(spark, sf), _SHARD_W4)


def q_hrw_assign(spark, sf):
    """Rendezvous (HRW) host->worker assignment (operators/
    frontier_shard.py::hrw_assign): argmax of md5(host|worker) hex —
    the join-free sibling of ring_assign with vnode-free uniform
    shares; minimal disruption is test-pinned. Map-only literal
    struct array + array_max."""
    from barkingowl_spark.operators.frontier_shard import hrw_assign

    return hrw_assign(_hosts_distinct(spark, sf), _SHARD_W4)


def q_ring_moves(spark, sf):
    """Migration matrix for growing the fleet 4->5: both generations
    computed in one projection; off-diagonal rows only ever point into
    the new worker (minimal-disruption property, test-pinned)."""
    from barkingowl_spark.operators.frontier_shard import (
        rebalance_summary,
    )

    return rebalance_summary(
        _hosts_distinct(spark, sf), _SHARD_W4, _SHARD_W5
    )


def _hosts_distinct(spark, sf):
    return (
        _t(spark, sf, "documents")
        .select(F.concat(F.col("source"), F.lit(".test")).alias("host"))
        .distinct()
    )


def _rate_events(spark, sf):
    return _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("host"), "ts"
    )


def q_events_rate_windows(spark, sf):
    """Per-host tumbling-window fetch rates (streaming/telemetry.py
    batch body — the same expression the watermarked stream runs):
    one (window, host)-keyed map-side-combined shuffle; epoch-seconds
    output keeps the hash compare timezone-proof."""
    from barkingowl_spark.streaming.telemetry import host_rate_windows

    return host_rate_windows(
        _rate_events(spark, sf), window="5 minutes"
    ).select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "host",
        "fetches",
    )


def q_events_rate_alerts(spark, sf):
    """Over-budget windows (telemetry.rate_alerts): the alert feed a
    politeness throttle consumes — map-only filter over the rate log."""
    from barkingowl_spark.streaming.telemetry import (
        host_rate_windows,
        rate_alerts,
    )

    r = host_rate_windows(_rate_events(spark, sf), window="5 minutes")
    return rate_alerts(r, max_fetches=1).select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "host",
        "fetches",
        "over",
    )


def q_aimd_rates(spark, sf):
    """AIMD per-host fetch-rate adaptation (operators/politeness.py::
    aimd_rates, the TCP discipline on politeness): additive increase
    on success, clamped halving on error, replayed as ONE Catalyst
    aggregate fold over each host's time-sorted outcomes — no UDF, one
    host shuffle; oracle = recursive CTE."""
    from barkingowl_spark.operators.politeness import aimd_rates

    log = _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("host"),
        "ts", "event_id",
        (F.col("event_type") == "error").alias("is_error"),
    )
    return aimd_rates(log)


def q_clf_scores(spark, sf):
    """fastText-architecture quality-classifier inference
    (functions/hashclf.py, Joulin et al. 2017): hashed unigram+bigram
    buckets, broadcast sparse weight table (deterministic synthetic
    model over every 3rd of 4096 buckets), mean-pooled integer milli
    score. Explode + broadcast join + one doc_id rollup."""
    from barkingowl_spark.functions.hashclf import clf_scores

    weights = spark.range(0, 4096, 3).select(
        F.col("id").alias("bucket"),
        (F.col("id") % 21 - 10).cast("long").alias("weight_milli"),
    )
    return clf_scores(
        _t(spark, sf, "documents"), weights, n_buckets=4096
    )


def _clf_weights(spark):
    return spark.range(0, 4096, 3).select(
        F.col("id").alias("bucket"),
        (F.col("id") % 21 - 10).cast("long").alias("weight_milli"),
    )


def _clf_labels(spark, sf):
    """(a, b): the classifier verdict vs the token-count rule — the
    two boolean labelers the audit queries compare."""
    from barkingowl_spark.functions.hashclf import clf_scores

    docs = _t(spark, sf, "documents")
    a = clf_scores(docs, _clf_weights(spark), n_buckets=4096).select(
        "doc_id", "score_milli", F.col("keep").alias("label"))
    b = docs.select(
        "doc_id",
        (F.size(F.filter(F.split(F.coalesce("text", F.lit("")), " "),
                         lambda x: x != "")) >= 20).alias("label"),
    )
    return a, b


def q_clf_kappa(spark, sf):
    """Cohen's kappa filter audit (operators/ireval.py::
    agreement_stats): chance-corrected agreement between the hashed
    linear classifier and the token-count rule — the number a pipeline
    checks before swapping one quality gate for another; sign-split
    ppm division, DECIMAL-widened marginal products."""
    from barkingowl_spark.operators.ireval import agreement_stats

    a, b = _clf_labels(spark, sf)
    return agreement_stats(a.select("doc_id", "label"), b)


def q_clf_calibration(spark, sf):
    """Reliability bins (operators/ireval.py::calibration_bins): the
    classifier score clamped into a ppm 'probability' vs the realized
    label rate per bin — is the score usable as a probability, not
    just a ranking?"""
    from barkingowl_spark.operators.ireval import calibration_bins

    a, b = _clf_labels(spark, sf)
    scored = (
        a.select("doc_id", F.expr(
            "least(1000000, greatest(0, score_milli * 100 + 500000))")
            .alias("prob_ppm"))
        .join(b, "doc_id")
    )
    return calibration_bins(scored)


def q_clf_label_noise(spark, sf):
    """Confident-learning label-noise estimate (operators/ireval.py::
    label_noise, Northcutt et al. 2021): within-class mean-probability
    thresholds, examples confidently crossing the OTHER class's
    threshold counted as suspected mislabels, noise_ppm the relabel-
    pass trigger. Two map-side scans, 1-row broadcast between."""
    from barkingowl_spark.operators.ireval import label_noise

    a, b = _clf_labels(spark, sf)
    scored = (
        a.select("doc_id", F.expr(
            "least(1000000, greatest(0, score_milli * 100 + 500000))")
            .alias("prob_ppm"))
        .join(b, "doc_id")
    )
    return label_noise(scored)


def q_clf_mcnemar(spark, sf):
    """McNemar's paired gate comparison (operators/ireval.py::
    mcnemar_stats): the default-threshold classifier gate vs a
    tightened (+100 milli) one, both read against the token-count
    rule on the same docs — does tightening SIGNIFICANTLY change
    agreement? Only the discordant cells matter on paired data;
    continuity-corrected chi-square in exact integer milli."""
    from barkingowl_spark.operators.ireval import mcnemar_stats

    a, b = _clf_labels(spark, sf)
    labeled = (
        a.select(
            "doc_id",
            (F.col("score_milli") >= 0).alias("pred_a"),
            (F.col("score_milli") >= 100).alias("pred_b"))
        .join(b, "doc_id")
    )
    return mcnemar_stats(labeled)


def q_clf_mcc(spark, sf):
    """Matthews correlation coefficient (operators/ireval.py::
    mcc_stats): the hashed classifier's keep verdict vs the
    token-count rule as the single confusion number that stays honest
    under class imbalance — the Pearson phi of the 2x2 table, exact
    fixed-point milli via paired DECIMAL products and the
    +/-1-corrected floor-isqrt both engines share verbatim."""
    from barkingowl_spark.operators.ireval import mcc_stats

    a, b = _clf_labels(spark, sf)
    labeled = (
        a.select("doc_id", F.col("label").alias("pred"))
        .join(b, "doc_id")
    )
    return mcc_stats(labeled)


def q_clf_fleiss(spark, sf):
    """Fleiss' kappa (operators/ireval.py::fleiss_kappa, Fleiss
    1971): chance-corrected agreement of a deterministic 3-rater
    panel assigning one of 3 categories per document — the rubric
    trust gate a labeling campaign runs before scaling annotation;
    integer ppm, DECIMAL/HUGEINT marginal squares, sign-split
    division; the per-rater category rule is shared verbatim with
    the oracle."""
    from barkingowl_spark.operators.ireval import fleiss_kappa

    d = _t(spark, sf, "documents")
    ratings = (
        d.select(F.col("doc_id").alias("item_id"),
                 F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
                 .alias("r"))
        .select(
            "item_id",
            F.expr(
                "CASE WHEN (item_id * 31 + r * 17) % 5 < 3"
                " THEN item_id % 3"
                " ELSE (item_id + r) % 3 END").alias("category"))
    )
    return fleiss_kappa(ratings, n_raters=3)


def q_dist_shift_ks(spark, sf):
    """Exact two-sample Kolmogorov-Smirnov drift gate (operators/
    ireval.py::ks_statistic): doc-length distribution of even-id docs
    (with a planted +15 shift) vs odd-id docs — the whole-shape
    complement to AUC's location test; at_value is where the CDF gap
    peaks. Distinct-value rollup + range-shuffle cumulatives +
    TakeOrdered(1), all integer."""
    from barkingowl_spark.operators.ireval import ks_statistic

    d = _t(spark, sf, "documents").select(
        (F.length(F.coalesce("text", F.lit("")))
         + F.when(F.col("doc_id") % 2 == 0, 15).otherwise(0))
        .cast("long").alias("val"),
        (F.col("doc_id") % 2 == 0).alias("in_a"),
    )
    return ks_statistic(d, "val", "in_a")


def q_dist_shift_emd(spark, sf):
    """Exact 1-D earth-mover distance (operators/ireval.py::
    emd_statistic) on the same planted length shift as dist_shift_ks —
    the MASS face of the drift pair (KS = worst gap, EMD = total work
    in value units); ~15 char-micros expected from the +15 plant.
    Same distinct-value machinery plus one bounded lead()."""
    from barkingowl_spark.operators.ireval import emd_statistic

    d = _t(spark, sf, "documents").select(
        (F.length(F.coalesce("text", F.lit("")))
         + F.when(F.col("doc_id") % 2 == 0, 15).otherwise(0))
        .cast("long").alias("val"),
        (F.col("doc_id") % 2 == 0).alias("in_a"),
    )
    return emd_statistic(d, "val", "in_a")


def q_clf_brier(spark, sf):
    """Brier score + Murphy reliability/resolution/uncertainty
    decomposition (operators/ireval.py::brier_decomposition) of the
    clamped ppm probability vs the token-count truth — the 1-row
    "should we recalibrate?" scoreboard over clf_calibration's bins,
    with the within-bin/quantization remainder reported as resid_ppm
    instead of hidden. Exact integer sums on DECIMAL(38,0)/HUGEINT."""
    from barkingowl_spark.operators.ireval import brier_decomposition

    a, b = _clf_labels(spark, sf)
    scored = (
        a.select("doc_id", F.expr(
            "least(1000000, greatest(0, score_milli * 100 + 500000))")
            .alias("prob_ppm"))
        .join(b, "doc_id")
    )
    return brier_decomposition(scored)


def q_clf_ece(spark, sf):
    """Expected calibration error (operators/ireval.py::
    calibration_ece, Naeini et al. AAAI'15): the 1-row mass-weighted
    rollup of the reliability bins."""
    from barkingowl_spark.operators.ireval import (
        calibration_bins, calibration_ece)

    a, b = _clf_labels(spark, sf)
    scored = (
        a.select("doc_id", F.expr(
            "least(1000000, greatest(0, score_milli * 100 + 500000))")
            .alias("prob_ppm"))
        .join(b, "doc_id")
    )
    return calibration_ece(calibration_bins(scored))


def q_clf_auc(spark, sf):
    """Exact tie-corrected ROC-AUC (operators/ireval.py::roc_auc,
    Hanley & McNeil 1982 via the Mann-Whitney midrank identity): the
    classifier's milli score as a RANKER of the token-count truth —
    the audit next to clf_kappa's thresholded one. Midrank sums ride
    DECIMAL(38,0); the cumulative is the range-shuffle running-sum
    primitive, never a single-partition window."""
    from barkingowl_spark.operators.ireval import roc_auc

    a, b = _clf_labels(spark, sf)
    scored = a.select("doc_id", "score_milli").join(
        b.select("doc_id", "label"), "doc_id")
    return roc_auc(scored)


def q_clf_ap(spark, sf):
    """Exact tie-bounded Average Precision (operators/ireval.py::
    average_precision): the head-weighted ranker audit next to
    clf_auc's pair-ordering one. Quantized scores make within-tie
    order unobservable, so the op reports the exact [pessimistic,
    optimistic] AP interval (positives last / first inside each tied
    group) — per-positive terms floored to ppm, group-level math
    only (sequence aggregate, no row explode), running prefix counts
    via the range-shuffle primitive."""
    from barkingowl_spark.operators.ireval import average_precision

    a, b = _clf_labels(spark, sf)
    scored = a.select("doc_id", "score_milli").join(
        b.select("doc_id", "label"), "doc_id")
    return average_precision(scored)


def q_text_readability(spark, sf):
    """Flesch-Kincaid grade + reading ease in integer milli
    (functions/textstats.py::readability, Kincaid et al. 1975):
    sentence punctuation planted by doc_id residue (the raw word
    salad has none), syllables = vowel-group runs, floor at every
    division. Map-only codegen pass."""
    from barkingowl_spark.functions.textstats import readability

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.coalesce("text", F.lit("")),
                     F.lit(". Done. Really!")),
        ).when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.coalesce("text", F.lit("")), F.lit("?")),
        ).otherwise(F.col("text")).alias("text"))
    return readability(d)


def q_text_mojibake(spark, sf):
    """Encoding-damage detection (functions/textstats.py::
    mojibake_scores): double-decoded-UTF-8 artifacts planted by
    doc_id residue (e→Ã© mangling, U+FFFD replacement runs, Â
    padding); occurrence counts by length-difference after replace —
    no regex, no UDF."""
    from barkingowl_spark.functions.textstats import mojibake_scores

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.expr("replace(coalesce(text, ''), 'e', 'Ã©')"),
        ).when(
            F.col("doc_id") % 13 == 1,
            F.concat(F.coalesce("text", F.lit("")),
                     F.lit(" ï¿½ â€” broken")),
        ).when(
            F.col("doc_id") % 13 == 2,
            F.concat(F.lit("Â Â "), F.coalesce("text", F.lit(""))),
        ).otherwise(F.col("text")).alias("text"))
    return mojibake_scores(d)


def q_lm_kn_bigram(spark, sf):
    """Interpolated Kneser-Ney bigram LM (functions/lmscore.py::
    kneser_ney_bigram, Chen & Goodman 1998 eq. 4.26): D=3/4 absolute
    discount + continuation-count backoff in two-floor integer ppm;
    context/continuation rollups ride the bigram table's own keying,
    output pruned to c(u,w) >= 2."""
    from barkingowl_spark.functions.lmscore import kneser_ney_bigram

    return kneser_ney_bigram(_t(spark, sf, "documents"), min_count=2)


def q_lm_source_kl(spark, sf):
    """Per-source unigram KL drift vs the whole corpus (functions/
    lmscore.py::source_divergence): signed half-bit weights via the
    squared-DECIMAL bitlen identity, sign-split floors both engines
    — the domain-drift audit next to mix_temperature."""
    from barkingowl_spark.functions.lmscore import source_divergence

    return source_divergence(_t(spark, sf, "documents"))


def q_search_suggest(spark, sf):
    """Query autocompletion (operators/invindex.py::suggest_topk):
    top-3 completions by document frequency for every 1..4-char term
    prefix — the vocabulary (never the corpus) exploded, ONE
    prefix-partitioned WindowGroupLimit cut."""
    from barkingowl_spark.operators.invindex import suggest_topk

    return suggest_topk(_t(spark, sf, "documents"), k=3, max_prefix=4)


def q_dedup_editdist(spark, sf):
    """Edit-distance near-dup pairs (operators/spell.py::
    editdist_pairs): all title pairs within Levenshtein 1 via the
    SymSpell deletion-neighborhood SELF-join — candidates from a
    variant equi-join (never a fuzzy scan or cartesian), verified
    with built-in levenshtein on candidates only; titles synthesized
    with planted substitution/deletion typos per doc_id residue, so
    in-group and digit-neighbor cross-group pairs both appear."""
    from barkingowl_spark.operators.spell import editdist_pairs

    d = _t(spark, sf, "documents")
    titles = d.select(
        "doc_id",
        F.expr(
            "CASE CAST(doc_id % 3 AS INT)"
            " WHEN 0 THEN 'crawl report ' ||"
            " CAST(doc_id DIV 3 AS STRING)"
            " WHEN 1 THEN 'crawl reporT ' ||"
            " CAST(doc_id DIV 3 AS STRING)"
            " ELSE 'crawl repor ' ||"
            " CAST(doc_id DIV 3 AS STRING) END").alias("title"))
    return editdist_pairs(titles)


def q_search_spell(spark, sf):
    """SymSpell spelling correction (operators/spell.py, Garbe's
    deletion-neighborhood join): candidates from a variant equi-join
    (never a fuzzy scan), verified with built-in levenshtein <= 1 on
    candidates only; misspellings synthesized from the corpus's own
    vocabulary by md5 residue (3rd char dropped)."""
    from barkingowl_spark.operators.invindex import term_freqs
    from barkingowl_spark.operators.spell import spell_correct

    docs = _t(spark, sf, "documents")
    vocab = (
        term_freqs(docs).groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df")))
    base = vocab.filter(F.length("term") >= 6).select(
        "term",
        (F.conv(F.substring(F.md5(F.col("term").cast("binary")),
                            1, 15), 16, 10).cast("long") % 7)
        .alias("h"))
    q1 = base.filter(F.col("h") == 0).select(
        F.concat(F.substring("term", 1, 2),
                 F.expr("substr(term, 4, length(term))"))
        .alias("query"))
    q2 = base.filter(F.col("h") == 1).select(
        F.col("term").alias("query"))
    return spell_correct(vocab, q1.union(q2).distinct(), topk=3)


def q_focused_frontier(spark, sf):
    """Focused-crawl frontier priorities (operators/focused.py,
    Chakrabarti et al. WWW'99): hashclf relevance scores max-propagated
    2 hops down the synthetic link graph with 0.5/hop ppm decay, ties
    to fewer hops via the packed-int64 argmax."""
    from barkingowl_spark.functions.hashclf import clf_scores
    from barkingowl_spark.operators.focused import focused_priorities

    weights = spark.range(0, 4096, 3).select(
        F.col("id").alias("bucket"),
        (F.col("id") % 21 - 10).cast("long").alias("weight_milli"),
    )
    scores = clf_scores(
        _t(spark, sf, "documents"), weights, n_buckets=4096
    ).select(F.col("doc_id").alias("node"), "score_milli")
    edges, _ = _synth_edges(spark, sf)
    return focused_priorities(edges, scores, n_hops=2,
                              decay_ppm=500_000)


def q_dsir_sample(spark, sf):
    """DSIR importance resampling (functions/lmscore.py, Xie et al.
    2023): target LM = the doc_id%10==0 slice, raw LM = self; weight =
    2^(delta surprisal bits) capped at 1, sampled by the repo's md5
    draw. Two broadcast LM scorings + one doc_id join."""
    from barkingowl_spark.functions.lmscore import dsir_sample, unigram_lm

    d = _t(spark, sf, "documents")
    tgt = unigram_lm(d.filter(F.col("doc_id") % 10 == 0))
    return dsir_sample(d, tgt)


def q_host_scorecard(spark, sf):
    """Per-host corpus-quality rollup (operators/scorecard.py): dup
    share, quality-pass share, token-weighted mean surprisal — the host
    dimension joining hygiene evidence back to crawl control."""
    from barkingowl_spark.operators.scorecard import host_scorecard

    return host_scorecard(_t(spark, sf, "documents"))


def q_host_quotas(spark, sf):
    """Quota policy over the scorecard: keep_ppm = non-dup share,
    zeroed below the quality floor — the mix_sample input table."""
    from barkingowl_spark.operators.scorecard import (
        host_quotas,
        host_scorecard,
    )

    return host_quotas(host_scorecard(_t(spark, sf, "documents")))


def q_graph_reciprocal(spark, sf):
    """Nepotistic-link share per node (operators/linkgraph.py::
    reciprocal_stats, Davison 2000): distinct edges, LEFT SEMI probe of
    the reversed key, src rollup — the link-farm feature TrustRank's
    teleport set should exclude."""
    from barkingowl_spark.operators.linkgraph import reciprocal_stats

    edges, _ = _synth_edges(spark, sf)
    return reciprocal_stats(edges)


def q_split_assign(spark, sf):
    """Deterministic train/val/test split (operators/mix.py::
    split_assign): map-only md5 draw, stable under corpus growth —
    the export-time split assignment."""
    from barkingowl_spark.operators.mix import split_assign

    return split_assign(
        _t(spark, sf, "documents"), val_ppm=100_000, test_ppm=100_000
    )


def q_winnow_pairs(spark, sf):
    """MOSS-style local text-reuse pairs (functions/textstats.py::
    winnow_pairs): shared winnowing-fingerprint join with a stop-
    fingerprint cap — catches passage reuse whole-doc MinHash dilutes."""
    from barkingowl_spark.functions.textstats import winnow_pairs

    return winnow_pairs(_t(spark, sf, "documents"))


def q_gopher_quality(spark, sf):
    """Gopher document-level quality gate (functions/gopherrules.py,
    Rae et al. 2021 table A1): map-only measurements + first-failing-
    rule label. Symbols planted on doc_id%9==0, short docs on %17==0."""
    from barkingowl_spark.functions.gopherrules import gopher_quality

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 0, F.lit("tiny doc here"))
        .otherwise(
            F.concat(
                F.coalesce("text", F.lit("")),
                F.when(F.col("doc_id") % 9 == 0,
                       F.expr("repeat(' #', 30)")).otherwise(F.lit("")),
            )
        ).alias("text"),
    )
    return gopher_quality(d)


def q_url_filter(spark, sf):
    """RefinedWeb-style URL gate (functions/urlfilter.py): literal
    blocklist + keyword score in one codegen map. Blocked hosts on
    doc_id%11==0 (incl. a subdomain variant on %22), keywords planted
    by residue."""
    from barkingowl_spark.functions.urlfilter import url_filter

    d = _t(spark, sf, "documents")
    i = F.col("doc_id")
    host = (
        F.when(i % 22 == 0, F.lit("sub.blocked.test"))
        .when(i % 11 == 0, F.lit("blocked.test"))
        .otherwise(F.concat(F.col("source"), F.lit(".test")))
    )
    url = F.concat(
        F.lit("http://"), host, F.lit("/p/"), i.cast("string"),
        F.when(i % 6 == 0, F.lit("/casino")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit("/article")).otherwise(F.lit("")),
        F.when(i % 7 == 0, F.lit("?next=login")).otherwise(F.lit("")),
    )
    return url_filter(
        d.select(url.alias("url")), blocked_domains=["blocked.test"]
    )


def q_mix_epochs_out(spark, sf):
    """Epoch materialization (operators/mix.py::materialize_epochs):
    the epoch_plan allocation turned into actual repeated rows — whole
    epochs replicate, the fractional epoch is the per-doc md5 draw;
    broadcast plan dim, map-side explode, zero shuffle."""
    from barkingowl_spark.operators.mix import (
        epoch_plan,
        materialize_epochs,
    )

    d = _t(spark, sf, "documents")
    toks = "filter(split(translate(text, '\n', ' '), ' '), x -> x <> '')"
    counts = d.groupBy(F.col("source").alias("domain")).agg(
        F.sum(F.expr(f"size({toks})")).cast("long").alias("tokens")
    )
    weights = counts.select(
        "domain",
        (
            F.conv(
                F.substring(F.md5(F.col("domain").cast("binary")), 1, 15),
                16, 10,
            ).cast("long") % 400_000 + 100_000
        ).alias("weight_ppm"),
    )
    plan = epoch_plan(
        counts, weights, budget_tokens=20_000, max_epochs_ppm=3_000_000
    )
    return materialize_epochs(d, plan)


def q_search_hybrid(spark, sf):
    """Hybrid retrieval: RRF fusion (operators/fusion.py, Cormack et
    al. 2009) of the BM25 top-25 and the integer-dot embedding top-25
    (probe = vec 0) — the modern lexical+vector search stack; fusion
    itself is O(k), TakeOrderedAndProject cut."""
    from barkingowl_spark.operators.fusion import rank_by, rrf_fuse
    from barkingowl_spark.operators.invindex import bm25_topk
    from barkingowl_spark.operators.similarity import dot_topk

    b = rank_by(
        bm25_topk(_bm25_docs(spark, sf),
                  ["needle", "haystack", "scan"], k=25),
        "score_fp",
    )
    v = dot_topk(
        _t(spark, sf, "embeddings"), n_queries=1, k=25
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([b, v], topk=10)


def q_pq_codes(spark, sf):
    """PQ encoding (operators/pq.py, Jegou et al. 2011): 64-dim vectors
    -> 4 codebook ids (untrained first-16 codebook = the oracle path;
    trained path pytest-pinned via distortion). Broadcast codebook +
    map-combined argmin."""
    from barkingowl_spark.operators.pq import pq_encode

    c = pq_encode(_t(spark, sf, "embeddings"), m=4, ksub=16)
    return c.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda x: x.cast("string")), ","
        ).alias("codes"),
    )


def q_ann_pq_topk(spark, sf):
    """ADC top-k over PQ codes: integer lookup-table distances — the
    compressed-domain search that pairs with IVF at 10^10 vectors."""
    from barkingowl_spark.operators.pq import pq_topk

    return pq_topk(
        _t(spark, sf, "embeddings"), n_queries=10, k=5, m=4, ksub=16
    )


def q_ann_ivfpq_topk(spark, sf):
    """Composed IVF+PQ search (operators/pq.py::ivfpq_topk): coarse
    cell routing + in-cell ADC — per-query cost |cell| * m lookups,
    the 10^10-vector serving shape. Untrained quantizers (oracle
    path); trained path pytest-pinned."""
    from barkingowl_spark.operators.pq import ivfpq_topk

    return ivfpq_topk(
        _t(spark, sf, "embeddings"),
        n_queries=10, k=5, m=4, ksub=16, n_centroids=8,
    )


def q_dedup_weights(spark, sf):
    """Soft dedup (operators/components.py::dedup_weights): cluster
    members split one unit of training mass (1e6 DIV csize) instead of
    dropping — the reweighting alternative that feeds mix/export."""
    from barkingowl_spark.operators.components import dedup_weights

    return dedup_weights(_t(spark, sf, "documents"))


def q_eval_compromise(spark, sf):
    """Eval-owner contamination view (operators/decontam.py::
    eval_compromise): per eval item, leaked-gram share + carrier-doc
    counts — the benchmark-retirement table; same synthetic eval set
    as text_decontam, broadcast-probe-pruned corpus side."""
    from barkingowl_spark.operators.decontam import eval_compromise

    d = _t(spark, sf, "documents").select("doc_id", "text")
    toks = "filter(split(translate(text, '\n', ' '), ' '), x -> x <> '')"
    ev = (
        d.filter(F.col("doc_id") % 37 == 5)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.expr(f"concat_ws(' ', slice({toks}, 2, 9))").alias("text"),
        )
    )
    return eval_compromise(ev, d, n=5)


def q_hll_shingles(spark, sf):
    """Deterministic HLL cardinality (functions/hll.py): distinct
    3-gram shingle count of the corpus, sketch vs exact side by side —
    the approximate face of O17, integer-exact in both engines (unlike
    HLL++ whose sketches differ between Spark and DuckDB)."""
    from barkingowl_spark.functions.hll import hll_count
    from barkingowl_spark.operators.decontam import _ngrams

    d = _t(spark, sf, "documents")
    keys = d.select(F.explode(_ngrams(d, "text", 3)).alias("key"))
    return hll_count(keys, p=6)


def q_cms_tokens(spark, sf):
    """Count-Min heavy-hitter audit (functions/cms.py): token
    frequencies estimated through a 3x64 mergeable sketch next to the
    exact counts — est >= exact always (one-sided CM guarantee), the
    width-64 squeeze makes collisions real at this sf so over_cnt is
    non-trivially exercised."""
    from barkingowl_spark.functions.cms import cms_audit

    d = _t(spark, sf, "documents")
    toks = d.select(
        F.explode(F.expr("filter(split(text, ' '), x -> x <> '')"))
        .alias("key"))
    return cms_audit(toks, depth=3, width=64)


def q_robots_sitemaps(spark, sf):
    """Sitemap: directive discovery (operators/robots.py::
    robots_sitemaps — the robots->sitemap acquisition bridge):
    group-independent lines, first-occurrence dedup per host, file
    order; bodies synthesized from documents (7 hosts, line kind by
    doc_id%4 incl. a lowercase 'sitemap:' variant and within-host
    duplicates)."""
    d = _t(spark, sf, "documents")
    m4 = F.col("doc_id") % 4
    host = F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
    line = (
        F.when(m4 == 0, F.concat(
            F.lit("Sitemap: http://"), host, F.lit(".test/sm"),
            (F.col("doc_id") % 3).cast("string"), F.lit(".xml")))
        .when(m4 == 1, F.lit("User-agent: *"))
        .when(m4 == 2, F.concat(F.lit("# c"),
                                F.col("doc_id").cast("string")))
        .otherwise(F.concat(
            F.lit("sitemap: http://"), host, F.lit(".test/alt.xml")))
    )
    pages = (
        d.select("doc_id", host.alias("host"), line.alias("line"))
        .groupBy("host")
        .agg(F.array_join(F.transform(
            F.sort_array(F.collect_list(F.struct("doc_id", "line"))),
            lambda x: x["line"]), "\n").alias("body"))
        .select(
            F.concat(F.lit("http://"), F.col("host"),
                     F.lit("/robots.txt")).alias("url"),
            "body",
        )
    )
    from barkingowl_spark.operators.robots import robots_sitemaps

    return robots_sitemaps(pages, body_col="body")


def q_canonical_resolve(spark, sf):
    """rel=canonical extraction + resolution (functions/canonical.py):
    the real Arrow UDF parses synthesized pages — id%3==1 declares
    p(id-1) (single-quoted, href-before-rel), id%3==2 declares p(id-1)
    (double-quoted) forming 2-hop chains, id%3==0 has only a stylesheet
    link; id%21==0 adds a planted q<id>a <-> q<id>b 2-cycle
    (quarantined: resolved=false, hops=2^6 at the doubling horizon).
    The oracle states the closed-form expected rows."""
    from barkingowl_spark.functions.canonical import canonical_resolve

    d = _t(spark, sf, "documents").select("doc_id")
    sid = F.col("doc_id").cast("string")
    prev = (F.col("doc_id") - 1).cast("string")
    m3 = F.col("doc_id") % 3
    html = (
        F.when(m3 == 1, F.concat(
            F.lit("<html><head><link href='http://c.test/p"), prev,
            F.lit("' rel='canonical'></head><body>v</body></html>")))
        .when(m3 == 2, F.concat(
            F.lit('<head><link rel="canonical" href="http://c.test/p'),
            prev, F.lit('"></head>')))
        .otherwise(F.lit(
            '<head><link rel="stylesheet" href="/s.css"></head>'))
    )
    doc_pages = d.select(
        F.concat(F.lit("http://c.test/p"), sid).alias("url"),
        F.encode(html, "UTF-8").alias("html"),
    )
    cyc = d.filter(F.col("doc_id") % 21 == 0)
    cyc_pages = cyc.select(
        F.concat(F.lit("http://c.test/q"), sid, F.lit("a")).alias("url"),
        F.encode(F.concat(
            F.lit('<link rel=canonical href="http://c.test/q'), sid,
            F.lit('b">')), "UTF-8").alias("html"),
    ).unionByName(cyc.select(
        F.concat(F.lit("http://c.test/q"), sid, F.lit("b")).alias("url"),
        F.encode(F.concat(
            F.lit('<link rel="canonical" href="http://c.test/q'), sid,
            F.lit('a">')), "UTF-8").alias("html"),
    ))
    return canonical_resolve(doc_pages.unionByName(cyc_pages))


def q_tok_unigram_vocab(spark, sf):
    """Unigram-LM piece inventory (functions/unigramlm.py::
    unigram_vocab, Kudo 2018 / SentencePiece): every 1..4-char
    substring of every corpus word mass-weighted by word count, top-V
    by (mass, piece) plus all single chars for coverage; cost_bits =
    floor-log2 surprisal via length(bin()) — no libm. The corpus-
    sized work is one tokenize+count; everything else is
    vocabulary-sized."""
    from barkingowl_spark.functions.unigramlm import unigram_vocab

    return unigram_vocab(_t(spark, sf, "documents"), v=256)


def q_tok_unigram_segment(spark, sf):
    """Viterbi segmentation audit (functions/unigramlm.py::
    unigram_segment): per distinct corpus word the minimal total
    piece surprisal and the piece count of the (cost, count)-
    lexicographic-min segmentation under the unigram vocabulary —
    the DP packed as 256*cost + n so the argmin is a plain min();
    12 statically unrolled, localCheckpoint-pinned rounds of
    (word, position) equi-joins over the vocab-sized frontier."""
    from barkingowl_spark.functions.unigramlm import unigram_segment

    return unigram_segment(_t(spark, sf, "documents"), v=256)


def q_tok_unigram_em(spark, sf):
    """One hard-EM round of the unigram model (functions/unigramlm.py
    ::unigram_em_vocab): Viterbi paths recovered from the DP frontier
    (pack-equality parents, ties -> smallest i — a total order),
    piece masses recounted over the paths, unused pieces pruned,
    costs re-scored — the M-step that shrinks SentencePiece
    inventories; 12 more unrolled backward rounds, same pinning
    discipline as the forward pass."""
    from barkingowl_spark.functions.unigramlm import unigram_em_vocab

    return unigram_em_vocab(_t(spark, sf, "documents"), v=256)


def q_bpe_merges(spark, sf):
    """BPE vocabulary induction (functions/bpe.py::bpe_train, Sennrich
    et al. ACL'16): 4 merge rounds over the corpus's lowercase-ascii
    word types (the multibyte-safe pre-tokenization subset), weighted
    adjacent-pair argmax with lexicographic tie-break, greedy
    non-overlapping merge application. The oracle re-derives each round
    positionally (islands + parity) — an independent algorithm for the
    same spec."""
    from barkingowl_spark.functions.bpe import bpe_train, word_counts

    d = _t(spark, sf, "documents")
    words = word_counts(d).filter(F.col("word").rlike("^[a-z]+$"))
    return bpe_train(words, n_merges=4)


def q_mix_temperature(spark, sf):
    """Temperature-balanced domain quotas (operators/mix.py::
    temperature_quotas — the mC4/XLM-R alpha-sampling rule): weight =
    n^(5/8) via the exact integer-sqrt chain (r1*r3 for the 101b
    expansion), quota_ppm normalized by one broadcast total."""
    from barkingowl_spark.operators.mix import temperature_quotas

    d = _t(spark, sf, "documents")
    return temperature_quotas(d, group_col="source",
                              alpha_num=5, alpha_den=8)


def q_chunk_overlap(spark, sf):
    """Sliding-window chunking (operators/shards.py::chunk_overlap):
    32-token windows, stride 24 (8-token overlap) — the retrieval-
    corpus split; pure map-side fan-out, no shuffle."""
    from barkingowl_spark.operators.shards import chunk_overlap

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return chunk_overlap(d, window=32, stride=24)


def q_mix_stratified(spark, sf):
    """Exact-k deterministic stratified sample (operators/mix.py::
    stratified_sample_exact): min(k,|stratum|) rows per source by the
    shared md5 draw — one stratum-keyed window with WindowGroupLimit
    pushdown; the exact-count complement to mix_sample's rate draw."""
    from barkingowl_spark.operators.mix import stratified_sample_exact

    return stratified_sample_exact(_t(spark, sf, "documents"), k=3)


def q_graph_communities(spark, sf):
    """Label-propagation host communities (operators/linkgraph.py::
    label_propagation, Raghavan et al. 2007, deterministic variant:
    synchronous rounds, unweighted distinct undirected edges,
    min-label ties): two shuffles per round, lineage truncated."""
    from barkingowl_spark.operators.linkgraph import label_propagation

    d = _t(spark, sf, "documents").select("doc_id", "source")
    edges, _ = _synth_edges(spark, sf)
    he = (
        edges
        .join(d.select(F.col("doc_id").alias("src"),
                       F.col("source").alias("src_host")), "src")
        .join(d.select(F.col("doc_id").alias("dst"),
                       F.col("source").alias("dst_host")), "dst")
        .select(F.col("src_host").alias("src"),
                F.col("dst_host").alias("dst"))
        .distinct()
    )
    return label_propagation(he, n_iter=4)


def q_graph_modularity(spark, sf):
    """Partition-quality audit of the LPA host communities
    (operators/linkgraph.py::community_stats, Newman-Girvan PNAS
    2004): per-community modularity contribution q_ppm (sign-split
    DECIMAL div) + conductance — one groupBy(community) after two
    endpoint-tagging joins, grand total on a 1-row broadcast."""
    from barkingowl_spark.operators.linkgraph import (
        community_stats,
        label_propagation,
    )

    d = _t(spark, sf, "documents").select("doc_id", "source")
    edges, _ = _synth_edges(spark, sf)
    he = (
        edges
        .join(d.select(F.col("doc_id").alias("src"),
                       F.col("source").alias("src_host")), "src")
        .join(d.select(F.col("doc_id").alias("dst"),
                       F.col("source").alias("dst_host")), "dst")
        .select(F.col("src_host").alias("src"),
                F.col("dst_host").alias("dst"))
        .distinct()
    )
    return community_stats(he, label_propagation(he, n_iter=4))


# 4 synchronous LPA rounds over the distinct undirected host graph —
# shared CTE prefix of the graph_communities / graph_modularity oracles
# (expects an `edges` CTE in scope; yields he/nodes/und/l4).
_LPA4_SQL = """
            he AS (SELECT DISTINCT ds.source AS src, dd.source AS dst
                   FROM edges e
                   JOIN documents ds ON ds.doc_id = e.src
                   JOIN documents dd ON dd.doc_id = e.dst),
            nodes AS (SELECT src AS node FROM he
                      UNION SELECT dst FROM he),
            und AS (SELECT DISTINCT src, dst FROM (
                      SELECT src, dst FROM he
                      UNION ALL SELECT dst, src FROM he)
                    WHERE src <> dst),
            l0 AS (SELECT node, node AS label FROM nodes),
            v1 AS (SELECT u.dst AS node, l.label,
                         CAST(count(*) AS BIGINT) AS cnt
                     FROM und u JOIN l0 l ON l.node = u.src
                     GROUP BY u.dst, l.label),
            p1 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node
                         ORDER BY cnt DESC, label) AS rn FROM v1)
                     WHERE rn = 1),
            l1 AS (SELECT n.node, coalesce(p.label, n.node) AS label
                     FROM nodes n LEFT JOIN p1 p USING (node)),
            v2 AS (SELECT u.dst AS node, l.label,
                         CAST(count(*) AS BIGINT) AS cnt
                     FROM und u JOIN l1 l ON l.node = u.src
                     GROUP BY u.dst, l.label),
            p2 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node
                         ORDER BY cnt DESC, label) AS rn FROM v2)
                     WHERE rn = 1),
            l2 AS (SELECT n.node, coalesce(p.label, n.node) AS label
                     FROM nodes n LEFT JOIN p2 p USING (node)),
            v3 AS (SELECT u.dst AS node, l.label,
                         CAST(count(*) AS BIGINT) AS cnt
                     FROM und u JOIN l2 l ON l.node = u.src
                     GROUP BY u.dst, l.label),
            p3 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node
                         ORDER BY cnt DESC, label) AS rn FROM v3)
                     WHERE rn = 1),
            l3 AS (SELECT n.node, coalesce(p.label, n.node) AS label
                     FROM nodes n LEFT JOIN p3 p USING (node)),
            v4 AS (SELECT u.dst AS node, l.label,
                         CAST(count(*) AS BIGINT) AS cnt
                     FROM und u JOIN l3 l ON l.node = u.src
                     GROUP BY u.dst, l.label),
            p4 AS (SELECT node, label FROM (
                       SELECT node, label, row_number() OVER (
                         PARTITION BY node
                         ORDER BY cnt DESC, label) AS rn FROM v4)
                     WHERE rn = 1),
            l4 AS (SELECT n.node, coalesce(p.label, n.node) AS label
                     FROM nodes n LEFT JOIN p4 p USING (node))"""


def q_density_labels(spark, sf):
    """Per-line density labels (functions/densitytext.py::line_density,
    boilerpipe/jusText shallow features): LONG lines are content, SHORT
    are chrome, MEDIUM lines inherit from an adjacent LONG neighbor
    (the context-smoothing lever)."""
    from barkingowl_spark.functions.densitytext import line_density

    return line_density(_t(spark, sf, "documents"))


def q_density_clean(spark, sf):
    """Main-content extraction (functions/densitytext.py::
    density_clean): content lines re-joined in order, kept_ppm the
    hygiene gate signal; groupBy rides the window's doc-keyed
    exchange."""
    from barkingowl_spark.functions.densitytext import density_clean

    return density_clean(_t(spark, sf, "documents"))


def q_ams_tokens(spark, sf):
    """AMS/Tug-of-War F2 sketch (functions/ams.py): the corpus token
    stream's self-join size (sum of squared counts — the shuffle-size
    predictor) estimated from 5 sign sums, next to the exact value."""
    from barkingowl_spark.functions.ams import ams_audit

    d = _t(spark, sf, "documents")
    toks = d.select(
        F.explode(F.expr("filter(split(text, ' '), x -> x <> '')"))
        .alias("key"))
    return ams_audit(toks, depth=5)


def _round_number() -> int:
    """Driver round inferred from the CORRECTNESS_r*.json files the
    harness leaves in the repo root (r1's gate ran before r1's file
    existed, so count + 1). Used only to rotate queries() ordering."""
    import glob
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r0*(\d+)\.json$", f))
    ]
    return (max(rounds) + 1) if rounds else 1


# Union of the queries the DRIVER's own correctness gate sampled in
# rounds 1-4 (keys of CORRECTNESS_r0{1..4}.json, frozen 2026-08-21).
# Rotation for round 5+ puts queries OUTSIDE this set first, so each
# new gate lands on never-driver-checked territory (r4 verdict item
# 5: seed the shift off the r1-r4 UNION, not just the last round).
_DRIVER_CHECKED_R1_R4 = frozenset({
    "ams_tokens", "ann_ivf_assign", "ann_ivf_topk", "ann_ivfpq_topk",
    "ann_lsh_assign", "ann_lsh_topk", "ann_pq_topk", "bpe_merges",
    "canonical_resolve", "cdc_near_dup", "chunk_overlap", "cms_tokens",
    "dedup_components", "dedup_embed_cosine", "dedup_exact",
    "dedup_jaccard", "dedup_minhash_lsh", "dedup_minhash_sigs",
    "dedup_semantic", "dedup_simhash", "dedup_simhash_near",
    "dedup_weights", "density_clean", "density_labels",
    "doc_fingerprint", "doc_winnow_fp", "dsir_sample", "dust_canon",
    "dust_rules", "emb_sq8", "eval_compromise", "events_sessionize",
    "focused_frontier", "frontier_coverage", "gopher_quality",
    "graph_adamic", "graph_bowtie", "graph_cocite",
    "graph_communities", "graph_degree", "graph_diameter",
    "graph_entropy", "graph_harmonic", "graph_hits", "graph_host_agg",
    "graph_hyperball", "graph_indegree_skew", "graph_kcore",
    "graph_linkpred", "graph_modularity", "graph_pagerank",
    "graph_pagerank_delta", "graph_reciprocal", "graph_salsa",
    "graph_scc", "graph_triangles", "graph_walks", "graph_wcc",
    "hll_shingles", "host_quotas", "host_scorecard",
    "kmv_host_distinct", "kmv_host_overlap", "mix_epochs_out",
    "mix_report", "mix_sample", "mix_stratified", "mix_temperature",
    "mm_bmp_ahash", "mm_bmp_decode", "mm_cross_format_pairs",
    "mm_decode_stub", "mm_frame_sample", "mm_gif_ahash",
    "mm_gif_decode", "mm_gif_frames", "mm_gif_resize",
    "mm_gif_video_pairs", "mm_jpeg_ahash", "mm_jpeg_decode",
    "mm_jpeg_resize", "mm_resize_stub", "o12_anti_join_dedup",
    "o12_cuckoo_evict", "o12_semi_probe", "o14_config_join",
    "o15_doc_type_match", "o16_metrics_rollup", "o16_wave_counters",
    "o17_cardinality", "o18_bfs_order", "o19_first_discovery",
    "o1_recrawl_due", "o20_politeness_topk", "o20_robots_filter",
    "o20_scored_topk", "o21_queue_intersect", "o21_union_dedup",
    "o26_time_rollup", "o27_text_extract", "o5_fetch_join",
    "o7_link_extract", "o8_canonicalize", "o9_scope_filter",
    "pq_codes", "robots_sitemaps", "search_hybrid", "search_mmr",
    "search_nqc", "search_rbo", "sim_topk_cosine", "sim_topk_dot",
    "sitemap_coverage", "sitemap_parse", "sitemap_seeds",
    "source_hhi", "split_assign", "text_boilerplate",
    "text_bpe_tokens", "text_decontam", "text_entropy", "text_langid",
    "text_paradedup", "text_quality", "text_repetition",
    "text_token_stats", "text_top_bigram", "tok_unigram_em",
    "tok_unigram_segment", "tok_unigram_vocab", "trap_signals",
    "url_filter", "winnow_pairs",
})


def _rotated(d: dict) -> dict:
    """Round-seeded ordering (r3 verdict item 5, r4 verdict item 5):
    the driver's correctness gate samples the FIRST 50 queries, and a
    stable registration order meant rounds 2 and 3 sampled the same
    slice — queries 51+ were never driver-checked. Reverse
    registration order (newest operators first, so each round's
    additions are sampled the round they land); from round 5 on, the
    queries the driver has NEVER sampled (complement of the frozen
    r1-r4 union above) come first, rotated left by 50 per round, so
    successive gates walk fresh slices of the unseen inventory before
    re-treading checked ground (the pytest-side analogue is
    tests/test_oracle_rotation.py, which value-hash-sweeps a rotating
    ~52-query slice every suite run)."""
    names = list(d)
    names.reverse()
    rnd = _round_number()
    if rnd < 5:
        k = (max(0, rnd - 4) * 50) % max(1, len(names))
        return {n: d[n] for n in names[k:] + names[:k]}
    unseen = [n for n in names if n not in _DRIVER_CHECKED_R1_R4]
    seen = [n for n in names if n in _DRIVER_CHECKED_R1_R4]
    k = ((rnd - 5) * 50) % max(1, len(unseen))
    ordered = unseen[k:] + unseen[:k] + seen
    return {n: d[n] for n in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotated({
        "o5_fetch_join": q_o5_fetch_join,
        "o7_link_extract": q_o7_link_extract,
        "o8_canonicalize": q_o8_canonicalize,
        "o9_scope_filter": q_o9_scope_filter,
        "o12_anti_join_dedup": q_o12_anti_join_dedup,
        "o14_config_join": q_o14_config_join,
        "o15_doc_type_match": q_o15_doc_type_match,
        "o16_wave_counters": q_o16_wave_counters,
        "o16_metrics_rollup": q_o16_metrics_rollup,
        "o17_cardinality": q_o17_cardinality,
        "o12_semi_probe": q_o12_semi_probe,
        "o12_cuckoo_evict": q_o12_cuckoo_evict,
        "graph_degree": q_graph_degree,
        "graph_pagerank": q_graph_pagerank,
        "graph_host_agg": q_graph_host_agg,
        "frontier_coverage": q_frontier_coverage,
        "graph_hits": q_graph_hits,
        "graph_kcore": q_graph_kcore,
        "graph_adamic": q_graph_adamic,
        "graph_linkpred": q_graph_linkpred,
        "graph_walks": q_graph_walks,
        "graph_triangles": q_graph_triangles,
        "graph_indegree_skew": q_graph_indegree_skew,
        "source_hhi": q_source_hhi,
        "graph_salsa": q_graph_salsa,
        "graph_scc": q_graph_scc,
        "graph_wcc": q_graph_wcc,
        "graph_pagerank_delta": q_graph_pagerank_delta,
        "graph_bowtie": q_graph_bowtie,
        "cdc_near_dup": q_cdc_near_dup,
        "graph_hyperball": q_graph_hyperball,
        "graph_harmonic": q_graph_harmonic,
        "graph_diameter": q_graph_diameter,
        "kmv_host_distinct": q_kmv_host_distinct,
        "kmv_host_overlap": q_kmv_host_overlap,
        "sitemap_parse": q_sitemap_parse,
        "sitemap_gz": q_sitemap_gz,
        "sitemap_seeds": q_sitemap_seeds,
        "sitemap_coverage": q_sitemap_coverage,
        "trap_signals": q_trap_signals,
        "dust_rules": q_dust_rules,
        "dust_canon": q_dust_canon,
        "o20_scored_topk": q_o20_scored_topk,
        "text_boilerplate": q_text_boilerplate,
        "text_decontam": q_text_decontam,
        "text_paradedup": q_text_paradedup,
        "mix_sample": q_mix_sample,
        "mix_report": q_mix_report,
        "text_entropy": q_text_entropy,
        "text_repetition": q_text_repetition,
        "text_top_bigram": q_text_top_bigram,
        "pii_scan": q_pii_scan,
        "pii_redact": q_pii_redact,
        "shard_assign": q_shard_assign,
        "shard_manifest": q_shard_manifest,
        "o18_bfs_order": q_o18_bfs_order,
        "o19_first_discovery": q_o19_first_discovery,
        "o20_politeness_topk": q_o20_politeness_topk,
        "o20_robots_filter": q_o20_robots_filter,
        "o20_host_budget": q_o20_host_budget,
        "robots_wildcard": q_robots_wildcard,
        "robots_parse": q_robots_parse,
        "robots_delay": q_robots_delay,
        "o21_union_dedup": q_o21_union_dedup,
        "o21_queue_intersect": q_o21_queue_intersect,
        "o26_time_rollup": q_o26_time_rollup,
        "o27_text_extract": q_o27_text_extract,
        "o1_recrawl_due": q_o1_recrawl_due,
        "events_sessionize": q_events_sessionize,
        "events_asof": q_events_asof,
        "events_burstiness": q_events_burstiness,
        "events_periodicity": q_events_periodicity,
        "events_anomaly": q_events_anomaly,
        "events_cusum": q_events_cusum,
        "events_ewma": q_events_ewma,
        "events_forecast_skill": q_events_forecast_skill,
        "events_persistence": q_events_persistence,
        "events_srm": q_events_srm,
        "events_markov": q_events_markov,
        "events_affinity": q_events_affinity,
        "mm_captions": q_mm_captions,
        "html_outline": q_html_outline,
        "emb_pca_power": q_emb_pca_power,
        "emb_kcenter": q_emb_kcenter,
        "emb_sgns_round": q_emb_sgns_round,
        "events_funnel": q_events_funnel,
        "events_funnel_report": q_events_funnel_report,
        "events_retention": q_events_retention,
        "events_actives": q_events_actives,
        "hdr_len_quantiles": q_hdr_len_quantiles,
        "url_path_tree": q_url_path_tree,
        "meta_robots": q_meta_robots,
        "feed_parse": q_feed_parse,
        "feed_discover": q_feed_discover,
        "hreflang_parse": q_hreflang_parse,
        "hreflang_clusters": q_hreflang_clusters,
        "host_budget_select": q_host_budget_select,
        "search_snippet": q_search_snippet,
        "text_collocations": q_text_collocations,
        "text_textrank": q_text_textrank,
        "text_keyness": q_text_keyness,
        "text_vocab_coverage": q_text_vocab_coverage,
        "search_grep": q_search_grep,
        "events_interval": q_events_interval,
        "events_change_audit": q_events_change_audit,
        "events_change_sla": q_events_change_sla,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_setjoin": q_dedup_setjoin,
        "simjoin_cosine": q_simjoin_cosine,
        "cdc_chunks": q_cdc_chunks,
        "cdc_dedup": q_cdc_dedup,
        "dedup_minhash_sigs": q_dedup_minhash_sigs,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_bbit": q_dedup_bbit,
        "dedup_containment": q_dedup_containment,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_near": q_dedup_simhash_near,
        "dedup_simhash64": q_dedup_simhash64,
        "dedup_simhash64_near": q_dedup_simhash64_near,
        "dedup_components": q_dedup_components,
        "ann_lsh_assign": q_ann_lsh_assign,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_lsh_multi": q_ann_lsh_multi,
        "sim_topk_dot": q_sim_topk_dot,
        "sim_topk_cosine": q_sim_topk_cosine,
        "sim_margin_pairs": q_sim_margin_pairs,
        "events_trend": q_events_trend,
        "audio_wav_peaks": q_audio_wav_peaks,
        "audio_flac_peaks": q_audio_flac_peaks,
        "dedup_embed_cosine": q_dedup_embed_cosine,
        "ann_ivf_assign": q_ann_ivf_assign,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_nprobe": q_ann_ivf_nprobe,
        "text_token_stats": q_text_token_stats,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "doc_fingerprint": q_doc_fingerprint,
        "text_bpe_tokens": q_text_bpe_tokens,
        "doc_winnow_fp": q_doc_winnow_fp,
        "mm_decode_stub": q_mm_decode_stub,
        "mm_phash": q_mm_phash,
        "mm_phash_pairs": q_mm_phash_pairs,
        "mm_video_frames": q_mm_video_frames,
        "mm_video_pairs": q_mm_video_pairs,
        "mm_resize_stub": q_mm_resize_stub,
        "mm_frame_sample": q_mm_frame_sample,
        "mm_png_decode": q_mm_png_decode,
        "mm_png_ahash": q_mm_png_ahash,
        "mm_png_resize": q_mm_png_resize,
        "redirect_resolve": q_redirect_resolve,
        "anchor_rollup": q_anchor_rollup,
        "idx_postings": q_idx_postings,
        "idx_merge_tf": q_idx_merge_tf,
        "idx_merge_df": q_idx_merge_df,
        "idx_positions": q_idx_positions,
        "search_phrase": q_search_phrase,
        "idx_topk_terms": q_idx_topk_terms,
        "crawl_diff": q_crawl_diff,
        "o20_waterfill": q_o20_waterfill,
        "pack_chunks": q_pack_chunks,
        "text_len_pctl": q_text_len_pctl,
        "dupspan_spans": q_dupspan_spans,
        "dupspan_cut": q_dupspan_cut,
        "recrawl_rates": q_recrawl_rates,
        "recrawl_schedule": q_recrawl_schedule,
        "fetch_revalidate": q_fetch_revalidate,
        "fetch_reval_savings": q_fetch_reval_savings,
        "suffix_ranks": q_suffix_ranks,
        "audio_landmarks": q_audio_landmarks,
        "audio_match": q_audio_match,
        "suffix_dup8": q_suffix_dup8,
        "suffix_lcp8": q_suffix_lcp8,
        "mix_epoch_plan": q_mix_epoch_plan,
        "dedup_keep_best": q_dedup_keep_best,
        "cdx_index": q_cdx_index,
        "politeness_timeline": q_politeness_timeline,
        "politeness_audit": q_politeness_audit,
        "dedup_lsh_plan": q_dedup_lsh_plan,
        "sample_neyman": q_sample_neyman,
        "idx_tiers": q_idx_tiers,
        "depth_quality_corr": q_depth_quality_corr,
        "url_dates": q_url_dates,
        "url_pagination": q_url_pagination,
        "fetch_backoff": q_fetch_backoff,
        "graph_trustrank": q_graph_trustrank,
        "graph_ppr": q_graph_ppr,
        "graph_landmark_bfs": q_graph_landmark_bfs,
        "graph_dist_est": q_graph_dist_est,
        "graph_opic": q_graph_opic,
        "graph_spam_mass": q_graph_spam_mass,
        "trap_templates": q_trap_templates,
        "c4_clean": q_c4_clean,
        "c4_stats": q_c4_stats,
        "mirror_pairs": q_mirror_pairs,
        "mirror_replicas": q_mirror_replicas,
        "lm_surprisal": q_lm_surprisal,
        "lm_buckets": q_lm_buckets,
        "lm_bigram_model": q_lm_bigram_model,
        "lm_bigram_surprisal": q_lm_bigram_surprisal,
        "search_bm25": q_search_bm25,
        "search_bm25f": q_search_bm25f,
        "search_qld": q_search_qld,
        "url_site": q_url_site,
        "url_site_rollup": q_url_site_rollup,
        "search_runs": q_search_runs,
        "search_eval": q_search_eval,
        "search_ndcg": q_search_ndcg,
        "search_bpref": q_search_bpref,
        "search_eval_macro": q_search_eval_macro,
        "search_rm3_terms": q_search_rm3_terms,
        "search_rm3": q_search_rm3,
        "idx_compress": q_idx_compress,
        "shard_cori": q_shard_cori,
        "dedup_lsh_recall": q_dedup_lsh_recall,
        "sched_ucb": q_sched_ucb,
        "trap_soft404": q_trap_soft404,
        "mm_sniff_mime": q_mm_sniff_mime,
        "events_health_windows": q_events_health_windows,
        "search_rm3_eval": q_search_rm3_eval,
        "lang_confusion": q_lang_confusion,
        "host_health": q_host_health,
        "cache_hit_curve": q_cache_hit_curve,
        "events_gini": q_events_gini,
        "text_zipf": q_text_zipf,
        "text_lexdiv": q_text_lexdiv,
        "text_term_burst": q_text_term_burst,
        "text_scripts": q_text_scripts,
        "emb_health": q_emb_health,
        "graph_ktruss": q_graph_ktruss,
        "text_oov_rate": q_text_oov_rate,
        "idx_champions": q_idx_champions,
        "text_vocab_growth": q_text_vocab_growth,
        "graph_assortativity": q_graph_assortativity,
        "search_mincover": q_search_mincover,
        "dedup_threshold_curve": q_dedup_threshold_curve,
        "dedup_triplets": q_dedup_triplets,
        "search_qpp": q_search_qpp,
        "text_novelty": q_text_novelty,
        "idx_compress_rollup": q_idx_compress_rollup,
        "sample_priority": q_sample_priority,
        "sample_priority_est": q_sample_priority_est,
        "idx_blockmax": q_idx_blockmax,
        "idx_blockmax_prune": q_idx_blockmax_prune,
        "ring_assign": q_ring_assign,
        "hrw_assign": q_hrw_assign,
        "ring_moves": q_ring_moves,
        "events_rate_windows": q_events_rate_windows,
        "events_cms_windows": q_events_cms_windows,
        "events_zorder": q_events_zorder,
        "events_hilbert": q_events_hilbert,
        "events_layout_audit": q_events_layout_audit,
        "events_rate_alerts": q_events_rate_alerts,
        "aimd_rates": q_aimd_rates,
        "clf_scores": q_clf_scores,
        "clf_kappa": q_clf_kappa,
        "clf_calibration": q_clf_calibration,
        "clf_ece": q_clf_ece,
        "clf_auc": q_clf_auc,
        "clf_ap": q_clf_ap,
        "clf_brier": q_clf_brier,
        "dist_shift_ks": q_dist_shift_ks,
        "dist_shift_emd": q_dist_shift_emd,
        "clf_label_noise": q_clf_label_noise,
        "clf_mcc": q_clf_mcc,
        "clf_fleiss": q_clf_fleiss,
        "clf_mcnemar": q_clf_mcnemar,
        "text_readability": q_text_readability,
        "text_mojibake": q_text_mojibake,
        "lm_kn_bigram": q_lm_kn_bigram,
        "lm_source_kl": q_lm_source_kl,
        "search_suggest": q_search_suggest,
        "search_spell": q_search_spell,
        "dedup_editdist": q_dedup_editdist,
        "graph_densest": q_graph_densest,
        "emb_matryoshka": q_emb_matryoshka,
        "emb_sq8": q_emb_sq8,
        "focused_frontier": q_focused_frontier,
        "dsir_sample": q_dsir_sample,
        "host_scorecard": q_host_scorecard,
        "host_quotas": q_host_quotas,
        "graph_reciprocal": q_graph_reciprocal,
        "split_assign": q_split_assign,
        "winnow_pairs": q_winnow_pairs,
        "gopher_quality": q_gopher_quality,
        "url_filter": q_url_filter,
        "mix_epochs_out": q_mix_epochs_out,
        "search_hybrid": q_search_hybrid,
        "search_mmr": q_search_mmr,
        "search_rbo": q_search_rbo,
        "search_nqc": q_search_nqc,
        "pq_codes": q_pq_codes,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "dedup_weights": q_dedup_weights,
        "eval_compromise": q_eval_compromise,
        "hll_shingles": q_hll_shingles,
        "cms_tokens": q_cms_tokens,
        "mix_temperature": q_mix_temperature,
        "chunk_overlap": q_chunk_overlap,
        "robots_sitemaps": q_robots_sitemaps,
        "dedup_semantic": q_dedup_semantic,
        "bpe_merges": q_bpe_merges,
        "tok_unigram_vocab": q_tok_unigram_vocab,
        "tok_unigram_segment": q_tok_unigram_segment,
        "tok_unigram_em": q_tok_unigram_em,
        "graph_entropy": q_graph_entropy,
        "canonical_resolve": q_canonical_resolve,
        "ams_tokens": q_ams_tokens,
        "graph_cocite": q_graph_cocite,
        "mix_stratified": q_mix_stratified,
        "graph_communities": q_graph_communities,
        "graph_modularity": q_graph_modularity,
        "density_labels": q_density_labels,
        "density_clean": q_density_clean,
        # r4 additions — registered LAST so the newest-first rotation
        # samples them in the round they land
        "mm_jpeg_decode": q_mm_jpeg_decode,
        "mm_jpeg_ahash": q_mm_jpeg_ahash,
        "mm_jpeg_resize": q_mm_jpeg_resize,
        "mm_gif_decode": q_mm_gif_decode,
        "mm_gif_ahash": q_mm_gif_ahash,
        "mm_gif_resize": q_mm_gif_resize,
        "mm_cross_format_pairs": q_mm_cross_format_pairs,
        "mm_gif_frames": q_mm_gif_frames,
        "mm_gif_video_pairs": q_mm_gif_video_pairs,
        "mm_bmp_decode": q_mm_bmp_decode,
        "mm_bmp_ahash": q_mm_bmp_ahash,
        "mm_webp_decode": q_mm_webp_decode,
        "mm_webp_ahash": q_mm_webp_ahash,
        "mm_webp_resize": q_mm_webp_resize,
        "mm_tiff_decode": q_mm_tiff_decode,
        "mm_tiff_ahash": q_mm_tiff_ahash,
        "mm_tiff_resize": q_mm_tiff_resize,
        "mm_bmp_resize": q_mm_bmp_resize,
        "mm_tiffjpeg_decode": q_mm_tiffjpeg_decode,
        "mm_tiffjpeg_ahash": q_mm_tiffjpeg_ahash,
        "mm_bmp_embed_decode": q_mm_bmp_embed_decode,
        "mm_bmp_embed_ahash": q_mm_bmp_embed_ahash,
        "audio_aiff_peaks": q_audio_aiff_peaks,
        "mm_ico_decode": q_mm_ico_decode,
        "mm_ico_ahash": q_mm_ico_ahash,
        "zip_members": q_zip_members,
        "tar_members": q_tar_members,
        "audio_g711": q_audio_g711,
        "office_texts": q_office_texts,
        "xlsx_cells": q_xlsx_cells,
        "xls_cells": q_xls_cells,
        "ppt_texts": q_ppt_texts,
        "document_texts": q_document_texts,
        "rtf_texts": q_rtf_texts,
        "eml_texts": q_eml_texts,
        "mbox_texts": q_mbox_texts,
        "epub_texts": q_epub_texts,
        "meta_opengraph": q_meta_opengraph,
        "svg_dims": q_svg_dims,
        "cfb_members": q_cfb_members,
        "doc_texts": q_doc_texts,
        "pdf_texts": q_pdf_texts,
        "pdf_texts_xs": q_pdf_texts_xs,
    })


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)

def _ndcg_w_sql(k: int = 10) -> str:
    """DuckDB list literal of the SAME fixed-point DCG discounts the
    Spark plan embeds (one Python source of truth — no engine log)."""
    from barkingowl_spark.operators.ireval import dcg_weights

    return "[" + ", ".join(str(x) for x in dcg_weights(k)) + "]"


_QUANT_SQL = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000)"
    " AS BIGINT))"
)
_DOT_SQL = (
    "CAST(list_sum(list_transform(range(1, len(qv) + 1),"
    " i -> qv[i] * v[i])) AS BIGINT)"
)

_SHINGLE_CTE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
  FROM t WHERE len(w) >= 3
)
"""

# Shazam-landmark parity (operators/audiofp.py): same 128-char track
# strings, same strict-rise/gte-fall stub peaks (t = 0-based byte),
# same (f1*256+f2)*64+dt hash, fanout 3 within 16 frames
_AUDIO_LM_CTE = """
WITH tr AS (
  SELECT doc_id AS track_id,
         md5('trk#' || CAST(doc_id AS VARCHAR) || '#0')
      || md5('trk#' || CAST(doc_id AS VARCHAR) || '#1')
      || md5('trk#' || CAST(doc_id AS VARCHAR) || '#2')
      || md5('trk#' || CAST(doc_id AS VARCHAR) || '#3') AS s
  FROM documents
), pk AS (
  SELECT track_id, i - 1 AS t, ascii(substr(s, i, 1)) AS f
  FROM tr, (SELECT unnest(range(2, 128)) AS i)
  WHERE ascii(substr(s, i - 1, 1)) < ascii(substr(s, i, 1))
    AND ascii(substr(s, i, 1)) >= ascii(substr(s, i + 1, 1))
), lm AS (
  SELECT track_id, t1,
         CAST((f1 * 256 + f2) * 64 + dt AS BIGINT) AS h
  FROM (
    SELECT a.track_id, a.t AS t1, a.f AS f1, b.f AS f2,
           b.t - a.t AS dt,
           row_number() OVER (PARTITION BY a.track_id, a.t
                              ORDER BY b.t) AS rn
    FROM pk a JOIN pk b ON a.track_id = b.track_id
         AND b.t > a.t AND b.t - a.t <= 16)
  WHERE rn <= 3
)
"""

# content-defined chunking parity (operators/cdc.py): 1-based cut
# position j marks a chunk end where the w-token window hash masks out
_CDC_CHUNKS_CTE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tok
  FROM documents WHERE text IS NOT NULL
), ct AS (
  SELECT doc_id, tok,
         list_sort(list_distinct(list_concat(
           CASE WHEN len(tok) >= 4 THEN
             list_filter(range(4, len(tok) + 1),
               j -> CAST(('0x' || substring(md5('cdc#' ||
                    array_to_string(tok[j - 3:j], ' ')), 1, 15))
                    AS BIGINT) % 8 = 0)
           ELSE [] END,
           [CAST(len(tok) AS BIGINT)]))) AS cuts
  FROM t
), ch AS (
  SELECT doc_id,
         CAST(k - 1 AS INT) AS chunk_idx,
         md5(array_to_string(
             tok[CASE WHEN k = 1 THEN 1 ELSE cuts[k - 1] + 1 END
                 : cuts[k]], ' ')) AS fp,
         CAST(cuts[k] - CASE WHEN k = 1 THEN 0 ELSE cuts[k - 1] END
              AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, tok, cuts,
               unnest(generate_series(1, len(cuts))) AS k
        FROM ct)
)
"""

# suffix ranks after 3 prefix-doubling rounds (operators/suffixes.py
# parity): the doubling invariant says rank_3[i] is the dense rank of
# the 8-token sentinel-padded prefix of suffix i, so the oracle builds
# those prefixes directly (frame window) and dense-ranks them
_SUFFIX_RANKS_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
  FROM documents
), stream AS (
  SELECT doc_id, p AS pos,
         CASE WHEN p <= len(w) THEN w[p]
              ELSE chr(1) || '#' || CAST(doc_id AS VARCHAR)
         END AS term
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) + 1)) AS p
        FROM toks)
), g AS (
  SELECT doc_id, pos, term,
         row_number() OVER (ORDER BY doc_id, pos) AS gpos
  FROM stream
), tr AS (
  SELECT gpos, CAST(dense_rank() OVER (ORDER BY term) AS BIGINT) AS r0
  FROM g
), seq AS (
  SELECT gpos, list(r0) OVER (
      ORDER BY gpos ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS l
  FROM tr
), pad AS (
  SELECT gpos,
         l || list_transform(range(8 - len(l)),
                             x -> CAST(-1 AS BIGINT)) AS pl
  FROM seq
), sr AS (
  SELECT CAST(gpos AS BIGINT) AS gpos,
         CAST(dense_rank() OVER (ORDER BY pl) AS BIGINT) AS rank
  FROM pad
)
"""

# host-keyed distinct-3-gram KMV sketch (operators/kmv.py parity):
# same tokens (split on single space, '' kept), same 'kmv#' draw,
# k = 32 smallest distinct h per host
_KMV_SKETCH_CTE = """
WITH t AS (
  SELECT source, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
), shg AS (
  SELECT source,
         unnest(list_distinct(list_transform(range(1, len(w) - 1),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS shingle
  FROM t WHERE len(w) >= 3
), hs AS (
  SELECT DISTINCT source AS grp,
         CAST(('0x' || substring(md5('kmv#' || shingle), 1, 15))
              AS BIGINT) AS h
  FROM shg
), sk AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (
        PARTITION BY grp ORDER BY h) AS rn
    FROM hs) WHERE rn <= 32
)
"""

_SIG_SELECTS = ", ".join(
    f"list_min(list_transform(sh, s -> md5(s || '#{i}'))) AS sig_{i}"
    for i in range(8)
)

_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id,"
    f" sig_{2*b} || '|' || sig_{2*b+1} AS band_key FROM sig"
    for b in range(4)
)


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(2 * ((h >> {j}) & 1) - 1) AS v{j}" for j in range(16)
    )
    bits = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks
), votes AS (
  SELECT doc_id, {votes} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
"""


def _simhash_near_sql(max_hamming: int = 3) -> str:
    return f"""
WITH s AS ({_simhash_sql()}),
bands AS (
  SELECT doc_id, simhash, b.band_id,
         (simhash >> (4 * b.band_id)) & 15 AS band_bits
  FROM s, (SELECT unnest(range(4)) AS band_id) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_bits = b.band_bits
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
"""


def _simhash64_sql() -> str:
    # bits 0..59 from the low 60 bits of md5 (15 hex chars), 60..63 from
    # hex char 16; bit 63 packs as LONG_MIN (disjoint bits: sum == OR)
    votes = ", ".join(
        f"sum(2 * ((h >> {j}) & 1) - 1) AS v{j}" if j < 60 else
        f"sum(2 * ((hh >> {j - 60}) & 1) - 1) AS v{j}"
        for j in range(64)
    )
    bits = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" if j < 63 else
        f"(CASE WHEN v{j} > 0 THEN {-(1 << 63)} ELSE 0 END)"
        for j in range(64)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h,
         CAST(('0x' || substring(md5(tok), 16, 1)) AS BIGINT) AS hh
  FROM toks
), votes AS (
  SELECT doc_id, {votes} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash64 FROM votes
"""


def _simhash64_near_sql(max_hamming: int = 3) -> str:
    return f"""
WITH s AS ({_simhash64_sql()}),
bands AS (
  SELECT doc_id, simhash64, b.band_id,
         (simhash64 >> (16 * b.band_id)) & 65535 AS band_bits
  FROM s, (SELECT unnest(range(4)) AS band_id) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash64 AS sim_a, b.simhash64 AS sim_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_bits = b.band_bits
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
"""


def _lsh_bucket_expr(seed: str = "hp") -> str:
    # the SAME md5-derived hyperplane literals the Spark side inlines
    # (testdata embeddings are dim-64 at every sf)
    planes = hyperplanes(64, 4, seed)
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, len(v) + 1),"
        f" i -> v[i] * ([{', '.join(str(c) for c in p)}])[i])) > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )


def _langid_sql() -> str:
    hit_cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in markers)
        hit_cols.append(
            f"len(list_filter(string_split(text, ' '),"
            f" x -> x IN ({lst}))) AS hits_{lang}"
        )
    best = "greatest(" + ", ".join(f"hits_{la}" for la in LANG_MARKERS) + ")"
    pred = "'und'"
    for lang in reversed(list(LANG_MARKERS)):
        pred = (
            f"CASE WHEN hits_{lang} = {best} AND {best} > 0"
            f" THEN '{lang}' ELSE {pred} END"
        )
    return f"""
WITH h AS (
  SELECT doc_id, lang, {', '.join(hit_cols)} FROM documents
)
SELECT doc_id, {pred} AS pred_lang, ({pred}) = lang AS is_correct FROM h
"""


def _pii_doc_sql() -> str:
    """Planted-PII corpus shared by the pii_scan/pii_redact oracles."""
    return """
        SELECT doc_id, text || ' ' ||
               CASE WHEN doc_id % 5 = 0
                    THEN 'user' || CAST(doc_id AS VARCHAR)
                         || '@mail.test'
                    WHEN doc_id % 5 = 1
                    THEN '+1-555'
                         || CAST(1000000 + doc_id AS VARCHAR)
                    ELSE 'clean' END AS t
        FROM documents"""


def _pii_email_pred(t: str) -> str:
    return (
        f"(length({t}) - length(replace({t}, '@', '')) = 1"
        f" AND length(split_part({t}, '@', 1)) >= 1"
        f" AND length(split_part({t}, '@', 2)) >= 3"
        f" AND split_part({t}, '@', 2) LIKE '%.%'"
        f" AND NOT split_part({t}, '@', 2) LIKE '.%'"
        f" AND NOT split_part({t}, '@', 2) LIKE '%.')"
    )


def _pii_phone_pred(t: str) -> str:
    return (
        f"(length(translate({t}, '+-()', '')) >= 7"
        f" AND translate(translate({t}, '+-()', ''),"
        f" '0123456789', '') = '')"
    )


def _pii_scan_sql() -> str:
    email, phone = _pii_email_pred("x"), _pii_phone_pred("x")
    return f"""
        WITH d AS ({_pii_doc_sql()}),
        toks AS (
            SELECT doc_id,
                   list_filter(string_split(
                       replace(t, chr(10), ' '), ' '),
                       x -> x <> '') AS tk
            FROM d)
        SELECT doc_id,
               CAST(len(list_filter(tk, x -> {email})) AS BIGINT)
                   AS email_tokens,
               CAST(len(list_filter(tk,
                        x -> NOT {email} AND {phone})) AS BIGINT)
                   AS phone_tokens,
               len(list_filter(tk, x -> {email})) > 0
                   OR len(list_filter(tk,
                          x -> NOT {email} AND {phone})) > 0
                   AS has_pii
        FROM toks
    """


def _pii_redact_sql() -> str:
    email, phone = _pii_email_pred("t2"), _pii_phone_pred("t2")
    return f"""
        WITH d AS ({_pii_doc_sql()})
        SELECT doc_id,
               array_to_string(list_transform(
                   string_split(t, chr(10)), line ->
                   array_to_string(list_transform(
                       string_split(line, ' '), t2 ->
                       CASE WHEN {email} THEN '<EMAIL>'
                            WHEN {phone} THEN '<PHONE>'
                            ELSE t2 END), ' ')), chr(10))
                   AS text_redacted
        FROM d
    """


def _psl_sql() -> str:
    """publicsuffix.org algorithm over the SAME functions/psl.py rule
    constant (one source of truth for both engines) and the same
    synthetic host mix (_HOST_CASE, STRING->VARCHAR)."""
    from barkingowl_spark.functions.psl import PSL_RULES

    host_case = _HOST_CASE.replace("AS STRING", "AS VARCHAR").replace(
        "concat(", "concat(")
    rules = ", ".join(
        f"('{r}', {'true' if e else 'false'})" for r, e in PSL_RULES)
    return f"""
        WITH hosts AS (
          SELECT DISTINCT {host_case} AS host FROM documents),
        b AS (
          SELECT host, string_split(host, '.') AS labs,
                 len(string_split(host, '.')) AS n
          FROM hosts),
        cand AS (
          SELECT host, labs, n, take
          FROM b, (SELECT unnest(generate_series(1, 8)) AS take)
          WHERE take <= n),
        forms AS (
          SELECT host, n, take,
                 array_to_string(labs[n - take + 1 : n], '.') AS form,
                 1 AS is_exact
          FROM cand
          UNION ALL
          SELECT host, n, take,
                 '*.' || array_to_string(labs[n - take + 2 : n], '.'),
                 0
          FROM cand WHERE take >= 2),
        rules(form, is_exc) AS (VALUES {rules}),
        m AS (
          SELECT f.host,
                 CASE WHEN r.is_exc THEN 1048576 ELSE 0 END
                   + f.take * 4 + f.is_exact AS prio,
                 CASE WHEN r.is_exc THEN f.take - 1
                      ELSE f.take END AS ps_take
          FROM forms f JOIN rules r ON r.form = f.form),
        best AS (SELECT host, max(prio) AS prio FROM m GROUP BY host),
        prev AS (SELECT m.host, m.ps_take
                 FROM m JOIN best USING (host, prio)),
        res AS (
          SELECT b.host, coalesce(p.ps_take, 1) AS k, b.labs, b.n
          FROM b LEFT JOIN prev p USING (host)),
        split AS (
          SELECT host,
                 array_to_string(labs[n - k + 1 : n], '.')
                   AS public_suffix,
                 CASE WHEN n > k THEN labs[n - k] || '.'
                      || array_to_string(labs[n - k + 1 : n], '.')
                 END AS registrable
          FROM res)
    """


def _duck_zexpr(xc: str, yc: str, bits: int = 16) -> str:
    """DuckDB Morton interleave matching functions/zorder.zvalue_expr
    ([x, y] column order: x bits at even positions)."""
    terms = [f"((({xc} >> {i}) & 1) << {2 * i})" for i in range(bits)]
    terms += [f"((({yc} >> {i}) & 1) << {2 * i + 1})"
              for i in range(bits)]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _trustrank_sql(n_iter: int = 3) -> str:
    """Unrolled TrustRank recurrence (same shape as graph_pagerank's
    oracle, teleport restricted to the node%17==0 seeds)."""
    base_case = (
        "CASE WHEN tr.node IS NOT NULL THEN"
        " 15000000000000 // (100 * tc.n) ELSE 0 END"
    )
    parts = [
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "tr AS (SELECT node FROM nodes WHERE node % 17 = 0)",
        "tc AS (SELECT count(*) AS n FROM tr)",
        "od AS (SELECT src AS node, count(*) AS outdeg"
        " FROM edges GROUP BY src)",
        "r0 AS (SELECT nodes.node, CASE WHEN tr.node IS NOT NULL THEN"
        " 1000000000000 // tc.n ELSE 0 END AS trust_fp"
        " FROM nodes CROSS JOIN tc"
        " LEFT JOIN tr ON tr.node = nodes.node)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"s{i} AS (SELECT e.dst AS node,"
            f" CAST(SUM((r.trust_fp * 85) // (100 * o.outdeg))"
            f" AS BIGINT) AS inflow"
            f" FROM edges e JOIN r{i-1} r ON r.node = e.src"
            f" JOIN od o ON o.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node, {base_case}"
            f" + COALESCE(s{i}.inflow, 0) AS trust_fp"
            f" FROM nodes CROSS JOIN tc"
            f" LEFT JOIN tr ON tr.node = nodes.node"
            f" LEFT JOIN s{i} ON s{i}.node = nodes.node)"
        )
    return (
        f"WITH {_EDGES_SQL}, " + ", ".join(parts)
        + f" SELECT node, CAST(trust_fp AS BIGINT) AS trust_fp"
          f" FROM r{n_iter}"
    )


def _ppr_sql(n_iter: int = 3) -> str:
    """Unrolled SPARSE multi-seed PPR recurrence (graph_ppr's oracle):
    per round one inflow agg keyed (seed, node) plus the UNION ALL
    base re-injection — mirrors ppr_fixed exactly, dangling mass
    dropped on both sides."""
    parts = [
        "sd AS (SELECT node FROM (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges) WHERE node % 17 = 0)",
        "od AS (SELECT src AS node, count(*) AS outdeg"
        " FROM edges GROUP BY src)",
        "r0 AS (SELECT node AS seed, node,"
        " CAST(1000000000000 AS BIGINT) AS ppr_fp FROM sd)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"s{i} AS (SELECT r.seed, e.dst AS node,"
            f" CAST(SUM((r.ppr_fp * 85) // (100 * o.outdeg))"
            f" AS BIGINT) AS ppr_fp"
            f" FROM edges e JOIN r{i-1} r ON r.node = e.src"
            f" JOIN od o ON o.node = e.src GROUP BY r.seed, e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT seed, node, CAST(SUM(v) AS BIGINT)"
            f" AS ppr_fp FROM ("
            f"SELECT seed, node, ppr_fp AS v FROM s{i}"
            f" UNION ALL SELECT node, node, 150000000000 FROM sd)"
            f" GROUP BY seed, node)"
        )
    return (
        f"WITH {_EDGES_SQL}, " + ", ".join(parts)
        + f" SELECT seed, node, ppr_fp FROM r{n_iter}"
    )


def _landmark_sql(n_iter: int = 3, final: str = "bfs") -> str:
    """Unrolled bounded-BFS min-relax rounds (graph_landmark_bfs /
    graph_dist_est oracles): forward chain f0..fN on edges, backward
    chain b0..bN on reversed edges, landmarks node%23==0."""
    parts = [
        "nodesl AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "lm AS (SELECT node FROM nodesl WHERE node % 23 = 0)",
        "redges AS (SELECT dst AS src, src AS dst FROM edges)",
    ]
    for tag, etab in (("f", "edges"), ("b", "redges")):
        parts.append(
            f"{tag}0 AS (SELECT node AS seed, node,"
            f" CAST(0 AS BIGINT) AS dist FROM lm)")
        for i in range(1, n_iter + 1):
            parts.append(
                f"{tag}s{i} AS (SELECT r.seed, e.dst AS node,"
                f" r.dist + 1 AS dist"
                f" FROM {etab} e JOIN {tag}{i-1} r ON r.node = e.src)")
            parts.append(
                f"{tag}{i} AS (SELECT seed, node,"
                f" CAST(MIN(dist) AS BIGINT) AS dist FROM ("
                f"SELECT * FROM {tag}{i-1}"
                f" UNION ALL SELECT * FROM {tag}s{i})"
                f" GROUP BY seed, node)")
    if final == "bfs":
        tail = f"SELECT seed, node, dist FROM f{n_iter}"
    else:
        parts.append(
            f"din AS (SELECT seed, node AS a, dist AS da"
            f" FROM b{n_iter} WHERE node % 53 = 0)")
        parts.append(
            f"dout AS (SELECT seed, node AS b, dist AS db"
            f" FROM f{n_iter} WHERE node % 59 = 0)")
        tail = ("SELECT a AS src_probe, b AS dst_probe,"
                " CAST(min(da + db) AS BIGINT) AS est_dist"
                " FROM din JOIN dout USING (seed) GROUP BY a, b")
    return f"WITH {_EDGES_SQL}, " + ", ".join(parts) + " " + tail


def _opic_sql(n_iter: int = 3) -> str:
    """Unrolled OPIC cash/history recurrence (graph_opic's oracle):
    per round, per-edge cash//outdeg inflow, dangling cash re-spread
    as dangle//N, history accumulates the pre-round cash."""
    parts = [
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nc AS (SELECT count(*) AS n FROM nodes)",
        "od AS (SELECT src AS node, count(*) AS outdeg"
        " FROM edges GROUP BY src)",
        "r0 AS (SELECT node, CAST(1000000000000 // nc.n AS BIGINT)"
        " AS cash, CAST(0 AS BIGINT) AS hist"
        " FROM nodes CROSS JOIN nc)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"s{i} AS (SELECT e.dst AS node,"
            f" CAST(SUM(r.cash // o.outdeg) AS BIGINT) AS inflow"
            f" FROM edges e JOIN r{i-1} r ON r.node = e.src"
            f" JOIN od o ON o.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"d{i} AS (SELECT CAST(COALESCE(SUM(r.cash), 0) AS BIGINT)"
            f" AS dangle FROM r{i-1} r"
            f" LEFT JOIN od o ON o.node = r.node WHERE o.node IS NULL)"
        )
        parts.append(
            f"r{i} AS (SELECT r.node,"
            f" CAST(COALESCE(s{i}.inflow, 0) + d.dangle // nc.n"
            f" AS BIGINT) AS cash,"
            f" CAST(r.hist + r.cash AS BIGINT) AS hist"
            f" FROM r{i-1} r CROSS JOIN d{i} d CROSS JOIN nc"
            f" LEFT JOIN s{i} ON s{i}.node = r.node)"
        )
    return (
        f"WITH {_EDGES_SQL}, " + ", ".join(parts)
        + f" SELECT node, cash AS cash_fp, hist AS hist_fp FROM r{n_iter}"
    )


def _spam_mass_sql(n_iter: int = 3) -> str:
    """Unrolled fused rank/white recurrence (graph_spam_mass's oracle):
    white teleports only to the node%13==0 core at weight 1/N (the
    VLDB'06 non-normalized jump vector)."""
    base = "(15000000000000 // (100 * nc.n))"
    parts = [
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nc AS (SELECT count(*) AS n FROM nodes)",
        "tr AS (SELECT node FROM nodes WHERE node % 13 = 0)",
        "od AS (SELECT src AS node, count(*) AS outdeg"
        " FROM edges GROUP BY src)",
        "r0 AS (SELECT nodes.node,"
        " CAST(1000000000000 // nc.n AS BIGINT) AS rank_fp,"
        " CAST(CASE WHEN tr.node IS NOT NULL THEN 1000000000000 // nc.n"
        " ELSE 0 END AS BIGINT) AS white_fp"
        " FROM nodes CROSS JOIN nc"
        " LEFT JOIN tr ON tr.node = nodes.node)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"s{i} AS (SELECT e.dst AS node,"
            f" CAST(SUM((r.rank_fp * 85) // (100 * o.outdeg))"
            f" AS BIGINT) AS in_rank,"
            f" CAST(SUM((r.white_fp * 85) // (100 * o.outdeg))"
            f" AS BIGINT) AS in_white"
            f" FROM edges e JOIN r{i-1} r ON r.node = e.src"
            f" JOIN od o ON o.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node,"
            f" CAST({base} + COALESCE(s{i}.in_rank, 0) AS BIGINT)"
            f" AS rank_fp,"
            f" CAST(CASE WHEN tr.node IS NOT NULL THEN {base} ELSE 0 END"
            f" + COALESCE(s{i}.in_white, 0) AS BIGINT) AS white_fp"
            f" FROM nodes CROSS JOIN nc"
            f" LEFT JOIN tr ON tr.node = nodes.node"
            f" LEFT JOIN s{i} ON s{i}.node = nodes.node)"
        )
    return (
        f"WITH {_EDGES_SQL}, " + ", ".join(parts)
        + f" SELECT node, rank_fp, white_fp,"
          f" CAST(rank_fp - white_fp AS BIGINT) AS mass_fp,"
          f" CAST(CASE WHEN rank_fp > 0 THEN"
          f" ((rank_fp - white_fp) * 1000000) // rank_fp"
          f" ELSE 0 END AS BIGINT) AS rel_mass_ppm"
          f" FROM r{n_iter}"
    )


def _unigram_sql(kind: str, v: int = 256) -> str:
    """tok_unigram_* oracles: the same substring inventory,
    floor-log2 costs, and packed Viterbi recurrence as
    functions/unigramlm.py, with the MAX_WORD_LEN DP rounds unrolled
    as plain CTEs (b{j} takes the min over the accumulated frontier
    ball{j-1}; no recursive CTE, so the recurrence is literally the
    Spark loop)."""
    from barkingowl_spark.functions.unigramlm import (
        MAX_PIECE_LEN,
        MAX_WORD_LEN,
        PACK,
    )

    head = f"""
        WITH w AS (
          SELECT word, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(coalesce(text, ''), ' '))
              AS word FROM documents)
          WHERE length(word) BETWEEN 1 AND {MAX_WORD_LEN}
          GROUP BY word),
        p1 AS (
          SELECT word, c,
                 CAST(unnest(range(0, length(word))) AS BIGINT) AS i
          FROM w),
        subs AS (
          SELECT word, c, i,
                 CAST(unnest(range(i + 1,
                   least(i + {MAX_PIECE_LEN}, length(word)) + 1))
                   AS BIGINT) AS j
          FROM p1),
        sp AS (
          SELECT word, c, i, j, substr(word, i + 1, j - i) AS piece
          FROM subs),
        mass AS (
          SELECT piece, CAST(sum(c) AS BIGINT) AS mass
          FROM sp GROUP BY piece),
        tot AS (SELECT CAST(sum(mass) AS BIGINT) AS tot FROM mass),
        topv AS (
          SELECT piece, mass FROM mass
          ORDER BY mass DESC, piece LIMIT {int(v)}),
        vocab0 AS (
          SELECT DISTINCT piece, mass FROM (
            SELECT * FROM topv
            UNION ALL
            SELECT piece, mass FROM mass WHERE length(piece) = 1)),
        vocab AS (
          SELECT piece, mass,
                 CAST((length(bin(tot)) - 1)
                      - (length(bin(mass)) - 1) AS BIGINT)
                   AS cost_bits
          FROM vocab0, tot)"""
    if kind == "vocab":
        return head + "\n        SELECT piece, mass, cost_bits FROM vocab"
    # ball{j} is referenced by BOTH b{j+1} and ball{j+1}: without
    # MATERIALIZED, DuckDB inlines the chain and the scan count grows
    # 2^rounds (observed as a too-many-open-files blowup at 12 rounds)
    parts = [head + f""",
        cands AS MATERIALIZED (
          SELECT s.word, s.i, s.j,
                 v.cost_bits * {PACK} + 1 AS step
          FROM sp s JOIN vocab v USING (piece)),
        ball0 AS (
          SELECT word, CAST(0 AS BIGINT) AS j,
                 CAST(0 AS BIGINT) AS pack
          FROM w)"""]
    for j in range(1, MAX_WORD_LEN + 1):
        parts.append(f""",
        b{j} AS (
          SELECT c.word, CAST({j} AS BIGINT) AS j,
                 min(b.pack + c.step) AS pack
          FROM cands c JOIN ball{j - 1} b
            ON b.word = c.word AND b.j = c.i
          WHERE c.j = {j}
          GROUP BY c.word),
        ball{j} AS MATERIALIZED (
          SELECT * FROM ball{j - 1} UNION ALL SELECT * FROM b{j})""")
    if kind == "segment":
        parts.append(f"""
        SELECT w.word, w.c,
               CAST(b.pack // {PACK} AS BIGINT) AS cost_bits,
               CAST(b.pack % {PACK} AS BIGINT) AS n_pieces
        FROM w JOIN ball{MAX_WORD_LEN} b
          ON b.word = w.word AND b.j = length(w.word)""")
        return "".join(parts)
    # kind == "em": backward path walk (ties -> smallest i), piece
    # recount over the recovered paths, EM re-score. h{r} is
    # referenced by BOTH u-side and the next cursor: MATERIALIZED for
    # the same 2^rounds reason as ball{j}.
    parts.append(f""",
        c0 AS (
          SELECT word, CAST(length(word) AS BIGINT) AS cur FROM w)""")
    for r in range(1, MAX_WORD_LEN + 1):
        parts.append(f""",
        h{r} AS MATERIALIZED (
          SELECT c.word, c.cur, min(cd.i) AS i
          FROM c{r - 1} c
          JOIN ball{MAX_WORD_LEN} bj
            ON bj.word = c.word AND bj.j = c.cur
          JOIN cands cd ON cd.word = c.word AND cd.j = c.cur
          JOIN ball{MAX_WORD_LEN} bi
            ON bi.word = cd.word AND bi.j = cd.i
          WHERE c.cur > 0 AND bi.pack + cd.step = bj.pack
          GROUP BY c.word, c.cur),
        c{r} AS (SELECT word, i AS cur FROM h{r})""")
    union = "\n          UNION ALL ".join(
        f"SELECT word, i, cur AS j FROM h{r}"
        for r in range(1, MAX_WORD_LEN + 1))
    parts.append(f""",
        used AS ({union}),
        pe AS (
          SELECT substr(u.word, u.i + 1, u.j - u.i) AS piece, w.c
          FROM used u JOIN w ON w.word = u.word),
        me AS (
          SELECT piece, CAST(sum(c) AS BIGINT) AS mass_em
          FROM pe GROUP BY piece),
        te AS (SELECT CAST(sum(mass_em) AS BIGINT) AS tot FROM me)
        SELECT piece, mass_em,
               CAST((length(bin(tot)) - 1)
                    - (length(bin(mass_em)) - 1) AS BIGINT)
                 AS cost_bits_em
        FROM me, te""")
    return "".join(parts)


def _bpe_sql(n_merges: int = 4) -> str:
    """bpe_merges' oracle: per round, weighted adjacent-pair argmax
    (ties lexicographic), then a POSITIONAL merge application —
    hit-run islands + odd-offset parity — instead of the Spark side's
    left-to-right fold; the two algorithms agree exactly on greedy
    non-overlapping semantics."""
    parts = [
        "toks AS (SELECT t AS word FROM ("
        "  SELECT unnest(string_split(text, ' ')) AS t FROM documents)"
        "  WHERE t <> '' AND regexp_matches(t, '^[a-z]+$'))",
        "wc AS (SELECT word, CAST(count(*) AS BIGINT) AS freq"
        " FROM toks GROUP BY word)",
        "w0 AS (SELECT word, freq,"
        " list_transform(range(1, length(word) + 1), i -> word[i])"
        " AS syms FROM wc)",
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"p{i} AS (SELECT syms[j] AS lhs, syms[j+1] AS rhs,"
            f" CAST(sum(freq) AS BIGINT) AS pf"
            f" FROM w{i-1}, unnest(generate_series(1, len(syms) - 1))"
            f" AS t{i}(j) GROUP BY 1, 2)"
        )
        parts.append(
            f"b{i} AS (SELECT lhs, rhs, pf FROM p{i}"
            f" ORDER BY pf DESC, lhs, rhs LIMIT 1)"
        )
        parts.append(
            f"e{i} AS (SELECT word, freq, j, syms[j] AS s,"
            f" syms[j+1] AS nx"
            f" FROM w{i-1}, unnest(generate_series(1, len(syms)))"
            f" AS u{i}(j))"
        )
        parts.append(
            f"m{i} AS (SELECT e.*, coalesce(e.s = b.lhs"
            f" AND e.nx = b.rhs, FALSE) AS hit"
            f" FROM e{i} e CROSS JOIN b{i} b)"
        )
        parts.append(
            f"h{i} AS (SELECT *, CASE WHEN hit THEN j - row_number()"
            f" OVER (PARTITION BY word, hit ORDER BY j) END AS isl"
            f" FROM m{i})"
        )
        parts.append(
            f"c{i} AS (SELECT *, CASE WHEN hit THEN (row_number()"
            f" OVER (PARTITION BY word, isl ORDER BY j)) % 2 = 1"
            f" ELSE FALSE END AS chosen FROM h{i})"
        )
        parts.append(
            f"r{i} AS (SELECT word, freq, j,"
            f" CASE WHEN chosen THEN s || nx ELSE s END AS sym,"
            f" coalesce(lag(chosen) OVER (PARTITION BY word ORDER BY j),"
            f" FALSE) AS skip FROM c{i})"
        )
        parts.append(
            f"w{i} AS (SELECT word, freq, list(sym ORDER BY j) AS syms"
            f" FROM r{i} WHERE NOT skip GROUP BY word, freq)"
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS rank, lhs, rhs, pf AS pair_freq"
        f" FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ", ".join(parts) + " " + finals


def _isqrt_sql(x: str) -> str:
    """Exact integer sqrt in SQL — same +/-1-corrected double estimate
    as operators/mix.py::_isqrt."""
    s0 = f"CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s0} + 1) * ({s0} + 1) <= {x} THEN {s0} + 1"
        f" WHEN {s0} * {s0} > {x} THEN {s0} - 1 ELSE {s0} END)"
    )


def _mix_temperature_sql() -> str:
    """mix_temperature's oracle: n^(5/8) = r1 * r3 over the isqrt
    chain, quota_ppm = weight * 1e6 // total."""
    return f"""
        WITH c AS (
            SELECT source AS "group", CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source),
        l1 AS (SELECT *, {_isqrt_sql('n_docs')} AS r1 FROM c),
        l2 AS (SELECT *, {_isqrt_sql('r1')} AS r2 FROM l1),
        l3 AS (SELECT *, {_isqrt_sql('r2')} AS r3 FROM l2),
        w AS (SELECT "group", n_docs,
                     CAST(r1 * r3 AS BIGINT) AS weight FROM l3),
        t AS (SELECT CAST(sum(weight) AS BIGINT) AS tw FROM w)
        SELECT "group", n_docs, weight,
               CAST((weight * 1000000) // tw AS BIGINT) AS quota_ppm
        FROM w CROSS JOIN t
    """


_MIRROR_SQL = """
    WITH caps AS (
      SELECT source || '.test' AS host,
             '/p/' || CAST(doc_id AS VARCHAR) AS path,
             md5(coalesce(text, '')) AS digest
      FROM documents
      UNION ALL
      SELECT 'm-' || source || '.test',
             '/p/' || CAST(doc_id AS VARCHAR),
             md5(coalesce(text, ''))
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT 'm-' || source || '.test',
             '/own/' || CAST(doc_id AS VARCHAR),
             md5(coalesce(text, '') || 'x')
      FROM documents WHERE doc_id % 5 = 0),
    t AS (SELECT DISTINCT host, path, digest FROM caps),
    keyn AS (
      SELECT path, digest FROM t GROUP BY path, digest
      HAVING count(*) BETWEEN 2 AND 16),
    t2 AS (SELECT t.* FROM t JOIN keyn USING (path, digest)),
    sh AS (
      SELECT a.host AS host_a, b.host AS host_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM t2 a JOIN t2 b
        ON a.path = b.path AND a.digest = b.digest
       AND a.host < b.host
      GROUP BY 1, 2),
    sizes AS (
      SELECT host, CAST(count(*) AS BIGINT) AS sz FROM t GROUP BY host),
    scored AS (
      SELECT host_a, host_b, shared,
             sa.sz AS size_a, sb.sz AS size_b,
             CAST(floor(shared * 1000000.0 / least(sa.sz, sb.sz))
                  AS BIGINT) AS score_ppm
      FROM sh JOIN sizes sa ON sa.host = sh.host_a
              JOIN sizes sb ON sb.host = sh.host_b)
"""


_LM_CTE = """
    WITH tok AS (
      SELECT doc_id, t AS token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents)
      WHERE t <> ''),
    lm AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM tok GROUP BY token),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS lm_total FROM lm),
    bits AS (
      SELECT doc_id,
             length(bin(lm_total // cnt)) - 1 AS b
      FROM tok JOIN lm USING (token), tot),
    sc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(b) AS BIGINT) AS sum_bits
      FROM bits GROUP BY doc_id),
    scored AS (
      SELECT doc_id, n_tokens, sum_bits,
             CAST((sum_bits * 100) // n_tokens AS BIGINT)
               AS mean_surprisal_cb
      FROM sc)
"""


# Geometry CTE for the REAL-PNG queries (mm_png_*): Spark decodes
# actual PNG bytes (functions/pngcodec.py); the oracle recomputes the
# same dims/pixels from png_table's generating formula (w = 16 + d%9,
# h = 16 + 3d%11, pixel = (3x + 5y + d) % 256) — agreement value-hash
# pins the inflate/unfilter/luma chain end to end.
_PNGDIMS_CTE = """
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
    dims AS (
      SELECT doc_id, 16 + doc_id % 9 AS w,
             16 + (3 * doc_id) % 11 AS h
      FROM d)
"""

# Geometry CTE for the REAL-JPEG queries (mm_jpeg_*): Spark decodes
# actual baseline-JPEG bytes (functions/jpegcodec.py); the oracle
# recomputes dims/pixels from jpeg_table's generating formula
# (w = 8*(2 + d%4), h = 8*(2 + 3d%5), block-constant
# pixel = 2*((7*(x DIV 8) + 11*(y DIV 8) + 13d) % 100) + 28 — even
# values + flat-16 quant = exact lossy round-trip, the property that
# makes a pixel-formula oracle possible for a lossy codec).
_JPEGDIMS_CTE = """
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
    dims AS (
      SELECT doc_id, 8 * (2 + doc_id % 4) AS w,
             8 * (2 + (3 * doc_id) % 5) AS h
      FROM d)
"""

# Geometry CTE for the REAL-GIF queries (mm_gif_*): Spark decodes
# actual GIF bytes (functions/gifcodec.py); GIF is lossless and the
# fixture palette is the grayscale identity, so the oracle recomputes
# pixels directly from gif_table's index formula
# (w = 17 + d%8, h = 15 + 5d%12, pixel = (5x + 7y + d) % 256).
_GIFDIMS_CTE = """
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
    dims AS (
      SELECT doc_id, 17 + doc_id % 8 AS w,
             15 + (5 * doc_id) % 12 AS h
      FROM d)
"""

# Per-frame hash CTE for the ANIMATED-GIF queries (mm_gif_frames /
# mm_gif_video_pairs): gif_anim_table's formula is
# pixel(x, y, g, f) = ((5 + 13f)x + 7y + g + 31f) % 256 at w = 17 + g%8,
# h = 15 + 5g%12, g = doc_id % 6, frames f = 0..3 — full-canvas
# overwrites, so the composited frame IS the formula and the oracle
# rebuilds every per-frame aHash exactly.
_GIFANIM_CTE = """
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 24),
    gs AS (SELECT DISTINCT doc_id % 6 AS g FROM d),
    gf AS (SELECT g, ff.f AS f FROM gs,
           (SELECT unnest(generate_series(0, 3)) AS f) ff),
    dims AS (SELECT g, 17 + g % 8 AS w, 15 + (5 * g) % 12 AS h
             FROM gs),
    px AS (
      SELECT gf.g, gf.f, dims.w, dims.h, gx.x AS x, gy.y AS y,
             ((5 + 13 * gf.f) * gx.x + 7 * gy.y + gf.g
              + 31 * gf.f) % 256 AS v
      FROM gf JOIN dims ON dims.g = gf.g,
           (SELECT unnest(generate_series(0, 24)) AS x) gx,
           (SELECT unnest(generate_series(0, 26)) AS y) gy
      WHERE gx.x < w AND gy.y < h),
    cells AS (
      SELECT g, f, ((8 * y) // h) * 8 + (8 * x) // w AS k,
             sum(v) // count(*) AS cell
      FROM px GROUP BY g, f, k),
    m AS (SELECT g, f, sum(cell) // 64 AS mn
          FROM cells GROUP BY g, f),
    hb AS (
      SELECT c.g, c.f,
             sum(CASE WHEN c.cell > m.mn
                 THEN (CAST(1 AS HUGEINT) << c.k)
                 ELSE CAST(0 AS HUGEINT) END) AS hv
      FROM cells c JOIN m USING (g, f) GROUP BY c.g, c.f),
    hs AS (
      SELECT g, f,
             CAST(CASE WHEN hv >= CAST(9223372036854775808 AS HUGEINT)
                  THEN hv - CAST(18446744073709551616 AS HUGEINT)
                  ELSE hv END AS BIGINT) AS phash
      FROM hb)
"""

_BMPDIMS_CTE = """
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
    dims AS (
      SELECT doc_id, 19 + doc_id % 7 AS w,
             13 + (3 * doc_id) % 10 AS h
      FROM d)
"""

# BMP variant-matched pixel formula (bmp_table d % 8 cycle: 8/24-bpp
# variants share the affine formula; 4-bpp quantizes to 16 gray
# levels, the RLE4 variant is run-heavy, 16-bpp carries 5-bit-exact
# values, 1-bpp is a parity checkerboard)
_BMP_PIXEL = """
    CASE doc_id % 8
      WHEN 4 THEN (({x} + 2 * {y} + doc_id) % 16) * 17
      WHEN 5 THEN ((({x} // 5) + {y} + doc_id) % 16) * 17
      WHEN 6 THEN (((5 * {x} + 7 * {y} + doc_id) % 32) * 255) // 31
      WHEN 7 THEN 255 * (({x} + {y} + doc_id) % 2)
      ELSE (5 * {x} + 11 * {y} + doc_id) % 256 END
"""

# WebP (VP8L) fixture dims + variant-matched pixel formula
# (webp_table: palette variant d%6==3 quantizes to 16 gray levels,
# lz77 variant d%6==5 is 2-row-periodic, the rest share the gif-style
# affine formula)
_WEBPDIMS_CTE = """
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
    dims AS (
      SELECT doc_id, 17 + doc_id % 9 AS w,
             14 + (5 * doc_id) % 11 AS h
      FROM d)
"""

_WEBP_PIXEL = """
    CASE doc_id % 6
      WHEN 3 THEN (({x} + 2 * {y} + doc_id) % 16) * 17
      WHEN 5 THEN (5 * {x} + 7 * ({y} % 2) + doc_id) % 256
      ELSE (5 * {x} + 7 * {y} + doc_id) % 256 END
"""

_TIFFDIMS_CTE = """
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
    dims AS (
      SELECT doc_id, 16 + doc_id % 10 AS w,
             12 + (7 * doc_id) % 11 AS h
      FROM d)
"""

# ICO fixture dims (ico_table: one shared formula, all members
# lossless, so the oracle is variant-free)
_ICODIMS_CTE = """
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
    dims AS (
      SELECT doc_id, 18 + doc_id % 9 AS w,
             14 + (3 * doc_id) % 8 AS h
      FROM d)
"""

# JPEG-in-TIFF fixture dims (tiffjpeg_table: 8-multiple geometry so
# the embedded block-constant JPEG chunks round-trip exactly)
_TIFFJPEGDIMS_CTE = """
    WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
    dims AS (
      SELECT doc_id, 8 * (2 + doc_id % 3) AS w,
             8 * (2 + doc_id % 5) AS h
      FROM d)
"""

_PHASH_CTE = """
    WITH b AS (
      SELECT doc_id,
             repeat(md5(source || '#' || CAST(doc_id % 7 AS VARCHAR)),
                    2) AS base
      FROM documents),
    img AS (
      SELECT doc_id,
             substring(base, 1, 63)
               || CASE WHEN doc_id % 9 = 0 THEN 'z'
                       ELSE substring(base, 64, 1) END AS s
      FROM b),
    px AS (
      SELECT doc_id, j, ascii(substring(s, j, 1)) AS p
      FROM img, (SELECT unnest(generate_series(1, 64)) AS j)),
    m AS (SELECT doc_id, sum(p) // 64 AS mean FROM px GROUP BY doc_id),
    hb AS (
      SELECT px.doc_id,
             sum(CASE WHEN px.p > m.mean
                 THEN (CAST(1 AS HUGEINT) << (px.j - 1))
                 ELSE CAST(0 AS HUGEINT) END) AS h
      FROM px JOIN m USING (doc_id) GROUP BY px.doc_id),
    ph AS (
      SELECT doc_id,
             CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
                  THEN h - CAST(18446744073709551616 AS HUGEINT)
                  ELSE h END AS BIGINT) AS phash
      FROM hb)
"""


_BIGRAM_CTE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents),
    pairs AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
        SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 1)) AS i
        FROM toks WHERE len(w) >= 2)),
    c2 AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
      FROM pairs GROUP BY w1, w2)
"""


def _shard_owner_sql(workers: list[str], vnodes: int = 64) -> str:
    """DuckDB successor-lookup expression over the same python-built
    ring literal the Spark operator inlines (list indexing is
    1-based in both)."""
    from barkingowl_spark.operators.frontier_shard import ring_points

    pts = ring_points(workers, vnodes)
    points = "[" + ", ".join(str(p) for p, _ in pts) + "]"
    owners = "[" + ", ".join("'" + w + "'" for _, w in pts) + "]"
    return (
        f"({owners})[len(list_filter({points}, p -> p < h))"
        f" % {len(pts)} + 1]"
    )


_SHARD_HOSTS_SQL = """
    WITH hosts AS (
      SELECT DISTINCT source || '.test' AS host FROM documents),
    hh AS (
      SELECT host,
             CAST(('0x' || substring(md5(host), 1, 15)) AS BIGINT) AS h
      FROM hosts)
"""


_BM25_SQL = """
    WITH d AS (
      SELECT doc_id,
             coalesce(text, '')
             || CASE WHEN doc_id % 7 = 0
                  THEN repeat(' needle', CAST(1 + doc_id % 3 AS INT))
                  ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' haystack'
                  ELSE '' END AS text
      FROM documents),
    tok AS (
      SELECT doc_id, t AS term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d)
      WHERE t <> ''),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term),
    dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      FROM tf GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
    tfq AS (
      SELECT * FROM tf
      WHERE term IN ('needle', 'haystack', 'scan')),
    dft AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM tfq GROUP BY term),
    j AS (
      SELECT tfq.doc_id, tfq.tf, dft.df, dl.dl, n_docs, total_len,
             2 * n_docs - 2 * df + 1 AS num, 2 * df + 1 AS den
      FROM tfq JOIN dft USING (term) JOIN dl USING (doc_id), stats),
    j2 AS (
      SELECT doc_id, tf,
             CASE WHEN num < den THEN 0
               ELSE length(bin(CAST((num::HUGEINT * num)
                    // (den::HUGEINT * den) AS BIGINT))) - 1 END
               AS idf_hb,
             CAST((1000000 - 750000)
                  + (750000::HUGEINT * dl * n_docs) // total_len
                  AS BIGINT) AS norm_ppm
      FROM j),
    j3 AS (
      SELECT doc_id, idf_hb,
             CAST((tf::HUGEINT * (1200000 + 1000000) * 1000000)
                  // (tf * 1000000 + (1200000 * norm_ppm) // 1000000)
                  AS BIGINT) AS sat_ppm
      FROM j2)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(idf_hb * sat_ppm) AS BIGINT) AS score_fp
    FROM j3 GROUP BY doc_id
    ORDER BY score_fp DESC, doc_id LIMIT 25
"""


_RUNS_CTE = """
    WITH d AS (
      SELECT doc_id,
             coalesce(text, '')
             || CASE WHEN doc_id % 7 = 0
                  THEN repeat(' needle', CAST(1 + doc_id % 3 AS INT))
                  ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' haystack'
                  ELSE '' END AS text
      FROM documents),
    tok AS (
      SELECT doc_id, t AS term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d)
      WHERE t <> ''),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term),
    dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      FROM tf GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
    queries(query_id, term) AS (
      VALUES (1, 'needle'), (2, 'haystack'),
             (3, 'needle'), (3, 'haystack'), (3, 'scan')),
    qdim AS (
      SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, term
      FROM queries),
    terms AS (SELECT DISTINCT term FROM qdim),
    tft AS (SELECT tf.* FROM tf JOIN terms USING (term)),
    dft AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM tft GROUP BY term),
    j AS (
      SELECT qdim.query_id, tft.doc_id, tft.tf, dft.df, dl.dl,
             n_docs, total_len,
             2 * n_docs - 2 * df + 1 AS num, 2 * df + 1 AS den
      FROM tft JOIN qdim USING (term) JOIN dft USING (term)
               JOIN dl USING (doc_id), stats),
    j2 AS (
      SELECT query_id, doc_id, tf,
             CASE WHEN num < den THEN 0
               ELSE length(bin(CAST((num::HUGEINT * num)
                    // (den::HUGEINT * den) AS BIGINT))) - 1 END
               AS idf_hb,
             CAST((1000000 - 750000)
                  + (750000::HUGEINT * dl * n_docs) // total_len
                  AS BIGINT) AS norm_ppm
      FROM j),
    j3 AS (
      SELECT query_id, doc_id, idf_hb,
             CAST((tf::HUGEINT * (1200000 + 1000000) * 1000000)
                  // (tf * 1000000 + (1200000 * norm_ppm) // 1000000)
                  AS BIGINT) AS sat_ppm
      FROM j2),
    sc AS (
      SELECT query_id, doc_id,
             CAST(sum(idf_hb * sat_ppm) AS BIGINT) AS score_fp
      FROM j3 GROUP BY query_id, doc_id),
    runk AS (
      SELECT * FROM (
        SELECT query_id, doc_id,
               CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rank,
               score_fp
        FROM sc)
      WHERE rank <= 10),
    qn AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS q_n
      FROM qdim GROUP BY query_id),
    matched AS (
      SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_matched
      FROM tft JOIN qdim USING (term) GROUP BY query_id, doc_id),
    qrels AS (
      SELECT query_id, doc_id FROM matched JOIN qn USING (query_id)
      WHERE n_matched = q_n),
    nrel AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
      FROM qrels GROUP BY query_id),
    hits AS (
      SELECT r.query_id, r.rank,
             CAST(row_number() OVER (
               PARTITION BY r.query_id ORDER BY r.rank) AS BIGINT)
               AS h_r
      FROM runk r JOIN qrels USING (query_id, doc_id)),
    perq AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS hits_at_k,
             min(rank) AS first_rel_rank,
             CAST(sum((1000000 * h_r) // rank) AS BIGINT) AS sum_p
      FROM hits GROUP BY query_id),
    met AS (
      SELECT query_id, n_rel,
             CAST(coalesce(hits_at_k, 0) AS BIGINT) AS hits_at_k,
             CAST((1000000 * coalesce(hits_at_k, 0)) // 10
                  AS BIGINT) AS p_at_k_ppm,
             CAST((1000000 * coalesce(hits_at_k, 0)) // n_rel
                  AS BIGINT) AS recall_ppm,
             CAST(CASE WHEN first_rel_rank IS NULL THEN 0
                       ELSE 1000000 // first_rel_rank END
                  AS BIGINT) AS rr_ppm,
             CAST(coalesce(sum_p, 0) // n_rel AS BIGINT) AS ap_ppm
      FROM nrel LEFT JOIN perq USING (query_id))
"""


# CORI shard selection over the _bm25_docs transform: md5 shard draw,
# per-shard df/cw stats, ppm belief math mirroring
# operators/shards.py::cori_shard_ranks (C=8, db=0.4, iden_hb=6).
_CORI_SQL = """
    WITH d AS (
      SELECT doc_id,
             coalesce(text, '')
             || CASE WHEN doc_id % 7 = 0
                  THEN repeat(' needle', CAST(1 + doc_id % 3 AS INT))
                  ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' haystack'
                  ELSE '' END AS text
      FROM documents),
    a AS (
      SELECT doc_id, text,
             CAST(CAST(('0x' || substring(
                 md5('shard#' || CAST(doc_id AS VARCHAR)),
                 1, 15)) AS BIGINT) % 8 AS INTEGER) AS shard_id
      FROM d),
    tok AS (
      SELECT shard_id, doc_id, t AS term FROM (
        SELECT shard_id, doc_id, unnest(string_split(text, ' ')) AS t
        FROM a)
      WHERE t <> ''),
    cw AS (
      SELECT shard_id, CAST(count(*) AS BIGINT) AS cw
      FROM tok GROUP BY shard_id),
    tot AS (SELECT CAST(sum(cw) AS BIGINT) AS total_cw FROM cw),
    queries(query_id, term) AS (
      VALUES (1, 'needle'), (2, 'haystack'),
             (3, 'needle'), (3, 'haystack'), (3, 'scan')),
    qdim AS (
      SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id, term
      FROM queries),
    terms AS (SELECT DISTINCT term FROM qdim),
    dfts AS (
      SELECT term, shard_id,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok JOIN terms USING (term) GROUP BY term, shard_id),
    cf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS cf
      FROM dfts GROUP BY term),
    bel AS (
      SELECT term, shard_id,
             (1000000 - 400000) *
             (((1000000 * df
                // (df + 50 + (150::HUGEINT * cw * 8) // total_cw))
               * ((1000000 *
                   (length(bin(289 // (4 * cf * cf))) - 1)) // 6))
              // 1000000) // 1000000 AS extra_ppm
      FROM dfts JOIN cf USING (term) JOIN cw USING (shard_id), tot),
    ex AS (
      SELECT query_id, shard_id,
             CAST(sum(extra_ppm) AS BIGINT) AS sum_extra
      FROM bel JOIN qdim USING (term)
      GROUP BY query_id, shard_id),
    qn AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS q_n
      FROM qdim GROUP BY query_id),
    grid AS (
      SELECT query_id, q_n, CAST(s AS INTEGER) AS shard_id
      FROM qn, (SELECT unnest(generate_series(0, 7)) AS s)),
    sc AS (
      SELECT query_id, shard_id,
             CAST(q_n * 400000 + coalesce(sum_extra, 0) AS BIGINT)
               AS score_fp
      FROM grid LEFT JOIN ex USING (query_id, shard_id))
    SELECT query_id, shard_id, score_fp,
           CAST(row_number() OVER (
             PARTITION BY query_id
             ORDER BY score_fp DESC, shard_id) AS BIGINT) AS rank
    FROM sc
"""


# Posting-list codec audit: EF/VByte/bitmap bit math mirrors
# operators/invindex.py::posting_compression bit-for-bit.
_COMPRESS_CTE = """
    WITH tok AS (
      SELECT doc_id, t AS term FROM (
        SELECT doc_id, unnest(string_split(coalesce(text, ''), ' '))
          AS t FROM documents)
      WHERE t <> ''),
    tfd AS (SELECT DISTINCT doc_id, term FROM tok),
    u AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS u FROM tfd),
    g AS (
      SELECT term, doc_id,
             doc_id - lag(doc_id, 1, -1) OVER (
               PARTITION BY term ORDER BY doc_id) AS gap
      FROM tfd),
    v AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(8 * sum((length(bin(gap)) + 6) // 7) AS BIGINT)
               AS vbyte_bits
      FROM g GROUP BY term),
    c AS (
      SELECT term, df, vbyte_bits,
             length(bin(u // df)) - 1 AS l, u
      FROM v, u),
    p AS (
      SELECT term, df,
             CAST(df * l + df + (u >> l) AS BIGINT) AS ef_bits,
             vbyte_bits, CAST(u AS BIGINT) AS bitmap_bits
      FROM c),
    b AS (
      SELECT term, df, ef_bits, vbyte_bits, bitmap_bits,
             CASE WHEN ef_bits =
                    least(ef_bits, vbyte_bits, bitmap_bits) THEN 'ef'
                  WHEN vbyte_bits =
                    least(ef_bits, vbyte_bits, bitmap_bits)
                    THEN 'vbyte'
                  ELSE 'bitmap' END AS best,
             least(ef_bits, vbyte_bits, bitmap_bits) AS best_bits
      FROM p)
"""


# RM3 continuation of _RUNS_CTE (appends more CTEs after met): feedback
# slice -> relevance-model weights -> interpolated expansion (expq) ->
# weighted BM25 re-score (rrunk). Integer floor math mirrors
# operators/ireval.py::rm3_expand / rm3_runs bit-for-bit.
_RM3_CTE = """
    , fb AS (SELECT query_id, doc_id FROM runk WHERE rank <= 3),
    fbd AS (SELECT DISTINCT doc_id FROM fb),
    fsl AS (SELECT tf.* FROM tf JOIN fbd USING (doc_id)),
    fdl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS fdl
      FROM fsl GROUP BY doc_id),
    rm AS (
      SELECT fb.query_id, fsl.term,
             CAST(sum((1000000 * fsl.tf) // fdl.fdl) AS BIGINT)
               AS rm_fp
      FROM fsl JOIN fb USING (doc_id) JOIN fdl USING (doc_id)
      GROUP BY fb.query_id, fsl.term),
    rmtot AS (
      SELECT query_id, CAST(sum(rm_fp) AS BIGINT) AS rm_tot
      FROM rm GROUP BY query_id),
    rmrank AS (
      SELECT query_id, term, rm_fp,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rm_fp DESC, term) AS rn
      FROM rm),
    rmk AS (
      SELECT query_id, term,
             CAST((1000000 * rm_fp) // rm_tot AS BIGINT) AS rm_ppm
      FROM rmrank JOIN rmtot USING (query_id) WHERE rn <= 5),
    qn2 AS (
      SELECT query_id, CAST(count(*) AS BIGINT) AS q_n
      FROM qdim GROUP BY query_id),
    origw AS (
      SELECT query_id, term, CAST(1000000 // q_n AS BIGINT) AS orig_ppm
      FROM qdim JOIN qn2 USING (query_id)),
    expq AS (
      SELECT coalesce(o.query_id, r.query_id) AS query_id,
             coalesce(o.term, r.term) AS term,
             CAST(coalesce(o.orig_ppm, 0) AS BIGINT) AS orig_ppm,
             CAST(coalesce(r.rm_ppm, 0) AS BIGINT) AS rm_ppm,
             CAST((600000 * coalesce(o.orig_ppm, 0)) // 1000000
                  + (400000 * coalesce(r.rm_ppm, 0)) // 1000000
                  AS BIGINT) AS weight_ppm
      FROM origw o FULL OUTER JOIN rmk r
        ON o.query_id = r.query_id AND o.term = r.term),
    rterms AS (SELECT DISTINCT term FROM expq),
    rtft AS (SELECT tf.* FROM tf JOIN rterms USING (term)),
    rdft AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM rtft GROUP BY term),
    rj AS (
      SELECT expq.query_id, expq.weight_ppm, rtft.doc_id, rtft.tf,
             rdft.df, dl.dl, n_docs, total_len,
             2 * n_docs - 2 * df + 1 AS num, 2 * df + 1 AS den
      FROM rtft JOIN expq USING (term) JOIN rdft USING (term)
                JOIN dl USING (doc_id), stats),
    rj2 AS (
      SELECT query_id, weight_ppm, doc_id, tf,
             CASE WHEN num < den THEN 0
               ELSE length(bin(CAST((num::HUGEINT * num)
                    // (den::HUGEINT * den) AS BIGINT))) - 1 END
               AS idf_hb,
             CAST((1000000 - 750000)
                  + (750000::HUGEINT * dl * n_docs) // total_len
                  AS BIGINT) AS norm_ppm
      FROM rj),
    rj3 AS (
      SELECT query_id, weight_ppm, doc_id, idf_hb,
             CAST((tf::HUGEINT * (1200000 + 1000000) * 1000000)
                  // (tf * 1000000 + (1200000 * norm_ppm) // 1000000)
                  AS BIGINT) AS sat_ppm
      FROM rj2),
    rsc AS (
      SELECT query_id, doc_id,
             CAST(sum((weight_ppm * idf_hb * sat_ppm) // 1000000)
                  AS BIGINT) AS score_fp
      FROM rj3 GROUP BY query_id, doc_id),
    rrunk AS (
      SELECT * FROM (
        SELECT query_id, doc_id,
               CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rank,
               score_fp
        FROM rsc)
      WHERE rank <= 10)
"""


_VIDFRAME_CTE = """
    WITH fr AS (
      SELECT doc_id, j,
             CASE WHEN j = 3 AND doc_id % 3 = 0
               THEN repeat(md5('uniq#' || CAST(doc_id AS VARCHAR)), 2)
               ELSE repeat(md5('vid#' || source || '#'
                    || CAST(doc_id % 7 AS VARCHAR) || '#'
                    || CAST(j AS VARCHAR)), 2) END AS s
      FROM documents, (SELECT unnest(generate_series(1, 3)) AS j)),
    px AS (
      SELECT doc_id, j, i, ascii(substring(s, i, 1)) AS p
      FROM fr, (SELECT unnest(generate_series(1, 64)) AS i)),
    m AS (
      SELECT doc_id, j, sum(p) // 64 AS mean
      FROM px GROUP BY doc_id, j),
    hb AS (
      SELECT px.doc_id, px.j,
             sum(CASE WHEN px.p > m.mean
                 THEN (CAST(1 AS HUGEINT) << (px.i - 1))
                 ELSE CAST(0 AS HUGEINT) END) AS h
      FROM px JOIN m USING (doc_id, j) GROUP BY px.doc_id, px.j),
    ph AS (
      SELECT doc_id, CAST(j - 1 AS INT) AS frame_idx,
             CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
                  THEN h - CAST(18446744073709551616 AS HUGEINT)
                  ELSE h END AS BIGINT) AS phash
      FROM hb)
"""


_BLOCKMAX_CTE = """
    WITH d AS (
      SELECT doc_id,
             coalesce(text, '')
             || CASE WHEN doc_id % 7 = 0
                  THEN repeat(' needle', CAST(1 + doc_id % 3 AS INT))
                  ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' haystack'
                  ELSE '' END AS text
      FROM documents),
    tok AS (
      SELECT doc_id, t AS term FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d)
      WHERE t <> ''),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term),
    dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
      FROM tf GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
    tfq AS (
      SELECT * FROM tf
      WHERE term IN ('needle', 'haystack', 'scan')),
    dft AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df
      FROM tfq GROUP BY term),
    j AS (
      SELECT tfq.term, tfq.doc_id, tfq.tf, dft.df, dl.dl,
             n_docs, total_len,
             2 * n_docs - 2 * df + 1 AS num, 2 * df + 1 AS den
      FROM tfq JOIN dft USING (term) JOIN dl USING (doc_id), stats),
    j2 AS (
      SELECT term, doc_id, tf,
             CASE WHEN num < den THEN 0
               ELSE length(bin(CAST((num::HUGEINT * num)
                    // (den::HUGEINT * den) AS BIGINT))) - 1 END
               AS idf_hb,
             CAST((1000000 - 750000)
                  + (750000::HUGEINT * dl * n_docs) // total_len
                  AS BIGINT) AS norm_ppm
      FROM j),
    j3 AS (
      SELECT term, doc_id, idf_hb,
             CAST((tf::HUGEINT * (1200000 + 1000000) * 1000000)
                  // (tf * 1000000 + (1200000 * norm_ppm) // 1000000)
                  AS BIGINT) AS sat_ppm
      FROM j2),
    blk AS (
      SELECT term, doc_id, idf_hb, sat_ppm,
             CAST((row_number() OVER (
               PARTITION BY term ORDER BY doc_id) - 1) // 64
               AS BIGINT) AS block_id
      FROM j3),
    bm AS (
      SELECT term, block_id, CAST(count(*) AS BIGINT) AS n_docs,
             min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
             CAST(max(idf_hb) * max(sat_ppm) AS BIGINT) AS ub_fp
      FROM blk GROUP BY term, block_id)
"""


_CLF_CTE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         x -> x <> '') AS a
      FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(a || CASE WHEN len(a) < 2
               THEN []::VARCHAR[]
               ELSE list_transform(
                 generate_series(1, len(a) - 1),
                 i -> a[i] || '_' || a[i + 1]) END) AS gram
      FROM toks),
    feats AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(gram), 1, 15))
                  AS BIGINT) % 4096 AS bucket
      FROM grams),
    w AS (
      SELECT range AS bucket,
             CAST(range % 21 - 10 AS BIGINT) AS weight_milli
      FROM range(0, 4096, 3)),
    s AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             CAST(sum(coalesce(weight_milli, 0)) AS BIGINT)
               AS wsum
      FROM feats LEFT JOIN w USING (bucket)
      GROUP BY doc_id),
    sc AS (
      SELECT doc_id, CAST((wsum * 1000) // n_feats AS BIGINT)
               AS score_milli,
             ((wsum * 1000) // n_feats) >= 0 AS la
      FROM s),
    lb AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '),
                             x -> x <> '')) >= 20 AS lb
      FROM documents)
"""


_PRIORITY_CTE = """
    WITH wt AS (
      SELECT doc_id,
             CAST(len(string_split(coalesce(text, ''), ' '))
                  AS BIGINT) AS w,
             CAST(('0x' || substring(
                 md5(source || '#' || CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 1099511627776 + 1 AS u
      FROM documents),
    pri AS (
      SELECT doc_id, w, u,
             CAST((w::HUGEINT * 1099511627776) // u AS BIGINT)
               AS priority
      FROM wt),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
        ORDER BY priority DESC, doc_id) AS BIGINT) AS rn FROM pri),
    tauv AS (
      SELECT CAST(coalesce(
               max(CASE WHEN rn = 51 THEN priority END), 0)
             AS BIGINT) AS tau FROM ranked),
    samp AS (
      SELECT doc_id, w, u, priority, tau,
             greatest(w, tau) AS w_est
      FROM ranked, tauv WHERE rn <= 50)
"""


_SCORECARD_SQL = _LM_CTE + f"""
    , f AS (
      SELECT doc_id, source AS host,
             md5(CAST(regexp_replace(trim(text), '\\s+', ' ', 'g')
                 AS VARCHAR)) AS fp
      FROM documents),
    g AS (SELECT fp, min(doc_id) AS keep_id FROM f GROUP BY fp),
    dupd AS (
      SELECT doc_id, host,
             CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END AS is_dup
      FROM f JOIN g USING (fp)),
    q AS (
      SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 20
                   AND stop_ppm > 0 AND stop_ppm < 500000
               THEN 1 ELSE 0 END AS is_q
      FROM (SELECT doc_id, text,
              CAST(floor(len(list_filter(string_split(text, ' '),
                   x -> x IN ({_STOP_LIST}))) * 1000000.0
                   / len(string_split(text, ' '))) AS BIGINT)
                AS stop_ppm
            FROM documents)),
    hostagg AS (
      SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(is_dup) AS BIGINT) AS dup_docs,
             CAST(sum(is_q) AS BIGINT) AS qd,
             CAST(sum(n_tokens) AS BIGINT) AS nt,
             CAST(sum(sum_bits) AS BIGINT) AS sb
      FROM dupd JOIN q USING (doc_id) JOIN scored USING (doc_id)
      GROUP BY host),
    card AS (
      SELECT host, n_docs, dup_docs,
             CAST((dup_docs * 1000000) // n_docs AS BIGINT) AS dup_ppm,
             CAST((qd * 1000000) // n_docs AS BIGINT) AS quality_ppm,
             CAST((sb * 100) // nt AS BIGINT) AS mean_surprisal_cb
      FROM hostagg)
"""


_EPOCH_PLAN_CTE = """
    WITH c AS (
      SELECT source AS domain,
             CAST(sum(len(list_filter(string_split(
                 replace(text, chr(10), ' '), ' '),
                 x -> x <> ''))) AS BIGINT) AS tokens
      FROM documents GROUP BY source),
    w AS (
      SELECT domain,
             CAST(('0x' || substring(md5(domain), 1, 15))
                  AS BIGINT) % 400000 + 100000 AS weight_ppm
      FROM c),
    base AS (
      SELECT domain, tokens, weight_ppm,
             CAST((CAST(20000 AS HUGEINT) * weight_ppm)
                  // 1000000 AS BIGINT) AS requested,
             CAST((CAST(tokens AS HUGEINT) * 3000000)
                  // 1000000 AS BIGINT) AS cap
      FROM c JOIN w USING (domain)),
    b2 AS (
      SELECT *, least(requested, cap) AS alloc1,
             cap - least(requested, cap) AS room
      FROM base),
    tot AS (
      SELECT coalesce(sum(requested - alloc1), 0) AS s,
             coalesce(sum(CASE WHEN room > 0
                               THEN weight_ppm END), 0) AS wsum
      FROM b2),
    fin AS (
      SELECT domain, tokens, weight_ppm, requested,
             alloc1 + CASE WHEN room > 0 AND wsum > 0
               THEN least(room,
                    CAST((CAST(s AS HUGEINT) * weight_ppm)
                         // wsum AS BIGINT))
               ELSE 0 END AS alloc
      FROM b2, tot),
    eplan AS (
      SELECT domain, tokens, weight_ppm, requested,
             CAST(alloc AS BIGINT) AS alloc,
             CAST(CASE WHEN tokens > 0 THEN
                    CAST((CAST(alloc AS HUGEINT) * 1000000)
                         // tokens AS BIGINT)
                  ELSE 0 END AS BIGINT) AS epochs_ppm
      FROM fin)
"""


_PQ_CTE = f"""
    WITH v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
    sub AS (
      SELECT vec_id, j, v[j*16+1 : j*16+16] AS sv
      FROM v0, (VALUES (0), (1), (2), (3)) s(j)),
    cb AS (
      SELECT j, CAST(vec_id AS INT) AS code, sv AS cv
      FROM sub WHERE vec_id < 16),
    d AS (
      SELECT sub.vec_id, sub.j, cb.code,
             CAST(list_sum(list_transform(
               range(1, len(sub.sv) + 1),
               i -> (sub.sv[i] - cb.cv[i])
                    * (sub.sv[i] - cb.cv[i]))) AS BIGINT) AS d2
      FROM sub JOIN cb ON sub.j = cb.j),
    best AS (
      SELECT vec_id, j, code FROM (
        SELECT vec_id, j, code,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY d2, code) AS rn
        FROM d) WHERE rn = 1)
"""


_CC_CTE = f"""
            WITH RECURSIVE t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, len(w) - 1),
                       i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
              FROM t WHERE len(w) >= 3
            ), sig AS (SELECT doc_id, {_SIG_SELECTS} FROM sh),
            bands AS ({_BANDS_SQL}),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
            ),
            toks AS (
              SELECT doc_id,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents
            ),
            ver AS (
              SELECT doc_a, doc_b
              FROM cand
              JOIN toks ta ON ta.doc_id = cand.doc_a
              JOIN toks tb ON tb.doc_id = cand.doc_b
              WHERE CAST(floor(len(list_intersect(ta.toks, tb.toks))
                    * 1000000.0
                    / len(list_distinct(list_concat(ta.toks, tb.toks))))
                    AS BIGINT) >= 600000
            ),
            edges AS (
              SELECT doc_a AS s, doc_b AS d FROM ver
              UNION
              SELECT doc_b AS s, doc_a AS d FROM ver
            ),
            reach AS (
              SELECT s AS n, d AS m FROM edges
              UNION
              SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
            ),
            comp AS (
              SELECT n AS doc_id, least(n, min(m)) AS component_id
              FROM reach GROUP BY n
            )
            """


def _hyperball_sql(reverse: bool) -> str:
    """Per-t HyperBall CTE chain (t = 0..2) over the synthetic edges:
    EXACT reach sets by iterated joins, then the identical integer
    register/estimate math as operators/hyperball.py (h60 md5 draw,
    p=6, HLL++ linear counting from the same frozen table) — ends with
    a `sizes(node, t, ball_est)` CTE."""
    from barkingowl_spark.operators.hyperball import LC_TABLE

    lc = ", ".join(str(v) for v in LC_TABLE[6])
    e_sel = ("SELECT DISTINCT dst AS src, src AS dst FROM edges"
             if reverse else "SELECT DISTINCT src, dst FROM edges")
    parts = [
        f"e AS ({e_sel})",
        "n0 AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "r0 AS (SELECT node AS u, node AS v FROM n0)",
    ]
    for t in (1, 2):
        parts.append(
            f"r{t} AS (SELECT u, v FROM r{t-1} UNION"
            f" SELECT e.src AS u, r.v AS v"
            f" FROM e JOIN r{t-1} r ON r.u = e.dst)")
    for t in (0, 1, 2):
        parts.append(
            f"rk{t} AS (SELECT u, h % 64 AS bucket,"
            f" CASE WHEN h // 64 > 0"
            f" THEN 54 - (length(bin(h // 64)) - 1)"
            f" ELSE 55 END AS rank FROM ("
            f"SELECT u, CAST(('0x' || substring("
            f"md5('hb#' || CAST(v AS VARCHAR)), 1, 15)) AS BIGINT)"
            f" AS h FROM r{t}))")
        parts.append(
            f"ag{t} AS (SELECT u, count(*) AS c,"
            f" CAST(sum(CAST(1 AS BIGINT) << (55 - mr)) AS BIGINT)"
            f" AS s FROM (SELECT u, bucket, max(rank) AS mr"
            f" FROM rk{t} GROUP BY u, bucket) GROUP BY u)")
        parts.append(
            f"es{t} AS (SELECT u, CAST(CASE"
            f" WHEN raw <= 160 AND c < 64"
            f" THEN ([{lc}])[64 - c] ELSE raw END AS BIGINT)"
            f" AS ball_est FROM (SELECT u, c,"
            f" CAST((CAST(709365 AS HUGEINT) * 64 * 64"
            f" * (CAST(1 AS BIGINT) << 55))"
            f" // (CAST(1000000 AS HUGEINT)"
            f" * (s + (64 - c) * (CAST(1 AS BIGINT) << 55)))"
            f" AS BIGINT) AS raw FROM ag{t}))")
    parts.append(
        "sizes AS (" + " UNION ALL ".join(
            f"SELECT u AS node, CAST({t} AS INT) AS t, ball_est"
            f" FROM es{t}" for t in (0, 1, 2)) + ")")
    return ",\n            ".join(parts)


# shared CTE chain for the PageRank family (r0..r3 unrolled rounds)
_PAGERANK_CTE = f"""
            WITH {_EDGES_SQL},
            nodes AS (SELECT src AS node FROM edges
                      UNION SELECT dst FROM edges),
            c AS (SELECT count(*) AS n FROM nodes),
            od AS (SELECT src AS node, count(*) AS outdeg
                   FROM edges GROUP BY src),
            r0 AS (SELECT node, 1000000000000 // c.n AS rank_fp
                   FROM nodes CROSS JOIN c),
            s1 AS (SELECT e.dst AS node,
                          CAST(SUM((r.rank_fp * 85) // (100 * o.outdeg)) AS BIGINT)
                              AS inflow
                   FROM edges e JOIN r0 r ON r.node = e.src
                                JOIN od o ON o.node = e.src
                   GROUP BY e.dst),
            r1 AS (SELECT nodes.node,
                          15000000000000 // (100 * c.n)
                          + COALESCE(s1.inflow, 0) AS rank_fp
                   FROM nodes CROSS JOIN c
                   LEFT JOIN s1 ON s1.node = nodes.node),
            s2 AS (SELECT e.dst AS node,
                          CAST(SUM((r.rank_fp * 85) // (100 * o.outdeg)) AS BIGINT)
                              AS inflow
                   FROM edges e JOIN r1 r ON r.node = e.src
                                JOIN od o ON o.node = e.src
                   GROUP BY e.dst),
            r2 AS (SELECT nodes.node,
                          15000000000000 // (100 * c.n)
                          + COALESCE(s2.inflow, 0) AS rank_fp
                   FROM nodes CROSS JOIN c
                   LEFT JOIN s2 ON s2.node = nodes.node),
            s3 AS (SELECT e.dst AS node,
                          CAST(SUM((r.rank_fp * 85) // (100 * o.outdeg)) AS BIGINT)
                              AS inflow
                   FROM edges e JOIN r2 r ON r.node = e.src
                                JOIN od o ON o.node = e.src
                   GROUP BY e.dst),
            r3 AS (SELECT nodes.node,
                          15000000000000 // (100 * c.n)
                          + COALESCE(s3.inflow, 0) AS rank_fp
                   FROM nodes CROSS JOIN c
                   LEFT JOIN s3 ON s3.node = nodes.node)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "o5_fetch_join": """
            SELECT o_orderkey, c_name, c_mktsegment,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "o7_link_extract": """
            WITH l AS (
              SELECT doc_id,
                     'http://' || source || '.test/doc' || doc_id AS l_abs,
                     'http://' || source || '.test/dir/rel' || doc_id
                       AS l_rel
              FROM documents)
            SELECT doc_id, CAST(0 AS INT) AS pos, l_abs AS link FROM l
            UNION ALL
            SELECT doc_id, CAST(1 AS INT) AS pos, l_rel AS link FROM l
            UNION ALL
            SELECT doc_id, CAST(3 AS INT) AS pos, l_abs AS link FROM l
        """,
        "o14_config_join": """
            SELECT c_custkey, n_name, r_name
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        """,
        "o27_text_extract": """
            SELECT doc_id,
                   't doc ' || doc_id || ' ' || text || ' a b c d' AS text
            FROM documents
        """,
        "o8_canonicalize": """
            SELECT doc_id,
                   replace(lower('HTTP://' || upper(source) || '.TEST:80/docs/'
                           || CAST(doc_id AS VARCHAR)), ':80/', '/')
                   AS canon_url
            FROM documents
        """,
        "o9_scope_filter": """
            SELECT event_id, user_id, event_type FROM events
            WHERE event_type IN ('click', 'view') AND value < 50
        """,
        "o12_anti_join_dedup": """
            SELECT event_id, user_id, event_type FROM events
            WHERE user_id NOT IN (
                SELECT user_id FROM events
                WHERE event_type = 'error' AND value > 95)
        """,
        "o15_doc_type_match": """
            SELECT doc_id, source,
                   CASE WHEN lang = 'en' THEN 'content_type'
                        WHEN n_chars % 10 = 7 THEN 'extension' END
                   AS matched_by
            FROM documents
            WHERE lang = 'en' OR n_chars % 10 = 7
        """,
        "o16_wave_counters": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents,
                   count(DISTINCT user_id) AS users
            FROM events GROUP BY event_type
        """,
        "o17_cardinality": """
            SELECT event_type, count(DISTINCT user_id) AS distinct_users
            FROM events GROUP BY event_type
        """,
        "o16_metrics_rollup": """
            SELECT coalesce(event_type, '<all>') AS event_type,
                   CAST(coalesce(user_shard, -1) AS BIGINT) AS user_shard,
                   count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM (SELECT event_type, user_id % 8 AS user_shard, value
                  FROM events)
            GROUP BY ROLLUP (event_type, user_shard)
        """,
        "o12_semi_probe": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer
                                WHERE c_mktsegment = 'BUILDING')
        """,
        "o12_cuckoo_evict": """
            SELECT doc_id,
                   'http://' || source || '.test/dir/page'
                       || CAST(doc_id AS VARCHAR) AS url
            FROM documents
            WHERE doc_id % 3 <> 0 OR doc_id % 9 = 0
        """,
        "graph_wcc": f"""
            WITH RECURSIVE {_EDGES_SQL},
            se AS (
              SELECT src, dst FROM edges
              WHERE (src + dst) % 11 = 0 AND src != dst),
            ue AS (
              SELECT src AS s, dst AS d FROM se
              UNION
              SELECT dst AS s, src AS d FROM se),
            reach AS (
              SELECT s AS n, d AS m FROM ue
              UNION
              SELECT r.n, e.d FROM reach r JOIN ue e ON r.m = e.s),
            comp AS (
              SELECT n AS node, least(n, min(m)) AS component_id
              FROM reach GROUP BY n)
            SELECT node, component_id,
                   count(*) OVER (PARTITION BY component_id) AS csize
            FROM comp
        """,
        "graph_degree": f"""
            WITH {_EDGES_SQL},
            o AS (SELECT src AS node, count(*) AS out_deg
                  FROM edges GROUP BY src),
            i AS (SELECT dst AS node, count(*) AS in_deg
                  FROM edges GROUP BY dst)
            SELECT COALESCE(o.node, i.node) AS node,
                   COALESCE(out_deg, 0) AS out_deg,
                   COALESCE(in_deg, 0) AS in_deg
            FROM o FULL OUTER JOIN i ON o.node = i.node
        """,
        "graph_pagerank": _PAGERANK_CTE
        + "SELECT node, rank_fp FROM r3",
        "graph_pagerank_delta": _PAGERANK_CTE + """,
            d AS (
              SELECT abs(r3.rank_fp - r2.rank_fp) AS dl
              FROM r2 JOIN r3 USING (node))
            SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(dl) AS BIGINT) AS l1_delta_fp,
                   CAST(max(dl) AS BIGINT) AS max_delta_fp,
                   CAST(sum(dl) // 1000000 AS BIGINT)
                     AS l1_delta_ppm
            FROM d
        """,        "frontier_coverage": f"""
            WITH {_EDGES_SQL},
            obs AS (SELECT d.source AS host, e.dst AS item
                    FROM edges e JOIN documents d ON d.doc_id = e.dst),
            pc AS (SELECT host, item, CAST(count(*) AS BIGINT) AS c
                   FROM obs GROUP BY host, item),
            a AS (SELECT host,
                         CAST(sum(c) AS BIGINT) AS n_obs,
                         CAST(count(*) AS BIGINT) AS s_obs,
                         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              AS BIGINT) AS f1,
                         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                              AS BIGINT) AS f2
                  FROM pc GROUP BY host)
            SELECT host, n_obs, s_obs, f1, f2,
                   CAST(s_obs + f1 * (f1 - 1) // (2 * (f2 + 1))
                        AS BIGINT) AS chao1_est,
                   CAST(1000000 * f1 // n_obs AS BIGINT)
                     AS unseen_mass_ppm,
                   CAST(1000000 - 1000000 * f1 // n_obs AS BIGINT)
                     AS coverage_ppm
            FROM a
        """,
        "graph_host_agg": f"""
            WITH {_EDGES_SQL}
            SELECT ds.source || '.test' AS src_host,
                   dd.source || '.test' AS dst_host,
                   count(*) AS n_links
            FROM edges e
            JOIN documents ds ON ds.doc_id = e.src
            JOIN documents dd ON dd.doc_id = e.dst
            GROUP BY 1, 2
        """,
        "graph_hits": f"""
            WITH {_EDGES_SQL},
            nodes AS (SELECT src AS node FROM edges
                      UNION SELECT dst FROM edges),
            a1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS a
                   FROM edges GROUP BY dst),
            a1f AS (SELECT n.node, coalesce(a1.a, 0) AS a
                    FROM nodes n LEFT JOIN a1 ON a1.node = n.node),
            h1 AS (SELECT e.src AS node, CAST(sum(a1f.a) AS BIGINT) AS h
                   FROM edges e JOIN a1f ON a1f.node = e.dst
                   GROUP BY e.src),
            h1f AS (SELECT n.node, coalesce(h1.h, 0) AS h
                    FROM nodes n LEFT JOIN h1 ON h1.node = n.node),
            a2 AS (SELECT e.dst AS node, CAST(sum(h1f.h) AS BIGINT) AS a
                   FROM edges e JOIN h1f ON h1f.node = e.src
                   GROUP BY e.dst),
            a2f AS (SELECT n.node, coalesce(a2.a, 0) AS a
                    FROM nodes n LEFT JOIN a2 ON a2.node = n.node),
            h2 AS (SELECT e.src AS node, CAST(sum(a2f.a) AS BIGINT) AS h
                   FROM edges e JOIN a2f ON a2f.node = e.dst
                   GROUP BY e.src),
            h2f AS (SELECT n.node, coalesce(h2.h, 0) AS h
                    FROM nodes n LEFT JOIN h2 ON h2.node = n.node)
            SELECT n.node, h2f.h AS hub_fp, a2f.a AS auth_fp
            FROM nodes n
            JOIN h2f ON h2f.node = n.node
            JOIN a2f ON a2f.node = n.node
        """,
        "emb_sgns_round": _SGNS_SQL,
        "graph_walks": f"""
            WITH {_EDGES_SQL},
            e0 AS (SELECT DISTINCT src, dst FROM edges),
            nbr AS (SELECT src, dst, row_number() OVER (
                        PARTITION BY src ORDER BY dst) AS rn
                    FROM e0),
            dg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
            n0 AS (SELECT src AS node FROM e0
                   UNION SELECT dst FROM e0),
            s0 AS (SELECT node AS walk_id, node FROM n0),
            s1 AS (SELECT s.walk_id, nbr.dst AS node
                   FROM s0 s
                   JOIN dg ON dg.src = s.node
                   JOIN nbr ON nbr.src = s.node
                    AND nbr.rn = 1 + CAST(('0x' || substring(md5('walk#' || CAST(s.walk_id AS VARCHAR) || '#1'), 1, 15)) AS BIGINT) % dg.deg),
            s2 AS (SELECT s.walk_id, nbr.dst AS node
                   FROM s1 s
                   JOIN dg ON dg.src = s.node
                   JOIN nbr ON nbr.src = s.node
                    AND nbr.rn = 1 + CAST(('0x' || substring(md5('walk#' || CAST(s.walk_id AS VARCHAR) || '#2'), 1, 15)) AS BIGINT) % dg.deg),
            s3 AS (SELECT s.walk_id, nbr.dst AS node
                   FROM s2 s
                   JOIN dg ON dg.src = s.node
                   JOIN nbr ON nbr.src = s.node
                    AND nbr.rn = 1 + CAST(('0x' || substring(md5('walk#' || CAST(s.walk_id AS VARCHAR) || '#3'), 1, 15)) AS BIGINT) % dg.deg)
            SELECT walk_id, CAST(0 AS INT) AS step, node FROM s0
            UNION ALL
            SELECT walk_id, CAST(1 AS INT), node FROM s1
            UNION ALL
            SELECT walk_id, CAST(2 AS INT), node FROM s2
            UNION ALL
            SELECT walk_id, CAST(3 AS INT), node FROM s3
        """,
        "graph_adamic": f"""
            WITH {_EDGES_SQL},
            e0 AS (
                SELECT src, dst FROM edges WHERE src <> dst
                UNION
                SELECT dst AS src, src AS dst FROM edges
                WHERE src <> dst),
            deg AS (SELECT src AS w, count(*) AS deg
                    FROM e0 GROUP BY src),
            ctr AS (SELECT w,
                           1000000 // (1 + (length(bin(deg)) - 1))
                               AS wt
                    FROM deg WHERE deg <= 64),
            wdg AS (SELECT e1.src AS w, e1.dst AS node_a,
                           e2.dst AS node_b
                    FROM e0 e1 JOIN e0 e2
                      ON e1.src = e2.src AND e1.dst < e2.dst)
            SELECT node_a, node_b,
                   CAST(count(*) AS BIGINT) AS common_neighbors,
                   CAST(sum(wt) AS BIGINT) AS aa_micro
            FROM wdg JOIN ctr USING (w) GROUP BY 1, 2
        """,
        # LNK protocol: AA on train edges only; held-out canonical
        # pairs (minus any still-in-train) vs deterministic non-edges;
        # exact midrank AUC (same skeleton as clf_auc)
        "graph_linkpred": f"""
            WITH {_EDGES_SQL},
            enl AS (SELECT src, dst FROM edges WHERE src <> dst),
            tr AS (SELECT src, dst FROM enl
                   WHERE (src * 3 + dst) % 5 <> 0),
            e0 AS (
                SELECT src, dst FROM tr
                UNION
                SELECT dst AS src, src AS dst FROM tr),
            deg AS (SELECT src AS w, count(*) AS deg
                    FROM e0 GROUP BY src),
            ctr AS (SELECT w,
                           1000000 // (1 + (length(bin(deg)) - 1))
                               AS wt
                    FROM deg WHERE deg <= 64),
            wdg AS (SELECT e1.src AS w, e1.dst AS node_a,
                           e2.dst AS node_b
                    FROM e0 e1 JOIN e0 e2
                      ON e1.src = e2.src AND e1.dst < e2.dst),
            aa AS (SELECT node_a, node_b,
                          CAST(sum(wt) AS BIGINT) AS aa_micro
                   FROM wdg JOIN ctr USING (w) GROUP BY 1, 2),
            canall AS (SELECT DISTINCT least(src, dst) AS node_a,
                              greatest(src, dst) AS node_b FROM enl),
            cantr AS (SELECT DISTINCT least(src, dst) AS node_a,
                             greatest(src, dst) AS node_b FROM tr),
            pos AS (
              SELECT h.node_a, h.node_b FROM (
                SELECT DISTINCT least(src, dst) AS node_a,
                       greatest(src, dst) AS node_b
                FROM enl WHERE (src * 3 + dst) % 5 = 0) h
              LEFT JOIN cantr t
                ON t.node_a = h.node_a AND t.node_b = h.node_b
              WHERE t.node_a IS NULL),
            neg AS (
              SELECT c.node_a, c.node_b FROM (
                SELECT DISTINCT least(src, d2) AS node_a,
                       greatest(src, d2) AS node_b
                FROM (SELECT src,
                             (src * 5 + dst * 7 + 3) % nd.n AS d2
                      FROM enl, nd)
                WHERE src <> d2) c
              LEFT JOIN canall a
                ON a.node_a = c.node_a AND a.node_b = c.node_b
              WHERE a.node_a IS NULL),
            lab AS (
              SELECT node_a, node_b, true AS label FROM pos
              UNION ALL
              SELECT node_a, node_b, false AS label FROM neg),
            sc AS (
              SELECT coalesce(aa.aa_micro, 0) AS score, lab.label
              FROM lab LEFT JOIN aa
                ON aa.node_a = lab.node_a AND aa.node_b = lab.node_b),
            g AS (
              SELECT score, CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
                          AS BIGINT) AS pos
              FROM sc GROUP BY score),
            r AS (
              SELECT *, sum(cnt) OVER (
                ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS cum
              FROM g),
            t AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS n,
                     CAST(sum(pos) AS BIGINT) AS n_pos,
                     CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
                     CAST(count(*) AS BIGINT) AS n_score_groups,
                     sum(pos::HUGEINT * (2 * cum - cnt + 1)) AS r2p
              FROM r)
            SELECT n, n_pos, n_neg, n_score_groups,
                   CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                     CAST((r2p - n_pos::HUGEINT * (n_pos + 1))
                          * 1000000
                          // (2 * n_pos::HUGEINT * n_neg) AS BIGINT)
                   END AS auc_ppm
            FROM t
        """,
        "graph_triangles": f"""
            WITH {_EDGES_SQL},
            e0 AS (
                SELECT src, dst FROM edges WHERE src <> dst
                UNION
                SELECT dst AS src, src AS dst FROM edges
                WHERE src <> dst),
            deg AS (SELECT src AS node,
                           CAST(count(*) AS BIGINT) AS degree
                    FROM e0 GROUP BY src),
            tri AS (
                SELECT x.src AS a, x.dst AS b, y.dst AS c
                FROM e0 x
                JOIN e0 y ON y.src = x.dst AND y.dst > x.dst
                JOIN e0 z ON z.src = x.src AND z.dst = y.dst
                WHERE x.src < x.dst),
            pn AS (
                SELECT node, CAST(count(*) AS BIGINT) AS triangles
                FROM (SELECT a AS node FROM tri
                      UNION ALL SELECT b FROM tri
                      UNION ALL SELECT c FROM tri)
                GROUP BY node)
            SELECT d.node, d.degree,
                   coalesce(pn.triangles, 0) AS triangles,
                   CAST(CASE WHEN d.degree >= 2 THEN
                        (CAST(2 AS HUGEINT)
                         * coalesce(pn.triangles, 0) * 1000000)
                        // (CAST(d.degree AS HUGEINT)
                            * (d.degree - 1))
                        ELSE 0 END AS BIGINT) AS clustering_ppm
            FROM deg d LEFT JOIN pn ON pn.node = d.node
        """,
        "source_hhi": """
            WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS cnt
                       FROM documents GROUP BY source),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(cnt) AS BIGINT) AS t,
                         CAST(sum(CAST(cnt AS HUGEINT) * cnt)
                              AS HUGEINT) AS ss
                  FROM c)
            SELECT n AS n_keys, t AS total_rows,
                   CAST(ss * 1000000
                        // (CAST(t AS HUGEINT) * t) AS BIGINT)
                       AS hhi_ppm,
                   CAST(CAST(t AS HUGEINT) * t * 1000 // ss
                        AS BIGINT) AS eff_keys_milli
            FROM a
        """,
        "graph_indegree_skew": f"""
            WITH {_EDGES_SQL},
            c AS (SELECT dst, CAST(count(*) AS BIGINT) AS cnt
                  FROM edges GROUP BY dst),
            r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, dst)
                      AS i
                  FROM c),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(cnt) AS BIGINT) AS t,
                         CAST(max(cnt) AS BIGINT) AS m,
                         CAST(sum(i * cnt) AS BIGINT) AS s
                  FROM r)
            SELECT n AS n_keys, t AS total_rows,
                   CAST((CAST(m AS HUGEINT) * 1000000) // t
                        AS BIGINT) AS max_share_ppm,
                   CAST((CAST(2 AS HUGEINT) * s
                         - (CAST(n AS HUGEINT) + 1) * t) * 1000000
                        // (CAST(n AS HUGEINT) * t) AS BIGINT)
                       AS gini_ppm
            FROM a
        """,
        "graph_scc": f"""
            WITH RECURSIVE {_SCC_SQL}
            SELECT s.node, s.scc_id, z.scc_size
            FROM scc s JOIN sizes z USING (scc_id)
        """,
        "graph_bowtie": f"""
            WITH RECURSIVE {_SCC_SQL},
            core AS (SELECT node FROM scc WHERE scc_id =
                     (SELECT scc_id FROM sizes
                      ORDER BY scc_size DESC, scc_id LIMIT 1)),
            tocore AS (SELECT DISTINCT node FROM (
                       SELECT node FROM core
                       UNION ALL SELECT r.src FROM reach r
                                 JOIN core c ON r.dst = c.node)),
            fromcore AS (SELECT DISTINCT node FROM (
                         SELECT node FROM core
                         UNION ALL SELECT r.dst FROM reach r
                                   JOIN core c ON r.src = c.node)),
            inset AS (SELECT node FROM tocore WHERE node NOT IN
                      (SELECT node FROM fromcore)),
            outset AS (SELECT node FROM fromcore WHERE node NOT IN
                       (SELECT node FROM tocore)),
            fromin AS (SELECT DISTINCT node FROM (
                       SELECT node FROM inset
                       UNION ALL SELECT r.dst FROM reach r
                                 JOIN inset i ON r.src = i.node)),
            toout AS (SELECT DISTINCT node FROM (
                      SELECT node FROM outset
                      UNION ALL SELECT r.src FROM reach r
                                JOIN outset o ON r.dst = o.node)),
            eu AS (SELECT DISTINCT src, dst FROM (
                   SELECT src, dst FROM e
                   UNION ALL SELECT dst, src FROM e)),
            ureach(src, dst) AS (
                SELECT src, dst FROM eu
                UNION
                SELECT u.src, eu.dst FROM ureach u
                JOIN eu ON eu.src = u.dst
            ),
            comp AS (SELECT n.node,
                            least(n.node,
                                  coalesce(min(u.dst), n.node)) AS comp_id
                     FROM nodes n LEFT JOIN ureach u ON u.src = n.node
                     GROUP BY n.node),
            corecomp AS (SELECT min(c.comp_id) AS cid
                         FROM comp c JOIN core k ON c.node = k.node)
            SELECT n.node,
                   CASE WHEN tc.node IS NOT NULL
                             AND fc.node IS NOT NULL THEN 'CORE'
                        WHEN tc.node IS NOT NULL THEN 'IN'
                        WHEN fc.node IS NOT NULL THEN 'OUT'
                        WHEN c.comp_id <> (SELECT cid FROM corecomp)
                             THEN 'DISCONNECTED'
                        WHEN fi.node IS NOT NULL
                             AND tt.node IS NOT NULL THEN 'TUBE'
                        ELSE 'TENDRIL' END AS segment
            FROM nodes n
            JOIN comp c ON c.node = n.node
            LEFT JOIN tocore tc ON tc.node = n.node
            LEFT JOIN fromcore fc ON fc.node = n.node
            LEFT JOIN fromin fi ON fi.node = n.node
            LEFT JOIN toout tt ON tt.node = n.node
        """,
        "graph_salsa": f"""
            WITH {_EDGES_SQL},
            nodes AS (SELECT src AS node FROM edges
                      UNION SELECT dst FROM edges),
            od AS (SELECT src AS node, count(*) AS outdeg
                   FROM edges GROUP BY src),
            idg AS (SELECT dst AS node, count(*) AS indeg
                    FROM edges GROUP BY dst),
            h0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS h
                   FROM nodes),
            a1 AS (SELECT e.dst AS node,
                          CAST(sum(h0.h // od.outdeg) AS BIGINT) AS a
                   FROM edges e JOIN h0 ON h0.node = e.src
                        JOIN od ON od.node = e.src
                   GROUP BY e.dst),
            a1f AS (SELECT n.node, coalesce(a1.a, 0) AS a
                    FROM nodes n LEFT JOIN a1 ON a1.node = n.node),
            h1 AS (SELECT e.src AS node,
                          CAST(sum(a1f.a // idg.indeg) AS BIGINT) AS h
                   FROM edges e JOIN a1f ON a1f.node = e.dst
                        JOIN idg ON idg.node = e.dst
                   GROUP BY e.src),
            h1f AS (SELECT n.node, coalesce(h1.h, 0) AS h
                    FROM nodes n LEFT JOIN h1 ON h1.node = n.node),
            a2 AS (SELECT e.dst AS node,
                          CAST(sum(h1f.h // od.outdeg) AS BIGINT) AS a
                   FROM edges e JOIN h1f ON h1f.node = e.src
                        JOIN od ON od.node = e.src
                   GROUP BY e.dst),
            a2f AS (SELECT n.node, coalesce(a2.a, 0) AS a
                    FROM nodes n LEFT JOIN a2 ON a2.node = n.node),
            h2 AS (SELECT e.src AS node,
                          CAST(sum(a2f.a // idg.indeg) AS BIGINT) AS h
                   FROM edges e JOIN a2f ON a2f.node = e.dst
                        JOIN idg ON idg.node = e.dst
                   GROUP BY e.src),
            h2f AS (SELECT n.node, coalesce(h2.h, 0) AS h
                    FROM nodes n LEFT JOIN h2 ON h2.node = n.node)
            SELECT n.node, h2f.h AS hub_fp, a2f.a AS auth_fp
            FROM nodes n
            JOIN h2f ON h2f.node = n.node
            JOIN a2f ON a2f.node = n.node
        """,
        "cdc_near_dup": _CDC_CHUNKS_CTE + """
            , d AS (SELECT DISTINCT doc_id, fp FROM ch),
            pd AS (SELECT doc_id, CAST(count(*) AS BIGINT)
                       AS n_chunks
                   FROM d GROUP BY doc_id),
            hot AS (SELECT fp FROM d GROUP BY fp
                    HAVING count(*) > 64),
            cold AS (SELECT d.* FROM d
                     WHERE fp NOT IN (SELECT fp FROM hot)),
            sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          CAST(count(*) AS BIGINT) AS shared
                   FROM cold a JOIN cold b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
            SELECT doc_a, doc_b, shared,
                   CAST((shared * 1000000) // na.n_chunks AS BIGINT)
                       AS share_a_ppm,
                   CAST((shared * 1000000) // nb.n_chunks AS BIGINT)
                       AS share_b_ppm
            FROM sh
            JOIN pd na ON na.doc_id = sh.doc_a
            JOIN pd nb ON nb.doc_id = sh.doc_b
            WHERE greatest((shared * 1000000) // na.n_chunks,
                           (shared * 1000000) // nb.n_chunks)
                  >= 200000
        """,
        "graph_kcore": f"""
            WITH {_EDGES_SQL},
            e0 AS (
                SELECT src, dst FROM edges WHERE src <> dst
                UNION
                SELECT dst AS src, src AS dst FROM edges
                WHERE src <> dst),
            d1 AS (SELECT src AS node, count(*) AS deg
                   FROM e0 GROUP BY src),
            a1 AS (SELECT node FROM d1 WHERE deg >= 4),
            e1 AS (SELECT e.src, e.dst FROM e0 e
                   JOIN a1 x ON x.node = e.src
                   JOIN a1 y ON y.node = e.dst),
            d2 AS (SELECT src AS node, count(*) AS deg
                   FROM e1 GROUP BY src),
            a2 AS (SELECT node FROM d2 WHERE deg >= 4),
            e2 AS (SELECT e.src, e.dst FROM e1 e
                   JOIN a2 x ON x.node = e.src
                   JOIN a2 y ON y.node = e.dst)
            SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
            FROM e2 GROUP BY src
        """,
        "graph_hyperball": f"""
            WITH {_EDGES_SQL},
            {_hyperball_sql(reverse=False)}
            SELECT node, t, ball_est FROM sizes
        """,
        "kmv_host_distinct": _KMV_SKETCH_CTE + """
            , est AS (SELECT grp, count(*) AS c, max(h) AS kth
                      FROM sk GROUP BY grp)
            SELECT grp AS host, CAST(c AS BIGINT) AS sketch_size,
                   CAST(CASE WHEN c < 32 THEN c
                        ELSE CAST((CAST(31 AS HUGEINT)
                                   * (CAST(1 AS BIGINT) << 60))
                                  // greatest(kth, 1) AS BIGINT)
                        END AS BIGINT) AS distinct_est
            FROM est
        """,
        "kmv_host_overlap": _KMV_SKETCH_CTE + """
            , cand AS (
                SELECT DISTINCT a.grp AS grp_a, b.grp AS grp_b
                FROM sk a JOIN sk b ON a.h = b.h AND a.grp < b.grp),
            m AS (
                SELECT grp_a, grp_b, h,
                       max(in_a) AS in_a, max(in_b) AS in_b
                FROM (
                    SELECT c.grp_a, c.grp_b, s.h, 1 AS in_a, 0 AS in_b
                    FROM cand c JOIN sk s ON s.grp = c.grp_a
                    UNION ALL
                    SELECT c.grp_a, c.grp_b, s.h, 0, 1
                    FROM cand c JOIN sk s ON s.grp = c.grp_b)
                GROUP BY 1, 2, 3),
            top AS (
                SELECT * FROM (
                    SELECT m.*, row_number() OVER (
                        PARTITION BY grp_a, grp_b ORDER BY h) AS rn
                    FROM m) WHERE rn <= 32),
            agg AS (
                SELECT grp_a, grp_b,
                       CAST(sum(in_a * in_b) AS BIGINT) AS matches,
                       CAST(count(*) AS BIGINT) AS union_k,
                       max(h) AS kth
                FROM top GROUP BY 1, 2),
            est AS (
                SELECT grp_a, grp_b, matches, union_k,
                       CAST((matches * 1000000) // union_k AS BIGINT)
                           AS jaccard_est_ppm,
                       CAST(CASE WHEN union_k < 32 THEN union_k
                            ELSE CAST((CAST(31 AS HUGEINT)
                                       * (CAST(1 AS BIGINT) << 60))
                                      // greatest(kth, 1) AS BIGINT)
                            END AS BIGINT) AS union_est
                FROM agg)
            SELECT grp_a AS host_a, grp_b AS host_b, matches, union_k,
                   jaccard_est_ppm, union_est,
                   CAST((CAST(jaccard_est_ppm AS HUGEINT) * union_est)
                        // 1000000 AS BIGINT) AS inter_est
            FROM est
        """,
        "graph_diameter": f"""
            WITH {_EDGES_SQL},
            {_hyperball_sql(reverse=False)},
            nt AS (SELECT t, CAST(sum(ball_est) AS BIGINT) AS n
                   FROM sizes GROUP BY t),
            lagd AS (SELECT t, n,
                            lag(n, 1, 0) OVER (ORDER BY t) AS n_prev
                     FROM nt),
            tot AS (SELECT CAST(max_by(n, t) AS BIGINT) AS total
                    FROM nt),
            qs(q_ppm) AS (VALUES (500000), (900000)),
            hits AS (
                SELECT q_ppm, t, n, n_prev, total,
                       CASE WHEN t = 0 THEN CAST(0 AS BIGINT)
                            ELSE CAST((t - 1) * 1000000
                                 + (q_ppm::HUGEINT * total
                                    - n_prev::HUGEINT * 1000000)
                                   // (n - n_prev) AS BIGINT) END
                         AS d_micro
                FROM qs, lagd, tot
                WHERE n::HUGEINT * 1000000 >= q_ppm::HUGEINT * total)
            SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
                   CAST(min(t) AS BIGINT) AS t_eff,
                   CAST(min_by(d_micro, t) AS BIGINT) AS d_eff_micro
            FROM hits GROUP BY q_ppm
        """,
        "graph_harmonic": f"""
            WITH {_EDGES_SQL},
            {_hyperball_sql(reverse=True)},
            sh AS (
                SELECT node, t,
                       greatest(CAST(0 AS BIGINT),
                                ball_est - lag(ball_est) OVER (
                                    PARTITION BY node ORDER BY t))
                           AS shell
                FROM sizes)
            SELECT node,
                   CAST(sum(shell) AS BIGINT) AS reached_est,
                   CAST(sum(t * shell) AS BIGINT) AS sum_dist_est,
                   CAST(sum((shell * 1000000) // t) AS BIGINT)
                       AS harmonic_micro,
                   CAST(CASE WHEN sum(t * shell) > 0
                        THEN (sum(shell) * 1000000) // sum(t * shell)
                        ELSE 0 END AS BIGINT) AS closeness_micro
            FROM sh WHERE t >= 1 GROUP BY node
        """,
        "sitemap_parse": """
            SELECT source || '.test' AS host, 'url' AS kind,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY doc_id) - 1
                        AS BIGINT) AS ord,
                   'http://' || source || '.test/p'
                       || CAST(doc_id AS VARCHAR) AS loc,
                   CASE WHEN doc_id % 2 = 0
                        THEN '2026-01-'
                             || lpad(CAST(doc_id % 27 + 1 AS VARCHAR),
                                     2, '0')
                   END AS lastmod
            FROM documents
            UNION ALL
            SELECT d.source || '.test', 'url',
                   (SELECT count(*) FROM documents d2
                    WHERE d2.source = d.source),
                   'http://evil.test/x', NULL
            FROM (SELECT DISTINCT source FROM documents) d
            UNION ALL
            SELECT source || '.test', 'sitemap', 0,
                   'http://' || source || '.test/sitemap2.xml', NULL
            FROM (SELECT DISTINCT source FROM documents)
        """,
        "sitemap_gz": """
            -- the gz fixture carries the identical sitemap bodies,
            -- so this is sitemap_parse's oracle verbatim
            SELECT source || '.test' AS host, 'url' AS kind,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY doc_id) - 1
                        AS BIGINT) AS ord,
                   'http://' || source || '.test/p'
                       || CAST(doc_id AS VARCHAR) AS loc,
                   CASE WHEN doc_id % 2 = 0
                        THEN '2026-01-'
                             || lpad(CAST(doc_id % 27 + 1 AS VARCHAR),
                                     2, '0')
                   END AS lastmod
            FROM documents
            UNION ALL
            SELECT d.source || '.test', 'url',
                   (SELECT count(*) FROM documents d2
                    WHERE d2.source = d.source),
                   'http://evil.test/x', NULL
            FROM (SELECT DISTINCT source FROM documents) d
            UNION ALL
            SELECT source || '.test', 'sitemap', 0,
                   'http://' || source || '.test/sitemap2.xml', NULL
            FROM (SELECT DISTINCT source FROM documents)
        """,
        "sitemap_seeds": """
            SELECT DISTINCT source || '.test' AS host,
                   'http://' || source || '.test/p'
                       || CAST(doc_id AS VARCHAR) AS loc
            FROM documents
        """,
        "sitemap_coverage": """
            WITH listed AS (
              SELECT DISTINCT source || '.test' AS host,
                     'http://' || source || '.test/p'
                       || CAST(doc_id AS VARCHAR) AS u
              FROM documents),
            crawled AS (
              SELECT DISTINCT source || '.test' AS host,
                     'http://' || source || '.test/p'
                       || CAST(doc_id AS VARCHAR) AS u
              FROM documents WHERE doc_id % 3 <> 2),
            jj AS (
              SELECT coalesce(c.host, l.host) AS host,
                     CASE WHEN c.u IS NOT NULL THEN 1 ELSE 0 END
                       AS in_c,
                     CASE WHEN l.u IS NOT NULL THEN 1 ELSE 0 END
                       AS in_s
              FROM crawled c FULL OUTER JOIN listed l
                ON c.host = l.host AND c.u = l.u)
            SELECT host,
                   CAST(sum(in_c) AS BIGINT) AS n_corpus,
                   CAST(sum(in_s) AS BIGINT) AS n_listed,
                   CAST(sum(in_c * in_s) AS BIGINT) AS n_both,
                   CASE WHEN sum(in_c) > 0 THEN
                     CAST(1000000 * sum(in_c * in_s) // sum(in_c)
                          AS BIGINT) END AS listed_ppm,
                   CAST(sum(in_s) - sum(in_c * in_s) AS BIGINT)
                     AS backlog
            FROM jj GROUP BY host
        """,
        "text_boilerplate": """
            WITH d AS (
                SELECT doc_id, source,
                       'nav ' || source || chr(10) || text || chr(10)
                           || 'copyright ' || source AS t
                FROM documents),
            lines0 AS (
                SELECT doc_id, source,
                       unnest(generate_series(
                           1, len(string_split(t, chr(10))))) AS pos,
                       unnest(string_split(t, chr(10))) AS rawl
                FROM d),
            lines AS (
                SELECT doc_id, source, pos, trim(rawl) AS l
                FROM lines0 WHERE trim(rawl) <> ''),
            hn AS (SELECT source, count(DISTINCT doc_id) AS host_docs
                   FROM d GROUP BY source),
            ln AS (SELECT source, l, count(DISTINCT doc_id) AS n_docs
                   FROM lines GROUP BY source, l),
            bp AS (SELECT ln.source, ln.l
                   FROM ln JOIN hn USING (source)
                   WHERE n_docs >= 2
                     AND n_docs * 1000000 >= 500000 * host_docs),
            kept AS (
                SELECT k.doc_id, k.pos, k.l
                FROM lines k LEFT JOIN bp
                  ON bp.source = k.source AND bp.l = k.l
                WHERE bp.l IS NULL)
            SELECT d.doc_id,
                   COALESCE(string_agg(k.l, chr(10) ORDER BY k.pos), '')
                       AS text_clean
            FROM d LEFT JOIN kept k USING (doc_id)
            GROUP BY d.doc_id
        """,
        "text_paradedup": """
            WITH d AS (
                SELECT doc_id,
                       'shared intro ' || CAST(doc_id % 7 AS VARCHAR)
                           || chr(10) || text AS t
                FROM documents),
            lines0 AS (
                SELECT doc_id,
                       unnest(generate_series(
                           1, len(string_split(t, chr(10))))) AS pos,
                       unnest(string_split(t, chr(10))) AS rawl
                FROM d),
            lines AS (
                SELECT doc_id, pos, trim(rawl) AS l
                FROM lines0 WHERE trim(rawl) <> ''),
            ranked AS (
                SELECT doc_id, pos, l,
                       row_number() OVER (
                           PARTITION BY l ORDER BY doc_id, pos) AS rn
                FROM lines),
            kept AS (SELECT doc_id, pos, l FROM ranked WHERE rn = 1)
            SELECT d.doc_id,
                   COALESCE(string_agg(k.l, chr(10) ORDER BY k.pos), '')
                       AS text_clean
            FROM d LEFT JOIN kept k USING (doc_id)
            GROUP BY d.doc_id
        """,
        "pii_scan": _pii_scan_sql(),
        "pii_redact": _pii_redact_sql(),
        "shard_assign": """
            SELECT doc_id,
                   CAST(CAST(('0x' || substring(
                       md5('shard#' || CAST(doc_id AS VARCHAR)),
                       1, 15)) AS BIGINT) % 16 AS INTEGER) AS shard_id
            FROM documents
        """,
        "shard_manifest": """
            WITH a AS (
                SELECT doc_id, text,
                       CAST(CAST(('0x' || substring(
                           md5('shard#' || CAST(doc_id AS VARCHAR)),
                           1, 15)) AS BIGINT) % 16 AS INTEGER)
                           AS shard_id
                FROM documents)
            SELECT shard_id,
                   count(*) AS docs,
                   CAST(sum(COALESCE(len(list_filter(
                       string_split(text, ' '), x -> x <> '')), 0))
                       AS BIGINT) AS tokens,
                   bit_xor(CAST(('0x' || substring(
                       md5('doc#' || CAST(doc_id AS VARCHAR)),
                       1, 15)) AS BIGINT)) AS content_fp
            FROM a GROUP BY shard_id
        """,
        "text_entropy": """
            WITH tok AS (
              SELECT doc_id, t AS term FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)
              WHERE t <> ''),
            tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, term),
            dl AS (
              SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl,
                     CAST(count(*) AS BIGINT) AS n_types
              FROM tf GROUP BY doc_id)
            SELECT doc_id, dl, n_types,
                   CAST(sum(tf * (length(bin(CAST(
                        (dl::HUGEINT * dl) // (tf::HUGEINT * tf)
                        AS BIGINT))) - 1)) // dl AS BIGINT) AS ent_hb
            FROM tf JOIN dl USING (doc_id)
            GROUP BY doc_id, dl, n_types
        """,
        "text_repetition": """
            WITH d AS (
                SELECT doc_id,
                       text || chr(10) ||
                       CASE WHEN doc_id % 3 = 0 THEN text
                            ELSE 'unique ' || CAST(doc_id AS VARCHAR)
                       END AS t
                FROM documents),
            lines0 AS (
                SELECT doc_id, unnest(string_split(t, chr(10))) AS rawl
                FROM d),
            lines AS (
                SELECT doc_id, trim(rawl) AS l
                FROM lines0 WHERE trim(rawl) <> ''),
            pl AS (SELECT doc_id, l, count(*) AS n
                   FROM lines GROUP BY doc_id, l),
            pd AS (
                SELECT doc_id,
                       sum(n) AS total_lines,
                       sum(CASE WHEN n > 1 THEN n ELSE 0 END)
                           AS dup_lines,
                       sum(len(l) * n) AS total_chars,
                       sum(CASE WHEN n > 1 THEN len(l) * n ELSE 0 END)
                           AS dup_chars
                FROM pl GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(total_lines, 0) AS BIGINT)
                       AS total_lines,
                   CAST(COALESCE(dup_lines, 0) AS BIGINT) AS dup_lines,
                   CASE WHEN COALESCE(total_lines, 0) > 0
                        THEN CAST(floor(COALESCE(dup_lines, 0)
                                        * 1000000 / total_lines)
                                  AS BIGINT)
                        ELSE 0 END AS dup_line_ppm,
                   CASE WHEN COALESCE(total_chars, 0) > 0
                        THEN CAST(floor(COALESCE(dup_chars, 0)
                                        * 1000000 / total_chars)
                                  AS BIGINT)
                        ELSE 0 END AS dup_line_char_ppm
            FROM d LEFT JOIN pd USING (doc_id)
        """,
        "text_top_bigram": """
            WITH f AS (
                SELECT doc_id,
                       list_filter(string_split(
                           replace(text, chr(10), ' '), ' '),
                           x -> x <> '') AS toks
                FROM documents),
            grams AS (
                SELECT doc_id,
                       array_to_string(toks[i:i+1], ' ') AS bg
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, len(toks) - 1))
                                 AS i
                      FROM f WHERE len(toks) >= 2)),
            pg AS (SELECT doc_id, bg, count(*) AS n
                   FROM grams GROUP BY doc_id, bg),
            pd AS (SELECT doc_id, sum(n) AS total_bigrams,
                          max(n) AS top_bigram_n
                   FROM pg GROUP BY doc_id)
            SELECT f.doc_id,
                   CAST(COALESCE(total_bigrams, 0) AS BIGINT)
                       AS total_bigrams,
                   CAST(COALESCE(top_bigram_n, 0) AS BIGINT)
                       AS top_bigram_n,
                   CASE WHEN COALESCE(total_bigrams, 0) > 0
                        THEN CAST(floor(COALESCE(top_bigram_n, 0)
                                        * 1000000 / total_bigrams)
                                  AS BIGINT)
                        ELSE 0 END AS top_bigram_ppm
            FROM f LEFT JOIN pd USING (doc_id)
        """,
        "mix_sample": """
            WITH q AS (
                SELECT DISTINCT source,
                       125000 * (1 + length(source) % 7) AS keep_ppm
                FROM documents),
            d AS (
                SELECT doc_id, source,
                       CAST(('0x' || substring(
                           md5(source || '#'
                               || CAST(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) % 1000000 AS u_ppm
                FROM documents)
            SELECT d.doc_id, d.source, d.u_ppm,
                   d.u_ppm < q.keep_ppm AS keep
            FROM d JOIN q USING (source)
        """,
        "mix_report": """
            WITH q AS (
                SELECT DISTINCT source,
                       125000 * (1 + length(source) % 7) AS keep_ppm
                FROM documents),
            d AS (
                SELECT doc_id, source,
                       CAST(('0x' || substring(
                           md5(source || '#'
                               || CAST(doc_id AS VARCHAR)), 1, 15))
                           AS BIGINT) % 1000000 AS u_ppm
                FROM documents),
            s AS (
                SELECT d.source,
                       CASE WHEN d.u_ppm < q.keep_ppm
                            THEN 1 ELSE 0 END AS k
                FROM d JOIN q USING (source))
            SELECT source, count(*) AS total,
                   CAST(sum(k) AS BIGINT) AS kept,
                   CAST(floor(sum(k) * 1000000 / count(*)) AS BIGINT)
                       AS kept_ppm
            FROM s GROUP BY source
        """,
        "text_decontam": """
            WITH d AS (
                SELECT doc_id,
                       list_filter(string_split(
                           replace(text, chr(10), ' '), ' '),
                           x -> x <> '') AS toks
                FROM documents),
            grams AS (
                SELECT doc_id,
                       array_to_string(toks[pos:pos+4], ' ') AS ngram
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, len(toks) - 4))
                                 AS pos
                      FROM d WHERE len(toks) >= 5)),
            ev AS (
                SELECT array_to_string(toks[2:10], ' ') AS text
                FROM d WHERE doc_id % 37 = 5),
            evt AS (
                SELECT list_filter(string_split(text, ' '),
                                   x -> x <> '') AS toks
                FROM ev),
            evg AS (
                SELECT DISTINCT
                       array_to_string(toks[pos:pos+4], ' ') AS ngram
                FROM (SELECT toks,
                             unnest(generate_series(1, len(toks) - 4))
                                 AS pos
                      FROM evt WHERE len(toks) >= 5)),
            tot AS (
                SELECT doc_id, count(*) AS total_ngrams
                FROM grams GROUP BY doc_id),
            hits AS (
                SELECT doc_id, count(*) AS hit_ngrams
                FROM grams
                WHERE ngram IN (SELECT ngram FROM evg)
                GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(t.total_ngrams, 0) AS total_ngrams,
                   COALESCE(h.hit_ngrams, 0) AS hit_ngrams,
                   CASE WHEN COALESCE(t.total_ngrams, 0) > 0
                        THEN CAST(floor(COALESCE(h.hit_ngrams, 0)
                                        * 1000000 / t.total_ngrams)
                                  AS BIGINT)
                        ELSE 0 END AS hit_ppm,
                   COALESCE(h.hit_ngrams, 0) > 0 AS contaminated
            FROM d
            LEFT JOIN tot t USING (doc_id)
            LEFT JOIN hits h USING (doc_id)
        """,
        "o20_scored_topk": """
            WITH due AS (
                SELECT source AS host, doc_id AS url_hash,
                       doc_id AS discovery_idx,
                       (doc_id * 37) % 1000 AS score_fp
                FROM documents),
            r AS (
                SELECT host, url_hash, discovery_idx,
                       row_number() OVER (
                           PARTITION BY host
                           ORDER BY score_fp DESC, discovery_idx) AS rn
                FROM due)
            SELECT host, url_hash, discovery_idx FROM r WHERE rn <= 3
        """,
        "dust_rules": _DUST_SQL + """
            SELECT host, param,
                   CAST(sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS support,
                   CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS refuted
            FROM grp GROUP BY host, param
            HAVING sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) >= 2
               AND sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
        """,
        "dust_canon": _DUST_SQL + """
            , rules AS (
                SELECT host, param FROM grp GROUP BY host, param
                HAVING sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) >= 2
                   AND sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0)
            SELECT c.url,
                   c.host || c.path ||
                   CASE WHEN count(k.item) FILTER (
                            WHERE k.item IS NOT NULL
                              AND r.param IS NULL) = 0
                        THEN ''
                        ELSE '?' || string_agg(k.item, '&'
                                               ORDER BY k.item)
                                    FILTER (WHERE r.param IS NULL) END
                     AS canon_url
            FROM p2 c
            LEFT JOIN kv k ON k.url = c.url
            LEFT JOIN rules r ON r.host = c.host
                             AND r.param = split_part(k.item, '=', 1)
            GROUP BY c.url, c.host, c.path
        """,
        "trap_signals": """
            WITH u AS (
                SELECT doc_id, doc_id % 4 AS m,
                       'http://' || source || '.test' ||
                       CASE doc_id % 4
                         WHEN 0 THEN '/a' || CAST(doc_id AS VARCHAR)
                                     || '/b/c'
                         WHEN 1 THEN '/loop/x/loop/x/loop'
                         WHEN 2 THEN '/' || CAST(doc_id % 9 AS VARCHAR)
                                     || '/12/13/14/15'
                         ELSE '/p' || CAST(doc_id AS VARCHAR)
                              || '?a=1&b=2&c=3&d=4&e=5&f=6&g=7'
                       END AS url
                FROM documents)
            SELECT doc_id, url,
                   CASE m WHEN 0 THEN 3 WHEN 1 THEN 5 WHEN 2 THEN 5
                          ELSE 1 END AS depth,
                   CASE m WHEN 1 THEN 3 ELSE 0 END AS dup_segments,
                   CASE m WHEN 3 THEN 7 ELSE 0 END AS n_params,
                   CASE m WHEN 2 THEN 5 ELSE 0 END AS n_numeric,
                   length(url) AS url_len,
                   m IN (1, 2, 3) AS is_trap
            FROM u
        """,
        "o18_bfs_order": """
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS crawl_order
            FROM events
        """,
        "o19_first_discovery": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn = 1
        """,
        "o20_politeness_topk": """
            SELECT user_id, event_id, rn AS fetch_slot FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM events) WHERE rn <= 3
        """,
        "o20_host_budget": """
            SELECT user_id, event_id FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY event_id) AS rn
              FROM events)
            WHERE rn <= CASE WHEN user_id % 10 <> 0
                             THEN 1 + user_id % 4 ELSE 2 END
        """,
        "o20_robots_filter": """
            SELECT doc_id, source AS host,
                   'http://' || source || '.test/' || lang || '/doc'
                     || doc_id AS url
            FROM documents
            WHERE NOT (
                CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 2 = 0
                AND starts_with('/' || lang || '/doc' || doc_id, '/en'))
        """,
        "robots_delay": """
            WITH src AS (
              SELECT doc_id,
                     'd' || CAST(doc_id % 6 AS VARCHAR) AS host,
                     CASE doc_id % 5
                       WHEN 0 THEN 'User-agent: *'
                       WHEN 1 THEN 'Crawl-delay: ' ||
                            CASE WHEN doc_id % 8 = 1 THEN 'junk'
                                 ELSE CAST(doc_id % 30 AS VARCHAR) END
                       WHEN 2 THEN 'User-agent: bot2'
                       WHEN 3 THEN 'Disallow: /x' ||
                            CAST(doc_id % 10 AS VARCHAR)
                       ELSE '# n' || CAST(doc_id AS VARCHAR)
                     END AS line
              FROM documents
            ),
            d0 AS (
              SELECT host,
                     row_number() OVER (PARTITION BY host ORDER BY doc_id)
                       - 1 AS idx,
                     trim(regexp_replace(line, '#.*$', '')) AS l
              FROM src
            ),
            d AS (
              SELECT host, idx,
                     lower(trim(split_part(l, ':', 1))) AS key,
                     trim(regexp_extract(l, '^[^:]*:(.*)$', 1)) AS val
              FROM d0 WHERE l <> ''
            ),
            dk AS (
              SELECT * FROM d
              WHERE key IN ('user-agent', 'disallow', 'allow',
                            'crawl-delay')
            ),
            gs AS (
              SELECT *,
                     CASE WHEN key = 'user-agent'
                          AND coalesce(
                                lag(key) OVER (PARTITION BY host
                                               ORDER BY idx), '')
                              <> 'user-agent'
                     THEN 1 ELSE 0 END AS grp_start
              FROM dk
            ),
            g AS (
              SELECT *,
                     SUM(grp_start) OVER (PARTITION BY host ORDER BY idx
                                          ROWS UNBOUNDED PRECEDING) AS grp
              FROM gs
            ),
            grps AS (
              SELECT host, grp,
                     max(CASE WHEN key = 'user-agent' AND val = '*'
                         THEN 1 ELSE 0 END) AS star
              FROM g WHERE grp > 0 GROUP BY host, grp
            )
            SELECT g.host,
                   max(TRY_CAST(g.val AS INT)) AS crawl_delay
            FROM g JOIN grps ON g.host = grps.host AND g.grp = grps.grp
            WHERE grps.star = 1 AND g.key = 'crawl-delay'
            GROUP BY g.host
            HAVING max(TRY_CAST(g.val AS INT)) IS NOT NULL
        """,
        "robots_sitemaps": """
            WITH src AS (
              SELECT doc_id,
                     'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
                     CASE doc_id % 4
                       WHEN 0 THEN 'Sitemap: http://h' ||
                            CAST(doc_id % 7 AS VARCHAR) || '.test/sm' ||
                            CAST(doc_id % 3 AS VARCHAR) || '.xml'
                       WHEN 1 THEN 'User-agent: *'
                       WHEN 2 THEN '# c' || CAST(doc_id AS VARCHAR)
                       ELSE 'sitemap: http://h' ||
                            CAST(doc_id % 7 AS VARCHAR) || '.test/alt.xml'
                     END AS line
              FROM documents
            ),
            d0 AS (
              SELECT host,
                     row_number() OVER (PARTITION BY host ORDER BY doc_id)
                       - 1 AS idx,
                     trim(regexp_replace(line, '#.*$', '')) AS l
              FROM src
            ),
            d AS (
              SELECT host, idx,
                     lower(trim(split_part(l, ':', 1))) AS key,
                     trim(regexp_extract(l, '^[^:]*:(.*)$', 1)) AS val
              FROM d0 WHERE l <> ''
            ),
            sm AS (
              SELECT host, val, min(idx) AS idx
              FROM d WHERE key = 'sitemap' AND val <> ''
              GROUP BY host, val
            )
            SELECT host,
                   CAST(row_number() OVER (PARTITION BY host ORDER BY idx)
                        - 1 AS INT) AS ord,
                   val AS sitemap_url
            FROM sm
        """,
        "robots_wildcard": """
            WITH d AS (
              SELECT doc_id,
                     'h' || CAST(doc_id % 7 AS VARCHAR) AS host
              FROM documents),
            rules AS (
              SELECT DISTINCT host,
                     CASE doc_id % 6
                       WHEN 0 THEN '/private/*'
                       WHEN 1 THEN '/private/*/pub'
                       WHEN 2 THEN '/tmp'
                       WHEN 3 THEN '/*.json$'
                       WHEN 4 THEN '/tmp/keep' END AS pattern,
                     doc_id % 6 IN (1, 4) AS allow
              FROM d WHERE doc_id % 6 < 5),
            urls AS (
              SELECT DISTINCT host,
                     CASE doc_id % 8
                       WHEN 0 THEN '/private/x'
                                   || CAST(doc_id % 4 AS VARCHAR)
                       WHEN 1 THEN '/private/'
                                   || CAST(doc_id % 3 AS VARCHAR)
                                   || '/pub'
                       WHEN 2 THEN '/tmp'
                       WHEN 3 THEN '/data/'
                                   || CAST(doc_id % 5 AS VARCHAR)
                                   || '.json'
                       WHEN 4 THEN '/data/'
                                   || CAST(doc_id % 5 AS VARCHAR)
                                   || '.json.bak'
                       WHEN 5 THEN '/public/page'
                                   || CAST(doc_id % 10 AS VARCHAR)
                       WHEN 6 THEN '/tmp/keep'
                       ELSE '/tmpX' END AS path
              FROM d),
            m AS (
              SELECT u.host, u.path,
                     max(length(r.pattern) * 2
                         + CASE WHEN r.allow THEN 1 ELSE 0 END) AS best
              FROM urls u JOIN rules r ON r.host = u.host
              WHERE regexp_matches(u.path,
                    '^' || replace(replace(r.pattern, '.', '\\.'),
                                   '*', '.*'))
              GROUP BY u.host, u.path)
            SELECT u.host, u.path,
                   coalesce(m.best % 2 = 1, true) AS allowed
            FROM urls u LEFT JOIN m USING (host, path)
        """,
        "robots_parse": """
            -- same RFC-9309-subset state machine as robots.py, over the
            -- same synthesized lines (idx = line rank within host — the
            -- split of the joined body is the identity here)
            WITH src AS (
              SELECT doc_id,
                     'h' || CAST(doc_id % 7 AS VARCHAR) AS host,
                     CASE doc_id % 5
                       WHEN 0 THEN 'User-agent: *'
                       WHEN 1 THEN 'Disallow: /' ||
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                       WHEN 2 THEN 'User-agent: crawler9'
                       WHEN 3 THEN 'Disallow: /blk' ||
                            CAST(doc_id % 10 AS VARCHAR)
                       ELSE '# c' || CAST(doc_id AS VARCHAR)
                     END AS line
              FROM documents
            ),
            d0 AS (
              SELECT host,
                     row_number() OVER (PARTITION BY host ORDER BY doc_id)
                       - 1 AS idx,
                     trim(regexp_replace(line, '#.*$', '')) AS l
              FROM src
            ),
            d AS (
              SELECT host, idx,
                     lower(trim(split_part(l, ':', 1))) AS key,
                     trim(regexp_extract(l, '^[^:]*:(.*)$', 1)) AS val
              FROM d0 WHERE l <> ''
            ),
            dk AS (
              SELECT * FROM d
              WHERE key IN ('user-agent', 'disallow', 'allow')
            ),
            gs AS (
              SELECT *,
                     CASE WHEN key = 'user-agent'
                          AND coalesce(
                                lag(key) OVER (PARTITION BY host
                                               ORDER BY idx), '')
                              <> 'user-agent'
                     THEN 1 ELSE 0 END AS grp_start
              FROM dk
            ),
            g AS (
              SELECT *,
                     SUM(grp_start) OVER (PARTITION BY host ORDER BY idx
                                          ROWS UNBOUNDED PRECEDING) AS grp
              FROM gs
            ),
            grps AS (
              SELECT host, grp,
                     max(CASE WHEN key = 'user-agent' AND val = '*'
                         THEN 1 ELSE 0 END) AS star
              FROM g WHERE grp > 0 GROUP BY host, grp
            ),
            pref AS (
              SELECT g.host, g.idx, g.val
              FROM g JOIN grps ON g.host = grps.host AND g.grp = grps.grp
              WHERE grps.star = 1 AND g.key = 'disallow' AND g.val <> ''
            )
            SELECT host,
                   CAST(row_number() OVER (PARTITION BY host ORDER BY idx)
                        - 1 AS INT) AS ord,
                   val AS prefix
            FROM pref
        """,
        "o21_union_dedup": """
            SELECT DISTINCT event_id, user_id FROM (
              SELECT event_id, user_id FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT event_id, user_id FROM events WHERE value > 90)
        """,
        "o21_queue_intersect": """
            SELECT user_id FROM events WHERE event_type = 'purchase'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'signup'
        """,
        "o26_time_rollup": """
            SELECT strftime(ts, '%Y-%m-%d %H') AS hour, count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS value_cents
            FROM events GROUP BY 1
        """,
        "o1_recrawl_due": """
            SELECT user_id,
                   strftime(finished_ts, '%Y-%m-%d %H:%M:%S') AS finished_s,
                   row_number() OVER (ORDER BY user_id) AS due_rank
            FROM (
              SELECT user_id, max(ts) AS finished_ts FROM events
              GROUP BY user_id)
            WHERE finished_ts + to_minutes(CAST(user_id % 10000 AS BIGINT))
                  <= TIMESTAMP '2024-06-01 00:00:00'
        """,
        "events_sessionize": """
            SELECT user_id, event_id,
                   CAST(sum(flag) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM (
              SELECT user_id, event_id, ts,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                          THEN 1 ELSE 0 END AS flag
              FROM events)
        """,
        "dedup_exact": """
            SELECT md5(CAST(regexp_replace(trim(text), '\\s+', ' ', 'g')
                       AS VARCHAR)) AS fp,
                   min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "dedup_jaccard": """
            WITH t AS (
              SELECT doc_id, lang AS blk,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(floor(len(list_intersect(a.toks, b.toks)) * 1000000.0
                        / len(list_distinct(list_concat(a.toks, b.toks))))
                        AS BIGINT) AS jaccard_ppm
            FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
            WHERE CAST(floor(len(list_intersect(a.toks, b.toks)) * 1000000.0
                  / len(list_distinct(list_concat(a.toks, b.toks))))
                  AS BIGINT) >= 600000
        """,
        "dedup_setjoin": """
            WITH t AS (
              SELECT doc_id,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents WHERE text IS NOT NULL)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(floor(len(list_intersect(a.toks, b.toks)) * 1000000.0
                        / len(list_distinct(list_concat(a.toks, b.toks))))
                        AS BIGINT) AS jaccard_ppm
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE CAST(floor(len(list_intersect(a.toks, b.toks)) * 1000000.0
                  / len(list_distinct(list_concat(a.toks, b.toks))))
                  AS BIGINT) >= 600000
        """,
        "simjoin_cosine": """
            WITH tf AS (
              SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
              FROM (SELECT doc_id,
                           unnest(string_split(text, ' ')) AS tok
                    FROM documents WHERE text IS NOT NULL)
              GROUP BY doc_id, tok),
            n2 AS (SELECT doc_id, CAST(sum(tf*tf) AS BIGINT) AS n2
                   FROM tf GROUP BY doc_id),
            dots AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
              FROM tf a JOIN tf b
                ON b.tok = a.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   CAST((dot::HUGEINT * dot * 1000000)
                        // (na.n2::HUGEINT * nb.n2) AS BIGINT)
                     AS cos2_ppm
            FROM dots
            JOIN n2 na ON na.doc_id = doc_a
            JOIN n2 nb ON nb.doc_id = doc_b
            WHERE dot::HUGEINT * dot * 1000000000000
                  >= 950000::HUGEINT * 950000 * na.n2 * nb.n2
        """,
        "dedup_minhash_sigs": _SHINGLE_CTE + f"""
            SELECT doc_id, {_SIG_SELECTS} FROM sh
        """,
        "dedup_minhash_lsh": _SHINGLE_CTE + f"""
            , sig AS (SELECT doc_id, {_SIG_SELECTS} FROM sh),
            bands AS ({_BANDS_SQL})
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
        """,
        "dedup_bbit": _SHINGLE_CTE + f"""
            , sig AS (SELECT doc_id, {_SIG_SELECTS} FROM sh),
            bands AS ({_BANDS_SQL}),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
            low AS (
              SELECT doc_id,
                     {", ".join(
                         f"CAST(('0x' || substr(sig_{i}, 32, 1))"
                         f" AS BIGINT) AS low_{i}"
                         for i in range(8))}
              FROM sig),
            toks AS (
              SELECT doc_id,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents),
            sc AS (
              SELECT c.doc_a, c.doc_b,
                     CAST({" + ".join(
                         f"(CASE WHEN la.low_{i} = lbb.low_{i}"
                         f" THEN 1 ELSE 0 END)"
                         for i in range(8))} AS BIGINT) AS matches,
                     CAST(floor(len(list_intersect(ta.toks, tb.toks))
                          * 1000000.0
                          / len(list_distinct(
                              list_concat(ta.toks, tb.toks))))
                          AS BIGINT) AS jaccard_ppm
              FROM cand c
              JOIN low la ON la.doc_id = c.doc_a
              JOIN low lbb ON lbb.doc_id = c.doc_b
              JOIN toks ta ON ta.doc_id = c.doc_a
              JOIN toks tb ON tb.doc_id = c.doc_b),
            est AS (
              SELECT doc_a, doc_b, matches, jaccard_ppm,
                     greatest(CAST(0 AS BIGINT),
                       CAST((16 * matches - 8) * 1000000 // (8 * 15)
                            AS BIGINT)) AS est_ppm
              FROM sc)
            SELECT doc_a, doc_b, matches, est_ppm, jaccard_ppm,
                   CAST(abs(est_ppm - jaccard_ppm) AS BIGINT)
                     AS abs_err_ppm
            FROM est
        """,
        "dedup_containment": _SHINGLE_CTE + f"""
            , sig AS (SELECT doc_id, {_SIG_SELECTS} FROM sh),
            bands AS ({_BANDS_SQL}),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
            tk AS (SELECT doc_id,
                         list_distinct(string_split(text, ' ')) AS toks
                  FROM documents),
            scored AS (
              SELECT doc_a, doc_b,
                     CAST(floor(len(list_intersect(ta.toks, tb.toks))
                          * 1000000.0 / len(ta.toks)) AS BIGINT)
                       AS cont_a_ppm,
                     CAST(floor(len(list_intersect(ta.toks, tb.toks))
                          * 1000000.0 / len(tb.toks)) AS BIGINT)
                       AS cont_b_ppm
              FROM cand JOIN tk ta ON ta.doc_id = cand.doc_a
                        JOIN tk tb ON tb.doc_id = cand.doc_b)
            SELECT doc_a, doc_b, cont_a_ppm, cont_b_ppm FROM scored
            WHERE greatest(cont_a_ppm, cont_b_ppm) >= 600000
        """,
        "dedup_simhash": _simhash_sql(),
        "dedup_simhash_near": _simhash_near_sql(),
        "dedup_simhash64": _simhash64_sql(),
        "dedup_simhash64_near": _simhash64_near_sql(),
        "ann_lsh_assign": f"""
            WITH v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings)
            SELECT vec_id, CAST({_lsh_bucket_expr()} AS BIGINT) AS bucket
            FROM v0
        """,
        "ann_lsh_multi": f"""
            -- 3 independent tables, each multi-probed at hamming<=1;
            -- the OR-join yields each qualifying pair once (the Spark
            -- side dedups its per-table unions to the same set)
            WITH v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            b AS (SELECT vec_id, v,
                         CAST({_lsh_bucket_expr("hp")} AS BIGINT) AS b0,
                         CAST({_lsh_bucket_expr("hp1")} AS BIGINT) AS b1,
                         CAST({_lsh_bucket_expr("hp2")} AS BIGINT) AS b2
                  FROM v0),
            q AS (SELECT vec_id AS q_id, v AS qv, b0 AS qb0, b1 AS qb1,
                         b2 AS qb2
                  FROM b WHERE vec_id < 10),
            cand AS (
              SELECT q.q_id, b.vec_id, {_DOT_SQL} AS score
              FROM q JOIN b ON q.q_id <> b.vec_id AND (
                   bit_count(xor(q.qb0, b.b0)) <= 1
                OR bit_count(xor(q.qb1, b.b1)) <= 1
                OR bit_count(xor(q.qb2, b.b2)) <= 1))
            SELECT q_id, vec_id, score, rank FROM (
              SELECT q_id, vec_id, score,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score DESC, vec_id) AS rank
              FROM cand) WHERE rank <= 3
        """,
        "ann_lsh_topk": f"""
            WITH v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            b AS (SELECT vec_id, v,
                         CAST({_lsh_bucket_expr()} AS BIGINT) AS bucket
                  FROM v0),
            q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM b
                  WHERE vec_id < 10),
            -- multi-probe (hamming<=1 sign flips): the oracle says it as
            -- a bit_count theta-join; the Spark side explodes the probe
            -- buckets on the query side to keep the equi-join shuffle
            scored AS (
              SELECT q.q_id, b.bucket, b.vec_id, {_DOT_SQL} AS score
              FROM q JOIN b ON bit_count(xor(q.bucket, b.bucket)) <= 1
               AND q.q_id != b.vec_id)
            SELECT q_id, bucket, vec_id, score, rank FROM (
              SELECT q_id, bucket, vec_id, score,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score DESC, vec_id) AS rank
              FROM scored) WHERE rank <= 3
        """,
        # DuckDB needs RECURSIVE on the whole WITH-chain, so the shingle
        # CTE is inlined rather than prefixed via _SHINGLE_CTE
        "dedup_components": _CC_CTE + """
            SELECT doc_id, component_id,
                   count(*) OVER (PARTITION BY component_id) AS csize
            FROM comp
        """,
        "dedup_weights": _CC_CTE + """
            , cw AS (
              SELECT doc_id,
                     count(*) OVER (PARTITION BY component_id) AS csize
              FROM comp)
            SELECT d.doc_id,
                   CAST(coalesce(cw.csize, 1) AS BIGINT) AS csize,
                   CAST(1000000 // coalesce(cw.csize, 1) AS BIGINT)
                     AS weight_ppm
            FROM documents d LEFT JOIN cw USING (doc_id)
        """,
        "sim_topk_dot": f"""
            WITH v AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < 10),
            scored AS (
              SELECT q_id, vec_id, {_DOT_SQL} AS score
              FROM q, v WHERE q_id != vec_id)
            SELECT q_id, vec_id, score, rank FROM (
              SELECT q_id, vec_id, score,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score DESC, vec_id) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "sim_topk_cosine": f"""
            WITH v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            n AS (
              SELECT vec_id, v,
                     CAST(list_sum(list_transform(range(1, len(v) + 1),
                       i -> v[i] * v[i])) AS BIGINT) AS n2
              FROM v0),
            nz AS (SELECT * FROM n WHERE n2 > 0),
            q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2
                  FROM nz WHERE vec_id < 10),
            scored AS (
              SELECT q_id, vec_id,
                     CAST(floor(CAST({_DOT_SQL} AS DOUBLE) * 1000000.0
                       / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                       AS BIGINT) AS cosine_ppm
              FROM q, nz WHERE q_id != vec_id)
            SELECT q_id, vec_id, cosine_ppm, rank FROM (
              SELECT q_id, vec_id, cosine_ppm,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY cosine_ppm DESC, vec_id) AS rank
              FROM scored) WHERE rank <= 5
        """,
        # identical SQL to audio_wav_peaks by design: aiff_table
        # carries the same sample formula through the big-endian
        # container (decode paths differ, the answer must not)
        "audio_aiff_peaks": """
            WITH d AS (SELECT doc_id AS track_id FROM documents
                       ORDER BY doc_id LIMIT 16),
            e AS (
              SELECT track_id, gt.t, gk.k,
                     abs(sum(
                       ((CAST(gt.t * 32 + gj.j AS BIGINT)
                         * (gt.t * 32 + gj.j + track_id)) % 8192
                        - 4096)
                       * CASE WHEN bit_count(CAST(gj.j AS BIGINT)
                                             & gk.k) % 2 = 0
                              THEN 1 ELSE -1 END)) AS en
              FROM d,
                   (SELECT unnest(generate_series(0, 6)) AS t) gt,
                   (SELECT unnest(generate_series(0, 63)) AS k) gk,
                   (SELECT unnest(generate_series(0, 63)) AS j) gj
              GROUP BY track_id, gt.t, gk.k)
            SELECT c.track_id, CAST(c.t AS BIGINT) AS t,
                   CAST(c.k AS BIGINT) AS f
            FROM e c
            JOIN e p ON p.track_id = c.track_id AND p.k = c.k
                    AND p.t = c.t - 1
            JOIN e nx ON nx.track_id = c.track_id AND nx.k = c.k
                     AND nx.t = c.t + 1
            WHERE c.k >= 1 AND p.en < c.en AND c.en >= nx.en
        """,
        # identical SQL to audio_wav_peaks by design: flac_table
        # carries the same sample formula, so the constellation
        # oracle is shared (decode paths differ, the answer must not)
        "audio_flac_peaks": """
            WITH d AS (SELECT doc_id AS track_id FROM documents
                       ORDER BY doc_id LIMIT 16),
            e AS (
              SELECT track_id, gt.t, gk.k,
                     abs(sum(
                       ((CAST(gt.t * 32 + gj.j AS BIGINT)
                         * (gt.t * 32 + gj.j + track_id)) % 8192
                        - 4096)
                       * CASE WHEN bit_count(CAST(gj.j AS BIGINT)
                                             & gk.k) % 2 = 0
                              THEN 1 ELSE -1 END)) AS en
              FROM d,
                   (SELECT unnest(generate_series(0, 6)) AS t) gt,
                   (SELECT unnest(generate_series(0, 63)) AS k) gk,
                   (SELECT unnest(generate_series(0, 63)) AS j) gj
              GROUP BY track_id, gt.t, gk.k)
            SELECT c.track_id, CAST(c.t AS BIGINT) AS t,
                   CAST(c.k AS BIGINT) AS f
            FROM e c
            JOIN e p ON p.track_id = c.track_id AND p.k = c.k
                    AND p.t = c.t - 1
            JOIN e nx ON nx.track_id = c.track_id AND nx.k = c.k
                     AND nx.t = c.t + 1
            WHERE c.k >= 1 AND p.en < c.en AND c.en >= nx.en
        """,
        "audio_wav_peaks": """
            WITH d AS (SELECT doc_id AS track_id FROM documents
                       ORDER BY doc_id LIMIT 16),
            e AS (
              SELECT track_id, gt.t, gk.k,
                     abs(sum(
                       ((CAST(gt.t * 32 + gj.j AS BIGINT)
                         * (gt.t * 32 + gj.j + track_id)) % 8192
                        - 4096)
                       * CASE WHEN bit_count(CAST(gj.j AS BIGINT)
                                             & gk.k) % 2 = 0
                              THEN 1 ELSE -1 END)) AS en
              FROM d,
                   (SELECT unnest(generate_series(0, 6)) AS t) gt,
                   (SELECT unnest(generate_series(0, 63)) AS k) gk,
                   (SELECT unnest(generate_series(0, 63)) AS j) gj
              GROUP BY track_id, gt.t, gk.k)
            SELECT c.track_id, CAST(c.t AS BIGINT) AS t,
                   CAST(c.k AS BIGINT) AS f
            FROM e c
            JOIN e p ON p.track_id = c.track_id AND p.k = c.k
                    AND p.t = c.t - 1
            JOIN e nx ON nx.track_id = c.track_id AND nx.k = c.k
                     AND nx.t = c.t + 1
            WHERE c.k >= 1 AND p.en < c.en AND c.en >= nx.en
        """,
        "events_trend": """
            WITH daily AS (
              SELECT epoch_us(ts) // 86400000000 AS x,
                     CAST(count(*) AS BIGINT) AS y
              FROM events GROUP BY 1),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                     sum(x::HUGEINT * y) AS sxy,
                     sum(x::HUGEINT * x) AS sxx,
                     sum(y::HUGEINT * y) AS syy
              FROM daily),
            v AS (
              SELECT n, sx, sy,
                     n * sxx - sx * sx AS vx,
                     n * syy - sy * sy AS vy,
                     n * sxy - sx * sy AS num
              FROM s),
            b AS (
              SELECT *,
                     CASE WHEN vx = 0 THEN NULL
                          WHEN num >= 0 THEN
                            CAST((1000000 * num) // vx AS BIGINT)
                          ELSE -CAST((1000000 * (-num)) // vx
                                     AS BIGINT) END AS slope_ppm
              FROM v),
            i AS (
              SELECT *,
                     CASE WHEN vx = 0 THEN NULL
                          WHEN 1000000000 * sy
                               - 1000 * slope_ppm * sx >= 0 THEN
                            CAST((1000000000 * sy
                                  - 1000 * slope_ppm * sx)
                                 // (1000000 * n) AS BIGINT)
                          ELSE -CAST(-(1000000000 * sy
                                  - 1000 * slope_ppm * sx)
                                 // (1000000 * n) AS BIGINT) END
                       AS intercept_milli,
                     CAST(floor(sqrt(CAST(vx AS DOUBLE))) AS BIGINT)
                       AS s0,
                     CAST(floor(sqrt(CAST(vy AS DOUBLE))) AS BIGINT)
                       AS s1
              FROM b),
            r AS (
              SELECT *,
                     CASE WHEN vx = 0 THEN CAST(0 AS BIGINT)
                          WHEN (s0 + 1) * (s0 + 1) <= vx THEN s0 + 1
                          WHEN s0 * s0 > vx THEN s0 - 1
                          ELSE s0 END AS rx,
                     CASE WHEN vy = 0 THEN CAST(0 AS BIGINT)
                          WHEN (s1 + 1) * (s1 + 1) <= vy THEN s1 + 1
                          WHEN s1 * s1 > vy THEN s1 - 1
                          ELSE s1 END AS ry
              FROM i),
            f AS (
              SELECT n, slope_ppm, intercept_milli,
                     CASE WHEN rx * ry = 0 THEN CAST(0 AS BIGINT)
                          WHEN num >= 0 THEN
                            least(CAST((1000000 * num) // (rx * ry)
                                  AS BIGINT), 1000000)
                          ELSE greatest(-CAST((1000000 * (-num))
                                  // (rx * ry) AS BIGINT), -1000000)
                          END AS r_ppm
              FROM r)
            SELECT n, slope_ppm, intercept_milli, r_ppm,
                   CAST((r_ppm * r_ppm) // 1000000 AS BIGINT)
                     AS r2_ppm
            FROM f
        """,
        "sim_margin_pairs": f"""
            WITH v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            n AS (
              SELECT vec_id, v,
                     CAST(list_sum(list_transform(range(1, len(v) + 1),
                       i -> v[i] * v[i])) AS BIGINT) AS n2
              FROM v0),
            nz AS (SELECT * FROM n WHERE n2 > 0 AND vec_id < 64),
            a AS (SELECT vec_id AS x_id, v AS qv, n2 AS qn2
                  FROM nz WHERE vec_id % 2 = 0),
            b AS (SELECT vec_id AS y_id, v, n2
                  FROM nz WHERE vec_id % 2 = 1),
            s AS (
              SELECT x_id, y_id,
                     CAST(floor(CAST({_DOT_SQL} AS DOUBLE) * 1000000.0
                       / sqrt(CAST(qn2 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                       AS BIGINT) AS cosine_ppm
              FROM a, b),
            r AS (
              SELECT x_id, y_id, cosine_ppm,
                     row_number() OVER (PARTITION BY x_id
                       ORDER BY cosine_ppm DESC, y_id) AS rx,
                     row_number() OVER (PARTITION BY y_id
                       ORDER BY cosine_ppm DESC, x_id) AS ry
              FROM s),
            ax AS (SELECT x_id, CAST(floor(sum(cosine_ppm) / count(*))
                     AS BIGINT) AS avg_x
                   FROM r WHERE rx <= 4 GROUP BY x_id),
            ay AS (SELECT y_id, CAST(floor(sum(cosine_ppm) / count(*))
                     AS BIGINT) AS avg_y
                   FROM r WHERE ry <= 4 GROUP BY y_id),
            p AS (
              SELECT r.x_id, r.y_id, r.cosine_ppm,
                     CASE WHEN avg_x + avg_y <= 0 THEN NULL
                          WHEN r.cosine_ppm >= 0 THEN
                            CAST((2000000 * r.cosine_ppm)
                                 // (avg_x + avg_y) AS BIGINT)
                          ELSE -CAST((2000000 * -r.cosine_ppm)
                                 // (avg_x + avg_y) AS BIGINT) END
                       AS margin_ppm
              FROM r JOIN ax USING (x_id) JOIN ay USING (y_id)
              WHERE r.rx <= 4),
            t AS (SELECT x_id, y_id, cosine_ppm, margin_ppm FROM p
                  ORDER BY margin_ppm DESC NULLS LAST, x_id, y_id
                  LIMIT 50)
            SELECT x_id, y_id, cosine_ppm, margin_ppm,
                   row_number() OVER (ORDER BY
                     coalesce(-margin_ppm, 4611686018427387904),
                     x_id, y_id) AS rank
            FROM t
        """,
        "dedup_embed_cosine": f"""
            WITH v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            c AS (SELECT vec_id AS c_id, v AS qv FROM v0 WHERE vec_id < 8),
            asg AS (
              SELECT vec_id, c_id AS bucket FROM (
                SELECT v0.vec_id, c.c_id,
                       row_number() OVER (PARTITION BY v0.vec_id ORDER BY
                         CAST(list_sum(list_transform(
                           range(1, len(c.qv) + 1),
                           i -> c.qv[i] * v0.v[i])) AS BIGINT)
                         DESC, c.c_id) AS rn
                FROM c, v0) WHERE rn = 1),
            v AS (SELECT v0.vec_id, v0.v, asg.bucket,
                    CAST(list_sum(list_transform(range(1, len(v0.v) + 1),
                      i -> v0.v[i] * v0.v[i])) AS BIGINT) AS n2
                  FROM v0 JOIN asg ON v0.vec_id = asg.vec_id),
            p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                    CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                      i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
                    a.n2 AS na2, b.n2 AS nb2
                  FROM v a JOIN v b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            SELECT ia, ib, dot FROM p
            WHERE dot > 0
              AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
                  >= {0.45 * 0.45!r} * CAST(na2 AS DOUBLE)
                     * CAST(nb2 AS DOUBLE)
        """,
        "dedup_semantic": f"""
            WITH RECURSIVE
            v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            c AS (SELECT vec_id AS c_id, v AS qv FROM v0 WHERE vec_id < 8),
            asg AS (
              SELECT vec_id, c_id AS bucket FROM (
                SELECT v0.vec_id, c.c_id,
                       row_number() OVER (PARTITION BY v0.vec_id ORDER BY
                         CAST(list_sum(list_transform(
                           range(1, len(c.qv) + 1),
                           i -> c.qv[i] * v0.v[i])) AS BIGINT)
                         DESC, c.c_id) AS rn
                FROM c, v0) WHERE rn = 1),
            v AS (SELECT v0.vec_id, v0.v, asg.bucket,
                    CAST(list_sum(list_transform(range(1, len(v0.v) + 1),
                      i -> v0.v[i] * v0.v[i])) AS BIGINT) AS n2
                  FROM v0 JOIN asg ON v0.vec_id = asg.vec_id),
            p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                    CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                      i -> a.v[i] * b.v[i])) AS BIGINT) AS dot,
                    a.n2 AS na2, b.n2 AS nb2
                  FROM v a JOIN v b
                  ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
            ver AS (
              SELECT ia, ib FROM p
              WHERE dot > 0
                AND CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
                    >= {0.45 * 0.45!r} * CAST(na2 AS DOUBLE)
                       * CAST(nb2 AS DOUBLE)),
            edges AS (
              SELECT ia AS s, ib AS d FROM ver
              UNION
              SELECT ib AS s, ia AS d FROM ver),
            reach AS (
              SELECT s AS n, d AS m FROM edges
              UNION
              SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s),
            comp AS (
              SELECT n AS vec_id, least(n, min(m)) AS component_id
              FROM reach GROUP BY n),
            keeper AS (
              SELECT component_id, vec_id AS keeper_id FROM (
                SELECT comp.component_id, comp.vec_id,
                       row_number() OVER (PARTITION BY comp.component_id
                         ORDER BY v.n2 DESC, comp.vec_id) AS rn
                FROM comp JOIN v ON v.vec_id = comp.vec_id) WHERE rn = 1)
            SELECT comp.vec_id, comp.component_id, keeper.keeper_id,
                   comp.vec_id = keeper.keeper_id AS is_keeper
            FROM comp JOIN keeper USING (component_id)
        """,
        "ann_ivf_assign": f"""
            WITH v AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            c AS (SELECT vec_id AS c_id, v AS qv FROM v WHERE vec_id < 8),
            scored AS (
              SELECT v.vec_id, c.c_id, {_DOT_SQL} AS score FROM c, v)
            SELECT vec_id, c_id AS bucket FROM (
              SELECT vec_id, c_id,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY score DESC, c_id) AS rn
              FROM scored) WHERE rn = 1
        """,
        "ann_ivf_nprobe": f"""
            WITH v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            c AS (SELECT vec_id AS c_id, v AS qv FROM v0 WHERE vec_id < 8),
            asg AS (
              SELECT vec_id, c_id AS bucket FROM (
                SELECT v0.vec_id, c.c_id,
                       row_number() OVER (PARTITION BY v0.vec_id ORDER BY
                         CAST(list_sum(list_transform(
                           range(1, len(c.qv) + 1),
                           i -> c.qv[i] * v0.v[i])) AS BIGINT)
                         DESC, c.c_id) AS rn
                FROM c, v0) WHERE rn = 1),
            v AS (SELECT v0.vec_id, v0.v, asg.bucket
                  FROM v0 JOIN asg ON v0.vec_id = asg.vec_id),
            qp AS (
              SELECT q_id, qv, c_id AS bucket FROM (
                SELECT v0.vec_id AS q_id, v0.v AS qv, c.c_id,
                       row_number() OVER (PARTITION BY v0.vec_id ORDER BY
                         CAST(list_sum(list_transform(
                           range(1, len(c.qv) + 1),
                           i -> c.qv[i] * v0.v[i])) AS BIGINT)
                         DESC, c.c_id) AS rn
                FROM c, v0 WHERE v0.vec_id < 10) WHERE rn <= 2),
            scored AS (
              SELECT qp.q_id, qp.bucket, v.vec_id, {_DOT_SQL} AS score
              FROM qp JOIN v ON qp.bucket = v.bucket
               AND qp.q_id <> v.vec_id)
            SELECT q_id, bucket, vec_id, score, rank FROM (
              SELECT q_id, bucket, vec_id, score,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score DESC, vec_id) AS rank
              FROM scored) WHERE rank <= 3
        """,
        "ann_ivf_topk": f"""
            WITH v0 AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            c AS (SELECT vec_id AS c_id, v AS qv FROM v0 WHERE vec_id < 8),
            asg AS (
              SELECT vec_id, c_id AS bucket FROM (
                SELECT v0.vec_id, c.c_id,
                       row_number() OVER (PARTITION BY v0.vec_id ORDER BY
                         CAST(list_sum(list_transform(
                           range(1, len(c.qv) + 1),
                           i -> c.qv[i] * v0.v[i])) AS BIGINT)
                         DESC, c.c_id) AS rn
                FROM c, v0) WHERE rn = 1),
            v AS (SELECT v0.vec_id, v0.v, asg.bucket
                  FROM v0 JOIN asg ON v0.vec_id = asg.vec_id),
            q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM v
                  WHERE vec_id < 10),
            scored AS (
              SELECT q.q_id, q.bucket, v.vec_id, {_DOT_SQL} AS score
              FROM q JOIN v ON q.bucket = v.bucket AND q.q_id != v.vec_id)
            SELECT q_id, bucket, vec_id, score, rank FROM (
              SELECT q_id, bucket, vec_id, score,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score DESC, vec_id) AS rank
              FROM scored) WHERE rank <= 3
        """,
        "text_token_stats": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS token_count,
                   len(list_distinct(string_split(text, ' ')))
                     AS distinct_tokens,
                   CAST(floor(list_sum(list_transform(string_split(text, ' '),
                        x -> len(x))) * 1000000.0
                        / len(string_split(text, ' '))) AS BIGINT)
                     AS avg_token_len_ppm,
                   n_chars
            FROM documents
        """,
        "text_quality": f"""
            SELECT doc_id, token_count, stop_ppm,
                   (token_count >= 20 AND stop_ppm > 0 AND stop_ppm < 500000)
                     AS is_quality
            FROM (
              SELECT doc_id,
                     len(string_split(text, ' ')) AS token_count,
                     CAST(floor(len(list_filter(string_split(text, ' '),
                          x -> x IN ({_STOP_LIST}))) * 1000000.0
                          / len(string_split(text, ' '))) AS BIGINT)
                       AS stop_ppm
              FROM documents)
        """,
        "text_langid": _langid_sql(),
        "text_bpe_tokens": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '{BPE_PATTERN.replace("'", "''")}'))
                     AS bpe_token_count,
                   len(string_split(text, ' ')) AS ws_token_count,
                   CAST(floor(len(regexp_extract_all(text,
                       '{BPE_PATTERN.replace("'", "''")}')) * 1000000.0
                       / len(string_split(text, ' '))) AS BIGINT)
                     AS bpe_per_ws_ppm
            FROM documents
        """,
        "doc_winnow_fp": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), g AS (
              SELECT doc_id,
                     list_transform(range(1, len(w) - 1),
                       i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2]))) AS h
              FROM t WHERE len(w) >= 3
            ), wins AS (
              SELECT doc_id,
                     CASE WHEN len(h) <= 4 THEN [list_min(h)]
                          ELSE list_transform(range(1, len(h) - 2),
                                 j -> list_min(h[j:j+3]))
                     END AS wm
              FROM g)
            SELECT doc_id, unnest(list_distinct(wm)) AS fp FROM wins
        """,
        "doc_fingerprint": """
            SELECT doc_id, fp, substring(fp, 1, 2) AS bucket FROM (
              SELECT doc_id,
                     md5(CAST(regexp_replace(trim(text), '\\s+', ' ', 'g')
                         AS VARCHAR)) AS fp
              FROM documents)
        """,
        "mix_stratified": """
            WITH h AS (
              SELECT doc_id, source,
                     CAST('0x' || substring(md5(source || '#'
                         || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                         AS hh
              FROM documents),
            r AS (SELECT doc_id, source,
                         CAST(row_number() OVER (
                             PARTITION BY source ORDER BY hh, doc_id)
                             AS BIGINT) AS "rank"
                  FROM h)
            SELECT doc_id, source, "rank" FROM r WHERE "rank" <= 3
        """,
        "mm_phash": _PHASH_CTE + """
            SELECT doc_id, phash FROM ph
        """,
        "mm_phash_pairs": _PHASH_CTE + """
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT)
                       AS hamming
            FROM ph a JOIN ph b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 3
        """,
        "mm_video_frames": _VIDFRAME_CTE + """
            SELECT doc_id, frame_idx, phash FROM ph
        """,
        "mm_video_pairs": _VIDFRAME_CTE + """
            , fhd AS (SELECT DISTINCT doc_id, phash FROM ph),
            sizes AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              FROM fhd GROUP BY doc_id),
            freq AS (
              SELECT phash FROM fhd GROUP BY phash
              HAVING count(*) <= 1024),
            cold AS (SELECT fhd.* FROM fhd JOIN freq USING (phash)),
            p AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS shared_frames
              FROM cold a JOIN cold b USING (phash)
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
              HAVING count(*) >= 2)
            SELECT doc_a, doc_b, shared_frames,
                   CAST(shared_frames * 1000000 // least(sa.n, sb.n)
                        AS BIGINT) AS overlap_ppm
            FROM p JOIN sizes sa ON sa.doc_id = doc_a
                   JOIN sizes sb ON sb.doc_id = doc_b
        """,
        "mm_decode_stub": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   CASE WHEN octet_length(encode(text)) > 0
                        THEN (ascii(substring(text, 1, 1)) % 64) + 16
                        ELSE 0 END AS width,
                   CASE WHEN octet_length(encode(text)) > 1
                        THEN (ascii(substring(text, 2, 1)) % 64) + 16
                        ELSE 0 END AS height,
                   octet_length(encode(text)) > 1 AS is_valid
            FROM documents
        """,
        "mm_resize_stub": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN octet_length(encode(text)) > 0
                          THEN (ascii(substring(text, 1, 1)) % 64) + 16
                          ELSE 0 END AS width,
                     CASE WHEN octet_length(encode(text)) > 1
                          THEN (ascii(substring(text, 2, 1)) % 64) + 16
                          ELSE 0 END AS height
              FROM documents),
            s AS (SELECT doc_id, width, height,
                         greatest(width, height) AS side FROM d)
            SELECT doc_id, width, height,
                   CAST(CASE WHEN width <= 0 OR height <= 0 THEN 0
                        WHEN side <= 32 THEN width
                        ELSE greatest(1, (width * 32) // side)
                        END AS INT) AS out_width,
                   CAST(CASE WHEN width <= 0 OR height <= 0 THEN 0
                        WHEN side <= 32 THEN height
                        ELSE greatest(1, (height * 32) // side)
                        END AS INT) AS out_height,
                   CAST((CASE WHEN width <= 0 OR height <= 0 THEN 0
                         WHEN side <= 32 THEN width
                         ELSE greatest(1, (width * 32) // side) END)
                        * (CASE WHEN width <= 0 OR height <= 0 THEN 0
                           WHEN side <= 32 THEN height
                           ELSE greatest(1, (height * 32) // side)
                           END) AS BIGINT)
                     AS out_bytes
            FROM s
        """,
        "mm_png_decode": _PNGDIMS_CTE + """
            SELECT doc_id, CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height, TRUE AS is_valid
            FROM dims
        """,
        "mm_png_ahash": _PNGDIMS_CTE + """,
            px AS (
              SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                     (3 * gx.x + 5 * gy.y + doc_id) % 256 AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 24)) AS x) gx,
                   (SELECT unnest(generate_series(0, 26)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT doc_id,
                     ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY doc_id, k),
            m AS (SELECT doc_id, sum(cell) // 64 AS mn
                  FROM cells GROUP BY doc_id),
            hb AS (
              SELECT c.doc_id,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (doc_id)
              GROUP BY c.doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN hv >= CAST(9223372036854775808
                                             AS HUGEINT)
                        THEN hv - CAST(18446744073709551616 AS HUGEINT)
                        ELSE hv END AS BIGINT) AS phash
            FROM hb
        """,
        "mm_png_resize": _PNGDIMS_CTE + """,
            rd AS (
              SELECT doc_id, w, h,
                     CASE WHEN greatest(w, h) <= 12 THEN w
                          ELSE greatest(1, (w * 12) // greatest(w, h))
                          END AS ow,
                     CASE WHEN greatest(w, h) <= 12 THEN h
                          ELSE greatest(1, (h * 12) // greatest(w, h))
                          END AS oh
              FROM dims),
            rp AS (
              SELECT doc_id, w, h, ow, oh,
                     (3 * ((gj.j * w) // ow)
                      + 5 * ((gi.i * h) // oh) + doc_id) % 256 AS v
              FROM rd,
                   (SELECT unnest(generate_series(0, 12)) AS j) gj,
                   (SELECT unnest(generate_series(0, 12)) AS i) gi
              WHERE gj.j < ow AND gi.i < oh)
            SELECT doc_id, CAST(min(w) AS INT) AS width,
                   CAST(min(h) AS INT) AS height,
                   CAST(min(ow) AS INT) AS out_width,
                   CAST(min(oh) AS INT) AS out_height,
                   CAST(sum(v) AS BIGINT) AS out_pixsum
            FROM rp GROUP BY doc_id
        """,
        "mm_jpeg_decode": _JPEGDIMS_CTE + """
            SELECT doc_id, CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height, TRUE AS is_valid
            FROM dims
        """,
        "mm_jpeg_ahash": _JPEGDIMS_CTE + """,
            px AS (
              SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                     2 * ((7 * (gx.x // 8) + 11 * (gy.y // 8)
                           + 13 * doc_id) % 100) + 28 AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 39)) AS x) gx,
                   (SELECT unnest(generate_series(0, 47)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT doc_id,
                     ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY doc_id, k),
            m AS (SELECT doc_id, sum(cell) // 64 AS mn
                  FROM cells GROUP BY doc_id),
            hb AS (
              SELECT c.doc_id,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (doc_id)
              GROUP BY c.doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN hv >= CAST(9223372036854775808
                                             AS HUGEINT)
                        THEN hv - CAST(18446744073709551616 AS HUGEINT)
                        ELSE hv END AS BIGINT) AS phash
            FROM hb
        """,
        "mm_jpeg_resize": _JPEGDIMS_CTE + """,
            rd AS (
              SELECT doc_id, w, h,
                     CASE WHEN greatest(w, h) <= 12 THEN w
                          ELSE greatest(1, (w * 12) // greatest(w, h))
                          END AS ow,
                     CASE WHEN greatest(w, h) <= 12 THEN h
                          ELSE greatest(1, (h * 12) // greatest(w, h))
                          END AS oh
              FROM dims),
            rp AS (
              SELECT doc_id, w, h, ow, oh,
                     2 * ((7 * (((gj.j * w) // ow) // 8)
                           + 11 * (((gi.i * h) // oh) // 8)
                           + 13 * doc_id) % 100) + 28 AS v
              FROM rd,
                   (SELECT unnest(generate_series(0, 12)) AS j) gj,
                   (SELECT unnest(generate_series(0, 12)) AS i) gi
              WHERE gj.j < ow AND gi.i < oh)
            SELECT doc_id, CAST(min(w) AS INT) AS width,
                   CAST(min(h) AS INT) AS height,
                   CAST(min(ow) AS INT) AS out_width,
                   CAST(min(oh) AS INT) AS out_height,
                   CAST(sum(v) AS BIGINT) AS out_pixsum
            FROM rp GROUP BY doc_id
        """,
        "mm_gif_decode": _GIFDIMS_CTE + """
            SELECT doc_id, CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height, TRUE AS is_valid
            FROM dims
        """,
        "mm_gif_ahash": _GIFDIMS_CTE + """,
            px AS (
              SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                     (5 * gx.x + 7 * gy.y + doc_id) % 256 AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 24)) AS x) gx,
                   (SELECT unnest(generate_series(0, 26)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT doc_id,
                     ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY doc_id, k),
            m AS (SELECT doc_id, sum(cell) // 64 AS mn
                  FROM cells GROUP BY doc_id),
            hb AS (
              SELECT c.doc_id,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (doc_id)
              GROUP BY c.doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN hv >= CAST(9223372036854775808
                                             AS HUGEINT)
                        THEN hv - CAST(18446744073709551616 AS HUGEINT)
                        ELSE hv END AS BIGINT) AS phash
            FROM hb
        """,
        "mm_gif_resize": _GIFDIMS_CTE + """,
            rd AS (
              SELECT doc_id, w, h,
                     CASE WHEN greatest(w, h) <= 12 THEN w
                          ELSE greatest(1, (w * 12) // greatest(w, h))
                          END AS ow,
                     CASE WHEN greatest(w, h) <= 12 THEN h
                          ELSE greatest(1, (h * 12) // greatest(w, h))
                          END AS oh
              FROM dims),
            rp AS (
              SELECT doc_id, w, h, ow, oh,
                     (5 * ((gj.j * w) // ow)
                      + 7 * ((gi.i * h) // oh) + doc_id) % 256 AS v
              FROM rd,
                   (SELECT unnest(generate_series(0, 12)) AS j) gj,
                   (SELECT unnest(generate_series(0, 12)) AS i) gi
              WHERE gj.j < ow AND gi.i < oh)
            SELECT doc_id, CAST(min(w) AS INT) AS width,
                   CAST(min(h) AS INT) AS height,
                   CAST(min(ow) AS INT) AS out_width,
                   CAST(min(oh) AS INT) AS out_height,
                   CAST(sum(v) AS BIGINT) AS out_pixsum
            FROM rp GROUP BY doc_id
        """,
        "mm_cross_format_pairs": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 24),
            gs AS (SELECT DISTINCT doc_id % 12 AS g FROM d),
            dims AS (SELECT g, 8 * (2 + g % 4) AS w,
                            8 * (2 + (3 * g) % 5) AS h FROM gs),
            px AS (
              SELECT g, w, h, gx.x AS x, gy.y AS y,
                     2 * ((7 * (gx.x // 8) + 11 * (gy.y // 8)
                           + 13 * g) % 100) + 28 AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 39)) AS x) gx,
                   (SELECT unnest(generate_series(0, 47)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT g, ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY g, k),
            m AS (SELECT g, sum(cell) // 64 AS mn
                  FROM cells GROUP BY g),
            hb AS (
              SELECT c.g,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (g) GROUP BY c.g),
            hs AS (
              SELECT g,
                     CAST(CASE WHEN hv >= CAST(9223372036854775808
                                               AS HUGEINT)
                          THEN hv - CAST(18446744073709551616
                                         AS HUGEINT)
                          ELSE hv END AS BIGINT) AS phash
              FROM hb),
            imgs AS (
              SELECT 7 * d.doc_id + kk.k AS doc_id, hs.phash
              FROM d
              CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) kk
              JOIN hs ON hs.g = d.doc_id % 12)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT)
                       AS hamming
            FROM imgs a JOIN imgs b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 3
        """,
        "mm_gif_frames": _GIFANIM_CTE + """
            SELECT d.doc_id, CAST(hs.f AS INT) AS frame_idx, hs.phash
            FROM d JOIN hs ON hs.g = d.doc_id % 6
        """,
        "mm_gif_video_pairs": _GIFANIM_CTE + """,
            fhd AS (SELECT DISTINCT d.doc_id, hs.phash
                    FROM d JOIN hs ON hs.g = d.doc_id % 6),
            sizes AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              FROM fhd GROUP BY doc_id),
            freq AS (
              SELECT phash FROM fhd GROUP BY phash
              HAVING count(*) <= 1024),
            cold AS (SELECT fhd.* FROM fhd JOIN freq USING (phash)),
            p AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS shared_frames
              FROM cold a JOIN cold b USING (phash)
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
              HAVING count(*) >= 2)
            SELECT doc_a, doc_b, shared_frames,
                   CAST(shared_frames * 1000000 // least(sa.n, sb.n)
                        AS BIGINT) AS overlap_ppm
            FROM p JOIN sizes sa ON sa.doc_id = doc_a
                   JOIN sizes sb ON sb.doc_id = doc_b
        """,
        "mm_bmp_decode": _BMPDIMS_CTE + """
            SELECT doc_id, CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height, TRUE AS is_valid
            FROM dims
        """,
        "mm_bmp_ahash": _BMPDIMS_CTE + """,
            px AS (
              SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                     """ + _BMP_PIXEL.format(x="gx.x", y="gy.y") + """ AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 25)) AS x) gx,
                   (SELECT unnest(generate_series(0, 22)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT doc_id,
                     ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY doc_id, k),
            m AS (SELECT doc_id, sum(cell) // 64 AS mn
                  FROM cells GROUP BY doc_id),
            hb AS (
              SELECT c.doc_id,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (doc_id)
              GROUP BY c.doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN hv >= CAST(9223372036854775808
                                             AS HUGEINT)
                        THEN hv - CAST(18446744073709551616 AS HUGEINT)
                        ELSE hv END AS BIGINT) AS phash
            FROM hb
        """,
        "mm_webp_decode": _WEBPDIMS_CTE + """
            SELECT doc_id, CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height, TRUE AS is_valid
            FROM dims
        """,
        "mm_webp_ahash": _WEBPDIMS_CTE + """,
            px AS (
              SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                     """ + _WEBP_PIXEL.format(x="gx.x", y="gy.y") + """
                     AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 24)) AS x) gx,
                   (SELECT unnest(generate_series(0, 23)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT doc_id,
                     ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY doc_id, k),
            m AS (SELECT doc_id, sum(cell) // 64 AS mn
                  FROM cells GROUP BY doc_id),
            hb AS (
              SELECT c.doc_id,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (doc_id)
              GROUP BY c.doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN hv >= CAST(9223372036854775808
                                             AS HUGEINT)
                        THEN hv - CAST(18446744073709551616 AS HUGEINT)
                        ELSE hv END AS BIGINT) AS phash
            FROM hb
        """,
        "mm_tiff_decode": _TIFFDIMS_CTE + """
            SELECT doc_id, CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height, TRUE AS is_valid
            FROM dims
        """,
        "mm_tiff_ahash": _TIFFDIMS_CTE + """,
            px AS (
              SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                     (3 * gx.x + 11 * gy.y + doc_id) % 256 AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 25)) AS x) gx,
                   (SELECT unnest(generate_series(0, 21)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT doc_id,
                     ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY doc_id, k),
            m AS (SELECT doc_id, sum(cell) // 64 AS mn
                  FROM cells GROUP BY doc_id),
            hb AS (
              SELECT c.doc_id,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (doc_id)
              GROUP BY c.doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN hv >= CAST(9223372036854775808
                                             AS HUGEINT)
                        THEN hv - CAST(18446744073709551616 AS HUGEINT)
                        ELSE hv END AS BIGINT) AS phash
            FROM hb
        """,
        "mm_tiff_resize": _TIFFDIMS_CTE + """,
            rd AS (
              SELECT doc_id, w, h,
                     CASE WHEN greatest(w, h) <= 12 THEN w
                          ELSE greatest(1, (w * 12) // greatest(w, h))
                          END AS ow,
                     CASE WHEN greatest(w, h) <= 12 THEN h
                          ELSE greatest(1, (h * 12) // greatest(w, h))
                          END AS oh
              FROM dims),
            rp AS (
              SELECT doc_id, w, h, ow, oh,
                     (3 * ((gj.j * w) // ow)
                      + 11 * ((gi.i * h) // oh) + doc_id) % 256 AS v
              FROM rd,
                   (SELECT unnest(generate_series(0, 12)) AS j) gj,
                   (SELECT unnest(generate_series(0, 12)) AS i) gi
              WHERE gj.j < ow AND gi.i < oh)
            SELECT doc_id, CAST(min(w) AS INT) AS width,
                   CAST(min(h) AS INT) AS height,
                   CAST(min(ow) AS INT) AS out_width,
                   CAST(min(oh) AS INT) AS out_height,
                   CAST(sum(v) AS BIGINT) AS out_pixsum
            FROM rp GROUP BY doc_id
        """,
        "mm_tiffjpeg_decode": _TIFFJPEGDIMS_CTE + """
            SELECT doc_id, CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height, TRUE AS is_valid
            FROM dims
        """,
        "mm_bmp_embed_decode": _TIFFJPEGDIMS_CTE + """
            SELECT doc_id, CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height, TRUE AS is_valid
            FROM dims
        """,
        "mm_bmp_embed_ahash": _TIFFJPEGDIMS_CTE + """,
            px AS (
              SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                     2 * ((7 * (gx.x // 8) + 11 * (gy.y // 8)
                           + 17 * doc_id) % 100) + 28 AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 31)) AS x) gx,
                   (SELECT unnest(generate_series(0, 47)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT doc_id,
                     ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY doc_id, k),
            m AS (SELECT doc_id, sum(cell) // 64 AS mn
                  FROM cells GROUP BY doc_id),
            hb AS (
              SELECT c.doc_id,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (doc_id)
              GROUP BY c.doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN hv >= CAST(9223372036854775808
                                             AS HUGEINT)
                        THEN hv - CAST(18446744073709551616 AS HUGEINT)
                        ELSE hv END AS BIGINT) AS phash
            FROM hb
        """,
        "mm_ico_decode": _ICODIMS_CTE + """
            SELECT doc_id, CAST(w AS INT) AS width,
                   CAST(h AS INT) AS height, TRUE AS is_valid
            FROM dims
        """,
        "pdf_texts": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            pg AS (
              SELECT doc_id, gp.p,
                     'doc ' || doc_id || ' page ' || gp.p
                     || ' line 0' || chr(10)
                     || 'doc ' || doc_id || ' page ' || gp.p
                     || ' line 1' || chr(10) AS page_text
              FROM d, (SELECT unnest(generate_series(0, 2)) AS p) gp
              WHERE gp.p <= doc_id % 3)
            SELECT doc_id,
                   CAST(count(*) AS INT) AS n_pages,
                   string_agg(page_text, chr(12) ORDER BY p) AS text
            FROM pg GROUP BY doc_id
        """,
        "pdf_texts_xs": """
            -- the 1.5 fixture carries the identical text formula
            -- across its four container layouts: pdf_texts' oracle
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            pg AS (
              SELECT doc_id, gp.p,
                     'doc ' || doc_id || ' page ' || gp.p
                     || ' line 0' || chr(10)
                     || 'doc ' || doc_id || ' page ' || gp.p
                     || ' line 1' || chr(10) AS page_text
              FROM d, (SELECT unnest(generate_series(0, 2)) AS p) gp
              WHERE gp.p <= doc_id % 3)
            SELECT doc_id,
                   CAST(count(*) AS INT) AS n_pages,
                   string_agg(page_text, chr(12) ORDER BY p) AS text
            FROM pg GROUP BY doc_id
        """,
        "zip_members": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            m AS (
              SELECT doc_id, gi.i
              FROM d, (SELECT unnest(generate_series(0, 2)) AS i) gi
              WHERE gi.i <= doc_id % 3)
            SELECT doc_id,
                   'm' || i AS name,
                   CAST(CASE WHEN (i + doc_id) % 2 = 1 THEN 8
                        ELSE 0 END AS INT) AS method,
                   CAST(40 + 20 * i AS BIGINT) AS usize,
                   TRUE AS csize_gt0,
                   TRUE AS crc_ok
            FROM m
        """,
        "svg_dims": """
            SELECT doc_id,
                   CASE WHEN doc_id % 4 IN (0, 1)
                        THEN CAST(doc_id % 100 + 10 AS DOUBLE)
                   END AS width,
                   CASE WHEN doc_id % 4 IN (0, 1)
                        THEN CAST(doc_id % 50 + 5 AS DOUBLE)
                   END AS height,
                   CASE WHEN doc_id % 4 IN (0, 2)
                        THEN CAST(doc_id % 100 + 10 AS DOUBLE)
                   END AS vb_width,
                   CASE WHEN doc_id % 4 IN (0, 2)
                        THEN CAST(doc_id % 50 + 5 AS DOUBLE)
                   END AS vb_height
            FROM documents
        """,
        "meta_opengraph": """
            SELECT doc_id,
                   CASE WHEN doc_id % 5 IN (0, 1, 4)
                        THEN 'Doc ' || doc_id || ' Title'
                   END AS og_title,
                   CASE WHEN doc_id % 5 = 0 THEN 'article'
                   END AS og_type,
                   CASE WHEN doc_id % 5 = 0
                        THEN 'http://site.test/d' || doc_id
                   END AS og_url,
                   CASE WHEN doc_id % 5 = 0
                        THEN 'http://site.test/d' || doc_id
                             || '.png'
                   END AS og_image,
                   CASE WHEN doc_id % 5 IN (0, 1)
                        THEN 'Summary ' || doc_id
                   END AS description
            FROM documents
        """,
        "epub_texts": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            ch AS (
              SELECT doc_id, gc.c,
                     'c' || gc.c || ' doc ' || doc_id
                     || ' chapter ' || gc.c || ' words here'
                     AS chapter
              FROM d, (SELECT unnest(generate_series(0, 2)) AS c) gc
              WHERE gc.c <= doc_id % 3)
            SELECT doc_id,
                   CAST(count(*) AS INT) AS n_chapters,
                   string_agg(chapter, chr(12) ORDER BY c) AS text
            FROM ch GROUP BY doc_id
        """,
        "mbox_texts": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            m AS (
              SELECT doc_id, gm.m
              FROM d, (SELECT unnest(generate_series(0, 2)) AS m) gm
              WHERE gm.m <= doc_id % 3)
            SELECT doc_id,
                   CAST(m AS INT) AS msg_idx,
                   'msg ' || doc_id || '-' || m || ' subject'
                   AS subject,
                   'user' || m || '@example.test' AS sender,
                   'doc ' || doc_id || ' msg ' || m || ' body'
                   || chr(10)
                   || 'From a line the archiver must escape'
                   AS text
            FROM m
        """,
        "eml_texts": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            ln AS (
              SELECT doc_id, gi.i,
                     'doc ' || doc_id || ' body line ' || gi.i
                     AS line
              FROM d, (SELECT unnest(generate_series(0, 2)) AS i) gi
              WHERE gi.i <= doc_id % 3)
            SELECT doc_id,
                   'msg ' || doc_id || ' subject'
                   || CASE WHEN doc_id % 2 = 0 THEN ' é' ELSE ''
                      END AS subject,
                   'user' || doc_id || '@example.test' AS sender,
                   string_agg(line, chr(10) ORDER BY i) AS text
            FROM ln GROUP BY doc_id
        """,
        "rtf_texts": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            pg AS (
              SELECT doc_id, gp.p,
                     'doc ' || doc_id || ' rtf ' || gp.p
                     || CASE WHEN doc_id % 2 = 0
                        THEN ' {é}\\x' ELSE '' END AS para
              FROM d, (SELECT unnest(generate_series(0, 2)) AS p) gp
              WHERE gp.p <= doc_id % 3)
            SELECT doc_id,
                   CAST(count(*) AS INT) AS n_paras,
                   string_agg(para, chr(10) ORDER BY p) AS text
            FROM pg GROUP BY doc_id
        """,
        "document_texts": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48)
            SELECT doc_id,
                   CASE doc_id % 8
                     WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
                     WHEN 2 THEN 'odt' WHEN 3 THEN 'epub'
                     WHEN 4 THEN 'doc' WHEN 5 THEN 'ppt'
                     WHEN 6 THEN 'rtf' ELSE 'eml' END AS fmt,
                   CASE doc_id % 8
                     WHEN 0 THEN 'doc ' || doc_id
                          || ' page 0 line 0' || chr(10)
                          || 'doc ' || doc_id || ' page 0 line 1'
                          || chr(10)
                     WHEN 1 THEN 'doc ' || doc_id || ' para 0'
                     WHEN 2 THEN 'doc ' || doc_id || ' para 0'
                     WHEN 3 THEN 'c0 doc ' || doc_id
                          || ' chapter 0 words'
                     WHEN 4 THEN 'doc ' || doc_id || ' piece 0'
                          || chr(10)
                     WHEN 5 THEN 'doc ' || doc_id || ' slide 0 text'
                     WHEN 6 THEN 'doc ' || doc_id || ' rtf 0'
                     ELSE 'doc ' || doc_id || ' body' END AS text
            FROM d
        """,
        "ppt_texts": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            rn AS (
              SELECT doc_id, gs.s,
                     'doc ' || doc_id || ' slide ' || gs.s
                     || ' text'
                     || CASE WHEN doc_id % 2 = 0
                        THEN chr(10) || 'more' ELSE '' END AS run
              FROM d, (SELECT unnest(generate_series(0, 2)) AS s) gs
              WHERE gs.s <= doc_id % 3)
            SELECT doc_id,
                   CAST(count(*) AS INT) AS n_texts,
                   string_agg(run, chr(10) ORDER BY s) AS text
            FROM rn GROUP BY doc_id
        """,
        "xls_cells": """
            -- same fixture formula as xlsx_cells: one CTE shape
            -- pins both spreadsheet generations
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            m AS (
              SELECT doc_id, gi.i
              FROM d, (SELECT unnest(generate_series(0, 4)) AS i) gi
              WHERE gi.i < doc_id % 3 + 2)
            SELECT doc_id,
                   chr(CAST(65 + i AS INT)) || '1' AS cell_ref,
                   CASE WHEN i % 2 = 0 THEN 's' ELSE 'n'
                   END AS kind,
                   CASE WHEN i % 2 = 0
                        THEN 'doc ' || doc_id || ' cell ' || i
                        ELSE CAST(10 * i + doc_id AS VARCHAR)
                   END AS value
            FROM m
        """,
        "xlsx_cells": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            m AS (
              SELECT doc_id, gi.i
              FROM d, (SELECT unnest(generate_series(0, 4)) AS i) gi
              WHERE gi.i < doc_id % 3 + 2)
            SELECT doc_id,
                   chr(CAST(65 + i AS INT)) || '1' AS cell_ref,
                   CASE WHEN i % 2 = 0 THEN 's' ELSE 'n'
                   END AS kind,
                   CASE WHEN i % 2 = 0
                        THEN 'doc ' || doc_id || ' cell ' || i
                        ELSE CAST(10 * i + doc_id AS VARCHAR)
                   END AS value
            FROM m
        """,
        "cfb_members": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            m AS (
              SELECT doc_id, gi.i
              FROM d, (SELECT unnest(generate_series(0, 2)) AS i) gi
              WHERE gi.i <= doc_id % 3)
            SELECT doc_id,
                   's' || i AS name,
                   'stream' AS kind,
                   CAST(CASE WHEN i < 2 THEN 40 + 30 * i
                        ELSE 4100 + doc_id % 50 END AS BIGINT)
                   AS size,
                   TRUE AS read_ok
            FROM m
        """,
        "doc_texts": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            pc AS (
              SELECT doc_id, gp.p,
                     'doc ' || doc_id || ' piece ' || gp.p
                     || chr(10) AS piece
              FROM d, (SELECT unnest(generate_series(0, 2)) AS p) gp
              WHERE gp.p <= doc_id % 3)
            SELECT doc_id,
                   CAST(sum(length(piece)) AS INT) AS n_chars,
                   string_agg(piece, '' ORDER BY p) AS text
            FROM pc GROUP BY doc_id
        """,
        "office_texts": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            pg AS (
              SELECT doc_id, gp.p,
                     'doc ' || doc_id || ' para ' || gp.p AS para
              FROM d, (SELECT unnest(generate_series(0, 2)) AS p) gp
              WHERE gp.p <= doc_id % 3)
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'docx'
                        ELSE 'odt' END AS fmt,
                   CAST(count(*)
                        + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END
                        AS INT) AS n_paras,
                   CASE WHEN doc_id % 4 = 0 THEN chr(10) ELSE ''
                   END || string_agg(para, chr(10) ORDER BY p)
                   AS text
            FROM pg GROUP BY doc_id
        """,
        "audio_g711": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            s AS (
              SELECT doc_id, gi.i,
                     (11 * gi.i + 37 * doc_id) % 256 AS b
              FROM d, (SELECT unnest(generate_series(0, 64)) AS i) gi
              WHERE gi.i < 48 + doc_id % 17),
            ex AS (
              SELECT doc_id, i,
                CASE WHEN doc_id % 2 = 0 THEN
                  -- mu-law: u = ~b; t = ((u%16)*8 + 132) << seg
                  CASE WHEN (255 - b) >= 128
                       THEN 132 - (((255 - b) % 16) * 8 + 132)
                                  * (1 << (((255 - b) // 16) % 8))
                       ELSE (((255 - b) % 16) * 8 + 132)
                            * (1 << (((255 - b) // 16) % 8)) - 132
                  END
                ELSE
                  -- A-law: a = b XOR 0x55; seg-0 special case;
                  -- sign bit SET means positive
                  (CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END) *
                  (CASE WHEN (xor(b, 85) // 16) % 8 = 0
                        THEN (xor(b, 85) % 16) * 16 + 8
                        WHEN (xor(b, 85) // 16) % 8 = 1
                        THEN (xor(b, 85) % 16) * 16 + 264
                        ELSE ((xor(b, 85) % 16) * 16 + 264)
                             * (1 << ((xor(b, 85) // 16) % 8 - 1))
                   END)
                END AS sv
              FROM s)
            SELECT doc_id,
                   CAST(count(*) AS INT) AS n_samples,
                   CAST(sum(sv) AS BIGINT) AS s_sum,
                   CAST(min(sv) AS BIGINT) AS s_min,
                   CAST(max(sv) AS BIGINT) AS s_max
            FROM ex GROUP BY doc_id
        """,
        "tar_members": """
            WITH d AS (SELECT doc_id FROM documents
                       ORDER BY doc_id LIMIT 48),
            dirs AS (
              SELECT doc_id, -1 AS i, 'sub/' AS name,
                     CAST(0 AS BIGINT) AS size, '5' AS typeflag
              FROM d WHERE doc_id % 4 = 0),
            files AS (
              SELECT doc_id, gi.i, 'f' || gi.i AS name,
                     CAST(30 + 17 * gi.i AS BIGINT) AS size,
                     '0' AS typeflag
              FROM d, (SELECT unnest(generate_series(0, 2)) AS i) gi
              WHERE gi.i <= doc_id % 3),
            m AS (SELECT * FROM dirs UNION ALL SELECT * FROM files)
            SELECT doc_id, name, size, typeflag,
                   CASE doc_id % 4 WHEN 1 THEN 'gz'
                        WHEN 2 THEN 'bz2' WHEN 3 THEN 'xz'
                        ELSE 'none' END AS wrap,
                   TRUE AS cksum_ok
            FROM m
        """,
        "mm_ico_ahash": _ICODIMS_CTE + """,
            px AS (
              SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                     (5 * gx.x + 9 * gy.y + doc_id) % 256 AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 26)) AS x) gx,
                   (SELECT unnest(generate_series(0, 21)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT doc_id,
                     ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY doc_id, k),
            m AS (SELECT doc_id, sum(cell) // 64 AS mn
                  FROM cells GROUP BY doc_id),
            hb AS (
              SELECT c.doc_id,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (doc_id)
              GROUP BY c.doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN hv >= CAST(9223372036854775808
                                             AS HUGEINT)
                        THEN hv - CAST(18446744073709551616 AS HUGEINT)
                        ELSE hv END AS BIGINT) AS phash
            FROM hb
        """,
        "mm_tiffjpeg_ahash": _TIFFJPEGDIMS_CTE + """,
            px AS (
              SELECT doc_id, w, h, gx.x AS x, gy.y AS y,
                     2 * ((7 * (gx.x // 8) + 11 * (gy.y // 8)
                           + 13 * doc_id) % 100) + 28 AS v
              FROM dims,
                   (SELECT unnest(generate_series(0, 31)) AS x) gx,
                   (SELECT unnest(generate_series(0, 47)) AS y) gy
              WHERE gx.x < w AND gy.y < h),
            cells AS (
              SELECT doc_id,
                     ((8 * y) // h) * 8 + (8 * x) // w AS k,
                     sum(v) // count(*) AS cell
              FROM px GROUP BY doc_id, k),
            m AS (SELECT doc_id, sum(cell) // 64 AS mn
                  FROM cells GROUP BY doc_id),
            hb AS (
              SELECT c.doc_id,
                     sum(CASE WHEN c.cell > m.mn
                         THEN (CAST(1 AS HUGEINT) << c.k)
                         ELSE CAST(0 AS HUGEINT) END) AS hv
              FROM cells c JOIN m USING (doc_id)
              GROUP BY c.doc_id)
            SELECT doc_id,
                   CAST(CASE WHEN hv >= CAST(9223372036854775808
                                             AS HUGEINT)
                        THEN hv - CAST(18446744073709551616 AS HUGEINT)
                        ELSE hv END AS BIGINT) AS phash
            FROM hb
        """,
        "mm_bmp_resize": _BMPDIMS_CTE + """,
            rd AS (
              SELECT doc_id, w, h,
                     CASE WHEN greatest(w, h) <= 12 THEN w
                          ELSE greatest(1, (w * 12) // greatest(w, h))
                          END AS ow,
                     CASE WHEN greatest(w, h) <= 12 THEN h
                          ELSE greatest(1, (h * 12) // greatest(w, h))
                          END AS oh
              FROM dims),
            rp AS (
              SELECT doc_id, w, h, ow, oh,
                     """ + _BMP_PIXEL.format(
                         x="((gj.j * w) // ow)",
                         y="((gi.i * h) // oh)") + """ AS v
              FROM rd,
                   (SELECT unnest(generate_series(0, 12)) AS j) gj,
                   (SELECT unnest(generate_series(0, 12)) AS i) gi
              WHERE gj.j < ow AND gi.i < oh)
            SELECT doc_id, CAST(min(w) AS INT) AS width,
                   CAST(min(h) AS INT) AS height,
                   CAST(min(ow) AS INT) AS out_width,
                   CAST(min(oh) AS INT) AS out_height,
                   CAST(sum(v) AS BIGINT) AS out_pixsum
            FROM rp GROUP BY doc_id
        """,
        "mm_webp_resize": _WEBPDIMS_CTE + """,
            rd AS (
              SELECT doc_id, w, h,
                     CASE WHEN greatest(w, h) <= 12 THEN w
                          ELSE greatest(1, (w * 12) // greatest(w, h))
                          END AS ow,
                     CASE WHEN greatest(w, h) <= 12 THEN h
                          ELSE greatest(1, (h * 12) // greatest(w, h))
                          END AS oh
              FROM dims),
            rp AS (
              SELECT doc_id, w, h, ow, oh,
                     """ + _WEBP_PIXEL.format(
            x="((gj.j * w) // ow)", y="((gi.i * h) // oh)") + """
                     AS v
              FROM rd,
                   (SELECT unnest(generate_series(0, 12)) AS j) gj,
                   (SELECT unnest(generate_series(0, 12)) AS i) gi
              WHERE gj.j < ow AND gi.i < oh)
            SELECT doc_id, CAST(min(w) AS INT) AS width,
                   CAST(min(h) AS INT) AS height,
                   CAST(min(ow) AS INT) AS out_width,
                   CAST(min(oh) AS INT) AS out_height,
                   CAST(sum(v) AS BIGINT) AS out_pixsum
            FROM rp GROUP BY doc_id
        """,
        "mm_frame_sample": """
            WITH d AS (
              SELECT doc_id,
                     octet_length(encode(text)) AS len FROM documents)
            SELECT doc_id,
                   CAST(unnest(range(least(8, (len + 63) // 64))) AS INT)
                     AS frame_idx,
                   CAST(unnest(range(least(8, (len + 63) // 64))) * 64
                     AS BIGINT) AS frame_off,
                   CAST(least(64,
                     len - unnest(range(least(8, (len + 63) // 64))) * 64)
                     AS BIGINT) AS frame_bytes
            FROM d
        """,
        "redirect_resolve": """
            WITH RECURSIVE e AS (
              SELECT 'http://r.test/p' || CAST(doc_id AS VARCHAR) AS src,
                     'http://r.test/p' || CAST(doc_id - 1 AS VARCHAR) AS dst
              FROM documents WHERE doc_id % 8 <> 0
            ),
            walk AS (
              SELECT src, dst, CAST(1 AS BIGINT) AS hops FROM e
              UNION ALL
              SELECT w.src, e.dst, w.hops + 1
              FROM walk w JOIN e ON w.dst = e.src
            )
            SELECT src, dst AS final_dst, hops, TRUE AS resolved
            FROM walk w
            WHERE dst NOT IN (SELECT src FROM e)
        """,
        "anchor_rollup": """
            WITH l AS (SELECT doc_id, source FROM documents)
            SELECT 'http://' || source || '.test/doc' || doc_id AS target,
                   CAST(2 AS BIGINT) AS n_inlinks,
                   CAST(2 AS INT) AS n_texts,
                   'a,d' AS anchors
            FROM l
            UNION ALL
            SELECT 'http://' || source || '.test/dir/rel' || doc_id,
                   CAST(1 AS BIGINT), CAST(1 AS INT), 'b'
            FROM l
        """,
        "idx_merge_tf": """
            WITH merged AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 9 = 0
                          THEN 'fresh update from ' || source
                          ELSE text END AS text
              FROM documents),
            t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM merged)
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM t WHERE term <> '' GROUP BY doc_id, term
        """,
        "idx_merge_df": """
            WITH merged AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 9 = 0
                          THEN 'fresh update from ' || source
                          ELSE text END AS text
              FROM documents),
            t AS (SELECT DISTINCT doc_id,
                         unnest(string_split(text, ' ')) AS term
                  FROM merged)
            SELECT term, CAST(count(*) AS BIGINT) AS doc_freq
            FROM t WHERE term <> '' GROUP BY term
        """,
        "idx_positions": """
            SELECT t AS term, doc_id, CAST(i - 1 AS BIGINT) AS pos
            FROM (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS t,
                     unnest(generate_series(1, len(list_filter(
                         string_split(text, ' '), x -> x <> '')))) AS i
              FROM documents)
        """,
        "search_phrase": """
            WITH toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '),
                                         x -> x <> '') AS w
              FROM documents),
            hits AS (
              SELECT doc_id,
                     unnest(list_filter(generate_series(1, len(w) - 1),
                            j -> w[j] = 'value'
                                 AND w[j + 1] = 'table')) AS j
              FROM toks WHERE len(w) >= 2)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                   CAST(min(j) - 1 AS BIGINT) AS first_pos
            FROM hits GROUP BY doc_id
        """,
        "idx_postings": """
            WITH t AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM t
              WHERE term <> '' GROUP BY doc_id, term),
            r AS (
              SELECT doc_id, term, tf,
                     row_number() OVER (PARTITION BY term
                                        ORDER BY doc_id) AS rn
              FROM tf)
            SELECT term, count(*) AS doc_freq,
                   CAST(sum(tf) AS BIGINT) AS total_tf,
                   string_agg(CASE WHEN rn <= 8
                              THEN CAST(doc_id AS VARCHAR) END,
                              ',' ORDER BY doc_id) AS postings
            FROM r GROUP BY term
        """,
        "idx_topk_terms": """
            WITH t AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM t
              WHERE term <> '' GROUP BY doc_id, term),
            df AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
            s AS (
              SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
                     (tf.tf * 1000000) // df.doc_freq AS score_fp
              FROM tf JOIN df ON tf.term = df.term)
            SELECT doc_id, term, tf, doc_freq, score_fp, rank FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY doc_id
                  ORDER BY score_fp DESC, term ASC) AS rank
              FROM s) WHERE rank <= 5
        """,
        "crawl_diff": """
            WITH cur AS (
              SELECT doc_id, md5(coalesce(text, '')) AS fp FROM documents),
            prev AS (
              SELECT doc_id,
                     md5(CASE WHEN doc_id % 7 = 0
                         THEN coalesce(text, '') || ' v1'
                         ELSE coalesce(text, '') END) AS fp
              FROM documents WHERE doc_id % 11 <> 0
              UNION ALL
              SELECT doc_id + 1000000,
                     md5('gone' || CAST(doc_id AS VARCHAR))
              FROM documents WHERE doc_id % 13 = 0)
            SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
                   CASE WHEN prev.fp IS NULL THEN 'added'
                        WHEN cur.fp IS NULL THEN 'removed'
                        WHEN prev.fp <> cur.fp THEN 'changed'
                        ELSE 'unchanged' END AS change
            FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id
        """,
        "o20_waterfill": """
            WITH q AS (
              SELECT source AS host,
                     CAST(sum(doc_id % 7) AS BIGINT) AS n_queued
              FROM documents GROUP BY source),
            s AS (
              SELECT host, n_queued,
                     row_number() OVER (ORDER BY n_queued, host) AS k,
                     CAST(sum(n_queued) OVER (ORDER BY n_queued, host
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pk,
                     count(*) OVER () AS h
              FROM q),
            sat AS (
              SELECT *, CASE WHEN (pk - n_queued)
                             + n_queued * (h - k + 1) <= 1400
                        THEN 1 ELSE 0 END AS is_sat
              FROM s),
            l AS (
              SELECT CAST(sum(is_sat) AS BIGINT) AS kk,
                     CAST(coalesce(sum(CASE WHEN is_sat = 1
                                       THEN n_queued END), 0) AS BIGINT)
                       AS psat,
                     count(*) AS h2
              FROM sat)
            SELECT host, n_queued,
                   CAST(CASE WHEN is_sat = 1 THEN n_queued
                        WHEN k - kk <= (1400 - psat) % (h2 - kk)
                        THEN (1400 - psat) // (h2 - kk) + 1
                        ELSE (1400 - psat) // (h2 - kk) END AS BIGINT)
                     AS alloc
            FROM sat, l
        """,
        "pack_chunks": """
            WITH a AS (
              SELECT doc_id,
                     CAST(CAST(('0x' || substring(
                         md5('shard#' || CAST(doc_id AS VARCHAR)),
                         1, 15)) AS BIGINT) % 16 AS INTEGER) AS shard_id,
                     CAST(COALESCE(len(list_filter(
                         string_split(text, ' '), x -> x <> '')), 0)
                       AS BIGINT) AS tok
              FROM documents),
            d AS (SELECT * FROM a WHERE tok > 0),
            s AS (
              SELECT doc_id, shard_id, tok,
                     CAST(sum(tok) OVER (PARTITION BY shard_id
                          ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                          - tok AS BIGINT) AS tok_start
              FROM d)
            SELECT doc_id, shard_id, tok, tok_start,
                   CAST(tok_start // 256 AS BIGINT) AS chunk_first,
                   CAST((tok_start + tok - 1) // 256 AS BIGINT)
                     AS chunk_last
            FROM s
        """,
        "text_len_pctl": """
            WITH d AS (
              SELECT source,
                     CAST(COALESCE(len(list_filter(
                         string_split(text, ' '), x -> x <> '')), 0)
                       AS BIGINT) AS tok
              FROM documents),
            r AS (
              SELECT source, tok,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY tok) AS rn,
                     count(*) OVER (PARTITION BY source) AS n
              FROM d)
            SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
                   max(CASE WHEN rn = (n + 3) // 4 THEN tok END) AS p25,
                   max(CASE WHEN rn = (n + 1) // 2 THEN tok END) AS p50,
                   max(CASE WHEN rn = (3 * n + 3) // 4 THEN tok END)
                     AS p75,
                   max(CASE WHEN rn = (9 * n + 9) // 10 THEN tok END)
                     AS p90
            FROM r GROUP BY source
        """,
        "dupspan_spans": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split(
                         replace(coalesce(text, ''), chr(10), ' '), ' '),
                         x -> x <> '') AS w
              FROM documents),
            win AS (
              SELECT doc_id, pos,
                     array_to_string(w[pos:pos+4], ' ') AS gram
              FROM (SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - 4)) AS pos
                    FROM d WHERE len(w) >= 5)),
            fl AS (
              SELECT doc_id, pos
              FROM (SELECT doc_id, pos,
                           count(*) OVER (PARTITION BY gram) AS c
                    FROM win)
              WHERE c >= 2),
            isl AS (
              SELECT doc_id, pos,
                     sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
              FROM (SELECT doc_id, pos,
                           CASE WHEN pos - lag(pos) OVER (
                                  PARTITION BY doc_id ORDER BY pos) > 5
                                THEN 1 ELSE 0 END AS b
                    FROM fl))
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 4 AS BIGINT) AS span_end,
                   CAST(max(pos) + 4 - min(pos) + 1 AS BIGINT)
                     AS span_tokens
            FROM isl GROUP BY doc_id, g
        """,
        "dupspan_cut": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split(
                         replace(coalesce(text, ''), chr(10), ' '), ' '),
                         x -> x <> '') AS w
              FROM documents),
            win AS (
              SELECT doc_id, pos,
                     array_to_string(w[pos:pos+4], ' ') AS gram
              FROM (SELECT doc_id, w,
                           unnest(generate_series(1, len(w) - 4)) AS pos
                    FROM d WHERE len(w) >= 5)),
            fl AS (
              SELECT doc_id, pos
              FROM (SELECT doc_id, pos,
                           count(*) OVER (PARTITION BY gram) AS c
                    FROM win)
              WHERE c >= 2),
            cov AS (
              SELECT DISTINCT doc_id,
                     unnest(generate_series(pos, pos + 4)) AS cp
              FROM fl),
            covl AS (
              SELECT doc_id, list(cp) AS covered FROM cov
              GROUP BY doc_id),
            k AS (
              SELECT doc_id, w,
                     list_filter(list_transform(range(1, len(w) + 1),
                         i -> CASE WHEN covered IS NULL
                                     OR NOT list_contains(covered, i)
                                   THEN w[i] END),
                         x -> x IS NOT NULL) AS kept
              FROM d LEFT JOIN covl USING (doc_id))
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS tokens_total,
                   CAST(len(w) - len(kept) AS BIGINT) AS tokens_removed,
                   coalesce(array_to_string(kept, ' '), '') AS text_kept
            FROM k
        """,
        "audio_landmarks": _AUDIO_LM_CTE + """
            SELECT track_id, CAST(t1 AS BIGINT) AS t1, h FROM lm
        """,
        "audio_match": _AUDIO_LM_CTE + """
            , cl AS (
              SELECT track_id + 1000000 AS query_id,
                     substr(s, 18, 64) AS s
              FROM tr WHERE track_id % 5 = 0),
            qpk AS (
              SELECT query_id, i - 1 AS t, ascii(substr(s, i, 1)) AS f
              FROM cl, (SELECT unnest(range(2, 64)) AS i)
              WHERE ascii(substr(s, i - 1, 1)) < ascii(substr(s, i, 1))
                AND ascii(substr(s, i, 1)) >= ascii(substr(s, i + 1, 1))),
            qlm AS (
              SELECT query_id, t1,
                     CAST((f1 * 256 + f2) * 64 + dt AS BIGINT) AS h
              FROM (
                SELECT a.query_id, a.t AS t1, a.f AS f1, b.f AS f2,
                       b.t - a.t AS dt,
                       row_number() OVER (PARTITION BY a.query_id, a.t
                                          ORDER BY b.t) AS rn
                FROM qpk a JOIN qpk b ON a.query_id = b.query_id
                     AND b.t > a.t AND b.t - a.t <= 16)
              WHERE rn <= 3),
            hist AS (
              SELECT q.query_id, l.track_id,
                     CAST(l.t1 - q.t1 AS BIGINT) AS "offset",
                     CAST(count(*) AS BIGINT) AS votes
              FROM qlm q JOIN lm l ON q.h = l.h
              GROUP BY 1, 2, 3 HAVING count(*) >= 2)
            SELECT query_id, track_id, "offset", votes FROM (
              SELECT hist.*, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY votes DESC, track_id, "offset") AS rn
              FROM hist) WHERE rn = 1
        """,
        # per-doc weighted PageRank, 2 unrolled rounds — the
        # graph_pagerank idiom with (doc_id, word) as the node key
        # Cox trigram-index plan for literal 'table scan' (its 8
        # trigrams listed literally; rarest-first pick mirrors the
        # Spark planner; guard = every query trigram must exist)
        "search_grep": """
            WITH ix AS (
              SELECT doc_id,
                     unnest(range(1, greatest(0,
                       len(coalesce(text, '')) - 2) + 1)) AS i,
                     coalesce(text, '') AS t
              FROM documents),
            p AS (
              SELECT DISTINCT doc_id, substring(t, CAST(i AS INT), 3)
                       AS tri
              FROM ix),
            qt AS (SELECT unnest([' sc', 'abl', 'ble', 'can',
                                  'e s', 'le ', 'sca', 'tab'])
                     AS tri),
            dfq AS (
              SELECT p.tri, CAST(count(*) AS BIGINT) AS df
              FROM p JOIN qt USING (tri) GROUP BY p.tri),
            picked AS (
              SELECT tri FROM dfq ORDER BY df ASC, tri ASC LIMIT 8),
            cands AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_tris_hit
              FROM p JOIN picked USING (tri)
              GROUP BY doc_id
              HAVING count(*) = (SELECT count(*) FROM picked)),
            guard AS (SELECT (SELECT count(*) FROM dfq) >= 8 AS ok)
            SELECT c.doc_id, c.n_tris_hit,
                   contains(d.text, 'table scan') AS verified
            FROM cands c JOIN documents d USING (doc_id), guard
            WHERE guard.ok
        """,
        "text_vocab_coverage": """
            WITH tok AS (
              SELECT t AS term FROM (
                SELECT unnest(string_split(coalesce(text, ''), ' '))
                  AS t
                FROM documents)
              WHERE t <> ''),
            tf AS (
              SELECT term, CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY term),
            r AS (
              SELECT term, tf,
                     sum(tf) OVER (ORDER BY tf DESC, term
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS cum,
                     row_number() OVER (ORDER BY tf DESC, term) AS rk
              FROM tf),
            tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tokens
                    FROM tf)
            SELECT CAST(rk AS BIGINT) AS k,
                   CAST(cum AS BIGINT) AS covered_tokens,
                   total_tokens,
                   CAST(1000000 * cum // total_tokens AS BIGINT)
                     AS coverage_ppm
            FROM r, tot
            WHERE rk IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512,
                         1024, 2048, 4096)
        """,
        "text_keyness": """
            WITH tok AS (
              SELECT source, t AS term FROM (
                SELECT source,
                       unnest(string_split(coalesce(text, ''), ' '))
                         AS t
                FROM documents)
              WHERE t <> ''),
            st AS (
              SELECT source, term, CAST(count(*) AS BIGINT) AS tf_in
              FROM tok GROUP BY source, term),
            tt AS (
              SELECT term, CAST(sum(tf_in) AS BIGINT) AS tf_all
              FROM st GROUP BY term),
            ts AS (
              SELECT source, CAST(sum(tf_in) AS BIGINT) AS t_in
              FROM st GROUP BY source),
            ta AS (SELECT CAST(sum(t_in) AS BIGINT) AS t_all FROM ts),
            sc AS (
              SELECT st.source, st.term, st.tf_in,
                     tt.tf_all - st.tf_in AS tf_out,
                     CAST(CAST(st.tf_in AS HUGEINT)
                          * (ta.t_all - ts.t_in + 1) * 1000000
                          // (CAST(tt.tf_all - st.tf_in + 1
                                   AS HUGEINT) * ts.t_in)
                          AS BIGINT) AS lift_ppm
              FROM st
              JOIN tt USING (term)
              JOIN ts USING (source), ta
              WHERE st.tf_in >= 3)
            SELECT source, term, tf_in, CAST(tf_out AS BIGINT)
                     AS tf_out, lift_ppm, CAST(rk AS BIGINT) AS rk
            FROM (SELECT *, row_number() OVER (PARTITION BY source
                    ORDER BY lift_ppm DESC, term) AS rk
                  FROM sc)
            WHERE rk <= 10
        """,
        "text_textrank": f"""
            WITH s AS (SELECT doc_id,
                              string_split(coalesce(text, ''), ' ')
                                AS w
                       FROM documents),
            tok AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos,
                           unnest(w) AS t FROM s),
            filt AS (SELECT doc_id, t,
                            row_number() OVER (PARTITION BY doc_id
                              ORDER BY pos) AS rn
                     FROM tok
                     WHERE t <> '' AND t NOT IN ({_STOP_LIST})),
            pr AS (SELECT f1.doc_id, least(f1.t, f2.t) AS a,
                          greatest(f1.t, f2.t) AS b
                   FROM filt f1 JOIN filt f2
                     ON f1.doc_id = f2.doc_id AND f2.rn = f1.rn + 1
                   WHERE f1.t <> f2.t),
            und AS (SELECT doc_id, a, b,
                           CAST(count(*) AS BIGINT) AS wgt
                    FROM pr GROUP BY doc_id, a, b),
            ed AS (SELECT doc_id, a AS u, b AS v, wgt FROM und
                   UNION ALL
                   SELECT doc_id, b, a, wgt FROM und),
            twu AS (SELECT doc_id, u AS word,
                           CAST(sum(wgt) AS BIGINT) AS w_tot
                    FROM ed GROUP BY doc_id, u),
            tnd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_d
                    FROM twu GROUP BY doc_id),
            tr0 AS (SELECT twu.doc_id, twu.word,
                           1000000000000 // tnd.n_d AS rank_fp
                    FROM twu JOIN tnd USING (doc_id)),
            tc1 AS (SELECT ed.doc_id, ed.v AS word,
                           CAST(sum(r.rank_fp * 85 * ed.wgt
                                    // (100 * twu.w_tot)) AS BIGINT)
                             AS inflow
                    FROM ed
                    JOIN tr0 r ON r.doc_id = ed.doc_id
                              AND r.word = ed.u
                    JOIN twu ON twu.doc_id = ed.doc_id
                            AND twu.word = ed.u
                    GROUP BY ed.doc_id, ed.v),
            tr1 AS (SELECT twu.doc_id, twu.word,
                           150000000000 // tnd.n_d
                           + coalesce(tc1.inflow, 0) AS rank_fp
                    FROM twu JOIN tnd USING (doc_id)
                    LEFT JOIN tc1 ON tc1.doc_id = twu.doc_id
                                 AND tc1.word = twu.word),
            tc2 AS (SELECT ed.doc_id, ed.v AS word,
                           CAST(sum(r.rank_fp * 85 * ed.wgt
                                    // (100 * twu.w_tot)) AS BIGINT)
                             AS inflow
                    FROM ed
                    JOIN tr1 r ON r.doc_id = ed.doc_id
                              AND r.word = ed.u
                    JOIN twu ON twu.doc_id = ed.doc_id
                            AND twu.word = ed.u
                    GROUP BY ed.doc_id, ed.v),
            tr2 AS (SELECT twu.doc_id, twu.word,
                           150000000000 // tnd.n_d
                           + coalesce(tc2.inflow, 0) AS rank_fp
                    FROM twu JOIN tnd USING (doc_id)
                    LEFT JOIN tc2 ON tc2.doc_id = twu.doc_id
                                 AND tc2.word = twu.word)
            SELECT doc_id, word, CAST(rank_fp AS BIGINT) AS rank_fp,
                   CAST(rk AS BIGINT) AS rk
            FROM (SELECT doc_id, word, rank_fp,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY rank_fp DESC, word) AS rk
                  FROM tr2)
            WHERE rk <= 5
        """,
        "text_collocations": """
            WITH toks AS (
              SELECT doc_id, list_filter(string_split(text, ' '),
                                         x -> x <> '') AS w
              FROM documents),
            prs AS (
              SELECT w[j] AS w1, w[j + 1] AS w2
              FROM (SELECT w, unnest(generate_series(1, len(w) - 1))
                        AS j
                    FROM toks WHERE len(w) >= 2)),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM prs),
            c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                   FROM prs GROUP BY w1),
            c2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2
                   FROM prs GROUP BY w2),
            cab AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
                    FROM prs GROUP BY w1, w2 HAVING count(*) >= 3)
            SELECT w1, w2, cnt,
                   CAST((CAST(cnt AS HUGEINT) * n * 1000000)
                        // (CAST(c1 AS HUGEINT) * c2) AS BIGINT)
                       AS lift_ppm
            FROM cab JOIN c1 USING (w1) JOIN c2 USING (w2), tot
            ORDER BY lift_ppm DESC, w1, w2 LIMIT 50
        """,
        "search_snippet": """
            WITH pp AS (
              SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos
              FROM (
                SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS t,
                       unnest(generate_series(1, len(list_filter(
                           string_split(text, ' '),
                           x -> x <> '')))) AS i
                FROM documents)
              WHERE t IN ('value', 'table', 'data')),
            sc AS (
              SELECT doc_id, pos, count(*) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  RANGE BETWEEN CURRENT ROW AND 7 FOLLOWING) AS h
              FROM pp),
            pk AS (
              SELECT doc_id,
                     max(h * 1099511627776
                         + (1099511627775 - pos)) AS pack
              FROM sc GROUP BY doc_id)
            SELECT doc_id,
                   CAST(1099511627775 - pack % 1099511627776
                        AS BIGINT) AS snippet_start,
                   CAST(pack // 1099511627776 AS BIGINT) AS hits
            FROM pk
        """,
        "host_budget_select": """
            WITH it AS (
              SELECT source AS id,
                     CAST(sum(strlen(coalesce(text, ''))) AS BIGINT)
                         AS value,
                     CAST(count(*) AS BIGINT) AS cost
              FROM documents GROUP BY source),
            d AS (SELECT id, value, cost,
                         (value * 1000) // cost AS density_milli
                  FROM it),
            r AS (SELECT d.*, sum(cost) OVER (
                      ORDER BY -density_milli, id) AS cum_cost
                  FROM d)
            SELECT id, value, cost,
                   CAST(density_milli AS BIGINT) AS density_milli,
                   CAST(cum_cost AS BIGINT) AS cum_cost
            FROM r WHERE cum_cost <= 300
        """,
        "hreflang_parse": """
            WITH b AS (
              SELECT 'http://' || source || '.test/p'
                       || CAST(doc_id AS VARCHAR) AS u
              FROM documents WHERE doc_id % 3 = 0)
            SELECT u AS page_url, 'de' AS hreflang,
                   u || '-de' AS href FROM b
            UNION ALL
            SELECT u, 'fr', u || '-fr' FROM b
        """,
        "hreflang_clusters": """
            WITH b AS (
              SELECT 'http://' || source || '.test/p'
                       || CAST(doc_id AS VARCHAR) AS u
              FROM documents WHERE doc_id % 3 = 0)
            SELECT u AS url, u AS cluster_id FROM b
            UNION ALL SELECT u || '-de', u FROM b
            UNION ALL SELECT u || '-fr', u FROM b
        """,
        "feed_parse": """
            SELECT 'http://' || source || '.test/feed.xml' AS url,
                   CAST(row_number() OVER (
                       PARTITION BY source ORDER BY doc_id) - 1
                     AS INT) AS item_idx,
                   'http://' || source || '.test/p'
                     || CAST(doc_id AS VARCHAR) AS link,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'D' || CAST(doc_id AS VARCHAR)
                   END AS pub_date
            FROM documents
        """,
        "feed_discover": """
            SELECT 'http://' || source || '.test/p'
                     || CAST(doc_id AS VARCHAR) AS page_url,
                   'http://' || source || '.test/feed.xml' AS feed_url
            FROM documents WHERE doc_id % 4 = 0
        """,
        "meta_robots": """
            SELECT doc_id,
                   (doc_id % 5 = 1 OR doc_id % 5 = 3) AS noindex,
                   (doc_id % 5 = 2 OR doc_id % 5 = 3) AS nofollow
            FROM documents
        """,
        "url_path_tree": """
            WITH u AS (
              SELECT 'http://' || source || '.test/a'
                     || CAST(doc_id % 3 AS VARCHAR) || '/b'
                     || CAST(doc_id % 7 AS VARCHAR) || '/p'
                     || CAST(doc_id AS VARCHAR) AS url
              FROM documents),
            p AS (
              SELECT string_split(url, '/') AS parts FROM u),
            b AS (
              SELECT parts[3] AS host,
                     list_filter(parts[4:], x -> x <> '') AS segs
              FROM p),
            e AS (
              SELECT host, d AS depth,
                     CASE WHEN d = 0 THEN '/'
                          ELSE '/' || array_to_string(segs[1:d], '/')
                     END AS prefix
              FROM b, LATERAL (SELECT unnest(
                  generate_series(0, len(segs))) AS d))
            SELECT host, CAST(depth AS INT) AS depth, prefix,
                   CAST(count(*) AS BIGINT) AS n_urls
            FROM e GROUP BY 1, 2, 3
        """,
        "hdr_len_quantiles": """
            WITH v AS (
              SELECT source AS grp,
                     strlen(coalesce(text, '')) AS v
              FROM documents),
            b AS (
              SELECT grp,
                     CASE WHEN v < 32 THEN v
                          ELSE ((length(bin(v)) - 1) - 5) * 32
                               + (v >> ((length(bin(v)) - 1) - 5))
                     END AS idx,
                     CASE WHEN v < 32 THEN v
                          ELSE (v >> ((length(bin(v)) - 1) - 5))
                               << ((length(bin(v)) - 1) - 5)
                     END AS lower
              FROM v),
            sk AS (SELECT grp, idx, lower, count(*) AS n
                   FROM b GROUP BY 1, 2, 3),
            c AS (
              SELECT grp, lower,
                     sum(n) OVER (PARTITION BY grp ORDER BY idx)
                         AS cum,
                     sum(n) OVER (PARTITION BY grp) AS total
              FROM sk)
            SELECT grp, CAST(q AS INT) AS q,
                   CAST(min(lower) AS BIGINT) AS estimate
            FROM c, (VALUES (50), (90), (99)) qs(q)
            WHERE cum >= (total * q + 99) // 100
            GROUP BY grp, q
        """,
        "events_cms_windows": """
            WITH ev AS (
              SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts))
                          AS BIGINT) AS w,
                     event_type AS key
              FROM events),
            cells AS (SELECT w, CAST(0 AS INT) AS row, CAST(('0x' || substring(md5('0#' || key), 1, 15)) AS BIGINT) % 64 AS col FROM ev UNION ALL SELECT w, CAST(1 AS INT) AS row, CAST(('0x' || substring(md5('1#' || key), 1, 15)) AS BIGINT) % 64 AS col FROM ev UNION ALL SELECT w, CAST(2 AS INT) AS row, CAST(('0x' || substring(md5('2#' || key), 1, 15)) AS BIGINT) % 64 AS col FROM ev UNION ALL SELECT w, CAST(3 AS INT) AS row, CAST(('0x' || substring(md5('3#' || key), 1, 15)) AS BIGINT) % 64 AS col FROM ev)
            SELECT w AS window_start_s, row, col,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2, 3
        """,
        "events_zorder": """
            WITH b AS (
              SELECT event_id,
                     user_id % 65536 AS ub,
                     (epoch_us(ts) // 1000000) % 65536 AS tb
              FROM events)
            SELECT event_id,
                   CAST((((ub >> 0) & 1) << 0) + (((ub >> 1) & 1) << 2) + (((ub >> 2) & 1) << 4) + (((ub >> 3) & 1) << 6) + (((ub >> 4) & 1) << 8) + (((ub >> 5) & 1) << 10) + (((ub >> 6) & 1) << 12) + (((ub >> 7) & 1) << 14) + (((ub >> 8) & 1) << 16) + (((ub >> 9) & 1) << 18) + (((ub >> 10) & 1) << 20) + (((ub >> 11) & 1) << 22) + (((ub >> 12) & 1) << 24) + (((ub >> 13) & 1) << 26) + (((ub >> 14) & 1) << 28) + (((ub >> 15) & 1) << 30) + (((tb >> 0) & 1) << 1) + (((tb >> 1) & 1) << 3) + (((tb >> 2) & 1) << 5) + (((tb >> 3) & 1) << 7) + (((tb >> 4) & 1) << 9) + (((tb >> 5) & 1) << 11) + (((tb >> 6) & 1) << 13) + (((tb >> 7) & 1) << 15) + (((tb >> 8) & 1) << 17) + (((tb >> 9) & 1) << 19) + (((tb >> 10) & 1) << 21) + (((tb >> 11) & 1) << 23) + (((tb >> 12) & 1) << 25) + (((tb >> 13) & 1) << 27) + (((tb >> 14) & 1) << 29) + (((tb >> 15) & 1) << 31) AS BIGINT) AS zkey
            FROM b
        """,
        "events_layout_audit": f"""
            WITH RECURSIVE ev AS (
              SELECT event_id,
                     user_id % 65536 AS x,
                     (epoch_us(ts) // 1000000) % 65536 AS y
              FROM events),
            h AS (
              SELECT event_id, x, y, CAST(0 AS BIGINT) AS d, 15 AS i
              FROM ev
              UNION ALL
              SELECT event_id,
                     CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
                          THEN 65535 - y ELSE y END) ELSE x END,
                     CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
                          THEN 65535 - x ELSE x END) ELSE y END,
                     d + (CAST(1 AS BIGINT) << (2 * i))
                         * xor(3 * rx, ry),
                     i - 1
              FROM (SELECT event_id, x, y, d, i,
                           CASE WHEN (x & (CAST(1 AS BIGINT) << i)) > 0
                                THEN 1 ELSE 0 END AS rx,
                           CASE WHEN (y & (CAST(1 AS BIGINT) << i)) > 0
                                THEN 1 ELSE 0 END AS ry
                    FROM h WHERE i >= 0) s),
            hk AS (SELECT event_id, d AS key FROM h WHERE i = -1),
            lay AS (
              SELECT 'linear_ts' AS layout, event_id,
                     CAST(y AS BIGINT) AS key, x, y FROM ev
              UNION ALL
              SELECT 'zorder', event_id,
                     {_duck_zexpr('x', 'y', 16)}, x, y FROM ev
              UNION ALL
              SELECT 'hilbert', ev.event_id, hk.key, ev.x, ev.y
              FROM ev JOIN hk USING (event_id)),
            rnk AS (
              SELECT layout, x, y, row_number() OVER (
                PARTITION BY layout ORDER BY key, event_id) AS rn
              FROM lay),
            files AS (
              SELECT layout, (rn - 1) // 1024 AS f,
                     min(x) AS min_x, max(x) AS max_x,
                     min(y) AS min_y, max(y) AS max_y,
                     CAST(count(*) AS BIGINT) AS n_rows
              FROM rnk GROUP BY layout, f),
            fl AS (
              SELECT *, (min_x <= 8191 AND max_x >= 0
                         AND min_y <= 8191 AND max_y >= 0) AS needed
              FROM files)
            SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
                   CAST(sum(CASE WHEN needed THEN 1 ELSE 0 END)
                        AS BIGINT) AS files_scanned,
                   CAST(sum(CASE WHEN needed THEN n_rows ELSE 0 END)
                        AS BIGINT) AS rows_scanned,
                   CAST((count(*)
                         - sum(CASE WHEN needed THEN 1 ELSE 0 END))
                        * 1000000 // count(*) AS BIGINT) AS skip_ppm
            FROM fl GROUP BY layout
        """,
        "events_hilbert": """
            WITH RECURSIVE ev AS (
              SELECT event_id,
                     user_id % 65536 AS x,
                     (epoch_us(ts) // 1000000) % 65536 AS y
              FROM events),
            h AS (
              SELECT event_id, x, y, CAST(0 AS BIGINT) AS d, 15 AS i
              FROM ev
              UNION ALL
              SELECT event_id,
                     CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
                          THEN 65535 - y ELSE y END) ELSE x END,
                     CASE WHEN ry = 0 THEN (CASE WHEN rx = 1
                          THEN 65535 - x ELSE x END) ELSE y END,
                     d + (CAST(1 AS BIGINT) << (2 * i))
                         * xor(3 * rx, ry),
                     i - 1
              FROM (SELECT event_id, x, y, d, i,
                           CASE WHEN (x & (CAST(1 AS BIGINT) << i)) > 0
                                THEN 1 ELSE 0 END AS rx,
                           CASE WHEN (y & (CAST(1 AS BIGINT) << i)) > 0
                                THEN 1 ELSE 0 END AS ry
                    FROM h WHERE i >= 0) s)
            SELECT event_id, d AS hkey FROM h WHERE i = -1
        """,
        "events_asof": """
            WITH pur AS (
              SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'purchase'),
            best AS (
              SELECT e.event_id AS lid,
                     max(struct_pack(ts := p.ts, eid := p.event_id))
                         AS b
              FROM events e JOIN pur p
                ON p.user_id = e.user_id AND p.ts <= e.ts
              GROUP BY e.event_id)
            SELECT e.event_id, e.user_id, e.ts,
                   b.b.eid AS r_event_id, b.b.ts AS r_ts
            FROM events e LEFT JOIN best b ON b.lid = e.event_id
        """,
        "events_burstiness": f"""
            WITH g AS (
              SELECT user_id,
                     (epoch_us(ts) - epoch_us(lag(ts) OVER (
                        PARTITION BY user_id
                        ORDER BY ts, event_id))) // 1000000 AS gap
              FROM events),
            a AS (
              SELECT user_id,
                     CAST(count(*) AS BIGINT) AS n_gaps,
                     CAST(sum(gap) AS BIGINT) AS s1,
                     sum(CAST(gap AS HUGEINT) * gap) AS s2
              FROM g WHERE gap IS NOT NULL GROUP BY user_id),
            r AS (
              SELECT *,
                     {_isqrt_sql('(CAST(n_gaps AS HUGEINT) * s2'
                                 ' - CAST(s1 AS HUGEINT) * s1)')} AS rr
              FROM a)
            SELECT user_id, n_gaps, s1 AS sum_gap_s,
                   CASE WHEN rr + s1 = 0 THEN NULL
                        WHEN rr >= s1 THEN
                          CAST(1000 * (rr - s1) // (rr + s1) AS BIGINT)
                        ELSE
                          CAST(-(1000 * (s1 - rr) // (rr + s1))
                               AS BIGINT)
                   END AS burst_milli
            FROM r
        """,
        "html_outline": """
            WITH d AS (
              SELECT 'http://' || source || '.test/p'
                       || CAST(doc_id AS VARCHAR) AS url,
                     '<title>Doc ' || CAST(doc_id AS VARCHAR)
                     || ' <i>of</i> ' || source
                     || '</title><h1>Sec ' || CAST(doc_id AS VARCHAR)
                     || '</h1>'
                     || CASE WHEN doc_id % 3 = 0 THEN
                          '<h2>Sub ' || CAST(doc_id AS VARCHAR)
                          || '</h2><h2>  </h2>'
                        ELSE '' END AS html
              FROM documents),
            raw AS (
              SELECT url, 'title' AS kind,
                     regexp_extract_all(html,
                       '(?is)<title[^>]*>(.*?)</title>', 1) AS xs
              FROM d
              UNION ALL
              SELECT url, 'h1',
                     regexp_extract_all(html,
                       '(?is)<h1[^>]*>(.*?)</h1>', 1)
              FROM d
              UNION ALL
              SELECT url, 'h2',
                     regexp_extract_all(html,
                       '(?is)<h2[^>]*>(.*?)</h2>', 1)
              FROM d),
            e AS (
              SELECT url, kind,
                     CAST(unnest(range(1, len(xs) + 1)) - 1
                          AS BIGINT) AS ord,
                     unnest(xs) AS raw
              FROM raw),
            c AS (
              SELECT url, kind, ord,
                     trim(regexp_replace(regexp_replace(raw,
                       '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g'))
                       AS text
              FROM e)
            SELECT url, kind, ord, text FROM c WHERE text <> ''
        """,
        # identical RE2 patterns as the Spark side; '' escapes the
        # single quotes of the alternate attribute-quote style
        "mm_captions": """
            WITH d AS (
              SELECT 'http://' || source || '.test/p'
                       || CAST(doc_id AS VARCHAR) AS url,
                     CASE WHEN doc_id % 4 = 0 THEN
                            '<p>t</p><img src="http://' || source
                            || '.test/i' || CAST(doc_id AS VARCHAR)
                            || '.png" alt="cap '
                            || CAST(doc_id AS VARCHAR) || '">'
                          WHEN doc_id % 4 = 1 THEN
                            '<IMG' || chr(9) || 'src=''/rel'
                            || CAST(doc_id AS VARCHAR) || '.jpg''>'
                          WHEN doc_id % 4 = 2 THEN
                            '<img alt="orphan"><img src="x'
                            || CAST(doc_id AS VARCHAR)
                            || '.gif" alt="">'
                          ELSE 'no images '
                               || CAST(doc_id AS VARCHAR)
                     END AS html
              FROM documents),
            t AS (
              SELECT url,
                     regexp_extract_all(coalesce(html, ''),
                       '(?i)<img[ ' || chr(9) || chr(10)
                       || '][^>]*>', 0) AS tags
              FROM d),
            e AS (
              SELECT url,
                     CAST(unnest(range(1, len(tags) + 1)) - 1
                          AS BIGINT) AS ord,
                     unnest(tags) AS tag
              FROM t),
            x AS (
              SELECT url, ord,
                     coalesce(
                       nullif(regexp_extract(tag,
                         '(?i)src\\s*=\\s*"([^"]*)"', 1), ''),
                       nullif(regexp_extract(tag,
                         '(?i)src\\s*=\\s*''([^'']*)''', 1), ''))
                       AS src,
                     coalesce(
                       nullif(regexp_extract(tag,
                         '(?i)alt\\s*=\\s*"([^"]*)"', 1), ''),
                       nullif(regexp_extract(tag,
                         '(?i)alt\\s*=\\s*''([^'']*)''', 1), ''))
                       AS alt
              FROM e)
            SELECT url, ord, src, alt, alt IS NOT NULL AS has_alt
            FROM x WHERE src IS NOT NULL
        """,
        "events_affinity": """
            WITH s0 AS (
              SELECT user_id AS key, epoch_us(ts) AS us,
                     event_type AS t
              FROM events),
            bk AS (
              SELECT key, us, t,
                     CASE WHEN us - lag(us) OVER (PARTITION BY key
                            ORDER BY us, t) > 1800000000
                          THEN 1 ELSE 0 END AS brk
              FROM s0),
            sd AS (
              SELECT key, t,
                     sum(brk) OVER (PARTITION BY key ORDER BY us, t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS sid
              FROM bk),
            pres AS (SELECT DISTINCT key, sid, t FROM sd),
            sing AS (
              SELECT t, CAST(count(*) AS BIGINT) AS n_s
              FROM pres GROUP BY t),
            tot AS (
              SELECT CAST(count(*) AS BIGINT) AS s_tot
              FROM (SELECT DISTINCT key, sid FROM pres)),
            pr AS (
              SELECT p1.t AS type_a, p2.t AS type_b,
                     CAST(count(*) AS BIGINT) AS n_ab
              FROM pres p1 JOIN pres p2
                ON p1.key = p2.key AND p1.sid = p2.sid
               AND p1.t < p2.t
              GROUP BY 1, 2 HAVING count(*) >= 3)
            SELECT type_a, type_b, n_ab,
                   sa.n_s AS n_a, sb.n_s AS n_b,
                   CAST(CAST(n_ab AS HUGEINT) * tot.s_tot * 1000000
                        // (CAST(sa.n_s AS HUGEINT) * sb.n_s)
                        AS BIGINT) AS lift_ppm
            FROM pr JOIN sing sa ON sa.t = pr.type_a
                    JOIN sing sb ON sb.t = pr.type_b, tot
            ORDER BY lift_ppm DESC, type_a, type_b LIMIT 50
        """,
        "events_markov": """
            WITH p AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS to_type
              FROM events),
            c AS (
              SELECT from_type, to_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM p WHERE to_type IS NOT NULL
              GROUP BY from_type, to_type),
            r AS (
              SELECT from_type, CAST(sum(n) AS BIGINT) AS rn
              FROM c GROUP BY from_type)
            SELECT c.from_type, c.to_type, c.n,
                   CAST(1000000 * c.n // r.rn AS BIGINT) AS p_ppm,
                   CAST(row_number() OVER (PARTITION BY c.from_type
                     ORDER BY c.n DESC, c.to_type) AS BIGINT) AS rk
            FROM c JOIN r USING (from_type)
        """,
        "events_srm": """
            WITH a AS (
              SELECT event_type AS key,
                     CAST(('0x' || substring(
                       md5(CAST(user_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 2 AS arm
              FROM events),
            g AS (
              SELECT key,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS arm0,
                     CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS arm1
              FROM a GROUP BY key)
            SELECT key, n, arm0, arm1,
                   CAST(1000::HUGEINT * (arm0 - arm1) * (arm0 - arm1)
                        // n AS BIGINT) AS chi2_milli,
                   (1000::HUGEINT * (arm0 - arm1) * (arm0 - arm1)
                    // n) > 3841 AS srm
            FROM g
        """,
        "events_persistence": """
            WITH kt AS (
              SELECT user_id AS key,
                     epoch_us(ts) // 3600000000 AS t
              FROM events),
            per AS (
              SELECT key, t, CAST(count(*) AS BIGINT) AS c
              FROM kt GROUP BY key, t),
            tot AS (
              SELECT CAST(count(DISTINCT t) AS BIGINT) AS w_total
              FROM per),
            g AS (
              SELECT key,
                     CAST(sum(c) AS BIGINT) AS n_events,
                     CAST(count(*) AS BIGINT) AS n_present
              FROM per GROUP BY key)
            SELECT key, n_events, n_present, w_total,
                   CAST(1000000 * n_present // w_total AS BIGINT)
                     AS persistence_ppm,
                   CAST(1000000 * n_present // n_events AS BIGINT)
                     AS burst_ratio_ppm
            FROM g, tot
        """,
        "events_forecast_skill": """
            WITH c AS (
              SELECT event_type,
                     epoch_us(ts) // 3600000000 AS t,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            sp AS (
              SELECT event_type, min(t) AS tmin, max(t) AS tmax,
                     CAST(max(t) - min(t) + 1 AS BIGINT) AS n
              FROM c GROUP BY event_type
              HAVING max(t) - min(t) + 1 BETWEEN 2 AND 4096),
            d AS (
              SELECT event_type, n,
                     unnest(generate_series(tmin, tmax)) AS t
              FROM sp),
            xs AS (
              SELECT d.event_type, d.n, d.t,
                     coalesce(c.x, 0) AS x
              FROM d LEFT JOIN c
                ON c.event_type = d.event_type AND c.t = d.t),
            lg AS (
              SELECT event_type, n, x,
                     lag(x, 1) OVER (PARTITION BY event_type
                       ORDER BY t) AS p1,
                     lag(x, 24) OVER (PARTITION BY event_type
                       ORDER BY t) AS ps
              FROM xs)
            SELECT event_type AS key,
                   CAST(any_value(n) AS BIGINT) AS n_buckets,
                   CAST(sum(abs(x - p1)) AS BIGINT) AS naive_sae,
                   CAST(sum(abs(x - ps)) AS BIGINT) AS seas_sae,
                   CAST(count(p1) AS BIGINT) AS n1,
                   CAST(count(ps) AS BIGINT) AS ns,
                   CASE WHEN count(ps) > 0 AND sum(abs(x - p1)) > 0
                     THEN CAST(1000 * sum(abs(x - ps)) * count(p1)
                          // (count(ps) * sum(abs(x - p1)))
                          AS BIGINT) END AS mase_milli
            FROM lg GROUP BY event_type
        """,
        "events_periodicity": """
            WITH c AS (
              SELECT user_id,
                     epoch_us(ts) // 3600000000 AS t,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            sp AS (
              SELECT user_id, min(t) AS tmin, max(t) AS tmax,
                     CAST(sum(x) AS BIGINT) AS s,
                     CAST(max(t) - min(t) + 1 AS BIGINT) AS n
              FROM c GROUP BY user_id
              HAVING max(t) - min(t) + 1 BETWEEN 2 AND 4096),
            d AS (
              SELECT user_id, n, s,
                     unnest(generate_series(tmin, tmax)) AS t
              FROM sp),
            xs AS (
              SELECT d.user_id, d.n, d.t,
                     CAST(d.n * coalesce(c.x, 0) - d.s AS BIGINT) AS xc
              FROM d LEFT JOIN c
                ON c.user_id = d.user_id AND c.t = d.t),
            den AS (
              SELECT user_id, any_value(n) AS n_buckets,
                     sum(CAST(xc AS HUGEINT) * xc) AS den
              FROM xs GROUP BY user_id),
            lags(lag) AS (VALUES (1),(2),(3),(6),(12),(24)),
            num AS (
              SELECT a.user_id, l.lag,
                     sum(CAST(a.xc AS HUGEINT) * b.xc) AS num
              FROM xs a
              CROSS JOIN lags l
              LEFT JOIN xs b
                ON b.user_id = a.user_id AND b.t = a.t + l.lag
              GROUP BY a.user_id, l.lag)
            SELECT n.user_id, CAST(n.lag AS BIGINT) AS lag,
                   d.n_buckets,
                   CASE WHEN d.den > 0 AND n.num IS NOT NULL THEN
                     CASE WHEN n.num >= 0
                          THEN CAST(1000 * n.num // d.den AS BIGINT)
                          ELSE CAST(-((1000 * -n.num) // d.den)
                                    AS BIGINT)
                     END
                   END AS r_milli
            FROM num n JOIN den d USING (user_id)
        """,
        "events_anomaly": """
            WITH c AS (
              SELECT user_id,
                     epoch_us(ts) // 3600000000 AS t,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            sp AS (
              SELECT user_id, min(t) AS tmin, max(t) AS tmax,
                     CAST(max(t) - min(t) + 1 AS BIGINT) AS n
              FROM c GROUP BY user_id
              HAVING max(t) - min(t) + 1 BETWEEN 2 AND 4096),
            d AS (
              SELECT user_id, n,
                     unnest(generate_series(tmin, tmax)) AS t
              FROM sp),
            xs AS (
              SELECT d.user_id, d.n, d.t,
                     CAST(coalesce(c.x, 0) AS BIGINT) AS x
              FROM d LEFT JOIN c
                ON c.user_id = d.user_id AND c.t = d.t),
            med AS (
              SELECT user_id, x AS med FROM (
                SELECT user_id, x, n,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY x, t) AS rn
                FROM xs)
              WHERE rn = (n + 1) // 2),
            dv AS (
              SELECT xs.user_id, xs.n, xs.t, xs.x, med.med,
                     abs(xs.x - med.med) AS dev
              FROM xs JOIN med USING (user_id)),
            mad AS (
              SELECT user_id, dev AS mad FROM (
                SELECT user_id, dev, n,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY dev, t) AS rn
                FROM dv)
              WHERE rn = (n + 1) // 2)
            SELECT dv.user_id, dv.t, dv.x, dv.med, mad.mad
            FROM dv JOIN mad USING (user_id)
            WHERE 1000 * dv.dev > 4450 * mad.mad
        """,
        "events_ewma": """
            WITH c AS (
              SELECT event_type AS key,
                     epoch_us(ts) // 3600000000 AS t,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            sp AS (
              SELECT key, min(t) AS tmin, max(t) AS tmax
              FROM c GROUP BY key
              HAVING max(t) - min(t) + 1 BETWEEN 2 AND 4096),
            d AS (
              SELECT key, unnest(generate_series(tmin, tmax)) AS t
              FROM sp),
            dx AS (
              SELECT d.key, d.t,
                     CAST(coalesce(c.x, 0) AS BIGINT) AS x
              FROM d LEFT JOIN c ON c.key = d.key AND c.t = d.t),
            wl AS (
              SELECT key, t, x,
                     list(x) OVER (PARTITION BY key ORDER BY t
                       ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
                       AS w
              FROM dx),
            e AS (
              SELECT key, t, x,
                     CAST(1000 * list_sum(list_transform(
                            range(1, len(w) + 1),
                            i -> w[i] * (1::BIGINT << (i - 1))))
                          // ((1::BIGINT << len(w)) - 1) AS BIGINT)
                       AS ewma_milli
              FROM wl),
            f AS (
              SELECT key, t, x, ewma_milli,
                     lag(ewma_milli) OVER (
                       PARTITION BY key ORDER BY t) AS prev
              FROM e)
            SELECT key, t, x, ewma_milli,
                   CAST(x * 1000 - prev AS BIGINT) AS dev_milli,
                   CASE WHEN prev IS NULL THEN false
                        ELSE x * 1000 - prev > prev END AS spike
            FROM f
        """,
        "events_cusum": """
            WITH c AS (
              SELECT event_type,
                     epoch_us(ts) // 3600000000 AS t,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            sp AS (
              SELECT event_type, min(t) AS tmin, max(t) AS tmax,
                     CAST(max(t) - min(t) + 1 AS BIGINT) AS n
              FROM c GROUP BY event_type
              HAVING max(t) - min(t) + 1 BETWEEN 2 AND 4096),
            d AS (
              SELECT event_type, n,
                     unnest(generate_series(tmin, tmax)) AS t
              FROM sp),
            xs AS (
              SELECT d.event_type, d.n, d.t,
                     CAST(coalesce(c.x, 0) AS BIGINT) AS x
              FROM d LEFT JOIN c
                ON c.event_type = d.event_type AND c.t = d.t),
            med AS (
              SELECT event_type, x AS med FROM (
                SELECT event_type, x, n,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY x, t) AS rn
                FROM xs)
              WHERE rn = (n + 1) // 2),
            p AS (
              SELECT xs.event_type, xs.t, xs.x, med.med,
                     sum(xs.x - med.med - 1) OVER (
                       PARTITION BY xs.event_type ORDER BY xs.t
                       ROWS UNBOUNDED PRECEDING) AS p
              FROM xs JOIN med USING (event_type)),
            s AS (
              SELECT event_type, t, x, med,
                     p - least(0, min(p) OVER (
                       PARTITION BY event_type ORDER BY t
                       ROWS UNBOUNDED PRECEDING)) AS s
              FROM p)
            SELECT event_type, t, x, med, CAST(s AS BIGINT) AS s
            FROM s WHERE s > 6
        """,
        "events_funnel": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 ON s1.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts >= s1.t1
                AND e.ts < s1.t1 + INTERVAL 604800 SECOND
              GROUP BY 1),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e
              JOIN s1 ON s1.user_id = e.user_id
              JOIN s2 ON s2.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
                AND e.ts < s1.t1 + INTERVAL 604800 SECOND
              GROUP BY 1)
            SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
                   CAST(1 + CAST(s2.t2 IS NOT NULL AS INT)
                          + CAST(s3.t3 IS NOT NULL AS INT)
                        AS BIGINT) AS reached
            FROM s1
            LEFT JOIN s2 ON s2.user_id = s1.user_id
            LEFT JOIN s3 ON s3.user_id = s1.user_id
        """,
        "events_funnel_report": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS t1 FROM events
              WHERE event_type = 'view' GROUP BY 1),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN s1 ON s1.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts >= s1.t1
                AND e.ts < s1.t1 + INTERVAL 604800 SECOND
              GROUP BY 1),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS t3
              FROM events e
              JOIN s1 ON s1.user_id = e.user_id
              JOIN s2 ON s2.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
                AND e.ts < s1.t1 + INTERVAL 604800 SECOND
              GROUP BY 1),
            c AS (
              SELECT (SELECT count(*) FROM s1) AS c1,
                     (SELECT count(*) FROM s2) AS c2,
                     (SELECT count(*) FROM s3) AS c3)
            SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_type,
                   CAST(c1 AS BIGINT) AS users,
                   CAST(1000000 AS BIGINT) AS conv_ppm FROM c
            UNION ALL
            SELECT 2, 'click', CAST(c2 AS BIGINT),
                   CASE WHEN c1 = 0 THEN NULL
                        ELSE CAST(c2 * 1000000 // c1 AS BIGINT) END
            FROM c
            UNION ALL
            SELECT 3, 'purchase', CAST(c3 AS BIGINT),
                   CASE WHEN c2 = 0 THEN NULL
                        ELSE CAST(c3 * 1000000 // c2 AS BIGINT) END
            FROM c
        """,
        "events_actives": """
            WITH ud AS (
              SELECT DISTINCT user_id AS u,
                     epoch_us(ts) // 86400000000 AS day
              FROM events),
            sp AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
            grid AS (
              SELECT CAST(unnest(generate_series(lo, hi)) AS BIGINT)
                       AS gday
              FROM sp),
            j AS (
              SELECT g.gday, ud.u, ud.day
              FROM grid g JOIN ud
                ON ud.day <= g.gday AND ud.day > g.gday - 28)
            SELECT gday AS day,
                   CAST(count(DISTINCT CASE WHEN day = gday THEN u
                        END) AS BIGINT) AS dau,
                   CAST(count(DISTINCT CASE WHEN day > gday - 7
                        THEN u END) AS BIGINT) AS wau,
                   CAST(count(DISTINCT u) AS BIGINT) AS mau,
                   CAST(1000000 * count(DISTINCT CASE WHEN day = gday
                        THEN u END) // count(DISTINCT u) AS BIGINT)
                     AS stickiness_ppm
            FROM j GROUP BY gday
        """,
        "events_retention": """
            WITH a AS (
              SELECT DISTINCT user_id,
                     epoch_us(ts) // 86400000000 AS b
              FROM events),
            c AS (SELECT user_id, min(b) AS c FROM a GROUP BY 1)
            SELECT CAST(c.c AS BIGINT) AS cohort,
                   CAST(a.b - c.c AS BIGINT) AS "offset",
                   CAST(count(*) AS BIGINT) AS users
            FROM a JOIN c ON c.user_id = a.user_id
            GROUP BY 1, 2
        """,
        "events_change_audit": """
            SELECT f.user_id,
                   c.ts AS change_ts,
                   f.ts AS fetch_ts,
                   CAST(epoch_us(f.ts) - epoch_us(c.ts) AS BIGINT)
                     AS lag_us
            FROM (SELECT user_id, ts FROM events
                  WHERE event_type = 'purchase') f
            JOIN (SELECT user_id, ts FROM events
                  WHERE event_type = 'click') c
              ON c.user_id = f.user_id
             AND f.ts >= c.ts
             AND f.ts < c.ts + INTERVAL 5 MINUTE
        """,
        "events_change_sla": """
            SELECT c.user_id, c.ts AS change_ts
            FROM (SELECT user_id, ts FROM events
                  WHERE event_type = 'click') c
            WHERE NOT EXISTS (
              SELECT 1 FROM events f
              WHERE f.event_type = 'purchase'
                AND f.user_id = c.user_id
                AND f.ts >= c.ts
                AND f.ts < c.ts + INTERVAL 5 MINUTE)
        """,
        "events_interval": """
            WITH pts AS (
              SELECT event_id, user_id, epoch_us(ts) AS t FROM events),
            ivs AS (
              SELECT user_id, user_id * 10 + k AS iid,
                     1704067200000000 + k * 7 * 86400000000 AS lo,
                     1704067200000000 + k * 7 * 86400000000
                       + 2 * 86400000000 AS hi
              FROM (SELECT DISTINCT user_id FROM events),
                   (SELECT unnest(generate_series(0, 3)) AS k))
            SELECT p.event_id, p.user_id, p.t, i.iid, i.lo, i.hi
            FROM pts p JOIN ivs i
              ON i.user_id = p.user_id AND p.t >= i.lo AND p.t < i.hi
        """,
        "cdc_chunks": _CDC_CHUNKS_CTE + """
            SELECT doc_id, chunk_idx, fp, n_tokens FROM ch
        """,
        "cdc_dedup": _CDC_CHUNKS_CTE + """
            , pf AS (
              SELECT fp, CAST(count(*) AS BIGINT) AS n,
                     CAST(max(n_tokens) AS BIGINT) AS n_tokens
              FROM ch GROUP BY fp),
            ag AS (
              SELECT CAST(sum(n) AS BIGINT) AS total_chunks,
                     CAST(count(*) AS BIGINT) AS distinct_chunks,
                     CAST(sum(n * n_tokens) AS BIGINT)
                         AS total_tokens,
                     CAST(sum(n_tokens) AS BIGINT) AS stored_tokens
              FROM pf)
            SELECT total_chunks, distinct_chunks, total_tokens,
                   stored_tokens,
                   CAST(CASE WHEN total_tokens > 0 THEN
                        ((CAST(total_tokens AS HUGEINT)
                          - stored_tokens) * 1000000) // total_tokens
                        ELSE 0 END AS BIGINT) AS saved_ppm
            FROM ag
        """,
        "suffix_ranks": _SUFFIX_RANKS_SQL + """
            SELECT gpos, rank FROM sr
        """,
        "suffix_dup8": _SUFFIX_RANKS_SQL + """
            SELECT rank, CAST(count(*) AS BIGINT) AS n_positions
            FROM sr GROUP BY rank HAVING count(*) > 1
        """,
        "suffix_lcp8": _SUFFIX_RANKS_SQL + """
            , ord AS (
              SELECT gpos, pl,
                     row_number() OVER (ORDER BY pl, gpos) AS sa_pos,
                     lag(pl) OVER (ORDER BY pl, gpos) AS prev
              FROM pad)
            SELECT CAST(gpos AS BIGINT) AS gpos,
                   CAST(sa_pos AS BIGINT) AS sa_pos,
                   CAST(CASE WHEN prev IS NULL THEN 0 ELSE
                        len(list_filter(range(1, 8),
                            j -> pl[1:j] = prev[1:j]))
                        END AS BIGINT) AS lcp
            FROM ord
        """,
        "fetch_revalidate": """
            WITH h AS (
              SELECT doc_id, p AS pass_idx,
                     md5(coalesce(text, '') || '#' ||
                         CAST(((doc_id % 5) * p) // 4 AS VARCHAR)) AS fp,
                     strlen(coalesce(text, '')) + 64 AS bytes
              FROM documents
              CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS p)
              WHERE NOT (doc_id % 11 = 0 AND p = 2))
            SELECT doc_id, pass_idx,
                   CASE WHEN lag(fp) OVER w IS NULL THEN 'first'
                        WHEN lag(fp) OVER w = fp THEN 'not_modified'
                        ELSE 'modified' END AS status,
                   CAST(bytes AS BIGINT) AS body_bytes
            FROM h
            WINDOW w AS (PARTITION BY doc_id ORDER BY pass_idx)
        """,
        "fetch_reval_savings": """
            WITH h AS (
              SELECT doc_id, p AS pass_idx,
                     md5(coalesce(text, '') || '#' ||
                         CAST(((doc_id % 5) * p) // 4 AS VARCHAR)) AS fp,
                     strlen(coalesce(text, '')) + 64 AS bytes
              FROM documents
              CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS p)
              WHERE NOT (doc_id % 11 = 0 AND p = 2)),
            audit AS (
              SELECT doc_id,
                     CASE WHEN lag(fp) OVER w IS NULL THEN 'first'
                          WHEN lag(fp) OVER w = fp THEN 'not_modified'
                          ELSE 'modified' END AS status,
                     CAST(bytes AS BIGINT) AS body_bytes
              FROM h
              WINDOW w AS (PARTITION BY doc_id ORDER BY pass_idx)),
            g AS (
              SELECT d.source,
                     CAST(count(*) AS BIGINT) AS fetches,
                     CAST(sum(CASE WHEN status = 'first' THEN 1
                              ELSE 0 END) AS BIGINT) AS first_fetches,
                     CAST(sum(CASE WHEN status = 'not_modified' THEN 1
                              ELSE 0 END) AS BIGINT) AS not_modified,
                     CAST(sum(CASE WHEN status = 'modified' THEN 1
                              ELSE 0 END) AS BIGINT) AS modified,
                     CAST(sum(body_bytes) AS BIGINT) AS body_bytes,
                     CAST(sum(CASE WHEN status = 'not_modified'
                              THEN body_bytes ELSE 0 END) AS BIGINT)
                         AS bytes_saved
              FROM audit JOIN documents d USING (doc_id)
              GROUP BY d.source)
            SELECT source, fetches, first_fetches, not_modified,
                   modified, body_bytes, bytes_saved,
                   CAST(CASE WHEN body_bytes > 0 THEN
                          (CAST(bytes_saved AS HUGEINT) * 1000000)
                          // body_bytes
                        ELSE 0 END AS BIGINT) AS saved_ppm
            FROM g
        """,
        "recrawl_rates": """
            WITH h AS (
              SELECT doc_id, p AS pass_idx,
                     md5(coalesce(text, '') || '#' ||
                         CAST(((doc_id % 5) * p) // 4 AS VARCHAR)) AS fp
              FROM documents
              CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS p)
              WHERE NOT (doc_id % 11 = 0 AND p = 2)),
            lagd AS (
              SELECT doc_id, pass_idx,
                     CASE WHEN fp <> lag(fp) OVER (
                            PARTITION BY doc_id ORDER BY pass_idx)
                          THEN 1 ELSE 0 END AS chg
              FROM h)
            SELECT doc_id,
                   CAST(count(*) - 1 AS BIGINT) AS n_intervals,
                   CAST(sum(chg) AS BIGINT) AS n_changed,
                   CAST(CASE WHEN count(*) > 1 THEN
                          floor(sum(chg) * 1000000 / (count(*) - 1))
                        ELSE 0 END AS BIGINT) AS change_ppm,
                   CAST(max(pass_idx) - coalesce(
                          max(CASE WHEN chg = 1 THEN pass_idx END),
                          min(pass_idx)) AS BIGINT) AS staleness
            FROM lagd GROUP BY doc_id
        """,
        "recrawl_schedule": """
            WITH h AS (
              SELECT doc_id, p AS pass_idx,
                     md5(coalesce(text, '') || '#' ||
                         CAST(((doc_id % 5) * p) // 4 AS VARCHAR)) AS fp
              FROM documents
              CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS p)
              WHERE NOT (doc_id % 11 = 0 AND p = 2)),
            lagd AS (
              SELECT doc_id, pass_idx,
                     CASE WHEN fp <> lag(fp) OVER (
                            PARTITION BY doc_id ORDER BY pass_idx)
                          THEN 1 ELSE 0 END AS chg
              FROM h),
            rates AS (
              SELECT doc_id,
                     CAST(CASE WHEN count(*) > 1 THEN
                            floor(sum(chg) * 1000000 / (count(*) - 1))
                          ELSE 0 END AS BIGINT) AS change_ppm,
                     CAST(max(pass_idx) - coalesce(
                            max(CASE WHEN chg = 1 THEN pass_idx END),
                            min(pass_idx)) AS BIGINT) AS staleness
              FROM lagd GROUP BY doc_id)
            SELECT doc_id, change_ppm, staleness,
                   CAST(change_ppm * (staleness + 1) AS BIGINT) AS score
            FROM rates
            ORDER BY score DESC, doc_id
            LIMIT 50
        """,
        "search_hybrid": f"""
            WITH b AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY score_fp DESC, doc_id)
                       AS rank
              FROM ({_BM25_SQL})),
            v AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv FROM v
                  WHERE vec_id < 1),
            sc AS (
              SELECT vec_id, {_DOT_SQL} AS score
              FROM q, v WHERE q_id != vec_id),
            vr AS (
              SELECT vec_id AS doc_id, rank FROM (
                SELECT vec_id,
                       row_number() OVER (ORDER BY score DESC, vec_id)
                         AS rank
                FROM sc) WHERE rank <= 25),
            contrib AS (
              SELECT doc_id, 1000000000 // (60 + rank) AS c FROM b
              UNION ALL
              SELECT doc_id, 1000000000 // (60 + rank) AS c FROM vr)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
                   CAST(sum(c) AS BIGINT) AS rrf_fp
            FROM contrib GROUP BY doc_id
            ORDER BY rrf_fp DESC, doc_id LIMIT 10
        """,
        "pq_codes": _PQ_CTE + """
            SELECT vec_id,
                   array_to_string(list(code ORDER BY j), ',') AS codes
            FROM best GROUP BY vec_id
        """,
        "ann_pq_topk": _PQ_CTE + """
            , lut AS (
              SELECT sub.vec_id AS q_id, sub.j, cb.code,
                     CAST(list_sum(list_transform(
                       range(1, len(sub.sv) + 1),
                       i -> (sub.sv[i] - cb.cv[i])
                            * (sub.sv[i] - cb.cv[i]))) AS BIGINT) AS d2
              FROM sub JOIN cb ON sub.j = cb.j
              WHERE sub.vec_id < 10),
            scored AS (
              SELECT lut.q_id, best.vec_id,
                     CAST(sum(lut.d2) AS BIGINT) AS adc_d2
              FROM best JOIN lut
                ON best.j = lut.j AND best.code = lut.code
              WHERE lut.q_id != best.vec_id
              GROUP BY lut.q_id, best.vec_id)
            SELECT q_id, vec_id, adc_d2, rank FROM (
              SELECT q_id, vec_id, adc_d2,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY adc_d2, vec_id) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "ann_ivfpq_topk": _PQ_CTE + f"""
            , c AS (
              SELECT vec_id AS c_id, v AS qv FROM v0 WHERE vec_id < 8),
            asg AS (
              SELECT vec_id, c_id AS bucket FROM (
                SELECT v0.vec_id, c.c_id,
                       row_number() OVER (PARTITION BY v0.vec_id
                         ORDER BY
                           CAST(list_sum(list_transform(
                             range(1, len(c.qv) + 1),
                             i -> c.qv[i] * v0.v[i])) AS BIGINT)
                           DESC, c.c_id) AS rn
                FROM c, v0) WHERE rn = 1),
            lut AS (
              SELECT sub.vec_id AS q_id, sub.j, cb.code,
                     CAST(list_sum(list_transform(
                       range(1, len(sub.sv) + 1),
                       i -> (sub.sv[i] - cb.cv[i])
                            * (sub.sv[i] - cb.cv[i]))) AS BIGINT) AS d2
              FROM sub JOIN cb ON sub.j = cb.j
              WHERE sub.vec_id < 10),
            scored AS (
              SELECT lut.q_id, qa.bucket, best.vec_id,
                     CAST(sum(lut.d2) AS BIGINT) AS adc_d2
              FROM best
              JOIN asg xa ON xa.vec_id = best.vec_id
              JOIN lut ON best.j = lut.j AND best.code = lut.code
              JOIN asg qa ON qa.vec_id = lut.q_id
                         AND qa.bucket = xa.bucket
              WHERE lut.q_id != best.vec_id
              GROUP BY lut.q_id, qa.bucket, best.vec_id)
            SELECT q_id, bucket, vec_id, adc_d2, rank FROM (
              SELECT q_id, bucket, vec_id, adc_d2,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY adc_d2, vec_id) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "eval_compromise": """
            WITH d AS (
                SELECT doc_id,
                       list_filter(string_split(
                           replace(text, chr(10), ' '), ' '),
                           x -> x <> '') AS toks
                FROM documents),
            grams AS (
                SELECT DISTINCT doc_id,
                       array_to_string(toks[pos:pos+4], ' ') AS ngram
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, len(toks) - 4))
                                 AS pos
                      FROM d WHERE len(toks) >= 5)),
            ev AS (
                SELECT doc_id AS eval_id,
                       array_to_string(toks[2:10], ' ') AS text
                FROM d WHERE doc_id % 37 = 5),
            evt AS (
                SELECT eval_id,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS toks
                FROM ev),
            eg AS (
                SELECT DISTINCT eval_id,
                       array_to_string(toks[pos:pos+4], ' ') AS ngram
                FROM (SELECT eval_id, toks,
                             unnest(generate_series(1, len(toks) - 4))
                                 AS pos
                      FROM evt WHERE len(toks) >= 5)),
            gd AS (
                SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs
                FROM grams
                WHERE ngram IN (SELECT ngram FROM eg)
                GROUP BY ngram),
            agg AS (
                SELECT eval_id,
                       CAST(count(*) AS BIGINT) AS total_grams,
                       CAST(sum(CASE WHEN n_docs IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT)
                         AS hit_grams,
                       CAST(coalesce(sum(n_docs), 0) AS BIGINT)
                         AS corpus_doc_grams
                FROM eg LEFT JOIN gd USING (ngram)
                GROUP BY eval_id)
            SELECT eval_id, total_grams, hit_grams,
                   CAST(CASE WHEN total_grams > 0
                        THEN (hit_grams * 1000000) // total_grams
                        ELSE 0 END AS BIGINT) AS hit_ppm,
                   corpus_doc_grams,
                   hit_grams > 0 AS compromised
            FROM agg
        """,
        "ams_tokens": """
            WITH tok AS (
                SELECT t AS key FROM (
                    SELECT unnest(string_split(text, ' ')) AS t
                    FROM documents)
                WHERE t <> ''),
            js(j) AS (VALUES (0), (1), (2), (3), (4)),
            s AS (
                SELECT j, CAST(SUM(CASE WHEN
                    CAST(('0x' || substring(md5(
                        CAST(j AS VARCHAR) || '#' || key), 1, 15))
                         AS BIGINT) % 2 = 1
                    THEN 1 ELSE -1 END) AS BIGINT) AS sj
                FROM tok CROSS JOIN js GROUP BY j),
            est AS (
                SELECT CAST(sj * sj AS BIGINT) AS estimate FROM s
                ORDER BY sj * sj LIMIT 1 OFFSET 2),
            ex AS (
                SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM (
                    SELECT count(*) AS c FROM tok GROUP BY key))
            SELECT f2_exact, estimate FROM ex CROSS JOIN est
        """,
        "cms_tokens": """
            WITH tok AS (
                SELECT t AS key FROM (
                    SELECT unnest(string_split(text, ' ')) AS t
                    FROM documents)
                WHERE t <> ''),
            js(j) AS (VALUES (0), (1), (2)),
            cells AS (
                SELECT key, j AS r,
                       CAST(('0x' || substring(md5(
                           CAST(j AS VARCHAR) || '#' || key), 1, 15))
                            AS BIGINT) % 64 AS c
                FROM tok CROSS JOIN js),
            sk AS (
                SELECT r, c, CAST(count(*) AS BIGINT) AS cnt
                FROM cells GROUP BY r, c),
            probe AS (SELECT DISTINCT key FROM tok),
            pc AS (
                SELECT key, j AS r,
                       CAST(('0x' || substring(md5(
                           CAST(j AS VARCHAR) || '#' || key), 1, 15))
                            AS BIGINT) % 64 AS c
                FROM probe CROSS JOIN js),
            est AS (
                SELECT key, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT)
                           AS est_cnt
                FROM pc LEFT JOIN sk USING (r, c) GROUP BY key),
            exact AS (
                SELECT key, CAST(count(*) AS BIGINT) AS exact_cnt
                FROM tok GROUP BY key)
            SELECT exact.key, exact_cnt, est_cnt,
                   CAST(est_cnt - exact_cnt AS BIGINT) AS over_cnt
            FROM exact JOIN est USING (key)
        """,
        "hll_shingles": """
            WITH d AS (
                SELECT doc_id,
                       list_filter(string_split(
                           replace(text, chr(10), ' '), ' '),
                           x -> x <> '') AS toks
                FROM documents),
            grams AS (
                SELECT array_to_string(toks[pos:pos+2], ' ') AS key
                FROM (SELECT toks,
                             unnest(generate_series(1, len(toks) - 2))
                                 AS pos
                      FROM d WHERE len(toks) >= 3)),
            hs AS (
                SELECT CAST(('0x' || substring(md5(key), 1, 15))
                            AS BIGINT) AS h
                FROM grams),
            rk AS (
                SELECT h % 64 AS bucket,
                       CASE WHEN h // 64 > 0
                         THEN 54 - (length(bin(h // 64)) - 1)
                         ELSE 55 END AS rank
                FROM hs),
            regs AS (
                SELECT bucket, max(rank) AS max_rank
                FROM rk GROUP BY bucket),
            agg AS (
                SELECT CAST(count(*) AS BIGINT) AS registers_set,
                       CAST(sum(CAST(1 AS BIGINT)
                                << (55 - max_rank)) AS BIGINT) AS s
                FROM regs),
            ex AS (
                SELECT CAST(count(DISTINCT key) AS BIGINT)
                         AS exact_distinct
                FROM grams)
            SELECT CAST(64 AS BIGINT) AS n_registers, registers_set,
                   CAST((CAST(709365 AS HUGEINT) * 64 * 64
                         * (CAST(1 AS BIGINT) << 55))
                        // (CAST(1000000 AS HUGEINT)
                            * (s + (64 - registers_set)
                                   * (CAST(1 AS BIGINT) << 55)))
                        AS BIGINT) AS estimate,
                   exact_distinct
            FROM agg, ex
        """,
        "mix_epoch_plan": _EPOCH_PLAN_CTE + """
            SELECT domain, tokens, weight_ppm, requested, alloc,
                   epochs_ppm
            FROM eplan
        """,
        "mix_epochs_out": _EPOCH_PLAN_CTE + """
            , j AS (
              SELECT d.doc_id, c2.domain, eplan.epochs_ppm,
                     CAST(eplan.epochs_ppm // 1000000 AS INT) AS fl,
                     eplan.epochs_ppm % 1000000 AS fr,
                     CAST(('0x' || substring(
                       md5('epoch#' || CAST(d.doc_id AS VARCHAR)),
                       1, 15)) AS BIGINT) % 1000000 AS u
              FROM documents d
              JOIN (SELECT doc_id, source AS domain
                    FROM documents) c2 USING (doc_id)
              JOIN eplan USING (domain)),
            ex AS (
              SELECT doc_id, domain, fl, fr, u,
                     unnest(generate_series(1, fl + 1)) AS epoch
              FROM j)
            SELECT doc_id, domain, CAST(epoch AS INT) AS epoch
            FROM ex WHERE epoch <= fl OR u < fr
        """,
        "dedup_keep_best": f"""
            WITH RECURSIVE t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, len(w) - 1),
                       i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh
              FROM t WHERE len(w) >= 3
            ), sig AS (SELECT doc_id, {_SIG_SELECTS} FROM sh),
            bands AS ({_BANDS_SQL}),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
            ),
            toks AS (
              SELECT doc_id,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents
            ),
            ver AS (
              SELECT doc_a, doc_b
              FROM cand
              JOIN toks ta ON ta.doc_id = cand.doc_a
              JOIN toks tb ON tb.doc_id = cand.doc_b
              WHERE CAST(floor(len(list_intersect(ta.toks, tb.toks))
                    * 1000000.0
                    / len(list_distinct(list_concat(ta.toks, tb.toks))))
                    AS BIGINT) >= 600000
            ),
            edges AS (
              SELECT doc_a AS s, doc_b AS d FROM ver
              UNION
              SELECT doc_b AS s, doc_a AS d FROM ver
            ),
            reach AS (
              SELECT s AS n, d AS m FROM edges
              UNION
              SELECT r.n, e.d FROM reach r JOIN edges e ON r.m = e.s
            ),
            comp AS (
              SELECT n AS doc_id, least(n, min(m)) AS component_id
              FROM reach GROUP BY n
            ),
            qual AS (
              SELECT doc_id,
                     CAST(len(list_distinct(string_split(text, ' ')))
                          AS BIGINT) AS quality
              FROM documents
            ),
            r AS (
              SELECT comp.doc_id, component_id, quality
              FROM comp JOIN qual USING (doc_id)
            ),
            k AS (
              SELECT component_id, doc_id AS keeper_id
              FROM (SELECT doc_id, component_id,
                           row_number() OVER (PARTITION BY component_id
                               ORDER BY quality DESC, doc_id) AS rn
                    FROM r)
              WHERE rn = 1
            )
            SELECT r.doc_id, r.component_id, k.keeper_id,
                   r.doc_id = k.keeper_id AS is_keeper
            FROM r JOIN k USING (component_id)
        """,
        "cdx_index": """
            WITH cap AS (
              SELECT 'http://'
                     || (CASE WHEN doc_id % 2 = 0 THEN 'www.'
                              ELSE '' END)
                     || source || '.test/p/' || CAST(doc_id AS VARCHAR)
                     || (CASE WHEN doc_id % 3 = 0 THEN '?a=1'
                              ELSE '' END) AS url,
                     CAST(20260801000000 + p + doc_id * 10 AS BIGINT)
                       AS ts,
                     md5(coalesce(text, '') || '#' ||
                         CAST(((doc_id % 5) * p) // 4 AS VARCHAR))
                       AS digest
              FROM documents
              CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS p)),
            s AS (
              SELECT url, ts, digest,
                     regexp_replace(lower(url),
                         '^[a-z][a-z0-9+.-]*://', '') AS rest
              FROM cap),
            s2 AS (
              SELECT url, ts, digest, rest,
                     regexp_replace(regexp_replace(
                         regexp_extract(rest, '^([^/?#]*)', 1),
                         ':[0-9]+$', ''), '^www\\.', '') AS host,
                     regexp_replace(regexp_replace(rest,
                         '^[^/?#]*', ''), '#.*$', '') AS pathq
              FROM s),
            s3 AS (
              SELECT url, ts, digest,
                     array_to_string(list_reverse(
                         string_split(host, '.')), ',')
                     || ')'
                     || (CASE WHEN pathq = '' THEN '/' ELSE pathq END)
                       AS surt
              FROM s2)
            SELECT surt, ts, url, digest,
                   row_number() OVER (PARTITION BY surt, digest
                                      ORDER BY ts, url) > 1 AS revisit
            FROM s3
        """,
        "graph_trustrank": _trustrank_sql(),
        "graph_ppr": _ppr_sql(),
        "graph_landmark_bfs": _landmark_sql(final="bfs"),
        "graph_dist_est": _landmark_sql(final="est"),
        "graph_opic": _opic_sql(),
        "graph_spam_mass": _spam_mass_sql(),
        "mix_temperature": _mix_temperature_sql(),
        "bpe_merges": _bpe_sql(),
        "tok_unigram_vocab": _unigram_sql("vocab"),
        "tok_unigram_segment": _unigram_sql("segment"),
        "tok_unigram_em": _unigram_sql("em"),
        "canonical_resolve": """
            -- closed-form expectation of the synthesized canonical
            -- graph: 1-hop for id%3==1, composed 2-hop for id%3==2,
            -- planted 2-cycles quarantined at the 2^6 doubling horizon
            WITH ids AS (SELECT doc_id AS id FROM documents)
            SELECT 'http://c.test/p' || CAST(id AS VARCHAR) AS src,
                   'http://c.test/p' || CAST(id - 1 AS VARCHAR)
                       AS final_dst,
                   CAST(1 AS INT) AS hops, TRUE AS resolved
            FROM ids WHERE id % 3 = 1
            UNION ALL
            SELECT 'http://c.test/p' || CAST(id AS VARCHAR),
                   'http://c.test/p' || CAST(id - 2 AS VARCHAR),
                   CAST(2 AS INT), TRUE
            FROM ids WHERE id % 3 = 2
            UNION ALL
            SELECT 'http://c.test/q' || CAST(id AS VARCHAR) || 'a',
                   'http://c.test/q' || CAST(id AS VARCHAR) || 'a',
                   CAST(64 AS INT), FALSE
            FROM ids WHERE id % 21 = 0
            UNION ALL
            SELECT 'http://c.test/q' || CAST(id AS VARCHAR) || 'b',
                   'http://c.test/q' || CAST(id AS VARCHAR) || 'b',
                   CAST(64 AS INT), FALSE
            FROM ids WHERE id % 21 = 0
        """,
        "graph_cocite": f"""
            WITH {_EDGES_SQL},
            he AS (
              SELECT DISTINCT ds.source AS src_host, dd.source AS dst_host
              FROM edges e
              JOIN documents ds ON ds.doc_id = e.src
              JOIN documents dd ON dd.doc_id = e.dst),
            deg AS (SELECT src_host, count(*) AS od FROM he
                    GROUP BY src_host),
            kept AS (SELECT he.* FROM he JOIN deg USING (src_host)
                     WHERE deg.od <= 8),
            pairs AS (
              SELECT a.dst_host AS host_a, b.dst_host AS host_b,
                     CAST(count(*) AS BIGINT) AS cocite
              FROM kept a JOIN kept b ON a.src_host = b.src_host
               AND a.dst_host < b.dst_host
              GROUP BY 1, 2),
            ind AS (SELECT dst_host AS h, CAST(count(*) AS BIGINT) AS ind
                    FROM kept GROUP BY dst_host)
            SELECT host_a, host_b, cocite,
                   ia.ind AS in_a, ib.ind AS in_b,
                   CAST((cocite * 1000000) // least(ia.ind, ib.ind)
                        AS BIGINT) AS sim_ppm
            FROM pairs
            JOIN ind ia ON ia.h = pairs.host_a
            JOIN ind ib ON ib.h = pairs.host_b
        """,
        "graph_communities": f"""
            WITH {_EDGES_SQL},
            {_LPA4_SQL},
            sz AS (SELECT label,
                          CAST(count(*) AS BIGINT) AS community_size
                   FROM l4 GROUP BY label)
            SELECT l4.node, l4.label AS community, sz.community_size
            FROM l4 JOIN sz USING (label)
        """,
        "graph_modularity": f"""
            WITH {_EDGES_SQL},
            {_LPA4_SQL},
            tagged AS (SELECT u.src, u.dst, ls.label AS c_src,
                              ld.label AS c_dst
                       FROM und u
                       JOIN l4 ls ON ls.node = u.src
                       JOIN l4 ld ON ld.node = u.dst),
            per AS (SELECT c_src AS community,
                           CAST(count(*) AS BIGINT) AS volume,
                           CAST(sum(CASE WHEN c_src = c_dst
                                         THEN 1 ELSE 0 END) AS BIGINT)
                               AS internal_pairs
                    FROM tagged GROUP BY c_src),
            csz AS (SELECT label AS community,
                           CAST(count(*) AS BIGINT) AS n_nodes
                    FROM l4 GROUP BY label),
            tot AS (SELECT CAST(coalesce(sum(volume), 0) AS BIGINT)
                               AS m2 FROM per),
            j AS (SELECT s.community, s.n_nodes,
                         CAST(coalesce(p.volume, 0) AS BIGINT)
                             AS volume,
                         CAST(coalesce(p.internal_pairs, 0) AS BIGINT)
                             AS internal_pairs,
                         CAST(coalesce(p.volume, 0)
                              - coalesce(p.internal_pairs, 0)
                              AS BIGINT) AS cut_pairs,
                         t.m2,
                         CAST(coalesce(p.internal_pairs, 0) AS HUGEINT)
                             * t.m2
                         - CAST(coalesce(p.volume, 0) AS HUGEINT)
                             * coalesce(p.volume, 0) AS qn
                  FROM csz s LEFT JOIN per p USING (community)
                  CROSS JOIN tot t)
            SELECT community, n_nodes, volume, internal_pairs,
                   cut_pairs,
                   CASE WHEN least(volume, m2 - volume) > 0
                        THEN CAST(1000000 * cut_pairs
                                  // least(volume, m2 - volume)
                                  AS BIGINT)
                        ELSE NULL END AS conductance_ppm,
                   CASE WHEN m2 = 0 THEN NULL
                        WHEN qn >= 0 THEN CAST(
                            (1000000 * qn)
                            // (CAST(m2 AS HUGEINT) * m2) AS BIGINT)
                        ELSE CAST(-((1000000 * (-qn))
                            // (CAST(m2 AS HUGEINT) * m2)) AS BIGINT)
                   END AS q_ppm
            FROM j
        """,
        "density_labels": """
            WITH lines0 AS (
                SELECT doc_id,
                       unnest(generate_series(
                           1, len(string_split(text, chr(10))))) - 1
                           AS line_no,
                       unnest(string_split(text, chr(10))) AS line
                FROM documents),
            lines AS (
                SELECT doc_id, line_no, line,
                       len(list_filter(string_split(line, ' '),
                                       x -> x <> '')) AS wc
                FROM lines0),
            ctx AS (
                SELECT doc_id, line_no, line, wc,
                       COALESCE(lag(wc) OVER (
                           PARTITION BY doc_id ORDER BY line_no), 0)
                           AS prev_wc,
                       COALESCE(lead(wc) OVER (
                           PARTITION BY doc_id ORDER BY line_no), 0)
                           AS next_wc
                FROM lines)
            SELECT doc_id, line_no, line, wc,
                   CASE WHEN wc >= 10
                             OR (wc >= 4 AND (prev_wc >= 10
                                              OR next_wc >= 10))
                        THEN 'content' ELSE 'boilerplate' END AS label
            FROM ctx
        """,
        "density_clean": """
            WITH lines0 AS (
                SELECT doc_id,
                       unnest(generate_series(
                           1, len(string_split(text, chr(10))))) - 1
                           AS line_no,
                       unnest(string_split(text, chr(10))) AS line
                FROM documents),
            lines AS (
                SELECT doc_id, line_no, line,
                       len(list_filter(string_split(line, ' '),
                                       x -> x <> '')) AS wc
                FROM lines0),
            ctx AS (
                SELECT doc_id, line_no, line, wc,
                       COALESCE(lag(wc) OVER (
                           PARTITION BY doc_id ORDER BY line_no), 0)
                           AS prev_wc,
                       COALESCE(lead(wc) OVER (
                           PARTITION BY doc_id ORDER BY line_no), 0)
                           AS next_wc
                FROM lines),
            lab AS (
                SELECT doc_id, line_no, line,
                       (wc >= 10 OR (wc >= 4 AND (prev_wc >= 10
                                                  OR next_wc >= 10)))
                           AS is_content
                FROM ctx)
            SELECT doc_id,
                   COALESCE(string_agg(line, chr(10) ORDER BY line_no)
                       FILTER (WHERE is_content), '') AS text_main,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(COALESCE(sum(CASE WHEN is_content THEN 1
                                          ELSE 0 END), 0) AS BIGINT)
                       AS n_kept,
                   CAST((COALESCE(sum(CASE WHEN is_content THEN 1
                                           ELSE 0 END), 0) * 1000000)
                        // count(*) AS BIGINT) AS kept_ppm
            FROM lab GROUP BY doc_id
        """,
        "graph_entropy": f"""
            WITH {_EDGES_SQL},
            he AS (
              SELECT ds.source AS src_host, dd.source AS dst_host
              FROM edges e
              JOIN documents ds ON ds.doc_id = e.src
              JOIN documents dd ON dd.doc_id = e.dst),
            pc AS (
              SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS c
              FROM he GROUP BY 1, 2),
            tt AS (
              SELECT *, CAST(sum(c) OVER (PARTITION BY src_host)
                             AS BIGINT) AS t
              FROM pc)
            SELECT src_host, CAST(max(t) AS BIGINT) AS out_links,
                   CAST(count(*) AS BIGINT) AS dst_hosts,
                   CAST(sum(c * 1000 * (length(bin(t // c)) - 1))
                        // max(t) AS BIGINT) AS entropy_millibits
            FROM tt GROUP BY src_host
        """,
        "chunk_overlap": """
            WITH d AS (
                SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   x -> x <> '') AS toks
                FROM documents),
            n AS (SELECT doc_id, toks, len(toks) AS nt
                  FROM d WHERE len(toks) > 0),
            c AS (SELECT doc_id, toks, nt,
                         unnest(generate_series(0, (nt - 1) // 24))
                             AS chunk_idx
                  FROM n)
            SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                   CAST(chunk_idx * 24 AS BIGINT) AS tok_start,
                   CAST(least(32, nt - chunk_idx * 24) AS BIGINT)
                       AS n_tok,
                   nt - chunk_idx * 24 >= 32 AS is_full,
                   array_to_string(
                       toks[chunk_idx * 24 + 1 :
                            least(chunk_idx * 24 + 32, nt)], ' ')
                       AS chunk
            FROM c
        """,
        "trap_templates": """
            WITH u AS (
              SELECT 'http://' || source || '.test'
                     || (CASE WHEN doc_id % 4 = 0 THEN
                           '/cal/' || CAST(doc_id % 12 AS VARCHAR)
                           || '/' || CAST(doc_id % 28 AS VARCHAR)
                         ELSE '/page/' || CAST(doc_id AS VARCHAR)
                         END)
                     || (CASE WHEN doc_id % 3 = 0 THEN
                           '?s=' || CAST(doc_id AS VARCHAR)
                         ELSE '' END) AS url,
                     source || '.test' AS host
              FROM documents),
            t AS (
              SELECT host,
                     regexp_replace(
                         regexp_extract(url,
                             '^[a-z][a-z0-9+.-]*://[^/?#]*([^#]*)', 1),
                         '[0-9]+', '#', 'g') AS template
              FROM u),
            per AS (
              SELECT host, template, count(*) AS n_urls
              FROM t GROUP BY host, template),
            tot AS (
              SELECT *,
                     sum(n_urls) OVER (PARTITION BY host) AS host_urls
              FROM per)
            SELECT host, template,
                   CAST(n_urls AS BIGINT) AS n_urls,
                   CAST(host_urls AS BIGINT) AS host_urls,
                   CAST(floor(n_urls * 1000000 / host_urls) AS BIGINT)
                     AS share_ppm,
                   n_urls >= 10
                   AND floor(n_urls * 1000000 / host_urls) >= 200000
                     AS explosive
            FROM tot
        """,
        # divisor pairs of n_perms=16 as zipped unnests; powers via
        # list_reduce over repeated factors (first step exact, so it
        # equals the Spark side's 1e6-seeded aggregate)
        "idx_tiers": """
            WITH d AS (
              SELECT doc_id,
                     CAST(len(coalesce(text, '')) AS BIGINT) AS score,
                     CAST(len(coalesce(text, '')) + 100 AS BIGINT)
                       AS cost
              FROM documents),
            c AS (
              SELECT doc_id, score, cost,
                     CAST(sum(cost) OVER (ORDER BY score DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS BIGINT) AS cum_cost
              FROM d)
            SELECT doc_id, score, cost, cum_cost,
                   CAST(CASE WHEN cum_cost <= 100000 THEN 0
                             WHEN cum_cost <= 1100000 THEN 1
                             ELSE 2 END AS BIGINT) AS tier
            FROM c
        """,
        # Neyman shares: exact-isqrt idiom (double estimate, +/-1
        # correction) on the HUGEINT radicand; largest-remainder seats
        "sample_neyman": """
            WITH sv AS (
              SELECT source AS "group",
                     CAST(len(coalesce(text, '')) AS BIGINT) AS v
              FROM documents),
            ga AS (
              SELECT "group", CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(v) AS BIGINT) AS s1,
                     CAST(sum(v * v) AS BIGINT) AS ss
              FROM sv GROUP BY "group"),
            rad AS (
              SELECT "group", n_docs,
                     n_docs * ss - s1 * s1 AS r0,
                     CAST(floor(sqrt(CAST(n_docs * ss - s1 * s1
                                          AS DOUBLE))) AS BIGINT) AS e
              FROM ga),
            wc AS (
              SELECT "group", n_docs,
                     CASE WHEN (e + 1) * (e + 1) <= r0 THEN e + 1
                          WHEN e * e > r0 THEN e - 1
                          ELSE e END AS w
              FROM rad),
            t AS (SELECT CAST(sum(w) AS BIGINT) AS tw,
                         CAST(sum(n_docs) AS BIGINT) AS tn FROM wc),
            j AS (
              SELECT wc."group", wc.n_docs, wc.w,
                     CASE WHEN t.tw > 0 THEN wc.w
                          ELSE wc.n_docs END AS wsel,
                     CASE WHEN t.tw > 0 THEN t.tw ELSE t.tn END AS wtot
              FROM wc, t),
            fl AS (
              SELECT "group", n_docs, w,
                     10000 * wsel // wtot AS f,
                     10000 * wsel % wtot AS rem
              FROM j),
            rk AS (
              SELECT *,
                     row_number() OVER (ORDER BY rem DESC, "group")
                       AS r,
                     (SELECT 10000 - sum(f) FROM fl) AS lft
              FROM fl)
            SELECT "group", n_docs, CAST(w AS BIGINT) AS w,
                   CAST(f + CASE WHEN r <= lft THEN 1 ELSE 0 END
                        AS BIGINT) AS alloc
            FROM rk
        """,
        # exact Pearson: same HUGEINT power sums + corrected-isqrt +
        # sign-split floor as graph_assortativity's oracle
        "depth_quality_corr": """
            WITH d AS (
              SELECT CAST(doc_id % 7 AS BIGINT) AS x,
                     CAST(len(list_filter(
                       string_split(coalesce(text, ''), ' '),
                       w -> w <> '')) AS BIGINT) AS y
              FROM documents),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                     sum(x::HUGEINT * y) AS sxy,
                     sum(x::HUGEINT * x) AS sxx,
                     sum(y::HUGEINT * y) AS syy
              FROM d),
            v AS (
              SELECT n,
                     CAST(n * sxx - sx * sx AS BIGINT) AS vx,
                     CAST(n * syy - sy * sy AS BIGINT) AS vy,
                     n * sxy - sx * sy AS num
              FROM s),
            e AS (
              SELECT *,
                     CAST(floor(sqrt(CAST(vx AS DOUBLE))) AS BIGINT)
                       AS e0,
                     CAST(floor(sqrt(CAST(vy AS DOUBLE))) AS BIGINT)
                       AS e1
              FROM v),
            w AS (
              SELECT n, num,
                     CASE WHEN vx = 0 THEN 0
                          WHEN (e0 + 1) * (e0 + 1) <= vx THEN e0 + 1
                          WHEN e0 * e0 > vx THEN e0 - 1
                          ELSE e0 END AS rx,
                     CASE WHEN vy = 0 THEN 0
                          WHEN (e1 + 1) * (e1 + 1) <= vy THEN e1 + 1
                          WHEN e1 * e1 > vy THEN e1 - 1
                          ELSE e1 END AS ry
              FROM e)
            SELECT n,
                   CASE WHEN rx * ry = 0 THEN CAST(0 AS BIGINT)
                        WHEN num >= 0 THEN
                          least(CAST((1000000 * num)
                                // (rx::HUGEINT * ry) AS BIGINT),
                                1000000)
                        ELSE greatest(-CAST((1000000 * (-num))
                                   // (rx::HUGEINT * ry) AS BIGINT),
                                      -1000000)
                   END AS r_ppm
            FROM w
        """,
        "url_dates": """
            WITH u AS (
              SELECT 'http://' || source || '.test' ||
                CASE WHEN doc_id % 5 = 0 THEN
                       '/' || CAST(2000 + doc_id % 30 AS VARCHAR)
                       || '/' || CAST(doc_id % 15 AS VARCHAR)
                       || '/' || CAST(doc_id % 35 AS VARCHAR) || '/x'
                     WHEN doc_id % 5 = 1 THEN
                       '/blog/p' || CAST(doc_id AS VARCHAR)
                     ELSE '/d/' || CAST(doc_id AS VARCHAR) END AS url
              FROM documents),
            e AS (
              SELECT url,
                regexp_extract(regexp_extract(url,
                  '^[a-z][a-z0-9+.-]*://[^/]+([^?#]*)', 1),
                  '/((?:19|20)[0-9]{2})/([0-9]{1,2})/([0-9]{1,2})(?:/|$)',
                  1) AS ys,
                regexp_extract(regexp_extract(url,
                  '^[a-z][a-z0-9+.-]*://[^/]+([^?#]*)', 1),
                  '/((?:19|20)[0-9]{2})/([0-9]{1,2})/([0-9]{1,2})(?:/|$)',
                  2) AS ms,
                regexp_extract(regexp_extract(url,
                  '^[a-z][a-z0-9+.-]*://[^/]+([^?#]*)', 1),
                  '/((?:19|20)[0-9]{2})/([0-9]{1,2})/([0-9]{1,2})(?:/|$)',
                  3) AS ds
              FROM u)
            SELECT url,
                   CAST(nullif(ys, '') AS BIGINT) AS y,
                   CAST(nullif(ms, '') AS BIGINT) AS m,
                   CAST(nullif(ds, '') AS BIGINT) AS d,
                   CASE WHEN nullif(ys, '') IS NULL THEN false
                        ELSE CAST(ms AS BIGINT) BETWEEN 1 AND 12
                         AND CAST(ds AS BIGINT) BETWEEN 1 AND 31
                   END AS valid
            FROM e
        """,
        "url_pagination": """
            WITH u AS (
              SELECT 'http://' || source || '.test' ||
                CASE WHEN doc_id % 3 = 0 THEN
                       '/list' || CAST(doc_id % 4 AS VARCHAR)
                       || '?page=' || CAST(doc_id % 7 AS VARCHAR)
                     WHEN doc_id % 3 = 1 THEN
                       '/arch/page/' || CAST(doc_id % 5 AS VARCHAR)
                       || '/'
                     ELSE '/p' || CAST(doc_id AS VARCHAR) END AS url
              FROM documents),
            e AS (
              SELECT
                regexp_replace(regexp_replace(url,
                  '[?&]page=([0-9]+)', ''),
                  '/page/([0-9]+)(/|$)', '/') AS base,
                CAST(coalesce(
                  nullif(regexp_extract(url,
                    '[?&]page=([0-9]+)', 1), ''),
                  nullif(regexp_extract(url,
                    '/page/([0-9]+)(?:/|$)', 1), '')) AS BIGINT)
                  AS page
              FROM u)
            SELECT base,
                   CAST(count(DISTINCT page) AS BIGINT) AS n_pages,
                   CAST(min(page) AS BIGINT) AS min_page,
                   CAST(max(page) AS BIGINT) AS max_page,
                   (max(page) - min(page) + 1 = count(DISTINCT page))
                     AS contiguous
            FROM e WHERE page IS NOT NULL
            GROUP BY base
        """,
        "dedup_lsh_plan": """
            WITH br AS (
              SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS b,
                     CAST(unnest([16, 8, 4, 2, 1]) AS BIGINT) AS r),
            g AS (
              SELECT CAST(unnest(range(0, 1000001, 50000)) AS BIGINT)
                AS s_ppm),
            x AS (
              SELECT b, r, s_ppm,
                     list_reduce(
                       list_transform(range(1, r + 1), i -> s_ppm),
                       (a, c) -> a * c // 1000000) AS xx
              FROM br, g),
            p AS (
              SELECT b, r, s_ppm,
                     CAST(1000000 - list_reduce(
                       list_transform(range(1, b + 1),
                                      i -> 1000000 - xx),
                       (a, c) -> a * c // 1000000) AS BIGINT) AS p_ppm
              FROM x)
            SELECT b, r, s_ppm, p_ppm,
                   (p_ppm >= 500000 AND
                    coalesce(lag(p_ppm) OVER (PARTITION BY b, r
                      ORDER BY s_ppm), -1) < 500000) AS crossover
            FROM p
        """,
        "fetch_backoff": """
            WITH att AS (
              SELECT source AS host,
                     CAST((doc_id * 61) % 40000 AS BIGINT) AS ts_ms,
                     (doc_id % 4) <> 0 AS ok
              FROM documents),
            r AS (
              SELECT host, ts_ms, ok,
                     row_number() OVER (PARTITION BY host
                       ORDER BY ts_ms, ok) AS rn
              FROM att),
            g AS (
              SELECT host,
                     CAST(count(*) AS BIGINT) AS n_attempts,
                     CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_failures,
                     CAST(max(rn) - coalesce(
                          max(CASE WHEN ok THEN rn END), 0)
                          AS BIGINT) AS fail_streak,
                     CAST(max(ts_ms) AS BIGINT) AS last_ts_ms
              FROM r GROUP BY host)
            SELECT host, n_attempts, n_failures, fail_streak,
                   last_ts_ms,
                   CAST(last_ts_ms + 1000 *
                        (1::BIGINT << least(fail_streak, 5))
                        AS BIGINT) AS next_attempt_ms
            FROM g
        """,
        "politeness_audit": """
            WITH f AS (
              SELECT source AS host,
                     CAST((doc_id * 137) % 50000 AS BIGINT) AS ts_ms,
                     'http://' || source || '.test/p'
                       || CAST(doc_id % 20 AS VARCHAR) AS url
              FROM documents),
            dl AS (
              SELECT DISTINCT source AS host,
                     CAST(200 + (ascii(substr(source, 1, 1)) % 5) * 250
                          AS BIGINT) AS delay_ms
              FROM documents),
            g AS (
              SELECT f.host, f.ts_ms,
                     CASE WHEN regexp_extract(f.url,
                            '^[a-z][a-z0-9+.-]*://[^/]+([^?]*)', 1)
                            LIKE '/p1%'
                          OR regexp_extract(f.url,
                            '^[a-z][a-z0-9+.-]*://[^/]+([^?]*)', 1)
                            LIKE '/q%'
                       THEN 1 ELSE 0 END AS dis,
                     dl.delay_ms,
                     f.ts_ms - lag(f.ts_ms) OVER (PARTITION BY f.host
                       ORDER BY f.ts_ms, f.url) AS gap
              FROM f JOIN dl USING (host))
            SELECT host,
                   CAST(count(*) AS BIGINT) AS n_fetches,
                   CAST(sum(dis) AS BIGINT) AS n_disallowed,
                   CAST(min(delay_ms) AS BIGINT) AS delay_ms,
                   CAST(min(gap) AS BIGINT) AS min_gap_ms,
                   CAST(sum(CASE WHEN gap < delay_ms THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_gap_violations,
                   (sum(dis) = 0 AND
                    sum(CASE WHEN gap < delay_ms THEN 1 ELSE 0 END) = 0)
                     AS compliant
            FROM g GROUP BY host
        """,
        "politeness_timeline": """
            WITH s AS (
              SELECT doc_id AS url_id, source AS host, doc_id AS d
              FROM documents),
            del AS (
              SELECT host, CAST(200 + h % 2000 AS BIGINT) AS delay_ms
              FROM (SELECT DISTINCT source AS host,
                           CAST(('0x' || substring(md5(source), 1, 15))
                                AS BIGINT) AS h
                    FROM documents)
              WHERE h % 3 <> 0),
            r AS (
              SELECT url_id, s.host,
                     row_number() OVER (PARTITION BY s.host
                                        ORDER BY d) AS slot,
                     delay_ms
              FROM s LEFT JOIN del USING (host))
            SELECT url_id, host, CAST(slot AS BIGINT) AS slot,
                   CAST(1000 + (slot - 1) * coalesce(delay_ms, 1000)
                        AS BIGINT) AS fetch_at_ms
            FROM r
        """,
        "c4_clean": """
            WITH d AS (
              SELECT doc_id,
                     replace(text, ' a ', '.' || chr(10)) AS text
              FROM documents),
            l AS (
              SELECT doc_id, text,
                     string_split(text, chr(10)) AS lines,
                     list_filter(string_split(text, chr(10)),
                       x -> right(trim(x), 1) IN ('.', '!', '?', '"')
                            AND len(string_split(trim(x), ' ')) >= 4
                            AND NOT contains(lower(x), 'spark')) AS kept
              FROM d)
            SELECT doc_id,
                   CASE WHEN contains(lower(text), 'big table')
                          THEN 'blocklist'
                        WHEN contains(text, '{') THEN 'brace'
                        WHEN len(kept) < 1 THEN 'short'
                        ELSE 'keep' END AS reason,
                   CAST(len(lines) AS BIGINT) AS total_lines,
                   CAST(len(kept) AS BIGINT) AS kept_lines,
                   coalesce(array_to_string(kept, chr(10)), '')
                     AS clean_text
            FROM l
        """,
        "c4_stats": """
            WITH d AS (
              SELECT doc_id,
                     replace(text, ' a ', '.' || chr(10)) AS text
              FROM documents),
            l AS (
              SELECT doc_id, text,
                     string_split(text, chr(10)) AS lines,
                     list_filter(string_split(text, chr(10)),
                       x -> right(trim(x), 1) IN ('.', '!', '?', '"')
                            AND len(string_split(trim(x), ' ')) >= 4
                            AND NOT contains(lower(x), 'spark')) AS kept
              FROM d),
            dec AS (
              SELECT CASE WHEN contains(lower(text), 'big table')
                            THEN 'blocklist'
                          WHEN contains(text, '{') THEN 'brace'
                          WHEN len(kept) < 1 THEN 'short'
                          ELSE 'keep' END AS reason,
                     len(lines) AS total_lines, len(kept) AS kept_lines
              FROM l)
            SELECT reason, CAST(count(*) AS BIGINT) AS docs,
                   CAST(sum(total_lines) AS BIGINT) AS total_lines,
                   CAST(sum(kept_lines) AS BIGINT) AS kept_lines
            FROM dec GROUP BY reason
        """,
        "mirror_pairs": _MIRROR_SQL + """
            SELECT host_a, host_b, shared, size_a, size_b, score_ppm,
                   (score_ppm >= 500000 AND shared >= 2) AS is_mirror
            FROM scored
        """,
        "mirror_replicas": _MIRROR_SQL + """
            SELECT host_b AS host, min(host_a) AS canonical_host
            FROM scored
            WHERE score_ppm >= 500000 AND shared >= 2
            GROUP BY host_b
        """,
        "lm_surprisal": _LM_CTE + """
            SELECT doc_id, n_tokens, sum_bits, mean_surprisal_cb
            FROM scored
        """,
        "lm_bigram_model": _BIGRAM_CTE + """
            SELECT w1, w2, cnt FROM c2 WHERE cnt >= 2
        """,
        "lm_bigram_surprisal": _BIGRAM_CTE + """
            , c1 AS (
              SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx_cnt
              FROM c2 GROUP BY w1),
            v AS (
              SELECT CAST(count(DISTINCT t) AS BIGINT) AS vocab FROM (
                SELECT unnest(string_split(text, ' ')) AS t
                FROM documents) WHERE t <> ''),
            bits AS (
              SELECT p.doc_id,
                     length(bin((c1.ctx_cnt + v.vocab)
                                // (c2.cnt + 1))) - 1 AS b
              FROM pairs p
              JOIN c2 USING (w1, w2)
              JOIN c1 USING (w1), v)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(b) AS BIGINT) AS sum_bits,
                   CAST((sum(b) * 100) // count(*) AS BIGINT)
                       AS mean_surprisal_cb
            FROM bits GROUP BY doc_id
        """,
        "lm_buckets": _LM_CTE + """
            , dist AS (
              SELECT mean_surprisal_cb, count(*) AS nv
              FROM scored GROUP BY mean_surprisal_cb),
            ranked AS (
              SELECT mean_surprisal_cb,
                     coalesce(sum(nv) OVER (
                       ORDER BY mean_surprisal_cb
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS below,
                     sum(nv) OVER () AS n
              FROM dist)
            SELECT doc_id, mean_surprisal_cb,
                   CAST(1 + (below * 3) // n AS INT) AS bucket
            FROM scored JOIN ranked USING (mean_surprisal_cb)
        """,
        "search_bm25": _BM25_SQL,
        "url_site": _psl_sql()
        + "SELECT host, public_suffix, registrable FROM split",
        "url_site_rollup": _psl_sql() + """
            SELECT registrable, CAST(count(*) AS BIGINT) AS n_hosts
            FROM split WHERE registrable IS NOT NULL
            GROUP BY registrable
        """,
        "search_qld": """
            WITH d AS (
              SELECT doc_id,
                     coalesce(text, '')
                     || CASE WHEN doc_id % 7 = 0
                          THEN repeat(' needle',
                                      CAST(1 + doc_id % 3 AS INT))
                          ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN ' haystack'
                          ELSE '' END AS text
              FROM documents),
            tok AS (
              SELECT doc_id, t AS term FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM d)
              WHERE t <> ''),
            tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, term),
            dl AS (
              SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
              FROM tf GROUP BY doc_id),
            stats AS (
              SELECT CAST(sum(dl) AS BIGINT) AS c_tokens FROM dl),
            tfq AS (
              SELECT * FROM tf
              WHERE term IN ('needle', 'haystack', 'scan')),
            cfq AS (
              SELECT term, CAST(sum(tf) AS BIGINT) AS cf
              FROM tfq GROUP BY term),
            nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM cfq),
            w AS (
              SELECT doc_id,
                     length(bin(CAST(
                       ((tf::HUGEINT * c_tokens + 2000::HUGEINT * cf)
                        * (tf::HUGEINT * c_tokens + 2000::HUGEINT * cf))
                       // ((2000::HUGEINT * cf) * (2000::HUGEINT * cf))
                       AS BIGINT))) - 1 AS w_hb
              FROM tfq JOIN cfq USING (term), stats),
            g AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                     sum(w_hb) AS sum_w
              FROM w GROUP BY doc_id)
            SELECT doc_id, n_terms,
                   CAST(sum_w - n_q * (length(bin(CAST(
                     ((dl + 2000)::HUGEINT * (dl + 2000))
                     // (2000 * 2000) AS BIGINT))) - 1)
                   AS BIGINT) AS score_hb
            FROM g JOIN dl USING (doc_id), nq
            ORDER BY score_hb DESC, doc_id LIMIT 25
        """,
        "search_runs": _RUNS_CTE
        + "SELECT query_id, doc_id, rank, score_fp FROM runk",
        "search_nqc": _RUNS_CTE + """
            , ng AS (
              SELECT query_id, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(score_fp) AS BIGINT) AS s,
                     sum(score_fp::HUGEINT * score_fp) AS ss
              FROM runk GROUP BY query_id),
            nm AS (SELECT *, CAST(s // n AS BIGINT) AS mean_fp
                   FROM ng),
            nv AS (
              SELECT query_id, n, mean_fp,
                     CAST((ss - 2 * mean_fp::HUGEINT * s
                           + n::HUGEINT * mean_fp * mean_fp) // n
                          AS BIGINT) AS var_fp
              FROM nm),
            ns AS (
              SELECT *, CAST(floor(sqrt(CAST(var_fp AS DOUBLE)))
                             AS BIGINT) AS s0
              FROM nv),
            nr AS (
              SELECT query_id, n, mean_fp, var_fp,
                     CASE WHEN var_fp = 0 THEN 0::HUGEINT
                          WHEN (s0 + 1)::HUGEINT * (s0 + 1)
                            <= var_fp::HUGEINT THEN s0 + 1
                          WHEN s0::HUGEINT * s0 > var_fp::HUGEINT
                            THEN s0 - 1
                          ELSE s0 END AS r
              FROM ns)
            SELECT query_id, n, mean_fp, var_fp,
                   CAST(1000 * r // greatest(mean_fp, 1) AS BIGINT)
                     AS nqc_milli
            FROM nr
        """,
        # MMR over runk: same greedy rounds unrolled; toks from the
        # planted corpus d; empty-vs-empty Jaccard defined as 1e6
        "search_mmr": _RUNS_CTE + """
            , mtoks AS (
              SELECT doc_id, list_distinct(list_filter(
                       string_split(text, ' '), x -> x <> ''))
                       AS toks
              FROM d),
            mbase AS (
              SELECT r.query_id, r.doc_id,
                     CASE WHEN mx <= 0 THEN CAST(0 AS BIGINT)
                          ELSE CAST(1000000 * score_fp // mx
                               AS BIGINT) END AS rel_ppm,
                     toks
              FROM (SELECT query_id, doc_id, score_fp,
                           max(score_fp) OVER (PARTITION BY query_id)
                             AS mx
                    FROM runk) r
              JOIN mtoks USING (doc_id)),
            p1 AS (
              SELECT query_id, CAST(1 AS BIGINT) AS rnk, doc_id,
                     rel_ppm AS mmr_ppm
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY rel_ppm DESC, doc_id) AS rn
                    FROM mbase)
              WHERE rn = 1),
            selu1 AS (SELECT query_id, doc_id FROM p1),
            st1 AS (
              SELECT b.query_id, b.toks AS sel_toks
              FROM mbase b JOIN selu1 USING (query_id, doc_id)),
            cand2 AS (
              SELECT b.* FROM mbase b
              WHERE NOT EXISTS (SELECT 1 FROM selu1 s
                WHERE s.query_id = b.query_id
                  AND s.doc_id = b.doc_id)),
            sc2 AS (
              SELECT query_id, doc_id, max(rel_ppm) AS rel_ppm,
                     max(jacc) AS mj
              FROM (
                SELECT c.query_id, c.doc_id, c.rel_ppm,
                       CASE WHEN CAST(len(c.toks) + len(t.sel_toks)
                              - len(list_intersect(c.toks,
                                t.sel_toks)) AS BIGINT) = 0
                            THEN CAST(1000000 AS BIGINT)
                            ELSE CAST(1000000 * len(list_intersect(
                              c.toks, t.sel_toks))
                              // (len(c.toks) + len(t.sel_toks)
                                  - len(list_intersect(c.toks,
                                    t.sel_toks))) AS BIGINT) END
                         AS jacc
                FROM cand2 c JOIN st1 t USING (query_id))
              GROUP BY query_id, doc_id),
            p2 AS (
              SELECT query_id, CAST(2 AS BIGINT) AS rnk, doc_id,
                     CAST(rel_ppm - mj AS BIGINT) AS mmr_ppm
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY rel_ppm - mj DESC, doc_id) AS rn
                    FROM sc2)
              WHERE rn = 1),
            selu2 AS (
              SELECT query_id, doc_id FROM selu1
              UNION ALL SELECT query_id, doc_id FROM p2),
            st2 AS (
              SELECT b.query_id, b.toks AS sel_toks
              FROM mbase b JOIN selu2 USING (query_id, doc_id)),
            cand3 AS (
              SELECT b.* FROM mbase b
              WHERE NOT EXISTS (SELECT 1 FROM selu2 s
                WHERE s.query_id = b.query_id
                  AND s.doc_id = b.doc_id)),
            sc3 AS (
              SELECT query_id, doc_id, max(rel_ppm) AS rel_ppm,
                     max(jacc) AS mj
              FROM (
                SELECT c.query_id, c.doc_id, c.rel_ppm,
                       CASE WHEN CAST(len(c.toks) + len(t.sel_toks)
                              - len(list_intersect(c.toks,
                                t.sel_toks)) AS BIGINT) = 0
                            THEN CAST(1000000 AS BIGINT)
                            ELSE CAST(1000000 * len(list_intersect(
                              c.toks, t.sel_toks))
                              // (len(c.toks) + len(t.sel_toks)
                                  - len(list_intersect(c.toks,
                                    t.sel_toks))) AS BIGINT) END
                         AS jacc
                FROM cand3 c JOIN st2 t USING (query_id))
              GROUP BY query_id, doc_id),
            p3 AS (
              SELECT query_id, CAST(3 AS BIGINT) AS rnk, doc_id,
                     CAST(rel_ppm - mj AS BIGINT) AS mmr_ppm
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY rel_ppm - mj DESC, doc_id) AS rn
                    FROM sc3)
              WHERE rn = 1)
            SELECT * FROM p1 UNION ALL SELECT * FROM p2
            UNION ALL SELECT * FROM p3
        """,
        "search_eval": _RUNS_CTE + "SELECT * FROM met",
        # bpref@10 on the partial-containment judged pool
        "search_bpref": _RUNS_CTE + """
            , nonrel AS (
              SELECT m.query_id, m.doc_id
              FROM matched m JOIN qn USING (query_id)
              WHERE m.n_matched < qn.q_n),
            bc AS (
              SELECT r.query_id,
                     CAST(count(*) AS BIGINT) AS n_rel,
                     CAST(coalesce(any_value(nn.n_nonrel), 0)
                          AS BIGINT) AS n_nonrel
              FROM qrels r
              LEFT JOIN (SELECT query_id,
                                CAST(count(*) AS BIGINT) AS n_nonrel
                         FROM nonrel GROUP BY query_id) nn
                USING (query_id)
              GROUP BY r.query_id),
            rj AS (
              SELECT rk.query_id, rk.doc_id, rk.rank,
                     CASE WHEN q.doc_id IS NOT NULL THEN 1 END
                       AS is_rel,
                     CASE WHEN nr.doc_id IS NOT NULL THEN 1
                          ELSE 0 END AS is_non
              FROM runk rk
              LEFT JOIN qrels q ON q.query_id = rk.query_id
                               AND q.doc_id = rk.doc_id
              LEFT JOIN nonrel nr ON nr.query_id = rk.query_id
                                 AND nr.doc_id = rk.doc_id
              WHERE rk.rank <= 10),
            cu AS (
              SELECT *,
                     CAST(coalesce(sum(is_non) OVER (
                       PARTITION BY query_id ORDER BY rank
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS non_above
              FROM rj),
            per AS (
              SELECT cu.query_id,
                     CAST(sum(CASE WHEN least(bc.n_rel, bc.n_nonrel)
                                        = 0 THEN 1000000
                              ELSE 1000000 - 1000000
                                   * least(cu.non_above,
                                           least(bc.n_rel,
                                                 bc.n_nonrel))
                                   // least(bc.n_rel, bc.n_nonrel)
                              END) AS BIGINT) AS s
              FROM cu JOIN bc USING (query_id)
              WHERE cu.is_rel = 1
              GROUP BY cu.query_id)
            SELECT bc.query_id, bc.n_rel, bc.n_nonrel,
                   CAST(coalesce(per.s, 0) // bc.n_rel AS BIGINT)
                     AS bpref_ppm
            FROM bc LEFT JOIN per USING (query_id)
        """,
        # graded nDCG@10: gains by bit shift, discounts from the SAME
        # literal table the Spark plan embeds (_ndcg_w_sql).
        "search_ndcg": _RUNS_CTE + f"""
            , wl AS (SELECT {_ndcg_w_sql(10)} AS l),
            gq AS (SELECT query_id, doc_id, n_matched AS grade
                   FROM matched),
            dcg AS (
              SELECT r.query_id,
                     CAST(sum(((1::BIGINT << grade) - 1)
                              * wl.l[CAST(r.rank AS INT)]) AS BIGINT)
                       AS dcg_fp
              FROM runk r JOIN gq USING (query_id, doc_id), wl
              WHERE r.rank <= 10
              GROUP BY r.query_id),
            ideal AS (
              SELECT query_id, grade,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY grade DESC, doc_id) AS r
              FROM gq),
            idcg AS (
              SELECT query_id,
                     CAST(count(*) AS BIGINT) AS n_ideal,
                     CAST(sum(((1::BIGINT << grade) - 1)
                              * wl.l[CAST(r AS INT)]) AS BIGINT)
                       AS idcg_fp
              FROM ideal, wl WHERE r <= 10
              GROUP BY query_id)
            SELECT i.query_id, i.n_ideal,
                   CAST(coalesce(d.dcg_fp, 0) AS BIGINT) AS dcg_fp,
                   i.idcg_fp,
                   CAST(1000000 * coalesce(d.dcg_fp, 0) // i.idcg_fp
                        AS BIGINT) AS ndcg_ppm
            FROM idcg i LEFT JOIN dcg d USING (query_id)
        """,
        "search_rm3_terms": _RUNS_CTE + _RM3_CTE
        + ("SELECT query_id, term, orig_ppm, rm_ppm, weight_ppm"
           " FROM expq"),
        "search_rm3": _RUNS_CTE + _RM3_CTE
        + "SELECT query_id, doc_id, rank, score_fp FROM rrunk",
        # RBO(bm25 run, RM3 rerun): same grids, same floor order
        "search_rbo": _RUNS_CTE + _RM3_CTE + """
            , ra AS (SELECT query_id, doc_id, rank AS rra FROM runk),
            rb2 AS (
              SELECT query_id, doc_id, rank AS rrb FROM rrunk),
            mm AS (
              SELECT query_id, greatest(rra, rrb) AS m
              FROM ra JOIN rb2 USING (query_id, doc_id)),
            hh AS (
              SELECT query_id, m, CAST(count(*) AS BIGINT) AS cnt
              FROM mm GROUP BY query_id, m),
            rqd AS (
              SELECT DISTINCT query_id FROM runk
              UNION SELECT DISTINCT query_id FROM rrunk),
            grid AS (
              SELECT query_id,
                     CAST(unnest(range(1, 11)) AS BIGINT) AS d
              FROM rqd),
            ad AS (
              SELECT g.query_id, g.d,
                     CAST(coalesce(sum(h.cnt), 0) AS BIGINT) AS a_d
              FROM grid g LEFT JOIN hh h
                ON h.query_id = g.query_id AND h.m <= g.d
              GROUP BY g.query_id, g.d),
            tm AS (
              SELECT query_id, d, a_d,
                     (1000000 * a_d // d) * (1::BIGINT << (10 - d))
                       AS wterm
              FROM ad)
            SELECT query_id,
                   CAST(max(CASE WHEN d = 10 THEN a_d END)
                        AS BIGINT) AS common_at_k,
                   CAST(sum(wterm) // 1023 AS BIGINT) AS rbo_ppm
            FROM tm GROUP BY query_id
        """,
        "text_novelty": _SHINGLE_CTE + """
            , ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
            f AS (
              SELECT s, CAST(min(doc_id) AS BIGINT) AS first_doc
              FROM ex GROUP BY s)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh,
                   CAST(sum(CASE WHEN doc_id = first_doc THEN 1
                            ELSE 0 END) AS BIGINT) AS n_new,
                   CAST(1000000 * sum(CASE WHEN doc_id = first_doc
                            THEN 1 ELSE 0 END) // count(*) AS BIGINT)
                     AS novelty_ppm
            FROM ex JOIN f USING (s) GROUP BY doc_id
        """,
        "search_qpp": """
            WITH d AS (
              SELECT doc_id,
                     coalesce(text, '')
                     || CASE WHEN doc_id % 7 = 0
                          THEN repeat(' needle',
                                      CAST(1 + doc_id % 3 AS INT))
                          ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN ' haystack'
                          ELSE '' END AS text
              FROM documents),
            tok AS (
              SELECT doc_id, t AS term FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM d)
              WHERE t <> ''),
            tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, term),
            dl AS (
              SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
              FROM tf GROUP BY doc_id),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
            queries(query_id, term) AS (
              VALUES (1, 'needle'), (2, 'haystack'),
                     (3, 'needle'), (3, 'haystack'), (3, 'scan'),
                     (4, 'zz_oov'), (4, 'needle')),
            qdim AS (
              SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
                     term
              FROM queries),
            terms AS (SELECT DISTINCT term FROM qdim),
            pt AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df,
                     CAST(sum(tf) AS BIGINT) AS ctf
              FROM tf JOIN terms USING (term) GROUP BY term),
            pt2 AS (
              SELECT term,
                     CASE WHEN 2 * n_docs - 2 * df + 1 < 2 * df + 1
                       THEN 0
                       ELSE length(bin(CAST(
                         ((2 * n_docs - 2 * df + 1)::HUGEINT
                          * (2 * n_docs - 2 * df + 1))
                         // ((2 * df + 1)::HUGEINT * (2 * df + 1))
                         AS BIGINT))) - 1 END AS idf_hb,
                     length(bin(CAST((total_len::HUGEINT * total_len)
                       // (ctf::HUGEINT * ctf) AS BIGINT))) - 1
                       AS ictf_hb,
                     CAST(0 AS BIGINT)
                       + (2 + length(bin(CAST(ctf::HUGEINT * ctf
                            AS BIGINT))) - 1) AS ctf_f
              FROM pt, stats),
            j AS (
              SELECT qdim.query_id, pt2.idf_hb, pt2.ictf_hb,
                     CAST(pt2.ctf_f * pt2.idf_hb AS BIGINT) AS scq_fp
              FROM qdim LEFT JOIN pt2 USING (term))
            SELECT query_id,
                   CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(CASE WHEN idf_hb IS NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_oov,
                   CAST(max(coalesce(idf_hb, 0)) AS BIGINT)
                     AS max_idf_hb,
                   CAST(sum(coalesce(idf_hb, 0)) // count(*)
                     AS BIGINT) AS avg_idf_hb,
                   CAST(sum(coalesce(ictf_hb, 0)) // count(*)
                     AS BIGINT) AS avg_ictf_hb,
                   CAST(sum(coalesce(scq_fp, 0)) AS BIGINT)
                     AS sum_scq_fp
            FROM j GROUP BY query_id
        """,
        "dedup_triplets": _SHINGLE_CTE + f"""
            , sig AS (SELECT doc_id, {_SIG_SELECTS} FROM sh),
            bands AS ({_BANDS_SQL}),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
            tk AS (
              SELECT doc_id,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents),
            pos AS (
              SELECT doc_a AS anchor, doc_b AS positive,
                     CAST(1000000 * len(list_intersect(ta.toks,
                                                       tb.toks))
                          // (len(ta.toks) + len(tb.toks)
                              - len(list_intersect(ta.toks, tb.toks)))
                          AS BIGINT) AS jaccard_ppm
              FROM cand JOIN tk ta ON cand.doc_a = ta.doc_id
                        JOIN tk tb ON cand.doc_b = tb.doc_id),
            inband AS (
              SELECT * FROM pos
              WHERE jaccard_ppm BETWEEN 300000 AND 900000),
            nb AS (
              SELECT doc_id AS anchor,
                     lead(doc_id, 1) OVER (PARTITION BY source
                                           ORDER BY doc_id) AS l1,
                     lead(doc_id, 2) OVER (PARTITION BY source
                                           ORDER BY doc_id) AS l2
              FROM documents)
            SELECT anchor, positive, jaccard_ppm,
                   CASE WHEN l1 = positive THEN l2 ELSE l1 END
                     AS negative
            FROM inband JOIN nb USING (anchor)
            WHERE CASE WHEN l1 = positive THEN l2 ELSE l1 END
                  IS NOT NULL
        """,
        "dedup_threshold_curve": _SHINGLE_CTE + f"""
            , sig AS (SELECT doc_id, {_SIG_SELECTS} FROM sh),
            bands AS ({_BANDS_SQL}),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
            tk AS (
              SELECT doc_id,
                     list_distinct(string_split(text, ' ')) AS toks
              FROM documents),
            ver AS (
              SELECT CAST(1000000 * len(list_intersect(ta.toks,
                                                       tb.toks))
                          // (len(ta.toks) + len(tb.toks)
                              - len(list_intersect(ta.toks, tb.toks)))
                          AS BIGINT) AS j
              FROM cand JOIN tk ta ON cand.doc_a = ta.doc_id
                        JOIN tk tb ON cand.doc_b = tb.doc_id),
            grid AS (
              SELECT CAST(500000 + 50000 * unnest(generate_series(0, 9))
                          AS BIGINT) AS threshold_ppm)
            SELECT threshold_ppm,
                   CAST((SELECT count(*) FROM ver
                         WHERE j >= threshold_ppm) AS BIGINT)
                     AS n_pairs_ge
            FROM grid
        """,
        "search_mincover": """
            WITH d AS (
              SELECT doc_id,
                     coalesce(text, '')
                     || CASE WHEN doc_id % 7 = 0
                          THEN repeat(' needle',
                                      CAST(1 + doc_id % 3 AS INT))
                          ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN ' haystack'
                          ELSE '' END AS text
              FROM documents),
            pp AS (
              SELECT doc_id, t AS term, CAST(i - 1 AS BIGINT) AS pos
              FROM (
                SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                                          x -> x <> '')) AS t,
                       unnest(generate_series(1, len(list_filter(
                           string_split(text, ' '),
                           x -> x <> '')))) AS i
                FROM d)
              WHERE t IN ('needle', 'haystack')),
            sw AS (
              SELECT doc_id, pos,
                     max(CASE WHEN term = 'needle' THEN pos END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS l0,
                     max(CASE WHEN term = 'haystack' THEN pos END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS l1
              FROM pp)
            SELECT doc_id,
                   CAST(min(CASE WHEN l0 IS NOT NULL
                                  AND l1 IS NOT NULL
                            THEN pos - least(l0, l1) + 1 END)
                     AS BIGINT) AS min_span,
                   CAST(count(*) AS BIGINT) AS n_hits
            FROM sw GROUP BY doc_id
            HAVING min(CASE WHEN l0 IS NOT NULL AND l1 IS NOT NULL
                       THEN pos - least(l0, l1) + 1 END) IS NOT NULL
        """,
        "idx_champions": """
            WITH tok AS (
              SELECT doc_id, t AS term FROM (
                SELECT doc_id,
                       unnest(string_split(coalesce(text, ''), ' '))
                         AS t
                FROM documents)
              WHERE t <> ''),
            tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, term)
            SELECT term, doc_id, tf, champ_rank FROM (
              SELECT *, CAST(row_number() OVER (
                       PARTITION BY term
                       ORDER BY tf DESC, doc_id) AS BIGINT)
                       AS champ_rank
              FROM tf)
            WHERE champ_rank <= 4
        """,
        "text_vocab_growth": """
            WITH tok AS (
              SELECT doc_id, t AS term FROM (
                SELECT doc_id,
                       unnest(string_split(coalesce(text, ''), ' '))
                         AS t
                FROM documents)
              WHERE t <> ''),
            mxv AS (SELECT max(doc_id) AS mx FROM tok),
            grid AS (
              SELECT CAST(((i + 1) * mx) // 10 AS BIGINT) AS cp
              FROM mxv, (SELECT unnest(generate_series(0, 9)) AS i)),
            fd AS (
              SELECT term, min(doc_id) AS fd FROM tok GROUP BY term),
            dl AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
              FROM tok GROUP BY doc_id)
            SELECT cp AS checkpoint_doc_id,
                   CAST((SELECT count(*) FROM fd WHERE fd <= cp)
                     AS BIGINT) AS vocab_size,
                   CAST((SELECT coalesce(sum(dl), 0) FROM dl
                         WHERE doc_id <= cp) AS BIGINT) AS tokens_cum
            FROM grid
        """,
        "graph_assortativity": "WITH " + _EDGES_SQL + """
            , outd AS (
              SELECT src, CAST(count(*) AS BIGINT) AS od
              FROM edges GROUP BY src),
            ind AS (
              SELECT dst, CAST(count(*) AS BIGINT) AS idg
              FROM edges GROUP BY dst),
            j AS (
              SELECT od, idg FROM edges
              JOIN outd USING (src) JOIN ind USING (dst)),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                     sum(od::HUGEINT) AS sx, sum(idg::HUGEINT) AS sy,
                     sum(od::HUGEINT * idg) AS sxy,
                     sum(od::HUGEINT * od) AS sxx,
                     sum(idg::HUGEINT * idg) AS syy
              FROM j),
            v AS (
              SELECT m, CAST(m * sxx - sx * sx AS BIGINT) AS vx,
                     CAST(m * syy - sy * sy AS BIGINT) AS vy,
                     m * sxy - sx * sy AS num
              FROM s),
            r0 AS (
              SELECT *,
                     CAST(floor(sqrt(CAST(vx AS DOUBLE))) AS BIGINT)
                       AS s0,
                     CAST(floor(sqrt(CAST(vy AS DOUBLE))) AS BIGINT)
                       AS s1
              FROM v),
            rr AS (
              SELECT m, num,
                     CASE WHEN vx = 0 THEN 0
                          WHEN (s0 + 1) * (s0 + 1) <= vx THEN s0 + 1
                          WHEN s0 * s0 > vx THEN s0 - 1
                          ELSE s0 END AS rx,
                     CASE WHEN vy = 0 THEN 0
                          WHEN (s1 + 1) * (s1 + 1) <= vy THEN s1 + 1
                          WHEN s1 * s1 > vy THEN s1 - 1
                          ELSE s1 END AS ry
              FROM r0)
            SELECT m,
                   CAST(CASE WHEN rx * ry = 0 THEN 0
                        WHEN num >= 0 THEN
                          (1000000 * num) // (rx * ry)
                        ELSE -((1000000 * (-num)) // (rx * ry))
                        END AS BIGINT) AS r_ppm
            FROM rr
        """,
        "text_oov_rate": """
            WITH tok AS (
              SELECT source, t AS term FROM (
                SELECT source,
                       unnest(string_split(coalesce(text, ''), ' '))
                         AS t
                FROM documents)
              WHERE t <> ''),
            vocab AS (
              SELECT term FROM (
                SELECT term, count(*) AS ctf FROM tok GROUP BY term)
              ORDER BY ctf DESC, term LIMIT 16)
            SELECT source, CAST(count(*) AS BIGINT) AS tokens,
                   CAST(sum(CASE WHEN vocab.term IS NULL THEN 1
                            ELSE 0 END) AS BIGINT) AS oov_tokens,
                   CAST(1000000 * sum(CASE WHEN vocab.term IS NULL
                            THEN 1 ELSE 0 END) // count(*) AS BIGINT)
                     AS oov_ppm
            FROM tok LEFT JOIN vocab ON tok.term = vocab.term
            GROUP BY source
        """,
        "graph_ktruss": "WITH " + _EDGES_SQL + """
            , e0 AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS a,
                     greatest(src, dst) AS b
              FROM edges WHERE src <> dst),
            t0 AS MATERIALIZED (
              SELECT ab.a AS x, ab.b AS y, ac.b AS z
              FROM e0 ab JOIN e0 ac
                ON ab.a = ac.a AND ac.b > ab.b
              WHERE EXISTS (SELECT 1 FROM e0 bc
                            WHERE bc.a = ab.b AND bc.b = ac.b)),
            s0 AS MATERIALIZED (
              SELECT a, b, CAST(count(*) AS BIGINT) AS support
              FROM (
                SELECT x AS a, y AS b FROM t0
                UNION ALL SELECT x AS a, z AS b FROM t0
                UNION ALL SELECT y AS a, z AS b FROM t0)
              GROUP BY a, b),
            e1 AS MATERIALIZED (
              SELECT e0.a, e0.b
              FROM e0 LEFT JOIN s0 USING (a, b)
              WHERE coalesce(support, 0) >= 1),
            t1 AS MATERIALIZED (
              SELECT ab.a AS x, ab.b AS y, ac.b AS z
              FROM e1 ab JOIN e1 ac
                ON ab.a = ac.a AND ac.b > ab.b
              WHERE EXISTS (SELECT 1 FROM e1 bc
                            WHERE bc.a = ab.b AND bc.b = ac.b)),
            s1 AS MATERIALIZED (
              SELECT a, b, CAST(count(*) AS BIGINT) AS support
              FROM (
                SELECT x AS a, y AS b FROM t1
                UNION ALL SELECT x AS a, z AS b FROM t1
                UNION ALL SELECT y AS a, z AS b FROM t1)
              GROUP BY a, b),
            e2 AS MATERIALIZED (
              SELECT e1.a, e1.b
              FROM e1 LEFT JOIN s1 USING (a, b)
              WHERE coalesce(support, 0) >= 1),
            t2 AS MATERIALIZED (
              SELECT ab.a AS x, ab.b AS y, ac.b AS z
              FROM e2 ab JOIN e2 ac
                ON ab.a = ac.a AND ac.b > ab.b
              WHERE EXISTS (SELECT 1 FROM e2 bc
                            WHERE bc.a = ab.b AND bc.b = ac.b)),
            s2 AS MATERIALIZED (
              SELECT a, b, CAST(count(*) AS BIGINT) AS support
              FROM (
                SELECT x AS a, y AS b FROM t2
                UNION ALL SELECT x AS a, z AS b FROM t2
                UNION ALL SELECT y AS a, z AS b FROM t2)
              GROUP BY a, b),
            e3 AS MATERIALIZED (
              SELECT e2.a, e2.b
              FROM e2 LEFT JOIN s2 USING (a, b)
              WHERE coalesce(support, 0) >= 1),
            t3 AS MATERIALIZED (
              SELECT ab.a AS x, ab.b AS y, ac.b AS z
              FROM e3 ab JOIN e3 ac
                ON ab.a = ac.a AND ac.b > ab.b
              WHERE EXISTS (SELECT 1 FROM e3 bc
                            WHERE bc.a = ab.b AND bc.b = ac.b)),
            s3 AS MATERIALIZED (
              SELECT a, b, CAST(count(*) AS BIGINT) AS support
              FROM (
                SELECT x AS a, y AS b FROM t3
                UNION ALL SELECT x AS a, z AS b FROM t3
                UNION ALL SELECT y AS a, z AS b FROM t3)
              GROUP BY a, b)
            SELECT e3.a, e3.b,
                   CAST(coalesce(support, 0) AS BIGINT) AS support
            FROM e3 LEFT JOIN s3 USING (a, b)
        """,
        "text_zipf": """
            WITH tok AS (
              SELECT t AS term FROM (
                SELECT unnest(string_split(coalesce(text, ''), ' '))
                  AS t
                FROM documents)
              WHERE t <> ''),
            top AS (
              SELECT term, CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY term
              ORDER BY tf DESC, term LIMIT 64),
            xy AS (
              SELECT length(bin(r * r)) - 1 AS x,
                     length(bin(tf * tf)) - 1 AS y
              FROM (
                SELECT tf, CAST(row_number() OVER (
                         ORDER BY tf DESC, term) AS BIGINT) AS r
                FROM top)),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(CAST(x AS BIGINT) * y) AS BIGINT)
                       AS sxy,
                     CAST(sum(CAST(x AS BIGINT) * x) AS BIGINT)
                       AS sxx
              FROM xy)
            SELECT n AS n_terms,
                   CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                        WHEN n * sxy - sx * sy >= 0 THEN
                          (1000000 * (n * sxy - sx * sy))
                          // (n * sxx - sx * sx)
                        ELSE -((1000000 * (sx * sy - n * sxy))
                          // (n * sxx - sx * sx)) END AS BIGINT)
                     AS slope_ppm
            FROM s
        """,
        "text_term_burst": """
            WITH tok AS (
              SELECT doc_id, t AS term FROM (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS t
                FROM documents)
              WHERE t <> ''),
            tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM tok GROUP BY doc_id, term),
            g AS (
              SELECT term, CAST(sum(tf) AS BIGINT) AS cf,
                     CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY term)
            SELECT term, cf, df,
                   CAST(1000000 * cf // df AS BIGINT) AS burst_ppm
            FROM g ORDER BY cf DESC, term LIMIT 64
        """,
        "text_lexdiv": """
            WITH tok AS (
              SELECT source, t FROM (
                SELECT source,
                       unnest(string_split(coalesce(text, ''), ' '))
                         AS t
                FROM documents)
              WHERE t <> ''),
            tf AS (
              SELECT source, t, CAST(count(*) AS BIGINT) AS m
              FROM tok GROUP BY source, t),
            g AS (
              SELECT source, CAST(sum(m) AS BIGINT) AS n_tokens,
                     CAST(count(*) AS BIGINT) AS n_types,
                     sum(m::HUGEINT * m) AS s2
              FROM tf GROUP BY source)
            SELECT source, n_tokens, n_types,
                   CAST(1000000::HUGEINT * n_types // n_tokens
                        AS BIGINT) AS ttr_ppm,
                   CAST(10000000::HUGEINT * (s2 - n_tokens)
                        // (n_tokens::HUGEINT * n_tokens) AS BIGINT)
                     AS yule_k_milli
            FROM g
        """,
        "text_scripts": f"""
            WITH d AS (
              SELECT doc_id,
                     coalesce(text, '')
                       || repeat('я', CAST(doc_id % 5 AS INT))
                       || repeat('中', CAST(doc_id % 7 AS INT))
                       || repeat('7', CAST(doc_id % 3 AS INT))
                       AS text
              FROM documents),
            c AS (
              SELECT doc_id,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     CAST(length(text) - length(regexp_replace(text,
                       '[{SCRIPT_RANGES["latin"]}]', '', 'g'))
                       AS BIGINT) AS n_latin,
                     CAST(length(text) - length(regexp_replace(text,
                       '[{SCRIPT_RANGES["cyrillic"]}]', '', 'g'))
                       AS BIGINT) AS n_cyrillic,
                     CAST(length(text) - length(regexp_replace(text,
                       '[{SCRIPT_RANGES["cjk"]}]', '', 'g'))
                       AS BIGINT) AS n_cjk,
                     CAST(length(text) - length(regexp_replace(text,
                       '[{SCRIPT_RANGES["digit"]}]', '', 'g'))
                       AS BIGINT) AS n_digit
              FROM d)
            SELECT doc_id, n_chars,
                   CAST(1000000 * n_latin // n_chars AS BIGINT)
                     AS latin_ppm,
                   CAST(1000000 * n_cyrillic // n_chars AS BIGINT)
                     AS cyrillic_ppm,
                   CAST(1000000 * n_cjk // n_chars AS BIGINT)
                     AS cjk_ppm,
                   CAST(1000000 * n_digit // n_chars AS BIGINT)
                     AS digit_ppm,
                   CAST(1000000 * (n_chars - n_latin - n_cyrillic
                        - n_cjk - n_digit) // n_chars AS BIGINT)
                     AS other_ppm,
                   CASE WHEN n_latin = 0 AND n_cyrillic = 0
                          AND n_cjk = 0 AND n_digit = 0 THEN 'other'
                        WHEN n_latin >= n_cyrillic
                          AND n_latin >= n_cjk
                          AND n_latin >= n_digit THEN 'latin'
                        WHEN n_cyrillic >= n_cjk
                          AND n_cyrillic >= n_digit THEN 'cyrillic'
                        WHEN n_cjk >= n_digit THEN 'cjk'
                        ELSE 'digit' END AS main_script
            FROM c WHERE n_chars > 0
        """,
        "emb_health": """
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                            AS BIGINT)) AS v
              FROM embeddings),
            h AS (
              SELECT vec_id, len(v) AS d,
                     CAST(list_sum(list_transform(v, x -> x * x))
                       AS BIGINT) AS n2
              FROM q)
            SELECT CAST(count(*) AS BIGINT) AS n_vecs,
                   CAST(min(d) AS BIGINT) AS dim,
                   CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_zero,
                   CAST(min(n2) AS BIGINT) AS min_norm2,
                   CAST(max(n2) AS BIGINT) AS max_norm2,
                   CAST(sum(n2) // count(*) AS BIGINT) AS avg_norm2
            FROM h
        """,
        "cache_hit_curve": """
            WITH c AS (
              SELECT CAST(user_id AS VARCHAR) AS k,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY user_id),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
            top AS (
              SELECT * FROM c ORDER BY c DESC, k LIMIT 512),
            ranked AS (
              SELECT c, k,
                     row_number() OVER (ORDER BY c DESC, k) AS r,
                     sum(c) OVER (ORDER BY c DESC, k
                                  ROWS UNBOUNDED PRECEDING) AS cum
              FROM top),
            sizes AS (
              SELECT CAST(power(2, i) AS BIGINT) AS cache_size
              FROM (SELECT unnest(generate_series(0, 9)) AS i))
            SELECT cache_size,
                   CAST(1000000 * coalesce(max(cum), 0) // max(total)
                     AS BIGINT) AS hit_ppm
            FROM sizes LEFT JOIN ranked ON r <= cache_size, tot
            GROUP BY cache_size
        """,
        "events_gini": """
            WITH x AS (
              SELECT user_id AS key, CAST(count(*) AS BIGINT) AS v
              FROM events GROUP BY user_id),
            r AS (
              SELECT v, CAST(row_number() OVER (ORDER BY v, key)
                             AS BIGINT) AS i
              FROM x)
            SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(v) AS BIGINT) AS total,
                   CASE WHEN count(*) = 0 OR sum(v) = 0
                        THEN CAST(0 AS BIGINT)
                        ELSE CAST((2 * sum(i::HUGEINT * v)
                          - (count(*)::HUGEINT + 1) * sum(v))
                          * 1000000 // (count(*)::HUGEINT * sum(v))
                          AS BIGINT) END AS gini_ppm
            FROM r
        """,
        "host_health": """
            WITH a AS (
              SELECT CAST(user_id AS VARCHAR) AS host,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'error' THEN 1
                              ELSE 0 END) AS BIGINT) AS errors
              FROM events GROUP BY user_id),
            x AS (
              SELECT *,
                     CAST(1000000 AS BIGINT) * 1000000
                       * (errors * (n - errors) + n) // n AS bx
              FROM a),
            s0 AS (
              SELECT *,
                     CAST(floor(sqrt(CAST(bx AS DOUBLE))) AS BIGINT)
                       AS r0
              FROM x),
            s AS (
              SELECT host, n, errors, bx,
                     CASE WHEN (r0 + 1) * (r0 + 1) <= bx THEN r0 + 1
                          WHEN r0 * r0 > bx THEN r0 - 1
                          ELSE r0 END AS rs
              FROM s0)
            SELECT host, n, errors,
                   CAST(1000000 * errors // n AS BIGINT) AS err_ppm,
                   CAST(greatest(0, 1000000 * (errors + 2) - 2 * rs)
                        // (n + 4) AS BIGINT) AS wilson_lb_ppm
            FROM s
        """,
        "lang_confusion": (
            "WITH p AS (" + _langid_sql().replace(
                "\nSELECT doc_id,", "\nSELECT doc_id, lang,", 1)
            + """), cells AS (
              SELECT lang, pred_lang,
                     CAST(count(*) AS BIGINT) AS n
              FROM p GROUP BY lang, pred_lang)
            SELECT lang, pred_lang, n,
                   CAST(1000000 * n // sum(n) OVER
                        (PARTITION BY lang) AS BIGINT) AS share_ppm
            FROM cells
        """),
        "search_rm3_eval": _RUNS_CTE + _RM3_CTE + """
            , hits2 AS (
              SELECT r.query_id, r.rank,
                     CAST(row_number() OVER (
                       PARTITION BY r.query_id ORDER BY r.rank)
                       AS BIGINT) AS h_r
              FROM rrunk r JOIN qrels USING (query_id, doc_id)),
            perq2 AS (
              SELECT query_id, CAST(count(*) AS BIGINT) AS hits_at_k,
                     min(rank) AS first_rel_rank,
                     CAST(sum((1000000 * h_r) // rank) AS BIGINT)
                       AS sum_p
              FROM hits2 GROUP BY query_id),
            met2 AS (
              SELECT query_id, n_rel,
                     CAST(coalesce(hits_at_k, 0) AS BIGINT)
                       AS hits_at_k,
                     CAST((1000000 * coalesce(hits_at_k, 0)) // 10
                          AS BIGINT) AS p_at_k_ppm,
                     CAST((1000000 * coalesce(hits_at_k, 0)) // n_rel
                          AS BIGINT) AS recall_ppm,
                     CAST(CASE WHEN first_rel_rank IS NULL THEN 0
                               ELSE 1000000 // first_rel_rank END
                          AS BIGINT) AS rr_ppm,
                     CAST(coalesce(sum_p, 0) // n_rel AS BIGINT)
                       AS ap_ppm
              FROM nrel LEFT JOIN perq2 USING (query_id))
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(sum(rr_ppm) // count(*) AS BIGINT) AS mrr_ppm,
                   CAST(sum(ap_ppm) // count(*) AS BIGINT) AS map_ppm,
                   CAST(sum(recall_ppm) // count(*) AS BIGINT)
                     AS mean_recall_ppm,
                   CAST(sum(p_at_k_ppm) // count(*) AS BIGINT)
                     AS mean_p_at_k_ppm
            FROM met2
        """,
        "events_health_windows": """
            WITH a AS (
              SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts))
                          AS BIGINT) AS window_start_s,
                     CAST(user_id AS VARCHAR) AS host,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'error' THEN 1
                              ELSE 0 END) AS BIGINT) AS errors
              FROM events GROUP BY 1, 2),
            x AS (
              SELECT *,
                     CAST(1000000 AS BIGINT) * 1000000
                       * (errors * (n - errors) + n) // n AS bx
              FROM a),
            s0 AS (
              SELECT *, CAST(floor(sqrt(CAST(bx AS DOUBLE)))
                             AS BIGINT) AS r0
              FROM x),
            s AS (
              SELECT window_start_s, host, n, errors, bx,
                     CASE WHEN (r0 + 1) * (r0 + 1) <= bx THEN r0 + 1
                          WHEN r0 * r0 > bx THEN r0 - 1
                          ELSE r0 END AS rs
              FROM s0)
            SELECT window_start_s, host, n, errors,
                   CAST(1000000 * errors // n AS BIGINT) AS err_ppm,
                   CAST(greatest(0, 1000000 * (errors + 2) - 2 * rs)
                        // (n + 4) AS BIGINT) AS wilson_lb_ppm
            FROM s
        """,
        "mm_sniff_mime": """
            WITH p AS (
              SELECT doc_id,
                     CASE doc_id % 5
                       WHEN 0 THEN '25504446'
                       WHEN 1 THEN '89504E47'
                       WHEN 2 THEN '3C68746D'
                       WHEN 3 THEN '504B0304'
                       ELSE 'FFD8FF' END
                     || upper(hex(coalesce(text, ''))) AS hx,
                     CASE doc_id % 3
                       WHEN 0 THEN 'application/pdf'
                       WHEN 1 THEN 'text/html'
                       ELSE 'image/png' END AS declared
              FROM documents),
            s AS (
              SELECT doc_id, declared,
                     CASE
                       WHEN hx LIKE '25504446%' THEN 'application/pdf'
                       WHEN hx LIKE '89504E47%' THEN 'image/png'
                       WHEN hx LIKE '47494638%' THEN 'image/gif'
                       WHEN hx LIKE 'FFD8FF%' THEN 'image/jpeg'
                       WHEN hx LIKE '424D%'
                            AND substr(hx, 13, 8) = '00000000'
                            THEN 'image/bmp'
                       WHEN hx LIKE '52494646%'
                            AND substr(hx, 17, 8) = '57454250'
                            THEN 'image/webp'
                       WHEN hx LIKE '52494646%'
                            AND substr(hx, 17, 8) = '57415645'
                            THEN 'audio/wav'
                       WHEN hx LIKE '464F524D%'
                            AND substr(hx, 17, 8) = '41494646'
                            THEN 'audio/aiff'
                       WHEN hx LIKE '464F524D%'
                            AND substr(hx, 17, 8) = '41494643'
                            THEN 'audio/aiff'
                       WHEN hx LIKE '49492A00%'
                            OR hx LIKE '4D4D002A%'
                            THEN 'image/tiff'
                       WHEN hx LIKE '664C6143%' THEN 'audio/flac'
                       WHEN hx LIKE '00000100%' THEN 'image/x-icon'
                       WHEN hx LIKE '504B0304%' THEN 'application/zip'
                       WHEN hx LIKE 'D0CF11E0A1B11AE1%'
                            THEN 'application/x-ole-storage'
                       WHEN hx LIKE '1F8B%' THEN 'application/gzip'
                       WHEN substr(hx, 515, 10) = '7573746172'
                            THEN 'application/x-tar'
                       WHEN hx LIKE '3C%' THEN 'text/html'
                       ELSE 'application/octet-stream' END AS sniffed
              FROM p)
            SELECT doc_id, declared, sniffed,
                   declared = sniffed AS agree
            FROM s
        """,
        "trap_soft404": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0
                       THEN '404 page not found - it does not exist'
                       WHEN doc_id % 11 = 1
                       THEN 'this page has been removed 404 '
                            || coalesce(text, '')
                       ELSE text END AS text
              FROM documents),
            l AS (
              SELECT doc_id, lower(coalesce(text, '')) AS low,
                     CAST(len(list_filter(
                       string_split(coalesce(text, ''), ' '),
                       x -> x <> '')) AS BIGINT) AS n_tokens
              FROM d),
            h AS (
              SELECT doc_id, n_tokens,
                     CAST(CASE WHEN contains(low, 'not found') THEN 1 ELSE 0 END + CASE WHEN contains(low, 'page not found') THEN 1 ELSE 0 END + CASE WHEN contains(low, '404') THEN 1 ELSE 0 END + CASE WHEN contains(low, 'no longer exists') THEN 1 ELSE 0 END + CASE WHEN contains(low, 'does not exist') THEN 1 ELSE 0 END + CASE WHEN contains(low, 'page unavailable') THEN 1 ELSE 0 END + CASE WHEN contains(low, 'been removed') THEN 1 ELSE 0 END AS BIGINT) AS marker_hits
              FROM l)
            SELECT doc_id, marker_hits, n_tokens,
                   (marker_hits >= 3
                    OR (marker_hits >= 2 AND n_tokens < 40))
                     AS soft404
            FROM h
        """,
        "sched_ucb": """
            WITH s AS (
              SELECT CAST(user_id AS VARCHAR) AS host,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'click' THEN 1
                              ELSE 0 END) AS BIGINT) AS reward
              FROM events GROUP BY user_id),
            t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM s),
            e AS (
              SELECT host, n, reward,
                     length(bin(t * t)) - 1 AS hb,
                     CAST(1000000 * reward // n AS BIGINT) AS mean_ppm
              FROM s, t),
            x AS (
              SELECT *,
                     CAST((693147::BIGINT * 1000000 * hb) // n
                       AS BIGINT) AS bx
              FROM e),
            s0 AS (
              SELECT *,
                     CAST(floor(sqrt(CAST(bx AS DOUBLE))) AS BIGINT)
                       AS r0
              FROM x),
            b AS (
              SELECT host, n, reward, mean_ppm,
                     CASE WHEN (r0 + 1) * (r0 + 1) <= bx THEN r0 + 1
                          WHEN r0 * r0 > bx THEN r0 - 1
                          ELSE r0 END AS bonus_ppm
              FROM s0),
            u AS (
              SELECT host, n, reward, mean_ppm, bonus_ppm,
                     CAST(mean_ppm + bonus_ppm AS BIGINT) AS ucb_ppm
              FROM b)
            SELECT host, n, reward, mean_ppm, bonus_ppm, ucb_ppm,
                   rank
            FROM (
              SELECT *, CAST(row_number() OVER (
                       ORDER BY ucb_ppm DESC, host) AS BIGINT) AS rank
              FROM u)
            WHERE rank <= 10
        """,
        "dedup_lsh_recall": _SHINGLE_CTE + f"""
            , sig AS (SELECT doc_id, {_SIG_SELECTS} FROM sh),
            bands AS ({_BANDS_SQL}),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM bands a JOIN bands b
                ON a.band_id = b.band_id AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
            pr AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     len(list_intersect(a.sh, b.sh)) AS inter,
                     len(a.sh) + len(b.sh) AS tot
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
            truth AS (
              SELECT doc_a, doc_b FROM pr
              WHERE inter > 0
                AND 1000000::BIGINT * inter // (tot - inter)
                    >= 600000),
            hit AS (
              SELECT t.doc_a FROM truth t JOIN cand c
                ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
            n AS (
              SELECT CAST((SELECT count(*) FROM truth) AS BIGINT)
                       AS n_true,
                     CAST((SELECT count(*) FROM cand) AS BIGINT)
                       AS n_cand,
                     CAST((SELECT count(*) FROM hit) AS BIGINT)
                       AS n_hit)
            SELECT n_true, n_cand, n_hit,
                   CAST(CASE WHEN n_true = 0 THEN 0
                        ELSE 1000000 * n_hit // n_true END AS BIGINT)
                     AS recall_ppm,
                   CAST(CASE WHEN n_cand = 0 THEN 0
                        ELSE 1000000 * n_hit // n_cand END AS BIGINT)
                     AS precision_ppm
            FROM n
        """,
        "shard_cori": _CORI_SQL,
        "idx_compress": _COMPRESS_CTE
        + ("SELECT term, df, ef_bits, vbyte_bits, bitmap_bits,"
           " best, best_bits FROM b"),
        "idx_compress_rollup": _COMPRESS_CTE + """
            SELECT CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(ef_bits) AS BIGINT) AS ef_bits,
                   CAST(sum(vbyte_bits) AS BIGINT) AS vbyte_bits,
                   CAST(sum(bitmap_bits) AS BIGINT) AS bitmap_bits,
                   CAST(sum(best_bits) AS BIGINT) AS mixed_bits,
                   CAST(sum(CASE WHEN best = 'ef' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_ef,
                   CAST(sum(CASE WHEN best = 'vbyte' THEN 1 ELSE 0
                     END) AS BIGINT) AS n_vbyte,
                   CAST(sum(CASE WHEN best = 'bitmap' THEN 1 ELSE 0
                     END) AS BIGINT) AS n_bitmap
            FROM b
        """,
        "idx_blockmax": _BLOCKMAX_CTE
        + ("SELECT term, block_id, n_docs, min_doc_id, max_doc_id,"
           " ub_fp FROM bm"),
        "idx_blockmax_prune": _BLOCKMAX_CTE + """
            , sc AS (
              SELECT doc_id,
                     CAST(sum(idf_hb * sat_ppm) AS BIGINT) AS score_fp
              FROM j3 GROUP BY doc_id),
            theta AS (
              SELECT min(score_fp) AS theta_fp FROM (
                SELECT score_fp FROM sc
                ORDER BY score_fp DESC, doc_id LIMIT 25)),
            gm AS (
              SELECT term, max(ub_fp) AS term_max
              FROM bm GROUP BY term),
            tot AS (
              SELECT CAST(sum(term_max) AS BIGINT) AS all_max FROM gm)
            SELECT term, CAST(count(*) AS BIGINT) AS n_blocks,
                   CAST(sum(CASE WHEN ub_fp + (all_max - term_max)
                                      < theta_fp
                                 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_skippable
            FROM bm JOIN gm USING (term), tot, theta
            GROUP BY term
        """,
        "sample_priority": _PRIORITY_CTE
        + "SELECT doc_id, w, u, priority, tau, w_est FROM samp",
        "sample_priority_est": _PRIORITY_CTE + """
            SELECT n_sampled, tau, est_total, true_total,
                   CAST(abs(est_total - true_total) * 1000000
                        // true_total AS BIGINT) AS err_ppm
            FROM (SELECT CAST(count(*) AS BIGINT) AS n_sampled,
                         max(tau) AS tau,
                         CAST(sum(w_est) AS BIGINT) AS est_total,
                         (SELECT CAST(sum(w) AS BIGINT) FROM wt)
                           AS true_total
                  FROM samp)
        """,
        "search_eval_macro": _RUNS_CTE + """
            SELECT CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(sum(rr_ppm) // count(*) AS BIGINT) AS mrr_ppm,
                   CAST(sum(ap_ppm) // count(*) AS BIGINT) AS map_ppm,
                   CAST(sum(recall_ppm) // count(*) AS BIGINT)
                     AS mean_recall_ppm,
                   CAST(sum(p_at_k_ppm) // count(*) AS BIGINT)
                     AS mean_p_at_k_ppm
            FROM met
        """,
        "search_bm25f": """
            WITH an AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 7 = 0 THEN 'needle needle link'
                           ELSE 'home page' END)
                     || (CASE WHEN doc_id % 13 = 0 THEN ' haystack'
                              ELSE '' END) AS text
              FROM documents),
            ti AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0 THEN 'scan guide'
                          ELSE 'web page' END AS text
              FROM documents),
            ftf AS (
              SELECT field, doc_id, term,
                     CAST(count(*) AS BIGINT) AS tf
              FROM (
                SELECT 'body' AS field, doc_id,
                       unnest(string_split(text, ' ')) AS term
                FROM documents WHERE text IS NOT NULL
                UNION ALL
                SELECT 'anchor', doc_id,
                       unnest(string_split(text, ' ')) FROM an
                UNION ALL
                SELECT 'title', doc_id,
                       unnest(string_split(text, ' ')) FROM ti)
              WHERE term <> '' GROUP BY ALL),
            dlf AS (SELECT doc_id, field,
                           CAST(sum(tf) AS BIGINT) AS dl
                    FROM ftf GROUP BY ALL),
            fstats AS (SELECT field, CAST(count(*) AS BIGINT) AS n_f,
                              CAST(sum(dl) AS BIGINT) AS total_f
                       FROM dlf GROUP BY field),
            par(field, w, b_ppm) AS (
              VALUES ('body', 1, 750000), ('anchor', 3, 500000),
                     ('title', 2, 0)),
            norms AS (
              SELECT doc_id, field,
                     CAST((1000000 - b_ppm)
                          + (b_ppm::HUGEINT * dl * n_f) // total_f
                          AS BIGINT) AS norm_ppm, w
              FROM dlf JOIN fstats USING (field)
                       JOIN par USING (field)),
            tfq AS (SELECT * FROM ftf
                    WHERE term IN ('needle', 'haystack', 'scan')),
            dft AS (SELECT term,
                           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                    FROM tfq GROUP BY term),
            nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT)
                            AS n_docs FROM ftf),
            tfn AS (
              SELECT doc_id, term,
                     CAST(sum((w::HUGEINT * tf * 1000000 * 1000000)
                              // norm_ppm) AS BIGINT) AS tfn_ppm
              FROM tfq JOIN norms USING (doc_id, field)
              GROUP BY doc_id, term),
            sc AS (
              SELECT doc_id,
                     CASE WHEN (2*n_docs - 2*df + 1) < (2*df + 1)
                          THEN 0
                          ELSE length(bin(CAST(
                            ((2*n_docs - 2*df + 1)::HUGEINT
                             * (2*n_docs - 2*df + 1))
                            // ((2*df + 1)::HUGEINT * (2*df + 1))
                            AS BIGINT))) - 1 END AS idf_hb,
                     CAST((tfn_ppm::HUGEINT * 1000000)
                          // (tfn_ppm + 1200000) AS BIGINT) AS sat_ppm
              FROM tfn JOIN dft USING (term), nd)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(idf_hb * sat_ppm) AS BIGINT) AS score_fp
            FROM sc GROUP BY doc_id
            ORDER BY score_fp DESC, doc_id LIMIT 25
        """,
        "ring_assign": _SHARD_HOSTS_SQL + f"""
            SELECT host, {_shard_owner_sql(_SHARD_W4)} AS owner
            FROM hh
        """,
        # rendezvous: per-host argmax of md5(host|worker) hex — the
        # relational row_number form of the Spark side's array_max
        # (ties by worker DESC match struct ordering; md5 collisions
        # don't occur)
        "hrw_assign": f"""
            WITH hosts AS (
              SELECT DISTINCT source || '.test' AS host
              FROM documents),
            x AS (
              SELECT host, w, md5(host || '|' || w) AS s
              FROM hosts,
                   (SELECT unnest({_SHARD_W4!r}) AS w))
            SELECT host, w AS owner FROM (
              SELECT host, w,
                     row_number() OVER (PARTITION BY host
                       ORDER BY s DESC, w DESC) AS rk
              FROM x)
            WHERE rk = 1
        """,
        "ring_moves": _SHARD_HOSTS_SQL + f"""
            , r AS (
              SELECT {_shard_owner_sql(_SHARD_W4)} AS owner_before,
                     {_shard_owner_sql(_SHARD_W5)} AS owner_after
              FROM hh)
            SELECT owner_before, owner_after,
                   CAST(count(*) AS BIGINT) AS n_hosts
            FROM r GROUP BY owner_before, owner_after
        """,
        "events_rate_windows": """
            SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts))
                        AS BIGINT) AS window_start_s,
                   CAST(user_id AS VARCHAR) AS host,
                   CAST(count(*) AS BIGINT) AS fetches
            FROM events GROUP BY 1, 2
        """,
        "aimd_rates": """
            WITH RECURSIVE ev AS (
              SELECT CAST(user_id AS VARCHAR) AS host, event_id,
                     (event_type = 'error') AS is_err,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS seq
              FROM events),
            n AS (SELECT host, CAST(count(*) AS BIGINT) AS n_events,
                         CAST(sum(CASE WHEN is_err THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_errors
                  FROM ev GROUP BY host),
            steps AS (
              SELECT host, 0 AS seq, CAST(1000 AS BIGINT) AS rate,
                     CAST(1000 AS BIGINT) AS mn,
                     CAST(1000 AS BIGINT) AS mx
              FROM n
              UNION ALL
              SELECT s.host, e.seq,
                     CASE WHEN e.is_err
                          THEN greatest(125, s.rate // 2)
                          ELSE least(8000, s.rate + 100) END,
                     least(s.mn, CASE WHEN e.is_err
                          THEN greatest(125, s.rate // 2)
                          ELSE least(8000, s.rate + 100) END),
                     greatest(s.mx, CASE WHEN e.is_err
                          THEN greatest(125, s.rate // 2)
                          ELSE least(8000, s.rate + 100) END)
              FROM steps s JOIN ev e
                ON e.host = s.host AND e.seq = s.seq + 1)
            SELECT n.host, n.n_events, n.n_errors,
                   CAST(st.rate AS BIGINT) AS rate_final,
                   CAST(st.mn AS BIGINT) AS rate_min,
                   CAST(st.mx AS BIGINT) AS rate_max
            FROM n JOIN steps st
              ON st.host = n.host AND st.seq = n.n_events
        """,
        "events_rate_alerts": """
            WITH r AS (
              SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts))
                          AS BIGINT) AS window_start_s,
                     CAST(user_id AS VARCHAR) AS host,
                     CAST(count(*) AS BIGINT) AS fetches
              FROM events GROUP BY 1, 2)
            SELECT window_start_s, host, fetches,
                   CAST(fetches - 1 AS BIGINT) AS over
            FROM r WHERE fetches > 1
        """,
        "focused_frontier": f"""
            WITH {_EDGES_SQL},
            toks AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '),
                                 x -> x <> '') AS a
              FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(a || CASE WHEN len(a) < 2
                       THEN []::VARCHAR[]
                       ELSE list_transform(
                         generate_series(1, len(a) - 1),
                         i -> a[i] || '_' || a[i + 1]) END) AS gram
              FROM toks),
            feats AS (
              SELECT doc_id,
                     CAST(('0x' || substring(md5(gram), 1, 15))
                          AS BIGINT) % 4096 AS bucket
              FROM grams),
            w AS (
              SELECT range AS bucket,
                     CAST(range % 21 - 10 AS BIGINT) AS weight_milli
              FROM range(0, 4096, 3)),
            s AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                     CAST(sum(coalesce(weight_milli, 0)) AS BIGINT)
                       AS wsum
              FROM feats LEFT JOIN w USING (bucket)
              GROUP BY doc_id),
            p0 AS (
              SELECT doc_id AS node,
                     greatest(CAST(0 AS BIGINT),
                              (wsum * 1000) // n_feats) * 1000 + 999
                         AS packed
              FROM s),
            c1 AS (
              SELECT e.dst AS node,
                     ((p.packed // 1000) * 500000) // 1000000 * 1000
                       + (p.packed % 1000 - 1) AS packed
              FROM edges e JOIN p0 p ON p.node = e.src),
            p1 AS (
              SELECT node, max(packed) AS packed
              FROM (SELECT * FROM p0 UNION ALL SELECT * FROM c1)
              GROUP BY node),
            c2 AS (
              SELECT e.dst AS node,
                     ((p.packed // 1000) * 500000) // 1000000 * 1000
                       + (p.packed % 1000 - 1) AS packed
              FROM edges e JOIN p1 p ON p.node = e.src),
            p2 AS (
              SELECT node, max(packed) AS packed
              FROM (SELECT * FROM p1 UNION ALL SELECT * FROM c2)
              GROUP BY node)
            SELECT node,
                   CAST(packed // 1000 AS BIGINT) AS priority_milli,
                   CAST(999 - packed % 1000 AS INT) AS hops
            FROM p2
        """,
        "clf_scores": _CLF_CTE + """
            SELECT doc_id, n_feats,
                   CAST((wsum * 1000) // n_feats AS BIGINT)
                     AS score_milli,
                   ((wsum * 1000) // n_feats) >= 0 AS keep
            FROM s
        """,
        "clf_kappa": _CLF_CTE + """
            , ct AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN la AND lb THEN 1 ELSE 0 END)
                          AS BIGINT) AS n11,
                     CAST(sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0
                              END) AS BIGINT) AS n10,
                     CAST(sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0
                              END) AS BIGINT) AS n01,
                     CAST(sum(CASE WHEN NOT la AND NOT lb THEN 1
                              ELSE 0 END) AS BIGINT) AS n00
              FROM sc JOIN lb USING (doc_id)),
            k AS (
              SELECT *,
                     CAST(1000000 * (n00 + n11) // n AS BIGINT)
                       AS po_ppm,
                     CAST(((n11 + n10)::HUGEINT * (n11 + n01)
                           + (n00 + n01)::HUGEINT * (n00 + n10))
                          * 1000000 // (n::HUGEINT * n) AS BIGINT)
                       AS pe_ppm
              FROM ct)
            SELECT n, n11, n10, n01, n00, po_ppm, pe_ppm,
                   CASE WHEN pe_ppm = 1000000 THEN CAST(0 AS BIGINT)
                        WHEN po_ppm >= pe_ppm THEN
                          CAST((po_ppm - pe_ppm) * 1000000
                               // (1000000 - pe_ppm) AS BIGINT)
                        ELSE -CAST((pe_ppm - po_ppm) * 1000000
                               // (1000000 - pe_ppm) AS BIGINT) END
                     AS kappa_ppm
            FROM k
        """,
        "clf_calibration": _CLF_CTE + """
            , p AS (
              SELECT sc.doc_id,
                     least(1000000,
                           greatest(0, score_milli * 100 + 500000))
                       AS prob_ppm,
                     lb.lb AS label
              FROM sc JOIN lb USING (doc_id)),
            bins AS (
              SELECT least(prob_ppm * 10 // 1000000, 9) AS bin,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(prob_ppm) // count(*) AS BIGINT)
                       AS mean_prob_ppm,
                     CAST(1000000 * sum(CASE WHEN label THEN 1
                          ELSE 0 END) // count(*) AS BIGINT)
                       AS frac_pos_ppm
              FROM p GROUP BY bin)
            SELECT bin, n, mean_prob_ppm, frac_pos_ppm,
                   CAST(abs(mean_prob_ppm - frac_pos_ppm) AS BIGINT)
                     AS gap_ppm
            FROM bins
        """,
        "clf_label_noise": _CLF_CTE + """
            , p AS (
              SELECT sc.doc_id,
                     least(1000000,
                           greatest(0, score_milli * 100 + 500000))
                       AS prob_ppm,
                     lb.lb AS label
              FROM sc JOIN lb USING (doc_id)),
            lnt AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_pos,
                     CAST(sum(CASE WHEN label THEN prob_ppm END)
                          // sum(CASE WHEN label THEN 1 END)
                          AS BIGINT) AS t_pos_ppm,
                     CAST(sum(CASE WHEN NOT label THEN prob_ppm END)
                          // sum(CASE WHEN NOT label THEN 1 END)
                          AS BIGINT) AS t_neg_ppm
              FROM p),
            lns AS (
              SELECT lnt.n, lnt.n_pos, lnt.t_pos_ppm, lnt.t_neg_ppm,
                     CAST(sum(CASE WHEN p.label
                                AND lnt.t_neg_ppm IS NOT NULL
                                AND p.prob_ppm <= lnt.t_neg_ppm
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS sus_pos,
                     CAST(sum(CASE WHEN NOT p.label
                                AND lnt.t_pos_ppm IS NOT NULL
                                AND p.prob_ppm >= lnt.t_pos_ppm
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS sus_neg
              FROM p, lnt
              GROUP BY lnt.n, lnt.n_pos, lnt.t_pos_ppm, lnt.t_neg_ppm)
            SELECT n, n_pos, t_pos_ppm, t_neg_ppm, sus_pos, sus_neg,
                   CASE WHEN t_pos_ppm IS NOT NULL
                        AND t_neg_ppm IS NOT NULL THEN
                     CAST(1000000 * (sus_pos + sus_neg) // n
                          AS BIGINT) END AS noise_ppm
            FROM lns
        """,
        "clf_mcnemar": _CLF_CTE + """
            , pj AS (
              SELECT sc.score_milli >= 0 AS pa,
                     sc.score_milli >= 100 AS pb,
                     lb.lb AS label
              FROM sc JOIN lb USING (doc_id)),
            mt AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN pa = label AND pb != label
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_disc_a,
                     CAST(sum(CASE WHEN pa != label AND pb = label
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_disc_b
              FROM pj)
            SELECT n, n_disc_a, n_disc_b,
                   CASE WHEN n_disc_a + n_disc_b = 0
                        THEN CAST(0 AS BIGINT)
                        ELSE CAST(1000 * greatest(
                               abs(n_disc_a - n_disc_b) - 1,
                               0)::HUGEINT
                             * greatest(
                               abs(n_disc_a - n_disc_b) - 1, 0)
                             // (n_disc_a + n_disc_b) AS BIGINT) END
                     AS chi2_milli
            FROM mt
        """,
        "clf_mcc": _CLF_CTE + """
            , ct AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN la AND lb THEN 1 ELSE 0 END)
                          AS BIGINT) AS tp,
                     CAST(sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0
                              END) AS BIGINT) AS fp,
                     CAST(sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0
                              END) AS BIGINT) AS fn,
                     CAST(sum(CASE WHEN NOT la AND NOT lb THEN 1
                              ELSE 0 END) AS BIGINT) AS tn
              FROM sc JOIN lb USING (doc_id)),
            m1 AS (
              SELECT *, (tp + fp)::HUGEINT * (tp + fn) AS pa,
                     (tn + fp)::HUGEINT * (tn + fn) AS pb,
                     tp::HUGEINT * tn - fp::HUGEINT * fn AS num
              FROM ct),
            m2 AS (
              SELECT *,
                     CAST(floor(sqrt(CAST(pa AS DOUBLE)))
                          AS BIGINT) AS s0,
                     CAST(floor(sqrt(CAST(pb AS DOUBLE)))
                          AS BIGINT) AS s1
              FROM m1),
            m3 AS (
              SELECT *,
                     CASE WHEN pa = 0 THEN 0::HUGEINT
                          WHEN (s0 + 1)::HUGEINT * (s0 + 1) <= pa
                            THEN s0 + 1
                          WHEN s0::HUGEINT * s0 > pa THEN s0 - 1
                          ELSE s0 END AS ra,
                     CASE WHEN pb = 0 THEN 0::HUGEINT
                          WHEN (s1 + 1)::HUGEINT * (s1 + 1) <= pb
                            THEN s1 + 1
                          WHEN s1::HUGEINT * s1 > pb THEN s1 - 1
                          ELSE s1 END AS rb
              FROM m2)
            SELECT n, tp, fp, fn, tn,
                   CASE WHEN ra * rb = 0 THEN CAST(0 AS BIGINT)
                        WHEN num >= 0 THEN
                          least(CAST(1000 * num // (ra * rb)
                                AS BIGINT), 1000)
                        ELSE greatest(-CAST(1000 * (-num)
                               // (ra * rb) AS BIGINT), -1000) END
                     AS mcc_milli
            FROM m3
        """,
        "clf_fleiss": """
            WITH ra AS (
              SELECT doc_id AS item_id,
                     CASE WHEN (doc_id * 31 + r * 17) % 5 < 3
                          THEN doc_id % 3
                          ELSE (doc_id + r) % 3 END AS category
              FROM documents, (SELECT unnest([1, 2, 3]) AS r)),
            cell AS (
              SELECT item_id, category,
                     CAST(count(*) AS BIGINT) AS nij
              FROM ra GROUP BY item_id, category),
            pi AS (
              SELECT item_id, sum(nij) AS ni,
                     CAST(sum(nij * nij) AS BIGINT) AS sq
              FROM cell GROUP BY item_id),
            fullp AS (SELECT * FROM pi WHERE ni = 3),
            tot AS (
              SELECT CAST(count(*) AS BIGINT) AS n_items,
                     CAST(sum(sq - 3) AS BIGINT) AS agree_sum
              FROM fullp),
            marg AS (
              SELECT sum(cj::HUGEINT * cj) AS cj_sq_sum
              FROM (SELECT c.category,
                           CAST(sum(c.nij) AS BIGINT) AS cj
                    FROM cell c JOIN fullp USING (item_id)
                    GROUP BY c.category)),
            k AS (
              SELECT n_items, CAST(3 AS BIGINT) AS n_raters,
                     CASE WHEN n_items = 0 THEN NULL
                          ELSE CAST(1000000::HUGEINT * agree_sum
                          // (n_items::HUGEINT * 6) AS BIGINT) END
                       AS po_ppm,
                     CASE WHEN n_items = 0 THEN NULL
                          ELSE CAST(1000000::HUGEINT * cj_sq_sum
                          // (n_items::HUGEINT * n_items * 9)
                          AS BIGINT) END AS pe_ppm
              FROM tot, marg)
            SELECT n_items, n_raters, po_ppm, pe_ppm,
                   CASE WHEN pe_ppm = 1000000 THEN CAST(0 AS BIGINT)
                        WHEN po_ppm >= pe_ppm THEN
                          CAST((po_ppm - pe_ppm) * 1000000
                               // (1000000 - pe_ppm) AS BIGINT)
                        ELSE -CAST((pe_ppm - po_ppm) * 1000000
                               // (1000000 - pe_ppm) AS BIGINT) END
                     AS kappa_ppm
            FROM k
        """,
        "dist_shift_emd": """
            WITH d AS (
              SELECT CAST(len(coalesce(text, ''))
                          + CASE WHEN doc_id % 2 = 0 THEN 15
                                 ELSE 0 END AS BIGINT) AS v,
                     doc_id % 2 = 0 AS fl
              FROM documents),
            g AS (
              SELECT v,
                     CAST(sum(CASE WHEN fl THEN 1 ELSE 0 END)
                          AS BIGINT) AS ca,
                     CAST(sum(CASE WHEN fl THEN 0 ELSE 1 END)
                          AS BIGINT) AS cb
              FROM d GROUP BY v),
            r AS (
              SELECT v,
                     sum(ca) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS cuma,
                     sum(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS cumb,
                     lead(v) OVER (ORDER BY v) - v AS gap
              FROM g),
            t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                         CAST(sum(cb) AS BIGINT) AS n_b FROM g),
            s AS (
              SELECT t.n_a, t.n_b,
                     sum(CAST(abs(r.cuma * t.n_b - r.cumb * t.n_a)
                              AS HUGEINT) * coalesce(r.gap, 0)) AS w
              FROM r, t GROUP BY t.n_a, t.n_b)
            SELECT n_a, n_b,
                   CASE WHEN n_a > 0 AND n_b > 0 THEN
                     CAST(1000000 * w // (CAST(n_a AS HUGEINT) * n_b)
                          AS BIGINT) END AS emd_value_micro
            FROM s
        """,
        "dist_shift_ks": """
            WITH d AS (
              SELECT CAST(len(coalesce(text, ''))
                          + CASE WHEN doc_id % 2 = 0 THEN 15
                                 ELSE 0 END AS BIGINT) AS v,
                     doc_id % 2 = 0 AS fl
              FROM documents),
            g AS (
              SELECT v,
                     CAST(sum(CASE WHEN fl THEN 1 ELSE 0 END)
                          AS BIGINT) AS ca,
                     CAST(sum(CASE WHEN fl THEN 0 ELSE 1 END)
                          AS BIGINT) AS cb
              FROM d GROUP BY v),
            r AS (
              SELECT v,
                     sum(ca) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS cuma,
                     sum(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS cumb
              FROM g),
            t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                         CAST(sum(cb) AS BIGINT) AS n_b FROM g),
            s AS (
              SELECT t.n_a, t.n_b, r.v,
                     CAST(abs(r.cuma * t.n_b - r.cumb * t.n_a)
                          AS BIGINT) AS d_scaled
              FROM r, t
              ORDER BY d_scaled DESC, v ASC LIMIT 1)
            SELECT n_a, n_b, d_scaled,
                   CASE WHEN n_a > 0 AND n_b > 0 THEN
                     CAST(1000000 * d_scaled // (n_a * n_b)
                          AS BIGINT) END AS ks_ppm,
                   v AS at_value
            FROM s
        """,
        # Murphy decomposition: bin means quantized to ppm FIRST (abs
        # before //, nonneg operands, so Spark DIV == DuckDB //);
        # exact squared sums ride HUGEINT.
        "clf_brier": _CLF_CTE + """
            , p AS (
              SELECT sc.doc_id,
                     least(1000000,
                           greatest(0, score_milli * 100 + 500000))
                       AS prob_ppm,
                     lb.lb AS label
              FROM sc JOIN lb USING (doc_id)),
            bb AS (
              SELECT least(prob_ppm * 10 // 1000000, 9) AS bin,
                     CAST(count(*) AS BIGINT) AS nk,
                     CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
                          AS BIGINT) AS posk,
                     sum(CAST(prob_ppm AS HUGEINT)) AS pk,
                     sum(CAST(prob_ppm - CASE WHEN label THEN 1000000
                              ELSE 0 END AS HUGEINT)
                         * (prob_ppm - CASE WHEN label THEN 1000000
                            ELSE 0 END)) AS sqk
              FROM p GROUP BY bin),
            b2 AS (
              SELECT nk, posk, sqk,
                     abs(pk - CAST(posk AS HUGEINT) * 1000000) // nk
                       AS gapk,
                     1000000 * posk // nk AS oacck
              FROM bb),
            tt AS (
              SELECT CAST(sum(nk) AS BIGINT) AS n,
                     CAST(sum(posk) AS BIGINT) AS n_pos,
                     CAST(count(*) AS BIGINT) AS n_bins_used,
                     sum(sqk) AS sq,
                     sum(CAST(nk AS HUGEINT) * gapk * gapk) AS rel
              FROM b2),
            rr AS (
              SELECT sum(CAST(b2.nk AS HUGEINT)
                         * abs(b2.oacck - 1000000 * tt.n_pos // tt.n)
                         * abs(b2.oacck - 1000000 * tt.n_pos // tt.n))
                       AS res
              FROM b2, tt)
            SELECT n, n_pos, n_bins_used, brier_ppm, rel_ppm, res_ppm,
                   unc_ppm,
                   CAST(brier_ppm - (rel_ppm - res_ppm + unc_ppm)
                        AS BIGINT) AS resid_ppm
            FROM (
              SELECT tt.n, tt.n_pos, tt.n_bins_used,
                     CAST(sq // (CAST(tt.n AS HUGEINT) * 1000000)
                          AS BIGINT) AS brier_ppm,
                     CAST(rel // (CAST(tt.n AS HUGEINT) * 1000000)
                          AS BIGINT) AS rel_ppm,
                     CAST(rr.res // (CAST(tt.n AS HUGEINT) * 1000000)
                          AS BIGINT) AS res_ppm,
                     CAST(CAST(1000000 AS HUGEINT) * tt.n_pos
                          * (tt.n - tt.n_pos)
                          // (CAST(tt.n AS HUGEINT) * tt.n)
                          AS BIGINT) AS unc_ppm
              FROM tt, rr)
        """,
        "clf_ece": _CLF_CTE + """
            , p AS (
              SELECT sc.doc_id,
                     least(1000000,
                           greatest(0, score_milli * 100 + 500000))
                       AS prob_ppm,
                     lb.lb AS label
              FROM sc JOIN lb USING (doc_id)),
            bins AS (
              SELECT least(prob_ppm * 10 // 1000000, 9) AS bin,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(prob_ppm) // count(*) AS BIGINT)
                       AS mean_prob_ppm,
                     CAST(1000000 * sum(CASE WHEN label THEN 1
                          ELSE 0 END) // count(*) AS BIGINT)
                       AS frac_pos_ppm
              FROM p GROUP BY bin)
            SELECT CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(n * abs(mean_prob_ppm - frac_pos_ppm))
                        // sum(n) AS BIGINT) AS ece_ppm
            FROM bins
        """,
        "clf_auc": _CLF_CTE + """
            , j AS (
              SELECT sc.score_milli AS score, lb.lb AS label
              FROM sc JOIN lb USING (doc_id)),
            g AS (
              SELECT score, CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
                          AS BIGINT) AS pos
              FROM j GROUP BY score),
            r AS (
              SELECT *, sum(cnt) OVER (
                ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS cum
              FROM g),
            t AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS n,
                     CAST(sum(pos) AS BIGINT) AS n_pos,
                     CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
                     CAST(count(*) AS BIGINT) AS n_score_groups,
                     sum(pos::HUGEINT * (2 * cum - cnt + 1)) AS r2p
              FROM r)
            SELECT n, n_pos, n_neg, n_score_groups,
                   CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                     CAST((r2p - n_pos::HUGEINT * (n_pos + 1))
                          * 1000000
                          // (2 * n_pos::HUGEINT * n_neg) AS BIGINT)
                   END AS auc_ppm
            FROM t
        """,
        # tie-bounded AP: DESC-order prefix counts, per-positive ppm
        # terms via list_transform(range(1, pos+1)) — the SQL mirror
        # of the Spark side's aggregate(sequence(1, pos)).
        "clf_ap": _CLF_CTE + """
            , j AS (
              SELECT sc.score_milli AS score, lb.lb AS label
              FROM sc JOIN lb USING (doc_id)),
            g AS (
              SELECT score, CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(CASE WHEN label THEN 1 ELSE 0 END)
                          AS BIGINT) AS pos
              FROM j GROUP BY score),
            r AS (
              SELECT *,
                     sum(cnt) OVER (ORDER BY score DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS cumr,
                     sum(pos) OVER (ORDER BY score DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                       ROW) AS cump
              FROM g),
            aps AS (
              SELECT cnt, pos,
                     CASE WHEN pos > 0 THEN
                       list_sum(list_transform(range(1, pos + 1),
                         i -> 1000000 * (cump - pos + i)
                              // (cumr - cnt + i)))
                     ELSE 0 END AS t_opt,
                     CASE WHEN pos > 0 THEN
                       list_sum(list_transform(range(1, pos + 1),
                         i -> 1000000 * (cump - pos + i)
                              // (cumr - pos + i)))
                     ELSE 0 END AS t_pes
              FROM r),
            apt AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS n,
                     CAST(sum(pos) AS BIGINT) AS n_pos,
                     CAST(count(*) AS BIGINT) AS n_score_groups,
                     sum(t_opt) AS so, sum(t_pes) AS sp
              FROM aps)
            SELECT n, n_pos, n_score_groups,
                   CASE WHEN n_pos > 0 THEN
                     CAST(so // n_pos AS BIGINT) END AS ap_opt_ppm,
                   CASE WHEN n_pos > 0 THEN
                     CAST(sp // n_pos AS BIGINT) END AS ap_pes_ppm
            FROM apt
        """,
        "text_readability": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                       THEN coalesce(text, '') || '. Done. Really!'
                       WHEN doc_id % 5 = 1
                       THEN coalesce(text, '') || '?'
                       ELSE text END AS text
              FROM documents),
            m AS (
              SELECT doc_id,
                     CAST(len(list_filter(
                       string_split(coalesce(text, ''), ' '),
                       x -> x <> '')) AS BIGINT) AS n_words,
                     CAST(greatest(1,
                       (len(coalesce(text, ''))
                        - len(replace(coalesce(text, ''), '.', '')))
                       + (len(coalesce(text, ''))
                        - len(replace(coalesce(text, ''), '!', '')))
                       + (len(coalesce(text, ''))
                        - len(replace(coalesce(text, ''), '?', ''))))
                       AS BIGINT) AS n_sents,
                     CAST(greatest(0,
                       len(regexp_split_to_array(
                         lower(coalesce(text, '')), '[aeiouy]+'))
                       - 1) AS BIGINT) AS runs
              FROM d),
            s AS (
              SELECT doc_id, n_words, n_sents,
                     greatest(runs, n_words) AS n_syll
              FROM m)
            SELECT doc_id, n_words, n_sents, n_syll,
                   CASE WHEN n_words > 0 THEN
                     CAST((390 * n_words) // n_sents
                          + (11800 * n_syll) // n_words
                          - 15590 AS BIGINT) END AS grade_milli,
                   CASE WHEN n_words > 0 THEN
                     CAST(206835 - (1015 * n_words) // n_sents
                          - (84600 * n_syll) // n_words AS BIGINT)
                   END AS ease_milli
            FROM s
        """,
        "text_mojibake": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 13 = 0
                       THEN replace(coalesce(text, ''), 'e', 'Ã©')
                       WHEN doc_id % 13 = 1
                       THEN coalesce(text, '') || ' ï¿½ â€” broken'
                       WHEN doc_id % 13 = 2
                       THEN 'Â Â ' || coalesce(text, '')
                       ELSE text END AS text
              FROM documents),
            o AS (
              SELECT doc_id,
                     (len(coalesce(text, ''))
                      - len(replace(coalesce(text, ''), 'Ã', '')))
                       // 1 AS o0,
                     (len(coalesce(text, ''))
                      - len(replace(coalesce(text, ''), 'â€', '')))
                       // 2 AS o1,
                     (len(coalesce(text, ''))
                      - len(replace(coalesce(text, ''), 'Â', '')))
                       // 1 AS o2,
                     (len(coalesce(text, ''))
                      - len(replace(coalesce(text, ''), 'ï¿½', '')))
                       // 3 AS o3,
                     (len(coalesce(text, ''))
                      - len(replace(coalesce(text, ''), '�', '')))
                       // 1 AS o4
              FROM d)
            SELECT doc_id,
                   CAST(o0 + o1 + o2 + o3 + o4 AS BIGINT)
                     AS moji_hits,
                   CAST((CASE WHEN o0 > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN o1 > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN o2 > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN o3 > 0 THEN 1 ELSE 0 END)
                        + (CASE WHEN o4 > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS moji_kinds,
                   (o0 + o1 + o2 + o3 + o4 >= 3
                    OR (CASE WHEN o0 > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN o1 > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN o2 > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN o3 > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN o4 > 0 THEN 1 ELSE 0 END) >= 2)
                     AS moji_suspect
            FROM o
        """,
        "lm_kn_bigram": _BIGRAM_CTE + """
            , ctx AS (
              SELECT w1, CAST(sum(cnt) AS BIGINT) AS c_u,
                     CAST(count(*) AS BIGINT) AS n1_fwd
              FROM c2 GROUP BY w1),
            cont AS (
              SELECT w2, CAST(count(*) AS BIGINT) AS n1_back
              FROM c2 GROUP BY w2),
            nb AS (SELECT CAST(count(*) AS BIGINT) AS n_bi FROM c2)
            SELECT w1, w2, cnt AS c_uw, c_u, n1_fwd, n1_back,
                   CAST((4 * cnt - 3)::HUGEINT * 1000000
                          // (4 * c_u)
                        + (3::HUGEINT * n1_fwd * n1_back * 1000000)
                          // (4::HUGEINT * c_u * n_bi)
                        AS BIGINT) AS pkn_ppm
            FROM c2 JOIN ctx USING (w1) JOIN cont USING (w2)
                 CROSS JOIN nb
            WHERE cnt >= 2
        """,
        "lm_source_kl": """
            WITH tok AS (
              SELECT source, t FROM (
                SELECT source, unnest(string_split(text, ' ')) AS t
                FROM documents)
              WHERE t <> ''),
            st AS (
              SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
              FROM tok GROUP BY source, t),
            ct AS (
              SELECT t, CAST(count(*) AS BIGINT) AS c_t
              FROM tok GROUP BY t),
            ns AS (
              SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s,
                     CAST(count(*) AS BIGINT) AS n_types
              FROM st GROUP BY source),
            nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_tot FROM ct),
            w AS (
              SELECT source, n_s, n_types, c_st,
                     CASE WHEN c_st::HUGEINT * n_tot
                               >= n_s::HUGEINT * c_t THEN
                       length(bin(CAST(
                         (c_st::HUGEINT * n_tot)
                         * (c_st::HUGEINT * n_tot)
                         // ((n_s::HUGEINT * c_t)
                             * (n_s::HUGEINT * c_t))
                         AS BIGINT))) - 1
                     ELSE -(length(bin(CAST(
                         (n_s::HUGEINT * c_t)
                         * (n_s::HUGEINT * c_t)
                         // ((c_st::HUGEINT * n_tot)
                             * (c_st::HUGEINT * n_tot))
                         AS BIGINT))) - 1) END AS w_hb
              FROM st JOIN ct USING (t) JOIN ns USING (source)
                   CROSS JOIN nt),
            s AS (
              SELECT source, n_s, n_types,
                     CAST(sum(c_st * w_hb) AS BIGINT) AS num
              FROM w GROUP BY source, n_s, n_types)
            SELECT source, n_s AS n_tokens, n_types,
                   CASE WHEN num >= 0 THEN
                     CAST(num // n_s AS BIGINT)
                   ELSE -CAST((-num) // n_s AS BIGINT) END AS kl_hb
            FROM s
        """,
        "search_suggest": """
            WITH tok AS (
              SELECT doc_id, t AS term FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)
              WHERE t <> ''),
            dfr AS (
              SELECT term,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM tok GROUP BY term),
            pref AS (
              SELECT substr(term, 1, i) AS prefix, term, df FROM (
                SELECT term, df,
                       unnest(generate_series(
                         1, least(len(term), 4))) AS i
                FROM dfr)),
            r AS (
              SELECT prefix, term, df,
                     CAST(row_number() OVER (
                       PARTITION BY prefix
                       ORDER BY df DESC, term ASC) AS INTEGER) AS rnk
              FROM pref)
            SELECT prefix, rnk, term, df FROM r WHERE rnk <= 3
        """,
        "search_spell": """
            WITH tok AS (
              SELECT doc_id, t AS term FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)
              WHERE t <> ''),
            dfr AS (
              SELECT term,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM tok GROUP BY term),
            base AS (
              SELECT term,
                     CAST(('0x' || substring(md5(term), 1, 15))
                          AS BIGINT) % 7 AS h
              FROM dfr WHERE len(term) >= 6),
            q AS (
              SELECT DISTINCT
                     CASE WHEN h = 0
                       THEN substr(term, 1, 2)
                            || substr(term, 4, len(term))
                       ELSE term END AS query
              FROM base WHERE h IN (0, 1)),
            vv0 AS (
              SELECT term, df, unnest(list_distinct(list_prepend(
                       term, list_transform(
                         generate_series(1, len(term)),
                         i -> substr(term, 1, i - 1)
                              || substr(term, i + 1, len(term))))))
                       AS variant
              FROM dfr),
            vv AS (SELECT * FROM vv0 WHERE len(variant) >= 2),
            stop AS (
              SELECT variant FROM vv
              GROUP BY variant HAVING count(*) <= 64),
            vv2 AS (SELECT vv.* FROM vv JOIN stop USING (variant)),
            qq0 AS (
              SELECT query, unnest(list_distinct(list_prepend(
                       query, list_transform(
                         generate_series(1, len(query)),
                         i -> substr(query, 1, i - 1)
                              || substr(query, i + 1, len(query))))))
                       AS variant
              FROM q),
            qq AS (SELECT * FROM qq0 WHERE len(variant) >= 2),
            c AS (
              SELECT DISTINCT query, term, df
              FROM qq JOIN vv2 USING (variant)),
            v AS (
              SELECT query, term, df,
                     CAST(levenshtein(query, term) AS INTEGER)
                       AS dist
              FROM c WHERE levenshtein(query, term) <= 1),
            r AS (
              SELECT query, term, df, dist,
                     CAST(row_number() OVER (
                       PARTITION BY query
                       ORDER BY dist ASC, df DESC, term ASC)
                       AS INTEGER) AS rnk
              FROM v)
            SELECT query, rnk, term, df, dist FROM r WHERE rnk <= 3
        """,
        "dedup_editdist": """
            WITH t AS (
              SELECT doc_id,
                     CASE CAST(doc_id % 3 AS INT)
                       WHEN 0 THEN 'crawl report '
                            || CAST(doc_id // 3 AS VARCHAR)
                       WHEN 1 THEN 'crawl reporT '
                            || CAST(doc_id // 3 AS VARCHAR)
                       ELSE 'crawl repor '
                            || CAST(doc_id // 3 AS VARCHAR) END AS s
              FROM documents),
            v0 AS (
              SELECT doc_id, s, unnest(list_distinct(list_prepend(
                       s, list_transform(
                         generate_series(1, len(s)),
                         i -> substr(s, 1, i - 1)
                              || substr(s, i + 1, len(s))))))
                       AS variant
              FROM t),
            v1 AS (SELECT * FROM v0 WHERE len(variant) >= 2),
            ok AS (
              SELECT variant FROM v1
              GROUP BY variant HAVING count(*) <= 64),
            vv AS (SELECT v1.* FROM v1 JOIN ok USING (variant)),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.s AS sa, b.s AS sb
              FROM vv a JOIN vv b USING (variant)
              WHERE a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   CAST(levenshtein(sa, sb) AS INTEGER) AS dist
            FROM cand WHERE levenshtein(sa, sb) <= 1
        """,
        "graph_densest": "WITH " + _EDGES_SQL + """
            , e0 AS (
                SELECT src, dst FROM edges WHERE src <> dst
                UNION
                SELECT dst AS src, src AS dst FROM edges
                WHERE src <> dst),
            d0 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
                   FROM e0 GROUP BY src),
            s0 AS (SELECT CAST(coalesce(sum(deg), 0) AS BIGINT) AS e2,
                          CAST(count(*) AS BIGINT) AS n FROM d0),
            a0 AS (SELECT node FROM d0, s0
                   WHERE 8::HUGEINT * deg * n > 9::HUGEINT * e2),
            ee1 AS (SELECT e.src, e.dst FROM e0 e
                    JOIN a0 x ON x.node = e.src
                    JOIN a0 y ON y.node = e.dst),
            d1 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
                   FROM ee1 GROUP BY src),
            s1 AS (SELECT CAST(coalesce(sum(deg), 0) AS BIGINT) AS e2,
                          CAST(count(*) AS BIGINT) AS n FROM d1),
            a1 AS (SELECT node FROM d1, s1
                   WHERE 8::HUGEINT * deg * n > 9::HUGEINT * e2),
            ee2 AS (SELECT e.src, e.dst FROM ee1 e
                    JOIN a1 x ON x.node = e.src
                    JOIN a1 y ON y.node = e.dst),
            d2 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
                   FROM ee2 GROUP BY src),
            s2 AS (SELECT CAST(coalesce(sum(deg), 0) AS BIGINT) AS e2,
                          CAST(count(*) AS BIGINT) AS n FROM d2),
            u AS (
              SELECT CAST(0 AS BIGINT) AS round, n AS n_nodes,
                     CAST(e2 // 2 AS BIGINT) AS n_edges,
                     CASE WHEN n > 0 THEN CAST(500 * e2 // n AS BIGINT)
                          ELSE CAST(0 AS BIGINT) END AS density_milli
              FROM s0
              UNION ALL
              SELECT CAST(1 AS BIGINT), n, CAST(e2 // 2 AS BIGINT),
                     CASE WHEN n > 0 THEN CAST(500 * e2 // n AS BIGINT)
                          ELSE CAST(0 AS BIGINT) END
              FROM s1
              UNION ALL
              SELECT CAST(2 AS BIGINT), n, CAST(e2 // 2 AS BIGINT),
                     CASE WHEN n > 0 THEN CAST(500 * e2 // n AS BIGINT)
                          ELSE CAST(0 AS BIGINT) END
              FROM s2),
            mx AS (SELECT max(density_milli) AS m FROM u),
            br AS (SELECT min(round) AS b FROM u, mx
                   WHERE density_milli = m)
            SELECT round, n_nodes, n_edges, density_milli,
                   round = b AS is_best
            FROM u, br
        """,
        "emb_matryoshka": """
            WITH v AS (
              SELECT vec_id,
                     list_transform(embedding, x ->
                       CAST(round(CAST(x AS DOUBLE) * 1000)
                            AS BIGINT)) AS v
              FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS qv
                  FROM v WHERE vec_id < 10),
            sc AS (
              SELECT q_id, vec_id,
                     CAST(list_sum(list_transform(
                       range(1, len(qv) + 1), i -> qv[i] * v[i]))
                       AS BIGINT) AS score
              FROM q, v WHERE q_id != vec_id),
            t AS (
              SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY score DESC, vec_id) AS rnk
                FROM sc) WHERE rnk <= 5),
            nq AS (SELECT CAST(count(DISTINCT q_id) AS BIGINT)
                     AS n_q FROM t),
            sc8 AS (
              SELECT q_id, vec_id,
                     CAST(list_sum(list_transform(range(1, 9),
                       i -> qv[i] * v[i])) AS BIGINT) AS score
              FROM q, v WHERE q_id != vec_id),
            t8 AS (
              SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY score DESC, vec_id) AS rnk
                FROM sc8) WHERE rnk <= 5),
            h8 AS (SELECT CAST(count(*) AS BIGINT) AS th
                   FROM t8 JOIN t USING (q_id, vec_id)),
            sc16 AS (
              SELECT q_id, vec_id,
                     CAST(list_sum(list_transform(range(1, 17),
                       i -> qv[i] * v[i])) AS BIGINT) AS score
              FROM q, v WHERE q_id != vec_id),
            t16 AS (
              SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY score DESC, vec_id) AS rnk
                FROM sc16) WHERE rnk <= 5),
            h16 AS (SELECT CAST(count(*) AS BIGINT) AS th
                    FROM t16 JOIN t USING (q_id, vec_id)),
            sc32 AS (
              SELECT q_id, vec_id,
                     CAST(list_sum(list_transform(range(1, 33),
                       i -> qv[i] * v[i])) AS BIGINT) AS score
              FROM q, v WHERE q_id != vec_id),
            t32 AS (
              SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY score DESC, vec_id) AS rnk
                FROM sc32) WHERE rnk <= 5),
            h32 AS (SELECT CAST(count(*) AS BIGINT) AS th
                    FROM t32 JOIN t USING (q_id, vec_id))
            SELECT CAST(8 AS BIGINT) AS dims, n_q,
                   th AS total_hits,
                   CASE WHEN n_q > 0 THEN
                     CAST(1000000 * th // (5 * n_q) AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS recall_ppm
            FROM h8, nq
            UNION ALL
            SELECT CAST(16 AS BIGINT), n_q, th,
                   CASE WHEN n_q > 0 THEN
                     CAST(1000000 * th // (5 * n_q) AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END
            FROM h16, nq
            UNION ALL
            SELECT CAST(32 AS BIGINT), n_q, th,
                   CASE WHEN n_q > 0 THEN
                     CAST(1000000 * th // (5 * n_q) AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END
            FROM h32, nq
        """,
        "emb_sq8": """
            WITH q AS (
              SELECT vec_id, list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                            AS BIGINT)) AS v
              FROM embeddings),
            dims AS (
              SELECT vec_id,
                     CAST(unnest(range(1, len(v) + 1)) - 1
                          AS BIGINT) AS d,
                     unnest(v) AS x
              FROM q),
            rng AS (
              SELECT d, min(x) AS qmin, max(x) AS qmax
              FROM dims GROUP BY d),
            e AS (
              SELECT vec_id,
                     abs(x - (qmin + (CASE WHEN qmax = qmin THEN 0
                       ELSE (x - qmin) * 255 // (qmax - qmin) END)
                       * (qmax - qmin) // 255)) AS err
              FROM dims JOIN rng USING (d))
            SELECT vec_id, CAST(sum(err) AS BIGINT) AS l1_err_milli,
                   CAST(max(err) AS BIGINT) AS max_err_milli
            FROM e GROUP BY vec_id
        """,
        # 3 unrolled power iterations C u = V^T (V u) (same unrolled-
        # fixed-point idiom as graph_pagerank); renormalization uses
        # sign-magnitude integer division, portable across engines.
        "emb_pca_power": f"""
            WITH v AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            e AS (SELECT vec_id, unnest(range(0, len(v))) AS j,
                         unnest(v) AS val FROM v),
            p1 AS (SELECT vec_id, CAST(1000 * sum(val) AS BIGINT) AS p
                   FROM e GROUP BY vec_id),
            w1 AS (SELECT e.j, CAST(sum(p1.p * e.val) AS BIGINT) AS w
                   FROM e JOIN p1 USING (vec_id) GROUP BY e.j),
            m1 AS (SELECT max(abs(w)) AS m FROM w1),
            u1 AS (SELECT j, CASE WHEN m1.m = 0 THEN 0
                                  WHEN w >= 0 THEN (w * 1000) // m1.m
                                  ELSE -(((-w) * 1000) // m1.m) END AS u
                   FROM w1, m1),
            p2 AS (SELECT e.vec_id, CAST(sum(e.val * u1.u) AS BIGINT) AS p
                   FROM e JOIN u1 USING (j) GROUP BY e.vec_id),
            w2 AS (SELECT e.j, CAST(sum(p2.p * e.val) AS BIGINT) AS w
                   FROM e JOIN p2 USING (vec_id) GROUP BY e.j),
            m2 AS (SELECT max(abs(w)) AS m FROM w2),
            u2 AS (SELECT j, CASE WHEN m2.m = 0 THEN 0
                                  WHEN w >= 0 THEN (w * 1000) // m2.m
                                  ELSE -(((-w) * 1000) // m2.m) END AS u
                   FROM w2, m2),
            p3 AS (SELECT e.vec_id, CAST(sum(e.val * u2.u) AS BIGINT) AS p
                   FROM e JOIN u2 USING (j) GROUP BY e.vec_id),
            w3 AS (SELECT e.j, CAST(sum(p3.p * e.val) AS BIGINT) AS w
                   FROM e JOIN p3 USING (vec_id) GROUP BY e.j),
            m3 AS (SELECT max(abs(w)) AS m FROM w3),
            u3 AS (SELECT j, CASE WHEN m3.m = 0 THEN 0
                                  WHEN w >= 0 THEN (w * 1000) // m3.m
                                  ELSE -(((-w) * 1000) // m3.m) END AS u
                   FROM w3, m3)
            SELECT CAST(t AS BIGINT) AS t, CAST(j AS BIGINT) AS j,
                   CAST(u AS BIGINT) AS u_milli
            FROM (SELECT 1 AS t, j, u FROM u1
                  UNION ALL SELECT 2, j, u FROM u2
                  UNION ALL SELECT 3, j, u FROM u3)
        """,
        # unrolled greedy farthest-point selection, k=4: each pX picks
        # the argmax of the running min-distance dX (ties -> lowest
        # vec_id), exactly the Spark coordinator loop's per-pass pick.
        "emb_kcenter": f"""
            WITH v AS (SELECT vec_id, {_QUANT_SQL} AS v FROM embeddings),
            e AS (SELECT vec_id, unnest(range(0, len(v))) AS j,
                         unnest(v) AS val FROM v),
            c1 AS (SELECT min(vec_id) AS id FROM v),
            d1 AS (SELECT a.vec_id,
                          CAST(sum((a.val - b.val) * (a.val - b.val))
                               AS BIGINT) AS m
                   FROM e a JOIN e b ON a.j = b.j
                            JOIN c1 ON b.vec_id = c1.id
                   GROUP BY a.vec_id),
            p2 AS (SELECT vec_id, m FROM d1, c1 WHERE vec_id <> c1.id
                   ORDER BY m DESC, vec_id LIMIT 1),
            x2 AS (SELECT a.vec_id,
                          CAST(sum((a.val - b.val) * (a.val - b.val))
                               AS BIGINT) AS m
                   FROM e a JOIN e b ON a.j = b.j
                            JOIN p2 ON b.vec_id = p2.vec_id
                   GROUP BY a.vec_id),
            d2 AS (SELECT d1.vec_id, least(d1.m, x2.m) AS m
                   FROM d1 JOIN x2 USING (vec_id)),
            p3 AS (SELECT vec_id, m FROM d2, c1
                   WHERE vec_id <> c1.id
                     AND vec_id NOT IN (SELECT vec_id FROM p2)
                   ORDER BY m DESC, vec_id LIMIT 1),
            x3 AS (SELECT a.vec_id,
                          CAST(sum((a.val - b.val) * (a.val - b.val))
                               AS BIGINT) AS m
                   FROM e a JOIN e b ON a.j = b.j
                            JOIN p3 ON b.vec_id = p3.vec_id
                   GROUP BY a.vec_id),
            d3 AS (SELECT d2.vec_id, least(d2.m, x3.m) AS m
                   FROM d2 JOIN x3 USING (vec_id)),
            p4 AS (SELECT vec_id, m FROM d3, c1
                   WHERE vec_id <> c1.id
                     AND vec_id NOT IN (SELECT vec_id FROM p2)
                     AND vec_id NOT IN (SELECT vec_id FROM p3)
                   ORDER BY m DESC, vec_id LIMIT 1)
            SELECT CAST(sel_rank AS BIGINT) AS sel_rank,
                   CAST(vec_id AS BIGINT) AS vec_id,
                   CAST(radius2 AS BIGINT) AS radius2
            FROM (SELECT 0 AS sel_rank, c1.id AS vec_id, 0 AS radius2
                  FROM c1
                  UNION ALL SELECT 1, vec_id, m FROM p2
                  UNION ALL SELECT 2, vec_id, m FROM p3
                  UNION ALL SELECT 3, vec_id, m FROM p4)
        """,
        "dsir_sample": """
            WITH tok AS (
              SELECT doc_id, t AS token FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents)
              WHERE t <> ''),
            raw_lm AS (
              SELECT token, CAST(count(*) AS BIGINT) AS cnt
              FROM tok GROUP BY token),
            raw_tot AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS t FROM raw_lm),
            tgt_lm AS (
              SELECT token, CAST(count(*) AS BIGINT) AS cnt
              FROM tok WHERE doc_id % 10 = 0 GROUP BY token),
            tgt_tot AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tgt_lm),
            raw_bits AS (
              SELECT doc_id,
                     CAST(sum(length(bin(rt.t // cnt)) - 1) AS BIGINT)
                       AS sb
              FROM tok JOIN raw_lm USING (token), raw_tot rt
              GROUP BY doc_id),
            tgt_bits AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN cnt IS NULL
                       THEN length(bin(tt.t))
                       ELSE length(bin(tt.t // cnt)) - 1 END)
                       AS BIGINT) AS sb
              FROM tok LEFT JOIN tgt_lm USING (token), tgt_tot tt
              GROUP BY doc_id),
            d AS (
              SELECT doc_id,
                     raw_bits.sb - tgt_bits.sb AS delta_bits
              FROM raw_bits JOIN tgt_bits USING (doc_id)),
            k AS (
              SELECT doc_id, CAST(delta_bits AS BIGINT) AS delta_bits,
                     CAST(CASE WHEN delta_bits >= 0 THEN 1000000
                       WHEN delta_bits <= -20 THEN 0
                       ELSE 1000000
                            // (CAST(1 AS BIGINT) << (-delta_bits))
                       END AS BIGINT) AS keep_ppm
              FROM d)
            SELECT doc_id, delta_bits, keep_ppm,
                   CAST(('0x' || substring(
                     md5('dsir#' || CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 1000000 AS u_ppm,
                   (CAST(('0x' || substring(
                     md5('dsir#' || CAST(doc_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % 1000000) < keep_ppm AS keep
            FROM k
        """,
        "host_scorecard": _SCORECARD_SQL + """
            SELECT host, n_docs, dup_docs, dup_ppm, quality_ppm,
                   mean_surprisal_cb
            FROM card
        """,
        "host_quotas": _SCORECARD_SQL + """
            SELECT host,
                   CAST(CASE WHEN quality_ppm < 250000 THEN 0
                        ELSE 1000000 - dup_ppm END AS BIGINT)
                     AS keep_ppm
            FROM card
        """,
        "graph_reciprocal": "WITH " + _EDGES_SQL + """
            , e AS (
              SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
            recip AS (
              SELECT a.src, CAST(count(*) AS BIGINT) AS recip_deg
              FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src
              GROUP BY a.src),
            outd AS (
              SELECT src, CAST(count(*) AS BIGINT) AS out_deg
              FROM e GROUP BY src)
            SELECT outd.src AS node, out_deg,
                   coalesce(recip_deg, 0) AS recip_deg,
                   CAST((coalesce(recip_deg, 0) * 1000000) // out_deg
                        AS BIGINT) AS recip_ppm
            FROM outd LEFT JOIN recip USING (src)
        """,
        "split_assign": """
            WITH u AS (
              SELECT doc_id,
                     CAST(('0x' || substring(
                       md5('split#' || CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 1000000 AS u_ppm
              FROM documents)
            SELECT doc_id, u_ppm,
                   CASE WHEN u_ppm < 100000 THEN 'val'
                        WHEN u_ppm < 200000 THEN 'test'
                        ELSE 'train' END AS split
            FROM u
        """,
        "winnow_pairs": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), g AS (
              SELECT doc_id,
                     list_transform(range(1, len(w) - 1),
                       i -> md5(concat_ws(' ', w[i], w[i+1], w[i+2]))) AS h
              FROM t WHERE len(w) >= 3
            ), wins AS (
              SELECT doc_id,
                     CASE WHEN len(h) <= 4 THEN [list_min(h)]
                          ELSE list_transform(range(1, len(h) - 2),
                                 j -> list_min(h[j:j+3]))
                     END AS wm
              FROM g),
            fps AS (
              SELECT doc_id, unnest(list_distinct(wm)) AS fp FROM wins),
            keyn AS (
              SELECT fp FROM fps GROUP BY fp
              HAVING count(*) BETWEEN 2 AND 32),
            live AS (SELECT fps.* FROM fps JOIN keyn USING (fp))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS shared
            FROM live a JOIN live b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "gopher_quality": f"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 17 = 0 THEN 'tiny doc here'
                          ELSE coalesce(text, '')
                               || CASE WHEN doc_id % 9 = 0
                                    THEN repeat(' #', 30) ELSE '' END
                     END AS t
              FROM documents),
            m AS (
              SELECT doc_id,
                     list_filter(string_split(t, ' '), x -> x <> '')
                       AS ws,
                     string_split(t, chr(10)) AS ls,
                     t
              FROM d),
            meas AS (
              SELECT doc_id,
                     CAST(len(ws) AS BIGINT) AS n_words,
                     CAST((list_sum(list_transform(ws,
                            x -> length(x))) * 1000000)
                          // greatest(len(ws), 1) AS BIGINT)
                       AS mean_word_len_ppm,
                     CAST((len(list_filter(ls,
                            x -> starts_with(trim(x), '-')
                              OR starts_with(trim(x), '*')))
                          * 1000000) // greatest(len(ls), 1) AS BIGINT)
                       AS bullet_ppm,
                     CAST((len(list_filter(ls,
                            x -> ends_with(trim(x), '...')))
                          * 1000000) // greatest(len(ls), 1) AS BIGINT)
                       AS ellipsis_ppm,
                     CAST((len(list_filter(ws,
                            x -> regexp_matches(x, '[a-zA-Z]')))
                          * 1000000) // greatest(len(ws), 1) AS BIGINT)
                       AS alpha_ppm,
                     CAST(((length(t) - length(replace(t, '#', '')))
                          + CAST((length(t)
                              - length(replace(t, '...', ''))) / 3
                              AS BIGINT))
                          * 1000000 // greatest(len(ws), 1) AS BIGINT)
                       AS symbol_ppm,
                     CAST(len(list_filter(ws,
                            x -> x IN ({_STOP_LIST}))) AS BIGINT)
                       AS stop_hits
              FROM m)
            SELECT doc_id, n_words, mean_word_len_ppm, bullet_ppm,
                   ellipsis_ppm, alpha_ppm, symbol_ppm, stop_hits,
                   CASE WHEN n_words < 50 THEN 'too_short'
                        WHEN n_words > 100000 THEN 'too_long'
                        WHEN mean_word_len_ppm < 3000000
                          THEN 'word_len_low'
                        WHEN mean_word_len_ppm > 10000000
                          THEN 'word_len_high'
                        WHEN bullet_ppm > 900000 THEN 'bullets'
                        WHEN ellipsis_ppm > 300000 THEN 'ellipses'
                        WHEN alpha_ppm < 800000 THEN 'non_alpha'
                        WHEN symbol_ppm > 100000 THEN 'symbols'
                        WHEN stop_hits < 2 THEN 'stopwords'
                        ELSE 'keep' END AS reason
            FROM meas
        """,
        "url_filter": """
            WITH u AS (
              SELECT 'http://'
                     || CASE WHEN doc_id % 22 = 0 THEN 'sub.blocked.test'
                             WHEN doc_id % 11 = 0 THEN 'blocked.test'
                             ELSE source || '.test' END
                     || '/p/' || CAST(doc_id AS VARCHAR)
                     || CASE WHEN doc_id % 6 = 0 THEN '/casino'
                             ELSE '' END
                     || CASE WHEN doc_id % 5 = 0 THEN '/article'
                             ELSE '' END
                     || CASE WHEN doc_id % 7 = 0 THEN '?next=login'
                             ELSE '' END AS url
              FROM documents),
            s AS (
              SELECT url,
                     regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS host,
                     lower(url) AS lu
              FROM u),
            sc AS (
              SELECT url, host,
                     (host = 'blocked.test'
                      OR ends_with(host, '.blocked.test')) AS blocked,
                     CAST(
                       (CASE WHEN contains(lu, 'article') THEN 100
                             ELSE 0 END)
                     + (CASE WHEN contains(lu, 'blog') THEN 100
                             ELSE 0 END)
                     + (CASE WHEN contains(lu, 'casino') THEN -500
                             ELSE 0 END)
                     + (CASE WHEN contains(lu, 'login') THEN -200
                             ELSE 0 END)
                     + (CASE WHEN contains(lu, 'signup') THEN -200
                             ELSE 0 END) AS BIGINT) AS kw_score_milli
              FROM s)
            SELECT url, host, blocked, kw_score_milli,
                   (NOT blocked AND kw_score_milli >= -250) AS keep
            FROM sc
        """,
    }
