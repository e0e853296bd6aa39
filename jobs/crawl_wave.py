"""spark-submit entry point for the crawl (north_rule launch path).

Usage (cluster):
  tools/build_dist.sh   # -> dist/bowspark.zip
  spark-submit --py-files dist/bowspark.zip jobs/crawl_wave.py \
      --pages <corpus path or table> --seeds <seeds json/parquet> \
      --checkpoint <dir> [--budget B] [--resume] [--max-waves N]

On a cluster the session comes from spark-submit's conf (master/executors
set by the submitter); locally it falls back to local[*]. The same job is
what tools/bench_scaling.py drives at two parallelism levels for the
N-vs-4N scaling evidence.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=True,
                   help="parquet path (or iceberg table) of the page corpus")
    p.add_argument("--pages-format", choices=["parquet", "warc"],
                   default="parquet",
                   help="'warc' reads WARC containers (.warc/.warc.gz, "
                        "per-record gzip members supported) via "
                        "sources/warc.py — text/lang derive in the "
                        "ingest parse pass exactly as for parquet")
    p.add_argument("--seeds", required=True,
                   help="parquet path OR inline JSON list of seed objects")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--budget", type=int, default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--max-waves", type=int, default=100_000)
    p.add_argument("--robots", action="store_true",
                   help="parse robots.txt rows out of the corpus and apply "
                        "disallow prefixes (and Crawl-delay with "
                        "--politeness-seconds) per host")
    p.add_argument("--politeness-seconds", type=int, default=None,
                   help="seconds one wave stands for: Crawl-delay d hosts "
                        "get floor(seconds/d) fetches per wave")
    p.add_argument("--block-domains", default=None,
                   help="comma-separated domain blocklist applied to "
                        "candidate links in the wave loop "
                        "(functions/urlfilter.py via "
                        "CrawlConfig.link_filter; subdomain-aware)")
    p.add_argument("--url-keyword-gate", action="store_true",
                   help="also apply the default keyword score gate "
                        "(threshold -250 milli) to candidate links")
    args = p.parse_args(argv)
    if args.politeness_seconds is not None and not args.robots:
        # Crawl-delay comes only from the robots dim: without --robots
        # the flag would be dropped silently
        p.error("--politeness-seconds needs --robots")

    from barkingowl_spark.plans.crawl import CrawlConfig, run_crawl
    from barkingowl_spark.schemas import SEED_SCHEMA

    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("bowspark-crawl").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    if args.pages_format == "warc":
        from barkingowl_spark.sources.warc import read_warc

        # WARC containers carry no pre-extracted text column, so the
        # input_hint byte-identity counter has nothing to verify against
        pages = read_warc(spark, args.pages).select("url", "warc_ts", "html")
    else:
        pages = spark.read.parquet(args.pages)
    if args.seeds.strip().startswith("["):
        rows = [
            (s["url"], s.get("title"), s.get("description"),
             int(s["max_link_level"]), s["doc_type"],
             int(s.get("frequency_min", 0)), i)
            for i, s in enumerate(json.loads(args.seeds))
        ]
        seeds = spark.createDataFrame(rows, SEED_SCHEMA)
    else:
        seeds = spark.read.parquet(args.seeds)

    link_filter = None
    if args.block_domains or args.url_keyword_gate:
        from pyspark.sql import functions as F

        from barkingowl_spark.functions.urlfilter import url_filter

        doms = ([d for d in args.block_domains.split(",") if d]
                if args.block_domains else [])
        kw = None if args.url_keyword_gate else {}

        def link_filter(links, _doms=doms, _kw=kw):
            kept = url_filter(
                links.select("url").distinct(),
                blocked_domains=_doms,
                kw_milli=_kw,
            ).filter("keep").select("url")
            return links.join(kept, "url", "left_semi")

    state = run_crawl(
        spark, seeds, pages,
        CrawlConfig(
            link_filter=link_filter,
            checkpoint_dir=args.checkpoint,
            host_budget=args.budget,
            max_waves=args.max_waves,
            robots_from_corpus=args.robots,
            politeness_wave_seconds=args.politeness_seconds,
            verify_text=args.pages_format != "warc",
        ),
        resume=args.resume,
    )
    summary = {
        "waves": state.wave,
        "frontier_urls": state.frontier().count(),
        "documents": state.documents.count(),
    }
    print(json.dumps(summary))
    # only tear down a session this invocation created (spark-submit);
    # under pytest the suite's shared session must survive
    if owns_session:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
