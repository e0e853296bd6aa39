"""CrawlConfig.link_filter: the opt-in URL-level frontier gate. A
url_filter keep-projection plugged into the wave loop prunes a page
AND its undiscovered subtree before any fetch; the default (None)
path is the oracle-pinned plan (covered by the oracle e2e suite)."""

from __future__ import annotations

import pytest

from barkingowl_spark.plans.crawl import CrawlConfig, run_crawl


@pytest.fixture(scope="module")
def base_state(fixture_crawl):
    return fixture_crawl[0]


def test_url_filter_hook_prunes_subtree(
    spark, seeds_df, pages_df, tmp_path_factory, base_state
):
    from barkingowl_spark.functions.urlfilter import url_filter

    def gate(links):
        kept = url_filter(
            links.select("url").distinct(),
            kw_milli={"/p2": -1000},
            threshold_milli=0,
        ).filter("keep").select("url")
        return links.join(kept, "url", "left_semi")

    st = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(
            checkpoint_dir=str(tmp_path_factory.mktemp("lf1")),
            link_filter=gate,
        ),
    )
    base_urls = {r["url"] for r in base_state.frontier().collect()}
    got_urls = {r["url"] for r in st.frontier().collect()}
    blocked = {u for u in base_urls if "/p2" in u}
    assert blocked, "fixture must contain /p2 pages"
    # every /p2 url is gone EXCEPT seeds (seeds enter the frontier
    # before link filtering — same contract as robots: seeds always
    # fetch); nothing else was lost beyond the /p2 subtrees
    seeds = {r["seed_url"] for r in base_state.frontier().collect()}
    assert {u for u in got_urls if "/p2" in u} <= seeds
    assert got_urls <= base_urls
    # docs found under a /p2 parent are gone too (subtree pruned)
    base_docs = base_state.documents.count()
    assert st.documents.count() < base_docs
