from __future__ import annotations

import pytest

from barkingowl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="barkingowl-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_data():
    from fixtures.gen_pages import fixture_corpus

    return fixture_corpus()


@pytest.fixture(scope="session")
def pages_df(spark, fixture_data):
    from fixtures.gen_pages import pages_rows

    from barkingowl_spark.schemas import PAGES_SCHEMA

    pages, _ = fixture_data
    return spark.createDataFrame(pages_rows(pages), PAGES_SCHEMA).cache()


@pytest.fixture(scope="session")
def seeds_df(spark, fixture_data):
    from barkingowl_spark.schemas import SEED_SCHEMA

    _, seeds = fixture_data
    rows = [
        (s["url"], s["title"], s["description"], s["max_link_level"],
         s["doc_type"], s["frequency_min"], s["seed_idx"])
        for s in seeds
    ]
    return spark.createDataFrame(rows, SEED_SCHEMA)


@pytest.fixture(scope="session")
def fixture_crawl(spark, seeds_df, pages_df, tmp_path_factory):
    """One default-config crawl of the fixture corpus, shared by every
    test that needs its outputs or its finished checkpoint:
    (state, checkpoint_dir). Read-only: a test that writes waves or
    files must copy the checkpoint dir first."""
    from barkingowl_spark.plans.crawl import CrawlConfig, run_crawl

    ckpt = str(tmp_path_factory.mktemp("fixture_crawl"))
    return run_crawl(spark, seeds_df, pages_df,
                     CrawlConfig(checkpoint_dir=ckpt)), ckpt
