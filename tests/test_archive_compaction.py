"""Archive delta compaction (ParquetDirsIO.compact_every) — without it
read_archive unions one more parquet dir per wave, an O(waves x archive)
read over a run (VERDICT r01 item 8). Compaction must leave outputs and
resume byte-identical while bounding the dir count."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from barkingowl_spark.plans.crawl import CrawlConfig, run_crawl
from barkingowl_spark.schemas import PAGES_SCHEMA, SEED_SCHEMA
from barkingowl_spark.sources.tableio import ParquetDirsIO
from tests.test_resume import _key_outputs

CHAIN = 14  # -> 15 waves, well past compact_every=3


def _chain_corpus(spark):
    """chain.test/p0 -> p1 -> ... -> pN, a pdf per page: one wave per
    depth, so the archive accrues one delta dir per wave."""
    from fixtures.gen_pages import PDF_BODY, _page, pages_rows

    pages = {}
    for i in range(CHAIN + 1):
        hrefs = [f"/p{i + 1}"] if i < CHAIN else []
        hrefs.append(f"d{i}.pdf")
        pages[f"http://chain.test/p{i}"] = _page(f"c{i}", "x y z", hrefs)
        pages[f"http://chain.test/d{i}.pdf"] = PDF_BODY
    seeds = [("http://chain.test/p0", "c", "f", CHAIN, "application/pdf",
              0, 0)]
    return (
        spark.createDataFrame(pages_rows(pages), PAGES_SCHEMA),
        spark.createDataFrame(seeds, SEED_SCHEMA),
    )


@pytest.fixture(scope="module")
def chain(spark):
    return _chain_corpus(spark)


@pytest.fixture(scope="module")
def compacted(spark, chain, tmp_path_factory):
    """(state, checkpoint_dir) of the full chain crawl with
    archive_compact_every=3, shared read-only by this module's tests."""
    pages_df, seeds_df = chain
    d = str(tmp_path_factory.mktemp("comp"))
    return run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(checkpoint_dir=d, archive_compact_every=3),
    ), d


def test_compaction_identical_outputs_and_bounded_dirs(
    spark, tmp_path_factory, chain, compacted
):
    pages_df, seeds_df = chain

    plain_dir = str(tmp_path_factory.mktemp("plain"))
    plain = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(checkpoint_dir=plain_dir, archive_compact_every=None),
    )
    comp, comp_dir = compacted
    assert comp.wave == plain.wave >= CHAIN
    assert _key_outputs(comp) == _key_outputs(plain)

    def archive_dirs(root):
        n = 0
        for e in os.listdir(root):
            if e.startswith("wave=") and os.path.isdir(
                os.path.join(root, e, "data", "_t=archive")
            ):
                n += 1
        return n

    # one per wave (wave 0 may have no archive rows -> no dir)
    assert archive_dirs(plain_dir) >= plain.wave
    # compacted: deltas behind the resume window fold away; ceiling is
    # compact_every pending + 2 resume-window waves + 1 compact dir
    assert archive_dirs(comp_dir) <= 3 + 2
    comps = os.listdir(os.path.join(comp_dir, "compact"))
    assert len(comps) == 1 and comps[0].startswith("upto=")


def test_resume_exact_after_compaction(spark, tmp_path_factory, chain,
                                      compacted):
    pages_df, seeds_df = chain
    full = compacted[0]
    part_dir = str(tmp_path_factory.mktemp("part"))
    interrupted = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(checkpoint_dir=part_dir, archive_compact_every=3,
                    max_waves=9),
    )
    assert interrupted.wave == 9
    # compaction already ran before the interrupt
    assert os.path.isdir(os.path.join(part_dir, "compact"))
    resumed = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(checkpoint_dir=part_dir, archive_compact_every=3),
        resume=True,
    )
    assert resumed.wave == full.wave
    assert _key_outputs(resumed) == _key_outputs(full)


def test_crash_between_commit_and_cleanup_is_invisible(
    spark, tmp_path_factory, compacted
):
    """A committed compact dir with its stale inputs still present (the
    crash window) must read exactly once — read_archive takes the
    latest compact + only NEWER deltas."""
    st, src_dir = compacted
    d = str(tmp_path_factory.mktemp("crash") / "ckpt")
    shutil.copytree(src_dir, d)  # the crash is simulated on a copy
    io = ParquetDirsIO(d, compact_every=3)
    upto = io._compact_uptos()[-1]
    before = io.read_archive(spark, st.wave).count()
    # simulate the crash window: resurrect a stale delta dir <= upto by
    # copying the compact data into wave=1's archive slot
    stale = io._archive_dir(1)
    os.makedirs(stale, exist_ok=True)
    src = io._compact_path(upto)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            os.link(os.path.join(src, f), os.path.join(stale, f))
            break
    after = io.read_archive(spark, st.wave).count()
    assert after == before  # stale dir ignored, no double-count
    # and the url set is still exactly the frontier's archive side
    assert (
        io.read_archive(spark, st.wave)
        .select(F.countDistinct("url")).collect()[0][0]
        == before
    )
