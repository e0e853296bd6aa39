"""Checkpoint/resume exactness (SURVEY.md section 5.2.3, O6/D8): stop after
wave k, resume from checkpoint, final outputs identical to an
uninterrupted run — including after deleting the interrupted process's
in-memory state entirely (we only keep the checkpoint dir)."""

from __future__ import annotations

from barkingowl_spark.plans.crawl import CrawlConfig, run_crawl
from barkingowl_spark.sources.tableio import ParquetDirsIO


def _key_outputs(state):
    trace = sorted(
        (r["seed_url"], r["crawl_order"], r["url"], r["depth"],
         r["discovery_idx"], r["status"], r["text_sha256"])
        for r in state.trace().collect()
    )
    docs = sorted(
        (r["seed_url"], r["doc_url"], r["depth"], r["matched_by"])
        for r in state.documents.collect()
    )
    return trace, docs


def test_resume_reproduces_uninterrupted_run(spark, seeds_df, pages_df,
                                             tmp_path_factory):
    full_cfg = CrawlConfig(checkpoint_dir=str(tmp_path_factory.mktemp("full")))
    full = run_crawl(spark, seeds_df, pages_df, full_cfg)

    part_dir = str(tmp_path_factory.mktemp("part"))
    part_cfg = CrawlConfig(checkpoint_dir=part_dir, max_waves=2)
    interrupted = run_crawl(spark, seeds_df, pages_df, part_cfg)
    assert interrupted.wave == 2  # stopped mid-crawl

    resumed = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(checkpoint_dir=part_dir),
        resume=True,
    )
    assert resumed.wave == full.wave
    assert _key_outputs(resumed) == _key_outputs(full)


def test_partial_wave_dir_is_not_resumed(spark, seeds_df, pages_df,
                                         tmp_path_factory):
    import json
    import os

    d = str(tmp_path_factory.mktemp("atomic"))
    cfg = CrawlConfig(checkpoint_dir=d, max_waves=2)
    run_crawl(spark, seeds_df, pages_df, cfg)
    # simulate a crash mid-write: wave dir without manifest
    os.makedirs(os.path.join(d, "wave=99"))
    # ... and a crash between the manifest write and the commit rename:
    # the tmp dir holds a manifest but is not a wave
    tmp = os.path.join(d, "wave=3.tmp")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"wave": 3}, f)
    io = ParquetDirsIO(d)
    assert io.list_waves() == [0, 1, 2]
    assert io.latest_wave() == 2
    resumed = run_crawl(spark, seeds_df, pages_df,
                        CrawlConfig(checkpoint_dir=d, max_waves=3),
                        resume=True)
    assert resumed.wave == 3
    assert not os.path.exists(tmp)  # the wave-3 commit replaced it
