"""Checkpoint/resume exactness (SURVEY.md section 5.2.3, O6/D8): stop after
wave k, resume from checkpoint, final outputs identical to an
uninterrupted run — including after deleting the interrupted process's
in-memory state entirely (we only keep the checkpoint dir)."""

from __future__ import annotations

import shutil

import pytest

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


@pytest.fixture(scope="module")
def two_wave_ckpt(spark, seeds_df, pages_df, tmp_path_factory):
    """(state, checkpoint_dir) of the fixture crawl stopped at
    max_waves=2. Tests that resume it work on a copy of the dir."""
    d = str(tmp_path_factory.mktemp("part"))
    return run_crawl(spark, seeds_df, pages_df,
                     CrawlConfig(checkpoint_dir=d, max_waves=2)), d


def _copy_ckpt(src, tmp_path_factory, name):
    dst = str(tmp_path_factory.mktemp(name) / "ckpt")
    shutil.copytree(src, dst)
    return dst


def test_resume_reproduces_uninterrupted_run(spark, seeds_df, pages_df,
                                             tmp_path_factory, monkeypatch,
                                             fixture_crawl, two_wave_ckpt):
    full, full_dir = fixture_crawl
    interrupted, part_src = two_wave_ckpt
    assert interrupted.wave == 2  # stopped mid-crawl
    part_dir = _copy_ckpt(part_src, tmp_path_factory, "part_resume")

    # A checkpoint with no wave left (the finished crawl; the interrupted
    # one at its own wave cap) is returned from the checkpoint alone: the
    # corpus parse and the robots dim must not run. robots_from_corpus
    # makes the robots build reachable; with no wave it cannot change the
    # outputs.
    import barkingowl_spark.operators.robots as robots_mod
    import barkingowl_spark.plans.ingest as ingest_mod

    def _no_ingest(*a, **kw):
        raise AssertionError("a resume with no wave left ran the ingest")

    with monkeypatch.context() as m:
        m.setattr(ingest_mod, "parsed_corpus", _no_ingest)
        m.setattr(robots_mod, "robots_rules", _no_ingest)
        for cfg, want in (
            (CrawlConfig(checkpoint_dir=full_dir,
                         robots_from_corpus=True), full),
            (CrawlConfig(checkpoint_dir=part_dir, max_waves=2,
                         robots_from_corpus=True), interrupted),
        ):
            done = run_crawl(spark, seeds_df, pages_df, cfg, resume=True)
            assert done.wave == want.wave
            assert _key_outputs(done) == _key_outputs(want)

    # the mid-crawl resume has waves left, so it ingests as before
    resumed = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(checkpoint_dir=part_dir),
        resume=True,
    )
    assert resumed.wave == full.wave
    assert _key_outputs(resumed) == _key_outputs(full)


def test_sched_state_is_the_queue_row_count(spark, fixture_crawl,
                                            two_wave_ckpt):
    """The manifest's level-sync state (due at depth d + children at
    d+1) is exactly the committed queue's row count. The resume exit
    test and the queue-write salt both read it in place of a count."""
    checked = 0
    for _, d in (two_wave_ckpt, fixture_crawl):
        io = ParquetDirsIO(d)
        for w in io.list_waves()[-2:]:  # older queue snapshots are pruned
            sched = io.read_meta(w)["sched"]
            assert sched is not None, w
            assert (sched["due"] + sched["children"]
                    == io.read_queue(spark, w).count()), (d, w, sched)
            checked += 1
    assert checked == 4


def test_partial_wave_dir_is_not_resumed(spark, seeds_df, pages_df,
                                         tmp_path_factory, two_wave_ckpt):
    import json
    import os

    d = _copy_ckpt(two_wave_ckpt[1], tmp_path_factory, "atomic")
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
