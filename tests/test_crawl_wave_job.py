"""crawl_wave.py CLI: the spark-submit surface end-to-end, including
the --block-domains URL gate (CrawlConfig.link_filter plumbing)."""

from __future__ import annotations

import json

import pytest


def _inputs(spark, pages_df, fixture_data, tmp_path):
    pages_df.write.parquet(str(tmp_path / "pages"))
    _, seeds = fixture_data
    return json.dumps([
        {"url": s["url"], "title": s["title"],
         "description": s["description"],
         "max_link_level": s["max_link_level"],
         "doc_type": s["doc_type"],
         "frequency_min": s["frequency_min"]}
        for s in seeds
    ])


def test_cli_block_domains(spark, pages_df, fixture_data, tmp_path,
                           capsys):
    from jobs.crawl_wave import main

    seeds_json = _inputs(spark, pages_df, fixture_data, tmp_path)
    main(["--pages", str(tmp_path / "pages"),
          "--seeds", seeds_json,
          "--checkpoint", str(tmp_path / "ck0")])
    base = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert base["documents"] == 54     # the oracle-pinned fixture total

    main(["--pages", str(tmp_path / "pages"),
          "--seeds", seeds_json,
          "--checkpoint", str(tmp_path / "ck1"),
          "--block-domains", "site2.test"])
    gated = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # site2's subtree is pruned at link level: only its seed remains in
    # the frontier, and its 27 documents are gone
    assert gated["documents"] == base["documents"] - 27
    assert gated["frontier_urls"] < base["frontier_urls"]


def test_cli_politeness_seconds_needs_robots(tmp_path, capsys):
    """Crawl-delay budgets come from the robots dim, so the flag alone
    is rejected before any Spark work (no corpus read)."""
    from jobs.crawl_wave import main

    with pytest.raises(SystemExit) as exc:
        main(["--pages", str(tmp_path / "no-such-corpus"),
              "--seeds", "[]",
              "--checkpoint", str(tmp_path / "ck"),
              "--politeness-seconds", "10"])
    assert exc.value.code == 2
    assert "--politeness-seconds needs --robots" in capsys.readouterr().err
