"""End-to-end equivalence: Spark wave pipeline vs the frozen pure-Python
oracle on the fixture corpus (SURVEY.md section 5.2.2) — identical
(seed, crawl_order, url, depth, discovery_idx, status) traces, identical
documents set, identical seen-set, byte-identical text hashes; plus
politeness-invariance and resume tests."""

from __future__ import annotations

import hashlib

import pytest

from barkingowl_spark.plans.crawl import CrawlConfig, run_crawl
from tests.oracle.ref_crawler import crawl as oracle_crawl


def oracle_outputs(fixture_data):
    pages, seeds = fixture_data
    traces, docs, texts = {}, set(), {}
    for s in seeds:
        r = oracle_crawl(pages, s["url"], s["max_link_level"], s["doc_type"])
        traces[r.seed_url] = r.trace()
        for (u, depth, parent, mb) in r.documents():
            docs.add((r.seed_url, u, depth, parent, mb))
        for e in r.seen.values():
            if e.text_sha256:
                texts[(r.seed_url, e.url)] = e.text_sha256
    return traces, docs, texts


def spark_outputs(state):
    traces, docs, texts = {}, set(), {}
    for r in state.trace().collect():
        traces.setdefault(r["seed_url"], []).append(
            (r["crawl_order"], r["url"], r["depth"], r["discovery_idx"],
             r["status"])
        )
        if r["text_sha256"] is not None:
            texts[(r["seed_url"], r["url"])] = r["text_sha256"]
    for t in traces.values():
        t.sort()
    for r in state.documents.collect():
        docs.add(
            (r["seed_url"], r["doc_url"], r["depth"], r["parent_url"],
             r["matched_by"])
        )
    return traces, docs, texts


@pytest.fixture(scope="module")
def crawl_state(fixture_crawl):
    return fixture_crawl[0]  # default config: host_budget=None


def test_trace_matches_oracle(crawl_state, fixture_data):
    o_traces, _, _ = oracle_outputs(fixture_data)
    s_traces, _, _ = spark_outputs(crawl_state)
    assert set(s_traces) == set(o_traces)
    for seed, want in o_traces.items():
        got = s_traces[seed]
        assert got == want, f"trace mismatch for {seed}"


def test_documents_match_oracle(crawl_state, fixture_data):
    _, o_docs, _ = oracle_outputs(fixture_data)
    _, s_docs, _ = spark_outputs(crawl_state)
    assert s_docs == o_docs


def test_text_sha_byte_identical(crawl_state, fixture_data):
    """input_hint: byte-identical extracted text per url (sha256 proxy),
    and the corpus text column mismatch counter stayed zero."""
    _, _, o_texts = oracle_outputs(fixture_data)
    _, _, s_texts = spark_outputs(crawl_state)
    assert s_texts == o_texts
    mism = crawl_state.metrics.groupBy().sum("text_mismatch").collect()[0][0]
    assert (mism or 0) == 0


def test_seen_set_matches_oracle(crawl_state, fixture_data):
    o_traces, _, _ = oracle_outputs(fixture_data)
    want = {
        (seed, url) for seed, tr in o_traces.items() for (_, url, *_a) in tr
    }
    got = {
        (r["seed_url"], r["url"])
        for r in crawl_state.frontier().select("seed_url", "url").collect()
    }
    assert got == want


def test_politeness_budget_invariance(spark, seeds_df, pages_df,
                                      fixture_data, tmp_path_factory):
    """O20: under budget B the trace ordering keys, documents and seen-set
    are IDENTICAL (deferred rows keep original keys); only wave ids shift."""
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_b")),
        host_budget=3,
    )
    state = run_crawl(spark, seeds_df, pages_df, cfg)
    o_traces, o_docs, o_texts = oracle_outputs(fixture_data)
    s_traces, s_docs, s_texts = spark_outputs(state)
    assert s_traces == o_traces
    assert s_docs == o_docs
    assert s_texts == o_texts
    assert state.wave > max(
        s["max_link_level"] for s in fixture_data[1]
    ), "budget must force extra sub-iterations"


def test_metrics_totals_consistent(crawl_state, fixture_data):
    o_traces, o_docs, _ = oracle_outputs(fixture_data)
    fetched = sum(
        1 for tr in o_traces.values() for (*_x, st) in tr if st == "fetched"
    )
    missing = sum(
        1 for tr in o_traces.values() for (*_x, st) in tr if st == "missing"
    )
    m = crawl_state.metrics.groupBy().agg(
        {"pages_fetched": "sum", "pages_missing": "sum", "docs_found": "sum"}
    ).collect()[0]
    # seeds are typechecked at wave 0 before any fetch -> metrics count
    # fetches from wave 1 on; every fixture seed is an html page, fetched.
    assert m["sum(pages_fetched)"] == fetched
    assert m["sum(pages_missing)"] == missing
    assert m["sum(docs_found)"] == len(o_docs)


def test_oracle_is_frozen():
    """SURVEY.md section 5.3: the oracle file's sha256 is pinned."""
    import pathlib

    p = pathlib.Path(__file__).parent / "oracle" / "ref_crawler.py"
    sums = pathlib.Path(__file__).parent / "oracle" / "SHA256SUMS"
    got = hashlib.sha256(p.read_bytes()).hexdigest()
    want = sums.read_text().split()[0]
    assert got == want, (
        "tests/oracle/ref_crawler.py changed — the oracle is frozen; "
        "fix the pipeline instead (or consciously re-freeze + document)"
    )


def test_salt_for_clamps():
    from barkingowl_spark.plans.crawl import salt_for

    assert salt_for(0, 1_000_000, 256) == 1        # empty queue
    assert salt_for(999_999, 1_000_000, 256) == 1  # below one bucket
    assert salt_for(1_000_001, 1_000_000, 256) == 2  # ceil
    assert salt_for(10**9, 1_000_000, 256) == 256  # cap
    assert salt_for(5, 2, 256) == 3


def test_adaptive_salt_identical_outputs(spark, seeds_df, pages_df,
                                         fixture_data, tmp_path_factory,
                                         monkeypatch):
    """Two layout-only plan paths in one crawl, both checked against the
    oracle: the adaptive per-wave salt (S from the queue's row count; a
    tiny SALT_TARGET_ROWS, so S actually varies wave to wave, 4 -> 1 as
    the queue drains) only changes the queue write LAYOUT,
    and BROADCAST_WAVE_ROWS=0 sends every wave down the big-wave path
    (shuffle-hash joins of the wave against ingest_pages and edges, the
    10^10 shape) instead of broadcasting it. Trace/documents/texts must
    still match the oracle exactly."""
    import barkingowl_spark.plans.crawl as crawl_mod

    monkeypatch.setattr(crawl_mod, "SALT_TARGET_ROWS", 2)
    monkeypatch.setattr(crawl_mod, "SALT_MAX", 4)
    monkeypatch.setattr(crawl_mod, "BROADCAST_WAVE_ROWS", 0)
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_salt")),
    )
    state = run_crawl(spark, seeds_df, pages_df, cfg)
    s_traces, s_docs, s_texts = spark_outputs(state)
    o_traces, o_docs, o_texts = oracle_outputs(fixture_data)
    assert s_traces == o_traces
    assert s_docs == o_docs
    assert s_texts == o_texts
