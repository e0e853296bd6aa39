"""Rotating value-hash check of the query registry against DuckDB.

The repo's full-inventory sweep (tools/compare_oracle.py) is a manual
step. This module wires the same value-hash compare into the suite as a
ROTATING deterministic slice: each suite run verifies
queries[k::N_SLICES] (names sorted) at sf0.001. With 358 registered
queries and N_SLICES = 6 a slice holds 59 or 60 queries.

The slice index k comes from a run counter kept in pytest's cache,
read from ``request.config.cache``, so every registered query is
re-verified within 6 suite runs. When the cacheprovider plugin is off
(``-p no:cacheprovider``, as in the tier-1 command) ``config.cache``
does not exist and k falls back to the day of the year: the slice then
changes once per day, and full coverage takes 6 days, not 6 runs.
BOW_ORACLE_SLICE=<k> pins a slice; BOW_ORACLE_SLICE=all sweeps every
query.

Most of the registry is also checked on EVERY run by
test_entry_contract.py::test_query_matches_oracle, with the same
columns / row-count / value-hash compare. A slice leaves out the queries
that this same pytest session runs there (read from
``request.session.items``), so the rotation pays only for the queries
the per-run gate does not cover: recomputing the others cost ~90% of
the slice's 90-140 s and pushed the suite past its time budget, while
checking nothing new. Run on its own (``pytest
tests/test_oracle_rotation.py``) a slice still holds its 59 or 60
queries; BOW_ORACLE_SLICE=all never leaves anything out.

Queries without an oracle entry (none today — test_entry_contract
asserts every-query-has-an-oracle) would be counted, not skipped
silently.
"""

from __future__ import annotations

import datetime as dt
import os
import types

import duckdb
import pytest

import __spark_entry__ as entrymod
from tools.compare_oracle import TABLES, vhash

SF = "/root/testdata/sf0.001"
N_SLICES = 6


def _slice_index(config) -> int | str:
    env = os.environ.get("BOW_ORACLE_SLICE")
    if env is not None:
        return "all" if env == "all" else int(env) % N_SLICES
    cache = getattr(config, "cache", None)  # None under -p no:cacheprovider
    try:
        k = int(cache.get("bowspark/oracle_rotation", -1)) + 1
        cache.set("bowspark/oracle_rotation", k)
        return k % N_SLICES
    except Exception:  # cache dir unavailable: rotate daily instead
        return dt.date.today().toordinal() % N_SLICES


def _gated_elsewhere(session) -> set[str]:
    """Query names that test_entry_contract checks in this session."""
    return {
        item.callspec.params["name"]
        for item in session.items
        if getattr(item, "originalname", None) == "test_query_matches_oracle"
        and "name" in getattr(getattr(item, "callspec", None), "params", {})
    }


def test_gated_elsewhere_reads_entry_contract_items(request):
    gated = _gated_elsewhere(request.session)
    entry_items = [i for i in request.session.items
                   if i.nodeid.startswith("tests/test_entry_contract.py::"
                                          "test_query_matches_oracle[")]
    assert gated == {i.callspec.params["name"] for i in entry_items}
    assert gated <= set(entrymod.queries())
    stub = types.SimpleNamespace(items=[
        types.SimpleNamespace(originalname="test_query_matches_oracle",
                              callspec=types.SimpleNamespace(
                                  params={"name": "o1_recrawl_due"})),
        types.SimpleNamespace(originalname="test_other",
                              callspec=types.SimpleNamespace(
                                  params={"name": "o8_canonicalize"})),
        types.SimpleNamespace(originalname="test_query_matches_oracle"),
    ])
    assert _gated_elsewhere(stub) == {"o1_recrawl_due"}


def test_slice_index_counter_fallback_and_override(monkeypatch):
    monkeypatch.delenv("BOW_ORACLE_SLICE", raising=False)
    today = dt.date.today().toordinal() % N_SLICES
    assert _slice_index(types.SimpleNamespace()) == today
    d = {}  # a dict-backed stand-in for pytest's config.cache
    cfg = types.SimpleNamespace(
        cache=types.SimpleNamespace(get=d.get, set=d.__setitem__))
    assert [_slice_index(cfg) for _ in range(N_SLICES + 2)] == \
        [0, 1, 2, 3, 4, 5, 0, 1]
    counter = dict(d)
    monkeypatch.setenv("BOW_ORACLE_SLICE", "all")
    assert _slice_index(cfg) == "all"
    assert _slice_index(types.SimpleNamespace()) == "all"
    monkeypatch.setenv("BOW_ORACLE_SLICE", "3")
    assert _slice_index(cfg) == 3
    monkeypatch.setenv("BOW_ORACLE_SLICE", "9")
    assert _slice_index(types.SimpleNamespace()) == 3
    assert d == counter  # a pinned slice leaves the counter alone


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 testdata not present")
def test_rotating_oracle_slice(spark, request, capsys):
    names = sorted(entrymod.queries())
    k = _slice_index(request.config)
    sliced = names if k == "all" else names[int(k)::N_SLICES]
    gated = set() if k == "all" else _gated_elsewhere(request.session)
    picked = [n for n in sliced if n not in gated]
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS FROM '{SF}/{t}.parquet'")
    fails = []
    for name in picked:
        got = qs[name](spark, SF).toPandas()
        if name not in osql:
            fails.append((name, "no oracle"))
            continue
        want = con.sql(osql[name]).df()
        if not (sorted(got.columns) == sorted(want.columns)
                and len(got) == len(want)
                and vhash(got) == vhash(want)):
            fails.append((name, f"{len(got)}/{len(want)} rows"))
    with capsys.disabled():
        print(f"\n[oracle-rotation] slice {k}/{N_SLICES}: "
              f"{len(picked)} queries ({len(sliced) - len(picked)} more "
              f"checked by test_entry_contract), {len(fails)} failures")
    assert not fails, fails
