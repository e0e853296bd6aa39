"""Seeded crawl corpora for the benchmark, and the frozen oracle's answer.

``corpus(root, name, spec, seed)`` writes one workload's page corpus as
PAGES_SCHEMA parquet under ``root`` and returns its metadata: the seed
rows, the robots rules, the html byte count and the order-independent
digest of the frozen oracle's crawl (tests/oracle/ref_crawler.py) over
every seed. Everything is derived from (workload params, seed), and the
result is cached on disk under a key of both, so generation and the
oracle crawl stay outside every timed region and run once per corpus.

Corpus shape (knobs in perfbench/workloads.json):

  * ``hosts`` hosts whose page counts follow Zipf(``zipf_s``) over a
    total of ``pages``; each host is a tree with ``branching`` children
    per page, seeded at its root.
  * every page carries ``page_tokens`` words of text plus a style and a
    script block, so the parse strips markup the way real pages need.
  * ``nav_links`` navigation links per page point back at the root, the
    parent and hub pages: duplicate-heavy link lists for the seen-set.
  * one child in ``pdf_every`` is a pdf document; one pdf link in
    ``missing_every`` dangles (no corpus row), giving 'missing' rows.
  * a ``relative_share`` of hrefs are written relative ("../sec/pN"),
    the rest absolute, so both canonicalize paths run; each page also
    has a junk mailto:, a fragment/upper-case/default-port variant of
    the root and a cross-host link.
  * with ``robots``, every host but the hottest one gets a robots.txt
    row with only ``User-agent: *``, ``Disallow`` prefixes and
    ``Crawl-delay`` — the subset the oracle can check.

The ``text`` column is the oracle's ``oracle_extract_text``, not the
program's extractor, so a parse change that alters text shows up as a
``text_mismatch`` count.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from tests.oracle.ref_crawler import crawl as oracle_crawl
from tests.oracle.ref_crawler import oracle_extract_text

DOC_TYPE = "application/pdf"
PDF_BODY = b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\ntrailer\n%%EOF\n"
SECTIONS = ("news", "docs", "about", "private", "archive", "tmp")
DISALLOW = ("/private", "/tmp")
CRAWL_DELAYS = (1, 2)
_STEMS = (
    "civic notice agenda minutes budget zoning permit council meeting "
    "public record ordinance hearing resolution committee district"
).split()
_VOCAB = tuple(f"{_STEMS[i % len(_STEMS)]}{i:x}" for i in range(4096))
_PAGES_ARROW = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])
_SRC_DIGEST = hashlib.sha256(open(__file__, "rb").read()).hexdigest()[:12]


def _path(j: int) -> str:
    return "/" if j == 0 else f"/{SECTIONS[j % len(SECTIONS)]}/p{j}"


def _pdf_path(c: int) -> str:
    return f"/{SECTIONS[c % len(SECTIONS)]}/d{c}.pdf"


def _href(rng: random.Random, host: str, path: str, rel_share: float) -> str:
    if rng.random() < rel_share:
        return path if path == "/" else ".." + path
    return f"http://{host}{path}"


def _html(title: str, para: str, hrefs: list[str]) -> bytes:
    anchors = "\n".join(
        f'<a href="{h}">link {i}</a>' for i, h in enumerate(hrefs))
    return (
        f"<html><head><title>{title}</title>"
        f"<style>p {{ margin: 0 }}</style></head>\n"
        f"<body><h1>{title}</h1>\n<p>{para}</p>\n<nav>{anchors}</nav>\n"
        f"<script>var tracked = 1;</script>\n</body></html>"
    ).encode("utf-8")


def host_sizes(hosts: int, pages: int, zipf_s: float) -> list[int]:
    weights = [1.0 / (h + 1) ** zipf_s for h in range(hosts)]
    total = sum(weights)
    return [max(4, int(pages * w / total)) for w in weights]


def build(gen: dict, seed: int, name: str, max_level: int):
    """(pages {url: html}, seeds, robots {host: prefixes}, delays)."""
    rng = random.Random(f"{name}:{seed}")
    sizes = host_sizes(gen["hosts"], gen["pages"], gen["zipf_s"])
    names = [f"h{h}-{rng.randrange(1 << 24):06x}.bench"
             for h in range(len(sizes))]
    pool = rng.choices(_VOCAB, k=1 << 16)
    b, pdf_every = gen["branching"], gen["pdf_every"]
    rel = gen["relative_share"]
    hubs = [_path(k) for k in range(1, 1 + max(0, gen["nav_links"] - 2))
            if k % pdf_every != pdf_every - 1]
    pages: dict[str, bytes] = {}
    for h, (host, n) in enumerate(zip(names, sizes)):
        other = names[(h + 1) % len(names)]
        for j in range(n):
            if j % pdf_every == pdf_every - 1:
                continue  # this index is a pdf document, not a page
            kids = []
            for c in range(j * b + 1, min(n, j * b + b + 1)):
                if c % pdf_every != pdf_every - 1:
                    kids.append(_path(c))
                    continue
                kids.append(_pdf_path(c))
                if (c // pdf_every) % gen["missing_every"]:
                    pages[f"http://{host}{_pdf_path(c)}"] = PDF_BODY
            nav = ["/"] + ([_path((j - 1) // b)] if j else []) + hubs
            links = kids + nav[: gen["nav_links"]]
            rng.shuffle(links)
            hrefs = [f"mailto:webmaster@{host}"]
            hrefs += [_href(rng, host, p, rel) for p in links]
            hrefs += [f"HTTP://{host.upper()}:80/#top", f"http://{other}/"]
            off = rng.randrange(len(pool) - gen["page_tokens"])
            para = " ".join(pool[off:off + gen["page_tokens"]])
            pages[f"http://{host}{_path(j)}"] = _html(
                f"{host} page {j}", para, hrefs)
    robots: dict[str, list[str]] = {}
    delays: dict[str, int] = {}
    # which hosts get which rules is fixed by the params, not the seed, so
    # every seed crawls the same number of URLs; the hot host never gets a
    # row, so a configured host_budget (not a Crawl-delay budget) caps it
    for h, host in enumerate(names[1:] if gen["robots"] else []):
        prefixes = list(DISALLOW[: 1 + h % len(DISALLOW)])
        delay = CRAWL_DELAYS[h % len(CRAWL_DELAYS)]
        lines = ["User-agent: *"] + [f"Disallow: {p}" for p in prefixes]
        lines.append(f"Crawl-delay: {delay}")
        pages[f"http://{host}/robots.txt"] = ("\n".join(lines) + "\n").encode()
        robots[host] = prefixes
        delays[host] = delay
    seeds = [
        {"url": f"http://{host}/", "title": host, "description": name,
         "max_link_level": max_level, "doc_type": DOC_TYPE,
         "frequency_min": 0,
         "seed_idx": h}
        for h, host in enumerate(names)
    ]
    return pages, seeds, robots, delays


def digest(rows) -> str:
    """Order-independent digest of an iterable of tuples."""
    h = hashlib.sha256()
    for r in sorted(json.dumps(list(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_rows(pages, seeds, max_level: int, robots):
    """Trace rows (seed, order, url, depth, didx, status, text_sha256) and
    document rows (seed, url, depth, parent, matched_by) of the oracle."""
    trace, docs = [], []
    for s in seeds:
        r = oracle_crawl(pages, s["url"], max_level, s["doc_type"],
                         robots_disallow=robots or None)
        for order, url, depth, didx, status in r.trace():
            trace.append((r.seed_url, order, url, depth, didx, status,
                          r.seen[url].text_sha256))
        for url, depth, parent, mb in r.documents():
            docs.append((r.seed_url, url, depth, parent, mb))
    return trace, docs


def _write_parquet(pages: dict[str, bytes], out: str, files: int) -> int:
    urls = sorted(pages)
    t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    per = -(-len(urls) // files)
    html_bytes = 0
    for f in range(files):
        chunk = urls[f * per:(f + 1) * per]
        html = [pages[u] for u in chunk]
        html_bytes += sum(map(len, html))
        table = pa.table({
            "url": chunk,
            "warc_ts": [t0 + dt.timedelta(seconds=f * per + i)
                        for i in range(len(chunk))],
            "html": html,
            "text": [oracle_extract_text(x) for x in html],
            "lang": ["en"] * len(chunk),
        }, schema=_PAGES_ARROW)
        pq.write_table(table, os.path.join(out, f"part-{f:03d}.parquet"),
                       row_group_size=256)
    return html_bytes


def corpus(root: str, name: str, spec: dict, seed: int,
           files: int = 8) -> dict:
    """Generate (or reuse) one workload corpus; returns its metadata."""
    key_src = json.dumps([name, spec["generator"], spec["crawl"], seed,
                          files, _SRC_DIGEST], sort_keys=True)
    key = hashlib.sha256(key_src.encode()).hexdigest()[:16]
    out = os.path.join(root, f"{name}-s{seed}-{key}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "pages"))
    level = spec["crawl"]["max_link_level"]
    pages, seeds, robots, delays = build(spec["generator"], seed, name, level)
    use_robots = spec["crawl"]["robots_from_corpus"]
    trace, docs = oracle_rows(pages, seeds, level,
                              robots if use_robots else None)
    meta = {
        "pages_dir": os.path.join(out, "pages"),
        "seeds": seeds,
        "robots": robots,
        "crawl_delays": delays,
        "n_pages": len(pages),
        "html_bytes": _write_parquet(pages, os.path.join(out, "pages"), files),
        "oracle_digest": digest(trace) + digest(docs),
        "oracle_frontier": len(trace),
        "oracle_docs": len(docs),
    }
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.rename(tmp, meta_path)  # the corpus is complete once meta exists
    return meta
