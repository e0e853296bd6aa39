"""barkingowl_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch re-expression of the data-processing capabilities of the
public ``thequbit/BarkingOwl`` crawler (seed -> dispatch -> fetch ->
link-extract -> canonicalize -> scope filter -> seen-set dedup ->
depth-limited BFS -> doc-type match -> document sink) as idiomatic
Spark DataFrame dataflow, designed for a 10^10-URL frontier on a
multi-executor cluster (see SURVEY.md and BASELINE.json at repo root).

The reference mount (/root/reference) was empty at build time (see
SURVEY.md section 0); the behavioral contract is SURVEY.md section 2 and the
frozen pure-Python oracle in tests/oracle/ref_crawler.py.

Layout:
  schemas.py            explicit StructTypes for every table (D1-D8)
  session.py            tuned SparkSession builder (AQE, Arrow, UTC)
  functions/canon.py    URL canonicalization (O8, O23, O24)
  functions/extract.py  link + text extraction pandas UDF (O7, O27)
  functions/textstats.py language-id / quality / tokens / fingerprint
  functions/hashing.py  portable minhash / simhash building blocks
  operators/dedup.py    exact seen-set anti-join, Bloom filter (O12)
  operators/ordering.py BFS wave ordering / discovery_idx / first-wins (O18, O19)
  operators/politeness.py per-host top-B budget + robots filter (O20)
  operators/match.py    doc-type matcher (O15)
  operators/corpus_dedup.py  exact / minhash-LSH / jaccard / simhash dedup
  operators/similarity.py    brute-force + IVF-bucketed cosine top-k
  operators/multimodal.py    binary-column decode plumbing (stubbed codecs)
  sources/tableio.py    TableIO seam: parquet-dirs impl, Iceberg-switchable
  plans/crawl.py        the wave loop: schedule -> fetch -> parse -> dedup ->
                        match -> checkpoint (O5, O6, O21, O22, D7)
"""

__version__ = "0.1.0"
