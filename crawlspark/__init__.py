"""crawlspark — a PySpark-native incremental crawl/analytics engine.

A from-scratch reimplementation of the *capabilities* of
joelverhagen/CatalogCrawler (cursor-driven incremental crawling with
deterministic visit order, commit-atomic progress, bounded parallel
fan-out, skew-aware sharding, and incremental aggregation) re-expressed
as idiomatic PySpark DataFrame plans over parquet tables, plus the
frontier/politeness/seen-set machinery a web-scale crawl needs
(BASELINE.json north_star).

Layout:
  sources/    table storage: epoch-manifest parquet tables (Iceberg-like
              atomic commits without the Iceberg runtime) and the disk
              mirror of downloaded documents
  functions/  scalar/vectorized column functions (url parsing and
              canonical forms, html→text extraction, mirror paths)
  operators/  relational operators (cursor filters, ordered top-K,
              interval joins, politeness dequeue, robots, bloom seen-set,
              url guards, JSON rewrite, inline text analysis; and the
              data-curation operators behind ``__spark_entry__.py``:
              dedup, similarity, text filters, multimodal decode)
  plans/      multi-step dataflows (catalog crawl, web crawl epochs,
              incremental reports, checkpoint state)
  __main__    the ``python -m crawlspark`` CLI: ``crawl``, ``download``
              and ``update-reports``
  testdata    deterministic synthetic corpora for tests and examples
"""

__version__ = "0.1.0"

from crawlspark.session import get_spark  # noqa: F401
