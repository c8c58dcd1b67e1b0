"""PySpark-native crawl frontier + fetch scheduler.

A from-scratch re-expression of the crawl semantics of
HoiAnHub/ethereum-raw-data-crawler (resume-from-checkpoint ingestion,
dedup-by-unique-key, batched fetch with bounded concurrency,
retry/backoff/skip bookkeeping, politeness rate limiting, post-commit
event emission, per-run metrics) as bounded partition-parallel batch
rounds over snapshot-committed tables of Common-Crawl-style web pages.

Reference semantics are cited per module as ``file:line`` into
``/root/reference`` (read-only). No code is copied from the reference;
the architecture is DataFrame-first Spark, not a port of the Go event
loop.
"""

__version__ = "0.1.0"

from ethereum_raw_data_crawler_spark import pyworker as _pyworker

_pyworker.tune()
