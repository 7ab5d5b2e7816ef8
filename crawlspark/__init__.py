"""crawlspark — a PySpark-native web-crawl frontier & fetch-scheduler engine.

A from-scratch, Spark-first engine with the capabilities of the reference
crawler (``BrunoLiegiBastonLiegi/PubMed-crawler``, generalized per
BASELINE.json to a Common-Crawl-style frontier): URL canonicalization and
64-bit hashing, a partitioned-Bloom + anti-join URL-seen set, a per-host
politeness scheduler (robots rules + crawl-delay budgets) built as a
salted two-phase window top-B, Arrow-vectorized HTML/XML-to-text
extraction (byte-identical per url), and a resumable round loop
checkpointed to Parquet/Iceberg-shaped snapshots with per-partition
lineage metrics.

NOTE on reference citations: ``/root/reference`` was empty in every session
so far (see SURVEY.md §0); behavior is specified by BASELINE.json's
``north_star``/``north_rule`` and cross-checked against a minimal pure-Python
oracle crawler (``tests/oracle_crawler.py``) that reimplements the reference
loop semantics (FIFO-BFS, per-host token bucket, seen set).
"""

__version__ = "0.1.0"
