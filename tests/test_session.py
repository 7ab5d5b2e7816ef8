"""Session tuning that a crawl depends on for its speed, not its output."""

from __future__ import annotations

import gen_pages as gp
from crawlspark import config, crawl, session
from crawlspark.schemas import PAGES_SCHEMA


def test_repeated_crawl_compiles_nothing(spark):
    """A crawl's generated classes stay cached: repeating the same crawl in
    one session compiles no class with Janino.  With Spark's default
    100-entry codegen cache this crawl alone overflows it, so every repeat
    recompiled ~175 classes."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    pages = spark.createDataFrame(gp.gen_pages_local(400), PAGES_SCHEMA)
    seeds = spark.createDataFrame([(s,) for s in gp.gen_seeds(400, 12)], "url string")
    robots = gp.robots_df(spark)
    cfg = config.CrawlConfig(n_buckets=16, salt=4, round_seconds=30.0, rounds=2, max_depth=6)

    def run() -> int:
        result = crawl.crawl(spark, seeds, pages, robots, cfg=cfg)
        assert result["rounds_run"] == 2
        return result["fetch_log"].count()

    n_first = run()
    before = session.codegen_compiles(spark)
    assert run() == n_first
    assert session.codegen_compiles(spark) - before == 0
