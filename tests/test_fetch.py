from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import gen_pages as gp
from crawlspark import fetch
from crawlspark.schemas import PAGES_SCHEMA


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(gp.gen_pages_local(300), PAGES_SCHEMA).cache()


def test_latest_at_picks_newest(spark, pages):
    latest = fetch.latest_at(pages)
    assert latest.count() == pages.select("url").distinct().count()
    want = {
        r["url"]: r["mx"]
        for r in pages.groupBy("url").agg(F.max("warc_ts").alias("mx")).collect()
    }
    for r in latest.select("url", "warc_ts").collect():
        assert r["warc_ts"] == want[r["url"]]


def test_latest_at_cutoff(spark, pages):
    cutoff = pages.agg(F.min("warc_ts")).first()[0]
    latest = fetch.latest_at(pages, F.lit(cutoff))
    # only captures at/before the global min timestamp survive
    assert latest.filter(F.col("warc_ts") > cutoff).count() == 0


def test_lookup_latest_equiv_and_misses(spark, pages):
    urls = [r["url"] for r in pages.select("url").distinct().limit(40).collect()]
    sched_rows = [(u, f"h", 0, 1.0, 0.0) for u in urls] + [
        ("https://missing.example/x", "h", 0, 1.0, 0.0)
    ]
    scheduled = spark.createDataFrame(
        sched_rows, "url string, host string, depth int, crawl_delay double, sched_ts double"
    )
    keys = fetch.latest_keys(pages)
    out = fetch.lookup_latest(scheduled, pages, keys)
    rows = {r["url"]: r for r in out.collect()}
    assert len(rows) == 41
    assert rows["https://missing.example/x"]["html"] is None
    # html matches the latest_at pick byte-for-byte
    golden = {
        r["url"]: bytes(r["html"])
        for r in fetch.latest_at(pages).filter(F.col("url").isin(urls)).collect()
    }
    for u in urls:
        assert bytes(rows[u]["html"]) == golden[u]


def test_present_semi(spark, pages):
    seeds = spark.createDataFrame(
        [(gp.url_of(0),), ("https://nope.example/",)], "url string"
    )
    hits = fetch.present(seeds, pages.select("url").distinct())
    assert [r["url"] for r in hits.collect()] == [gp.url_of(0)]


def test_in_window_range_join(spark):
    events = spark.createDataFrame(
        [("h", 5.0), ("h", 15.0), ("h", 25.0), ("g", 5.0)], "host string, ts double"
    )
    slots = spark.createDataFrame(
        [("h", 0.0, 10.0), ("h", 20.0, 30.0)], "host string, lo double, hi double"
    )
    out = fetch.in_window(events, slots, ["host"], "lo", "hi", "ts").collect()
    got = sorted((r["host"], r["ts"], r["lo"]) for r in out)
    assert got == [("h", 5.0, 0.0), ("h", 25.0, 20.0)]


def test_lookup_latest_bucketed_no_exchange_on_pages(spark, tmp_path):
    """The documented mega-batch path for real: pages bucketed by url +
    broadcast_wanted=False => SMJ whose html-bearing side reads bucketed
    (no Exchange), and results identical to the broadcast path."""
    import contextlib
    import io as _io

    import gen_pages as gp
    from crawlspark import fetch, io
    from crawlspark.schemas import PAGES_SCHEMA

    pages = spark.createDataFrame(gp.gen_pages_local(300), PAGES_SCHEMA)
    io.write_pages_bucketed(pages, "pages_bucketed_test", n_buckets=8)
    try:
        tbl = spark.table("pages_bucketed_test")
        sched = spark.createDataFrame(
            [(gp.url_of(i), f"h{i}", 0, 1.0, float(i)) for i in range(0, 300, 3)],
            "url string, host string, depth int, crawl_delay double, sched_ts double",
        )
        keys = fetch.latest_keys(tbl)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            got = fetch.lookup_latest(sched, tbl, keys, broadcast_wanted=False)
            buf = _io.StringIO()
            with contextlib.redirect_stdout(buf):
                got.explain("formatted")
            plan = buf.getvalue()
            # the html-bearing scan specifically must read bucketed AND have
            # no Exchange between it and its join (only Sort/Filter)
            import re

            html_scans = [
                m.group(1)
                for m in re.finditer(
                    r"\((\d+)\) Scan parquet [^\n]*\n(?:[^\n]+\n)*?ReadSchema: [^\n]*html:binary",
                    plan,
                )
            ]
            assert html_scans, plan
            for node in html_scans:
                detail = plan[plan.index(f"({node}) Scan parquet") :]
                assert "Bucketed: true" in detail.split("\n\n")[0], detail[:400]
                tree_line_idx = next(
                    i
                    for i, l in enumerate(plan.splitlines())
                    if l.strip().endswith(f"({node})") and "Scan parquet" in l
                )
                above = "\n".join(plan.splitlines()[tree_line_idx - 3 : tree_line_idx])
                assert "Exchange" not in above, above
            got_rows = {
                (r["url"], r["warc_ts"]) for r in got.select("url", "warc_ts").collect()
            }
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        ref = fetch.lookup_latest(sched, pages, fetch.latest_keys(pages))
        ref_rows = {
            (r["url"], r["warc_ts"]) for r in ref.select("url", "warc_ts").collect()
        }
        assert got_rows == ref_rows and len(got_rows) == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_bucketed_test")


def test_lookup_latest_broadcast_subquery_has_no_smj(spark, pages):
    """Regression (r3): the wanted subquery inside the fetch join's
    BroadcastExchange is planned non-adaptively, so a plain scheduled-keys
    join there ran as a SortMergeJoin shuffling the full keys table every
    round.  The whole broadcast-path plan must now be SMJ-free except the
    final scheduled left-outer (which AQE converts at runtime when small)."""
    import contextlib
    import io as _io

    urls = [r["url"] for r in pages.select("url").distinct().limit(20).collect()]
    scheduled = spark.createDataFrame([(u,) for u in urls], "url string")
    keys = fetch.latest_keys(pages)
    got = fetch.lookup_latest(scheduled, pages, keys)

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    # the wanted build sits under BroadcastExchange; between the outermost
    # BroadcastExchange and the end of its subtree there must be no SMJ —
    # cheap proxy: the plan's only SortMergeJoin (if any) is the final
    # LeftOuter, never an Inner under a broadcast build
    for seg in plan.split("SortMergeJoin")[1:]:
        head = seg.splitlines()[0]
        assert "Inner" not in head, plan


def test_lookup_latest_runs_one_full_wave(spark, pages):
    """A round's batch is small next to AQE's 1 MB minimum partition size,
    so a coalescible url exchange would hand the extraction UDF above the
    fetch join ONE partition — one task on one core.  The join's url
    exchanges repartition by number, which AQE never coalesces, so even a
    50-row batch comes out in defaultParallelism partitions."""
    urls = [r["url"] for r in pages.select("url").distinct().limit(50).collect()]
    scheduled = spark.createDataFrame([(u,) for u in urls], "url string")
    got = fetch.lookup_latest(scheduled, pages, fetch.latest_keys(pages))
    assert got.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert got.count() == 50
