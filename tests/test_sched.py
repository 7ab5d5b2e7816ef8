from __future__ import annotations

import heapq
import math

import pytest
from pyspark.sql import functions as F

import gen_pages as gp
from crawlspark import config, polite, sched, urlnorm


@pytest.fixture(scope="module")
def frontier(spark):
    """Frontier-shaped rows over synthetic urls incl. the mega-host."""
    n = 3000
    urls = [gp.url_of(i) for i in range(n)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = (
        df.select(
            "url",
            urlnorm.url_hash(F.col("url")).alias("url_hash"),
            urlnorm.host(F.col("url")).alias("host"),
            F.lit(0.0).alias("priority"),
            (F.xxhash64("url") % 3).cast("int").alias("depth"),
            F.lit(0).cast("int").alias("discovered_round"),
        )
        .withColumn("depth", F.abs(F.col("depth")))
        .withColumn("bucket", urlnorm.bucket(F.col("url_hash"), config.N_BUCKETS))
        .withColumn("crawl_delay", F.when(F.col("host") == "host0.example", 0.5).otherwise(2.0))
    )
    return out.cache()


def _sched_rows(df):
    cols = ["url", "host", "host_rank", "sched_ts"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_schedule_salt_invariant(spark, frontier):
    """Salting is a physical choice only: salt 1, 4 and 8 emit the same
    rows, ranks and timestamps."""
    want = _sched_rows(sched.schedule(frontier, round_no=0, round_seconds=60.0, salt=1))
    for salt in (4, 8):
        got = sched.schedule(frontier, round_no=0, round_seconds=60.0, salt=salt)
        assert _sched_rows(got) == want


def test_schedule_matches_heapq_reference(spark, frontier):
    """Per host, the scheduled rows are heapq.nsmallest(budget, ...) under
    the host order — the rule tests/oracle_crawler.py replays — with the
    k-th at sched_ts = (k-1)*delay.  host0's budget (120) binds."""
    rows = frontier.select(
        "url", "host", "priority", "discovered_round", "depth", "crawl_delay"
    ).collect()
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    want = []
    for host, items in by_host.items():
        delay = items[0]["crawl_delay"]
        budget = min(config.MAX_BUDGET_PER_HOST, max(1, math.floor(60.0 / delay)))
        best = heapq.nsmallest(
            budget,
            [(r["priority"], r["discovered_round"], r["depth"], r["url"]) for r in items],
        )
        want += [(u, host, k, (k - 1) * delay) for k, (*_, u) in enumerate(best, start=1)]
    assert len(by_host["host0.example"]) > 120  # the budget binds on host0
    got = _sched_rows(sched.schedule(frontier, round_no=0, round_seconds=60.0, salt=8))
    assert got == sorted(want)


def test_schedule_plan_has_no_python(spark, frontier):
    """The schedule runs in the JVM: no pandas/Arrow/Python UDF operator."""
    plan = (
        sched.schedule(frontier, round_no=0, round_seconds=60.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan


def test_budget_respected(frontier):
    out = sched.schedule(frontier, round_no=0, round_seconds=60.0).collect()
    per_host: dict[str, int] = {}
    for r in out:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
    for host, cnt in per_host.items():
        delay = 0.5 if host == "host0.example" else 2.0
        assert cnt <= max(1, math.floor(60.0 / delay))


def test_gaps_respect_crawl_delay(spark, frontier):
    out = sched.schedule(frontier, round_no=0, round_seconds=60.0)
    audit = polite.gaps(out)
    assert audit.filter(F.col("violates")).count() == 0


def test_order_deterministic_and_total(spark, frontier):
    out = sched.schedule(frontier, round_no=2, round_seconds=60.0)
    order = ["sched_ts", "host", "url"]
    seq1 = [tuple(r) for r in sched.global_seq(out, order)[0].select("seq", "url").collect()]
    seq2 = [tuple(r) for r in sched.global_seq(out, order)[0].select("seq", "url").collect()]
    assert seq1 == seq2
    assert sorted(seq1) == seq1
    assert [s for s, _ in seq1] == list(range(1, len(seq1) + 1))
    assert len({u for _, u in seq1}) == len(seq1)
    # round-2 timestamps start at 120s
    assert all(r["sched_ts"] >= 120.0 for r in out.select("sched_ts").collect())


def test_mega_host_is_salted(frontier):
    """Phase-1 groups must be bounded: no (host,salt) slice exceeds budget
    candidates after the heapq cut, and the mega-host spreads across salts."""
    df = frontier.withColumn(
        "salt", F.pmod(F.col("url_hash"), F.lit(8)).cast("int")
    )
    n_salts = (
        df.filter(F.col("host") == "host0.example")
        .select("salt")
        .distinct()
        .count()
    )
    assert n_salts == 8


def test_robots_filtering(spark):
    robots = gp.robots_df(spark)
    urls = [
        ("https://host3.example/p/1",),   # denied by /p/ rule
        ("https://host3.example/ok",),    # allowed (no match)
        ("https://host5.example/private/x",),  # denied (longest match)
        ("https://host5.example/pub",),   # allowed by "/"
        ("https://unknown.example/x",),   # no robots row → allowed
    ]
    df = spark.createDataFrame(urls, "url string").select(
        "url", urlnorm.host(F.col("url")).alias("host")
    )
    joined = df.join(F.broadcast(robots), "host", "left")
    flag = polite.allowed_col(F.col("url"), F.col("rules"))
    got = {r["url"]: r["ok"] for r in joined.select("url", flag.alias("ok")).collect()}
    assert got == {
        "https://host3.example/p/1": False,
        "https://host3.example/ok": True,
        "https://host5.example/private/x": False,
        "https://host5.example/pub": True,
        "https://unknown.example/x": True,
    }


def test_indegree_priorities_reorder_schedule(spark):
    """A url cited by many fetched pages schedules ahead of lexicographic
    peers; uncited urls keep neutral priority."""
    from pyspark.sql import functions as F

    from crawlspark import sched, urlnorm

    parsed = spark.createDataFrame(
        [
            (["https://h.example/zzz", "https://h.example/aaa"],),
            (["https://h.example/zzz"],),
            (["https://h.example/ZZZ/../zzz"],),  # messy spelling, same target
        ],
        "links array<string>",
    )
    prios = sched.indegree_priorities(parsed)
    rows = {r["url"]: r["priority"] for r in prios.collect()}
    assert rows["https://h.example/zzz"] < rows["https://h.example/aaa"] < 0

    frontier = spark.createDataFrame(
        [
            (u, 0.0, 0, 0)
            for u in (
                "https://h.example/aaa",
                "https://h.example/mmm",
                "https://h.example/zzz",
            )
        ],
        "url string, priority double, depth int, discovered_round int",
    ).select(
        "url",
        urlnorm.url_hash(F.col("url")).alias("url_hash"),
        F.lit("h.example").alias("host"),
        "priority",
        "depth",
        "discovered_round",
        F.lit(1.0).alias("crawl_delay"),
    )
    prioritized = sched.with_priorities(frontier, prios)
    assert prioritized.columns == frontier.columns
    out = sched.schedule(prioritized, 0, round_seconds=2.0, max_budget=2)
    got = sorted((r["host_rank"], r["url"]) for r in out.collect())
    # zzz (indegree 3) first, then aaa (indegree 1); mmm (neutral 0.0) cut
    assert got == [(1, "https://h.example/zzz"), (2, "https://h.example/aaa")]


def test_pagerank_analytic_fixed_points(spark):
    """Cycle graph => uniform ranks exactly; ranks always sum to 1."""
    from crawlspark import sched

    n = 5
    cycle = spark.createDataFrame(
        [(f"u{i}", f"u{(i + 1) % n}") for i in range(n)], "src string, dst string"
    )
    ranks = {r["url"]: r["rank"] for r in sched.pagerank(cycle, iterations=20).collect()}
    assert len(ranks) == n
    for v in ranks.values():
        assert abs(v - 1.0 / n) < 1e-12  # uniform is the exact fixed point
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_matches_numpy_reference(spark):
    """Same damping/dangling semantics as the standard power iteration."""
    import numpy as np

    from crawlspark import sched

    rng = np.random.RandomState(7)
    n, d, iters = 30, 0.85, 12
    edges = sorted({(int(rng.randint(n)), int(rng.randint(n))) for _ in range(80)})
    edf = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "src string, dst string"
    )
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    out_deg = np.zeros(m)
    for a, _ in edges:
        out_deg[idx[a]] += 1
    r = np.full(m, 1.0 / m)
    for _ in range(iters):
        contrib = np.zeros(m)
        for a, b in edges:
            contrib[idx[b]] += r[idx[a]] / out_deg[idx[a]]
        dangling = r[out_deg == 0].sum()
        r = (1 - d) / m + d * (contrib + dangling / m)
    got = {row["url"]: row["rank"] for row in sched.pagerank(edf, iterations=iters).collect()}
    assert len(got) == m
    for v in nodes:
        assert abs(got[f"n{v}"] - r[idx[v]]) < 1e-9
    # a hub-cited node outranks a leaf-cited one (the reason to use PR over indegree)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_priorities_feed_scheduler(spark):
    """pagerank_priorities plugs into with_priorities: highly-ranked urls
    sort earlier in the host order."""
    from pyspark.sql import functions as F

    from crawlspark import sched

    parsed = spark.createDataFrame(
        [
            ("http://a.example/1", ["http://hub.example/x", "http://b.example/2"]),
            ("http://b.example/2", ["http://hub.example/x"]),
            ("http://c.example/3", ["http://hub.example/x", "http://leaf.example/y"]),
        ],
        "url string, links array<string>",
    )
    prios = sched.pagerank_priorities(parsed, iterations=8)
    rows = {r["url"]: r["priority"] for r in prios.collect()}
    hub = [v for k, v in rows.items() if "hub.example" in k][0]
    leaf = [v for k, v in rows.items() if "leaf.example" in k][0]
    assert hub < leaf  # more negative priority = fetched earlier


def test_recrawl_schedule_matches_duckdb_oracle(spark):
    """Freshness estimator vs the identical SQL in DuckDB, value-exact."""
    import duckdb
    import pandas as pd

    from crawlspark import sched

    rows = []
    # u_static: fetched 4x, never changes -> default interval
    for i, ts in enumerate([0.0, 100.0, 250.0, 400.0]):
        rows.append(("http://a.ex/static", ts, "h0"))
    # u_fast: changes every fetch (3 changes over 300 s -> est 100 s, clamped to min 60)
    for i, ts in enumerate([0.0, 100.0, 200.0, 300.0]):
        rows.append(("http://a.ex/fast", ts, f"h{i}"))
    # u_slow: one change over 1000 s -> est 1000, clamped to max 500
    for ts, h in [(0.0, "x"), (400.0, "x"), (1000.0, "y")]:
        rows.append(("http://b.ex/slow", ts, h))
    # u_once: single observation -> default
    rows.append(("http://b.ex/once", 50.0, "z"))
    hist = spark.createDataFrame(rows, "url string, fetch_ts double, content_hash string")

    got = sched.recrawl_schedule(
        hist, now_ts=500.0, min_interval=60.0, max_interval=500.0, default_interval=200.0
    )
    got_pdf = got.orderBy("url").toPandas()

    hist_pdf = hist.toPandas()
    oracle = duckdb.sql(
        """
        WITH h AS (
          SELECT url, fetch_ts,
                 lag(content_hash) OVER (PARTITION BY url ORDER BY fetch_ts) AS ph,
                 content_hash
          FROM hist_pdf
        ), a AS (
          SELECT url, count(*) AS n_fetches,
                 sum(CASE WHEN ph IS NOT NULL AND content_hash <> ph THEN 1 ELSE 0 END) AS n_changes,
                 min(fetch_ts) AS first_ts, max(fetch_ts) AS last_ts
          FROM h GROUP BY url
        )
        SELECT url, n_fetches, n_changes,
               round(least(greatest(coalesce((last_ts - first_ts) / nullif(n_changes, 0), 200.0), 60.0), 500.0), 6) AS recrawl_interval,
               round(last_ts + least(greatest(coalesce((last_ts - first_ts) / nullif(n_changes, 0), 200.0), 60.0), 500.0), 6) AS next_due,
               (last_ts + least(greatest(coalesce((last_ts - first_ts) / nullif(n_changes, 0), 200.0), 60.0), 500.0)) <= 500.0 AS due
        FROM a ORDER BY url
        """
    ).df()
    assert list(got_pdf.columns) == list(oracle.columns)
    for col in got_pdf.columns:
        assert list(got_pdf[col]) == list(oracle[col]), col

    by_url = {r["url"]: r for _, r in got_pdf.iterrows()}
    assert by_url["http://a.ex/static"]["recrawl_interval"] == 200.0  # default (never changed)
    assert by_url["http://a.ex/fast"]["recrawl_interval"] == 100.0    # 300/3
    assert by_url["http://b.ex/slow"]["recrawl_interval"] == 500.0    # 1000/1 clamped to max
    assert by_url["http://b.ex/once"]["recrawl_interval"] == 200.0    # single fetch
    assert bool(by_url["http://a.ex/fast"]["due"])                    # 300+100 <= 500
    assert not bool(by_url["http://b.ex/slow"]["due"])                # 1000+500 > 500


def test_host_reputation_and_priorities(spark):
    docs = spark.createDataFrame(
        [
            ("https://good.site/a", 0.9, 0),
            ("https://good.site/b", 0.7, 0),
            ("https://farm.site/x", 0.8, 1),
            ("https://farm.site/y", 0.6, 1),
            ("https://farm.site/z", 0.4, 0),
        ],
        "url string, quality double, is_dup int",
    )
    rep = {r["host"]: r for r in sched.host_reputation(docs, dup_col="is_dup").collect()}
    assert rep["good.site"]["avg_quality"] == 0.8
    assert rep["good.site"]["rep"] == 0.8        # no dups
    assert rep["farm.site"]["dup_frac"] == round(2 / 3, 6)
    assert abs(rep["farm.site"]["rep"] - 0.6 * (1 - 2 / 3)) < 1e-6
    # quality-only variant
    rep2 = {r["host"]: r["rep"] for r in sched.host_reputation(docs).collect()}
    assert rep2["farm.site"] == 0.6

    frontier = spark.createDataFrame(
        [("https://good.site/new",), ("https://farm.site/new",), ("https://fresh.site/new",)],
        "url string",
    )
    prios = sched.reputation_priorities(
        frontier, sched.host_reputation(docs, dup_col="is_dup")
    )
    got = {r["url"]: r["priority"] for r in prios.collect()}
    # above-baseline hosts go negative (earlier); the dup-ridden farm
    # (rep 0.2 < baseline) goes POSITIVE — behind unknown hosts' 0.0
    assert got["https://good.site/new"] < 0 < got["https://farm.site/new"]
    assert "https://fresh.site/new" not in got  # unknown host stays neutral via with_priorities


def test_cap_frontier_per_host_best_first(spark):
    rows = []
    for h, n in (("mega.example", 50), ("small.example", 3)):
        for i in range(n):
            rows.append(
                (f"https://{h}/p{i:03d}", hash((h, i)) % (2**31), h,
                 float(i % 7), i % 5, 0, 0)
            )
    fr = spark.createDataFrame(
        rows,
        "url string, url_hash long, host string, priority double, depth int, "
        "discovered_round int, bucket int",
    )
    capped = sched.cap_frontier(fr, per_host=10, salt=4)
    by_host = {
        r["host"]: r["n"]
        for r in capped.groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_host == {"mega.example": 10, "small.example": 3}
    assert capped.columns == fr.columns
    # best-first: the kept mega rows are exactly the global top-10 under
    # the host order — compare against a plain single-window reference
    from pyspark.sql import Window as W

    ref = (
        fr.filter(F.col("host") == "mega.example")
        .withColumn(
            "__r",
            F.row_number().over(
                W.partitionBy("host").orderBy("priority", "discovered_round", "depth", "url")
            ),
        )
        .filter(F.col("__r") <= 10)
    )
    a = sorted(r["url"] for r in capped.filter("host = 'mega.example'").collect())
    b = sorted(r["url"] for r in ref.collect())
    assert a == b
    # deterministic across layouts
    again = sorted(
        r["url"] for r in sched.cap_frontier(fr.repartition(9), per_host=10, salt=4).collect()
    )
    assert again == sorted(r["url"] for r in capped.collect())


def test_global_seq_matches_window_rank(spark):
    """global_seq's two-phase zip equals row_number over the total order,
    for any partition layout, with no single-partition exchange."""
    rows = [(i, float((i * 37) % 101), f"k{i % 7}") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, value double, key string").repartition(13)
    out, total = sched.global_seq(df, [F.desc("value"), "id"], seq_col="seq")
    assert total == 500
    got = {r["id"]: r["seq"] for r in out.collect()}
    from pyspark.sql import Window as W

    ref = df.withColumn("seq", F.row_number().over(W.orderBy(F.desc("value"), "id")))
    want = {r["id"]: r["seq"] for r in ref.collect()}
    assert got == want
    assert "SinglePartition" not in out._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("n_rows,n_tiles", [(500, 4), (10, 4), (3, 4), (17, 5), (100, 7)])
def test_global_ntile_matches_sql_ntile(spark, n_rows, n_tiles):
    """global_ntile boundaries are identical to SQL ntile for even and
    ragged splits, including N < n."""
    rows = [(i, float((i * 29) % 97)) for i in range(n_rows)]
    df = spark.createDataFrame(rows, "id long, value double").repartition(7)
    out = sched.global_ntile(df, n_tiles, [F.desc("value"), "id"], tile_col="tile")
    got = {r["id"]: r["tile"] for r in out.collect()}
    from pyspark.sql import Window as W

    ref = df.withColumn("tile", F.ntile(n_tiles).over(W.orderBy(F.desc("value"), "id")))
    want = {r["id"]: r["tile"] for r in ref.collect()}
    assert got == want


def test_tiers_matches_sql_ntile(spark):
    """Host-tier bucketing equals SQL ntile over (pending DESC, host) with
    no single-partition window (rewritten over global_ntile in r4)."""
    hosts = spark.createDataFrame(
        [(f"h{i}.example", (i * 13) % 50) for i in range(30)],
        "host string, pending long",
    )
    out = sched.tiers(hosts, n=4)
    got = {r["host"]: r["tier"] for r in out.collect()}
    from pyspark.sql import Window as W

    ref = hosts.withColumn("tier", F.ntile(4).over(W.orderBy(F.desc("pending"), "host")))
    want = {r["host"]: r["tier"] for r in ref.collect()}
    assert got == want
    assert "SinglePartition" not in out._jdf.queryExecution().executedPlan().toString()


def test_global_seq_ntile_edge_inputs(spark):
    """Empty input and single-row input survive the two-phase machinery."""
    empty = spark.createDataFrame([], "id long, value double")
    out, total = sched.global_seq(empty, [F.desc("value"), "id"])
    assert total == 0 and out.count() == 0
    tiled = sched.global_ntile(empty, 4, ["id"])
    assert tiled.count() == 0
    one = spark.createDataFrame([(1, 2.0)], "id long, value double")
    out1, total1 = sched.global_seq(one, ["id"])
    assert total1 == 1 and out1.collect()[0]["seq"] == 1
    assert sched.global_ntile(one, 4, ["id"]).collect()[0]["tile"] == 1


def _mini_frontier(spark, host, n, delay):
    urls = [f"https://{host}/p/{i}" for i in range(n)]
    return (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select(
            "url",
            urlnorm.url_hash(F.col("url")).alias("url_hash"),
            F.lit(host).alias("host"),
            F.lit(0.0).alias("priority"),
            F.lit(0).cast("int").alias("depth"),
            F.lit(0).cast("int").alias("discovered_round"),
        )
        .withColumn("bucket", urlnorm.bucket(F.col("url_hash"), config.N_BUCKETS))
        .withColumn("crawl_delay", F.lit(float(delay)))
    )


def test_zero_crawl_delay_does_not_kill_the_round(spark):
    """r5 review: 'Crawl-delay: 0' in a structured robots row used to hit
    ANSI DIVIDE_BY_ZERO inside budget_col and abort the whole round; now it
    means 'no delay declared' -> max_budget cap."""
    f = _mini_frontier(spark, "zero.example", 5, 0.0)
    out = sched.schedule(f, round_no=0, round_seconds=60.0, max_budget=3)
    assert out.count() == 3  # capped by max_budget, no crash


def test_slow_host_paced_across_rounds(spark):
    """r5 review: delay > round_seconds used to clamp to 1 fetch EVERY
    round (gap = round_seconds << declared delay).  Now the host is
    fetched once every ceil(delay/round_seconds) rounds, so consecutive
    fetches sit >= delay apart."""
    f = _mini_frontier(spark, "slow.example", 4, 150.0)  # k = ceil(150/60) = 3
    per_round = []
    logs = []
    for r in range(4):
        rows = sched.schedule(f, round_no=r, round_seconds=60.0).collect()
        per_round.append(len(rows))
        logs.extend((r, x["sched_ts"]) for x in rows)
    assert per_round == [1, 0, 0, 1]
    ts = sorted(t for _, t in logs)
    assert ts[1] - ts[0] >= 150.0  # the declared delay is honored


def test_gaps_audit_runs_on_persisted_fetch_log_shape(spark):
    """r5 review: FETCH_LOG_SCHEMA has no crawl_delay column; gaps() now
    joins it from robots instead of failing UNRESOLVED_COLUMN."""
    log = spark.createDataFrame(
        [(0, 60.0, "h.example", "https://h.example/a"),
         (0, 60.4, "h.example", "https://h.example/b"),
         (0, 61.0, "k.example", "https://k.example/a")],
        "round int, sched_ts double, host string, url string",
    )
    robots = spark.createDataFrame(
        [("h.example", 0.5)], "host string, crawl_delay double"
    )
    out = polite.gaps(log, robots=robots).collect()
    viol = {r["url"]: r["violates"] for r in out}
    assert viol["https://h.example/b"] is True   # 0.4 gap < 0.5 delay
    assert viol["https://h.example/a"] is False  # first fetch, no gap
    assert viol["https://k.example/a"] is False  # unknown host -> default 1.0, first fetch
    with pytest.raises(ValueError, match="crawl_delay"):
        polite.gaps(log)
