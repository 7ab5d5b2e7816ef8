"""Fetch = join against the pre-crawled pages table (SURVEY.md §2 D1-D6).

The reference's "fetch" is a batched HTTP GET (``efetch.fcgi?id=i1,i2,…``);
at Common-Crawl scale pages are pre-crawled into an Iceberg/Parquet table,
so fetching is an equi-join on url.  AQE sizes the join (broadcast if the
scheduled batch is small, sort-merge otherwise; skew splitting enabled in
session.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def lookup(scheduled: DataFrame, pages: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """D1: inner fetch join.  Project the fat ``html`` column only here —
    never let it travel through upstream shuffles (SURVEY.md §4 pruning)."""
    cols = columns or ["url", "warc_ts", "html", "lang"]
    return scheduled.join(pages.select(*cols), "url", "inner")


def lookup_outer(scheduled: DataFrame, pages: DataFrame) -> DataFrame:
    """D3: left-outer fetch — unmatched rows are fetch-misses (the
    reference's HTTP-404 branch) and feed miss metrics."""
    return scheduled.join(
        pages.select("url", "warc_ts", "html", "lang"), "url", "left_outer"
    ).withColumn("fetch_miss", F.col("warc_ts").isNull())


def present(seeds: DataFrame, pages: DataFrame) -> DataFrame:
    """D4: semi-join — which seeds already exist in the corpus."""
    return seeds.join(pages, "url", "left_semi")


def latest_at(pages: DataFrame, cutoff: Column | str | None = None) -> DataFrame:
    """D5: as-of — latest capture per url at/before ``cutoff``.

    Common-Crawl keeps 1-3 ``warc_ts`` captures per url; the engine fetches
    the newest visible one.  Window + row_number (Spark has no native as-of
    join); url partitioning means no extra shuffle after a url-bucketed scan.
    """
    df = pages
    if cutoff is not None:
        cutoff_col = F.lit(cutoff) if isinstance(cutoff, str) else cutoff
        df = df.filter(F.col("warc_ts") <= cutoff_col)
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_keys(pages: DataFrame) -> DataFrame:
    """Thin (url, warc_ts) table of each url's newest capture.

    Computed ONCE per crawl, not per round: the aggregation shuffles only
    two thin columns (map-side partial agg), never the fat ``html`` bytes.
    At 10^10 scale this is the only full-corpus pass, and it is reusable
    across every round (pages are immutable within a crawl).
    """
    return pages.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))


def lookup_latest(
    scheduled: DataFrame,
    pages: DataFrame,
    keys: DataFrame,
    broadcast_wanted: bool = True,
) -> DataFrame:
    """As-of fetch join that never shuffles ``html``.

    1. ``wanted = scheduled.url ⋈ keys`` — thin (url, warc_ts) pairs, one
       per scheduled url, bounded by the round's politeness budget.
    2. ``hits = pages ⋈ broadcast(wanted)`` — broadcast hash join: the fat
       pages scan stays in place; html bytes leave the scan only for rows
       actually scheduled this round.  (localCheckpoint-backed frames carry
       no size stats, so without the explicit hint Spark would plan a
       sort-merge join and shuffle the whole corpus every round.)
    3. ``scheduled left_outer ⋈ hits`` — misses keep null html/warc_ts (the
       reference's HTTP-404 branch).

    ``broadcast_wanted=False`` for mega-round batches that exceed broadcast
    limits — then pre-bucket the pages table by url (Iceberg bucket
    transform) so the SMJ shuffles only the scheduled side.
    """
    w = Window.partitionBy("url").orderBy(F.desc("warc_ts"), F.col("html"))
    if broadcast_wanted:
        # Build wanted with the scheduled side broadcast too: a plain
        # scheduled ⋈ keys inside the BroadcastExchange subquery is planned
        # NON-adaptively (AQE never sees it), so it would run as an SMJ
        # shuffling+sorting the full keys table every round.  If wanted fits
        # in a broadcast, scheduled.url certainly does (wanted ⊆ scheduled
        # plus one timestamp).  Measured at bench scale (144k scheduled, 2M
        # keys, local[32]): median 2.4 s vs 4.4 s for the SMJ shape.
        wanted = keys.join(F.broadcast(scheduled.select("url")), "url", "inner")
        hits = pages.select("url", "warc_ts", "html").join(
            F.broadcast(wanted), ["url", "warc_ts"], "inner"
        )
        # Fixed-width url exchanges for the window and the join: AQE
        # coalesces planner-inserted shuffles toward 1 MB partitions, which
        # packs a round's html into ONE partition, so the extraction UDF
        # above this join ran as one task.  A repartition-by-number
        # exchange is never coalesced and satisfies both operators, so no
        # exchange is added and extraction runs one full wave.
        n = scheduled.sparkSession.sparkContext.defaultParallelism
        scheduled = scheduled.repartition(n, "url")
        hits = hits.repartition(n, "url")
    else:
        wanted = scheduled.select("url").join(keys, "url", "inner")
        # bucketed-corpus path: join on url ALONE so the pages side's
        # HashPartitioning(url) (from io.write_pages_bucketed) satisfies the
        # join distribution and the html scan needs NO Exchange — only the
        # thin wanted side shuffles into the bucketing.  The as-of pick
        # moves to a post-join range filter: `>=` instead of `==` because
        # Catalyst folds an equality filter back into the join keys (which
        # re-introduces the (url, warc_ts) hash exchange over html); the
        # two are equivalent here since __want_ts IS each url's max
        # capture ts — no row can exceed it (1-3 captures per url).
        hits = (
            pages.select("url", "warc_ts", "html")
            .join(
                wanted.withColumnRenamed("warc_ts", "__want_ts"), "url", "inner"
            )
            .filter(F.col("warc_ts") >= F.col("__want_ts"))
            .drop("__want_ts")
        )
    hits = (
        # deterministic pick if several captures share (url, max warc_ts);
        # this window sees only scheduled-row-count rows, never the corpus
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return scheduled.join(hits, "url", "left_outer")


def in_window(events: DataFrame, slots: DataFrame, keys: list[str], lo: str, hi: str, ts: str) -> DataFrame:
    """D6: range/interval join — event ts within a slot's [lo, hi) window,
    equi on ``keys`` first so Spark plans a hash/SMJ join with a range
    residual instead of a nested-loop cross product."""
    cond = [events[k] == slots[k] for k in keys]
    cond.append(events[ts] >= slots[lo])
    cond.append(events[ts] < slots[hi])
    return events.join(slots, cond, "inner")
