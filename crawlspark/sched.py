"""Per-host priority scheduling (SURVEY.md §2 F1-F6, J4, B6, G1).

Reproduces the reference crawler's fetch ordering (a FIFO-BFS queue paced by
``time.sleep``) as a deterministic distributed schedule.  The total order —
shared exactly with the pure-Python oracle (tests/oracle_crawler.py) — is:

* per host, candidates rank by ``(priority, discovered_round, depth, url)``;
* each host fetches its top ``B = min(cap, floor(round_seconds/crawl_delay))``
  candidates this round, the k-th at ``sched_ts = round_start + (k-1)*delay``;
* the global fetch order within a round is ``(sched_ts, host, url)``.

``schedule`` computes it as a salted two-phase window top-B (SURVEY.md §7
hard-part 4), entirely in the JVM: phase 1 ranks each host's candidates
inside ``(host, salt)`` slices, so a mega-host (30%+ of the frontier) is
spread over ``salt`` shuffle partitions, and keeps the top B of each slice;
phase 2 re-ranks the ≤ salt×B survivors per host and applies the budget
across salts.  ``cap_frontier`` runs the same top-k with a literal limit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import config, polite, urlnorm

# ordering key within a host (must match tests/oracle_crawler.py)
# alias of the shared replay-order constant (see config.FRONTIER_ORDER —
# dedup.within(stable=True) must keep representatives under the same order)
_HOST_ORDER = list(config.FRONTIER_ORDER)


def _with_budget(
    frontier: DataFrame,
    round_seconds: float,
    max_budget: int,
    reputation: DataFrame | None = None,
    rep_floor: float = 0.1,
    round_no: int | None = None,
) -> DataFrame:
    df = frontier.withColumn(
        "budget", polite.budget_col(round_seconds, max_budget, round_no)
    )
    if reputation is None:
        return df
    # quality-directed crawling: a host's politeness budget scales with its
    # observed reputation rep∈[0,1] (budget × (rep_floor + (1−rep_floor)·rep),
    # min 1 so no host is starved outright); unknown hosts keep their full
    # budget — new hosts are explored, not punished.  The reputation side is
    # (host, rep), tiny next to the frontier, and broadcast.
    rep = F.broadcast(reputation.select("host", F.col("rep").alias("__rep")))
    return (
        df.join(rep, "host", "left")
        .withColumn(
            "budget",
            F.when(
                # a slow-host pacing 0 (budget_col round_no gating) must
                # survive reputation scaling — greatest(1, …) would bump
                # the off-round back to a delay-violating fetch
                F.col("__rep").isNotNull() & (F.col("budget") > 0),
                F.greatest(
                    F.lit(1),
                    F.floor(
                        F.col("budget")
                        * (F.lit(rep_floor) + F.lit(1.0 - rep_floor) * F.col("__rep"))
                    ).cast("int"),
                ),
            ).otherwise(F.col("budget")),
        )
        .drop("__rep")
    )


def _assign_ts(df: DataFrame, round_no: int, round_seconds: float) -> DataFrame:
    round_start = float(round_no) * round_seconds
    return df.withColumn(
        "sched_ts",
        (
            F.lit(round_start)
            + (F.col("host_rank") - 1).cast("double") * F.col("crawl_delay")
        ).cast("double"),
    )


def _salted_topk(
    df: DataFrame, limit, salt: int, rank_col: str = "__r"
) -> DataFrame:
    """Per host, the ``limit`` smallest rows under the host order, ranked
    1..n in ``rank_col``; ``limit`` is an int or a per-row column name.

    Phase 1 ranks inside ``(host, pmod(url_hash, salt))`` slices — the
    window's hash shuffle on that key IS the salted-key repartition, so a
    mega-host is spread over ``salt`` partitions — and keeps each slice's
    top ``limit``; phase 2 re-ranks the ≤ salt×limit survivors per host
    exactly.  ``url`` is unique per row, so the order is total and the
    result does not depend on ``salt`` or the input's partitioning.
    """
    lim = F.col(limit) if isinstance(limit, str) else F.lit(limit)
    w1 = Window.partitionBy("host", "__salt").orderBy(*_HOST_ORDER)
    w2 = Window.partitionBy("host").orderBy(*_HOST_ORDER)
    return (
        df.withColumn("__salt", F.pmod(F.col("url_hash"), F.lit(salt)).cast("int"))
        .withColumn(rank_col, F.row_number().over(w1))
        .filter(F.col(rank_col) <= lim)
        .drop("__salt")
        .withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= lim)
    )


def schedule(
    frontier: DataFrame,
    round_no: int,
    round_seconds: float = config.ROUND_SECONDS,
    max_budget: int = config.MAX_BUDGET_PER_HOST,
    salt: int = config.SALT,
    reputation: DataFrame | None = None,
) -> DataFrame:
    """J4+F1+F2: rank per host, cut to budget, assign ``sched_ts``.

    A salted two-phase window top-B (:func:`_salted_topk`) with the
    per-host budget as the limit; ``reputation`` (host, rep) scales each
    known host's budget — see :func:`_with_budget` /
    :func:`host_reputation`.
    """
    df = _with_budget(
        frontier, round_seconds, max_budget, reputation, round_no=round_no
    )
    return (
        _salted_topk(df, "budget", salt, rank_col="host_rank")
        .transform(lambda d: _assign_ts(d, round_no, round_seconds))
        .drop("budget")
    )


def order(scheduled: DataFrame) -> DataFrame:
    """G1: the global deterministic fetch order (replay invariant).

    At scale the sort key ``(sched_ts, host, url)`` IS the total order; the
    dense ``seq`` column (a single-partition window) is attached only for
    golden-replay validation and small outputs.
    """
    return scheduled.orderBy("sched_ts", "host", "url")


def global_seq(
    df: DataFrame,
    order_cols: list,
    seq_col: str = "seq",
    n_parts: int | None = None,
    reliable: bool = False,
) -> tuple[DataFrame, int]:
    """Dense 1-based global sequence by a total order WITHOUT an
    ``Exchange SinglePartition`` (which would funnel the whole relation
    through one task at 10^10 scale): a two-phase zip-with-index.

    Range-partition + sort by the order, count rows per (ordered)
    partition (n_parts rows to the driver, never data), then emit
    ``offset[pid] + local position`` per row in one Arrow pass.  Returns
    ``(df_with_seq, total_rows)``; ``order_cols`` accepts strings or
    Column expressions (e.g. ``F.desc("value")``).
    """
    import pyarrow as pa
    from pyspark import TaskContext
    from pyspark.sql.types import LongType, StructField, StructType

    sc = df.sparkSession.sparkContext
    n_parts = n_parts or max(sc.defaultParallelism, 1)
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]

    # the checkpoints pin partitioning for both passes (counts + offset
    # emit) AND pin the emitted seq against downstream plan rewrites (see
    # the return).  localCheckpoint is executor-stored — an executor loss
    # between the passes kills the job on a real cluster; pass
    # reliable=True to use the configured reliable checkpoint dir instead
    # (same tradeoff as crawl._materialize's persist_mode="disk").  NOTE:
    # the CRAWLSPARK_CKPT_DIR-unset fallback is a DRIVER-LOCAL tempdir —
    # fine in local mode, NOT executor-visible on a real cluster; set the
    # env var to an HDFS/S3 path there.
    def _pin(frame: DataFrame) -> DataFrame:
        if reliable:
            if sc.getCheckpointDir() is None:
                import tempfile

                sc.setCheckpointDir(
                    os.environ.get("CRAWLSPARK_CKPT_DIR")
                    or tempfile.mkdtemp(prefix="crawlspark-ckpt-")
                )
            return frame.checkpoint(eager=True)
        return frame.localCheckpoint(eager=True)

    ranged = _pin(df.repartitionByRange(n_parts, *cols).sortWithinPartitions(*cols))
    counts = (
        ranged.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["pid"]):
        offsets[int(r["pid"])] = acc
        acc += int(r["count"])

    schema = StructType(
        [StructField(seq_col, LongType(), False)] + list(df.schema.fields)
    )

    def _add_seq(batches):
        ctx = TaskContext.get()
        pos = offsets.get(ctx.partitionId() if ctx else 0, 0)
        for batch in batches:
            n = batch.num_rows
            seq = pa.array(range(pos + 1, pos + n + 1), type=pa.int64())
            pos += n
            yield pa.RecordBatch.from_arrays(
                [seq] + list(batch.columns),
                names=[seq_col] + list(batch.schema.names),
            )

    # mapInArrow must run directly over `ranged`'s pinned partitions so
    # TaskContext.partitionId() lines up with the counted offsets — AND the
    # result itself must be pinned: if the lazy mapInArrow plan were
    # embedded under e.g. a union or coalesce, partition ids would be
    # renumbered at execution time and _add_seq would read misaligned
    # offsets, silently corrupting seq (r4 review).
    return _pin(ranged.mapInArrow(_add_seq, schema)), acc


def global_ntile(
    df: DataFrame,
    n: int,
    order_cols: list,
    tile_col: str = "tile",
    reliable: bool = False,
) -> DataFrame:
    """``ntile(n) OVER (ORDER BY ...)`` with SQL-identical tile boundaries
    but NO single-partition window (r2/r3 verdict carry-over): the global
    rank comes from :func:`global_seq` (range-partitioned, parallel), and
    the tile is a pure expression on it — first ``N % n`` tiles get
    ``ceil(N/n)`` rows, the rest ``floor(N/n)``, exactly the SQL spec.
    Integer ``div`` arithmetic throughout (no double rounding at 10^10).
    """
    seq_col = "__gnt_seq"
    with_seq_df, total = global_seq(df, order_cols, seq_col=seq_col, reliable=reliable)
    q, rem = divmod(total, n)
    big, cut, q_safe = q + 1, (total % n) * (q + 1), max(q, 1)
    tile = (
        F.when(
            F.col(seq_col) <= cut,
            F.expr(f"({seq_col} - 1) div {big}"),
        )
        .otherwise(F.lit(rem) + F.expr(f"({seq_col} - {cut} - 1) div {q_safe}"))
        + F.lit(1)
    ).cast("int")
    return with_seq_df.withColumn(tile_col, tile).drop(seq_col)


def log_with_seq(fetch_log: DataFrame) -> DataFrame:
    """Dense (round, seq, url) from a (round, sched_ts, host, url) log —
    the validation-time view of the fetch order (small data; plain window)."""
    w = Window.partitionBy("round").orderBy("sched_ts", "host", "url")
    return fetch_log.select(
        "round", F.row_number().over(w).cast("long").alias("seq"), "url"
    )


def indegree_priorities(parsed: DataFrame, scale: float = 1.0) -> DataFrame:
    """(url, priority) from link indegree — the citation-count analog of
    the reference's eLink neighbor expansion: a url cited by many fetched
    pages gets ``priority = -log1p(indegree) * scale``, which sorts it
    EARLIER under the ascending host order ``(priority, discovered_round,
    depth, url)``.  One explode + one hash-aggregate (map-side combined);
    canonicalization reuses the engine's UDF so the keys match frontier
    urls exactly.
    """
    canon = (
        parsed.select(F.explode("links").alias("raw_url"))
        .filter(F.col("raw_url").isNotNull())
        .select(urlnorm.canonicalize(F.col("raw_url")).alias("url"))
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
    )
    deg = canon.groupBy("url").agg(F.count(F.lit(1)).alias("indegree"))
    return deg.select(
        "url", (-F.log1p(F.col("indegree")) * F.lit(scale)).alias("priority")
    )


def cap_frontier(
    frontier: DataFrame, per_host: int, salt: int = config.SALT
) -> DataFrame:
    """Frontier growth control: keep at most ``per_host`` urls per host,
    best-first under the engine's host order (priority, discovered_round,
    depth, url) — at 10^10-frontier scale a handful of mega-hosts would
    otherwise swamp storage and every downstream shuffle.

    Same salted two-phase top-k as :func:`schedule`
    (:func:`_salted_topk`), with ``per_host`` as the limit.  Deterministic;
    schema preserved.
    """
    return _salted_topk(frontier, per_host, salt).select(*frontier.columns)


def host_reputation(
    scored_docs: DataFrame,
    url_col: str = "url",
    quality_col: str = "quality",
    dup_col: str | None = None,
) -> DataFrame:
    """(host, rep, n_docs, avg_quality[, dup_frac]) — per-host reputation
    from already-fetched documents' quality signals: hosts that keep
    yielding high-quality, non-duplicated text should be crawled deeper,
    link-farm hosts should starve.

    ``rep`` ∈ [0,1] = avg quality × (1 − dup fraction) (dup term only when
    ``dup_col``, a 0/1 duplicate mark, is given).  One hash-aggregate over
    (host) — map-side combined, thin rows.
    """
    host = urlnorm.host(F.col(url_col)).alias("host")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(quality_col), 6).alias("avg_quality"),
    ]
    if dup_col is not None:
        aggs.append(F.round(F.avg(dup_col), 6).alias("dup_frac"))
    out = scored_docs.select(host, quality_col, *([dup_col] if dup_col else [])).groupBy(
        "host"
    ).agg(*aggs)
    rep = F.col("avg_quality") * (
        (1 - F.col("dup_frac")) if dup_col is not None else F.lit(1.0)
    )
    return out.withColumn("rep", F.round(rep, 6))


def reputation_priorities(
    frontier: DataFrame,
    reputation: DataFrame,
    scale: float = 1.0,
    baseline: float = 0.5,
) -> DataFrame:
    """(url, priority) for :func:`with_priorities`: frontier urls inherit
    ``-(rep - baseline) * scale`` from their host — above-baseline hosts
    go negative (fetched earlier), BELOW-baseline hosts go positive and
    rank behind the neutral 0.0 that unknown hosts get from the
    ``with_priorities`` left-join contract.  Without the baseline every
    known host (even a rep≈0 link farm) would outrank every unexplored
    host, inverting the starve-the-farms goal.  The reputation side is
    (host, rep) — tiny next to the frontier — and broadcast.
    """
    rep = F.broadcast(reputation.select("host", "rep"))
    # reuse the frontier's host column when present (FRONTIER_SCHEMA
    # guarantees it) — re-deriving it is a per-row regexp over what is a
    # 10^10-row table at design scale, for a value the builder already has
    if "host" in frontier.columns:
        keyed = frontier.select("url", "host")
    else:
        keyed = frontier.select("url", urlnorm.host(F.col("url")).alias("host"))
    return (
        keyed
        .join(rep, "host")
        .select(
            "url",
            (-(F.col("rep") - F.lit(baseline)) * F.lit(scale)).alias("priority"),
        )
    )


def with_priorities(frontier: DataFrame, prios: DataFrame) -> DataFrame:
    """Overwrite frontier priorities from a (url, priority) table (urls not
    in the table keep neutral 0.0); schema and column order preserved."""
    cols = frontier.columns
    joined = frontier.drop("priority").join(
        prios.withColumnRenamed("priority", "__p"), "url", "left"
    )
    return (
        joined.withColumn("priority", F.coalesce(F.col("__p"), F.lit(0.0)))
        .drop("__p")
        .select(*cols)
    )


def tiers(hosts: DataFrame, n: int = 4) -> DataFrame:
    """F5: host-tier bucketing for scheduling fairness (ntile by backlog).

    SQL-identical boundaries via :func:`global_ntile` — the host table is
    ~10^7-10^8 rows at frontier scale, so even this "small" relation must
    not funnel through an ``Exchange SinglePartition`` window (r4; the
    per-url twin of this fix is win_rank_family's tile)."""
    return global_ntile(hosts, n, [F.desc("pending"), "host"], tile_col="tier")


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 3,
) -> DataFrame:
    """(url, rank) — fixed-iteration PageRank over the link graph, the
    iterative big sibling of :func:`indegree_priorities` (a page linked by
    highly-linked pages outranks one linked by leaves).

    Scale shape: ranks and out-degrees are (node, double) tables; each
    iteration is one equi-join on ``src`` plus one hash-aggregate on
    ``dst`` (both map-side combined, both shuffling only 16-byte rows —
    never the edge payloads).  Dangling mass (nodes with no outlinks) is
    folded back uniformly via a 1-row aggregate cross-joined in, keeping
    the plan fully lazy; every ``checkpoint_every`` iterations the rank
    table is materialized to truncate the iterative lineage (without it
    the plan depth grows linearly and the optimizer re-walks it every
    action).  Deterministic up to float summation order; tests compare
    against a numpy reference at 1e-9 and analytic fixed points exactly.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0)).withColumnRenamed("node", "url")
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # node, out_deg (0 for dangling), rank
    base = nodes.join(out_deg, nodes.node == out_deg.src, "left").select(
        "node", F.coalesce("out_deg", F.lit(0)).alias("out_deg")
    )
    base = base.localCheckpoint(eager=True)
    ranks = base.select("node", "out_deg", F.lit(1.0 / n_nodes).alias("rank"))
    for it in range(iterations):
        contribs = (
            e.join(ranks, e.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = ranks.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        ranks = (
            ranks.select("node", "out_deg")
            .join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "out_deg",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.col("_dm") / n_nodes)
                ).alias("rank"),
            )
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("node").alias("url"), "rank")


def pagerank_priorities(parsed: DataFrame, iterations: int = 10, scale: float = 1.0) -> DataFrame:
    """(url, priority) for :func:`with_priorities` from PageRank over the
    fetched pages' outlink graph (canonicalized with the engine's UDF so
    keys match frontier urls exactly)."""
    e = (
        parsed.select(
            urlnorm.canonicalize(F.col("url")).alias("src"),
            F.explode("links").alias("raw_dst"),
        )
        .filter(F.col("raw_dst").isNotNull())
        .select("src", urlnorm.canonicalize(F.col("raw_dst")).alias("dst"))
        .filter(
            F.col("src").isNotNull() & (F.col("src") != "")
            & F.col("dst").isNotNull() & (F.col("dst") != "")
        )
    )
    pr = pagerank(e, iterations=iterations)
    return pr.select("url", (-F.log1p(F.col("rank") * 1e6) * F.lit(scale)).alias("priority"))


def recrawl_schedule(
    history: DataFrame,
    now_ts: float,
    min_interval: float = 3600.0,
    max_interval: float = 30 * 86400.0,
    default_interval: float = 7 * 86400.0,
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Adaptive recrawl scheduling from observed change rates (freshness).

    Input: the per-url fetch history ``(url, fetch_ts: double epoch-s,
    content_hash)`` accumulated across crawl runs.  Per url, a lag window
    marks fetches whose content hash changed; the estimated change
    interval is observed-timespan / n_changes (the Poisson MLE of the
    mean time between changes under periodic sampling), clamped to
    [min_interval, max_interval], defaulting for never-changed or
    single-fetch urls.  ``next_due = last_ts + interval``; ``due`` is the
    recrawl frontier at ``now_ts``.

    Scale shape: one window + one hash-aggregate, both partitioned by
    url (no skew — url is unique-ish by construction); everything is
    built-in expressions, fully codegen'd, and the output is one row per
    url regardless of history depth.
    """
    w = Window.partitionBy(url_col).orderBy(ts_col)
    marked = history.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).cast("double").alias("ts"),
        (
            F.lag(hash_col).over(w).isNotNull()
            & (F.col(hash_col) != F.lag(hash_col).over(w))
        ).cast("int").alias("changed"),
    )
    agg = marked.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum("changed").alias("n_changes"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    est = (F.col("last_ts") - F.col("first_ts")) / F.nullif(
        F.col("n_changes"), F.lit(0)
    )
    interval = F.least(
        F.greatest(
            F.coalesce(est, F.lit(float(default_interval))),
            F.lit(float(min_interval)),
        ),
        F.lit(float(max_interval)),
    )
    return agg.select(
        "url",
        "n_fetches",
        "n_changes",
        F.round(interval, 6).alias("recrawl_interval"),
        F.round(F.col("last_ts") + interval, 6).alias("next_due"),
        (F.col("last_ts") + interval <= F.lit(float(now_ts))).alias("due"),
    )
