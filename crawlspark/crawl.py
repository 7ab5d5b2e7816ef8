"""The iterative crawl round loop (SURVEY.md §3.2).

Generalizes the reference's synchronous fetch-and-parse loop (search → fetch
ids → parse → enqueue unseen refs → sleep → repeat) into batch rounds over
DataFrames, one durable snapshot per round:

    frontier ─(⊥ seen by loop invariant; standalone callers get the
               bloom probe → exact anti-join entry check)→ candidates
            ─(robots broadcast join; drop disallowed)→ allowed
            ─(salted two-phase window top-B; budget, sched_ts)→ scheduled
            ─(total-order sort → fetch_log)→ exact fetch order
            ─(as-of join pages; left-outer for misses)→ fetched
            ─(pandas-UDF extract: text, canonical links)→ parsed
    frontier' = dedup((frontier − tried) ∪ (links − tried − seen))
                 — the links-vs-seen anti-join is the round's ONLY
                 full-seen shuffle, bloom/cuckoo-probe-shrunk to the
                 maybe-seen sliver when a sidecar exists
    seen'     = seen ∪ tried            (tried = scheduled ∪ disallowed)
    commit snapshot(frontier', seen', bloom(seen'), fetch_log, metrics)

Determinism (BASELINE.json north_rule): every ordering decision uses the
total order in sched.py; a killed run resumed from any committed round
replays the identical fetch order and seen set (property-tested).
"""

from __future__ import annotations

import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import bloom, config, cuckoo, dedup, extract, fetch, metrics, polite, sched, state, urlfilter, urlnorm
from .schemas import FRONTIER_SCHEMA


def _filter_mod(kind: str):
    """Seen-filter implementation for ``CrawlConfig.filter_kind`` — bloom
    (append-only, smallest) or cuckoo (supports in-place deletes for
    recrawl invalidation).  Both expose the same build/probe/write_sidecar
    contract, so the loop is agnostic."""
    if kind == "cuckoo":
        return cuckoo
    if kind == "bloom":
        return bloom
    raise ValueError(f"filter_kind must be 'bloom' or 'cuckoo', got {kind!r}")


def _filter_version(kind: str) -> str:
    """On-disk format version of the seen-filter sidecar — manifested at
    commit and compared at resume (a layout change makes old sidecars
    probe lossily, which silently re-fetches seen urls)."""
    return cuckoo.CUCKOO_VERSION if kind == "cuckoo" else config.BLOOM_VERSION


def _materialize(df: DataFrame, persist_mode: str) -> DataFrame:
    """Pin a round-internal frame that multiple downstream jobs reuse.

    ``checkpoint``: localCheckpoint(eager) — cheapest in local mode, but
    executor-stored: an executor loss mid-round on a real cluster kills the
    round (VERDICT r1 item 5).
    ``disk``: RELIABLE checkpoint (eager) to the configured checkpoint dir
    (``CRAWLSPARK_CKPT_DIR``; HDFS/S3 on a cluster) — survives executor
    loss AND truncates lineage.  Plain persist(DISK_ONLY) is not enough:
    it keeps lineage, and the round recurrence references the previous
    frontier ~3x per round, so the un-truncated plan grows geometrically
    and OOMs the driver by round 3 (measured).
    """
    if persist_mode == "disk":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            import tempfile

            sc.setCheckpointDir(
                os.environ.get("CRAWLSPARK_CKPT_DIR")
                or tempfile.mkdtemp(prefix="crawlspark-ckpt-")
            )
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def seeds_to_frontier(seeds: DataFrame, n_buckets: int) -> DataFrame:
    """Canonicalize → hash → host → bucket; depth 0, round 0, priority 0."""
    return (
        seeds.select(urlnorm.canonicalize(F.col("url")).alias("url"))
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        .dropDuplicates(["url"])
        .select(
            "url",
            urlnorm.url_hash(F.col("url")).alias("url_hash"),
            urlnorm.host(F.col("url")).alias("host"),
            F.lit(0.0).alias("priority"),
            F.lit(0).cast("int").alias("depth"),
            F.lit(0).cast("int").alias("discovered_round"),
        )
        .withColumn("bucket", urlnorm.bucket(F.col("url_hash"), n_buckets))
    )


def links_to_frontier(
    parsed: DataFrame, next_round: int, n_buckets: int, max_depth: int
) -> DataFrame:
    """Explode outlinks of fetched pages into frontier-shaped rows.

    ``links`` are already canonical (extract.text_links_udf), so this is
    JVM-only: explode, group, hash."""
    return (
        parsed.filter(F.col("depth") < max_depth)
        .select(
            F.explode("links").alias("url"),
            (F.col("depth") + 1).cast("int").alias("depth"),
        )
        .groupBy("url")
        .agg(F.min("depth").alias("depth"))
        .select(
            "url",
            urlnorm.url_hash(F.col("url")).alias("url_hash"),
            urlnorm.host(F.col("url")).alias("host"),
            F.lit(0.0).alias("priority"),
            F.col("depth"),
            F.lit(next_round).cast("int").alias("discovered_round"),
        )
        .withColumn("bucket", urlnorm.bucket(F.col("url_hash"), n_buckets))
    )


def run_round(
    spark: SparkSession,
    frontier: DataFrame,
    seen: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    round_no: int,
    cfg: config.CrawlConfig,
    bloom_sidecar: str | None,
    run_id: str,
    collect_metrics: bool = True,
    pages_latest_keys: DataFrame | None = None,
    url_filter: bool = False,
    blocklist: DataFrame | None = None,
    reputation: DataFrame | None = None,
    frontier_unseen: bool = False,
) -> dict:
    """One crawl round; returns the new state plus round outputs.

    ``frontier_unseen=True`` is the caller's guarantee that ``frontier`` is
    already disjoint from ``seen``.  The crawl loop maintains this as an
    invariant (every committed frontier' is anti-joined against seen' at
    construction, for fresh AND resumed crawls), so in loop mode the
    round-entry seen-check — a full shuffle of the frontier against the
    10^10-row seen table — is a set-level no-op and is skipped; the
    bloom/cuckoo probe + exact anti-join move to the only rows that
    genuinely need them, this round's freshly-discovered links (below).
    Standalone callers with an arbitrary (frontier, seen) pair keep the
    default ``False`` and the full entry check.

    Under ``cfg.frontier_split`` (off by default) the flag additionally
    asserts ``frontier`` is unique per url_hash — also maintained by the
    loop (every committed frontier' is a within() output;
    seeds_to_frontier dedups by canonical url) — so the frontier-update
    dedup can split on the bounded fresh-key set instead of exchanging
    the full frontier.  A standalone ``frontier_unseen=True`` caller
    passing duplicate url_hash rows must leave ``frontier_split`` off
    (the split would let the duplicates survive where within() used to
    collapse them).
    """
    m: list[DataFrame] = []
    if pages_latest_keys is None:
        pages_latest_keys = fetch.latest_keys(pages)

    def _probe_unseen(df: DataFrame) -> DataFrame:
        """df ∖ seen, with the bloom/cuckoo pre-filter when a sidecar
        exists: rows the filter says are definitely-unseen skip the exact
        anti-join entirely; only the maybe-seen sliver (true hits + ~1%
        false positives) pays the shuffle against the 10^10-row seen
        table.  A false positive is therefore re-checked, never dropped
        (no-false-negative invariant makes the fast path exact).  The ONE
        probe contract — round entry and the frontier_unseen fresh-link
        path must never diverge.

        The check reads its input more than once (the sure/maybe split;
        the small_probe key build and anti-join), and AQE does not reuse
        an exchange whose reads prune different columns, so the one frame
        read more than once is pinned: the probe's output when a sidecar
        exists (else the mapInArrow probe and everything upstream of it
        would run three times per round), the probe input otherwise."""
        if bloom_sidecar is not None and os.path.isdir(bloom_sidecar):
            probed = _materialize(
                _filter_mod(cfg.filter_kind).probe(
                    df, bloom_sidecar, keep_maybe_seen=True
                ),
                cfg.persist_mode,
            )
            sure_unseen = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
            to_check = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
            # the sliver is bounded by one round's batch, so the exact
            # re-check can broadcast it and leave seen un-shuffled
            # (cfg.sliver_broadcast; dedup.unseen docstring has the math)
            return sure_unseen.unionByName(
                dedup.unseen(to_check, seen, small_probe=cfg.sliver_broadcast)
            )
        # no sidecar: the probe is still bounded by one round's batch on the
        # loop path (fresh links), so the same flip applies — a standalone
        # run_round(frontier_unseen=False) caller with a beyond-broadcast
        # frontier should set sliver_broadcast=False instead
        return dedup.unseen(
            _materialize(df, cfg.persist_mode), seen, small_probe=cfg.sliver_broadcast
        )

    if frontier_unseen:
        if cfg.debug_invariants:
            # sampled guard on the trust-based flag (r4 advice): a caller
            # whose frontier overlaps seen would silently re-fetch; here a
            # cfg.debug_sample_fraction sample is semi-joined against seen
            # and ANY hit raises.  limit(1) stops at the first offender.
            join_cols = (
                ["bucket", "url_hash"]
                if "bucket" in frontier.columns and "bucket" in seen.columns
                else ["url_hash"]
            )
            hit = (
                frontier.sample(cfg.debug_sample_fraction, seed=round_no)
                .join(seen.select(*join_cols), join_cols, "left_semi")
                .limit(1)
                .count()
            )
            if hit:
                raise AssertionError(
                    "frontier_unseen=True but a sampled frontier row is "
                    "already in seen — the caller's disjointness guarantee "
                    "is violated"
                )
        candidates = frontier
    else:
        candidates = _probe_unseen(frontier)

    with_delay = candidates.join(F.broadcast(robots), "host", "left")
    allowed_flag = polite.allowed_col(F.col("url"), F.col("rules"))
    allowed = (
        with_delay.filter(allowed_flag)
        .withColumn(
            "crawl_delay",
            F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_crawl_delay)),
        )
        .drop("rules")
    )
    disallowed = with_delay.filter(~allowed_flag).select(*FRONTIER_SCHEMA.names, "bucket")

    scheduled = sched.schedule(
        allowed,
        round_no,
        round_seconds=cfg.round_seconds,
        max_budget=cfg.max_budget_per_host,
        salt=cfg.salt,
        reputation=reputation,
    )
    # materialize once: scheduled feeds fetch, fetch_log, seen', frontier'
    scheduled = _materialize(scheduled, cfg.persist_mode)

    # The replay-exact fetch order IS the sort key (sched_ts, host, url);
    # materializing a dense global seq costs 3 extra jobs/round, so it is
    # derived on demand (sched.global_seq / sched.log_with_seq) by
    # validation paths instead of inside the hot loop.
    fetch_log = scheduled.select(
        F.lit(round_no).cast("int").alias("round"), "sched_ts", "host", "url"
    )

    fetched = fetch.lookup_latest(
        scheduled.select("url", "host", "depth", "crawl_delay", "sched_ts"),
        pages,
        pages_latest_keys,
    )
    # fused extraction: html crosses Arrow once, parsed once (text + links)
    parsed = (
        fetched.withColumn("__tl", extract.text_links_udf(F.col("html"), F.col("url")))
        .drop("html")
        .withColumn("text", F.col("__tl.text"))
        .withColumn("links", F.col("__tl.links"))
        .drop("__tl")
    )

    tried = scheduled.select("url_hash").unionByName(disallowed.select("url_hash"))
    # O(|batch|) seen-absorb: `tried` is provably disjoint from `seen` (it
    # passed this round's exact anti-join), so only the round's DELTA is
    # materialized and seen' is a lazy union of per-round checkpointed
    # deltas — never a re-shuffle or re-write of the accumulated 10^10-row
    # seen table (the batch-loop analog of the r1 streaming-rewrite fix).
    seen_delta = dedup.bucketed_hashes(tried, cfg.n_buckets)

    # parse (pandas-UDF extraction over the fat html) and the delta (thin
    # hash projection) are independent given `scheduled` — submit both from
    # driver threads so the thin job rides along instead of serializing
    # (round-1 scaling was floored by ~10 serial barrier jobs/round).
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_parsed = ex.submit(_materialize, parsed, cfg.persist_mode)
        f_delta = ex.submit(_materialize, seen_delta, cfg.persist_mode)
        parsed = f_parsed.result()
        seen_delta = f_delta.result()
    new_seen = seen.select("url_hash", "bucket").unionByName(seen_delta)

    discovered = links_to_frontier(parsed, round_no + 1, cfg.n_buckets, cfg.max_depth)
    # opt-in pre-fetch gate: drop trap/junk urls and blocklisted hosts at
    # the cheapest point — before they ever enter the frontier (off by
    # default so replay/ordering goldens stay byte-pinned)
    if url_filter:
        discovered = urlfilter.filter_urls(discovered)
    if blocklist is not None:
        discovered = urlfilter.apply_host_blocklist(discovered, blocklist)
    # anti-join on the materialized delta (same url_hash set as `tried`)
    # instead of `tried` itself — avoids recomputing the candidate branch.
    # The delta is one round's batch (the sliver_broadcast size contract),
    # and Spark CAN broadcast an anti-join's right side — hinting it keeps
    # the 10^10-row frontier from ever shuffling on this path
    delta_keys = seen_delta.select("url_hash")
    if cfg.sliver_broadcast:
        delta_keys = F.broadcast(delta_keys)
    leftover = frontier.join(delta_keys, "url_hash", "left_anti")
    if frontier_unseen:
        # Loop invariant: frontier ⊥ seen at entry ⟹ leftover ⊥ seen'
        # (frontier minus this round's delta).  Only the freshly-discovered
        # links need the seen check: first against the delta (this round's
        # batch, small side), then against the accumulated seen — with the
        # bloom/cuckoo probe shrinking that exact anti-join to the
        # maybe-seen sliver when a sidecar exists (the sidecar was built at
        # LAST round's commit, i.e. it encodes exactly `seen`, the
        # pre-delta set, so probing it against post-delta-filtered rows is
        # sound).  Equivalent set to the flag=False trailing anti-join —
        # discovered ∖ new_seen = (discovered ∖ delta) ∖ seen — and the
        # stable within() sees the same candidate rows per surviving url,
        # so the kept representative (hence replay order) is identical.
        # _probe_unseen pins what its seen check re-reads, so
        # links_to_frontier and the probe each run once per round.
        fresh = _probe_unseen(
            discovered.join(delta_keys, "url_hash", "left_anti")
        )
        if cfg.frontier_split and cfg.sliver_broadcast:
            # within(leftover ∪ fresh) exchanges + sorts the FULL frontier
            # every round.  Under the loop invariant leftover is already
            # unique per url_hash (it is last round's within() output minus
            # the delta), so cross-set duplicates can only involve fresh
            # keys — a bounded set.  Split on them with broadcast semi/anti
            # (leftover is scanned, never shuffled), merge only the
            # colliding rows under the SAME total order: the kept
            # representative per key is identical (min under a total order
            # is associative), hence replay-byte-identical.  Default off —
            # see CrawlConfig.frontier_split for the measured trade.
            fresh_u = dedup.within(fresh, stable=True)
            fkeys = F.broadcast(fresh_u.select("url_hash"))
            lo_hit = leftover.join(fkeys, "url_hash", "left_semi")
            lo_keep = leftover.join(fkeys, "url_hash", "left_anti")
            merged = dedup.within(lo_hit.unionByName(fresh_u), stable=True)
            new_frontier = lo_keep.unionByName(merged).select(*frontier.columns)
        else:
            new_frontier = dedup.within(
                leftover.unionByName(fresh), stable=True
            )
    else:
        new_frontier = dedup.within(
            leftover.unionByName(discovered), stable=True
        ).join(new_seen.select("url_hash"), "url_hash", "left_anti")
    if cfg.max_frontier_per_host is not None:
        new_frontier = sched.cap_frontier(
            new_frontier, cfg.max_frontier_per_host, salt=cfg.salt
        )

    if collect_metrics:
        m.append(metrics.stage_metrics(scheduled, run_id, round_no, "schedule"))
        m.append(metrics.stage_metrics(parsed, run_id, round_no, "parse"))

    return {
        "scheduled": scheduled,
        "fetch_log": fetch_log,
        "parsed": parsed,
        "frontier": new_frontier,
        "seen": new_seen,
        "seen_delta": seen_delta,
        "metrics": m,
    }


def crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    robots: DataFrame,
    cfg: config.CrawlConfig | None = None,
    snapshot_root: str | None = None,
    run_id: str | None = None,
    resume: bool = False,
    url_filter: bool = False,
    blocklist: DataFrame | None = None,
    quality_feedback: bool = False,
) -> dict:
    """Full crawl: rounds until budget/rounds exhausted or frontier empty.

    ``quality_feedback=True`` turns on quality-directed crawling: after each
    round, per-host reputation (avg quality of the round's extracted text,
    sched.host_reputation) scales the NEXT round's per-host politeness
    budgets — link farms starve, good hosts keep their slots.  Off by
    default: it intentionally changes fetch ordering, so the replay-exact
    contract applies only to the default mode.

    Returns {"fetch_log": DF(round, seq, url), "extracted": DF(url, text),
    "seen": DF, "frontier": DF, "rounds_run": int,
    "round_walls": list[float] (driver-measured wall seconds per executed
    round — flat over a long crawl iff every per-round cost is O(batch))}.
    """
    cfg = cfg or config.CrawlConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    start_round = 0
    seen: DataFrame
    frontier: DataFrame
    sidecar: str | None = None

    if resume and snapshot_root is not None:
        frontier, seen, last, _mf = state.load_snapshot(
            spark, snapshot_root, run_id, expected_n_buckets=cfg.n_buckets
        )
        start_round = last + 1
        snap_kind = _mf.get("filter_kind", "bloom")
        if snap_kind != cfg.filter_kind:
            # probing a bloom sidecar with the cuckoo reader (or vice
            # versa) would misinterpret the bytes — refuse loudly
            raise ValueError(
                f"snapshot filter_kind {snap_kind!r} != resuming config "
                f"{cfg.filter_kind!r}; resume with the original filter_kind"
            )
        # format-version guard (r5): a sidecar written under an older
        # index/bit layout would probe LOSSILY under the current code —
        # maybe_seen=False for genuinely-seen urls skips the exact
        # anti-join and re-fetches them.  Refuse, don't silently degrade.
        # Old manifests carry bloom_version always and filter_version
        # never; treat a missing filter_version as the bloom_version for
        # bloom runs (cuckoo runs always wrote filter_kind, and any
        # pre-versioning cuckoo sidecar is v1 ≠ current → refuse).
        snap_fv = _mf.get(
            "filter_version",
            _mf.get("bloom_version") if snap_kind == "bloom" else "cuckoo-v1",
        )
        cur_fv = _filter_version(cfg.filter_kind)
        if snap_fv != cur_fv:
            raise ValueError(
                f"snapshot filter format {snap_fv!r} != engine {cur_fv!r}; "
                "the sidecar would probe lossily (seen urls re-fetched) — "
                "rebuild state or pin the engine version that wrote it"
            )
        sidecar = state.bloom_path(snapshot_root, run_id, last)
    else:
        frontier = seeds_to_frontier(seeds, cfg.n_buckets)
        if url_filter:
            frontier = urlfilter.filter_urls(frontier)
        if blocklist is not None:
            frontier = urlfilter.apply_host_blocklist(frontier, blocklist)
        seen = spark.createDataFrame([], "url_hash long, bucket int")

    logs: list[DataFrame] = []
    texts: list[DataFrame] = []
    rounds_run = 0
    # per-round driver-measured wall seconds (materializations, snapshot
    # commits and the next-round emptiness check all happen inside the loop
    # body, so this IS the real per-round cost); consumed by
    # tools/endurance_bench.py to show round wall tracks BATCH size, not
    # cumulative |seen| — the composed O(batch) claim the component benches
    # (snapshot_bench, sliver_bench, filter_bench) prove in isolation
    round_walls: list[float] = []
    # one full-corpus pass, thin columns only, reused by every round
    pages_latest_keys = _materialize(fetch.latest_keys(pages), cfg.persist_mode)
    # emptiness check on the already-checkpointed frame: isEmpty scans only
    # until the first row (typically one task) — a full count() per round
    # was ~0.3-0.5 s of pure job overhead at the serial floor
    frontier = _materialize(frontier, cfg.persist_mode)
    frontier_empty = frontier.isEmpty()
    reputation: DataFrame | None = None
    for r in range(start_round, cfg.rounds):
        if frontier_empty:
            break
        _round_t0 = time.monotonic()
        out = run_round(
            spark, frontier, seen, pages, robots, r, cfg, sidecar, run_id,
            collect_metrics=snapshot_root is not None,
            pages_latest_keys=pages_latest_keys,
            url_filter=url_filter,
            blocklist=blocklist,
            reputation=reputation,
            # loop invariant: every frontier entering a round — the seeds
            # frontier over an empty seen, a committed-then-resumed pair,
            # or last round's frontier' — is already ⊥ seen, so the round
            # skips the entry-side full-frontier anti-join and moves the
            # (bloom-accelerated) seen check to the discovered links
            frontier_unseen=True,
        )
        # seen' was materialized inside run_round (overlapped with parse);
        # frontier' is the only frame left to pin for the next round
        seen = out["seen"]
        # bound the lazy-union plan depth on long crawls: every
        # seen_compact_rounds, pin the union flat (one O(|seen|) pass,
        # amortized — NOT per round)
        if cfg.seen_compact_rounds and (rounds_run + 1) % cfg.seen_compact_rounds == 0:
            seen = _materialize(seen, cfg.persist_mode)
        frontier = _materialize(out["frontier"], cfg.persist_mode)
        frontier_empty = frontier.isEmpty()
        logs.append(out["fetch_log"])
        texts.append(out["parsed"].select("url", "text"))
        if quality_feedback:
            from . import textops

            scored = textops.quality_score(
                out["parsed"].select("url", "text"), id_col="url", text_col="text"
            )
            rep_round = sched.host_reputation(scored, url_col="url")
            # running mean across rounds: re-average the (host, sum, count)
            # pairs so early rounds don't dominate — thin rows, tiny agg
            rep_acc = rep_round.select(
                "host",
                (F.col("avg_quality") * F.col("n_docs")).alias("q_sum"),
                F.col("n_docs").cast("long").alias("n"),
            )
            if reputation is not None:
                rep_acc = reputation.select("host", "q_sum", "n").unionByName(rep_acc)
            reputation = _materialize(
                rep_acc.groupBy("host").agg(
                    F.sum("q_sum").alias("q_sum"), F.sum("n").alias("n")
                ),
                cfg.persist_mode,
            ).withColumn("rep", F.round(F.col("q_sum") / F.col("n"), 6))
        rounds_run += 1
        if snapshot_root is not None:
            # incremental sidecar maintenance (r5): when last round's
            # sidecar exists, absorb this round's disjoint delta into it —
            # amortized O(batch) — instead of rescanning the full seen set;
            # buckets the sizing rule would grow rebuild from seen (pruned).
            _fm = _filter_mod(cfg.filter_kind)
            if sidecar is not None and os.path.isdir(sidecar):
                bloom_df = _fm.absorb(
                    spark.read.parquet(sidecar), out["seen_delta"], seen
                )
            else:
                bloom_df = _fm.build(seen)
            all_metrics = out["metrics"][0]
            for mdf in out["metrics"][1:]:
                all_metrics = all_metrics.unionByName(mdf)
            # full seen checkpoint every Nth round, O(batch) delta between
            # (state.py "Incremental seen"); round 0 and post-resume rounds
            # land on the same pure-function-of-r cadence, so chains stay
            # bounded across resumes.  The delta is exactly the set absorbed
            # into `seen` this round (disjoint by the anti-join) — the
            # invariant that makes chain reconstruction exact.
            is_full = cfg.seen_checkpoint_every <= 1 or r % cfg.seen_checkpoint_every == 0
            state.commit_snapshot(
                snapshot_root,
                run_id,
                r,
                frontier,
                seen,
                bloom_df=bloom_df,
                fetch_log=out["fetch_log"],
                metrics=all_metrics,
                n_buckets=cfg.n_buckets,
                seen_delta=None if is_full else out["seen_delta"],
                extra={
                    "filter_kind": cfg.filter_kind,
                    "filter_version": _filter_version(cfg.filter_kind),
                },
            )
            sidecar = state.bloom_path(snapshot_root, run_id, r)
        round_walls.append(round(time.monotonic() - _round_t0, 3))

    empty_log = spark.createDataFrame(
        [], "round int, sched_ts double, host string, url string"
    )
    empty_text = spark.createDataFrame([], "url string, text string")
    fetch_log = empty_log
    for df in logs:
        fetch_log = fetch_log.unionByName(df)
    extracted = empty_text
    for df in texts:
        extracted = extracted.unionByName(df)
    return {
        "fetch_log": fetch_log,
        "extracted": extracted,
        "seen": seen,
        "frontier": frontier,
        "rounds_run": rounds_run,
        "round_walls": round_walls,
        "run_id": run_id,
    }


def invalidate_recrawl(
    spark: SparkSession,
    seen: DataFrame,
    due: DataFrame,
    n_buckets: int,
    sidecar: str | None = None,
    filter_kind: str = "bloom",
    url_col: str = "url",
) -> tuple[DataFrame, DataFrame | None]:
    """Recrawl invalidation: make ``due`` urls (sched.recrawl_schedule's
    output — canonical urls whose freshness interval has elapsed) fetchable
    again by removing them from the exact seen set, and — with the CUCKOO
    filter — deleting their fingerprints from the sidecar IN PLACE
    (cuckoo.remove, one cogrouped pass over only the affected buckets).

    Bloom cannot delete: bloom callers get ``(seen', None)`` and the
    sidecar self-heals when its buckets next rebuild — at a resize in
    ``bloom.absorb`` (the r5 incremental loop never rescans unresized
    buckets) or an explicit ``bloom.build(seen')``; until then the stale
    filter only costs extra exact-check traffic, never correctness,
    because a filter hit is always re-verified by the anti-join (the
    no-false-negative contract needs the filter to only ever
    OVER-approximate seen, which a stale filter does).

    Returns ``(seen', filters')`` — filters' is the edited cuckoo sidecar
    DataFrame to write back via cuckoo.write_sidecar, or None for bloom.
    Two invariants (r4 review):

    * sidecar deletes are restricted to hashes actually IN ``seen``
      (semi-join): ``cuckoo.remove`` deletes one fingerprint copy per
      requested hash, so deleting a never-inserted hash could strip a
      colliding seen url's copy and break the filter's
      no-false-negative contract (the fast path would skip the exact
      anti-join for an already-crawled url);
    * filters' is eagerly pinned (localCheckpoint) before return, so
      writing it back OVER the same sidecar path is legal — a lazy plan
      would still be reading the path it overwrites and Spark would
      refuse.
    """
    deletes = (
        due.select(F.xxhash64(F.col(url_col)).alias("url_hash"))
        .withColumn("bucket", urlnorm.bucket(F.col("url_hash"), n_buckets))
        .distinct()
    )
    new_seen = seen.join(deletes.select("url_hash"), "url_hash", "left_anti")
    new_filters = None
    if sidecar is not None and filter_kind == "cuckoo":
        filters = spark.read.parquet(sidecar)
        in_seen = deletes.join(
            seen.select("url_hash"), "url_hash", "left_semi"
        )
        new_filters = cuckoo.remove(filters, in_seen).localCheckpoint(eager=True)
    return new_seen, new_filters
