"""Engine configuration constants.

Everything that affects determinism (bucketing, salting, bloom sizing) is
versioned here; the snapshot manifest records ``BUCKET_FN_VERSION`` so a
resume can detect an incompatible layout (SURVEY.md §7 hard-part 3).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

# --- partitioning -----------------------------------------------------------
# seen/frontier/bloom bucket count.  At 10^10 urls, 4096 buckets =>
# ~2.4M hashes/bucket (~20 MB of int64) — fits a Python worker comfortably.
# Locally we use a small count so tests exercise multi-bucket paths cheaply.
N_BUCKETS = int(os.environ.get("CRAWLSPARK_BUCKETS", "64"))
BUCKET_FN_VERSION = "xxhash64-pmod-v1"

# mega-host salting factor (B6): the schedule's salted two-phase window
# top-B ranks a host's candidates in this many (host, salt) slices, so one
# task never ranks a whole mega-host.
SALT = int(os.environ.get("CRAWLSPARK_SALT", "8"))

# --- bloom sidecar (C3) -----------------------------------------------------
BLOOM_BITS_PER_KEY = 10          # ~1% false-positive rate
BLOOM_NUM_HASHES = 7             # k ≈ 0.69 * bits_per_key
BLOOM_VERSION = f"double-hash-v1:{BLOOM_BITS_PER_KEY}:{BLOOM_NUM_HASHES}"
BLOOM_MIN_BITS = 1024            # floor so tiny buckets still work

# --- politeness / scheduling ------------------------------------------------
DEFAULT_CRAWL_DELAY = 1.0        # seconds between fetches to one host
ROUND_SECONDS = 60.0             # wall-clock budget of one crawl round
MAX_BUDGET_PER_HOST = 10_000     # hard cap independent of crawl_delay

# --- determinism ------------------------------------------------------------
# THE frontier total order (replay contract): sched ranks hosts' queues by
# it, dedup.within(stable=True) keeps its min per url_hash, and the
# frontier_split merge argument in crawl.py relies on both using the SAME
# order.  One definition — a divergent copy would silently change which
# representative row survives dedup vs which the scheduler ranks first.
FRONTIER_ORDER = ("priority", "discovered_round", "depth", "url")

# --- spark tuning -----------------------------------------------------------
SHUFFLE_PARTITIONS = int(os.environ.get("CRAWLSPARK_SHUFFLE", "32"))
ARROW_BATCH_ROWS = 10_000        # html rows are fat; keep Arrow batches bounded


@dataclass(frozen=True)
class CrawlConfig:
    """Per-run knobs for the round loop (crawl.py)."""

    n_buckets: int = N_BUCKETS
    salt: int = SALT
    round_seconds: float = ROUND_SECONDS
    default_crawl_delay: float = DEFAULT_CRAWL_DELAY
    max_budget_per_host: int = MAX_BUDGET_PER_HOST
    max_depth: int = 10
    rounds: int = 3
    # intra-round materialization primitive:
    #  * "checkpoint" (default, local mode): localCheckpoint(eager) — fastest
    #    on one JVM, but executor-stored: an executor loss mid-round on a
    #    real cluster kills the round (VERDICT r1 item 5).
    #  * "disk": reliable checkpoint to CRAWLSPARK_CKPT_DIR (HDFS/S3 on a
    #    cluster) — survives executor loss AND truncates lineage; the
    #    cluster-grade setting.
    persist_mode: str = os.environ.get("CRAWLSPARK_PERSIST", "checkpoint")
    # seen-filter sidecar implementation: "bloom" (append-only, ~10 bits/
    # key — the default) or "cuckoo" (~16 bits/key, supports IN-PLACE
    # per-bucket deletes — use for recrawl workloads where due urls are
    # invalidated between runs instead of rebuilding the whole filter;
    # crawl.invalidate_recrawl).  Identical probe/build contract; outputs
    # are byte-identical either way (replay-tested).
    filter_kind: str = "bloom"
    # seen' is a lazy union of per-round checkpointed deltas (O(batch)
    # absorb); every this-many rounds the union is re-materialized flat so
    # plan depth stays bounded on long unsnapshotted crawls.
    seen_compact_rounds: int = 16
    # snapshot cost control (r5): a committed round writes the FULL seen
    # table only every this-many rounds; the rounds between commit just
    # the round's disjoint delta (state.py seen_mode="delta"), so per-round
    # snapshot I/O is O(batch) instead of O(|seen|) — the latter is O(n²)
    # cumulative and would not survive a 10^10-url crawl.  Resume
    # reconstructs seen from checkpoint + deltas in one multi-path scan;
    # gc_snapshots keeps every kept round's chain alive.  1 = legacy
    # full-every-round.
    seen_checkpoint_every: int = 8
    # frontier growth control: when set, each round's new frontier keeps at
    # most this many urls per host (best-first, sched.cap_frontier) —
    # mega-hosts can't swamp storage/shuffles between rounds.  None = off
    # (default; capping drops urls, so the replay-exact contract applies
    # only to the uncapped mode).
    max_frontier_per_host: int | None = None
    # cheap sampled invariant checks (r4 advice on run_round's trust-based
    # frontier_unseen flag): when on, a frontier passed with
    # frontier_unseen=True is sample-probed against seen and any overlap
    # raises instead of silently re-fetching.  Off by default — it adds a
    # (sampled) shuffle per round; turn on via env while debugging a
    # standalone caller that maintains the invariant itself.
    # default_factory, not a plain default: the env is read when a
    # CrawlConfig is CREATED, so setting the vars after crawlspark is
    # imported still works, and a malformed CRAWLSPARK_DEBUG_SAMPLE raises
    # at config construction (loud, local) instead of breaking the import
    # of every crawlspark module
    debug_invariants: bool = field(
        default_factory=lambda: os.environ.get("CRAWLSPARK_DEBUG_INVARIANTS", "")
        == "1"
    )
    # sample fraction the guard probes (1.0 = check every row; keep small in
    # production debugging so the extra shuffle stays cheap)
    debug_sample_fraction: float = field(
        default_factory=lambda: float(os.environ.get("CRAWLSPARK_DEBUG_SAMPLE", "0.01"))
    )
    # exact-recheck plan for the bloom/cuckoo maybe-seen sliver (r5): True
    # uses dedup.unseen(small_probe=True) — seen is scanned but NEVER
    # shuffled (a plain left_anti sort-merge-joins the full 10^10-row seen
    # table over the network every round; measured 2.4-4.7x at 64M seen).
    # The sliver is bounded by one round's batch (filter FPs + true
    # re-links), so the broadcast it requires stays small.  Disable for
    # workloads whose per-round sliver exceeds ~10M rows AND whose seen
    # table has a bucketed layout that makes the co-partitioned anti-join
    # shuffle-free anyway (Iceberg bucket(N, url_hash)).  Result sets are
    # identical either way (set-algebra identity, replay-tested).
    sliver_broadcast: bool = True
    # Frontier-update dedup as a broadcast split on the bounded fresh-key
    # set instead of within(leftover ∪ fresh) — removes the last per-round
    # O(|frontier|) exchange+sort (the frontier is scanned, never
    # shuffled), byte-identical by the total-order merge argument
    # (replay-tested both ways).  Default OFF: at single-node bench scale
    # (frontier ~1M rows) the extra fresh-key broadcast + second leftover
    # scan cost ~1.2 s/round more than the exchange they avoid (measured:
    # crawl 26.89 s off vs 30.52 s on, same window); at 10^10-frontier
    # cluster scale the exchange is 100s of GB/round and the split wins.
    # Requires the sliver_broadcast bounded-batch contract AND a frontier
    # unique per url_hash (the loop maintains both).
    frontier_split: bool = False

    def __post_init__(self) -> None:
        # frontier_split piggybacks on sliver_broadcast's bounded-batch
        # contract; silently falling back to the full-frontier exchange
        # (what the old `and` guard in crawl.py did) would leave an
        # operator at cluster scale believing the scan-only plan is active
        # while every round still shuffles the frontier — refuse loudly.
        if self.frontier_split and not self.sliver_broadcast:
            raise ValueError(
                "frontier_split=True requires sliver_broadcast=True (the "
                "split's fresh-key set is bounded by the same contract); "
                "drop --no-sliver-broadcast or --frontier-split"
            )
