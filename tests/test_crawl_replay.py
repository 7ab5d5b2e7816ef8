"""End-to-end golden replay (SURVEY.md §5.4, FIXTURES.md §4).

The engine run with the same seeds + politeness budget must match the
pure-Python oracle crawler on: exact fetch order, final seen set, and
byte-identical extracted text per url (BASELINE.json north_rule).  The
resume test replays from every committed snapshot round and must match the
same goldens — "a killed run resumes exactly".
"""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

import gen_pages as gp
from crawlspark import config, crawl
from crawlspark.schemas import PAGES_SCHEMA
from oracle_crawler import crawl_oracle

N_PAGES = 400
N_SEEDS = 12
CFG = config.CrawlConfig(
    n_buckets=16, salt=4, round_seconds=30.0, rounds=3, max_depth=6
)


@pytest.fixture(scope="module")
def fixtures(spark):
    pages_rows = gp.gen_pages_local(N_PAGES)
    seeds = gp.gen_seeds(N_PAGES, N_SEEDS)
    robots = gp.gen_robots()
    pages_df = spark.createDataFrame(pages_rows, PAGES_SCHEMA)
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "url string")
    robots_df = gp.robots_df(spark)
    oracle = crawl_oracle(
        seeds,
        pages_rows,
        robots,
        rounds=CFG.rounds,
        round_seconds=CFG.round_seconds,
        default_crawl_delay=CFG.default_crawl_delay,
        max_budget_per_host=CFG.max_budget_per_host,
        max_depth=CFG.max_depth,
    )
    assert len(oracle.fetch_log) > 40, "fixture too small to be meaningful"
    return pages_df, seeds_df, robots_df, seeds, pages_rows, robots, oracle


def _engine_run(spark, fixtures, snapshot_root=None, run_id=None, resume=False):
    pages_df, seeds_df, robots_df = fixtures[:3]
    return crawl.crawl(
        spark,
        seeds_df,
        pages_df,
        robots_df,
        cfg=CFG,
        snapshot_root=snapshot_root,
        run_id=run_id,
        resume=resume,
    )


def _fetch_tuples(result) -> list[tuple[int, int, str]]:
    from crawlspark import sched

    log = sched.log_with_seq(result["fetch_log"])
    return sorted((r["round"], r["seq"], r["url"]) for r in log.collect())


def test_replay_matches_oracle(spark, fixtures):
    oracle = fixtures[-1]
    result = _engine_run(spark, fixtures)
    got = _fetch_tuples(result)
    want = sorted(oracle.fetch_log)
    assert got == want

    # per-round wall instrumentation (tools/endurance_bench.py consumer):
    # one positive wall per executed round
    assert len(result["round_walls"]) == result["rounds_run"]
    assert all(w > 0 for w in result["round_walls"])

    # seen set: engine stores hashes; map golden urls → xxhash64 via Spark
    got_seen = {r["url_hash"] for r in result["seen"].collect()}
    want_seen = {
        r["h"]
        for r in spark.createDataFrame([(u,) for u in sorted(oracle.seen)], "url string")
        .select(F.xxhash64("url").alias("h"))
        .collect()
    }
    assert got_seen == want_seen

    # byte-identical text per url (sha256 compare)
    got_text = {
        r["url"]: r["text"]
        for r in result["extracted"].collect()
        if r["text"] is not None
    }
    want_text = {u: t for u, t in oracle.texts.items() if t is not None}
    assert set(got_text) == set(want_text)
    for u, t in want_text.items():
        assert (
            hashlib.sha256(got_text[u].encode()).hexdigest()
            == hashlib.sha256(t.encode()).hexdigest()
        ), f"text mismatch for {u}"


def test_frontier_split_identical(spark, fixtures):
    """frontier_split=True (the 10^10-scale frontier-update plan: broadcast
    split on the bounded fresh-key set, frontier scanned never shuffled)
    must replay the exact fetch order AND seen set of the default
    full-frontier within() — the total-order merge argument, tested."""
    import dataclasses

    oracle = fixtures[-1]
    pages_df, seeds_df, robots_df = fixtures[:3]
    cfg_split = dataclasses.replace(CFG, frontier_split=True)
    result = crawl.crawl(spark, seeds_df, pages_df, robots_df, cfg=cfg_split)
    assert _fetch_tuples(result) == sorted(oracle.fetch_log)
    got_seen = {r["url_hash"] for r in result["seen"].collect()}
    want_seen = {
        r["h"]
        for r in spark.createDataFrame([(u,) for u in sorted(oracle.seen)], "url string")
        .select(F.xxhash64("url").alias("h"))
        .collect()
    }
    assert got_seen == want_seen


def test_disk_persist_mode_identical(spark, fixtures):
    """persist(DISK_ONLY) materialization (the cluster-grade mode) must
    replay the exact same fetch order as localCheckpoint mode."""
    import dataclasses

    oracle = fixtures[-1]
    pages_df, seeds_df, robots_df = fixtures[:3]
    cfg_disk = dataclasses.replace(CFG, persist_mode="disk")
    result = crawl.crawl(spark, seeds_df, pages_df, robots_df, cfg=cfg_disk)
    assert _fetch_tuples(result) == sorted(oracle.fetch_log)


def test_fetch_misses_are_marked_seen(spark, fixtures):
    """Dangling links get scheduled once, miss the pages table, and never
    reappear (the reference's 404 branch)."""
    oracle = fixtures[-1]
    page_urls = {r["url"] for r in fixtures[4]}
    missed = [u for u in oracle.seen if u not in page_urls and "dangling" in u]
    if missed:
        fetched_urls = [u for _, _, u in oracle.fetch_log]
        for u in missed:
            assert fetched_urls.count(u) <= 1


def test_resume_equivalence(spark, fixtures, tmp_path):
    """Kill after each round k, resume, and compare the full goldens."""
    oracle = fixtures[-1]
    want = sorted(oracle.fetch_log)
    root = str(tmp_path / "snaps")

    full = _engine_run(spark, fixtures, snapshot_root=root, run_id="full")
    assert _fetch_tuples(full) == want

    for k in range(CFG.rounds - 1):
        run_id = f"resume{k}"
        # run only rounds 0..k with snapshots, then resume to the end
        partial_cfg = config.CrawlConfig(**{**CFG.__dict__, "rounds": k + 1})
        pages_df, seeds_df, robots_df = fixtures[:3]
        part = crawl.crawl(
            spark, seeds_df, pages_df, robots_df,
            cfg=partial_cfg, snapshot_root=root, run_id=run_id,
        )
        part_log = _fetch_tuples(part)
        rest = crawl.crawl(
            spark, seeds_df, pages_df, robots_df,
            cfg=CFG, snapshot_root=root, run_id=run_id, resume=True,
        )
        rest_log = _fetch_tuples(rest)
        assert sorted(part_log + rest_log) == want, f"resume after round {k} diverged"

        got_seen = {r["url_hash"] for r in rest["seen"].collect()}
        want_seen = {
            r["h"]
            for r in spark.createDataFrame(
                [(u,) for u in sorted(oracle.seen)], "url string"
            ).select(F.xxhash64("url").alias("h")).collect()
        }
        assert got_seen == want_seen, f"seen set diverged resuming after round {k}"


def test_seen_compaction_every_round_identical(spark, fixtures):
    """Compacting the lazy seen union every round (the most aggressive
    setting of seen_compact_rounds) must not change fetch order or the
    final seen set."""
    import dataclasses

    oracle = fixtures[-1]
    pages_df, seeds_df, robots_df = fixtures[:3]
    cfg_c = dataclasses.replace(CFG, seen_compact_rounds=1)
    result = crawl.crawl(spark, seeds_df, pages_df, robots_df, cfg=cfg_c)
    assert _fetch_tuples(result) == sorted(oracle.fetch_log)
    got_seen = {r["url_hash"] for r in result["seen"].collect()}
    ref = crawl.crawl(spark, seeds_df, pages_df, robots_df, cfg=CFG)
    assert got_seen == {r["url_hash"] for r in ref["seen"].collect()}


def test_blocklist_gates_frontier(spark, fixtures):
    """A blocklisted host never appears in the fetch log; the same crawl
    without the blocklist does fetch it (control)."""
    pages_df, seeds_df, robots_df = fixtures[:3]
    control = crawl.crawl(spark, seeds_df, pages_df, robots_df, cfg=CFG)
    hosts = {
        r["h"]
        for r in control["fetch_log"]
        .select(F.expr("parse_url(url, 'HOST')").alias("h"))
        .distinct()
        .collect()
    }
    victim = sorted(hosts)[0]
    blocked = spark.createDataFrame([(victim,)], "host_suffix string")
    gated = crawl.crawl(
        spark, seeds_df, pages_df, robots_df, cfg=CFG, blocklist=blocked
    )
    gated_hosts = {
        r["h"]
        for r in gated["fetch_log"]
        .select(F.expr("parse_url(url, 'HOST')").alias("h"))
        .distinct()
        .collect()
    }
    assert victim not in gated_hosts
    assert gated_hosts  # crawl still fetched the rest
    assert gated_hosts <= hosts - {victim}


def test_url_filter_flag_keeps_clean_corpus_identical(spark, fixtures):
    """gen_pages urls are clean, so the opt-in filter must not change the
    fetch log — guards against false positives on normal urls."""
    pages_df, seeds_df, robots_df = fixtures[:3]
    base = crawl.crawl(spark, seeds_df, pages_df, robots_df, cfg=CFG)
    filt = crawl.crawl(
        spark, seeds_df, pages_df, robots_df, cfg=CFG, url_filter=True
    )
    a = [(r["round"], r["sched_ts"], r["url"]) for r in base["fetch_log"].collect()]
    b = [(r["round"], r["sched_ts"], r["url"]) for r in filt["fetch_log"].collect()]
    assert sorted(a) == sorted(b)


def test_quality_feedback_starves_junk_host(spark):
    """With quality_feedback on, a host serving junk gets its budget cut
    in later rounds; a host serving real prose keeps its slots."""
    from datetime import datetime, timezone

    from crawlspark.schemas import PAGES_SCHEMA

    ts0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

    good_text = (
        "the quick brown fox and the lazy dog of a quiet field "
        "walked over a bridge of stone in the evening air "
    )
    rows = []
    for host, junk in (("goodhost.example", False), ("junkhost.example", True)):
        for i in range(30):
            url = f"https://{host}/p/{i}"
            links = "".join(
                f'<a href="https://{host}/p/{j}">l</a>' for j in range(30)
            )
            body = "zzqx " * 40 if junk else good_text * 6  # ≥100 words ⇒ quality 1.0
            html = f"<html><head><title>t{i}</title></head><body><p>{body}</p>{links}</body></html>"
            rows.append(
                {
                    "url": url,
                    "warc_ts": ts0,
                    "html": html.encode(),
                    "text": None,
                    "lang": "en",
                }
            )
    pages_df = spark.createDataFrame(rows, PAGES_SCHEMA)
    seeds_df = spark.createDataFrame(
        [("https://goodhost.example/p/0",), ("https://junkhost.example/p/0",)],
        "url string",
    )
    robots_df = spark.createDataFrame(
        [], "host string, rules array<struct<pattern:string,allow:boolean>>, crawl_delay double"
    )
    # crawl_delay default + small budget → 5 fetches/host/round
    cfg = config.CrawlConfig(
        n_buckets=8, salt=2, rounds=4, round_seconds=5.0,
        default_crawl_delay=1.0, max_budget_per_host=5, max_depth=6,
    )

    def per_host(result):
        return {
            r["host"]: r["n"]
            for r in result["fetch_log"].groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    base = per_host(crawl.crawl(spark, seeds_df, pages_df, robots_df, cfg=cfg))
    fb = per_host(
        crawl.crawl(spark, seeds_df, pages_df, robots_df, cfg=cfg, quality_feedback=True)
    )
    # without feedback both hosts get equal budgets
    assert base["goodhost.example"] == base["junkhost.example"]
    # with feedback the junk host fetches strictly fewer urls, the good
    # host is not starved
    assert fb["junkhost.example"] < base["junkhost.example"]
    assert fb["goodhost.example"] == base["goodhost.example"]


def test_max_frontier_per_host_bounds_frontier(spark, fixtures):
    pages_df, seeds_df, robots_df = fixtures[:3]
    import dataclasses

    cfg_cap = dataclasses.replace(CFG, max_frontier_per_host=2)
    result = crawl.crawl(spark, seeds_df, pages_df, robots_df, cfg=cfg_cap)
    per_host = (
        result["frontier"].groupBy("host").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert per_host  # crawl still progressed
    assert all(r["n"] <= 2 for r in per_host)
    # and it still fetched pages each round
    assert result["fetch_log"].count() > 0


def test_cuckoo_filter_mode_identical_and_resumes(spark, fixtures, tmp_path):
    """filter_kind='cuckoo' (snapshots on, so the sidecar is really built
    and probed from round 1) replays the exact same fetch order, text, and
    seen set as bloom mode; resume works; a filter-kind mismatch on resume
    is refused loudly."""
    import dataclasses

    oracle = fixtures[-1]
    pages_df, seeds_df, robots_df = fixtures[:3]
    root = str(tmp_path / "snaps_ck")
    cfg_ck = dataclasses.replace(CFG, filter_kind="cuckoo")
    result = crawl.crawl(
        spark, seeds_df, pages_df, robots_df, cfg=cfg_ck,
        snapshot_root=root, run_id="ck",
    )
    assert _fetch_tuples(result) == sorted(oracle.fetch_log)
    got_seen = {r["url_hash"] for r in result["seen"].collect()}
    want_seen = {
        r["h"]
        for r in spark.createDataFrame([(u,) for u in sorted(oracle.seen)], "url string")
        .select(F.xxhash64("url").alias("h"))
        .collect()
    }
    assert got_seen == want_seen

    # partial run + resume in cuckoo mode reproduces the full goldens
    # (resume returns only the NEW rounds' log — concat with the partial's)
    partial_cfg = dataclasses.replace(cfg_ck, rounds=2)
    part = crawl.crawl(
        spark, seeds_df, pages_df, robots_df, cfg=partial_cfg,
        snapshot_root=root, run_id="ck_resume",
    )
    resumed = crawl.crawl(
        spark, seeds_df, pages_df, robots_df, cfg=cfg_ck,
        snapshot_root=root, run_id="ck_resume", resume=True,
    )
    assert sorted(_fetch_tuples(part) + _fetch_tuples(resumed)) == sorted(oracle.fetch_log)

    # resuming a cuckoo snapshot with the bloom reader must refuse
    with pytest.raises(ValueError, match="filter_kind"):
        crawl.crawl(
            spark, seeds_df, pages_df, robots_df, cfg=CFG,
            snapshot_root=root, run_id="ck_resume", resume=True,
        )


def test_invalidate_recrawl_cuckoo_deletes_in_place(spark, fixtures, tmp_path):
    """Recrawl invalidation: due urls leave the exact seen set AND the
    cuckoo sidecar (in-place per-bucket delete) so the next round re-
    schedules exactly them; untouched urls stay filtered."""
    import dataclasses

    from crawlspark import cuckoo, state

    pages_df, seeds_df, robots_df = fixtures[:3]
    root = str(tmp_path / "snaps_inv")
    cfg_ck = dataclasses.replace(CFG, filter_kind="cuckoo")
    result = crawl.crawl(
        spark, seeds_df, pages_df, robots_df, cfg=cfg_ck,
        snapshot_root=root, run_id="inv",
    )
    fetched = sorted({u for _, _, u in _fetch_tuples(result)})
    due_urls = fetched[:5]
    # a never-seen url in the due list must be a no-op on the sidecar
    # (deleting a never-inserted hash could strip a colliding seen url's
    # fingerprint copy and break the no-false-negative contract)
    due = spark.createDataFrame(
        [(u,) for u in due_urls] + [("https://never-crawled.example/x",)],
        "url string",
    )
    sidecar = state.bloom_path(root, "inv", cfg_ck.rounds - 1)
    seen2, filters2 = crawl.invalidate_recrawl(
        spark, result["seen"], due, cfg_ck.n_buckets,
        sidecar=sidecar, filter_kind="cuckoo",
    )
    assert filters2 is not None
    # in-place rewrite of the SAME sidecar path must work (filters2 is
    # pinned eagerly; a lazy plan would still be reading the path)
    cuckoo.write_sidecar(filters2, sidecar)
    new_sidecar = sidecar

    # the due urls now pass both the filter and the exact anti-join...
    due_frontier = crawl.seeds_to_frontier(due, cfg_ck.n_buckets)
    from crawlspark import dedup

    passed = cuckoo.probe(due_frontier, new_sidecar)
    # 5 deleted + 1 never-present: all 6 pass the filter now
    assert passed.count() == len(due_urls) + 1
    unseen = dedup.unseen(due_frontier, seen2)
    assert unseen.count() == len(due_urls) + 1  # deleted from the exact set
    # ...and a NON-due fetched url is still held back by the exact set
    other = spark.createDataFrame([(fetched[-1],)], "url string")
    other_frontier = crawl.seeds_to_frontier(other, cfg_ck.n_buckets)
    assert dedup.unseen(other_frontier, seen2).count() == 0


def _round1_inputs(spark, fixtures, sidecar: str):
    """(frontier, seen) entering round 1, built by a default round 0, and
    a real bloom sidecar at ``sidecar`` encoding that seen — exactly what
    the loop would have committed after round 0."""
    from crawlspark import bloom

    pages_df, seeds_df, robots_df = fixtures[:3]
    fr0 = crawl._materialize(
        crawl.seeds_to_frontier(seeds_df, CFG.n_buckets), CFG.persist_mode
    )
    seen0 = spark.createDataFrame([], "url_hash long, bucket int")
    r0 = crawl.run_round(
        spark, fr0, seen0, pages_df, robots_df, 0, CFG, None, "r0",
        collect_metrics=False,
    )
    fr1 = crawl._materialize(r0["frontier"], CFG.persist_mode)
    seen1 = crawl._materialize(r0["seen"], CFG.persist_mode)
    bloom.write_sidecar(bloom.build(seen1), sidecar)
    return fr1, seen1


def test_frontier_unseen_flag_equivalence(spark, fixtures, tmp_path):
    """run_round(frontier_unseen=True) — the loop's invariant-backed fast
    path (no entry anti-join; seen check moved to discovered links, probe-
    shrunk when a sidecar exists) — must produce exactly the same round as
    the default full-check path, given a frontier that IS disjoint from
    seen.  Checked on a mid-crawl state (round-1 inputs built by a default
    round 0), with and without a bloom sidecar."""
    pages_df, robots_df = fixtures[0], fixtures[2]
    sidecar = str(tmp_path / "bloom_eqv")
    fr1, seen1 = _round1_inputs(spark, fixtures, sidecar)

    def round1(flag: bool, sc: str | None):
        out = crawl.run_round(
            spark, fr1, seen1, pages_df, robots_df, 1, CFG, sc, "eqv",
            collect_metrics=False, frontier_unseen=flag,
        )
        sched_set = sorted(
            (r["sched_ts"], r["host"], r["url"])
            for r in out["fetch_log"].collect()
        )
        frontier_set = sorted(r["url"] for r in out["frontier"].collect())
        seen_set = sorted(r["url_hash"] for r in out["seen"].collect())
        return sched_set, frontier_set, seen_set

    base = round1(False, None)
    assert round1(True, None) == base, "fast path (no sidecar) diverged"
    assert round1(True, sidecar) == base, "fast path (bloom probe) diverged"
    assert round1(False, sidecar) == base, "entry probe path diverged"
    assert len(base[0]) > 0 and len(base[1]) > 0


def test_frontier_unseen_debug_invariant_guard(spark, fixtures):
    """cfg.debug_invariants=True turns the trust-based frontier_unseen flag
    into a checked one: a frontier that OVERLAPS seen raises instead of
    silently re-fetching (r4 advice item 4).  The test pins the sample
    fraction to 1.0 so the hit is deterministic on a small fixture; the
    disjoint case must stay green with the guard on."""
    import dataclasses

    pages_df, seeds_df, robots_df = fixtures[:3]
    cfg_dbg = dataclasses.replace(
        CFG, debug_invariants=True, debug_sample_fraction=1.0
    )
    fr0 = crawl._materialize(
        crawl.seeds_to_frontier(seeds_df, cfg_dbg.n_buckets), cfg_dbg.persist_mode
    )
    seen0 = spark.createDataFrame([], "url_hash long, bucket int")
    # disjoint: guard on, empty seen — must run clean
    r0 = crawl.run_round(
        spark, fr0, seen0, pages_df, robots_df, 0, cfg_dbg, None, "dbg",
        collect_metrics=False, frontier_unseen=True,
    )
    seen1 = crawl._materialize(r0["seen"], cfg_dbg.persist_mode)
    assert seen1.count() > 0
    # violation: replay the ORIGINAL frontier (now fully inside seen1)
    # with the unseen claim — every sampled row is an offender
    with pytest.raises(Exception, match="frontier_unseen"):
        crawl.run_round(
            spark, fr0, seen1, pages_df, robots_df, 1, cfg_dbg, None, "dbg",
            collect_metrics=False, frontier_unseen=True,
        )
    # guard off (default): same violating call is trusted and runs
    out = crawl.run_round(
        spark, fr0, seen1, pages_df, robots_df, 1, CFG, None, "dbg",
        collect_metrics=False, frontier_unseen=True,
    )
    assert out["fetch_log"].count() > 0


def test_filter_version_mismatch_refused(spark, fixtures, tmp_path):
    """A sidecar written under an older filter format (e.g. the v1 unmixed
    cuckoo index) would probe LOSSILY under current code — maybe_seen=False
    for genuinely-seen urls skips the exact anti-join and re-fetches them.
    Resume must refuse on the manifested filter_version, for both kinds."""
    import dataclasses
    import json
    import os

    from crawlspark import state

    pages_df, seeds_df, robots_df = fixtures[:3]
    for kind, stale in (("cuckoo", "cuckoo-v1"), ("bloom", "double-hash-v0:8:4")):
        root = str(tmp_path / f"snaps_fv_{kind}")
        cfg = dataclasses.replace(CFG, rounds=1, filter_kind=kind)
        crawl.crawl(
            spark, seeds_df, pages_df, robots_df, cfg=cfg,
            snapshot_root=root, run_id="fv",
        )
        mpath = os.path.join(root, "fv", "round=0", state.MANIFEST)
        with open(mpath) as f:
            mf = json.load(f)
        assert mf["filter_version"]  # r5: manifested at commit
        mf["filter_version"] = stale
        with open(mpath, "w") as f:
            json.dump(mf, f)
        with pytest.raises(ValueError, match="filter format"):
            crawl.crawl(
                spark, seeds_df, pages_df, robots_df, cfg=cfg,
                snapshot_root=root, run_id="fv", resume=True,
            )


def test_seen_checkpoint_cadence_and_gc(spark, fixtures, tmp_path):
    """seen_checkpoint_every=2: round 0/2 commit full seen, round 1 a delta;
    gc with keep_last=1 retains a delta round's whole chain; resuming from
    a delta round reproduces the exact goldens (r5 incremental snapshots)."""
    import dataclasses
    import json
    import os

    from crawlspark import state

    oracle = fixtures[-1]
    want = sorted(oracle.fetch_log)
    pages_df, seeds_df, robots_df = fixtures[:3]
    root = str(tmp_path / "snaps_ckpt")

    # partial run: rounds 0 (full) + 1 (delta)
    cfg2 = dataclasses.replace(CFG, seen_checkpoint_every=2)
    part = crawl.crawl(
        spark, seeds_df, pages_df, robots_df,
        cfg=dataclasses.replace(cfg2, rounds=2),
        snapshot_root=root, run_id="ck2",
    )
    modes = {}
    for r in (0, 1):
        with open(os.path.join(root, "ck2", f"round={r}", state.MANIFEST)) as f:
            modes[r] = json.load(f)["seen_mode"]
    assert modes == {0: "full", 1: "delta"}
    # delta dir written, full seen dir absent on the delta round
    assert os.path.isdir(os.path.join(root, "ck2", "round=1", "seen_delta"))
    assert not os.path.exists(os.path.join(root, "ck2", "round=1", "seen"))

    # gc keep_last=1 on a live chain deletes nothing
    assert state.gc_snapshots(root, "ck2", keep_last=1) == []

    # resume from the delta round and finish: exact goldens
    rest = crawl.crawl(
        spark, seeds_df, pages_df, robots_df,
        cfg=cfg2, snapshot_root=root, run_id="ck2", resume=True,
    )
    assert sorted(_fetch_tuples(part) + _fetch_tuples(rest)) == want
    # round 2 per cadence is a full checkpoint; now gc can reclaim 0-1
    with open(os.path.join(root, "ck2", "round=2", state.MANIFEST)) as f:
        assert json.load(f)["seen_mode"] == "full"
    assert state.gc_snapshots(root, "ck2", keep_last=1) == [0, 1]
    f2, s2, r2, _ = state.load_snapshot(spark, root, "ck2")
    assert r2 == 2
    want_seen = {
        r["h"]
        for r in spark.createDataFrame(
            [(u,) for u in sorted(oracle.seen)], "url string"
        ).select(F.xxhash64("url").alias("h")).collect()
    }
    assert {r["url_hash"] for r in s2.collect()} == want_seen


def _plan(df) -> str:
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_links_to_frontier_plan_has_no_python(spark):
    """Extraction emits canonical links, so turning them into frontier
    rows is JVM-only: no Arrow or row-at-a-time Python UDF in the plan."""
    parsed = spark.createDataFrame(
        [(0, ["https://a.example/x", "https://b.example/"]), (1, None)],
        "depth int, links array<string>",
    )
    plan = _plan(crawl.links_to_frontier(parsed, 1, CFG.n_buckets, CFG.max_depth))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_loop_round_probes_once(spark, fixtures, tmp_path, monkeypatch):
    """A loop round with a bloom sidecar evaluates the mapInArrow probe
    once: its output is pinned, and the plans downstream of the pin
    (the sure/maybe split and both reads of the exact re-check) carry no
    probe of their own."""
    pages_df, robots_df = fixtures[0], fixtures[2]
    sidecar = str(tmp_path / "bloom_once")
    fr1, seen1 = _round1_inputs(spark, fixtures, sidecar)

    pinned: list[str] = []
    real = crawl._materialize

    def recording(df, persist_mode):
        pinned.append(_plan(df))
        return real(df, persist_mode)

    monkeypatch.setattr(crawl, "_materialize", recording)
    out = crawl.run_round(
        spark, fr1, seen1, pages_df, robots_df, 1, CFG, sidecar, "once",
        collect_metrics=False, frontier_unseen=True,
    )
    def n_probes(plan: str) -> int:
        # formatted explain details each operator once, as "(id) Name"
        return len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M))

    assert sum(map(n_probes, pinned)) == 1, pinned
    assert n_probes(_plan(out["frontier"])) == 0
    assert out["frontier"].count() > 0
