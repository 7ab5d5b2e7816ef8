"""Benchmark harness (SURVEY.md §6, M5).

Default mode (what the driver runs): headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``; prints ONE JSON line
``{"metric", "value", "unit", "queries", "sf", ...}``.

``--scaling`` mode (the north-rule evidence; no real cluster in this
sandbox): runs the SAME crawl job on the SAME synthetic pages input at
two parallelism levels (default 4 and 16, see CRAWLSPARK_SCALE_LEVELS)
and reports throughput at both plus efficiency ``(T_lo / T_hi) / (hi/lo)``
— results recorded by hand in BENCH/BASELINE.md and BENCH/scaling_*.json.

The crawl headline metric is BASELINE.json's north star: URLs
scheduled+extracted per second through the full pipeline (canon → hash →
bloom-less dedup → robots → salted schedule → as-of fetch join → pandas-UDF
extraction → link discovery).
"""

from __future__ import annotations

import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))
# executors spawn their own Python workers: make gen_pages importable there
os.environ["PYTHONPATH"] = (
    f"{_ROOT}:{os.path.join(_ROOT, 'tests')}:" + os.environ.get("PYTHONPATH", "")
)

# ~3.6M page rows incl. captures (FIXTURES.md §2 prescribes bench ~2M pages),
# so per-round real work dwarfs fixed job overhead — required for a fair
# scaling test
BENCH_PAGES = int(os.environ.get("CRAWLSPARK_BENCH_PAGES", "2000000"))
BENCH_SEEDS = int(os.environ.get("CRAWLSPARK_BENCH_SEEDS", "150000"))
BENCH_ROUNDS = int(os.environ.get("CRAWLSPARK_BENCH_ROUNDS", "2"))
# this host carries bursty co-tenant load (identical runs measured 2.5-3x
# apart); min-of-REPS is the standard contended-machine practice.  3 reps
# (late r4, was 2): an interleaved A/B showed the first full-scale crawl
# after the light warmup running ~2x the steady state.  That was blamed on
# JIT/compilation tails, but Spark's codegen cache then held 100 entries,
# less than one crawl's classes, so EVERY rep recompiled its generated code;
# session.py now sizes the cache to hold them, and each rep prints how many
# classes it compiled
BENCH_REPS = int(os.environ.get("CRAWLSPARK_BENCH_REPS", "3"))
PAGES_CACHE = os.environ.get("CRAWLSPARK_PAGES_PATH") or os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH", "data", f"pages_{BENCH_PAGES}"
)


def _spark(master: str, cpus: int):
    from crawlspark.session import get_spark

    # Heap sizing: the default-mode bench keeps the historical fixed 16g so
    # BENCH_r{N}.json stays comparable across rounds.  Scaling mode should
    # instead size the heap PER CORE (CRAWLSPARK_BENCH_GB_PER_CORE): the
    # north rule compares N vs 4N EXECUTORS, and 4N executors bring 4x the
    # memory — a fixed heap starves only the high level (measured r5: the
    # 16-core light-corpus crawl runs 43.2k urls/s at 48g vs the 33.5k
    # "ceiling" recorded at 16g, digest identical).
    gb_per_core = os.environ.get("CRAWLSPARK_BENCH_GB_PER_CORE")
    mem = f"{cpus * int(gb_per_core)}g" if gb_per_core else "16g"
    return get_spark(
        f"crawlspark-bench-{master}",
        master=master,
        shuffle_partitions=max(16, cpus),
        extra_conf={"spark.driver.memory": mem},
    )


def ensure_pages(spark) -> str:
    """Generate the deterministic synthetic pages corpus once (cached)."""
    if not os.path.exists(os.path.join(PAGES_CACHE, "_SUCCESS")):
        import gen_pages as gp

        df = gp.pages_df(spark, BENCH_PAGES, distributed=True)
        df.write.mode("overwrite").parquet(PAGES_CACHE)
    return PAGES_CACHE


def warm_workers(spark) -> None:
    """Spin up every executor's Python worker once (imports pandas/numpy +
    the UDF module chain) so timed runs measure work, not cold starts —
    exactly what a long-lived cluster amortizes away."""
    from pyspark.sql import functions as F

    from crawlspark import extract, urlnorm

    cpus = spark.sparkContext.defaultParallelism
    df = spark.range(cpus * 4).repartition(cpus * 4).select(
        F.concat(F.lit("https://w.example/"), F.col("id").cast("string")).alias("url"),
        F.encode(F.lit("<html><body>w</body></html>"), "UTF-8").alias("html"),
    )
    df.select(
        urlnorm.canonicalize(F.col("url")),
        extract.text_udf(F.col("html")),
        extract.links_udf(F.col("html"), F.col("url")),
    ).write.format("noop").mode("overwrite").save()


def bench_crawl(spark, pages_path: str, rounds: int = BENCH_ROUNDS, warmup: bool = True, reps: int = 1) -> dict:
    """The headline: full crawl pipeline, urls scheduled+extracted/sec.

    ``warmup`` first runs a 200-seed single-round crawl over the same corpus
    so whole-stage codegen / JIT compilation of most stage shapes happens
    outside the timed window — the steady state a long-lived cluster is in.
    Plans whose shape depends on the seed count or the round still compile
    in rep0; each rep prints its count.
    """
    import gen_pages as gp

    from crawlspark import config, crawl
    from crawlspark.schemas import PAGES_SCHEMA
    from crawlspark.session import codegen_compiles

    pages = spark.read.schema(PAGES_SCHEMA).parquet(pages_path)
    robots = gp.robots_df(spark)

    def _cfg(r):
        return config.CrawlConfig(
            rounds=r,
            round_seconds=200_000.0,  # politeness budget wide-open
            max_budget_per_host=1_000_000,
            n_buckets=64,
            salt=8,
            max_depth=10,
        )

    if warmup:
        wseeds = spark.createDataFrame(
            [(s,) for s in gp.gen_seeds(BENCH_PAGES, 200)], "url string"
        )
        crawl.crawl(spark, wseeds, pages, robots, cfg=_cfg(1))["fetch_log"].count()

    seeds = spark.createDataFrame(
        [(s,) for s in gp.gen_seeds(BENCH_PAGES, BENCH_SEEDS)], "url string"
    )
    best = None
    for _rep in range(max(reps, 1)):
        compiled0 = codegen_compiles(spark)
        t0 = time.monotonic()
        result = crawl.crawl(spark, seeds, pages, robots, cfg=_cfg(rounds))
        n_fetched = result["fetch_log"].count()
        n_extracted = result["extracted"].filter("text IS NOT NULL").count()
        wall = time.monotonic() - t0
        # per-rep diagnostics to stderr: makes the warm-up trajectory
        # visible (classes compiled: 0 once the warm-up compiled the same
        # plans) and load bursts attributable, without touching the
        # one-JSON-line stdout contract
        print(
            f"crawl rep{_rep}: wall={wall:.2f}s "
            f"urls/s={n_fetched / wall:,.0f} "
            f"compiled={codegen_compiles(spark) - compiled0}",
            file=sys.stderr,
        )
        if best is None or wall < best["wall_sec"]:
            best = {
                "wall_sec": round(wall, 2),
                "n_fetched": n_fetched,
                "n_extracted": n_extracted,
                "urls_per_sec": round(n_fetched / wall, 1),
            }
    return best


def bench_queries(spark, sf_dir: str, reps: int = 1) -> dict[str, float]:
    """Representative operator benchmarks over the driver's sf tables."""
    import __spark_entry__ as entrymod

    from crawlspark import textops

    # clean_corpus persists its survivor set (it backs the returned lazy
    # plan); in this long-lived multi-rep session the cached blocks must be
    # released after each timed write or they accumulate — the exact leak
    # class the r4 multimodal_pipeline advice fixed
    cache_handles: list = []

    def _clean_corpus(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return textops.clean_corpus(docs, langs=["en"], cache_handle=cache_handles)

    def _clean_corpus_strip(spark, sf_dir):
        # r5: the full modern pipeline — same stages plus the Lee-et-al.
        # exact-substring strip over the survivor set; benched separately
        # so the strip stage's cost at sf0.1 is a recorded delta
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return textops.clean_corpus(
            docs, langs=["en"], strip_spans=True, cache_handle=cache_handles
        )

    qs = dict(entrymod.queries())
    # flagship composite (lang → quality/repetition → exact dedup → MinHash
    # cluster dedup); not a registry entry (50-entry driver window is full)
    qs["clean_corpus"] = _clean_corpus
    qs["clean_corpus_strip"] = _clean_corpus_strip
    names = [
        "agg_basic",
        "join_equi",
        "win_lag_cumsum",
        "ngram_jaccard",
        "dedup_minhash",
        "ann_brute",
        "fingerprint",
        "lang_id",
        "clean_corpus",
        "clean_corpus_strip",
    ]
    out: dict[str, float] = {}
    for _rep in range(max(reps, 1)):
        for name in names:
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.monotonic() - t0, 2)
            for h in cache_handles:
                h.unpersist()
            cache_handles.clear()
            if name not in out or dt < out[name]:
                out[name] = dt
    return out


def run_default() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(f"local[{cpus}]", cpus)
    pages_path = ensure_pages(spark)
    warm_workers(spark)

    queries: dict[str, float] = {}
    crawl_stats = bench_crawl(spark, pages_path, reps=BENCH_REPS)
    spark.stop()  # fresh session for the operator suite: no leftover cached
    spark = _spark(f"local[{cpus}]", cpus)  # state skewing those timings
    warm_workers(spark)
    queries["crawl_pipeline"] = crawl_stats["wall_sec"]
    queries.update(bench_queries(spark, sf_dir, reps=BENCH_REPS))
    total = round(sum(queries.values()), 2)

    sf = 0.1 if "0.1" in sf_dir else (0.01 if "0.01" in sf_dir else 0.001)
    print(
        json.dumps(
            {
                "metric": "crawl pipeline (urls scheduled+extracted) + operator suite wall time",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "crawl_urls_per_sec": crawl_stats["urls_per_sec"],
                "crawl_n_fetched": crawl_stats["n_fetched"],
                "cpus": cpus,
                "bench_pages": BENCH_PAGES,
            }
        )
    )
    spark.stop()


def run_floor(reps: int = 3) -> None:
    """Serial-floor profile: a crawl whose per-round WORK is negligible
    (50 seeds over the tiny page corpus) isolates the fixed driver cost per
    round — job scheduling, planning, materialization barriers.  The
    round-2 barrier work (lazy metrics, footer lineage, threaded
    materialization, fused emptiness check) targets floor < 5 s/round."""
    import gen_pages as gp

    from crawlspark import config, crawl
    from crawlspark.schemas import PAGES_SCHEMA
    from crawlspark.session import codegen_compiles

    rounds = 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    best = None
    for _rep in range(reps):
        spark = _spark(f"local[{cpus}]", cpus)
        pages = spark.createDataFrame(gp.gen_pages_local(2000), PAGES_SCHEMA)
        pages_path = os.path.join("BENCH", "data", "pages_floor")
        pages.write.mode("overwrite").parquet(pages_path)
        pages = spark.read.schema(PAGES_SCHEMA).parquet(pages_path)
        robots = gp.robots_df(spark)
        seeds = spark.createDataFrame(
            [(s,) for s in gp.gen_seeds(2000, 50)], "url string"
        )
        cfg = config.CrawlConfig(
            rounds=rounds, round_seconds=200_000.0, max_budget_per_host=1_000_000,
            n_buckets=16, salt=4, max_depth=10,
        )
        warm_workers(spark)
        crawl.crawl(spark, seeds, pages, robots, cfg=cfg)["fetch_log"].count()  # warm
        compiled0 = codegen_compiles(spark)
        t0 = time.monotonic()
        result = crawl.crawl(spark, seeds, pages, robots, cfg=cfg)
        result["fetch_log"].count()
        wall = time.monotonic() - t0
        compiled = codegen_compiles(spark) - compiled0
        spark.stop()
        per_round = wall / max(result["rounds_run"], 1)
        print(f"floor rep: wall={wall:.2f}s rounds={result['rounds_run']} "
              f"per_round={per_round:.2f}s compiled={compiled}", file=sys.stderr)
        if best is None or per_round < best["sec_per_round"]:
            best = {"wall": round(wall, 2), "rounds": result["rounds_run"],
                    "sec_per_round": round(per_round, 2)}
    print(json.dumps({"metric": "serial floor per crawl round (negligible work)",
                      "unit": "sec/round", "cpus": cpus, "reps": reps,
                      "aggregation": "min", **best}))


def run_scaling(reps: int = 3) -> None:
    """North-rule scaling proxy: same job, same input, local[8] vs local[32].

    This sandbox host has noisy co-tenants (identical runs vary up to 3x),
    so each parallelism level runs ``reps`` times in its own fresh session
    and the MINIMUM wall time (least-interference run) is reported — the
    standard practice for contended-machine benchmarking.
    """
    # Default levels 4→16 (not 8→32): the sandbox host carries a persistent
    # co-tenant load (~11 load average when this repo is idle), leaving only
    # ~20 of the 32 cores effectively free — local[32] cannot physically be
    # 4x local[8] here (measured: wall_8 99.7s vs wall_32 105.3s, both
    # min-of-3).  4→16 fits inside the free capacity, making it the honest
    # N-vs-4N proxy.  Override with CRAWLSPARK_SCALE_LEVELS=8,32.
    lo, hi = (
        int(x)
        for x in os.environ.get("CRAWLSPARK_SCALE_LEVELS", "4,16").split(",")
    )
    results: dict[int, dict] = {}
    for cpus in (lo, hi):
        best = None
        for rep in range(reps):
            spark = _spark(f"local[{cpus}]", cpus)
            ensure_pages(spark)
            warm_workers(spark)
            stats = bench_crawl(spark, PAGES_CACHE, rounds=3)
            spark.stop()
            print(f"local[{cpus}] rep{rep}: {stats}", file=sys.stderr)
            if best is None or stats["wall_sec"] < best["wall_sec"]:
                best = stats
        results[cpus] = best
    t_lo, t_hi = results[lo]["wall_sec"], results[hi]["wall_sec"]
    eff = round((t_lo / t_hi) / (hi / lo), 3)
    out = {
        "levels": [lo, hi],
        f"throughput_{lo}": results[lo]["urls_per_sec"],
        f"throughput_{hi}": results[hi]["urls_per_sec"],
        f"wall_{lo}": t_lo,
        f"wall_{hi}": t_hi,
        "n_fetched": results[hi]["n_fetched"],
        "scaling_efficiency": eff,
        "reps": reps,
        "aggregation": "min wall per level",
        "bench_pages": BENCH_PAGES,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        run_scaling()
    elif "--floor" in sys.argv:
        run_floor()
    else:
        run_default()
