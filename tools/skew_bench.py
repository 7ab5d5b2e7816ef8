"""Skew bench (r4 verdict item 1): measured evidence that explicit salting
holds the crawl round wall on a mega-host corpus.

SURVEY §4 claims "explicit salting bounds group size" — the one 100×-scale
design claim with no measured artifact until this run.  The experiment:

* corpora: the deterministic synthetic generator with ``CRAWLSPARK_MEGA_PCT``
  set to 5 (uniform — host0 is just one of 20 ~equal hosts) and 50 (one
  host holding half of a 2M-page corpus, hence ~half of every frontier);
* the FULL crawl (same config as bench.py's headline: politeness budget
  wide open, so the scheduler's per-(host, salt) window slice sees the
  whole frontier share of its host) at local[CORES], salt ∈ {8, 1};
* a schedule-stage micro-bench on synthetic frontiers at TWO row counts
  (SCHED_ROWS_LEVELS, default 4M and 16M) with the same host split,
  isolating the salted two-phase window top-B where the skew actually
  lands: unsalted, phase 1 sorts a mega-host's whole share in one task;
  salted, its biggest slice is rows*pct/salt, and phase 2 re-ranks only
  the survivors.  With the budget wide open nothing is cut in phase 1, so
  phase 2 sorts the mega share in one task either way — this is the
  worst case for salting;
* replay identity: the fetch_log (round, sched_ts, host, url) digest must be
  IDENTICAL across salt configs on the same corpus — salting is a physical
  plan choice, never a semantic one.

Each (corpus, salt) runs in a fresh subprocess because the mega-pct knob
is read by gen_pages at import time and baked into the JVM's env at first
launch — two corpora cannot share a JVM.  min-of-REPS per cell (contended
host).  Writes BENCH/skew_r6.json.

Recorded in BENCH/skew_r6.json (``--sched-only``, 4 cores,
``CRAWLSPARK_DRIVER_MEM=4g``, min of 2 reps after a warm-up; budget
200,000 urls per host):

    rows  frontier         salt 8    salt 1
    4M    50% mega-host    4.07 s    3.57 s
    16M   50% mega-host   17.11 s   15.82 s
    4M    uniform          5.44 s    3.90 s
    16M   uniform         21.72 s   13.64 s

On 4 cores salting does not pay in this stage.  Phase 1 cuts only the
slices that hold more rows than the budget, so with salt 8 most slices
pass whole and phase 2 shuffles and sorts them again; what salting buys,
spreading the mega-host's sort over several tasks, is capped by 4 cores
that the other hosts' sorts already keep busy.  Salt stays: BASELINE.json
requires explicit salting, and the scheduler's output does not depend on
it.

Usage:
    python tools/skew_bench.py            # parent: full matrix -> JSON
    python tools/skew_bench.py --sched-only   # parent: schedule cells only
    python tools/skew_bench.py --crawl 50 8   # worker (env already set)
    python tools/skew_bench.py --sched 50 8   # worker (env already set)
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))
os.environ["PYTHONPATH"] = (
    f"{_ROOT}:{os.path.join(_ROOT, 'tests')}:" + os.environ.get("PYTHONPATH", "")
)

PAGES = int(os.environ.get("CRAWLSPARK_SKEW_PAGES", "2000000"))
SEEDS = int(os.environ.get("CRAWLSPARK_SKEW_SEEDS", "150000"))
ROUNDS = int(os.environ.get("CRAWLSPARK_SKEW_ROUNDS", "2"))
CORES = int(os.environ.get("CRAWLSPARK_SKEW_CORES", "16"))
REPS = int(os.environ.get("CRAWLSPARK_SKEW_REPS", "2"))
SCHED_ROWS_LEVELS = [
    int(x)
    for x in os.environ.get(
        "CRAWLSPARK_SKEW_SCHED_ROWS", "4000000,16000000"
    ).split(",")
]
OUT = os.path.join(_ROOT, "BENCH", "skew_r6.json")


def _spark(cores: int):
    from crawlspark.session import get_spark

    return get_spark(
        f"skew-bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(16, cores),
        extra_conf={
            "spark.driver.memory": os.environ.get("CRAWLSPARK_DRIVER_MEM", "16g")
        },
    )


def _pages_path(pct: int) -> str:
    return os.path.join(_ROOT, "BENCH", "data", f"pages_skew{pct}_{PAGES}")


def _cfg(salt: int):
    from crawlspark import config

    return config.CrawlConfig(
        rounds=ROUNDS,
        round_seconds=200_000.0,
        max_budget_per_host=1_000_000,
        n_buckets=64,
        salt=salt,
        max_depth=10,
    )


def worker_crawl(pct: int, salt: int) -> None:
    import gen_pages as gp
    from bench import warm_workers

    from crawlspark import crawl
    from crawlspark.schemas import PAGES_SCHEMA
    from pyspark.sql import functions as F

    assert os.environ.get("CRAWLSPARK_MEGA_PCT") == str(pct)
    spark = _spark(CORES)
    path = _pages_path(pct)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        gp.pages_df(spark, PAGES, distributed=True).write.mode("overwrite").parquet(path)
    pages = spark.read.schema(PAGES_SCHEMA).parquet(path)
    robots = gp.robots_df(spark)
    warm_workers(spark)
    # light warmup crawl: JIT/codegen outside the timed window
    wseeds = spark.createDataFrame(
        [(s,) for s in gp.gen_seeds(PAGES, 200)], "url string"
    )
    crawl.crawl(spark, wseeds, pages, robots, cfg=_cfg(salt))["fetch_log"].count()

    seeds = spark.createDataFrame(
        [(s,) for s in gp.gen_seeds(PAGES, SEEDS)], "url string"
    )
    best = None
    digest = None
    for rep in range(REPS):
        t0 = time.monotonic()
        result = crawl.crawl(spark, seeds, pages, robots, cfg=_cfg(salt))
        n = result["fetch_log"].count()
        wall = time.monotonic() - t0
        print(f"  pct={pct} salt={salt} rep{rep}: wall={wall:.2f}s "
              f"urls/s={n / wall:,.0f}", file=sys.stderr)
        if best is None or wall < best["wall_sec"]:
            best = {"wall_sec": round(wall, 2), "n_fetched": n,
                    "urls_per_sec": round(n / wall, 1)}
        if digest is None:
            # replay digest over the EXACT crawl order — within a round the
            # total order is (sched_ts, host, url) (sched.order, G1)
            pdf = (
                result["fetch_log"]
                .orderBy("round", "sched_ts", "host", "url")
                .select(
                    F.concat_ws(
                        ":",
                        F.col("round").cast("string"),
                        F.col("sched_ts").cast("string"),
                        F.col("host"),
                        F.col("url"),
                    ).alias("k")
                )
                .toPandas()
            )
            digest = hashlib.md5("|".join(pdf["k"]).encode()).hexdigest()
    spark.stop()
    print(json.dumps({"mode": "crawl", "pct": pct, "salt": salt,
                      "cores": CORES, "reps": REPS, **best,
                      "fetch_digest": digest}))


def worker_sched(pct: int, salt: int, rows: int) -> None:
    """Isolated schedule stage on a synthetic frontier: ``rows`` rows, pct%
    on one mega-host, budget wide open.  Run at more than one ``rows``
    level: the unsalted phase-1 mega slice is one task's sort, so its wall
    grows with the frontier, while the salted variant's biggest phase-1
    slice stays rows*pct/salt."""
    from pyspark.sql import functions as F

    from crawlspark import sched

    spark = _spark(CORES)
    frontier = spark.range(rows).select(
        F.when(
            F.pmod(F.xxhash64(F.col("id")), 100) < pct, F.lit("host0.example")
        )
        .otherwise(
            F.concat(
                F.lit("host"),
                (F.pmod(F.xxhash64(F.col("id"), F.lit(1)), 19) + 1).cast("string"),
                F.lit(".example"),
            )
        )
        .alias("host"),
        F.col("id"),
    ).select(
        F.concat(F.lit("https://"), "host", F.lit("/p/"), F.col("id").cast("string")).alias("url"),
        F.xxhash64(F.concat(F.lit("https://"), "host", F.lit("/p/"), F.col("id").cast("string"))).alias("url_hash"),
        "host",
        F.lit(1.0).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("discovered_round"),
        F.lit(1.0).alias("crawl_delay"),
    )
    frontier = frontier.localCheckpoint(eager=True)  # timing excludes generation
    best = None
    for rep in range(max(REPS, 2) + 1):  # rep0 = warmup (codegen), dropped
        t0 = time.monotonic()
        sched.schedule(
            frontier, 0, round_seconds=200_000.0, max_budget=1_000_000, salt=salt
        ).write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        print(f"  sched pct={pct} salt={salt} rep{rep}: {wall:.2f}s",
              file=sys.stderr)
        if rep == 0:
            continue
        if best is None or wall < best:
            best = wall
    spark.stop()
    print(json.dumps({"mode": "sched", "pct": pct, "salt": salt,
                      "cores": CORES, "rows": rows,
                      "wall_sec": round(best, 2)}))


def _run_worker(mode: str, pct: int, salt: int, rows: int = 0) -> dict:
    env = {**os.environ, "CRAWLSPARK_MEGA_PCT": str(pct)}
    argv = [sys.executable, os.path.abspath(__file__), mode, str(pct), str(salt)]
    if mode == "--sched":
        argv.append(str(rows))
    proc = subprocess.run(
        argv, env=env, capture_output=True, text=True, timeout=3600,
    )
    sys.stderr.write(proc.stderr[-2000:])
    if proc.returncode != 0:
        raise RuntimeError(f"worker {mode} {pct} {salt} failed:\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    sched_only = sys.argv[1:] == ["--sched-only"]
    if len(sys.argv) > 1 and not sched_only:
        mode, pct, salt = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
        if mode == "--crawl":
            worker_crawl(pct, salt)
        elif mode == "--sched":
            worker_sched(pct, salt, int(sys.argv[4]))
        else:
            raise SystemExit(f"unknown mode {mode}")
        return

    # Reuse cells already measured in a previous run of this tool (same
    # HEAD): crawl cells are minutes each, sched cells seconds.  Delete
    # BENCH/skew_r6.json to force a full re-measure.
    cells = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            cells = dict(json.load(f).get("cells", {}))
    for pct in () if sched_only else (5, 50):
        for salt in (8, 1):
            key = f"crawl_pct{pct}_salt{salt}"
            if key not in cells:
                cells[key] = _run_worker("--crawl", pct, salt)
            print(f"{key}: {cells[key]}", file=sys.stderr)
    for rows in SCHED_ROWS_LEVELS:
        for pct in (5, 50):
            for salt in (8, 1):
                key = f"sched_pct{pct}_salt{salt}_rows{rows // 1_000_000}m"
                if key not in cells:
                    cells[key] = _run_worker("--sched", pct, salt, rows)
                print(f"{key}: {cells[key]}", file=sys.stderr)
    # drop pre-sweep unsuffixed sched keys from an older artifact
    cells = {k: v for k, v in cells.items()
             if not (k.startswith("sched_") and not k.rsplit("_", 1)[-1].endswith("m"))}

    out = {
        "metric": "skew resilience: crawl wall + schedule-stage wall, "
                  "mega-host 50% vs uniform, salt 8 vs 1",
        "pages": PAGES, "seeds": SEEDS, "rounds": ROUNDS, "cores": CORES,
        "reps_min": REPS, "sched_rows_levels": SCHED_ROWS_LEVELS,
        "cells": cells,
        "sched_salt1_over_salt8_on_skew": {
            f"{rows // 1_000_000}m": round(
                cells[f"sched_pct50_salt1_rows{rows // 1_000_000}m"]["wall_sec"]
                / cells[f"sched_pct50_salt8_rows{rows // 1_000_000}m"]["wall_sec"],
                3,
            )
            for rows in SCHED_ROWS_LEVELS
        },
    }
    if not sched_only:
        out["skew_over_uniform_salted"] = round(
            cells["crawl_pct50_salt8"]["wall_sec"]
            / cells["crawl_pct5_salt8"]["wall_sec"], 3
        )
        out["salt1_over_salt8_on_skew"] = round(
            cells["crawl_pct50_salt1"]["wall_sec"]
            / cells["crawl_pct50_salt8"]["wall_sec"], 3
        )
        out["replay_identical_across_salt"] = {
            str(pct): (
                cells[f"crawl_pct{pct}_salt8"]["fetch_digest"]
                == cells[f"crawl_pct{pct}_salt1"]["fetch_digest"]
            )
            for pct in (5, 50)
        }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
