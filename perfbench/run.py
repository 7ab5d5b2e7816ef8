"""Crawl benchmark: ``crawl.crawl`` end to end, and layer by layer when traced.

    python3 perfbench/run.py --workload bfs --seed 0 --seconds 10 --trace 0

Run from the repository root.  One process runs one workload on
``local[nproc]``:

1. Generate the workload's corpus, or reuse the cached one
   (``.perfbench_cache/``).  Generation time goes to stderr and to the
   cache's ``_gen_seconds.json``, not to set-up.
2. Set up: start Spark and warm up.  ``bfs`` crawls once in its own shape,
   on 100 seeds and one round.  ``resume`` commits every round of the measured crawl but
   the last: round 0 in a fresh call, the rest in a resumed call.  This is
   ``setup_s``.
3. Measure: the measured ``crawl()`` call (``bfs``: the whole crawl;
   ``resume``: a resumed call that runs the last round, whose commit is
   removed afterwards so the next call repeats it), again and again until
   ``--seconds`` have passed, at least once.  Each crawl is checked whole,
   set-up rounds included: the text extracted for every fetched url equals
   the corpus's ground truth at its latest capture, and the ordered fetch
   log's (length, digest) equals the value pinned for this workload and
   seed in ``perfbench/expected.json`` or, for a seed without a pin, that
   of every other crawl of the run.  A crawl that fails a check counts its
   urls as failed.
4. With ``--trace 1``, crawl once more, set-up rounds included, with every
   layer wrapped (``perfbench/spans.py``), check it the same way, and
   report per-layer metrics plus the tracing overhead; the spans are
   written to ``.perfbench_cache/traces/``.

Every process the run starts has ended when it exits, on every path out
(``proctree.reap_all``).

The last line of stdout is one JSON object: ``correct``, ``attempted``
(urls fetched by the checked crawls), ``failed`` and ``metrics``.
End-to-end metrics are medians over the measured crawls of the run.  Every
wall is less the share of the machine's active CPU time that the
hypervisor gave to other guests while it ran (steal, ``/proc/stat``;
``proctree.steal_share``), so that a busy neighbour on a shared host reads
less as a slower crawl; on a machine of its own that share is 0.  This is
a correction, not a measurement: ``perfbench/baseline.json`` records, for
the same runs, raw and corrected walls, and the corrected ones spread less.
Raw walls and the share of each crawl go to stderr; a traced run reports
the share as ``host.steal_ratio``.

* ``setup_s``: Spark start plus the warm-up.
* ``crawl_wall_s``: the measured ``crawl()`` call, until its fetch log is
  forced.  ``urls_per_s`` is the urls it fetched over that wall.
* ``round_wall_p50_s``: median of ``crawl()``'s ``round_walls``.
* ``cpu_s``: CPU time of this process, the JVM and the Python workers,
  reaped ones included (``/proc``).  ``peak_rss_mb``: sum of the peak
  resident sets of those processes, after the first measured crawl;
  ``worker_peak_rss_mb``: the Python workers' part of it, where
  extraction, canonicalization and the schedule run.  The JVM's part
  follows when its collector chose to grow the heap, so it varies from run
  to run by a few hundred MB; the workers' part barely does.
* ``resume_s``: the measured call's wall minus its round walls, i.e. its
  work outside the rounds.  On ``resume`` that is loading the last
  committed snapshot (a full seen table plus deltas); on ``bfs``, building
  the starting state from the seeds.
* ``text_match_ratio``: extracted texts equal to the ground truth, over
  texts compared.  ``fetch_order_ok``: 1 when every digest check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXPECTED = os.path.join(ROOT, "perfbench", "expected.json")


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _T0:6.1f} s]: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="fixture-scale inputs (the benchmark's own test)")
    return p.parse_args(argv)


def import_program():
    """Import the program under test from this checkout, or fail."""
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import crawlspark
        import gen_pages  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import the program under test: {e}")
    if not os.path.abspath(crawlspark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"perfbench: crawlspark imported from outside {ROOT}")


def main(argv=None) -> int:
    args = parse_args(argv)
    import_program()
    from perfbench import proctree, spans, workloads as W

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}")
    wl = W.WORKLOADS[args.workload]
    if args.smoke:
        wl = W.smoke(wl)
    with open(EXPECTED) as f:
        pins = json.load(f)["workloads"].get(wl.name, {})
    pin = None if args.smoke else pins.get(str(args.seed))

    corpus, gen_s = W.ensure_corpus(wl.n_pages, W.cpus())
    log(f"corpus {corpus}: generated in {gen_s:.1f} s")
    work = os.path.join(W.CACHE, f"run-{os.getpid()}")
    spark = None
    try:
        import gen_pages as gp

        from crawlspark.schemas import PAGES_SCHEMA

        # --- set-up ---------------------------------------------------------
        clock, t0 = proctree.cpu_clock(), time.monotonic()
        spark = W.make_session(os.path.join(work, "spark"))
        pages = spark.read.schema(PAGES_SCHEMA).parquet(os.path.join(corpus, "pages"))
        robots = gp.robots_df(spark)
        snaps = os.path.join(work, "snapshots")

        def inputs(w, seed):
            seeds = spark.createDataFrame([(u,) for u in W.seed_urls(w, seed)], "url string")
            return seeds, pages, robots

        run_inputs = inputs(wl, args.seed)
        if wl.snapshots:
            # the rounds before the measured one warm up every path the
            # measured call takes: commit, load, sidecar probe, absorb
            prefix = W.crawl_prefix(spark, wl, run_inputs, snaps, "run")
        else:
            warm = W.warmup(wl)
            W.crawl_once(spark, warm, inputs(warm, -1), snaps, "warm")
            prefix = None
        setup_raw, setup_stolen = time.monotonic() - t0, proctree.steal_share(clock)
        setup_s = setup_raw * (1.0 - setup_stolen)
        log(f"{wl.name}: setup {setup_raw:.2f} s raw, {setup_stolen:.1%} stolen")

        # --- measured crawls --------------------------------------------------
        truth = W.load_truth(corpus)
        reps: list[dict] = []

        def measured(tag: str, tracer=None) -> dict:
            if tracer is None:
                run = W.crawl_once(spark, wl, run_inputs, snaps, "run", prefix)
            else:
                # the whole crawl, prefix included, under its own run id
                with tracer.patch():
                    run = W.crawl_once(spark, wl, run_inputs, snaps, tag,
                                       W.crawl_prefix(spark, wl, run_inputs, snaps, tag))
            n, digest = W.fetch_digest(run.fetch_log)
            text = W.text_check(run.extracted, truth)
            kept = 1.0 - run.stolen
            rep = {"wall": run.wall_s * kept, "rounds": [w * kept for w in run.round_walls],
                   "resume": run.outside_rounds_s * kept, "wall_raw": run.wall_s,
                   "rounds_raw": run.round_walls, "stolen": run.stolen, "cpu": run.cpu_s,
                   "fetched": run.fetched, "n": n, "digest": digest, **text}
            log(f"{wl.name} {tag}: {json.dumps(rep)}")
            return rep

        measure_clock = proctree.cpu_clock()
        deadline = time.monotonic() + args.seconds
        reps.append(measured("rep0"))
        # after a fixed amount of work, so a faster crawl that fits more
        # repetitions into the run does not read as a bigger footprint
        procs = proctree.peak_rss()
        peak_rss = sum(mb for _pid, _name, mb in procs)
        # the Python workers: every process but this one and the JVM
        worker_rss = sum(mb for pid, name, mb in procs if pid != os.getpid() and name != "java")
        log(f"peak rss: {peak_rss:.0f} MB, {worker_rss:.0f} MB of it Python workers")
        log("first measured crawl checked")
        while time.monotonic() < deadline:
            reps.append(measured(f"rep{len(reps)}"))
        stolen = proctree.steal_share(measure_clock)
        log(f"{wl.name}: {stolen:.1%} of the machine's active CPU time stolen while measuring")

        traced = None
        if args.trace:
            tracer = spans.Tracer(spark, run_id=f"{wl.name}-seed{args.seed}-{os.getpid()}")
            traced = measured("traced", tracer)
            tracer.finish()
            os.makedirs(os.path.join(W.CACHE, "traces"), exist_ok=True)
            trace_path = os.path.join(W.CACHE, "traces", f"{wl.name}-seed{args.seed}.jsonl")
            tracer.write(trace_path)
            log(f"spans -> {trace_path}")
    finally:
        if spark is not None:
            W.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")

    # --- checks ---------------------------------------------------------------
    # a seed without a pin: every crawl of the run must repeat the first
    ref = ((pin["n_fetched"], pin["fetch_log_sha256"]) if pin
           else (reps[0]["n"], reps[0]["digest"]))

    def rep_ok(rep: dict) -> bool:
        order_ok = (rep["n"], rep["digest"]) == ref
        text_ok = (rep["mismatched"] == 0 and rep["orphans"] == 0
                   and rep["compared"] > 0 and rep["rows"] == rep["n"])
        return order_ok and text_ok

    checked = reps + ([traced] if traced else [])
    attempted = sum(r["n"] for r in checked)
    failed = sum(r["n"] for r in checked if not rep_ok(r))
    if failed:
        log(f"checks failed: {json.dumps(checked)}")

    def med(key: str) -> float:
        return statistics.median(r[key] for r in reps)

    if args.trace:
        metrics = tracer.metrics()
        metrics["trace.overhead_ratio"] = traced["wall"] / med("wall") - 1.0
        metrics["host.steal_ratio"] = stolen
        units = {f"{n}.{suffix}": unit for n in spans.SPAN_NAMES for suffix, unit, _b in spans.FIELDS}
    else:
        compared = sum(r["compared"] for r in reps)
        metrics = {
            "setup_s": setup_s,
            "crawl_wall_s": med("wall"),
            "urls_per_s": statistics.median(r["fetched"] / r["wall"] for r in reps),
            "round_wall_p50_s": statistics.median(w for r in reps for w in r["rounds"]),
            "cpu_s": med("cpu"),
            "peak_rss_mb": peak_rss,
            "worker_peak_rss_mb": worker_rss,
            "resume_s": med("resume"),
            "text_match_ratio": 1.0 - sum(r["mismatched"] for r in reps) / max(compared, 1),
            "fetch_order_ok": float(all(rep_ok(r) for r in reps)),
        }
        units = {"setup_s": "s", "crawl_wall_s": "s", "urls_per_s": "1/s",
                 "round_wall_p50_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
                 "worker_peak_rss_mb": "MB", "resume_s": "s", "text_match_ratio": "ratio",
                 "fetch_order_ok": "bool"}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "ratio")} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench import proctree

    # every process this run starts, orphans included, ends before it does
    proctree.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = main()
    finally:
        proctree.reap_all()
    sys.exit(rc)
