"""Workload inputs, the Spark session, one measured crawl, and its checks.

The corpus is ``tests/gen_pages.py`` output, written once to
``.perfbench_cache/`` (ignored by git) and reused by later runs.  Only the
seed list depends on the workload seed; the engine sees nothing but the
generated parquet pages, seed urls and robots rows.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int  # light corpus (~600 B of text per page, 1-3 captures)
    n_seeds: int
    rounds: int
    max_budget_per_host: int
    # False: one crawl() call, no snapshots; set-up warms up with a small
    # crawl of the same shape.  True: snapshots on, one crawl() call per
    # round; set-up commits round 0 and resumes once to commit every round
    # but the last, and the measured call resumes and runs the last round
    snapshots: bool = False
    warm_seeds: int = 100

    def config(self, rounds: int):
        from crawlspark import config

        return config.CrawlConfig(
            rounds=rounds,
            round_seconds=200_000.0,  # politeness delay never binds
            max_budget_per_host=self.max_budget_per_host,
            n_buckets=16,
            salt=8,
            max_depth=10,
        )


WORKLOADS = {
    # headline shape: big batches, open budget, no snapshots.  Two rounds
    # cost ~13 s of fixed job overhead on 4 cores whatever the batch; at
    # 10,000 seeds (~33k urls) the per-url work is about half the wall
    "bfs": Workload("bfs", n_pages=50_000, n_seeds=10_000, rounds=2,
                    max_budget_per_host=1_000_000),
    # small batches under a per-host budget, so a backlog builds; snapshots
    # on: bloom build and commit (set-up), then load, sidecar probe, bloom
    # absorb and a delta commit in every measured call
    "resume": Workload("resume", n_pages=10_000, n_seeds=2_000, rounds=3,
                       max_budget_per_host=100, snapshots=True),
}


def warmup(wl: Workload) -> Workload:
    """The same shape on few seeds and one round: a cold crawl is mostly
    start-up cost (JIT, Python workers), every round runs the same code,
    and it leaves the next crawl as warm."""
    return replace(wl, n_seeds=wl.warm_seeds, rounds=1)


def smoke(wl: Workload) -> Workload:
    """The same shape at fixture scale, for the benchmark's own test."""
    return replace(wl, n_pages=2_000, n_seeds=200, warm_seeds=20)


# --- corpus -----------------------------------------------------------------

def _gen_chunk(args: tuple[int, int, int, str, str]) -> None:
    """Pages ``[lo, hi)`` to ``pages_path``, and each page's text at its
    latest capture (the ground truth extraction must reproduce) to
    ``truth_path``."""
    lo, hi, n_pages, pages_path, truth_path = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen_pages as gp

    rows, truth = [], []
    for i in range(lo, hi):
        captures = gp.page_rows(i, n_pages)
        rows.extend(captures)
        latest = max(captures, key=lambda r: r["warc_ts"])
        truth.append({"url": latest["url"], "truth": latest["text"]})
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])), pages_path)
    pq.write_table(pa.Table.from_pylist(truth, schema=pa.schema([
        ("url", pa.string()), ("truth", pa.string()),
    ])), truth_path)


def corpus_path(n_pages: int) -> str:
    """Cached corpus directory, keyed by size and the generator's source.
    It holds ``pages/`` (the crawl's input) and ``truth/``."""
    with open(os.path.join(ROOT, "tests", "gen_pages.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(CACHE, f"pages-{n_pages}-{tag}")


def ensure_corpus(n_pages: int, workers: int) -> tuple[str, float]:
    """Generate the corpus unless cached; returns (path, the seconds its
    generation took, recorded in ``_gen_seconds.json``)."""
    path = corpus_path(n_pages)
    stamp = os.path.join(path, "_gen_seconds.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return path, json.load(f)["gen_seconds"]
    t0 = time.monotonic()
    tmp = f"{path}.tmp-{os.getpid()}"
    for sub in ("pages", "truth"):
        os.makedirs(os.path.join(tmp, sub))
    n_files = 2 * workers
    step = -(-n_pages // n_files)
    chunks = [
        (lo, min(lo + step, n_pages), n_pages,
         os.path.join(tmp, "pages", f"part-{k:03d}.parquet"),
         os.path.join(tmp, "truth", f"part-{k:03d}.parquet"))
        for k, lo in enumerate(range(0, n_pages, step))
    ]
    # plain child processes, each waited for: a multiprocessing pool would
    # leave its resource tracker running past this process
    procs = []
    try:
        for w in range(workers):
            procs.append(subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), json.dumps(chunks[w::workers])]))
        for proc in procs:
            if proc.wait() != 0:
                raise RuntimeError(f"corpus generation failed: exit code {proc.returncode}")
    finally:
        for proc in procs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    gen_s = time.monotonic() - t0
    with open(os.path.join(tmp, "_gen_seconds.json"), "w") as f:
        json.dump({"gen_seconds": gen_s, "workers": workers}, f)
    os.rename(tmp, path)
    return path, gen_s


def seed_urls(wl: Workload, seed: int) -> list[str]:
    """The workload seed's seed list: distinct pages, a third in messy
    spellings that must canonicalize to the page url."""
    import gen_pages as gp

    out = []
    for s in range(wl.n_seeds):
        h = int.from_bytes(hashlib.md5(f"perfbench:{seed}:{s}".encode()).digest()[:8], "big")
        i = h % wl.n_pages
        out.append(gp.messy_url_of(i, s) if s % 3 == 0 else gp.url_of(i))
    return out


# --- session ----------------------------------------------------------------

def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _heap_mb() -> int:
    """2 GiB, or an eighth of the box's memory if that is less: the corpus
    is a few MB."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return max(512, min(2048, total_kb // 8192))


def make_session(local_dir: str):
    from crawlspark.session import get_spark

    n = cpus()
    os.makedirs(local_dir, exist_ok=True)
    # keep shuffle, spill and temp files inside the checkout (the variable
    # wins over spark.local.dir when set)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = local_dir
    heap = _heap_mb()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.local.dir": local_dir,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local_dir}",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job's stages back from the status
            # store; the defaults (1000) would drop early rounds
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- one crawl ----------------------------------------------------------------

@dataclass
class CrawlRun:
    wall_s: float  # the measured crawl() call, including forcing its fetch log
    cpu_s: float  # process-tree CPU over that call
    fetched: int  # urls it fetched
    stolen: float  # share of the machine's active CPU time stolen during the call
    round_walls: list[float]
    fetch_log: object  # DataFrame(round, sched_ts, host, url), whole crawl
    extracted: object  # DataFrame(url, text), whole crawl

    @property
    def outside_rounds_s(self) -> float:
        """The call's wall outside its rounds: loading or building the
        starting state, and forcing the fetch log."""
        return self.wall_s - sum(self.round_walls)


def _crawl(spark, wl: Workload, inputs, snap_root, run_id: str, rounds: int, resume: bool):
    """One ``crawl()`` call, until its fetch log is forced.  Returns (wall
    seconds, the share of the machine's active CPU time stolen meanwhile, urls
    fetched, the call's result)."""
    from crawlspark import crawl as crawl_mod
    from perfbench import proctree

    clock, t0 = proctree.cpu_clock(), time.monotonic()
    # module attribute at call time, so a traced run sees its wrapper
    res = crawl_mod.crawl(spark, *inputs, cfg=wl.config(rounds),
                          snapshot_root=snap_root if wl.snapshots else None,
                          run_id=run_id, resume=resume)
    n = res["fetch_log"].count()
    return time.monotonic() - t0, proctree.steal_share(clock), n, res


def crawl_prefix(spark, wl: Workload, inputs, snap_root: str, run_id: str):
    """Commit every round but the last of a snapshot workload: round 0 in a
    fresh call, the rest in one resumed call.  Returns the (fetch log,
    extracted) of those rounds, or None for a workload without snapshots."""
    if not wl.snapshots:
        return None
    calls = [_crawl(spark, wl, inputs, snap_root, run_id, 1, resume=False)[-1]]
    if wl.rounds > 2:
        calls.append(_crawl(spark, wl, inputs, snap_root, run_id, wl.rounds - 1, resume=True)[-1])

    def union(key):
        return functools.reduce(lambda a, b: a.unionByName(b), (c[key] for c in calls))

    return union("fetch_log"), union("extracted")


def crawl_once(spark, wl: Workload, inputs, snap_root: str, run_id: str,
               prefix=None) -> CrawlRun:
    """The measured part of one crawl of ``inputs`` (seeds, pages, robots):
    the whole crawl in one call, or, after ``crawl_prefix``, one resumed
    call that loads the last commit and runs the last round.  The round the
    resumed call committed is removed afterwards, so the next call repeats
    it."""
    from perfbench import proctree

    resume = prefix is not None
    cpu0 = proctree.cpu_seconds()
    wall, stolen, n, res = _crawl(spark, wl, inputs, snap_root, run_id, wl.rounds, resume)
    cpu = proctree.cpu_seconds() - cpu0
    fetch_log, extracted = res["fetch_log"], res["extracted"]
    if resume:
        shutil.rmtree(os.path.join(snap_root, run_id, f"round={wl.rounds - 1}"))
        fetch_log = prefix[0].unionByName(fetch_log)
        extracted = prefix[1].unionByName(extracted)
    return CrawlRun(wall, cpu, n, stolen, res["round_walls"], fetch_log, extracted)


# --- checks -------------------------------------------------------------------

def fetch_digest(fetch_log) -> tuple[int, str]:
    """(n_fetched, sha256 of the fetch log in replay order)."""
    h = hashlib.sha256()
    n = 0
    for r in fetch_log.orderBy("round", "sched_ts", "host", "url").collect():
        h.update(f"{r['round']}\t{r['sched_ts']!r}\t{r['host']}\t{r['url']}\n".encode())
        n += 1
    return n, h.hexdigest()


def load_truth(corpus: str) -> dict[str, str]:
    """url -> its text at its latest capture, as generated."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(corpus, "truth"))
    return dict(zip(t.column("url").to_pylist(), t.column("truth").to_pylist()))


def text_check(extracted, truth: dict[str, str]) -> dict:
    """Compare extracted text with the ground truth.  A url the corpus does
    not hold is a fetch miss and must extract no text (an orphan if it
    does)."""
    rows = compared = mismatched = orphans = 0
    for r in extracted.collect():
        rows += 1
        want = truth.get(r["url"])
        if want is None:
            orphans += r["text"] is not None
        else:
            compared += 1
            mismatched += r["text"] != want
    return {"rows": rows, "compared": compared, "mismatched": mismatched, "orphans": orphans}


if __name__ == "__main__":
    # a corpus generation worker: the chunks (as ``_gen_chunk`` takes them)
    # in its one argument, a JSON list
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    for chunk in json.loads(sys.argv[1]):
        _gen_chunk(tuple(chunk))
