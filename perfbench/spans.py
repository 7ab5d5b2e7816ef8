"""Per-layer spans of a traced crawl, recorded from outside the engine.

``Tracer.patch()`` swaps each layer's public function -- a module attribute
the crawl loop looks up at call time -- for a wrapper, so no engine source
changes.  Each wrapper records a span (name, start, end, parent, run id)
and runs the layer's Spark jobs under a job group named for the span.  A
layer that returns a DataFrame has its output forced once inside the span
(persisted, so the crawl reuses it and nothing is computed twice) by one
aggregate that also counts the rows the ratios need.

Two layers return a Column, not a DataFrame: ``extract.text_links_udf``
and ``urlnorm.canonicalize``.  Their spans re-apply the function, after
the crawl, to the input captured at their boundary: the fetched rows the
round extracts, and the raw outlinks ``links_to_frontier`` canonicalizes.

After the crawl, ``finish()`` reads task time, JVM CPU time, shuffle bytes
and failed tasks of every job from Spark's status store.  A job carries
its span's group when the span's thread submitted it; jobs the engine
submits from its own worker threads carry no group and go to the innermost
span open when they were submitted.  Spark metrics are inclusive of child
spans, like ``wall_s``; ``self_s`` is the wall not covered by child spans.
Spans stay in memory until ``write()``.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (module, attribute, span name) in report order; all but the two Column
# layers wrap a call that returns DataFrames or runs Spark jobs
LAYERS = [
    ("crawl", "crawl", "crawl.crawl"),
    ("crawl", "run_round", "crawl.run_round"),
    ("dedup", "unseen", "dedup.unseen"),
    ("bloom", "probe", "bloom.probe"),
    ("sched", "schedule", "sched.schedule"),
    ("fetch", "lookup_latest", "fetch.lookup_latest"),
    ("crawl", "links_to_frontier", "crawl.links_to_frontier"),
    ("dedup", "bucketed_hashes", "dedup.bucketed_hashes"),
    ("dedup", "within", "dedup.within"),
    ("bloom", "build", "bloom.build"),
    ("bloom", "absorb", "bloom.absorb"),
    ("state", "commit_snapshot", "state.commit_snapshot"),
    ("state", "load_snapshot", "state.load_snapshot"),
    ("extract", "text_links_udf", "extract.text_links_udf"),
    ("urlnorm", "canonicalize", "urlnorm.canonicalize"),
]
SPAN_NAMES = [name for _m, _a, name in LAYERS]
FIELDS = [  # (suffix, unit, better)
    ("wall_s", "s", "lower"),
    ("self_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("jvm_cpu_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("rows_out", "count", "lower"),
    ("failed_tasks", "count", "lower"),
]
RATIOS = [  # (name, better): useful outcomes over attempts, measured at the layer
    ("bloom.maybe_seen_ratio", "lower"),
    ("bloom.false_positive_ratio", "lower"),
    ("fetch.hit_ratio", "higher"),
    ("links.distinct_ratio", "higher"),
    ("links.fresh_ratio", "higher"),
    ("sched.scheduled_ratio", "higher"),
]
_GROUP = "perfbench-span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    # re-applied after the crawl: kept out of its parent's self time
    deferred: bool = False
    rows_out: int = 0
    counts: dict = field(default_factory=dict)
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    failed_tasks: int = 0
    records_written: int = 0


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._persisted: list[DataFrame] = []
        self._deferred: list = []  # (span name, parent id, thunk -> Row)
        self._counts: list = []  # (DataFrame, span or input name)
        self._round = 0
        self._fetched: DataFrame | None = None
        self._last_child: dict[int | None, str] = {}
        self._links_input: tuple[DataFrame, int] | None = None
        self._groups: list[str | None] = []
        self.inputs: dict[str, int] = {}

    # --- spans ------------------------------------------------------------

    def _open(self, name: str, deferred: bool = False, parent: int | None = None) -> Span:
        if not deferred:
            parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, self.run_id, time.time(), deferred=deferred)
        self.spans.append(span)
        self._stack.append(span)
        self._groups.append(self.sc.getLocalProperty("spark.jobGroup.id"))
        self.sc.setLocalProperty("spark.jobGroup.id", f"{_GROUP}:{span.id}")
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        self.sc.setLocalProperty("spark.jobGroup.id", self._groups.pop())
        self._last_child[span.parent] = span.name

    def _force(self, df: DataFrame, span: Span, **aggs) -> DataFrame:
        """Persist ``df`` and materialize it with one job that also counts
        its rows and the extra ``aggs``; return the persisted frame."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        row = df.agg(
            F.count(F.lit(1)).alias("__rows"), *[c.alias(k) for k, c in aggs.items()]
        ).collect()[0]
        span.rows_out += int(row["__rows"])
        for k in aggs:
            span.counts[k] = span.counts.get(k, 0) + int(row[k] or 0)
        return df

    # --- wrappers -----------------------------------------------------------

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self._open(name)
            try:
                return self._after(name, span, fn(*args, **kwargs), args, kwargs)
            finally:
                self._close(span)

        return wrapper

    def _after(self, name: str, span: Span, out, args, kwargs):
        """Force and count a layer's output inside its span."""
        if name in ("crawl.crawl", "crawl.run_round"):
            # frames forced inside; rows out = urls fetched, counted later
            self._counts.append((out["fetch_log"], span))
            return out
        if name == "state.commit_snapshot":
            return out  # rows out = rows its writes report
        if name == "state.load_snapshot":
            frontier, seen, r, manifest = out
            return (self._force(frontier, span), self._force(seen, span), r, manifest)
        if name == "bloom.probe":
            sliver = kwargs.get("keep_maybe_seen", args[2] if len(args) > 2 else False)
            aggs = {"maybe_seen": F.sum(F.col("maybe_seen").cast("int"))} if sliver else {}
            return self._force(out, span, **aggs)
        if name == "dedup.unseen":
            # after a probe in the same parent, this call re-checks the
            # filter's maybe-seen sliver: its output is the false positives
            if self._last_child.get(span.parent) == "bloom.probe":
                span.counts["sliver_calls"] = 1
            return self._force(out, span)
        if name == "fetch.lookup_latest":
            out = self._force(out, span, hits=F.count("html"))
            self._fetched = out
            return out
        if name == "sched.schedule":
            self._counts.append((args[0], "sched.input"))
            return self._force(out, span)
        if name == "dedup.within":
            # rows first discovered this round are the fresh links
            fresh = F.sum((F.col("discovered_round") == self._round + 1).cast("int"))
            return self._force(out, span, fresh=fresh)
        return self._force(out, span)

    def _wrap_run_round(self, fn):
        inner = self._wrap("crawl.run_round", fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self._round = kwargs.get("round_no", args[5] if len(args) > 5 else 0)
            return inner(*args, **kwargs)

        return wrapper

    def _wrap_links(self, fn):
        inner = self._wrap("crawl.links_to_frontier", fn)

        @functools.wraps(fn)
        def wrapper(parsed, next_round, n_buckets, max_depth):
            self._links_input = (parsed, max_depth)
            try:
                return inner(parsed, next_round, n_buckets, max_depth)
            finally:
                self._links_input = None

        return wrapper

    def _wrap_extract(self, fn):
        @functools.wraps(fn)
        def wrapper(*cols):
            fetched, parent = self._fetched, self._stack[-1].id if self._stack else None
            if fetched is not None:
                def thunk():
                    tl = fn(*cols).alias("__tl")
                    return fetched.select(tl).agg(
                        F.count(F.lit(1)).alias("__rows"),
                        F.sum(F.size("__tl.links")).alias("links"),
                    ).collect()[0]

                self._deferred.append(("extract.text_links_udf", parent, thunk))
            return fn(*cols)

        return wrapper

    def _wrap_canonicalize(self, fn):
        @functools.wraps(fn)
        def wrapper(col):
            captured = self._links_input
            if captured is not None:
                parsed, max_depth = captured
                parent = self._stack[-1].id

                def thunk():
                    # the rows links_to_frontier hands the UDF: outlinks of
                    # pages below max_depth
                    raw = (
                        parsed.filter(F.col("depth") < max_depth)
                        .select(F.explode_outer("links").alias("raw_url"))
                        .filter(F.col("raw_url").isNotNull())
                    )
                    return raw.select(fn(col).alias("__u")).agg(
                        F.count(F.lit(1)).alias("__rows"),
                        F.count("__u").alias("canonical"),
                    ).collect()[0]

                self._deferred.append(("urlnorm.canonicalize", parent, thunk))
            return fn(col)

        return wrapper

    def patch(self):
        """Context manager: every layer wrapped while the block runs."""
        import contextlib
        import importlib

        @contextlib.contextmanager
        def _cm():
            saved = []
            special = {
                "crawl.run_round": self._wrap_run_round,
                "crawl.links_to_frontier": self._wrap_links,
                "extract.text_links_udf": self._wrap_extract,
                "urlnorm.canonicalize": self._wrap_canonicalize,
            }
            for mod_name, attr, name in LAYERS:
                mod = importlib.import_module(f"crawlspark.{mod_name}")
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                wrap = special.get(name)
                setattr(mod, attr, wrap(fn) if wrap else self._wrap(name, fn))
            try:
                yield self
            finally:
                for mod, attr, fn in reversed(saved):
                    setattr(mod, attr, fn)

        return _cm()

    # --- after the crawl ----------------------------------------------------

    def finish(self) -> None:
        """Run the deferred re-applications, then read job metrics."""
        for df, target in self._counts:
            n = df.count()
            if isinstance(target, Span):
                target.rows_out += n
            else:
                self.inputs[target] = self.inputs.get(target, 0) + n
        self._counts.clear()
        for name, parent, thunk in self._deferred:
            span = self._open(name, deferred=True, parent=parent)
            try:
                row = thunk()
            finally:
                self._close(span)
            span.rows_out = int(row["__rows"])
            span.counts = {k: int(v or 0) for k, v in row.asDict().items() if k != "__rows"}
        self._deferred.clear()
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self._harvest()

    def _harvest(self) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        jobs = sorted((jobs.apply(k) for k in range(jobs.size())), key=lambda j: j.jobId())
        by_id = {s.id: s for s in self.spans}
        live = [s for s in self.spans if not s.deferred]
        seen_stages: set[int] = set()
        t_lo = min(s.start for s in self.spans) * 1000.0
        for job in jobs:
            sub = job.submissionTime()
            if sub.isEmpty() or sub.get().getTime() < t_lo - 1:
                continue
            t = sub.get().getTime() / 1000.0
            group = job.jobGroup()
            group = None if group.isEmpty() else group.get()
            if group is not None and group.startswith(_GROUP + ":"):
                span = by_id[int(group.split(":")[1])]
            else:
                if group is not None:
                    continue  # another group: not part of the traced crawl
                open_ = [s for s in live if s.start <= t <= s.end]
                if not open_:
                    continue
                span = max(open_, key=lambda s: s.start)
            stage_ids = job.stageIds()
            for j in range(stage_ids.size()):
                sid = stage_ids.apply(j)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # never submitted (skipped on reuse)
                    continue
                span.task_s += st.executorRunTime() / 1000.0
                span.jvm_cpu_s += st.executorCpuTime() / 1e9
                span.shuffle_write_bytes += st.shuffleWriteBytes()
                span.failed_tasks += st.numFailedTasks()
                span.records_written += st.outputRecords()

    # --- report ---------------------------------------------------------------

    def metrics(self) -> dict[str, float]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and not s.deferred:
                kids.setdefault(s.parent, []).append(s)

        def inclusive(s: Span) -> tuple[float, float, int, int]:
            t, c, b, f = s.task_s, s.jvm_cpu_s, s.shuffle_write_bytes, s.failed_tasks
            for k in kids.get(s.id, []):
                kt, kc, kb, kf = inclusive(k)
                t, c, b, f = t + kt, c + kc, b + kb, f + kf
            return t, c, b, f

        out = {f"{n}.{suffix}": 0.0 for n in SPAN_NAMES for suffix, _u, _b in FIELDS}
        for s in self.spans:
            wall = s.end - s.start
            t, c, b, f = inclusive(s)
            out[f"{s.name}.wall_s"] += wall
            out[f"{s.name}.self_s"] += wall - sum(k.end - k.start for k in kids.get(s.id, []))
            out[f"{s.name}.task_s"] += t
            out[f"{s.name}.jvm_cpu_s"] += c
            out[f"{s.name}.shuffle_write_mb"] += b / 1e6
            out[f"{s.name}.rows_out"] += s.rows_out + s.records_written
            out[f"{s.name}.failed_tasks"] += f
        out.update(self._ratios(out))
        return out

    def _ratios(self, m: dict[str, float]) -> dict[str, float]:
        def total(name: str, key: str) -> int:
            return sum(s.counts.get(key, 0) for s in self.spans if s.name == name)

        def div(a: float, b: float) -> float:
            return a / b if b else 0.0

        probed = m["bloom.probe.rows_out"]
        maybe = total("bloom.probe", "maybe_seen")
        false_pos = sum(
            s.rows_out for s in self.spans
            if s.name == "dedup.unseen" and s.counts.get("sliver_calls")
        )
        # a false positive is a maybe-seen row the exact check finds unseen;
        # the base is every probed row that is truly unseen
        truly_unseen = probed - maybe + false_pos
        return {
            "bloom.maybe_seen_ratio": div(maybe, probed),
            "bloom.false_positive_ratio": div(false_pos, truly_unseen),
            "fetch.hit_ratio": div(total("fetch.lookup_latest", "hits"), m["fetch.lookup_latest.rows_out"]),
            "links.distinct_ratio": div(m["crawl.links_to_frontier.rows_out"], m["urlnorm.canonicalize.rows_out"]),
            "links.fresh_ratio": div(total("dedup.within", "fresh"), m["crawl.links_to_frontier.rows_out"]),
            "sched.scheduled_ratio": div(m["sched.schedule.rows_out"], self.inputs.get("sched.input", 0)),
        }

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
