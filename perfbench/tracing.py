"""Tracing for the traced run: spans, Spark job statistics, lakehouse
timing shims, and host counters.

Everything here observes the program from outside: spans wrap calls into
the package's public functions, Spark numbers come from its status
tracker, and the lakehouse shims wrap public `Lakehouse`/`Transaction`
methods for the life of one run.  Spans stay in memory until the run
writes its artifact.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

import bench
from urban_mobility_data_lakehouse_spark.sources.lakehouse import (
    Lakehouse,
    Transaction,
)

# Public lakehouse methods the shims time, by the kind of work they do.
LAKE_COMMITS = (
    "overwrite", "overwrite_partitions", "append",
    "merge_into", "delete_where", "update_where",
)
LAKE_READS = ("read", "read_where", "read_changes", "snapshots")
TXN_STAGES = ("overwrite_partitions", "overwrite", "append")


class Tracer:
    """Spans of one run.  A span is a dict with name, start, end (seconds
    since the tracer started), parent span id and request id; extra keys
    carry counts measured at the same boundary."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # seconds spent in the tracer's own bookkeeping, for trace.overhead
        self.self_s = 0.0

    def open(self, name: str, request: str | None = None, **attrs) -> dict:
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None
            else (parent["request"] if parent else None),
            "start": t - self.t0,
            "end": None,
            **attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.self_s += time.perf_counter() - t
        return span

    def close(self, span: dict) -> dict:
        t = time.perf_counter()
        span["end"] = t - self.t0
        self._stack.remove(span)
        self.self_s += time.perf_counter() - t
        return span

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        s = self.open(name, request, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    @contextmanager
    def bookkeeping(self):
        """Time spent here counts as tracer overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.self_s += time.perf_counter() - t

    def find(self, kind: str, within: dict | None = None) -> list[dict]:
        """Closed spans of one kind, optionally only those inside the
        interval of `within`."""
        out = [s for s in self.spans if s.get("kind") == kind and s["end"]]
        if within is not None:
            out = [
                s for s in out
                if s["start"] >= within["start"] and s["end"] <= within["end"]
            ]
        return out


def duration(span: dict) -> float:
    return span["end"] - span["start"]


# -- Spark status tracker ---------------------------------------------------


def spark_group_stats(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group, read from the
    status tracker and the status store."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, stages=0, tasks=0, failed_tasks=0,
               shuffle_write_bytes=0, spill_bytes=0)
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        out["jobs"] += 1
        for sid in info.stageIds if info else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage skipped or evicted
                continue
            if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                continue  # skipped (its shuffle output was reused)
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


@contextmanager
def job_group(spark, tracer: Tracer, span: dict):
    """Run the block under a Spark job group of its own and add the
    group's statistics to `span` when the block ends."""
    sc = spark.sparkContext
    group = f"perfbench-{span['id']}"
    with tracer.bookkeeping():
        sc.setJobGroup(group, span["name"])
    try:
        yield
    finally:
        with tracer.bookkeeping():
            sc._jsc.clearJobGroup()
            span.update(spark_group_stats(spark, group))


def timed_collect(spark, tracer: Tracer | None, name: str, build,
                  request: str | None = None, **attrs):
    """Build a DataFrame with `build()` and collect it: (columns, rows,
    wall seconds).  With a tracer, the call is one span of kind "query"
    with its job-group statistics and its layers: `builder_s` (inside
    `build`, eager jobs included), `plan_s` (analysis, optimization and
    planning, from Spark's QueryPlanningTracker) and `execute_s` (the
    collect once planned)."""
    if tracer is None:
        t0 = time.perf_counter()
        df = build()
        rows = df.collect()
        return df.columns, rows, time.perf_counter() - t0
    with tracer.span(name, request, kind="query", **attrs) as s, \
            job_group(spark, tracer, s):
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        with tracer.bookkeeping():
            phases = {}
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                phases[kv._1()] = kv._2().durationMs() / 1000.0
        s.update(
            builder_s=t1 - t0,
            plan_s=sum(phases.values()),
            plan_wall_s=t2 - t1,
            execute_s=t3 - t2,
            phases=phases,
            rows=len(rows),
        )
    return df.columns, rows, t3 - t0


# -- lakehouse shims --------------------------------------------------------


@contextmanager
def lakehouse_shims(tracer: Tracer):
    """Time the public lakehouse methods for the duration of the block.

    Only the outermost lakehouse call is recorded, so a public method
    called inside another (merge_into → overwrite_partitions) counts
    once.  A transaction is one commit span from `__enter__` to
    `__exit__`; its staged writes are child spans of kind "txn_stage"."""
    depth = [0]
    saved: list[tuple[type, str, object]] = []

    def wrap(cls, name, kind):
        orig = getattr(cls, name)

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            if depth[0]:
                return orig(*args, **kwargs)
            depth[0] += 1
            span = tracer.open(f"lakehouse.{name}", kind=kind)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.close(span)
                depth[0] -= 1

        saved.append((cls, name, orig))
        setattr(cls, name, shim)

    for name in LAKE_COMMITS:
        wrap(Lakehouse, name, "commit")
    for name in LAKE_READS:
        wrap(Lakehouse, name, "read_changes" if name == "read_changes" else "read")
    for name in TXN_STAGES:
        wrap(Transaction, name, "txn_stage")

    enter, exit_ = Transaction.__enter__, Transaction.__exit__

    def t_enter(self):
        self._perfbench_span = tracer.open("lakehouse.transaction", kind="commit")
        return enter(self)

    def t_exit(self, *exc):
        depth[0] += 1  # the commit's own log reads belong to the commit
        try:
            return exit_(self, *exc)
        finally:
            depth[0] -= 1
            tracer.close(self._perfbench_span)

    saved += [(Transaction, "__enter__", enter), (Transaction, "__exit__", exit_)]
    Transaction.__enter__, Transaction.__exit__ = t_enter, t_exit
    try:
        yield
    finally:
        for cls, name, orig in reversed(saved):
            setattr(cls, name, orig)


# -- host -------------------------------------------------------------------


def tree_pids() -> list[int]:
    """This process and its live descendants (the Spark JVM and its
    Python workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the
    tree: an upper bound on the tree's simultaneous peak."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class AmbientMeter:
    """Cores of CPU work by other processes during an interval: system
    busy time minus this process tree's busy time (bench.py's /proc
    helpers).  Recorded only; no sample is ever dropped for it."""

    def __init__(self) -> None:
        self.t = time.perf_counter()
        self.sys0 = bench._total_busy_jiffies()
        self.tree0 = bench._tree_busy_jiffies()

    def cores(self) -> float:
        wall = time.perf_counter() - self.t
        busy = (bench._total_busy_jiffies() - self.sys0) - (
            bench._tree_busy_jiffies() - self.tree0
        )
        return max(0.0, busy / (os.sysconf("SC_CLK_TCK") * max(wall, 1e-3)))


def dir_bytes(root: str) -> tuple[int, int, int]:
    """(total bytes, parquet data files, commit-log bytes) under root."""
    total = files = log = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            size = os.path.getsize(os.path.join(dirpath, n))
            total += size
            if n.endswith(".parquet"):
                files += 1
            elif n.endswith((".jsonl", ".json")):
                log += size
    return total, files, log
