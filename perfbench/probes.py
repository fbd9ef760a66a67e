"""Measurement probes: engine stage totals, process-tree peak memory,
and the span tracer behind ``--trace 1``.

The tracer wraps each layer's public entry points from here, the
benchmark's own files; the engine is never edited. Spans live in
memory and are written once at exit. Spans of one gateway request
share its request id: the client stamps ``trace_id`` on the request,
the handler thread carries it, and jobs submitted from that thread
inherit it.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

# -- engine counters -----------------------------------------------------


def stage_totals(spark) -> dict[str, float]:
    """Sum input/shuffle bytes, executor CPU and GC time over every
    stage the status store still holds, keyed by stage id so a later
    call can diff exactly the stages that ran in between."""
    sc = spark.sparkContext
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = sc._jsc.sc().statusStore().stageList(None, False, False, empty, None)
    out: dict[int, tuple] = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        out[(s.stageId(), s.attemptId())] = (
            s.inputBytes(),
            s.shuffleReadBytes() + s.shuffleWriteBytes(),
            s.executorCpuTime() / 1e6,
            s.jvmGcTime(),
        )
    return out


def stage_delta(before: dict, after: dict) -> dict[str, float]:
    keys = [k for k in after if k not in before]
    tot = [sum(after[k][i] for k in keys) for i in range(4)]
    return {
        "stages": len(keys),
        "input_bytes": tot[0],
        "shuffle_bytes": tot[1],
        "task_cpu_ms": tot[2],
        "gc_ms": tot[3],
    }


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the machine from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


# -- memory --------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of each process's peak resident set (VmHWM) over this
    process and all its descendants — the driver JVM included."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# -- tracing -------------------------------------------------------------


class Tracer:
    """In-memory span recorder with per-thread parent tracking."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.events: list[dict] = []
        self._tl = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    # thread-local request id (set by the gateway handler wrapper)
    @property
    def rid(self):
        return getattr(self._tl, "rid", None)

    def _stack(self) -> list:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    def span(self, name: str, rid=None, **attrs):
        return _Span(self, name, rid, attrs)

    def event(self, name: str, **attrs) -> None:
        with self._lock:
            self.events.append({"name": name, "t": time.monotonic(), **attrs})

    def patch(self, owner, attr: str, make) -> None:
        setattr(owner, attr, make(getattr(owner, attr)))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "events": self.events}, fh)

    # -- aggregation ------------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def self_ms_by_layer(self) -> dict[str, float]:
        """Per layer (span-name prefix before the first dot): span time
        minus the time of its direct children on the same thread.
        Client-side spans are left out: they wait on the server's
        threads and would count the same interval twice."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == "gateway.client":
                continue
            layer = s["name"].split(".", 1)[0]
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[layer] = out.get(layer, 0.0) + own * 1e3
        return out


class _Span:
    __slots__ = ("tr", "name", "rid", "attrs", "start", "id", "parent")

    def __init__(self, tr: Tracer, name: str, rid, attrs: dict) -> None:
        self.tr, self.name, self.rid, self.attrs = tr, name, rid, attrs

    def __enter__(self):
        st = self.tr._stack()
        with self.tr._lock:
            self.tr._next += 1
            self.id = self.tr._next
        self.parent = st[-1].id if st else None
        if self.rid is None:
            self.rid = st[-1].rid if st else self.tr.rid
        st.append(self)
        self.start = time.monotonic()
        return self

    def __exit__(self, *exc) -> None:
        end = time.monotonic()
        self.tr._stack().pop()
        rec = {
            "id": self.id,
            "name": self.name,
            "start": self.start,
            "end": end,
            "parent": self.parent,
            "rid": self.rid,
        }
        rec.update(self.attrs)
        with self.tr._lock:
            self.tr.spans.append(rec)


def install_server_tracing(tr: Tracer) -> None:
    """Wrap the gateway, results, batcher, scheduler, detector, mrshare
    and cache entry points."""
    from sparksql_server_spark.server import scheduler as sched_mod
    from sparksql_server_spark.server.batcher import WindowBatcher
    from sparksql_server_spark.server.cache import CacheManager
    from sparksql_server_spark.server.client import SparkSQLClient
    from sparksql_server_spark.server.results import ResultCache
    from sparksql_server_spark.server.scheduler import BatchExecutor
    from sparksql_server_spark.server.server import WorkSharingServer

    def wrap_client_request(orig):
        @functools.wraps(orig)
        def w(self, req):
            with tr.span("gateway.client", rid=req.get("trace_id")):
                return orig(self, req)

        return w

    def wrap_handle(orig):
        @functools.wraps(orig)
        def w(self, req):
            tr._tl.rid = req.get("trace_id")
            try:
                with tr.span("gateway.handle") as sp:
                    reply = orig(self, req)
                    sp.attrs["cached"] = bool(reply.get("cached"))
                    return reply
            finally:
                tr._tl.rid = None

        return w

    def wrap_submit(orig):
        @functools.wraps(orig)
        def w(self, *a, **kw):
            job = orig(self, *a, **kw)
            job._bench_rid = tr.rid
            return job

        return w

    def wrap_get(orig):
        @functools.wraps(orig)
        def w(self, key):
            with tr.span("results.get") as sp:
                got = orig(self, key)
                sp.attrs["hit"] = got is not None
                return got

        return w

    def wrap_put(orig):
        @functools.wraps(orig)
        def w(self, *a, **kw):
            with tr.span("results.put"):
                return orig(self, *a, **kw)

        return w

    def wrap_next_batch(orig):
        @functools.wraps(orig)
        def w(self, *a, **kw):
            batch = orig(self, *a, **kw)
            if batch:
                now = time.monotonic()
                tr.event(
                    "batcher.drain",
                    jobs=len(batch),
                    waits=[now - j.submitted_at for j in batch],
                    rids=[getattr(j, "_bench_rid", None) for j in batch],
                )
            return batch

        return w

    def wrap_analyze(orig):
        @functools.wraps(orig)
        def w(self, job):
            with tr.span("scheduler.analyze", rid=getattr(job, "_bench_rid", None)):
                return orig(self, job)

        return w

    def wrap_run_batch(orig):
        @functools.wraps(orig)
        def w(self, jobs):
            with tr.span("scheduler.run_batch", jobs=len(jobs)):
                try:
                    return orig(self, jobs)
                finally:
                    for j in jobs:
                        tr.event(
                            "scheduler.job",
                            rid=getattr(j, "_bench_rid", None),
                            elapsed=j.elapsed,
                            status=j.status.value,
                            merged="rewritten_sql" in j.props,
                        )

        return w

    def wrap_detect(orig):
        @functools.wraps(orig)
        def w(jobs):
            with tr.span("detector.detect", jobs=len(jobs)) as sp:
                bags = orig(jobs)
                sp.attrs["shared_jobs"] = sum(len(b.jobs) for b in bags if len(b.jobs) > 1)
                return bags

        return w

    def wrap_plan_merges(orig):
        @functools.wraps(orig)
        def w(jobs, **kw):
            with tr.span("mrshare.plan", jobs=len(jobs)):
                return orig(jobs, **kw)

        return w

    def wrap_materialize(orig):
        @functools.wraps(orig)
        def w(self, mp):
            with tr.span("mrshare.materialize", jobs=len(mp.jobs)) as sp:
                ok = orig(self, mp)
                sp.attrs["ok"] = bool(ok)
                return ok

        return w

    def wrap_should_cache(orig):
        @functools.wraps(orig)
        def w(self, *a, **kw):
            with tr.span("cache.should_cache") as sp:
                ok = orig(self, *a, **kw)
                sp.attrs["admit"] = bool(ok)
                return ok

        return w

    def wrap_ensure_cached(orig):
        @functools.wraps(orig)
        def w(self, source, *a, **kw):
            built = source not in self.cached_sources
            with tr.span("cache.ensure_cached", built=built):
                return orig(self, source, *a, **kw)

        return w

    tr.patch(SparkSQLClient, "request", wrap_client_request)
    tr.patch(WorkSharingServer, "handle_request", wrap_handle)
    tr.patch(WorkSharingServer, "submit", wrap_submit)
    tr.patch(ResultCache, "get", wrap_get)
    tr.patch(ResultCache, "put", wrap_put)
    tr.patch(WindowBatcher, "next_batch", wrap_next_batch)
    tr.patch(BatchExecutor, "analyze", wrap_analyze)
    tr.patch(BatchExecutor, "run_batch", wrap_run_batch)
    tr.patch(BatchExecutor, "_materialize_merge", wrap_materialize)
    tr.patch(sched_mod, "detect_sharing", wrap_detect)
    tr.patch(sched_mod, "plan_merges", wrap_plan_merges)
    tr.patch(CacheManager, "should_cache", wrap_should_cache)
    tr.patch(CacheManager, "ensure_cached", wrap_ensure_cached)


def span_cost_us(n: int = 20000) -> float:
    """Calibrated cost of one traced call over an untraced one."""
    tr = Tracer()

    def f():
        return None

    t0 = time.perf_counter()
    for _ in range(n):
        f()
    raw = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("x"):
            f()
    return max(0.0, (time.perf_counter() - t0 - raw) / n * 1e6)
