"""Spans for the traced benchmark run, recorded from the benchmark's own
files: wrappers rebound over the engine's module attributes, plus spans
opened at the benchmark's call sites.

The engine imports its layer functions lazily inside ``pipeline._merge``,
the ``pipeline._feed_*`` twin feeds, ``Daemon.status`` and
``vector_stream.flush_pending``, so a function rebound here is the one
they call. The BM25 and shingle twins share the LSM functions of
``search_stream``; a call on the shingle root is named after the
``shingle`` layer.

Each span records its name, start, end, parent span, thread and the
epoch or request id current when it opened. Spans stay in memory; the
Spark jobs they ran are attributed at the end from the status store
(which works with the UI off) through one job tag per span. Tags are
added and removed around the call, so the thread's job group and
description are never touched and no job is added or removed.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

#: (module, attribute, span name) rebound on install
WRAPPED = (
    ("couch_to_postgres_spark.streaming.partitioned", "upsert_partitioned_mirror",
     "partitioned.upsert"),
    ("couch_to_postgres_spark.streaming.search_stream", "search_index_batch",
     "search_stream.feed"),
    ("couch_to_postgres_spark.streaming.search_stream", "index_status",
     "search_stream.status"),
    ("couch_to_postgres_spark.streaming.vector_stream", "append_pending",
     "vector_stream.append"),
    ("couch_to_postgres_spark.streaming.vector_stream", "flush_pending",
     "vector_stream.flush"),
    ("couch_to_postgres_spark.streaming.vector_stream", "vector_index_batch",
     "vector_stream.feed"),
    ("couch_to_postgres_spark.streaming.vector_stream", "vector_index_status",
     "vector_stream.status"),
)

#: Daemon methods timed as spans; ``find_feeds`` is wrapped only to start
#: stream threads with no job tags (a JVM child thread inherits them).
DAEMON_SPANS = {"status": "daemon.status", "fsck": "daemon.fsck"}


class Tracer:
    """In-memory span recorder."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.request = None  # epoch or request id stamped on new spans
        self.roots: dict[str, str] = {}  # index root -> layer, for shared LSM calls
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._undo: list = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]["id"]
        # a pool thread's span is caused by what the main thread has open
        main = getattr(self, "_main_stack", None)
        return main[-1]["id"] if main else None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": next(self._ids), "name": name, "parent": self._parent(),
               "request": self.request, "thread": threading.get_ident(), **attrs}
        tag = f"perfbench-{rec['id']}"
        stack = self._stack()
        if rec["thread"] == self._main:
            self._main_stack = stack
        self.sc.addJobTag(tag)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.removeJobTag(tag)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            path = args[1] if len(args) > 1 else kwargs.get("index_path")
            layer = self.roots.get(path) if isinstance(path, str) else None
            span_name = f"{layer}.{name.split('.', 1)[1]}" if layer else name
            with self.span(span_name, call=fn.__name__) as rec:
                out = fn(*args, **kwargs)
                rec["result"] = _summary(out)
                return out

        return traced

    def install(self) -> None:
        """Rebind every wrapped engine function and Daemon method."""
        import importlib

        from couch_to_postgres_spark.streaming.daemon import Daemon

        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._undo.append((mod, attr, fn))
            setattr(mod, attr, self.wrap(fn, name))
        for attr, name in DAEMON_SPANS.items():
            fn = getattr(Daemon, attr)
            self._undo.append((Daemon, attr, fn))
            setattr(Daemon, attr, self.wrap(fn, name))
        fn = Daemon.find_feeds
        self._undo.append((Daemon, "find_feeds", fn))
        setattr(Daemon, "find_feeds", self._untagged(fn))

    def _untagged(self, fn):
        sc = self.sc

        @functools.wraps(fn)
        def untagged(*args, **kwargs):
            saved = sc.getJobTags()
            sc.clearJobTags()
            try:
                return fn(*args, **kwargs)
            finally:
                for t in saved:
                    sc.addJobTag(t)

        return untagged

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def harvest(self) -> None:
        """Attribute Spark jobs, executor CPU and bytes to every span
        whose tag the job carries (a job inside nested spans counts for
        each of them). Each stage counts for the first job that lists it,
        so a stage skipped by a later job is not counted twice."""
        jobs, stages = status_store_dump(self.spark)
        stage_job: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for s in j.get("stageIds", []):
                stage_job.setdefault(s, j["jobId"])
        per_job: dict[int, dict] = {}
        for s in stages:
            jid = stage_job.get(s["stageId"])
            if jid is None:
                continue
            acc = per_job.setdefault(jid, {"cpu_s": 0.0, "input_bytes": 0,
                                           "shuffle_bytes": 0})
            acc["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            acc["input_bytes"] += s.get("inputBytes", 0)
            acc["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
        by_tag: dict[str, list] = {}
        for j in jobs:
            for t in j.get("jobTags", []):
                by_tag.setdefault(t, []).append(j)
        for rec in self.spans:
            mine = by_tag.get(f"perfbench-{rec['id']}", [])
            rec["jobs"] = len(mine)
            rec["failed_tasks"] = sum(j.get("numFailedTasks", 0) for j in mine)
            for k in ("cpu_s", "input_bytes", "shuffle_bytes"):
                rec[k] = sum(per_job.get(j["jobId"], {}).get(k, 0) for j in mine)
        self.all_jobs = len(jobs)
        self.all_failed_tasks = sum(j.get("numFailedTasks", 0) for j in jobs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_time(span: dict, spans: list[dict]) -> float:
    """Span duration minus the union of its children's intervals."""
    kids = sorted((c["start"], c["end"]) for c in spans if c["parent"] == span["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        s, e = max(s, span["start"]), min(e, span["end"])
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span["end"] - span["start"] - covered


def status_store_dump(spark) -> tuple[list[dict], list[dict]]:
    """Every retained job and stage from the application status store,
    serialized JVM-side in one call each (the REST API's own Jackson
    mapping, so the field names are the REST API's)."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    stages = json.loads(mapper.writeValueAsString(store.stageList(None, *defaults)))
    return jobs, stages


def _summary(out):
    """The part of a wrapped call's result the layer metrics need: the
    bucket list ``upsert_partitioned_mirror`` returns."""
    if isinstance(out, list) and all(isinstance(x, int) for x in out):
        return {"touched": len(out)}
    return None
