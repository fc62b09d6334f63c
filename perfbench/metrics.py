"""Per-layer metrics of a traced run, computed from its spans and the
streaming progress records of its epochs. Layers are named after the
engine modules whose public calls the spans time."""

from __future__ import annotations

from dataclasses import dataclass, field

from spans import self_time
from workloads import SQL_FAMILIES

#: layers each workload must record calls for, as span-name prefixes
REQUIRED = {
    "replicate": ("partitioned.upsert", "search_stream.feed", "search_stream.status",
                  "search_stream.read", "shingle.feed", "shingle.status",
                  "vector_stream.append", "vector_stream.flush", "vector_stream.feed",
                  "vector_stream.status", "vector_stream.read", "daemon.status",
                  "daemon.fsck", "query.group_count"),
    "query": tuple(f"query.{f}" for f in SQL_FAMILIES) + ("search.batch",),
}


@dataclass
class LayerMetrics:
    values: dict = field(default_factory=dict)  # name -> (value, unit)
    missing: list = field(default_factory=list)


def _named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def _busy(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _sum(spans: list[dict], key: str) -> float:
    return sum(s.get(key, 0) for s in spans)


def layer_metrics(workload: str, tracer, progress: list[dict]) -> LayerMetrics:
    spans = tracer.spans
    out = LayerMetrics()
    v = out.values

    def put(name, value, unit):
        v[name] = (value, unit)

    # changes + pipeline: the epochs' own progress records
    dur = [p["durationMs"] for p in progress]
    trig = [d.get("triggerExecution", 0) / 1e3 for d in dur]
    add = [d.get("addBatch", 0) / 1e3 for d in dur]
    put("changes.source_s", sum((d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
                                for d in dur), "s")
    put("pipeline.epochs", len(progress), "count")
    put("pipeline.epoch_s", sum(trig), "s")
    put("pipeline.add_batch_s", sum(add), "s")
    put("pipeline.overhead_s", sum(trig) - sum(add), "s")
    put("pipeline.wait_s", sum(p["lag_s"] for p in progress) - sum(trig), "s")

    up = _named(spans, "partitioned.upsert")
    put("partitioned.upsert_s", _busy(up), "s")
    put("partitioned.upsert_jobs", _sum(up, "jobs"), "count")
    put("partitioned.upsert_cpu_s", _sum(up, "cpu_s"), "s")
    touched = sum((s.get("result") or {}).get("touched", 0) for s in up)
    buckets = getattr(tracer, "num_buckets", 0) * len(up)
    put("partitioned.touched_frac", touched / buckets if buckets else 0.0, "ratio")

    feed = _named(spans, "search_stream.feed")
    rd = _named(spans, "search_stream.read")
    put("search_stream.feed_s", _busy(feed), "s")
    put("search_stream.feed_jobs", _sum(feed, "jobs"), "count")
    put("search_stream.feed_cpu_s", _sum(feed, "cpu_s"), "s")
    put("search_stream.status_s", _busy(_named(spans, "search_stream.status")), "s")
    put("search_stream.read_s", _busy(rd), "s")
    put("search_stream.read_jobs", _sum(rd, "jobs"), "count")
    put("search_stream.read_cpu_s", _sum(rd, "cpu_s"), "s")

    feed = _named(spans, "shingle.feed")
    put("shingle.feed_s", _busy(feed), "s")
    put("shingle.feed_jobs", _sum(feed, "jobs"), "count")
    put("shingle.status_s", _busy(_named(spans, "shingle.status")), "s")

    # the bootstrap is the pre-quantizer buffer and its flush, without
    # the first index batch the flush runs (that counts as feed)
    boot = _named(spans, "vector_stream.append") + _named(spans, "vector_stream.flush")
    feed = _named(spans, "vector_stream.feed")
    rd = _named(spans, "vector_stream.read")
    put("vector_stream.bootstrap_s", sum(self_time(b, spans) for b in boot), "s")
    put("vector_stream.feed_s", _busy(feed), "s")
    put("vector_stream.feed_jobs", _sum(feed, "jobs"), "count")
    put("vector_stream.status_s", _busy(_named(spans, "vector_stream.status")), "s")
    put("vector_stream.read_s", _busy(rd), "s")
    put("vector_stream.read_jobs", _sum(rd, "jobs"), "count")
    put("vector_stream.read_cpu_s", _sum(rd, "cpu_s"), "s")

    put("daemon.status_s", _busy(_named(spans, "daemon.status")), "s")
    put("daemon.fsck_s", _busy(_named(spans, "daemon.fsck")), "s")

    for fam in SQL_FAMILIES:
        q = _named(spans, f"query.{fam}")
        put(f"query.{fam}_s", _busy(q), "s")
        put(f"query.{fam}_jobs", _sum(q, "jobs"), "count")
        put(f"query.{fam}_input_bytes", _sum(q, "input_bytes"), "B")

    b = _named(spans, "search.batch")
    put("search.batch_s", _busy(b), "s")
    put("search.batch_cpu_s", _sum(b, "cpu_s"), "s")
    put("search.batch_shuffle_bytes", _sum(b, "shuffle_bytes"), "B")

    put("spark.jobs", tracer.all_jobs, "count")
    put("spark.failed_tasks", tracer.all_failed_tasks, "count")

    names = {s["name"] for s in spans}
    out.missing = [n for n in REQUIRED[workload] if n not in names]
    return out
