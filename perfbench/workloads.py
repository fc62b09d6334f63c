"""The two benchmark workloads. Each drives the engine only through its
public API, in one Spark process, with one client (a closed loop: the
next request goes out only after the previous one completed).

``replicate`` loads the CDC write path: one daemon feed maintaining the
partitioned mirror and its three live index twins (BM25, shingle,
vector), and live reads between epochs.
``query`` loads the SQL-over-JSON surface and scan-path batch BM25 over a
compacted mirror, with no writes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from dataclasses import dataclass, field
from statistics import mean, median

import gen


@dataclass(frozen=True)
class ReplicateSize:
    docs: int = 4000  # backlog size (sync phase)
    per_epoch: int = 100  # changes per published file


@dataclass(frozen=True)
class QuerySize:
    docs: int = 8000
    max_cycles: int = 64  # pre-generated query sets


SIZES = {
    "full": (ReplicateSize(), QuerySize()),
    "tiny": (ReplicateSize(docs=300, per_epoch=40),
             QuerySize(docs=800, max_cycles=8)),
}

#: the SQL-over-JSON families of the query mix (README SQL surface)
SQL_FAMILIES = ("group_count", "group_count_having", "key_expansion", "flagship",
                "filtered_subset", "distinct_field", "point_lookup_partitioned")


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    spark: object
    work: str  # fresh per-run data root inside the checkout
    seed: int
    seconds: float
    size: str
    spark_s: float  # SparkSession start time, part of setup
    tracer: object = None  # spans.Tracer on a traced run
    break_model: bool = False  # corrupt the expected model (self-test)
    progress: list = field(default_factory=list)  # replicate's epoch progress


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    samples: dict = field(default_factory=dict)  # name -> sample count
    notes: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check (or one operation's outcome)."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")
        return ok


@dataclass
class Timer:
    samples: list = field(default_factory=list)

    def __call__(self, fn, *args, **kwargs):
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        self.samples.append(time.perf_counter() - t)
        return out


def _span(ctx: Ctx, name: str):
    """A tracer span at a benchmark call site (no-op when untraced)."""
    from contextlib import nullcontext

    return ctx.tracer.span(name) if ctx.tracer else nullcontext()


def _tree_hash(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _setup_inputs(ctx: Ctx, res: Result, make, name: str):
    """Generate the inputs three times into separate dirs; the median is
    the generation cost, and byte-identical trees check determinism."""
    times, hashes, out = [], [], None
    for i in range(3):
        d = os.path.join(ctx.work, f"{name}-{i}")
        t = time.perf_counter()
        got = make(d)
        times.append(time.perf_counter() - t)
        hashes.append(_tree_hash(d))
        out = out or (d, got)
    res.check(len(set(hashes)) == 1, "generator is deterministic for one seed")
    return out, median(times)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


# ---------------------------------------------------------------- replicate

#: an epoch round takes well over this many seconds, so
#: ``--seconds / ROUND_FLOOR_S`` change files are enough to fill a run
ROUND_FLOOR_S = 5.0
#: group_count reads per epoch: a cheap read, so two samples per epoch
SQL_REPEATS = 2


def replicate(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from couch_to_postgres_spark.operators.query import group_count
    from couch_to_postgres_spark.streaming.daemon import Daemon, FeedConfig, save_registry
    from couch_to_postgres_spark.streaming.partitioned import validate_mirror
    from couch_to_postgres_spark.streaming.pipeline import read_mirror
    from couch_to_postgres_spark.streaming.search_stream import bm25_topk_from_index
    from couch_to_postgres_spark.streaming.vector_stream import vector_topk_live

    size = SIZES[ctx.size][0]
    n_files = max(1, math.ceil(ctx.seconds / ROUND_FLOOR_S))
    spark, res = ctx.spark, Result()
    (inp_dir, inp), gen_s = _setup_inputs(
        ctx, res,
        lambda d: gen.make_replicate_inputs(ctx.seed, d, size.docs, n_files, size.per_epoch),
        "inputs")
    models = inp["models"]
    if ctx.break_model:
        models = [_broken(m) for m in models]
    setup_s = ctx.spark_s + gen_s

    registry = os.path.join(ctx.work, "registry.json")
    log_dir = os.path.join(inp_dir, "log")
    fc = FeedConfig(name="articles", changes_path=log_dir, search_index=True,
                    shingle_index=True, vector_index=True)
    save_registry(registry, [fc])
    data = os.path.join(ctx.work, "data")
    d = Daemon(spark, registry, data)
    mirror = d.mirror_path(fc)
    sip, vip = d.search_index_path(fc), d.vector_index_path(fc)
    if ctx.tracer:
        ctx.tracer.roots = {d.shingle_index_path(fc): "shingle"}
    live = {"processingTime": "0 seconds"}

    def feed_counts() -> dict:
        rows = group_count(read_mirror(spark, mirror), "feedName").collect()
        return {r["feedName"]: r["value"] for r in rows}

    # ---- sync phase: start the feed live with the backlog present; its
    # first batch bootstraps the mirror and all three twins
    os.sync()
    t0 = time.perf_counter()
    d.find_feeds(trigger=live)
    commit = _await_commit(d.queries[fc.name], -1, timeout=300.0)
    sync_s = time.perf_counter() - t0
    if not res.check(commit is not None, "sync: the backlog committed"):
        d.stop_all()
        return res
    with _span(ctx, "query.group_count"):
        got = feed_counts()  # untimed: the plan's first compilation
    res.check(got == models[0].feed_counts(), "sync: group_count(feedName)")
    if ctx.tracer:
        from couch_to_postgres_spark.streaming.partitioned import read_meta

        ctx.tracer.num_buckets = int(read_meta(mirror)["num_buckets"])

    # ---- churn phase: one round is one epoch (publish a change file by
    # rename, wait for its commit, then the live reads); rounds go on
    # until --seconds has passed (at least one)
    lags, rounds, progress = [], [], ctx.progress
    search_t, vector_t, sql_t = Timer(), Timer(), Timer()
    t_churn = time.perf_counter()
    last_batch, e = commit["batchId"], 0
    while e < n_files and (e == 0 or time.perf_counter() - t_churn < ctx.seconds):
        if ctx.tracer:
            ctx.tracer.request = f"epoch-{e + 1}"
        os.sync()
        src = inp["files"][e]
        t0 = time.perf_counter()
        os.rename(src, os.path.join(log_dir, os.path.basename(src)))
        commit = _await_commit(d.queries[fc.name], last_batch, timeout=120.0)
        lag = time.perf_counter() - t0
        if not res.check(commit is not None, f"epoch {e + 1} committed"):
            break
        e += 1
        lags.append(lag)
        last_batch = commit["batchId"]
        progress.append({"lag_s": lag, "durationMs": dict(commit["durationMs"])})
        model = models[e]
        qs = spark.createDataFrame([(0, t) for t in inp["queries"][e]],
                                   "query_id int, term string")
        with _span(ctx, "search_stream.read"):
            hits = search_t(lambda: bm25_topk_from_index(spark, sip, qs, k=10).collect())
        res.check(bool(hits) and all(r["doc_id"] in model.live for r in hits),
                  f"epoch {e}: BM25 hits are live")
        vq = spark.createDataFrame([(f"q{i}", v) for i, v in enumerate(inp["vectors"][e])],
                                   "vec_id string, embedding array<double>")
        with _span(ctx, "vector_stream.read"):
            near = vector_t(lambda: vector_topk_live(spark, vip, vq, k=10, nprobe=4).collect())
        res.check(_ann_ok(near, model), f"epoch {e}: ANN hits are live and embedded")
        for _ in range(SQL_REPEATS):
            with _span(ctx, "query.group_count"):
                got = sql_t(feed_counts)
            res.check(got == model.feed_counts(), f"epoch {e}: group_count(feedName)")
        rounds.append(time.perf_counter() - t0)
    if ctx.tracer:
        ctx.tracer.request = "final"

    # ---- end of run: the mirror equals the model and its layout is
    # sound; the traced run also checks the index twins (Daemon.fsck)
    final = models[e]
    d.stop_all()
    m = read_mirror(spark, mirror)
    row = m.agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32(F.concat(
        F.col("id"), F.lit("|"), F.get_json_object("doc", "$._rev")))).alias("ck")).first()
    res.check(row["n"] == len(final.live), "final mirror doc count")
    res.check(row["ck"] == final.checksum(), "final (id, _rev) checksum")
    if ctx.tracer:
        d.status()
        fsck = d.fsck()[fc.name]
    else:
        fsck = validate_mirror(spark, mirror)
    bad = _fsck_failures(fsck)
    res.check(not bad, f"fsck clean: {json.dumps(bad, default=str)[:600]}")
    state_bytes = _dir_bytes(data)

    res.metrics = {
        "setup_s": (setup_s, "s"),
        "load_docs_per_s": (size.docs / sync_s, "docs/s"),
        "round_s": (median(rounds), "s"),
        "search_p50_s": (median(search_t.samples), "s"),
        "sql_mean_s": (mean(sql_t.samples), "s"),
        "state_bytes_per_doc": (state_bytes / len(final.live), "B/doc"),
    }
    res.samples = {"setup_s": 3, "load_docs_per_s": 1, "round_s": len(rounds),
                   "search_p50_s": len(search_t.samples), "sql_mean_s": len(sql_t.samples)}
    res.notes.append(f"apply_lag_p50_s = {median(lags):.4f} s (n={len(lags)})")
    res.notes.append(f"vector_p50_s = {median(vector_t.samples):.4f} s "
                     f"(n={len(vector_t.samples)})")
    return res


def _ann_ok(hits, model: gen.Model) -> bool:
    """Every ANN neighbour is a live doc that carries an embedding; at
    most 10 neighbours per query, ranked 1..n."""
    if not hits:
        return False
    by_q: dict = {}
    for r in hits:
        doc = model.live.get(r["neighbor_id"])
        if doc is None or not doc[2]:
            return False
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    return all(sorted(rs) == list(range(1, len(rs) + 1)) and len(rs) <= 10
               for rs in by_q.values())


def _await_commit(q, last_batch: int, timeout: float):
    """The first progress record of a new batch that read input: the
    epoch's commit (idle triggers report no input rows)."""
    deadline = time.perf_counter() + timeout
    while time.perf_counter() < deadline:
        for p in q.recentProgress:
            if p["batchId"] > last_batch and p["numInputRows"] > 0:
                return p
        if not q.isActive:
            return None
        time.sleep(0.005)
    return None


def _fsck_failures(report: dict) -> dict:
    """The parts of an fsck report that are not ok (empty when clean). A
    part with ``ok`` None had nothing to check: the BM25 and shingle
    twins' fsck needs a compacted base, which no watchdog pass made."""
    bad = {k: v for k, v in report.items() if isinstance(v, dict) and v.get("ok") is False}
    if not report.get("ok"):
        bad["mirror"] = {k: v for k, v in report.items() if not isinstance(v, dict)}
    return bad


def _broken(m: gen.Model) -> gen.Model:
    """A deliberately wrong expectation: one live doc moved to another
    feed and given another revision."""
    live = dict(m.live)
    k = min(k for k in live if not k.startswith("_design/"))
    rev, feed, emb = live[k]
    live[k] = (rev + "x", (feed or "") + "-moved", emb)
    return gen.Model(live)


# -------------------------------------------------------------------- query

def query(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from couch_to_postgres_spark.extensions.search import bm25_topk_batch
    from couch_to_postgres_spark.functions.json import json_get
    from couch_to_postgres_spark.operators import query as Q
    from couch_to_postgres_spark.streaming.partitioned import (
        auto_num_buckets,
        point_lookup_partitioned,
        read_partitioned_mirror,
        write_partitioned_mirror,
    )

    size = SIZES[ctx.size][1]
    spark, res = ctx.spark, Result()
    (inp_dir, inp), gen_s = _setup_inputs(
        ctx, res,
        lambda d: gen.make_query_inputs(ctx.seed, d, size.docs, size.max_cycles + 1),
        "inputs")
    docs = inp["docs"]
    ids = sorted(docs)

    def lay_out(src: str, path: str, n: int) -> None:
        rows = spark.read.schema("id string, doc string").json(src)
        write_partitioned_mirror(rows, path, auto_num_buckets(n))

    class Mirror:
        """A laid-out mirror and the frames the mix reads from it."""

        def __init__(self, path: str):
            self.path = path
            self.df = read_partitioned_mirror(spark, path)
            self.corpus = self.df.select(F.col("id").alias("doc_id"),
                                         json_get("doc", "text").alias("text"))

    def sql(m: Mirror, family: str, doc_id: str):
        if family == "group_count":
            return _rows(Q.group_count(m.df, "feedName"))
        if family == "group_count_having":
            return _rows(Q.group_count_having(m.df, "feedName", oracle["having_min"]))
        if family == "key_expansion":
            return _rows(Q.key_expansion(m.df, "type"))
        if family == "flagship":
            return [tuple(r) for r in Q.flagship(m.df).collect()]
        if family == "filtered_subset":
            return _rows(Q.filtered_subset(m.df, "read", "false"))
        if family == "distinct_field":
            return _rows(Q.distinct_field(m.df, "type"))
        got = point_lookup_partitioned(spark, m.path, doc_id).collect()
        return [(r["id"], json.loads(r["doc"])) for r in got]

    def batch_table(cycle: int):
        return spark.createDataFrame(
            [(qi, t) for qi, ts in enumerate(inp["batch_queries"][cycle]) for t in ts],
            "query_id int, term string")

    oracle = _duckdb_oracle(inp["path"], ctx.break_model)

    def lay_out_timed(i: int) -> tuple[str, float]:
        path = os.path.join(ctx.work, f"mirror-{i}")
        os.sync()
        t0 = time.perf_counter()
        lay_out(inp["path"], path, len(docs))
        return path, time.perf_counter() - t0

    # warm-up, part of set-up: the first layout and the whole mix once
    # over it, so the timed calls do not pay the JVM's first Spark work,
    # each plan's first compilation or the Python workers' start
    t0 = time.perf_counter()
    warm = Mirror(lay_out_timed(0)[0])
    for family in SQL_FAMILIES:
        sql(warm, family, ids[0])
    bm25_topk_batch(warm.corpus, batch_table(0), k=10).collect()
    setup_s = ctx.spark_s + gen_s + time.perf_counter() - t0

    # the bulk load: two more layouts; their median is the load time
    layouts = [lay_out_timed(i) for i in (1, 2)]
    path = layouts[-1][0]
    m = Mirror(path)

    sql_times, batch_t, cycles = [], Timer(), []
    t_start = time.perf_counter()
    cycle = 0
    while cycle < size.max_cycles and (cycle == 0 or time.perf_counter() - t_start < ctx.seconds):
        t_cycle = time.perf_counter()
        doc_id = ids[(cycle * 7919) % len(ids)]
        for family in SQL_FAMILIES:
            if ctx.tracer:
                ctx.tracer.request = f"{family}-{cycle}"
            with _span(ctx, f"query.{family}"):
                t0 = time.perf_counter()
                got = sql(m, family, doc_id)
                sql_times.append(time.perf_counter() - t0)
            want = ([(doc_id, docs[doc_id])] if family == "point_lookup_partitioned"
                    else oracle[family])
            res.check(got == want, f"cycle {cycle}: {family} equals the oracle")
        qtab = batch_table(cycle + 1)
        if ctx.tracer:
            ctx.tracer.request = f"batch-{cycle}"
        with _span(ctx, "search.batch"):
            hits = batch_t(lambda: bm25_topk_batch(m.corpus, qtab, k=10).collect())
        res.check(_hits_ok(hits, docs, inp["batch_queries"][cycle + 1]),
                  f"cycle {cycle}: bm25_topk_batch hits")
        cycles.append(time.perf_counter() - t_cycle)
        cycle += 1

    res.metrics = {
        "setup_s": (setup_s, "s"),
        "load_docs_per_s": (len(docs) / median(t for _, t in layouts), "docs/s"),
        "round_s": (median(cycles), "s"),
        "search_p50_s": (median(batch_t.samples), "s"),
        "sql_mean_s": (mean(sql_times), "s"),
        "state_bytes_per_doc": (_dir_bytes(path) / len(docs), "B/doc"),
    }
    res.samples = {"setup_s": 3, "load_docs_per_s": len(layouts), "round_s": len(cycles),
                   "search_p50_s": len(batch_t.samples), "sql_mean_s": len(sql_times)}
    res.notes.append(f"{cycle} cycles over {len(docs)} docs; layouts "
                     + ", ".join(f"{t:.2f}" for _, t in layouts) + " s")
    return res


def _rows(df) -> set:
    return {tuple(r) for r in df.collect()}


def _hits_ok(hits, docs: dict, queries: list) -> bool:
    """Every hit is a real doc whose text holds one of its query's terms;
    at most 10 hits per query, ranked 1..n."""
    if not hits:
        return False
    by_q: dict = {}
    for r in hits:
        qi = r["query_id"]
        by_q.setdefault(qi, []).append(r)
        doc = docs.get(r["doc_id"])
        if doc is None or not set(queries[qi]) & set((doc.get("text") or "").split(" ")):
            return False
    return all(sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
               and len(rs) <= 10 for rs in by_q.values())


def _duckdb_oracle(path: str, broken: bool) -> dict:
    """Expected results of the SQL mix, computed by DuckDB over the
    generated JSON-lines rows."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE m AS SELECT * FROM read_json(?, format='newline_delimited', "
            "columns={'id': 'VARCHAR', 'doc': 'VARCHAR'})", [path])
        get = "json_extract_string(doc, '$.{}')"
        counts = con.execute(
            f"SELECT {get.format('feedName')} k, count(*) FROM m GROUP BY 1").fetchall()
        values = sorted(v for _, v in counts)
        having_min = values[len(values) // 2]
        out = {
            "having_min": having_min,
            "group_count": set(counts),
            "group_count_having": {r for r in counts if r[1] > having_min},
            "key_expansion": set(con.execute(
                f"SELECT DISTINCT {get.format('type')}, unnest(json_keys(doc)) FROM m"
            ).fetchall()),
            "flagship": [tuple(r) for r in con.execute(
                f"SELECT id, {get.format('n_chars')} t, CAST(t AS DOUBLE) n FROM m "
                "WHERE id LIKE '1%' AND CAST(t AS DOUBLE) > 50 ORDER BY n, id").fetchall()],
            "filtered_subset": set(con.execute(
                f"SELECT id, {get.format('read')} FROM m WHERE {get.format('read')} = 'false'"
            ).fetchall()),
            "distinct_field": set(con.execute(
                f"SELECT DISTINCT {get.format('type')} FROM m").fetchall()),
        }
    finally:
        con.close()
    if broken:
        out["group_count"] = {(k, v + 1) for k, v in out["group_count"]}
    return out
