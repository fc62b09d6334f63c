"""The shared epoch function (streaming/pipeline._run_epoch): the mirror
merge and the three index-twin feeds of one micro-batch run at the
same time, inherit the stream's Spark context, fail only after every
step has returned, recover by checkpoint replay, and report per-step
wall times as the daemon's ``last_epoch``."""

import json
import os
import threading
import time
import urllib.request

import pytest
from pyspark.errors import StreamingQueryException

from couch_to_postgres_spark.streaming import partitioned, pipeline
from couch_to_postgres_spark.streaming.daemon import (
    Daemon,
    FeedConfig,
    save_registry,
    serve_control_plane,
)
from couch_to_postgres_spark.streaming.pipeline import follow, read_mirror

STEPS = ("mirror", "search", "shingle", "vector")
WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()


def _doc(i: int, rev: str, embed: bool = True) -> dict:
    doc = {"_id": str(i), "_rev": rev,
           "title": " ".join(WORDS[(i + k) % len(WORDS)] for k in range(3))}
    if embed:
        doc["embedding"] = [float(i % 3), float(i % 5), 1.0 + i % 2]
    return doc


def _epochs() -> list[list[dict]]:
    """Two epochs of changes: a 12-doc load, then updates (ids 1-4, id 7
    losing its embedding), deletes (5, 6) and inserts (13-16)."""
    load = [(i, str(i), False, _doc(i, "1-a")) for i in range(1, 13)]
    churn = [(100 + i, str(i), False, _doc(i + 20, "2-b")) for i in range(1, 5)]
    churn.append((107, "7", False, _doc(7, "2-b", embed=False)))
    churn += [(100 + i, str(i), True, None) for i in (5, 6)]
    churn += [(100 + i, str(i), False, _doc(i, "1-a")) for i in range(13, 17)]
    return [load, churn]


def _write_log(log: str) -> None:
    os.makedirs(log)
    for n, rows in enumerate(_epochs()):
        p = os.path.join(log, f"part-{n:04d}.json")
        with open(p, "w") as f:
            for seq, id_, deleted, doc in rows:
                f.write(json.dumps({"seq": seq, "id": id_, "deleted": deleted,
                                    "doc": None if doc is None else json.dumps(doc)}))
                f.write("\n")
        os.utime(p, (1_000_000 + n, 1_000_000 + n))  # epoch order = file order


def _follow(spark, root: str):
    return follow(
        spark, f"{root}/log", f"{root}/mirror", f"{root}/ckpt",
        max_files_per_trigger=1,
        search_index_path=f"{root}/search",
        shingle_index_path=f"{root}/shingle",
        vector_index_path=f"{root}/vector",
        vector_cells=4,
    )


def test_epoch_steps_overlap_and_inherit_stream_context(spark, tmp_path, monkeypatch):
    """The four sink steps of one epoch run concurrently: each spy waits
    on one barrier, which passes only if all four are in flight at once
    (a serial epoch breaks it after the timeout). Each step's thread
    carries the stream's job group (its run id) and query id."""
    barrier = threading.Barrier(len(STEPS), timeout=60)
    seen: dict = {}

    def spy(name):
        def step(*args, **kwargs):
            sc = spark.sparkContext
            seen[name] = (sc.getLocalProperty("spark.jobGroup.id"),
                          sc.getLocalProperty("sql.streaming.queryId"))
            barrier.wait()
        return step

    monkeypatch.setattr(partitioned, "upsert_partitioned_mirror", spy("mirror"))
    for name in STEPS[1:]:
        monkeypatch.setattr(pipeline, f"_feed_{name}_index", spy(name))
    root = str(tmp_path)
    _write_log(f"{root}/log")
    q = _follow(spark, root)
    assert q.awaitTermination(180)
    assert q.exception() is None
    assert seen == {name: (q.runId, q.id) for name in STEPS}


def _state(spark, root: str) -> dict:
    """Everything a reader can see of the mirror and its three twins."""
    from couch_to_postgres_spark.streaming.search_stream import (
        live_doclen,
        live_postings,
    )
    from couch_to_postgres_spark.streaming.vector_stream import (
        live_vector_ids,
        vector_index_status,
        vector_topk_live,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    vq = spark.createDataFrame([("q", [1.0, 2.0, 1.0])],
                               "vec_id string, embedding array<double>")
    vst = vector_index_status(spark, f"{root}/vector")
    return {
        "mirror": rows(read_mirror(spark, f"{root}/mirror")),
        "search": rows(live_postings(spark, f"{root}/search")),
        "search_dl": rows(live_doclen(spark, f"{root}/search")),
        "shingle": rows(live_postings(spark, f"{root}/shingle")),
        "vector": rows(live_vector_ids(spark, f"{root}/vector")),
        "vector_cells": vst["n_cells"],
        # every cell probed: exact top-k, whatever the trained centroids
        "ann": rows(vector_topk_live(spark, f"{root}/vector", vq, k=5,
                                     nprobe=vst["n_cells"])
                    .select("neighbor_id", "rank")),
    }


def test_failed_step_raises_after_siblings_and_replay_converges(spark, tmp_path, monkeypatch):
    """A shingle feed that fails once, in the churn epoch: the epoch
    raises only after the mirror, search and vector steps returned; a
    restart from the checkpoint replays the epoch and leaves the mirror
    and all three twins equal to an uncrashed run, the mirror fsck
    clean, and no staging or pending dir behind."""
    from couch_to_postgres_spark.streaming.partitioned import validate_mirror
    from couch_to_postgres_spark.streaming.vector_stream import vector_index_fsck

    ref, crash = str(tmp_path / "ref"), str(tmp_path / "crash")
    for root in (ref, crash):
        _write_log(f"{root}/log")
    q = _follow(spark, ref)
    assert q.awaitTermination(300)
    assert q.exception() is None
    want = _state(spark, ref)
    assert want["vector_cells"] == 4 and len(want["mirror"]) == 14

    ended: dict = {name: [] for name in ("mirror", "search", "vector")}
    failed: dict = {}
    calls = {"shingle": 0}
    real_shingle = pipeline._feed_shingle_index
    real_epoch = pipeline._run_epoch

    def slow(name, fn):
        # a sibling that is still writing when the shingle step fails
        def step(*args, **kwargs):
            out = fn(*args, **kwargs)
            time.sleep(1.0)
            ended[name].append(time.monotonic())
            return out
        return step

    def flaky_shingle(*args, **kwargs):
        calls["shingle"] += 1
        if calls["shingle"] == 2:  # the churn epoch, first attempt
            failed["shingle"] = time.monotonic()
            raise RuntimeError("injected shingle failure")
        return real_shingle(*args, **kwargs)

    def epoch(feed, batch, epoch_id, split=None):
        try:
            real_epoch(feed, batch, epoch_id, split)
        except Exception:
            failed["epoch"] = time.monotonic()
            raise

    monkeypatch.setattr(partitioned, "upsert_partitioned_mirror",
                        slow("mirror", partitioned.upsert_partitioned_mirror))
    monkeypatch.setattr(pipeline, "_feed_search_index",
                        slow("search", pipeline._feed_search_index))
    monkeypatch.setattr(pipeline, "_feed_vector_index",
                        slow("vector", pipeline._feed_vector_index))
    monkeypatch.setattr(pipeline, "_feed_shingle_index", flaky_shingle)
    monkeypatch.setattr(pipeline, "_run_epoch", epoch)

    q = _follow(spark, crash)
    with pytest.raises(StreamingQueryException, match="injected shingle failure"):
        q.awaitTermination(300)
    # each sibling ran in the failed epoch and returned before it raised
    # (a sibling still running when the epoch raised would end later:
    # wait for those ends before comparing)
    def after_failure():
        return [t for ts in ended.values() for t in ts if t > failed["shingle"]]

    deadline = time.monotonic() + 30
    while len(after_failure()) < len(ended) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert all(len([t for t in ts if t > failed["shingle"]]) == 1 for ts in ended.values())
    assert failed["epoch"] >= max(after_failure())

    q = _follow(spark, crash)  # restart from the checkpoint: replays the epoch
    assert q.awaitTermination(300)
    assert q.exception() is None
    assert calls["shingle"] == 3
    assert _state(spark, crash) == want
    assert validate_mirror(spark, f"{crash}/mirror")["ok"]
    assert vector_index_fsck(spark, f"{crash}/vector")["ok"] is not False
    leaks = [os.path.join(d, n) for d, dirs, _ in os.walk(crash) for n in dirs
             if n.endswith(".staging") or n == "pending"]
    assert leaks == []


def test_daemon_status_reports_last_epoch_over_http(spark, tmp_path):
    """``/_status`` carries each feed's last epoch: its batch id, wall
    time and every sink step's wall time (no step outlasts the epoch)."""
    root = str(tmp_path)
    _write_log(f"{root}/log")
    save_registry(f"{root}/registry.json", [FeedConfig(
        name="articles", changes_path=f"{root}/log", search_index=True,
        shingle_index=True, vector_index=True, vector_cells=4,
    )])
    d = Daemon(spark, f"{root}/registry.json", f"{root}/data")
    d.find_feeds()
    d.await_all()
    server, port = serve_control_plane(d)
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/_status") as r:
            st = json.loads(r.read())["articles"]
    finally:
        server.shutdown()
        d.stop_all()
    last = st["last_epoch"]
    assert last["batch_id"] == st["last_progress"]["batchId"]
    assert set(last["steps_s"]) == set(STEPS)
    assert 0 < max(last["steps_s"].values()) <= last["wall_s"]
