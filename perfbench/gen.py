"""Seeded input generator for the benchmark: an articles-shaped CouchDB
corpus (FIXTURES.md section 5) written as JSON-lines change-log files,
plus a model of the expected live state after every step.

Plain Python only: the engine sees nothing but the files written here.
The same seed gives byte-identical files; every random draw comes from
one ``random.Random(seed)``.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import random
import zlib
from dataclasses import dataclass, field

TYPES = ("article", "comment", "feed")
TYPE_WEIGHTS = (0.6, 0.3, 0.1)
LANGS = ("en", "de", "fr", "es")
TAGS = ("news", "tech", "sport", "music", "film", "books", "travel", "food")
N_FEEDS = 40
VOCAB = 3000
DIM = 16
N_CENTERS = 8
HOT_RANKS = 1000
QUERY_BANDS = ((20, 40), (60, 120), (150, 300))  # vocabulary rank ranges
DESIGN_ID = "_design/articles"


def _zipf_cum(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        out.append(acc)
    return out


@dataclass
class Model:
    """Expected live state: id -> (rev, feedName, has_embedding)."""

    live: dict[str, tuple[str, str, bool]] = field(default_factory=dict)

    def apply(self, change: dict) -> None:
        if change["deleted"]:
            self.live.pop(change["id"], None)
        else:
            d = json.loads(change["doc"])
            self.live[d["_id"]] = (d["_rev"], d.get("feedName"), "embedding" in d)

    def feed_counts(self) -> dict:
        out: dict = {}
        for _, feed, _ in self.live.values():
            out[feed] = out.get(feed, 0) + 1
        return out

    def checksum(self) -> int:
        """Order-independent (id, _rev) checksum: sum of crc32(id|rev),
        the same value Spark's ``sum(crc32(...))`` gives."""
        return sum(
            zlib.crc32(f"{i}|{rev}".encode()) for i, (rev, _, _) in self.live.items()
        )


class Generator:
    """Draws docs and change batches from one seeded RNG."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seq = 0
        letters = "abcdefghijklmnopqrstuvwxyz"
        words: set = set()
        while len(words) < VOCAB:
            n = self.rng.randint(3, 9)
            words.add("".join(self.rng.choice(letters) for _ in range(n)))
        self.vocab = sorted(words)
        self.rng.shuffle(self.vocab)
        self.word_cum = _zipf_cum(VOCAB, 1.05)
        self.feeds = [f"feed-{i:02d}" for i in range(N_FEEDS)]
        self.feed_cum = _zipf_cum(N_FEEDS, 1.2)
        self.hot_cum = _zipf_cum(HOT_RANKS, 1.1)
        self.centers = [self._unit([self.rng.gauss(0, 1) for _ in range(DIM)])
                        for _ in range(N_CENTERS)]
        self.model = Model()
        self.live_ids: list[str] = []  # updatable ids (the design doc is not)
        self.pos: dict[str, int] = {}
        self.revs: dict[str, int] = {}

    @staticmethod
    def _unit(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [round(x / n, 6) for x in v]

    def words(self, n: int) -> list[str]:
        return self.rng.choices(self.vocab, cum_weights=self.word_cum, k=n)

    def query_terms(self) -> list[str]:
        """Three terms, one from each of three fixed frequency-rank bands,
        so every query hits some docs but not most of them, and every
        seed's queries cost about the same."""
        return [self.rng.choice(self.vocab[lo:hi]) for lo, hi in QUERY_BANDS]

    def vector(self) -> list[float]:
        c = self.rng.choice(self.centers)
        return self._unit([x + self.rng.gauss(0, 0.35) for x in c])

    def _new_id(self) -> str:
        while True:
            i = f"{self.rng.getrandbits(128):032x}"
            if i not in self.revs:
                return i

    def _doc(self, doc_id: str, rev_n: int, embed: bool) -> dict:
        t = self.rng.choices(TYPES, weights=TYPE_WEIGHTS)[0]
        text = " ".join(self.words(self.rng.randint(20, 60)))
        doc = {
            "_id": doc_id,
            "_rev": f"{rev_n}-{self.rng.getrandbits(64):016x}",
            "type": t,
            "feedName": self.rng.choices(self.feeds, cum_weights=self.feed_cum)[0],
            "read": "false" if self.rng.random() < 0.1 else "true",
            "lang": self.rng.choice(LANGS),
            "n_chars": len(text),
            "text": text,
        }
        k = self.rng.randint(0, 3)
        if k:
            doc["tags"] = self.rng.sample(TAGS, k)
        if t == "article":
            doc["title"] = " ".join(self.words(4))
        elif t == "comment":
            doc["parent"] = self.rng.choice(self.live_ids) if self.live_ids else doc_id
        else:
            doc["url"] = f"http://example.org/{doc_id[:8]}"
        if embed:
            doc["embedding"] = self.vector()
        return doc

    def _emit(self, doc_id: str, doc: dict | None) -> dict:
        self.seq += 1
        ch = {
            "seq": self.seq,
            "id": doc_id,
            "deleted": doc is None,
            "doc": None if doc is None else json.dumps(doc, separators=(",", ":")),
        }
        self.model.apply(ch)
        return ch

    def _add_live(self, doc_id: str) -> None:
        self.pos[doc_id] = len(self.live_ids)
        self.live_ids.append(doc_id)

    def _drop_live(self, doc_id: str) -> None:
        i = self.pos.pop(doc_id)
        last = self.live_ids.pop()
        if last != doc_id:
            self.live_ids[i] = last
            self.pos[last] = i

    def insert(self, embed: bool | None = None) -> dict:
        """A new doc; embedded on a 1-in-16 draw unless ``embed`` says."""
        doc_id = self._new_id()
        self.revs[doc_id] = 1
        if embed is None:
            embed = self.rng.random() < 1 / 16
        ch = self._emit(doc_id, self._doc(doc_id, 1, embed))
        self._add_live(doc_id)
        return ch

    def corpus(self, n: int) -> list[dict]:
        """The backlog: one design doc plus ``n - 1`` inserts, every 16th
        of them embedded, so every seed's backlog holds the same number
        of vectors (enough to train the vector twin's quantizer)."""
        self.revs[DESIGN_ID] = 1
        design = {"_id": DESIGN_ID, "_rev": "1-0", "read": "false",
                  "views": {"by_feed": {"map": "function(d){emit(d.feedName,1)}"}}}
        return [self._emit(DESIGN_ID, design)] + [self.insert(i % 16 == 0)
                                                   for i in range(n - 1)]

    def churn(self, n: int) -> list[dict]:
        """One change batch: 80% updates (Zipf-skewed over live ids; an
        update re-draws the embedding flag, so some drop or gain one),
        10% deletes, 10% inserts."""
        out = []
        for _ in range(n):
            r = self.rng.random()
            if r < 0.8 and self.live_ids:
                k = len(self.live_ids)
                rank = bisect.bisect_left(
                    self.hot_cum, self.rng.random() * self.hot_cum[-1]
                )
                doc_id = self.live_ids[rank * k // HOT_RANKS]
                self.revs[doc_id] += 1
                had = self.model.live[doc_id][2]
                embed = (not had) if self.rng.random() < 0.1 else had
                out.append(self._emit(doc_id, self._doc(doc_id, self.revs[doc_id], embed)))
            elif r < 0.9 and self.live_ids:
                doc_id = self.live_ids[self.rng.randrange(len(self.live_ids))]
                self._drop_live(doc_id)
                out.append(self._emit(doc_id, None))
            else:
                out.append(self.insert())
        return out


def write_changes(path: str, changes: list[dict]) -> None:
    """One JSON-lines change-log file (the file source's input shape)."""
    with open(path, "w") as f:
        for ch in changes:
            f.write(json.dumps(ch, separators=(",", ":")))
            f.write("\n")


def write_mirror_rows(path: str, changes: list[dict]) -> None:
    """JSON-lines ``(id, doc)`` rows of the live docs, for a bulk layout."""
    with open(path, "w") as f:
        for ch in changes:
            if not ch["deleted"]:
                f.write(json.dumps({"id": ch["id"], "doc": ch["doc"]},
                                   separators=(",", ":")))
                f.write("\n")


def docs_of(changes: list[dict]) -> dict[str, dict]:
    """Latest live doc per id (for text and field checks)."""
    out: dict = {}
    for ch in changes:
        if ch["deleted"]:
            out.pop(ch["id"], None)
        else:
            out[ch["id"]] = json.loads(ch["doc"])
    return out


def make_replicate_inputs(seed: int, out_dir: str, n_docs: int,
                          n_epochs: int, per_epoch: int) -> dict:
    """Backlog file plus ``n_epochs`` staged churn files (not yet visible
    to the feed: they sit in ``staged/`` until published by rename), the
    model snapshot after the backlog and after each epoch, and per epoch
    the BM25 query terms and four ANN query vectors."""
    g = Generator(seed)
    os.makedirs(os.path.join(out_dir, "log"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "staged"), exist_ok=True)
    write_changes(os.path.join(out_dir, "log", "part-00000.json"), g.corpus(n_docs))
    models = [_snapshot(g.model)]
    files = []
    for e in range(n_epochs):
        p = os.path.join(out_dir, "staged", f"part-{e + 1:05d}.json")
        write_changes(p, g.churn(per_epoch))
        files.append(p)
        models.append(_snapshot(g.model))
    queries = [g.query_terms() for _ in range(n_epochs + 1)]
    vectors = [[g.vector() for _ in range(4)] for _ in range(n_epochs + 1)]
    return {"files": files, "models": models, "queries": queries, "vectors": vectors}


def _snapshot(m: Model) -> Model:
    return Model(dict(m.live))


def make_query_inputs(seed: int, out_dir: str, n_docs: int, n_queries: int) -> dict:
    """Mirror rows for a bulk layout, the live docs, and per cycle a
    batch of 20 three-term queries."""
    g = Generator(seed)
    os.makedirs(out_dir, exist_ok=True)
    changes = g.corpus(n_docs)
    path = os.path.join(out_dir, "mirror.json")
    write_mirror_rows(path, changes)
    return {
        "path": path,
        "docs": docs_of(changes),
        "batch_queries": [[g.query_terms() for _ in range(20)] for _ in range(n_queries)],
    }
