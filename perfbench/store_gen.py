"""Seeded CDC stream for the ``store_lifecycle`` workload.

The initial load matches the sf0.1 ``documents`` table as measured
(``pyarrow.parquet.read_table("<sf0.1>/documents.parquet")``): 5,000
documents; texts of 10 to 100 tokens (uniform, mean 54) drawn uniformly
from 30 words; 250 near-duplicates, each an earlier text with the token
``dup`` appended; 8 exact copies, so 4,992 distinct texts. The stream
then applies CDC batches: every batch adds new documents (with the same
shares of near-duplicates and exact copies), deletes live ones and
re-indexes some (a delete and an add of the same id in one batch). Each
batch also carries a probe set for the novelty serve: copies of live
documents and fresh ones.

The batch sizes are this benchmark's choice, not a measured rate: a
batch changes about 4% of the corpus, enough that every commit writes
a real delta and that two segments per store fold every other batch.

``LiveModel`` replays the stream in Python and knows, after every batch,
which documents survive and with what text.
"""

from __future__ import annotations

import math
import os
import random
from collections import Counter

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

N_INITIAL, INITIAL_NEAR_DUPS, INITIAL_COPIES = 5000, 250, 8
#: per CDC batch; NEAR_DUPS and COPIES are part of ADDS
ADDS, NEAR_DUPS, COPIES, DELETES, READDS = 150, 8, 10, 40, 15
N_PROBE, PROBE_COPIES = 24, 8
SERVES = 3                  # BM25 serves per batch, two terms each


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))


def generate(seed: int, n_batches: int) -> list[dict]:
    """Batches 0..n_batches-1, each {"rows": [(doc_id, text, op)],
    "probe": [(doc_id, text)], "terms": [[term, ...], ...]}. Batch 0 is
    the initial load."""
    rng = random.Random(seed)
    live: dict[int, str] = {}
    next_id = 0
    batches = []
    for b in range(n_batches):
        rows = []
        if b == 0:
            adds, near, copies = N_INITIAL, INITIAL_NEAR_DUPS, INITIAL_COPIES
        else:
            adds, near, copies = ADDS, NEAR_DUPS, COPIES
            ids = sorted(live)
            for d in rng.sample(ids, DELETES + READDS)[:DELETES]:
                rows.append((d, None, "delete"))
                del live[d]
            for d in rng.sample(sorted(live), READDS):
                rows.append((d, None, "delete"))
                live[d] = _text(rng)
                rows.append((d, live[d], "add"))
        fresh = [_text(rng) for _ in range(adds - near - copies)]
        pool = sorted(live.values()) + fresh
        sources = rng.sample(pool, near + copies)
        texts = (fresh + [t + " dup" for t in sources[:near]]
                 + sources[near:])
        for text in texts:
            live[next_id] = text
            rows.append((next_id, text, "add"))
            next_id += 1
        probe_ids = range(10_000_000 + b * 1000,
                          10_000_000 + b * 1000 + N_PROBE)
        copies = rng.sample(sorted(live), PROBE_COPIES)
        probe = [(pid, live[copies[i]] if i < PROBE_COPIES else _text(rng))
                 for i, pid in enumerate(probe_ids)]
        terms = [rng.sample(VOCAB, 2) for _ in range(SERVES)]
        batches.append({"rows": rows, "probe": probe, "terms": terms,
                        "copies": set(probe_ids[:PROBE_COPIES])})
    return batches


def write_batches(batches: list[dict], out_dir: str) -> None:
    """``batch-<b>.parquet`` (doc_id, text, op) and ``probe-<b>.parquet``
    (doc_id, text) per batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for b, batch in enumerate(batches):
        ids, texts, ops = zip(*batch["rows"])
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string()),
                                 "op": pa.array(ops, pa.string())}),
                       os.path.join(out_dir, f"batch-{b}.parquet"))
        pids, ptexts = zip(*batch["probe"])
        pq.write_table(pa.table({"doc_id": pa.array(pids, pa.int64()),
                                 "text": pa.array(ptexts, pa.string())}),
                       os.path.join(out_dir, f"probe-{b}.parquet"))


class LiveModel:
    """The surviving documents after each applied batch (deletes apply
    before adds, as the stores apply them), and a Python twin of the
    engine's BM25 scorer over them."""

    K1, B = 1.2, 0.75

    def __init__(self) -> None:
        self.live: dict[int, str] = {}
        self.tf: dict[int, Counter] = {}
        self.user_bytes_added = 0

    def apply(self, batch: dict) -> None:
        for d, _t, op in batch["rows"]:
            if op == "delete":
                self.live.pop(d, None)
                self.tf.pop(d, None)
        for d, t, op in batch["rows"]:
            if op == "add":
                self.live[d] = t
                self.tf[d] = Counter(t.lower().split(" "))
                self.user_bytes_added += len(t.encode())

    def live_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.live.values())

    def postings(self) -> set[tuple[int, str, int, int]]:
        """(doc_id, term, tf, dl) of a full rebuild over the survivors."""
        out = set()
        for d, counts in self.tf.items():
            dl = sum(counts.values())
            out.update((d, term, n, dl) for term, n in counts.items())
        return out

    def stats(self) -> tuple[int, float]:
        n = len(self.tf)
        return n, sum(sum(c.values()) for c in self.tf.values()) / n

    def bm25_nano(self, terms: list[str]) -> dict[int, int]:
        """doc_id -> summed nano-integer BM25 score, for every live
        document holding a query term (the engine's formula)."""
        n, avgdl = self.stats()
        terms = sorted(set(t.lower() for t in terms))
        df = {t: sum(1 for c in self.tf.values() if t in c) for t in terms}
        out: dict[int, int] = {}
        for d, counts in self.tf.items():
            dl = sum(counts.values())
            for t in terms:
                tf = counts.get(t, 0)
                if not tf:
                    continue
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s = idf * (tf * (self.K1 + 1.0)) / (
                    tf + self.K1 * ((1.0 - self.B) + self.B * dl / avgdl))
                out[d] = out.get(d, 0) + math.floor(s * 1e9 + 0.5)
        return out
