"""``store_lifecycle`` workload: a seeded CDC stream committed batch by
batch to a term store (``index_refresh_batches``) and a band store
(``band_refresh_batches``), each with a small ``max_segments`` so
compaction folds recur. After every batch, three BM25 serves
(``load_term_index`` + ``bm25_rank_indexed``) and one novelty serve
(``load_band_index(layout="postings")`` + ``novel_documents``) run off
the maintained stores. The last batch of the warm-up and of every timed
phase cuts a release (``export_release``, then ``gc_releases``).

Every BM25 serve is checked against ``LiveModel``'s Python twin of the
scorer, every novelty serve for its ids and for exact copies of live
text being flagged. At each release cut the serves must also equal the
batch operators over the survivor set (``bm25_rank``, and the LSH rule
over ``minhash_bands``). At the end both stores are reopened from disk
and compared with a rebuild over the survivors (the durability check).
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench import harness
from perfbench.store_gen import SERVES, LiveModel, generate, write_batches

MAX_SEGMENTS = 2
WARMUP_BATCHES = 3          # initial load, a delta, the first fold
BATCH_SECONDS = 10          # one batch of work per ten --seconds


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _segments(index_dir: str) -> list[str]:
    with open(os.path.join(index_dir, "CURRENT")) as f:
        version = f.read().strip()
    with open(os.path.join(index_dir, version, "manifest.json")) as f:
        return [s["name"] for s in json.load(f)["segments"]]


# --------------------------------------------------------------------------
# verification (pure functions: the planted-failure tests call these)
# --------------------------------------------------------------------------

def check_bm25(rows: list[tuple[int, int]], k: int, model: LiveModel,
               terms: list[str]) -> bool:
    """A served BM25 page (doc_id, score_nano) against the Python twin:
    same size, every score equal up to one nano-unit per term (the two
    logarithms may differ in the last bit), best first with ids breaking
    ties, and exactly the top k up to such near-ties."""
    want = model.bm25_nano(terms)
    tol = len(set(terms))
    if len(rows) != min(k, len(want)):
        return False
    if any(d not in want or abs(want[d] - s) > tol for d, s in rows):
        return False
    if rows != sorted(rows, key=lambda r: (-r[1], r[0])):
        return False
    if not rows:
        return True
    kth = sorted(want.values(), reverse=True)[len(rows) - 1]
    served = {d for d, _s in rows}
    return (all(want[d] >= kth - tol for d in served)
            and all(d in served for d, s in want.items() if s > kth + tol))


def check_commit(index_dir: str, b: int, n_live: int | None) -> bool:
    """The pointer names this batch's version; a term store's manifest
    counts exactly the live documents."""
    with open(os.path.join(index_dir, "CURRENT")) as f:
        version = f.read().strip()
    if version != f"v{b:08d}":
        return False
    if n_live is None:
        return True
    with open(os.path.join(index_dir, version, "manifest.json")) as f:
        return int(json.load(f)["n_docs"]) == n_live


def check_novelty(rows: list[tuple[int, bool]], probe_ids: list[int],
                  copies: set[int]) -> bool:
    """Every probe answered once; exact copies of live text never novel."""
    return (sorted(d for d, _n in rows) == sorted(probe_ids)
            and not any(n for d, n in rows if d in copies))


class Stores:
    """The two maintained stores, the release root and the op runner."""

    K = 10

    def __init__(self, spark, work: harness.WorkDir, data_dir: str,
                 batches: list[dict], tracer: harness.Tracer) -> None:
        from tantalus_spark.streaming.maintenance import (
            band_refresh_batches, index_refresh_batches)

        self.spark, self.data, self.batches = spark, data_dir, batches
        self.tracer = tracer
        self.terms_dir = os.path.join(work.path, "stores", "terms")
        self.bands_dir = os.path.join(work.path, "stores", "bands")
        self.release_dir = os.path.join(work.path, "stores", "releases")
        self.commit = {
            "term": index_refresh_batches(self.terms_dir, op_col="op",
                                          max_segments=MAX_SEGMENTS),
            "band": band_refresh_batches(self.bands_dir, op_col="op",
                                         max_segments=MAX_SEGMENTS),
        }
        self.model = LiveModel()
        self.next_batch = 0
        self.records: list[dict] = []
        self.op = 0
        self.written_bytes = 0
        self.bands: dict[int, list[int]] = {}

    def _record(self, cls: str, name: str, t0: float, lat: float, ok: bool,
                **extra) -> None:
        self.records.append({"op": self.op, "cls": cls, "kind": name,
                             "t0": t0, "t1": time.time(), "lat": lat,
                             "ok": ok, **extra})
        self.op += 1
        print(f"{name} {lat * 1000:.0f} ms{'' if ok else ' FAILED'}",
              file=sys.stderr, flush=True)

    def _timed(self, fn):
        self.tracer.op = self.op
        t0 = time.time()
        p0 = time.perf_counter()
        out = fn()
        return out, t0, time.perf_counter() - p0

    # -- operations -----------------------------------------------------
    def run_batch(self, serves: int = SERVES) -> None:
        """Commit the next batch to both stores, then ``serves`` BM25
        serves and one novelty serve off them (none with ``serves=0``)."""
        b = self.next_batch
        batch = self.batches[b]
        path = os.path.join(self.data, f"batch-{b}.parquet")
        self.model.apply(batch)
        for family, root in (("term", self.terms_dir),
                             ("band", self.bands_dir)):
            before = _files(root) if os.path.isdir(root) else {}
            segs = _segments(root) if before else []
            df = self.spark.read.parquet(path)
            _, t0, lat = self._timed(lambda: self.commit[family](df, b))
            after = _files(root)
            self.written_bytes += sum(size for p, size in after.items()
                                      if p not in before)
            self._record("write", f"commit:{family}", t0, lat,
                         check_commit(root, b, len(self.model.live)
                                      if family == "term" else None),
                         folded=bool(set(segs) - set(_segments(root))))
        for terms in batch["terms"][:serves]:
            self.serve_bm25(b, terms)
        if serves:
            self.serve_novelty(b, [d for d, _t in batch["probe"]],
                               batch["copies"])
        self.next_batch += 1

    def serve_bm25(self, b: int, terms: list[str]
                   ) -> list[tuple[int, int]]:
        from tantalus_spark.datapipe.textstats import bm25_rank_indexed
        from tantalus_spark.streaming.maintenance import load_term_index

        def serve():
            with self.tracer.span("maintenance.load"):
                postings, (n, avgdl) = load_term_index(self.spark,
                                                       self.terms_dir)
            with self.tracer.span("datapipe.serve"):
                return [(r["doc_id"], r["score_nano"])
                        for r in bm25_rank_indexed(
                            postings, terms, k=self.K, n_docs=n,
                            avgdl=avgdl).collect()]

        rows, t0, lat = self._timed(serve)
        self._record("read", "serve:bm25", t0, lat,
                     check_bm25(rows, self.K, self.model, terms),
                     batch=b, terms=terms, rows=rows)
        return rows

    def serve_novelty(self, b: int, probe_ids: list[int],
                      copies: set[int]) -> list[tuple[int, bool]]:
        from tantalus_spark.datapipe.dedup import novel_documents
        from tantalus_spark.streaming.maintenance import load_band_index

        probe = self.spark.read.parquet(
            os.path.join(self.data, f"probe-{b}.parquet"))

        def serve():
            with self.tracer.span("maintenance.load"):
                postings = load_band_index(self.spark, self.bands_dir,
                                           layout="postings")
            with self.tracer.span("datapipe.serve"):
                return [(r["doc_id"], r["is_novel"]) for r in novel_documents(
                    probe, postings, index_layout="postings").collect()]

        rows, t0, lat = self._timed(serve)
        self._record("read", "serve:novelty", t0, lat,
                     check_novelty(rows, probe_ids, copies), batch=b,
                     rows=rows)
        return rows

    def release(self, verify: bool) -> None:
        """Cut a release of both stores at the last committed batch."""
        from tantalus_spark.streaming.maintenance import (
            export_release, gc_releases)

        b = self.next_batch - 1
        stores = {"terms": ("term", self.terms_dir),
                  "bands": ("bands", self.bands_dir)}

        def cut():
            release = export_release(self.spark, stores, self.release_dir)
            gc_releases(self.release_dir, keep_releases=2)
            return release

        release, t0, lat = self._timed(cut)
        self._record("export", "export_release", t0, lat,
                     release["batch_id"] == b)
        if verify:
            self.verify_cut(b)

    # -- untimed checks ---------------------------------------------------
    def _survivors(self):
        rows = sorted(self.model.live.items())
        rdd = self.spark.sparkContext.parallelize(rows, harness.cores())
        return self.spark.createDataFrame(rdd, "doc_id long, text string")

    def verify_cut(self, b: int) -> None:
        """At a release cut, batch ``b``'s serves must equal the batch
        operators over the survivors: its first BM25 serve equals
        ``bm25_rank``, and its novelty serve equals the LSH rule (novel
        iff no band hash of the probe document occurs among the
        survivors' ``minhash_bands``). A serve that does not is a failed
        op. Keeps the survivors' bands for the durability check."""
        from tantalus_spark.datapipe.dedup import minhash_bands
        from tantalus_spark.datapipe.textstats import bm25_rank

        survivors = self._survivors()
        self.bands = {r["doc_id"]: list(r["bands"])
                      for r in minhash_bands(survivors).collect()}
        buckets = {(i, h) for bands in self.bands.values()
                   for i, h in enumerate(bands)}
        probe = self.spark.read.parquet(
            os.path.join(self.data, f"probe-{b}.parquet"))
        probe_bands = {r["doc_id"]: r["bands"]
                       for r in minhash_bands(probe).collect()}
        serves = [r for r in self.records if r.get("batch") == b]
        first = next(r for r in serves if r["kind"] == "serve:bm25")
        ranked = bm25_rank(survivors, first["terms"], k=self.K)
        want = [(r["doc_id"], r["score_nano"]) for r in ranked.collect()]
        ranked.unpersist()          # bm25_rank hands back a cached frame
        first["ok"] = first["ok"] and want == first["rows"]
        for rec in serves:
            if rec["kind"] == "serve:novelty":
                novel = sorted(
                    (d, not any((i, h) in buckets
                                for i, h in enumerate(probe_bands.get(d, []))))
                    for d, _n in rec["rows"])
                rec["ok"] = rec["ok"] and novel == sorted(rec["rows"])

    def verify_durable(self) -> bool:
        """Reopen both stores from disk only; each must equal a rebuild
        over the survivors: the postings and corpus stats the Python
        model derives, and the band rows of the last cut's
        ``minhash_bands``."""
        from tantalus_spark.streaming.maintenance import (
            load_band_index, load_term_index)

        postings, stats = load_term_index(self.spark, self.terms_dir)
        got = {(r["doc_id"], r["term"], r["tf"], r["dl"]) for r in
               postings.select("doc_id", "term", "tf", "dl").collect()}
        bands = {r["doc_id"]: list(r["bands"]) for r in load_band_index(
            self.spark, self.bands_dir, layout="bands").collect()}
        return (stats == self.model.stats() and got == self.model.postings()
                and bands == self.bands)

    def on_disk_bytes(self) -> int:
        return sum(_files(os.path.join(self.terms_dir, "..")).values())


def layer_metrics(records: list[dict], tracer: harness.Tracer,
                  event_dir: str, spark_state: dict) -> dict[str, float]:
    jobs, stages = harness.read_event_log(event_dir)
    windows = [(r["op"], r["t0"], r["t1"]) for r in records]
    jobs_by_op = harness.attribute(jobs, windows)
    stages_by_op = harness.attribute(stages, windows)
    commits = [r for r in records if r["cls"] == "write"]
    serves = [r for r in records if r["cls"] == "read"]
    load = tracer.per_op("maintenance.load")
    serve = tracer.per_op("datapipe.serve")
    commit_stages = [harness.stage_totals(stages_by_op[r["op"]])
                     for r in commits]
    med = harness.median
    ms, mb = 1000.0, 1.0 / (1024 * 1024)
    return {
        "maintenance.term_commit_ms": med(
            [r["lat"] * ms for r in commits if r["kind"] == "commit:term"]),
        "maintenance.band_commit_ms": med(
            [r["lat"] * ms for r in commits if r["kind"] == "commit:band"]),
        "maintenance.fold_commit_ms": med(
            [r["lat"] * ms for r in commits if r["folded"]]),
        "maintenance.folds": float(sum(1 for r in commits if r["folded"])),
        "maintenance.write_amp": spark_state["write_amp"],
        "maintenance.bytes_per_user_byte": spark_state["bytes_per_user_byte"],
        "maintenance.segments_end": spark_state["segments_end"],
        "maintenance.load_ms": med([load.get(r["op"], 0) * ms
                                    for r in serves]),
        "maintenance.export_ms": med(
            [r["lat"] * ms for r in records if r["cls"] == "export"]),
        "datapipe.serve_ms": med([serve.get(r["op"], 0) * ms
                                  for r in serves]),
        "datapipe.novelty_ms": med([r["lat"] * ms for r in records
                                    if r["kind"] == "serve:novelty"]),
        "spark.jobs_per_commit": med([len(jobs_by_op[r["op"]])
                                      for r in commits]),
        "spark.shuffle_write_mb_per_commit": med(
            [s["shuffle_write_b"] * mb for s in commit_stages]),
        "spark.persisted_rdds_end": spark_state["persisted_rdds"],
        **harness.executor_metrics(stages_by_op),
    }


def run(seed: int, seconds: int, trace: bool) -> dict:
    n_phase = max(1, seconds // BATCH_SECONDS)
    n_batches = WARMUP_BATCHES + n_phase * (3 if trace else 1)
    work = harness.WorkDir("store_lifecycle")
    load_start = harness.load1()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(work, "perfbench-store_lifecycle", trace)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        batches = generate(seed, n_batches)
        data_dir = work.sub("cdc")
        write_batches(batches, data_dir)
        gen_s = time.perf_counter() - t0
        stores = Stores(spark, work, data_dir, batches,
                        harness.Tracer(False))

        def phase(serves: list[int], verify: bool = True) -> list[dict]:
            """One batch per entry of ``serves`` (its BM25 serve count),
            then a release cut (and its checks)."""
            stores.records = []
            for n in serves:
                stores.run_batch(n)
            stores.release(verify)
            return stores.records

        t0 = time.perf_counter()
        # one serve of each kind after the delta and after the fold (the
        # initial load's store has the post-fold shape); the cut checks
        # first run at the end of the timed phase
        warm = phase([0] + [1] * (WARMUP_BATCHES - 1), verify=False)
        setup_s = session_s + gen_s + time.perf_counter() - t0

        calib_start = harness.calibrate_ms(spark)
        records = phase([SERVES] * n_phase)
        heap = harness.heap_live_mb(spark)
        traced: list[dict] = []
        if trace:
            stores.tracer = harness.Tracer(True)
            written0 = stores.written_bytes
            user0 = stores.model.user_bytes_added
            traced = phase([SERVES] * n_phase)
            stores.tracer.enabled = False
            after = phase([SERVES] * n_phase)
            state = {
                "write_amp": (stores.written_bytes - written0)
                / max(stores.model.user_bytes_added - user0, 1),
                "bytes_per_user_byte": stores.on_disk_bytes()
                / max(stores.model.live_bytes(), 1),
                "segments_end": float(len(_segments(stores.terms_dir))
                                      + len(_segments(stores.bands_dir))),
                "persisted_rdds": float(len(
                    spark.sparkContext._jsc.getPersistentRDDs())),
            }
        calib_end = harness.calibrate_ms(spark)
        durable = stores.verify_durable()
        rss = harness.peak_rss_mb(spark)
        harness.stop_spark(spark)
        spark = None
        layers = {"process.peak_rss_mb": rss}
        if trace:
            layers.update(layer_metrics(traced, stores.tracer,
                                        work.sub("eventlog"), state))
            layers["trace.overhead_pct"] = harness.overhead_pct(
                traced, records, after)
            traced += after
        return {
            "warmup_ok": all(r["ok"] for r in warm) and durable,
            "records": records + traced, "timed": records,
            "setup_s": setup_s, "heap_live_mb": heap,
            "host": {"host.calib_start_ms": calib_start,
                     "host.calib_end_ms": calib_end,
                     "host.load1_start": load_start,
                     "host.cores": float(harness.cores())},
            "layers": layers,
        }
    finally:
        harness.stop_spark(spark)
        work.close()
