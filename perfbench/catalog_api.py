"""``catalog_api`` workload: one long-lived ``ApiServer`` over loopback,
driven by one closed-loop client (one request in flight, no think time)
through a fixed mix of filtered list reads, writes, ``?expand=`` reads
and CSV exports. Every response is checked against ``CatalogModel``.

The server runs with the engine's own settings, including its default
``CHECKPOINT_EVERY`` of 16. A warm-up server takes every operation shape
once; the timed phase then runs on a fresh ``ApiServer`` over the same
files, so every run's writes start from the loaded snapshot. One pass is
16 operations: each of the 12 read templates once, in a fixed order, and
a write on sequence_dataset (POST, PUT, POST, DELETE) after every third
read, so reads meet 0 to 3 writes not yet checkpointed. Traced runs add
one ``?expand=`` and one ``/csv/`` request to the pass. The seed chooses
the catalog, filter values, pages and write targets; the shape of the
sequence is the same for every seed.
"""

from __future__ import annotations

import csv
import datetime as dt
import http.client
import io
import json
import random
import sys
import time
from urllib.parse import urlencode

from perfbench import harness
from perfbench.catalog_gen import (
    DATASET_TYPES, LIBRARY_TYPES, N_DATASET, N_PATIENT, N_TAG,
    STORAGES, TABLES, CatalogModel, generate, write_parquet)

_STORAGE_NAMES = [s[1] for s in STORAGES]


def _date(rng: random.Random) -> str:
    day = dt.date(2017, 1, 1) + dt.timedelta(days=rng.randrange(4 * 365))
    return day.isoformat()


#: (template, endpoint, params from the rng) — 0 to 3 relation hops
READS = [
    ("ds_prod_type", "sequence_dataset",
     lambda r: {"is_production": r.choice(["true", "false"]),
                   "dataset_type": r.choice(DATASET_TYPES)}),
    ("ds_id_in", "sequence_dataset",
     lambda r: {"id__in": ",".join(str(r.randrange(1, N_DATASET + 1))
                                      for _ in range(40))}),
    ("ds_updated_gte", "sequence_dataset",
     lambda r: {"last_updated__gte": _date(r)}),
    ("ds_sample_contains", "sequence_dataset",
     lambda r: {"sample__sample_id__contains":
                   f"SA{r.randrange(1, N_PATIENT + 1):04d}"}),
    ("ds_tag", "sequence_dataset",
     lambda r: {"tags__name": f"tag{r.randrange(1, N_TAG // 2 + 1):03d}"}),
    ("ds_library_type", "sequence_dataset",
     lambda r: {"library__library_type__name": r.choice(LIBRARY_TYPES)}),
    ("ds_storage", "sequence_dataset",
     lambda r: {"file_resources__fileinstance__storage__name":
                   r.choice(_STORAGE_NAMES)}),
    ("fr_storage", "file_resource",
     lambda r: {"fileinstance__storage__name": r.choice(_STORAGE_NAMES)}),
    ("fr_dataset_name", "file_resource",
     lambda r: {"sequencedataset__name":
                   f"DS{r.randrange(1, N_DATASET + 1):05d}"}),
    ("fi_storage", "file_instance",
     lambda r: {"storage__name": r.choice(_STORAGE_NAMES),
                   "is_deleted": "false"}),
    ("sample_no_dataset", "sample",
     lambda r: {"sequencedataset__id__isnull": "true"}),
    ("library_type", "dna_library",
     lambda r: {"library_type__name": r.choice(LIBRARY_TYPES),
                   "library_id__startswith": r.choice(["A0", "B0"])}),
]
#: the writes of one pass, in order, one after every third read
WRITES = ["post", "put", "post", "delete"]
READS_PER_WRITE = 3
#: one pass of the schedule per 20 --seconds
PASS_SECONDS = 20


def schedule(n_passes: int, extras: bool) -> list[str]:
    """The op kinds in order: ``read:<template>`` through READS, a
    ``write:<kind>`` after every third read, and with ``extras`` one
    ``expand`` and one ``csv`` in the middle of each pass. The order is
    the same for every seed, so every template meets the same number of
    pending writes in every run."""
    ops = []
    for _ in range(n_passes):
        for i, template in enumerate(READS):
            ops.append(f"read:{template[0]}")
            if i % READS_PER_WRITE == READS_PER_WRITE - 1:
                ops.append("write:" + WRITES[i // READS_PER_WRITE])
            if extras and i == len(READS) // 2 - 1:
                ops += ["expand", "csv"]
    return ops


def warmup_schedule(extras: bool) -> list[str]:
    """Every operation shape the timed phase will run, once."""
    return ([f"read:{t[0]}" for t in READS]
            + [f"write:{w}" for w in ("post", "put", "delete")]
            + (["expand", "csv"] if extras else []))


# --------------------------------------------------------------------------
# verification (pure functions: the planted-failure tests call these)
# --------------------------------------------------------------------------

def check_list(status: int, body: dict, want_count: int,
               want_ids: list[int]) -> bool:
    return (status == 200 and body.get("count") == want_count
            and [r.get("id") for r in body.get("results", [])] == want_ids)


def check_expand(status: int, body: dict, want_count: int,
                 want_ids: list[int], model: CatalogModel) -> bool:
    if not check_list(status, body, want_count, want_ids):
        return False
    for row in body["results"]:
        ds = model.datasets[row["id"]]
        if (row.get("sample") or {}).get("sample_id") != \
                model.sample_code[ds["sample"]]:
            return False
        if (row.get("library") or {}).get("library_id") != \
                model.library_code[ds["library"]]:
            return False
    return True


def check_csv(status: int, text: str, requested: list[int],
              model: CatalogModel) -> bool:
    if status != 200:
        return False
    rows = list(csv.DictReader(io.StringIO(text)))
    live = sorted({d for d in requested if d in model.datasets})
    if [int(r["id"]) for r in rows] != live:
        return False
    for r in rows:
        tags, n_lanes = model.csv_row(int(r["id"]))
        if r["tags"] != tags or int(r["num_read_groups"]) != n_lanes:
            return False
    return True


def check_write(status: int, body: dict, want_status: int,
                want_ids: list[int] | None) -> bool:
    if status != want_status:
        return False
    if want_ids is None:
        return body.get("deleted") == 1
    return body.get("ids") == want_ids


# --------------------------------------------------------------------------
# the client
# --------------------------------------------------------------------------

class Client:
    """Closed-loop client: builds each request from the model, sends it,
    times the round trip, then checks the answer (untimed)."""

    def __init__(self, port: int, model: CatalogModel,
                 seed: int | str) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port,
                                               timeout=170)
        self.model = model
        self.rng = random.Random(seed)
        self.n_posted = 0
        self.n_reads = 0
        self.templates = {t[0]: t for t in READS}

    def _send(self, method: str, path: str, body: dict | None = None):
        payload = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if payload else {}
        t0 = time.perf_counter()
        self.conn.request(method, path, body=payload, headers=headers)
        resp = self.conn.getresponse()
        raw = resp.read()
        return resp.status, raw, time.perf_counter() - t0

    def run(self, kind: str) -> tuple[str, float, bool]:
        """(class, latency seconds, verified) for one operation."""
        rng, model = self.rng, self.model
        if kind.startswith("read:"):
            _, endpoint, make = self.templates[kind[5:]]
            params = make(rng)
            # pages 1-5 and sizes 10/50/100 in a fixed cycle, the same
            # for every seed
            self.n_reads += 1
            page, size = 1 + self.n_reads % 5, (10, 50, 100)[self.n_reads % 3]
            q = urlencode({**params, "page": page, "page_size": size})
            status, raw, lat = self._send("GET", f"/api/{endpoint}/?{q}")
            count, ids = model.page(endpoint, params, page, size)
            return "read", lat, check_list(status, json.loads(raw), count,
                                           ids)
        if kind == "expand":
            params = {"dataset_type": rng.choice(DATASET_TYPES)}
            page = rng.randint(1, 5)
            q = urlencode({**params, "page": page, "page_size": 10,
                           "expand": "sample,library"})
            status, raw, lat = self._send("GET",
                                          f"/api/sequence_dataset/?{q}")
            count, ids = model.page("sequence_dataset", params, page, 10)
            return "expand", lat, check_expand(status, json.loads(raw),
                                               count, ids, model)
        if kind == "csv":
            ids = [rng.randrange(1, N_DATASET + 1) for _ in range(20)]
            q = ",".join(map(str, ids))
            status, raw, lat = self._send(
                "GET", f"/api/sequence_dataset/csv/?id__in={q}")
            return "csv", lat, check_csv(status, raw.decode(), ids, model)
        if kind == "write:post":
            self.n_posted += 1
            row = {"name": f"BENCH{self.n_posted:05d}",
                   "dataset_type": rng.choice(DATASET_TYPES),
                   "sample_id_fk": rng.choice(model.samples),
                   "library_id_fk": rng.choice(model.library_ids),
                   "version_number": 1,
                   "is_production": rng.random() < 0.5}
            status, raw, lat = self._send("POST", "/api/sequence_dataset/",
                                          row)
            new_id = max(model.datasets) + 1
            ok = check_write(status, json.loads(raw), 201, [new_id])
            if ok:
                model.post(new_id, row)
            return "write", lat, ok
        if kind == "write:put":
            target = rng.choice(sorted(model.datasets))
            fields = {"is_production": rng.random() < 0.5,
                      "dataset_type": rng.choice(DATASET_TYPES)}
            status, raw, lat = self._send(
                "PUT", "/api/sequence_dataset/", {"id": target, **fields})
            ok = check_write(status, json.loads(raw), 200, [target])
            if ok:
                model.put(target, fields)
            return "write", lat, ok
        if kind == "write:delete":
            target = rng.choice(sorted(model.datasets))
            status, raw, lat = self._send(
                "DELETE", f"/api/sequence_dataset/?id={target}")
            ok = check_write(status, json.loads(raw), 200, None)
            if ok:
                model.delete(target)
            return "write", lat, ok
        raise ValueError(f"unknown op {kind!r}")

    def close(self) -> None:
        self.conn.close()


def run_phase(client: Client, ops: list[str], tracer: harness.Tracer,
              first_op: int = 0) -> list[dict]:
    """Run ``ops`` in order; one record per op. An op that raises is a
    failed op, not a crashed run."""
    out = []
    for i, kind in enumerate(ops):
        tracer.op = first_op + i
        t0 = time.time()
        try:
            cls, lat, ok = client.run(kind)
        except (OSError, http.client.HTTPException, ValueError,
                KeyError) as exc:
            print(f"op {kind} raised {exc!r}", file=sys.stderr, flush=True)
            cls, lat, ok = kind.split(":")[0], time.time() - t0, False
        out.append({"op": first_op + i, "kind": kind, "cls": cls,
                    "lat": lat, "ok": ok, "t0": t0, "t1": time.time()})
        print(f"{kind} {lat * 1000:.0f} ms{'' if ok else ' FAILED'}",
              file=sys.stderr, flush=True)
    return out


# --------------------------------------------------------------------------
# tracing: spans around the engine's public functions
# --------------------------------------------------------------------------

class _CollectSpan:
    """Stands in for ``Page.rows`` so the handler's page collect is
    timed."""

    def __init__(self, df, tracer: harness.Tracer) -> None:
        self._df, self._tracer = df, tracer

    def collect(self):
        with self._tracer.span("api.page_collect"):
            return self._df.collect()


def install_spans(tracer: harness.Tracer, server) -> None:
    from tantalus_spark import api
    from tantalus_spark.compiler.compiler import QuerySet
    from tantalus_spark.operators import serializers, services

    real_list = api.api_list

    def api_list(*args, **kwargs):
        with tracer.span("api.api_list"):
            page = real_list(*args, **kwargs)
        page.rows = _CollectSpan(page.rows, tracer)
        return page

    api.api_list = api_list
    real_paginate = services.paginate

    def paginate(df, *args, **kwargs):
        real_count = df.count

        def count():
            with tracer.span("pagination.count"):
                return real_count()

        df.count = count
        return real_paginate(df, *args, **kwargs)

    services.paginate = paginate
    harness.wrap(services, "filtered_queryset", tracer, "compiler.build")
    harness.wrap(QuerySet, "to_df", tracer, "compiler.build",
                 after=lambda df: tracer.count(
                     "compiler.joins", (tracer.op, harness.join_count(df))))
    harness.wrap(serializers, "dataset_set_to_csv", tracer,
                 "serializers.csv")
    for method in ("apply_mutation", "apply_delete"):
        harness.wrap(server, method, tracer, "mutations.write",
                     after=lambda _out: tracer.count(
                         "mutations.plan_depth",
                         harness.plan_depth(
                             server.db.table("sequence_dataset"))))
    real_bound = server._bound_lineage

    def bound_lineage(endpoint, table):
        out = real_bound(endpoint, table)
        if server._mutations_since_checkpoint.get(endpoint) == 0:
            tracer.count("mutations.checkpoint_op", tracer.op)
        return out

    server._bound_lineage = bound_lineage


def layer_metrics(records: list[dict], tracer: harness.Tracer,
                  event_dir: str) -> dict[str, float]:
    jobs, stages = harness.read_event_log(event_dir)
    windows = [(r["op"], r["t0"], r["t1"]) for r in records]
    jobs_by_op = harness.attribute(jobs, windows)
    stages_by_op = harness.attribute(stages, windows)
    reads = [r for r in records if r["cls"] == "read"]
    writes = [r for r in records if r["cls"] == "write"]
    build = tracer.per_op("compiler.build")
    count = tracer.per_op("pagination.count")
    listing = tracer.per_op("api.api_list")
    collect = tracer.per_op("api.page_collect")
    write = tracer.per_op("mutations.write")
    csv_span = tracer.per_op("serializers.csv")
    joins = {op: n for op, n in tracer.counts.get("compiler.joins", [])}
    ckpt = set(tracer.counts.get("mutations.checkpoint_op", []))
    ms = 1000.0

    def med(xs):
        return harness.median(list(xs))

    expands = [r for r in records if r["cls"] == "expand"]
    read_stages = [harness.stage_totals(stages_by_op[r["op"]])
                   for r in reads]
    return {
        "compiler.build_ms": med(build.get(r["op"], 0) * ms for r in reads),
        "compiler.joins_per_read": med(joins.get(r["op"], 0) for r in reads),
        "pagination.count_ms": med(count.get(r["op"], 0) * ms
                                   for r in reads),
        "api.page_collect_ms": med(collect.get(r["op"], 0) * ms
                                   for r in reads),
        "api.self_ms": med((r["lat"] - listing.get(r["op"], 0)
                            - collect.get(r["op"], 0)) * ms for r in reads),
        "spark.jobs_per_read": med(len(jobs_by_op[r["op"]]) for r in reads),
        "spark.tasks_per_read": med(s["tasks"] for s in read_stages),
        "serializers.expand_ms": med(
            (r["lat"] - listing.get(r["op"], 0) - collect.get(r["op"], 0))
            * ms for r in expands),
        "serializers.csv_ms": med(v * ms for v in csv_span.values()),
        "mutations.write_ms": med(write.get(r["op"], 0) * ms
                                  for r in writes),
        "mutations.checkpoint_write_ms": med(
            write.get(r["op"], 0) * ms for r in writes if r["op"] in ckpt),
        "mutations.checkpoints": float(len(ckpt)),
        "mutations.plan_depth_max": float(max(
            tracer.counts.get("mutations.plan_depth", [0]))),
        "spark.jobs_per_write": med(len(jobs_by_op[r["op"]])
                                    for r in writes),
        **harness.executor_metrics(stages_by_op),
    }


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def _stop(server, client) -> None:
    client.close()
    server.shutdown()
    server.server_close()


def run(seed: int, seconds: int, trace: bool) -> dict:
    from tantalus_spark.api import ApiServer
    from tantalus_spark.catalog.loader import load_dir
    from tantalus_spark.catalog.tantalus_model import tantalus_catalog

    work = harness.WorkDir("catalog_api")
    load_start = harness.load1()
    spark = None
    open_servers: list = []
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(work, "perfbench-catalog_api", trace)
        tables = generate(seed)
        data_dir = work.sub("catalog")
        write_parquet(tables, data_dir)

        def start_server(client_seed: int | str):
            """A fresh ApiServer over the generated files (the engine's
            default settings), and a client checking it against a fresh
            model."""
            server = ApiServer(load_dir(spark, data_dir, tantalus_catalog(),
                                        TABLES))
            _host, port = server.serve_background()
            client = Client(port, CatalogModel(tables), client_seed)
            open_servers.append((server, client))
            return server, client

        def stop(server, client) -> None:
            open_servers.remove((server, client))
            _stop(server, client)

        tracer = harness.Tracer(False)
        server, client = start_server(f"warm-up {seed}")
        warm = run_phase(client, warmup_schedule(trace), tracer,
                         first_op=-1000)
        stop(server, client)
        server, client = start_server(seed)
        setup_s = time.perf_counter() - t0

        calib_start = harness.calibrate_ms(spark)
        ops = schedule(max(1, round(seconds / PASS_SECONDS)), trace)
        layers: dict[str, float] = {}
        traced: list[dict] = []
        if trace:
            # the traced pass first, in the state an untraced run times;
            # then the same requests untraced on a fresh server, as the
            # reference for trace.overhead_pct (the spans stay installed
            # but record nothing)
            tracer = harness.Tracer(True)
            install_spans(tracer, server)
            traced = run_phase(client, ops, tracer)
            tracer.enabled = False
            stop(server, client)
            server, client = start_server(seed)
        records = run_phase(client, ops, tracer, first_op=len(traced))
        heap = harness.heap_live_mb(spark)
        calib_end = harness.calibrate_ms(spark)
        layers["process.peak_rss_mb"] = harness.peak_rss_mb(spark)
        stop(server, client)
        harness.stop_spark(spark)
        spark = None
        if trace:
            layers.update(layer_metrics(traced, tracer,
                                        work.sub("eventlog")))
            layers["trace.overhead_pct"] = harness.overhead_pct(traced,
                                                                records)
        return {
            "warmup_ok": all(r["ok"] for r in warm),
            "records": traced + records,
            "timed": records, "setup_s": setup_s, "heap_live_mb": heap,
            "host": {"host.calib_start_ms": calib_start,
                     "host.calib_end_ms": calib_end,
                     "host.load1_start": load_start,
                     "host.cores": float(harness.cores())},
            "layers": layers,
        }
    finally:
        for server, client in open_servers:
            _stop(server, client)
        harness.stop_spark(spark)
        work.close()
