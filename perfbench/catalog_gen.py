"""Seeded synthetic tantalus catalog for the ``catalog_api`` workload,
and the independent in-memory model its reads are checked against.

Row counts are about four times FIXTURES.md's (8k sequence datasets, 80k
file resources, 120k file instances). The generator keeps FIXTURES.md's
edge cases: three-valued booleans, file resources held in no storage and
in two or more, external ids shared by several samples, samples without
datasets, datasets without files, and reference ids that repeat.

The model answers every filter the workload sends by direct Python
evaluation over the generated rows; it never calls the engine. Writes
the server acknowledges are applied to the model as well.
"""

from __future__ import annotations

import datetime as dt
import os
import random

N_PATIENT = 800
N_SAMPLE = 2000
N_LIBRARY = 1200
N_LANE = 6000
N_FLOWCELL = 1500
N_FILE = 80_000
N_DATASET = 8000
N_TAG = 200

LIBRARY_TYPES = ["WGS", "SC_WGS", "RNASEQ", "DLP", "EXOME", "AMPLICON"]
STORAGES = [
    (1, "gsc", "server"), (2, "shahlab", "server"), (3, "rocks", "server"),
    (4, "singlecellblob", "blob"), (5, "rnaseqblob", "blob"),
    (6, "s3archive", "s3"), (7, "s3scratch", "s3"), (8, "coldstore", "s3"),
]
DATASET_TYPES = ["BAM", "FQ", "BCL"]
SUFFIXES = [".bam", ".bam.bai", ".fastq.gz", ".spec"]
_EPOCH = dt.datetime(2017, 1, 1, tzinfo=dt.timezone.utc)
_SPAN_S = 4 * 365 * 86400

TABLES = [
    "patient", "sample", "library_type",
    "dna_library", "sequencing_lane", "storage", "file_resource",
    "file_instance", "sequence_dataset", "tag", "sequencedataset_tags",
    "sequencedataset_file_resources", "sequencedataset_sequence_lanes",
]


def _ts(rng: random.Random) -> dt.datetime:
    return _EPOCH + dt.timedelta(seconds=rng.randrange(_SPAN_S))


def generate(seed: int) -> dict[str, list[tuple]]:
    """Every table as a list of row tuples in FIXTURES.md column order."""
    rng = random.Random(seed)
    t: dict[str, list[tuple]] = {}

    patients = []
    for i in range(1, N_PATIENT + 1):
        r = rng.random()
        pid = f"SA{i:04d}" if r < 0.92 else (f"XX{i:03d}" if r < 0.96
                                             else None)
        ref = f"R{rng.randrange(N_PATIENT)}" if rng.random() < 0.8 else None
        patients.append((i, pid, ref, None, f"C{i}" if i % 3 else None))
    t["patient"] = patients

    samples = []
    for i in range(1, N_SAMPLE + 1):
        p = patients[rng.randrange(N_PATIENT)]
        ext = f"E{rng.randrange(1500)}" if rng.random() < 0.9 else None
        samples.append((
            i, f"{p[1] or 'NOPAT'}_{i:05d}", ext,
            rng.choice(["sub1", "sub2", None]), rng.choice(["res1", None]),
            rng.choice(["breast", "ovary", "brain", None]), None, p[0],
            rng.choice([True, False, None])))
    t["sample"] = samples
    t["library_type"] = [(i, n, None)
                         for i, n in enumerate(LIBRARY_TYPES, 1)]
    t["dna_library"] = [
        (i, None, f"{'A' if i % 5 else 'B'}{i:05d}",
         rng.randrange(1, len(LIBRARY_TYPES) + 1)
         if rng.random() < 0.95 else None,
         rng.choice(["S", "D", "TENX", "N"]))
        for i in range(1, N_LIBRARY + 1)]

    lanes, seen = [], set()
    while len(lanes) < N_LANE:
        key = (f"FC{rng.randrange(N_FLOWCELL):05d}",
               rng.choice(["", "1", "2", "3", "4", "5", "6", "7", "8"]),
               rng.randrange(1, N_LIBRARY + 1))
        if key in seen:
            continue
        seen.add(key)
        lanes.append((len(lanes) + 1, None, key[0], key[1], key[2],
                      rng.choice(["GSC", "BRC", "IGO"]), None, None,
                      rng.choice(["P", "S", "TENX"])))
    t["sequencing_lane"] = lanes

    t["storage"] = [
        (i, name, kind,
         "10.0.0.%d" % i if kind == "server" else None,
         f"/{name}/archive" if kind == "server" else None,
         "svc" if kind == "server" else None,
         "acct" if kind == "blob" else None,
         name if kind == "blob" else None,
         name if kind == "s3" else None, None)
        for i, name, kind in STORAGES]

    files = []
    for i in range(1, N_FILE + 1):
        size = 0 if rng.random() < 0.02 else int(rng.paretovariate(1.2)
                                                  * 1e6)
        lead = "/" if rng.random() < 0.3 else ""
        files.append((i, _ts(rng), None, "%032x" % rng.getrandbits(128),
                      size, _ts(rng),
                      f"{lead}data/run{i % 997}/f{i:06d}"
                      f"{SUFFIXES[rng.randrange(4)]}",
                      rng.random() < 0.01))
    t["file_resource"] = files

    instances = []
    for fr in range(1, N_FILE + 1):
        k = rng.choices([0, 1, 2, 3], weights=[8, 45, 35, 12])[0]
        for st in rng.sample(range(1, len(STORAGES) + 1), k):
            instances.append((len(instances) + 1, None, st, fr,
                              rng.random() < 0.05))
    t["file_instance"] = instances

    datasets = []
    for i in range(1, N_DATASET + 1):
        # the last tenth of samples never gets a dataset
        sample = rng.randrange(1, int(N_SAMPLE * 0.9) + 1)
        name = f"DS{i:05d}" if i % 10 else f"DS{i - 1:05d}"
        datasets.append((
            i, _ts(rng) if rng.random() < 0.95 else None, None, name,
            rng.choice(DATASET_TYPES), sample,
            rng.randrange(1, N_LIBRARY + 1), 1 if i % 10 else 2,
            None, rng.choice([1, 2, None]), None, None,
            rng.random() < 0.6, None))
    t["sequence_dataset"] = datasets
    t["tag"] = [(i, f"tag{i:03d}", None) for i in range(1, N_TAG + 1)]
    t["sequencedataset_tags"] = [
        (d, g) for d in range(1, N_DATASET + 1)
        for g in rng.sample(range(1, N_TAG // 2 + 1),
                            rng.choice([0, 1, 1, 2, 3]))]
    dsfr = []
    for fr in range(1, N_FILE + 1):
        if rng.random() < 0.05:
            continue                            # a file in no dataset
        owners = {rng.randrange(1, N_DATASET * 9 // 10 + 1)}
        if rng.random() < 0.05:
            owners.add(rng.randrange(1, N_DATASET + 1))
        dsfr.extend((d, fr) for d in sorted(owners))
    t["sequencedataset_file_resources"] = dsfr

    lib_lanes: dict[int, list[int]] = {}
    for ln in lanes:
        lib_lanes.setdefault(ln[4], []).append(ln[0])
    dsl = []
    for d in datasets:
        mine = lib_lanes.get(d[6], [])
        if mine:
            # some datasets carry all of their library's lanes, the rest a
            # strict subset (both is_complete branches)
            k = len(mine) if rng.random() < 0.4 else rng.randrange(
                max(len(mine), 1))
            dsl.extend((d[0], ln) for ln in rng.sample(mine, k))
    t["sequencedataset_sequence_lanes"] = dsl
    return t


def write_parquet(tables: dict[str, list[tuple]], out_dir: str) -> None:
    """One ``<table>.parquet`` per table, typed from the engine's schemas
    (timestamps as UTC instants)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from tantalus_spark.catalog.tantalus_model import SCHEMAS

    arrow = {"bigint": pa.int64(), "int": pa.int32(), "string": pa.string(),
             "boolean": pa.bool_(), "timestamp": pa.timestamp("us", "UTC")}
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in tables.items():
        fields = SCHEMAS[name].fields
        schema = pa.schema([pa.field(f.name,
                                     arrow[f.dataType.simpleString()],
                                     f.nullable) for f in fields])
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        table = pa.table({f.name: pa.array(c, type=schema.field(f.name).type)
                          for f, c in zip(fields, cols)}, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


class CatalogModel:
    """Expected answers for the workload's filters, from the generated
    rows alone. Only ``sequence_dataset`` is written by the workload, so
    it is the one mutable table; every relation that passes through it
    is resolved against the live dataset rows at query time."""

    def __init__(self, tables: dict[str, list[tuple]]) -> None:
        self.sample_code = {r[0]: r[1] for r in tables["sample"]}
        self.library_code = {r[0]: r[2] for r in tables["dna_library"]}
        type_name = {r[0]: r[1] for r in tables["library_type"]}
        self.library_type = {r[0]: type_name.get(r[3])
                             for r in tables["dna_library"]}
        self.library_ids = sorted(self.library_type)
        self.storage_name = {r[0]: r[1] for r in tables["storage"]}
        self.tag_name = {r[0]: r[1] for r in tables["tag"]}
        # dataset id -> {name, dataset_type, sample, library, ...}
        self.datasets = {
            r[0]: {"name": r[3], "dataset_type": r[4], "sample": r[5],
                   "library": r[6], "last_updated": r[1],
                   "is_production": r[12]}
            for r in tables["sequence_dataset"]}
        self.ds_tags: dict[int, set[str]] = {}
        for d, g in tables["sequencedataset_tags"]:
            self.ds_tags.setdefault(d, set()).add(self.tag_name[g])
        self.ds_lanes: dict[int, set[int]] = {}
        for d, ln in tables["sequencedataset_sequence_lanes"]:
            self.ds_lanes.setdefault(d, set()).add(ln)
        self.fr_storages: dict[int, set[str]] = {}
        self.instances = {}
        for i, _o, st, fr, deleted in tables["file_instance"]:
            self.instances[i] = (self.storage_name[st], fr, deleted)
            self.fr_storages.setdefault(fr, set()).add(self.storage_name[st])
        self.file_names = {r[0]: r[6] for r in tables["file_resource"]}
        self.ds_files: dict[int, set[int]] = {}
        self.fr_datasets: dict[int, set[int]] = {}
        for d, fr in tables["sequencedataset_file_resources"]:
            self.ds_files.setdefault(d, set()).add(fr)
            self.fr_datasets.setdefault(fr, set()).add(d)
        self.samples = sorted(self.sample_code)

    # -- writes ---------------------------------------------------------
    def post(self, ds_id: int, row: dict) -> None:
        self.datasets[ds_id] = {
            "name": row["name"], "dataset_type": row["dataset_type"],
            "sample": row["sample_id_fk"], "library": row["library_id_fk"],
            "last_updated": None, "is_production": row["is_production"]}

    def put(self, ds_id: int, fields: dict) -> None:
        self.datasets[ds_id].update(fields)

    def delete(self, ds_id: int) -> None:
        del self.datasets[ds_id]

    # -- reads ----------------------------------------------------------
    def _dataset_pred(self, key: str, value):
        ds = self.datasets
        if key == "dataset_type":
            return lambda d: ds[d]["dataset_type"] == value
        if key == "is_production":
            return lambda d: ds[d]["is_production"] is (value == "true")
        if key == "id__in":
            ids = {int(x) for x in value.split(",")}
            return lambda d: d in ids
        if key == "last_updated__gte":
            bound = dt.datetime.fromisoformat(value).replace(
                tzinfo=dt.timezone.utc)
            return lambda d: (ds[d]["last_updated"] is not None
                              and ds[d]["last_updated"] >= bound)
        if key == "sample__sample_id__contains":
            return lambda d: value in self.sample_code[ds[d]["sample"]]
        if key == "tags__name":
            return lambda d: value in self.ds_tags.get(d, ())
        if key == "library__library_type__name":
            return lambda d: self.library_type[ds[d]["library"]] == value
        if key == "file_resources__fileinstance__storage__name":
            return lambda d: any(value in self.fr_storages.get(fr, ())
                                 for fr in self.ds_files.get(d, ()))
        raise KeyError(key)

    def matches(self, endpoint: str, params: dict[str, str]) -> list[int]:
        """Sorted primary keys of the rows the filters select."""
        if endpoint == "sequence_dataset":
            preds = [self._dataset_pred(k, v) for k, v in params.items()]
            return sorted(d for d in self.datasets
                          if all(p(d) for p in preds))
        if endpoint == "file_resource":
            out = set(self.file_names)
            for k, v in params.items():
                if k == "fileinstance__storage__name":
                    out = {f for f in out if v in self.fr_storages.get(f, ())}
                elif k == "sequencedataset__name":
                    out = {f for f in out
                           if any(d in self.datasets
                                  and self.datasets[d]["name"] == v
                                  for d in self.fr_datasets.get(f, ()))}
                elif k == "filename__endswith":
                    out = {f for f in out if self.file_names[f].endswith(v)}
                else:
                    raise KeyError(k)
            return sorted(out)
        if endpoint == "file_instance":
            out = set(self.instances)
            for k, v in params.items():
                if k == "storage__name":
                    out = {i for i in out if self.instances[i][0] == v}
                elif k == "is_deleted":
                    out = {i for i in out
                           if self.instances[i][2] is (v == "true")}
                elif k == "file_resource__in":
                    frs = {int(x) for x in v.split(",")}
                    out = {i for i in out if self.instances[i][1] in frs}
                else:
                    raise KeyError(k)
            return sorted(out)
        if endpoint == "sample":
            out = set(self.samples)
            for k, v in params.items():
                if k == "sequencedataset__id__isnull":
                    having = {r["sample"] for r in self.datasets.values()}
                    want_null = v == "true"
                    out = {s for s in out if (s not in having) == want_null}
                else:
                    raise KeyError(k)
            return sorted(out)
        if endpoint == "dna_library":
            out = set(self.library_ids)
            for k, v in params.items():
                if k == "library_type__name":
                    out = {x for x in out if self.library_type[x] == v}
                elif k == "library_id__startswith":
                    out = {x for x in out
                           if self.library_code[x].startswith(v)}
                else:
                    raise KeyError(k)
            return sorted(out)
        raise KeyError(endpoint)

    def page(self, endpoint: str, params: dict[str, str], page: int,
             page_size: int) -> tuple[int, list[int]]:
        ids = self.matches(endpoint, params)
        lo = (page - 1) * page_size
        return len(ids), ids[lo:lo + page_size]

    def csv_row(self, ds_id: int) -> tuple[str, int]:
        """(';'-joined sorted tag names, number of read groups)."""
        return (";".join(sorted(self.ds_tags.get(ds_id, ()))),
                len(self.ds_lanes.get(ds_id, ())))
