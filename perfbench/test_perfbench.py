"""The benchmark's own checks: a planted wrong answer must count as a
failed op, and the models must agree with hand-computed answers.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark session is started; these exercise the verification code the
workloads run on every response.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import catalog_api, run, store_lifecycle  # noqa: E402
from perfbench.catalog_gen import CatalogModel, generate  # noqa: E402
from perfbench import harness  # noqa: E402
from perfbench.harness import Tracer  # noqa: E402
from perfbench.store_gen import LiveModel  # noqa: E402
from perfbench.store_gen import generate as generate_cdc  # noqa: E402


@pytest.fixture(scope="module")
def model() -> CatalogModel:
    return CatalogModel(generate(3))


def test_generation_is_seeded():
    assert generate(5)["sequence_dataset"][:50] == \
        generate(5)["sequence_dataset"][:50]
    assert generate(5)["file_instance"] != generate(6)["file_instance"]
    cdc = generate_cdc(5, 3)
    assert cdc[2]["rows"] == generate_cdc(5, 3)[2]["rows"]


def test_catalog_edge_cases_present(model):
    tables = generate(3)
    held = {}
    for _i, _o, _st, fr, _d in tables["file_instance"]:
        held[fr] = held.get(fr, 0) + 1
    n_files = len(tables["file_resource"])
    assert n_files > len(held)                      # files in no storage
    assert any(n >= 2 for n in held.values())       # files in 2+ storages
    ext = [s[2] for s in tables["sample"] if s[2] is not None]
    assert len(ext) > len(set(ext))                 # shared external ids
    assert {s[8] for s in tables["sample"]} == {True, False, None}
    assert model.matches("sample", {"sequencedataset__id__isnull": "true"})


def test_list_check_rejects_planted_answers(model):
    params = {"dataset_type": "BAM"}
    count, ids = model.page("sequence_dataset", params, 2, 10)
    good = {"count": count, "results": [{"id": i} for i in ids]}
    assert catalog_api.check_list(200, good, count, ids)
    wrong_count = dict(good, count=count + 1)
    assert not catalog_api.check_list(200, wrong_count, count, ids)
    wrong_page = dict(good, results=[{"id": i + 1} for i in ids])
    assert not catalog_api.check_list(200, wrong_page, count, ids)
    assert not catalog_api.check_list(500, good, count, ids)


def test_model_follows_acknowledged_writes(model):
    before = model.matches("sequence_dataset", {"dataset_type": "FQ"})
    new_id = max(model.datasets) + 1
    model.post(new_id, {"name": "BENCH1", "dataset_type": "FQ",
                        "sample_id_fk": 1, "library_id_fk": 1,
                        "is_production": True})
    assert model.matches("sequence_dataset",
                         {"dataset_type": "FQ"}) == sorted(before + [new_id])
    model.put(new_id, {"dataset_type": "BAM"})
    assert model.matches("sequence_dataset", {"dataset_type": "FQ"}) == before
    model.delete(new_id)
    assert new_id not in model.datasets


def test_csv_and_write_checks_reject_planted_answers(model):
    ids = sorted(model.datasets)[:3]
    lines = ["id,tags,num_read_groups"]
    for d in ids:
        tags, n = model.csv_row(d)
        lines.append(f"{d},{tags},{n}")
    good = "\n".join(lines) + "\n"
    assert catalog_api.check_csv(200, good, ids, model)
    planted = good.replace(f"{ids[0]},", f"{ids[0]},wrongtag", 1)
    assert not catalog_api.check_csv(200, planted, ids, model)
    assert catalog_api.check_write(201, {"ids": [7]}, 201, [7])
    assert not catalog_api.check_write(201, {"ids": [8]}, 201, [7])
    assert not catalog_api.check_write(200, {"deleted": 0}, 200, None)


class _PlantedClient:
    """Answers every op; the third one wrong."""

    def __init__(self) -> None:
        self.n = 0

    def run(self, kind):
        self.n += 1
        return "read", 0.01, self.n != 3


def test_planted_wrong_answer_counts_as_failure():
    records = catalog_api.run_phase(_PlantedClient(), ["read:x"] * 5,
                                    Tracer(False))
    result = {"timed": records, "setup_s": 1.0, "heap_live_mb": 1.0}
    for r in records:
        if r["op"] == 1:
            r["cls"] = "write"
    e2e = run.end_to_end(result)
    assert e2e["success_rate"][0] == pytest.approx(0.8)
    assert [r["ok"] for r in records] == [True, True, False, True, True]


def test_catalog_pass_stays_below_the_checkpoint():
    from tantalus_spark.api import ApiServer

    ops = catalog_api.schedule(1, extras=True)
    reads = [o for o in ops if o.startswith("read:")]
    writes = [o for o in ops if o.startswith("write:")]
    assert len(reads) == len(catalog_api.READS) and len(writes) == 4
    assert ops.count("expand") == ops.count("csv") == 1
    # warm-up and timed writes go to separate servers
    assert len(writes) < ApiServer.CHECKPOINT_EVERY


def test_store_checks_reject_planted_answers():
    live = LiveModel()
    live.apply({"rows": [(1, "spark join scan", "add"),
                         (2, "join join", "add"), (3, "scan", "add")]})
    nano = live.bm25_nano(["join"])
    assert set(nano) == {1, 2} and nano[2] > nano[1] > 0
    good = [(2, nano[2]), (1, nano[1])]
    assert store_lifecycle.check_bm25(good, 10, live, ["join"])
    assert store_lifecycle.check_bm25(good[:1], 1, live, ["join"])
    assert not store_lifecycle.check_bm25(good[::-1], 10, live,
                                          ["join"])          # wrong order
    assert not store_lifecycle.check_bm25([(2, nano[2] + 5), good[1]], 10,
                                          live, ["join"])    # wrong score
    assert not store_lifecycle.check_bm25(good[1:], 1, live,
                                          ["join"])          # not the top
    live.apply({"rows": [(2, None, "delete")]})
    assert not store_lifecycle.check_bm25(good, 10, live,
                                          ["join"])          # deleted id
    assert store_lifecycle.check_novelty([(7, False), (8, True)], [7, 8],
                                         {7})
    assert not store_lifecycle.check_novelty([(7, True), (8, True)], [7, 8],
                                             {7})            # copy novel
    assert not store_lifecycle.check_novelty([(7, False)], [7, 8], {7})


def test_commit_check_reads_the_pointer(tmp_path):
    v = tmp_path / "v00000004"
    v.mkdir()
    (v / "manifest.json").write_text(json.dumps({"n_docs": 12,
                                                 "segments": []}))
    (tmp_path / "CURRENT").write_text("v00000004")
    assert store_lifecycle.check_commit(str(tmp_path), 4, 12)
    assert not store_lifecycle.check_commit(str(tmp_path), 4, 11)
    assert not store_lifecycle.check_commit(str(tmp_path), 5, 12)


def test_nested_spans_count_once():
    tracer = Tracer(True)
    tracer.spans = [("a", 0, 1.0, 4.0), ("a", 0, 2.0, 3.0),
                    ("a", 0, 3.5, 5.0), ("a", 1, 0.0, 1.0), ("b", 0, 0, 9)]
    assert tracer.per_op("a") == {0: 4.0, 1: 1.0}


def test_teardown_waits_for_and_kills_leftover_processes():
    quick = subprocess.Popen(["sleep", "0.2"])
    stuck = subprocess.Popen(["sleep", "60"])
    harness._wait_gone({quick.pid, stuck.pid}, timeout=1.0)
    assert quick.wait(timeout=5) == 0
    assert stuck.wait(timeout=5) == -9
    assert not harness._alive(stuck.pid)
